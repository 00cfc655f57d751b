package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NativeVectorFunctions.{l2sqNative => l2n}

/** Exact brute-force kNN and medoid — the oracle-verifiable twins of the
  * reference's `Search` (vamana.h:492-546) and `FindMedoid`
  * (vamana.h:656-692), expressed as declarative Catalyst plans.
  *
  * Scale posture: the query side is broadcast (queries are always the small
  * side — a batch of probes against a huge corpus), so the crossJoin is a
  * BroadcastNestedLoopJoin: one pass over the points table, no shuffle of
  * the corpus. The per-query top-k then shuffles only `numQueries × n` score
  * rows hash-partitioned by query_id — at 100 TB the score rows are 3 columns
  * wide regardless of corpus width, because we project before the join.
  */
object Knn {

  /** Top-k nearest stored points for each query row, squared-L2 ascending.
    *
    * @param points  corpus with (idCol: LONG, vecCol: array<float>)
    * @param queries probe set with (queryIdCol: LONG, queryVecCol: array<float>)
    * @return (query_id, rank, id, dist) — dist rounded to 4 dp for stable
    *         cross-engine hashing; rank ties broken by id (deterministic).
    */
  def knnExact(
      points: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val spark = points.sparkSession
    val p = points.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("qvec"))
    val scored = p
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("id"), l2n(spark, col("vec"), col("qvec")).as("dist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[knnExact]] with a bounded-heap typed Aggregator instead of a window:
    * map-side partial aggregation keeps k rows per partition per query
    * before the exchange, so the shuffle is partitions·q·k rows instead of
    * n·q — the form that survives a 100 TB corpus. Output is identical to
    * [[knnExact]] (same (dist, id) ordering contract; asserted in specs),
    * so it shares the same oracle SQL. */
  def knnExactAgg(
      points: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopKAggregator}
    val p = points.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("qvec"))
    val scored = p
      .crossJoin(broadcast(q))
      .select(col("query_id"), l2n(spark, col("vec"), col("qvec")).as("dist"), col("id"))
      .as[(Long, Double, Long)]
    scored
      .groupByKey(_._1)
      .mapValues { case (_, dist, id) => Scored(dist, id) }
      .agg(new TopKAggregator(k).toColumn.name("topk"))
      .toDF("query_id", "topk")
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r", "s")))
      .select(col("query_id"), (col("r") + 1).cast("long").as("rank"),
        col("s.id").as("id"), round(col("s.dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Medoid: argmin_i Σ_j l2sq(i, j) — the reference's exact aggregation
    * (vamana.h:656-692), computed WITHOUT the O(n²·dim) cross join via the
    * algebraic identity Σ_j ‖a−b_j‖² = n·‖a‖² − 2·a·S + T where S = Σ_j b_j
    * and T = Σ_j ‖b_j‖² (exact over the same float-widened-to-double
    * inputs; guide §1.2 step 1 — change the algorithm, not the constant).
    * Two passes: one aggregation for (n, T) and the per-dimension sum
    * vector S (dim·partitions partial rows — the centroidNearest shape),
    * then one broadcast-scored scan + global top-1. O(n·dim) at ANY corpus
    * size where the cross join was quadratic. FP note: all arithmetic is
    * double (S deliberately does NOT ride the float-cast dot kernel — a
    * float-rounded S would inject ~1e-3 absolute error against the 2-dp
    * rounding; the double form sits at ~1e-7), and the oracle still
    * computes the literal cross-join sum, so the identity is hash-checked
    * against the pairwise form on every SF. */
  def medoidExact(points: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = points.sparkSession
    import graft.functions.NativeVectorFunctions.dotNative
    val withSq = points.select(col(idCol).as("id_a"),
      col(vecCol).cast("array<double>").as("va"),
      dotNative(spark, col(vecCol), col(vecCol)).as("sq"))
    val nt = withSq.agg(count(lit(1)).cast("double").as("n"), sum(col("sq")).as("t"))
    val svec = inPosOrder(points
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(sum(col("x")).as("sx")), "sx", "svec")
    withSq.crossJoin(broadcast(nt)).crossJoin(broadcast(svec))
      .select(col("id_a"),
        (col("n") * col("sq")
          - lit(2.0) * aggregate(zip_with(col("va"), col("svec"), (x, y) => x * y),
              lit(0.0), (acc, z) => acc + z)
          + col("t")).as("total_dist"))
      .orderBy(col("total_dist").asc, col("id_a").asc)
      .limit(1)
      .select(col("id_a").as("medoid_id"), round(col("total_dist"), 2).as("total_dist"))
  }

  /** One row holding `valCol` of every (pos, value) row as an array in
    * `pos` order. The order comes from sorting the collected structs, not
    * from an `orderBy` before `collect_list`: Spark does not specify the
    * order in which a global aggregate merges its partitions. */
  private def inPosOrder(rows: DataFrame, valCol: String, as: String): DataFrame =
    rows.agg(collect_list(struct(col("pos"), col(valCol))).as("entries"))
      .select(transform(array_sort(col("entries")), e => e.getField(valCol)).as(as))

  /** Scalable medoid approximation: per-dimension mean (one pass, one small
    * shuffle of dim×numPartitions partial sums) then nearest point to that
    * centroid (one more pass). O(n·dim) vs the exact form's O(n²·dim). */
  def centroidNearest(points: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroidRow = inPosOrder(points
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(avg(col("v")).as("m")), "m", "centroid")
    points
      .crossJoin(broadcast(centroidRow))
      .select(col(idCol).as("medoid_id"), l2n(points.sparkSession, col(vecCol), col("centroid")).as("dist_to_centroid"))
      .orderBy(col("dist_to_centroid").asc, col("medoid_id").asc)
      .limit(1)
  }

  /** A2 argmin scan (vamana.h:441-449): nearest stored point to the vector
    * of `queryId`, excluding itself — one broadcast + one pass + global
    * top-1 (TakeOrderedAndProject). */
  def argminNearest(points: DataFrame, queryId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = points.sparkSession
    val q = points.where(col(idCol) === queryId).select(col(vecCol).as("qvec"))
    points.crossJoin(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(col(idCol).as("id"), l2n(spark, col(vecCol), col("qvec")).as("dist"))
      .orderBy(col("dist").asc, col("id").asc)
      .limit(1)
      .select(col("id"), round(col("dist"), 4).as("dist"))
  }

  /** Recall@k of `result` against ground `truth`, both shaped
    * (query_id, id): |result ∩ truth| / k averaged over queries —
    * the reference drivers' evaluation loop (main.go:107-121). */
  def recallAt(k: Int, result: DataFrame, truth: DataFrame): Double = {
    val hits = result.select(col("query_id"), col("id"))
      .join(truth.select(col("query_id"), col("id")), Seq("query_id", "id"))
      .groupBy(col("query_id")).agg(count("*").as("hits"))
    val nQueries = truth.select(col("query_id")).distinct().count()
    if (nQueries == 0) 0.0
    else hits.agg(sum(col("hits"))).head().getLong(0).toDouble / (k.toDouble * nQueries)
  }

  /** Seeded deterministic query fixture: the first `n` corpus vectors by id,
    * re-labelled query_id 0..n-1 (order-stable across engines). */
  def queriesFromPoints(points: DataFrame, n: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    points
      .where(col(idCol) < n)
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
}
