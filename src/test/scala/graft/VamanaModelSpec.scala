package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.Knn
import graft.vamana._

/** Spark-side Vamana: distributed fit, broadcast search, recall gate vs
  * knnExact (the BASELINE.md contract: recall@10 >= 0.8 on embeddings with
  * R=32, L=64, ef=128), and save/load roundtrip. */
class VamanaModelSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val params = VamanaParams(dim = 64, maxDegree = 32, beamWidth = 64, alpha = 1.2f, efSearch = 128)

  /** Stored vectors perturbed by seeded noise — non-trivial but answerable. */
  private def perturbedQueries(n: Int): DataFrame = {
    import spark.implicits._
    val rng = new Random(4242)
    val base = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1).take(n)
    base.map { case (id, vec) =>
      (id, vec.map(v => v + (rng.nextFloat() - 0.5f) * 0.05f))
    }.toSeq.toDF("query_id", "query_vec")
  }

  private def recall(model: VamanaModel, queries: DataFrame, k: Int): Double = {
    val truth = Knn.knnExact(Tables.embeddings(spark, dir), queries, k)
    Knn.recallAt(k, model.search(queries, k), truth)
  }

  test("single-shard fit reaches recall@10 >= 0.8 on embeddings (BASELINE gate)") {
    spark.sparkContext.setLogLevel("WARN")
    val model = VamanaIndexer.fit(Tables.embeddings(spark, dir), params)
    assert(VamanaKernel.healthCheck(model.index))
    val r = recall(model, perturbedQueries(30), 10)
    assert(r >= 0.8, s"recall@10 = $r below the 0.8 gate")
  }

  test("multi-shard fit (3 shards) still reaches recall@10 >= 0.8") {
    val model = VamanaIndexer.fit(Tables.embeddings(spark, dir), params, numShards = 3)
    assert(VamanaKernel.healthCheck(model.index))
    val r = recall(model, perturbedQueries(30), 10)
    assert(r >= 0.8, s"multi-shard recall@10 = $r below the 0.8 gate")
  }

  test("save/load roundtrip preserves params and search results exactly") {
    val model = VamanaIndexer.fit(Tables.embeddings(spark, dir), params)
    val tmp = java.nio.file.Files.createTempDirectory("vamana_model").toString
    model.save(spark, tmp)
    val loaded = VamanaModel.load(spark, tmp)
    assert(loaded.index.params == model.index.params, "ALL params must survive (reference bug A.1 fixed)")
    assert(loaded.index.medoid == model.index.medoid)
    val q = perturbedQueries(10)
    val a = model.search(q, 10).collect().map(_.toSeq).toSeq
    val b = loaded.search(q, 10).collect().map(_.toSeq).toSeq
    assert(a == b, "loaded index must search identically")
  }

  test("save/load preserves a custom maxLocalPoints insert gate") {
    val model = VamanaIndexer.fit(Tables.embeddings(spark, dir), params, maxLocalPoints = 777L)
    val tmp = java.nio.file.Files.createTempDirectory("vamana_mlp").toString
    model.save(spark, tmp)
    val loaded = VamanaModel.load(spark, tmp)
    val mlp = loaded.describe(spark).select("max_local_points").head().getLong(0)
    assert(mlp == 777L, s"custom threshold lost on roundtrip: $mlp")
  }

  test("fanout load tolerates pre-num_shards/replicate2 param saves (checkpoint back-compat)") {
    import org.apache.spark.sql.functions.col
    val fm = VamanaFanout.fit(Tables.embeddings(spark, dir), params, numShards = 3)
    val tmp = java.nio.file.Files.createTempDirectory("vamana_oldfmt").toString
    fm.save(tmp)
    // rewrite the params file the way the first checkpoint format wrote it
    val old = spark.read.parquet(s"$tmp/params").drop("num_shards", "replicate2")
    val tmp2 = java.nio.file.Files.createTempDirectory("vamana_oldfmt2").toString
    spark.read.parquet(s"$tmp/shards").write.parquet(s"$tmp2/shards")
    old.repartition(1).write.parquet(s"$tmp2/params")
    val loaded = FanoutModel.load(spark, tmp2)
    val got = loaded.search(perturbedQueries(5), 5)
    assert(got.count() == 25, "old-format fanout model must still load and search")
  }

  test("routed load tolerates pre-closure_eps/max_replicas param saves (checkpoint back-compat)") {
    val rm = VamanaRouted.fit(Tables.embeddings(spark, dir), params, numShards = 3)
    val tmp = java.nio.file.Files.createTempDirectory("vamana_oldrouted").toString
    rm.save(tmp)
    // rewrite the params file the way the pre-closure-rule format wrote it
    val old = spark.read.parquet(s"$tmp/params").drop("closure_eps", "max_replicas")
    val tmp2 = java.nio.file.Files.createTempDirectory("vamana_oldrouted2").toString
    spark.read.parquet(s"$tmp/shards").write.parquet(s"$tmp2/shards")
    spark.read.parquet(s"$tmp/centroids").write.parquet(s"$tmp2/centroids")
    old.repartition(1).write.parquet(s"$tmp2/params")
    val loaded = RoutedFanoutModel.load(spark, tmp2)
    assert(loaded.closureEps == 0.15 && loaded.maxReplicas == 2,
      s"old-format routed model must reload with the fit defaults, got " +
        s"(${loaded.closureEps}, ${loaded.maxReplicas})")
    val q = perturbedQueries(10)
    val a = rm.searchRouted(q, 10, nprobe = 2).collect().map(_.toSeq).toSeq
    val b = loaded.searchRouted(q, 10, nprobe = 2).collect().map(_.toSeq).toSeq
    assert(a == b, "old-format routed model must search identically")
  }

  test("shard-fanout search reaches recall@10 >= 0.8 with 3 shards (no broadcast model)") {
    val queries = perturbedQueries(30).cache()
    val truth = Knn.knnExact(Tables.embeddings(spark, dir), queries, 10)
    val got = VamanaFanout.fit(Tables.embeddings(spark, dir), params, numShards = 3).search(queries, 10)
    val r = Knn.recallAt(10, got, truth)
    assert(r >= 0.8, s"fanout recall@10 = $r below the 0.8 gate")
  }

  test("searchStats: hops/comps invariants, full-beam exhaustiveness, deployed beam prunes") {
    import org.apache.spark.sql.functions.col
    val model = VamanaIndexer.fit(Tables.embeddings(spark, dir), params)
    val n = model.index.size
    val q = perturbedQueries(10).cache()
    val deflt = model.searchStats(q, 10).collect()
    assert(deflt.length == 10)
    deflt.foreach { r =>
      val hops = r.getAs[Long]("n_hops")
      val comps = r.getAs[Long]("n_comps")
      assert(hops >= 1 && hops <= comps, s"hops $hops vs comps $comps")
      assert(comps >= 10 && comps <= n, s"comps $comps out of [k, n=$n]")
    }
    // full-beam regime: every node scored exactly once (the exhaustive-scan
    // theorem behind all full-beam exactness gates), hops = n too
    val full = model.searchStats(q, 10, beamOverride = n).collect()
    full.foreach { r =>
      assert(r.getAs[Long]("n_comps") == n, "full beam must score every node")
      assert(r.getAs[Long]("n_hops") == n)
    }
    // the deployed beam expands strictly fewer nodes than the full one —
    // the bit that catches a beam degenerating to a full scan
    val sumHops = deflt.map(_.getAs[Long]("n_hops")).sum
    assert(sumHops < 10L * n, s"deployed beam expanded $sumHops of ${10L * n} nodes")
    // the stats path serves the SAME answers as the untracked search
    val a = model.search(q, 10).select(col("query_id"), col("rank"), col("id"))
      .collect().map(_.toSeq).toSeq
    val statsRes = {
      val idx = model.index
      val qs = q.select(col("query_id").cast("long"), col("query_vec").cast("array<float>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      qs.flatMap { case (qid, qv) =>
        VamanaKernel.searchCounted(idx, qv, 10)._1.zipWithIndex.map {
          case ((id, _), r) => Seq(qid, (r + 1).toLong, id)
        }
      }.toSeq
    }
    assert(a.sortBy(_.toString) == statsRes.sortBy(_.toString),
      "searchCounted must return the identical top-k to search")
  }

  test("searchWithStartPoint matches Q2 semantics (start vector resolved by scan)") {
    import spark.implicits._
    val model = VamanaIndexer.fit(Tables.embeddings(spark, dir), params)
    val emb = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    // query = stored vec 3, start = stored vec 250
    val q = Seq((3L, emb(3)._2, emb(250)._2)).toDF("query_id", "query_vec", "start_vec")
    val res = model.searchWithStartPoint(q, 5).collect()
    assert(res.length == 5)
    assert(res.head.getAs[Long]("id") == emb(3)._1, "exact-match query must rank its own id first")
  }
}
