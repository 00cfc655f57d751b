package graft.vamana

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** CLUSTERED (routed) shard layout for ANN serving — the SPANN posture
  * (Chen et al., NeurIPS'21, "SPANN: Highly-efficient Billion-scale
  * Approximate Nearest Neighbor Search"): points are partitioned by
  * k-means centroid instead of id hash, each shard carries its own Vamana
  * kernel, and a query probes only the `nprobe` shards whose centroids
  * are nearest — so per-request cost is nprobe tasks instead of a full
  * scatter-gather over every shard.
  *
  * Relationship to [[VamanaFanout]] (hash shards): hash sharding gives
  * perfectly balanced shards and needs NO routing state, but every query
  * must visit every shard (each shard is a uniform random sample of the
  * corpus) — right for batched throughput, and the measured per-REQUEST
  * tail at 10M/320 shards is ~0.55 s because one query still sweeps all
  * shards (BASELINE_REPRO round-15 tail row). Clustered sharding spends a
  * small fit-time k-means plus an ε-closure replication factor (≤ 2×) to
  * make shards spatially COHERENT, after which nprobe ≪ s shards answer
  * with high recall — the serving-tail lever a latency deployment wants.
  * Both layouts serve from the same per-shard [[LocalIndex]] kernels.
  *
  * Routing state is ONE s×dim centroid array — driver/broadcast-sized at
  * any corpus size (320 shards × 64 dims = 80 KB at the 10M-point
  * config), never corpus-proportional.
  *
  * Boundary points: a point whose second-nearest centroid is within
  * (1+ε)·d(nearest) is replicated into that shard (SPANN's closure
  * assignment, §4.2; `maxReplicas` generalizes it to the m nearest
  * in-band centroids) — queries landing between clusters find their
  * cross-boundary neighbors without probing extra shards. Replication is
  * bounded by maxReplicas× by construction (default 2×).
  *
  * Serving forms: fixed-nprobe ([[RoutedFanoutModel.searchRouted]]),
  * query-adaptive distance-band routing ([[RoutedFanoutModel
  * .searchRoutedAdaptive]], SPANN §4.3 — each query pays only as many
  * shards as its boundary ambiguity demands), metadata-filtered
  * ([[RoutedFanoutModel.searchRoutedFiltered]]), lossless ball-pruned
  * range ([[RoutedFanoutModel.rangeSearch]]), and the streaming twin
  * ([[graft.streaming.StreamingOps.streamingRoutedSearch]]) over the
  * guarded [[RoutedFanoutModel.localServing]] collect.
  */
object VamanaRouted {

  /** Deterministic Lloyd k-means over a driver-side sample (kernel space).
    * Init = evenly spaced points of the hash-ordered sample (seed-stable,
    * partitioning-independent); empty clusters reseed each iteration to
    * the point farthest from its assigned centroid (deterministic ties by
    * index), so the returned centroids are all distinct for any sample
    * with ≥ k distinct points. Plain sequential Scala: the sample is
    * bounded (default 50k × dim floats), so this is seconds, not a Spark
    * job — routing quality needs a SKETCH of the density, not an exact
    * global k-means (the exact-integer distributed k-means lives in
    * [[graft.operators.Clustering]] for callers that want it). */
  private[graft] def kmeans(sample: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Float]] = {
    require(sample.nonEmpty, "routed fit needs a non-empty sample")
    val n = sample.length
    val kk = math.min(k, n)
    val dim = sample(0).length
    var cents = Array.tabulate(kk)(i => sample(((i.toLong * n) / kk).toInt).clone())
    var iter = 0
    while (iter < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val cnts = new Array[Long](kk)
      // farthest assigned point overall — the deterministic reseed donor
      var farD = -1f
      var farI = 0
      var i = 0
      while (i < n) {
        val v = sample(i)
        var best = 0
        var bd = Float.MaxValue
        var c = 0
        while (c < kk) {
          val d = VamanaKernel.l2sq(v, cents(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        cnts(best) += 1
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        if (bd > farD) { farD = bd; farI = i }
        i += 1
      }
      cents = Array.tabulate(kk) { c =>
        if (cnts(c) == 0) sample(farI).clone()
        else {
          val s = sums(c)
          Array.tabulate(dim)(j => (s(j) / cnts(c)).toFloat)
        }
      }
      iter += 1
    }
    cents
  }

  /** ε-closure shard assignment of one point: its nearest centroid,
    * plus up to `maxReplicas - 1` further centroids within the (1+ε)
    * distance band (SPANN §4.2 multi-assignment) — the ONE routing rule
    * shared by fit and insert, so inserted points land exactly where the
    * fit would have put them. The default (2) keeps the bounded-2×
    * replication posture; boundary-dense corpora can raise it to trade
    * storage for low-nprobe recall. The maxReplicas == 2 fast path is a
    * two-register scan (no sort) because the fit evaluates this once per
    * corpus point. */
  private[vamana] def closureAssign(cs: Array[Array[Float]], vec: Array[Float],
      eps2: Float, maxReplicas: Int = 2): Seq[Int] = {
    if (maxReplicas <= 2) {
      var b1 = -1; var d1 = Float.MaxValue
      var b2 = -1; var d2 = Float.MaxValue
      var c = 0
      while (c < cs.length) {
        val d = VamanaKernel.l2sq(vec, cs(c))
        if (d < d1) { b2 = b1; d2 = d1; b1 = c; d1 = d }
        else if (d < d2) { b2 = c; d2 = d }
        c += 1
      }
      if (maxReplicas >= 2 && b2 >= 0 && d2 <= eps2 * d1) Seq(b1, b2) else Seq(b1)
    } else {
      val ds = Array.tabulate(cs.length)(c => (VamanaKernel.l2sq(vec, cs(c)), c))
      java.util.Arrays.sort(ds, Ordering.by[(Float, Int), (Float, Int)](identity))
      val d1 = ds(0)._1
      ds.iterator.takeWhile(_._1 <= eps2 * d1).take(maxReplicas).map(_._2).toSeq
    }
  }

  private[vamana] def eps2Of(closureEps: Double): Float =
    ((1.0 + closureEps) * (1.0 + closureEps)).toFloat

  /** Ascending (distance², shard) routing list for one prepared query —
    * the shared precursor of both probe rules. */
  private[graft] def sortedCentroidDists(centroids: Array[Array[Float]],
      qv: Array[Float]): Array[(Float, Int)] = {
    val ds = Array.tabulate(centroids.length)(si => (VamanaKernel.l2sq(qv, centroids(si)), si))
    java.util.Arrays.sort(ds, Ordering.by[(Float, Int), (Float, Int)](identity))
    ds
  }

  /** The ONE adaptive probe rule (SPANN §4.3) shared by batch
    * ([[RoutedFanoutModel.searchRoutedAdaptive]]) and streaming
    * ([[graft.streaming.StreamingOps.streamingRoutedSearch]]) serving:
    * everything within the (1+routeEps)² band of the nearest centroid,
    * nearest-first, capped at maxProbe. routeEps = 0 is nprobe = 1; an
    * unbounded band is the full probe. */
  private[graft] def adaptiveProbeShards(ds: Array[(Float, Int)], routeEps: Double,
      maxProbe: Int, numShards: Int): Seq[Int] = {
    // routeEps = 0 must equal nprobe = 1 EXACTLY (the asserted endpoint):
    // takeWhile(<= band) would admit shards whose centroid distance ties
    // the nearest, diverging from searchRouted's strict take(1).
    if (routeEps <= 0.0) Seq(ds(0)._2)
    else {
      val band = eps2Of(routeEps) * ds(0)._1
      ds.iterator.takeWhile(_._1 <= band)
        .take(math.min(math.max(1, maxProbe), numShards)).map(_._2).toSeq
    }
  }

  /** Fit the routed layout over (idCol: LONG, vecCol: array<float>):
    * sample → k-means centroids → distributed ε-closure assignment → one
    * Vamana kernel per shard (batch-synchronous parallel build, exactly
    * [[VamanaFanout.fit]]'s per-shard recipe), materialized once. The
    * corpus never reaches the driver — only the bounded sample does. */
  def fit(
      points: DataFrame,
      params: VamanaParams,
      numShards: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      closureEps: Double = 0.15,
      sampleSize: Int = 50000,
      kmeansIters: Int = 10,
      maxReplicas: Int = 2): RoutedFanoutModel = {
    require(numShards >= 1, "numShards must be >= 1")
    val spark = points.sparkSession
    import spark.implicits._
    val pts = points
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val (ptsT, kParams) = VamanaIndexer.metricTransform(pts, params)
    val seed = params.seed
    // deterministic bounded sample: top-sampleSize by id hash — a
    // TakeOrderedAndProject (distributed top-N), never a full collect
    val sample = ptsT
      .map { case (id, v) => (MurmurHash3.productHash((id, seed)), v) }
      .toDF("h", "v")
      .orderBy(col("h"), col("v")(0))
      .limit(sampleSize)
      .select(col("v")).as[Array[Float]].collect()
    val centroids = kmeans(sample, numShards, kmeansIters)
    val bcC = spark.sparkContext.broadcast(centroids)
    val eps2 = eps2Of(closureEps)
    val assigned = ptsT.flatMap { case (id, vec) =>
      closureAssign(bcC.value, vec, eps2, maxReplicas).map(s => (s, id, vec))
    }
    val par = math.max(2, Runtime.getRuntime.availableProcessors() / math.max(1, centroids.length))
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val shards = assigned
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val arr = it.toArray.sortBy(_._2)
        (shard, VamanaKernel.buildParallel(arr.map(_._2), arr.map(_._3),
          kParams.copy(seed = seed + shard), par))
      }.cache()
    shards.count() // force the builds NOW, exactly once
    new RoutedFanoutModel(shards, kParams, centroids, closureEps, maxReplicas)
  }
}

/** The fitted routed layout: per-shard kernels (cached, distributed) plus
  * the s×dim centroid routing table (driver-sized). The closure rule
  * (`closureEps`, `maxReplicas`) is part of the fitted model — [[insert]]
  * routes new points by the SAME rule the fit used, and [[save]] persists
  * it, so no caller can silently drift the layout. */
final class RoutedFanoutModel private[vamana] (
    private[vamana] val shards: Dataset[(Int, LocalIndex)],
    val params: VamanaParams,
    private[graft] val centroids: Array[Array[Float]],
    val closureEps: Double = 0.15,
    val maxReplicas: Int = 2) {

  def numShards: Int = centroids.length

  /** Full-probe search — identical result contract to
    * [[FanoutModel.search]] (every shard answers, global merge). */
  def search(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    searchRouted(queries, k, nprobe = centroids.length, queryIdCol, queryVecCol)

  /** Routed ANN top-k: each query visits only the `nprobe` shards whose
    * centroids are nearest (squared-L2 in kernel space — the same space
    * the shards were clustered in), then the standard min-dist merge +
    * rank. Routing is computed on the driver over the already-bounded
    * query batch: |queries|·s distances against an s×dim table — never a
    * Spark job. Output shape matches [[FanoutModel.search]]. */
  def searchRouted(
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val p = math.min(math.max(1, nprobe), centroids.length)
    searchWithRouting(queries, k, queryIdCol, queryVecCol)(ds => ds.take(p).map(_._2))(
      (idx, qv) => VamanaKernel.search(idx, qv, k))
  }

  /** Query-ADAPTIVE routed top-k (SPANN §4.3, query-aware dynamic
    * pruning): instead of a fixed nprobe, each query probes exactly the
    * shards whose centroid distance is within (1+routeEps)² of its
    * NEAREST centroid, capped at `maxProbe`. A query deep inside one
    * cluster pays 1 shard; a query sitting on a boundary fans out only as
    * far as the boundary is ambiguous — so the FLEET cost tracks the easy
    * median while boundary queries keep their recall, which a single
    * fixed nprobe cannot do (it overpays the median or starves the
    * boundary). Same output contract as [[searchRouted]]. */
  def searchRoutedAdaptive(
      queries: DataFrame,
      k: Int,
      routeEps: Double = 0.3,
      maxProbe: Int = Int.MaxValue,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    searchWithRouting(queries, k, queryIdCol, queryVecCol)(
      adaptiveProbes(_, routeEps, maxProbe))((idx, qv) => VamanaKernel.search(idx, qv, k))

  /** The adaptive probe rule over one query's ascending (dist, shard)
    * list — [[VamanaRouted.adaptiveProbeShards]], the function the
    * streaming twin shares. */
  private def adaptiveProbes(ds: Array[(Float, Int)], routeEps: Double,
      maxProbe: Int): Seq[Int] =
    VamanaRouted.adaptiveProbeShards(ds, routeEps, maxProbe, centroids.length)

  /** Routing cost introspection for the adaptive rule: (query_id,
    * n_probes) per query — the fleet-cost fact ([[searchRoutedAdaptive]]'s
    * whole point is that avg(n_probes) ≪ numShards while boundary queries
    * still fan out). Driver-computed like the routing itself. */
  def describeAdaptiveRouting(
      queries: DataFrame,
      routeEps: Double = 0.3,
      maxProbe: Int = Int.MaxValue,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    prepareQueries(queries, queryIdCol, queryVecCol)
      .map { case (qid, qv) => (qid, adaptiveProbes(centroidDists(qv), routeEps, maxProbe).size) }
      .toSeq.toDF("query_id", "n_probes").orderBy(col("query_id"))
  }

  private def centroidDists(qv: Array[Float]): Array[(Float, Int)] =
    VamanaRouted.sortedCentroidDists(centroids, qv)

  /** Collect the fitted layout into one broadcastable serving object for
    * the STREAMING twin ([[graft.streaming.StreamingOps
    * .streamingRoutedSearch]]) — guarded: the collect is corpus-
    * proportional, so it refuses beyond `maxLocalPoints` replicated
    * points with a pointer at the distributed serving path instead of
    * OOMing the driver. */
  def localServing(maxLocalPoints: Long = 2000000L): RoutedLocalServing = {
    val total = describeRouting()
      .agg(sum(col("n_points"))).head().getLong(0)
    require(total <= maxLocalPoints,
      s"localServing collects every shard kernel to the driver: $total replicated points " +
        s"exceed maxLocalPoints=$maxLocalPoints — serve with searchRouted/searchRoutedAdaptive " +
        "(distributed, shards never leave executors) instead, or raise the guard deliberately")
    RoutedLocalServing(shards.collect().sortBy(_._1), centroids, params.metric)
  }

  private def prepareQueries(queries: DataFrame, queryIdCol: String,
      queryVecCol: String): Array[(Long, Array[Float])] = {
    val spark = shards.sparkSession
    import spark.implicits._
    val metric = params.metric
    val prepared = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id, MetricReduction.prepareQuery(v, metric)) }
    require(prepared.length <= 10000, "routed fanout broadcasts the query batch; keep it bounded")
    prepared
  }

  /** Squared ball radius per shard — max point-to-centroid squared
    * distance of the shard's fitted points, the exact-prune bound for
    * [[rangeSearch]]. One distributed pass over the cached kernels,
    * memoized on the model (s floats on the driver). */
  private lazy val shardRadiiSq: Map[Int, Float] = {
    val cents = centroids
    shards.map { case (s, idx) =>
      var m = 0f
      var i = 0
      while (i < idx.size) {
        val d = VamanaKernel.l2sq(idx.points(i), cents(s))
        if (d > m) m = d
        i += 1
      }
      (s, m)
    }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaFloat)).collect().toMap
  }

  /** The ball-prune probe set for one query: shards whose centroid ball
    * intersects the query ball — √d(q,c_s) ≤ √r + √R_s. Lossless by the
    * triangle inequality: any point within L2 radius √r of q is within
    * √R_s of its shard's centroid, so d(q,c_s) ≤ √r + √R_s for at least
    * one shard holding it. */
  private def rangeProbeShards(qv: Array[Float], radiusSq: Double,
      radii: Map[Int, Float]): Seq[Int] =
    centroids.indices.filter { s =>
      radii.get(s).exists { r2 =>
        // relative ε so a point EXACTLY on the radius/ball boundary can't
        // be lost to ulp rounding of the float centroid distance — the
        // bound must stay lossless, and a hair of over-probing is free
        math.sqrt(VamanaKernel.l2sq(qv, centroids(s)).toDouble) <=
          (math.sqrt(radiusSq) + math.sqrt(r2.toDouble)) * (1.0 + 1e-6)
      }
    }

  /** Probe counts of the ball-prune rule per query (query_id, n_probes) —
    * the introspection that proves range pruning PRUNES (top-k routing's
    * [[describeAdaptiveRouting]] twin). */
  def describeRangeRouting(queries: DataFrame, radiusSq: Double,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val radii = shardRadiiSq
    prepareQueries(queries, queryIdCol, queryVecCol)
      .map { case (qid, qv) => (qid, rangeProbeShards(qv, radiusSq, radii).size) }
      .toSeq.toDF("query_id", "n_probes").orderBy(col("query_id"))
  }

  /** RANGE (radius) search on the routed layout with EXACT ball-bound
    * pruning — unlike top-k routing (approximate: the true k-th neighbor
    * may hide in an unprobed shard), range pruning is LOSSLESS: the probe
    * set provably contains every shard holding an in-radius point, so
    * pruning never changes the answer and the full-beam result equals the
    * exact range scan WITH pruning on — `vamana_routed_range_gate`'s
    * hash-checked claim. Per-shard kernel, merge, and output contract are
    * [[FanoutModel.rangeSearch]]'s (replicated answers dedup through the
    * min-dist merge). */
  def rangeSearch(
      queries: DataFrame,
      radiusSq: Double,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    require(params.metric == "l2", "range radius is a squared-L2 bound; fit with metric=l2")
    val spark = shards.sparkSession
    import spark.implicits._
    val prepared = prepareQueries(queries, queryIdCol, queryVecCol)
    val radii = shardRadiiSq
    val routed: Map[Int, Array[(Long, Array[Float])]] = prepared
      .flatMap { case (qid, qv) =>
        rangeProbeShards(qv, radiusSq, radii).map(si => (si, (qid, qv)))
      }
      .groupBy(_._1).map { case (si, xs) => (si, xs.map(_._2)) }
    val bcR = spark.sparkContext.broadcast(routed)
    val r = radiusSq.toFloat
    val answers = shards.flatMap { case (sid, idx) =>
      bcR.value.getOrElse(sid, Array.empty[(Long, Array[Float])]).iterator
        .flatMap { case (qid, qvec) =>
          VamanaKernel.rangeSearch(idx, qvec, r).iterator.map {
            case (id, dist) => (qid, id, dist.toDouble)
          }
        }
    }.toDF("query_id", "id", "dist")
    answers.groupBy(col("query_id"), col("id")).agg(min(col("dist")).as("dist"))
      .select(col("query_id"), col("id"), (expr("rint(dist * 10000)") / 1e4).as("dist"))
      .orderBy(col("query_id"), col("id"))
  }

  /** FILTERED routed search — the (clustered routing × metadata
    * predicate) serving-matrix cell: route by fixed nprobe, then each
    * probed shard runs the predicate-aware traversal
    * ([[VamanaKernel.searchFiltered]], the fanout filtered path's kernel)
    * so only allowed ids fill the result pool. At full probe + full beam
    * the merge IS exact filtered kNN: ε-closure covers every allowed
    * point in ≥ 1 shard and each shard returns its true in-shard allowed
    * top-k — [[graft.vamana.VamanaOps.vamanaFanoutFilteredGate]]'s
    * theorem on the clustered cover, hash-checked by
    * `vamana_routed_filtered_gate`. The allowed set broadcasts sorted
    * (binary-search predicate); corpus-sized filters belong on the
    * fanout model's adaptive DataFrame path, which post-filters instead. */
  def searchRoutedFiltered(
      queries: DataFrame,
      allowedIds: Array[Long],
      k: Int,
      nprobe: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      fullBeam: Boolean = false): DataFrame = {
    require(allowedIds.length <= 5000000,
      "routed filtered search broadcasts the allowed set; beyond that use " +
        "FanoutModel.searchFiltered(DataFrame) whose adaptive branch post-filters")
    val spark = shards.sparkSession
    val sorted = { val a = allowedIds.clone(); java.util.Arrays.sort(a); a }
    val bcA = spark.sparkContext.broadcast(sorted)
    val p = math.min(math.max(1, nprobe), centroids.length)
    searchWithRouting(queries, k, queryIdCol, queryVecCol)(
      ds => ds.take(p).map(_._2)) { (idx, qvec) =>
      val ids = bcA.value
      val pred = (id: Long) => java.util.Arrays.binarySearch(ids, id) >= 0
      VamanaKernel.searchFiltered(idx, qvec, k, pred, if (fullBeam) idx.size else 0)
    }
  }

  /** Shared scatter core: route each prepared query to the shards chosen
    * by `probe` (over its ascending (dist, shard) list), run `kernelSearch`
    * only on those shards, min-dist merge + rank. Routing is computed on
    * the driver over the already-bounded query batch: |queries|·s
    * distances against an s×dim table — never a Spark job. */
  private def searchWithRouting(queries: DataFrame, k: Int, queryIdCol: String,
      queryVecCol: String)(probe: Array[(Float, Int)] => Seq[Int])(
      kernelSearch: (LocalIndex, Array[Float]) => Array[(Long, Float)]): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val search = kernelSearch
    val prepared = prepareQueries(queries, queryIdCol, queryVecCol)
    val routed: Map[Int, Array[(Long, Array[Float])]] = prepared
      .flatMap { case (qid, qv) => probe(centroidDists(qv)).map(si => (si, (qid, qv))) }
      .groupBy(_._1).map { case (si, xs) => (si, xs.map(_._2)) }
    val bcR = spark.sparkContext.broadcast(routed)
    val answers = shards.flatMap { case (sid, idx) =>
      bcR.value.getOrElse(sid, Array.empty[(Long, Array[Float])]).iterator
        .flatMap { case (qid, qvec) =>
          search(idx, qvec).iterator
            .map { case (id, dist) => (qid, id, dist.toDouble) }
        }
    }.toDF("query_id", "id", "dist")
    // ε-closure replication may answer a point twice
    FanoutModel.rankMerge(answers, k)
  }

  /** Live per-shard point counts (one int per shard row — driver-trivial
    * at any corpus size). The observable [[rebalance]] acts on. */
  def shardSizes: Array[Int] =
    shards.map { case (_, idx) => idx.size }(Encoders.scalaInt).collect().sorted

  /** Σ shard sizes — REPLICATED point count (ε-closure counts a boundary
    * point once per hosting shard), the capacity number. */
  def totalPoints: Long =
    shards.map { case (_, idx) => idx.size.toLong }(Encoders.scalaLong)
      .reduce(_ + _)

  /** Shard-size REBALANCE for long-running insert streams on the CLUSTERED
    * layout. Hash fanout's skew is accidental (replication parity); routed
    * skew is STRUCTURAL — [[insert]] routes every new point to its nearest
    * fitted centroid, so a hot data region grows one shard without bound
    * while the routing table stays frozen. Each pass splits every shard
    * larger than `maxRatio`× the mean into two locality-aware halves
    * ([[FanoutModel.splitMembership]]'s deterministic 2-means median cut),
    * rebuilds each half's graph with the fit's kernel, and — the routed
    * twist — REFRESHES THE ROUTING TABLE: the split shard's centroid slot
    * is replaced by half A's own mean and half B publishes a fresh slot
    * appended past the old table, so future inserts and query routing see
    * the split as two first-class clusters, not a stale ball. (Contrast
    * [[FanoutModel.rebalance]], where fresh ids are deliberately
    * unroutable — hash routing can't learn new targets; centroid routing
    * can, and must, or the hot region just re-fills the same slot.)
    *
    * Correctness is unconditional: membership union is unchanged (a split
    * partitions one shard's point set), so ε-closure's "every point in
    * ≥ 1 shard" cover survives and the full-probe/full-beam exactness
    * theorem holds verbatim; [[rangeSearch]]'s ball radii are lazy per
    * model and recompute against the refreshed table. Untouched shards
    * pass through with zero kernel builds (spec-gated via buildCount).
    * Scale shape: the driver sees (shard, size) ints plus the refreshed
    * s×dim table; each split runs inside its shard's task. */
  def rebalance(maxRatio: Double = 2.0, maxPasses: Int = 4): RoutedFanoutModel = {
    require(maxRatio >= 1.0, "maxRatio < 1 would split forever")
    val spark = shards.sparkSession
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val sizeEnc: Encoder[(Int, Int)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    val centEnc: Encoder[(Int, Array[Float])] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[Array[Float]])
    val kp = params
    var curShards = shards
    var curCents = centroids
    var pass = 0
    var done = false
    while (pass < maxPasses && !done) {
      val sizes = curShards.map { case (s, idx) => (s, idx.size) }(sizeEnc).collect()
      val mean = sizes.map(_._2.toDouble).sum / sizes.length
      val big = sizes.filter { case (_, n) => n > maxRatio * mean && n >= 2 }.map(_._1)
      if (big.isEmpty) done = true
      else {
        // fresh slots appended past the current table, k-th split
        // (ascending old id) -> slot base+k; every shard id stays a valid
        // centroid index, the routed invariant
        val base = curCents.length
        val freshIds = big.sorted.zipWithIndex.map { case (s, i) => (s, base + i) }.toMap
        val bcFresh = spark.sparkContext.broadcast(freshIds)
        val next = curShards.flatMap { case (s, idx) =>
          bcFresh.value.get(s) match {
            case None => Iterator.single((s, idx))
            case Some(fresh) =>
              val (a, b) = FanoutModel.splitMembership(idx)
              Iterator(
                (s, VamanaKernel.build(a.map(_._1), a.map(_._2),
                  kp.copy(seed = kp.seed + s))),
                (fresh, VamanaKernel.build(b.map(_._1), b.map(_._2),
                  kp.copy(seed = kp.seed + fresh))))
          }
        }.cache()
        next.count() // materialize; the old model stays independently usable
        // routing-table refresh: each half routes by its OWN kernel-space
        // mean — a tiny (2·|splits|)×dim collect off the already-built rows
        val affected = freshIds.flatMap { case (s, f) => Seq(s, f) }.toSet
        val bcAff = spark.sparkContext.broadcast(affected)
        val newCents = next
          .filter(r => bcAff.value.contains(r._1))
          .map { case (s, idx) => (s, RoutedFanoutModel.meanVec(idx.points)) }(centEnc)
          .collect().toMap
        curCents = Array.tabulate(base + big.length) { i =>
          newCents.getOrElse(i, curCents(i))
        }
        if (curShards ne shards) curShards.unpersist()
        curShards = next
      }
      pass += 1
    }
    if (curShards eq shards) this
    else new RoutedFanoutModel(curShards, params, curCents, closureEps, maxReplicas)
  }

  /** RECALL-TARGETED band calibration — the INVERSE of the eps → recall
    * pricing table (BASELINE_REPRO's 10M rows price eps ∈ {0.02, 0.05,
    * 0.1} at measured recalls; a deployment starts from the other end:
    * "I need 0.9 — what band do I run?"). Bisects the smallest routeEps
    * whose recall@k on a held-out query sample reaches `targetRecall`,
    * measured against the FULL-SCATTER result at the SAME per-shard beam:
    * eps controls only ROUTING loss — which shards answer — while beam
    * loss belongs to the kernel's own knob, so full scatter is the exact
    * ceiling any band can reach and the measured recall isolates what eps
    * costs. Bisection is valid because per-query candidate pools GROW
    * with eps (a wider band probes a superset of shards): any full-
    * scatter top-k member present in the narrower pool is present in the
    * wider one and still ranks, so per-query overlap is monotone in eps.
    * Cost: one full-scatter pass + ~log2((hi-lo)/tol) adaptive passes
    * over the bounded sample — calibration is a fit-time activity, priced
    * in sample queries, never a corpus pass. Returns (eps, measured
    * recall, mean/p95 probe counts) — the capacity facts next to the
    * knob value, because the POINT of the band is probes ≪ numShards. */
  def calibrateEps(queries: DataFrame, k: Int, targetRecall: Double,
      epsHi: Double = 1.0, tol: Double = 0.01,
      maxProbe: Int = Int.MaxValue,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): EpsCalibration = {
    require(targetRecall > 0 && targetRecall <= 1.0, "targetRecall in (0, 1]")
    val fullRows = searchRouted(queries, k, nprobe = centroids.length,
        queryIdCol, queryVecCol)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(eps: Double): Double = {
      val got = searchRoutedAdaptive(queries, k, eps, maxProbe, queryIdCol, queryVecCol)
        .select(col("query_id"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      if (fullRows.isEmpty) 1.0
      else got.count(fullRows.contains).toDouble / fullRows.size
    }
    var lo = 0.0
    var hi = epsHi
    // hi might not reach the target on a pathological sample (maxProbe cap)
    // — report the endpoint honestly instead of looping
    var hiRecall = recallAt(hi)
    if (hiRecall >= targetRecall) {
      while (hi - lo > tol) {
        val mid = (lo + hi) / 2
        if (recallAt(mid) >= targetRecall) hi = mid else lo = mid
      }
      hiRecall = recallAt(hi)
    }
    val probes = describeAdaptiveRouting(queries, hi, maxProbe, queryIdCol, queryVecCol)
      .select(col("n_probes")).collect().map(_.getInt(0)).sorted
    val p95 = probes((math.ceil(probes.length * 0.95) - 1).toInt.max(0))
    EpsCalibration(hi, hiRecall, hiRecall >= targetRecall,
      probes.map(_.toDouble).sum / probes.length, p95, probes.length)
  }

  /** Size-triggered MAINTENANCE — the rebalance predicate as a cheap
    * post-mutation check: one (shard, size) collect (ints — driver-trivial
    * at any corpus size), and [[rebalance]] runs ONLY when the layout
    * actually drifted (max shard > maxRatio × mean). This is what turns
    * rebalance from a human-triggered repair ("watch [[describeRouting]]
    * for drift") into a closed loop: [[insert]]'s `autoMaintain` and the
    * streaming ingest twin ([[graft.streaming.StreamingOps
    * .streamingRoutedInsert]]) call it after every batch, so hot-region
    * growth — which is STRUCTURAL under centroid routing, every new point
    * in a hot region lands on the same shard — is corrected inside the
    * ingest path instead of degrading tail latency until someone reads a
    * dashboard. Returns `this` (no new model, no builds) when balanced. */
  def maintain(maxRatio: Double = 2.0, maxPasses: Int = 4): RoutedFanoutModel = {
    val sizes = shardSizes
    if (sizes.isEmpty) this
    else {
      val mean = sizes.map(_.toDouble).sum / sizes.length
      if (sizes.max <= maxRatio * mean) this else rebalance(maxRatio, maxPasses)
    }
  }

  /** Routing/layout introspection: per-shard point count plus the global
    * ε-closure replication factor (Σ shard sizes / distinct points) —
    * the balance and redundancy facts a capacity planner reads. */
  def describeRouting(): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    shards.map { case (sid, idx) => (sid, idx.size.toLong) }
      .toDF("shard", "n_points")
      .orderBy(col("shard"))
  }

  /** Same fitted shard graphs re-parameterized to beam = shard size — the
    * full-beam exactness regime ([[FanoutModel.withFullBeamShards]]): at
    * full probe + full beam every shard returns its true in-shard top-k,
    * and since ε-closure places every point in ≥ 1 shard the global merge
    * IS exact kNN — the routed gate's theorem. */
  private[graft] def withFullBeamShards(): RoutedFanoutModel = {
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val s2 = shards.map { case (s, idx) =>
      (s, new LocalIndex(idx.ids, idx.points, idx.graph, idx.medoid,
        idx.params.copy(efSearch = idx.size)))
    }.cache()
    s2.count()
    new RoutedFanoutModel(s2, params, centroids, closureEps, maxReplicas)
  }

  /** Shard-local incremental INSERT — [[FanoutModel.insert]]'s recipe on
    * the clustered layout: each new point routes by the SAME ε-closure
    * rule the fit used ([[VamanaRouted.closureAssign]], so a point
    * inserted today lands exactly where a refit would put it), and joins
    * its shard's graph via the copy-on-write kernel insert; untouched
    * shards pass through with ZERO graph builds. Centroids are NOT
    * refreshed by the insert itself (the routing table is part of the
    * fitted model — the SPANN posture; a vanished shard row is rebuilt
    * from its batch), but `autoMaintain = true` runs [[maintain]] after
    * the batch: when the grown layout crosses maintainRatio × mean the
    * oversized shards split and the table learns the new slots, so a hot
    * insert stream cannot silently grow one shard without bound between
    * human checks — the closed-loop posture a long-running ingest wants. */
  def insert(newPoints: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", autoMaintain: Boolean = false,
      maintainRatio: Double = 2.0, maintainPasses: Int = 4): RoutedFanoutModel = {
    val grown = insertBatch(newPoints, idCol, vecCol)
    if (!autoMaintain) grown
    else {
      val kept = grown.maintain(maintainRatio, maintainPasses)
      if (kept ne grown) grown.unpersist()
      kept
    }
  }

  private def insertBatch(newPoints: DataFrame, idCol: String,
      vecCol: String): RoutedFanoutModel = {
    val spark = shards.sparkSession
    import spark.implicits._
    val kp = params
    val cents = centroids
    val pts = newPoints
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val (ptsT, _) = VamanaIndexer.metricTransform(pts, params)
    val bcC = spark.sparkContext.broadcast(cents)
    val eps2 = VamanaRouted.eps2Of(closureEps)
    val mRep = maxReplicas
    val assigned = ptsT.flatMap { case (id, vec) =>
      VamanaRouted.closureAssign(bcC.value, vec, eps2, mRep).map(s => (s, id, vec))
    }.groupByKey(_._1)
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val updated = shards.groupByKey(_._1)
      .cogroup(assigned) { (shard, idxIt, newIt) =>
        val batch = newIt.toArray.sortBy(_._2)
        val idxs = idxIt.toArray
        if (idxs.isEmpty) {
          if (batch.isEmpty) Iterator.empty
          else Iterator.single((shard, VamanaKernel.build(
            batch.map(_._2), batch.map(_._3), kp.copy(seed = kp.seed + shard))))
        } else idxs.iterator.map { case (_, idx) =>
          (shard,
            if (batch.isEmpty) idx
            else VamanaKernel.insert(idx, batch.map(_._2), batch.map(_._3)))
        }
      }.cache()
    updated.count() // materialize once; the old model stays independently usable
    new RoutedFanoutModel(updated, params, centroids, closureEps, maxReplicas)
  }

  /** Distributed routed MERGE — [[FanoutModel.merge]]'s clustered twin,
    * completing the maintenance lifecycle (insert / delete / rebalance /
    * MERGE) on the routed layout: the other model's shard rows re-key
    * past this table (s → s + numShards) and UNION, and — the routed
    * difference — the CENTROID TABLES CONCATENATE, so the merged model
    * routes queries and inserts across both fits' clusters as first-class
    * targets (hash merge's re-keyed shards are deliberately unroutable;
    * centroid routing learns them for free). Zero kernel builds. At full
    * probe + full beam the union of the two ε-closure covers is a cover
    * of the union corpus, so exactness holds verbatim; at low nprobe the
    * routing rule is geometry-correct across both tables (a query probes
    * whichever fit's centroids are actually nearest). Id sets must be
    * disjoint (one distributed semi-join). The CLOSURE RULE (closureEps,
    * maxReplicas) must MATCH: future inserts route under the merged
    * model's single rule, and adopting this side's rule over a
    * differently-fit other side would replicate its region under
    * parameters neither fit validated. The merged model's graph params
    * (beam, degree, alpha) are this side's — they only set SERVING
    * defaults; each shard kernel keeps the params it was built with.
    * `ip` rejected: the two fits augmented different max norms (mirrors
    * [[FanoutModel.merge]]). */
  def merge(other: RoutedFanoutModel): RoutedFanoutModel = {
    require(params.metric != "ip" && other.params.metric != "ip",
      "merge is not defined for metric=ip (per-fit norm augmentation); refit instead")
    require(params.metric == other.params.metric,
      s"metric mismatch: ${params.metric} vs ${other.params.metric} — differently " +
        "transformed kernel spaces cannot serve one query preparation")
    require(params.dim == other.params.dim,
      s"dimension mismatch: ${params.dim} vs ${other.params.dim}")
    require(closureEps == other.closureEps && maxReplicas == other.maxReplicas,
      s"closure-rule mismatch: ($closureEps, $maxReplicas) vs " +
        s"(${other.closureEps}, ${other.maxReplicas}) — future inserts route under " +
        "ONE rule; merge layouts fitted under the same closure assignment")
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val idEnc = Encoders.scalaLong
    val myIds = shards.flatMap { case (_, idx) => idx.ids.iterator }(idEnc).toDF("id")
    val otherIds = other.shards.flatMap { case (_, idx) => idx.ids.iterator }(idEnc).toDF("id")
    require(myIds.join(otherIds, "id").isEmpty,
      "id sets overlap; merge requires disjoint indexes (dedup first, or delete one side's copies)")
    val offset = centroids.length
    val rekeyed = other.shards.map { case (s, idx) => (s + offset, idx) }
    val merged = shards.union(rekeyed).cache()
    merged.count() // materialize; both inputs stay independently usable
    new RoutedFanoutModel(merged, params, centroids ++ other.centroids,
      closureEps, maxReplicas)
  }

  /** Shard-local DELETE — [[FanoutModel.delete]]'s recipe: each shard
    * repairs its own graph around the removed ids (in-neighbor re-prune +
    * compaction); a fully-emptied shard row disappears, but the routing
    * table keeps its centroid so a later insert recreates it. */
  def delete(deleteIds: Array[Long]): RoutedFanoutModel = {
    val spark = shards.sparkSession
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val bc = spark.sparkContext.broadcast(deleteIds)
    val updated = shards.flatMap { case (shard, idx) =>
      val delSet = bc.value.toSet
      val n = idx.ids.count(delSet.contains)
      if (n == idx.size) Iterator.empty
      else if (n == 0) Iterator.single((shard, idx))
      else Iterator.single((shard, VamanaKernel.delete(idx, bc.value)))
    }.cache()
    updated.count()
    new RoutedFanoutModel(updated, params, centroids, closureEps, maxReplicas)
  }

  /** Persist the routed layout: per-shard rows in [[FanoutModel.save]]'s
    * exact parquet shape (shard-partitioned, external-id neighbor lists)
    * plus one `centroids` frame (shard → vector) — the routing table is
    * part of the model, so a reloaded index serves routed queries without
    * re-clustering. */
  def save(path: String): Unit = {
    val spark = shards.sparkSession
    import spark.implicits._
    shards.flatMap { case (shard, idx) =>
      idx.ids.indices.iterator.map { pos =>
        (shard, pos, idx.ids(pos), idx.points(pos), idx.graph(pos).map(idx.ids(_)),
          idx.medoid, idx.params.seed)
      }
    }.toDF("shard", "pos", "id", "vec", "neighbors", "medoid_pos", "shard_seed")
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/shards")
    centroids.zipWithIndex.map { case (c, si) => (si, c) }.toSeq
      .toDF("shard", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    val p = params
    Seq((p.dim, p.maxDegree, p.beamWidth, p.alpha.toDouble, p.efSearch, p.seed,
      p.paperPrune, p.metric, closureEps, maxReplicas))
      .toDF("dim", "max_degree", "beam_width", "alpha", "ef_search", "seed",
        "paper_prune", "metric", "closure_eps", "max_replicas")
      .repartition(1).write.mode("overwrite").parquet(s"$path/params")
  }

  def unpersist(): Unit = { val _ = shards.unpersist() }
}

/** Result of [[RoutedFanoutModel.calibrateEps]]: the chosen band, its
  * measured recall vs full scatter on the calibration sample, whether the
  * target was reachable under the probe cap, and the probe-count facts
  * (mean + p95) that price the band — the number a capacity planner
  * multiplies by per-shard latency. */
final case class EpsCalibration(
    eps: Double,
    recall: Double,
    targetMet: Boolean,
    meanProbes: Double,
    p95Probes: Int,
    nQueries: Int)

/** A routed layout collected for single-process serving: the per-shard
  * kernels, the routing table, and the metric the queries must be
  * prepared in — everything [[graft.streaming.StreamingOps
  * .streamingRoutedSearch]] broadcasts. Built only through the guarded
  * [[RoutedFanoutModel.localServing]]. */
final case class RoutedLocalServing(
    shards: Array[(Int, LocalIndex)],
    centroids: Array[Array[Float]],
    metric: String) extends Serializable {
  /** Shard-id lookup built once per deserialized copy (per executor), not
    * per served row — the streaming hot path probes it for every query. */
  @transient lazy val shardMap: Map[Int, LocalIndex] = shards.toMap
}

object RoutedFanoutModel {

  /** Kernel-space mean of a shard's points — its refreshed routing
    * centroid after a [[RoutedFanoutModel.rebalance]] split. */
  private[vamana] def meanVec(pts: Array[Array[Float]]): Array[Float] = {
    val dim = pts(0).length
    val s = new Array[Double](dim)
    var i = 0
    while (i < pts.length) {
      val p = pts(i)
      var j = 0
      while (j < dim) { s(j) += p(j); j += 1 }
      i += 1
    }
    Array.tabulate(dim)(j => (s(j) / pts.length).toFloat)
  }

  /** Reload a [[RoutedFanoutModel.save]] checkpoint: shard kernels rebuilt
    * from the frames (no graph builds — adjacency is persisted), routing
    * table from the centroids frame. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): RoutedFanoutModel = {
    import spark.implicits._
    val p = spark.read.parquet(s"$path/params").head()
    val params = VamanaParams(
      dim = p.getAs[Int]("dim"),
      maxDegree = p.getAs[Int]("max_degree"),
      beamWidth = p.getAs[Int]("beam_width"),
      alpha = p.getAs[Double]("alpha").toFloat,
      efSearch = p.getAs[Int]("ef_search"),
      seed = p.getAs[Long]("seed"),
      paperPrune = p.getAs[Boolean]("paper_prune"),
      metric = p.getAs[String]("metric"))
    // the closure rule is part of the model; pre-rule checkpoints (no
    // columns) reload with the fit defaults they were written under
    val closureEps =
      if (p.schema.fieldNames.contains("closure_eps")) p.getAs[Double]("closure_eps") else 0.15
    val maxReplicas =
      if (p.schema.fieldNames.contains("max_replicas")) p.getAs[Int]("max_replicas") else 2
    val centroids = spark.read.parquet(s"$path/centroids")
      .select(col("shard").cast("int"), col("centroid").cast("array<float>"))
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val rows = spark.read.parquet(s"$path/shards")
      .select(col("shard").cast("int"), col("pos").cast("int"), col("id"),
        col("vec").cast("array<float>"), col("neighbors"),
        col("medoid_pos").cast("int"), col("shard_seed").cast("long"))
      .as[(Int, Int, Long, Array[Float], Array[Long], Int, Long)]
    val shards = rows.groupByKey(_._1).mapGroups { (shard, it) =>
      val arr = it.toArray.sortBy(_._2)
      val ids = arr.map(_._3)
      val posOf = ids.zipWithIndex.toMap
      val graph = arr.map(_._5.flatMap(posOf.get(_)))
      (shard, new LocalIndex(ids, arr.map(_._4), graph, arr.head._6,
        params.copy(seed = arr.head._7)))
    }.cache()
    shards.count() // materialize once, up front
    new RoutedFanoutModel(shards, params, centroids, closureEps, maxReplicas)
  }
}
