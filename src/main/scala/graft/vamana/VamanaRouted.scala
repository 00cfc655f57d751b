package graft.vamana

import scala.util.hashing.MurmurHash3

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
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
    val routing = CentroidRouting(kmeans(sample, numShards, kmeansIters), closureEps, maxReplicas)
    new RoutedFanoutModel(ShardCore.fit(ptsT, kParams, routing,
      ShardCore.threadsPerShard(routing.centroids.length)))
  }
}

/** The fitted routed layout: centroid-routed shards over the [[ShardCore]]
  * (per-shard kernels, resident, distributed) plus the s×dim centroid
  * routing table (driver-sized). The closure rule (`closureEps`,
  * `maxReplicas`) is part of the fitted model — [[insert]] routes new
  * points by the SAME rule the fit used, and [[save]] persists it, so no
  * caller can silently drift the layout. */
final class RoutedFanoutModel private[vamana] (
    private[vamana] val core: ShardCore[CentroidRouting]) {

  private[vamana] def shards: RDD[(Int, LocalIndex)] = core.shards
  def params: VamanaParams = core.params
  private[graft] def centroids: Array[Array[Float]] = core.routing.centroids
  def closureEps: Double = core.routing.closureEps
  def maxReplicas: Int = core.routing.maxReplicas

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
      queryVecCol: String = "query_vec"): DataFrame =
    routedTopK(queries, k, queryIdCol, queryVecCol, core.routing.nearest(nprobe))

  private def routedTopK(queries: DataFrame, k: Int, queryIdCol: String, queryVecCol: String,
      probe: Array[Float] => Seq[Int]): DataFrame =
    core.topK(core.prepare(queries, queryIdCol, queryVecCol), k, Some(probe))(
      (_, idx) => q => VamanaKernel.search(idx, q._2, k))

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
    routedTopK(queries, k, queryIdCol, queryVecCol, core.routing.adaptive(routeEps, maxProbe))

  /** Routing cost introspection for the adaptive rule: (query_id,
    * n_probes) per query — the fleet-cost fact ([[searchRoutedAdaptive]]'s
    * whole point is that avg(n_probes) ≪ numShards while boundary queries
    * still fan out). Driver-computed like the routing itself. */
  def describeAdaptiveRouting(
      queries: DataFrame,
      routeEps: Double = 0.3,
      maxProbe: Int = Int.MaxValue,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    probeCounts(queries, queryIdCol, queryVecCol, core.routing.adaptive(routeEps, maxProbe))

  private def probeCounts(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      probe: Array[Float] => Seq[Int]): DataFrame = {
    val spark = core.spark
    import spark.implicits._
    core.prepare(queries, queryIdCol, queryVecCol)
      .map(q => (q._1, probe(q._2).size))
      .toSeq.toDF("query_id", "n_probes").orderBy(col("query_id"))
  }

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

  /** Squared ball radius per shard — max point-to-centroid squared
    * distance of the shard's fitted points, the exact-prune bound for
    * [[rangeSearch]]. One distributed pass over the resident kernels,
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
    }.collect().toMap
  }

  /** The ball-prune probe rule for one radius: shards whose centroid ball
    * intersects the query ball — √d(q,c_s) ≤ √r + √R_s. Lossless by the
    * triangle inequality: any point within L2 radius √r of q is within
    * √R_s of its shard's centroid, so d(q,c_s) ≤ √r + √R_s for at least
    * one shard holding it. Driver-side; the radii are read on first use. */
  private def rangeProbe(radiusSq: Double): Array[Float] => Seq[Int] = qv => {
    val radii = shardRadiiSq
    centroids.indices.filter { s =>
      radii.get(s).exists { r2 =>
        // relative ε so a point EXACTLY on the radius/ball boundary can't
        // be lost to ulp rounding of the float centroid distance — the
        // bound must stay lossless, and a hair of over-probing is free
        math.sqrt(VamanaKernel.l2sq(qv, centroids(s)).toDouble) <=
          (math.sqrt(radiusSq) + math.sqrt(r2.toDouble)) * (1.0 + 1e-6)
      }
    }
  }

  /** Probe counts of the ball-prune rule per query (query_id, n_probes) —
    * the introspection that proves range pruning PRUNES (top-k routing's
    * [[describeAdaptiveRouting]] twin). */
  def describeRangeRouting(queries: DataFrame, radiusSq: Double,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    probeCounts(queries, queryIdCol, queryVecCol, rangeProbe(radiusSq))

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
      queryVecCol: String = "query_vec"): DataFrame =
    core.rangeUnion(queries, radiusSq, queryIdCol, queryVecCol, Some(rangeProbe(radiusSq)))

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
    * (binary-search predicate), up to [[FanoutModel.MaxBroadcastAllowed]];
    * corpus-sized filters belong on the fanout model's adaptive DataFrame
    * path, which post-filters instead. */
  def searchRoutedFiltered(
      queries: DataFrame,
      allowedIds: Array[Long],
      k: Int,
      nprobe: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      fullBeam: Boolean = false): DataFrame = {
    require(allowedIds.length <= FanoutModel.MaxBroadcastAllowed,
      "routed filtered search broadcasts the allowed set; beyond that use " +
        "FanoutModel.searchFiltered(DataFrame) whose adaptive branch post-filters")
    core.filteredTopK(core.prepare(queries, queryIdCol, queryVecCol), allowedIds, deny = false,
      k, fullBeam, Some(core.routing.nearest(nprobe)))
  }

  /** Live per-shard point counts (one int per shard row — driver-trivial
    * at any corpus size). The observable [[rebalance]] acts on. */
  def shardSizes: Array[Int] = core.shardSizes

  /** Σ shard sizes — REPLICATED point count (ε-closure counts a boundary
    * point once per hosting shard), the capacity number. */
  def totalPoints: Long = core.storedPoints

  /** Shard-size REBALANCE for long-running insert streams on the CLUSTERED
    * layout. Hash fanout's skew is accidental (replication parity); routed
    * skew is STRUCTURAL — [[insert]] routes every new point to its nearest
    * fitted centroid, so a hot data region grows one shard without bound
    * while the routing table stays frozen. Each pass splits every shard
    * larger than `maxRatio`× the mean into two locality-aware halves
    * ([[ShardCore.splitMembership]]'s deterministic 2-means median cut),
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
    val next = core.rebalance(maxRatio, maxPasses)
    if (next eq core) this else new RoutedFanoutModel(next)
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

  /** Routing/layout introspection: one row per live shard, (shard,
    * n_points), ordered by shard — the balance fact a capacity planner
    * reads. The frame carries no replication column: the ε-closure
    * replication factor is Σ `n_points` over the distinct ids, i.e.
    * [[totalPoints]] / the number of distinct points the layout holds. */
  def describeRouting(): DataFrame = {
    val spark = core.spark
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
  private[graft] def withFullBeamShards(): RoutedFanoutModel =
    new RoutedFanoutModel(core.withFullBeam())

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
    * human checks — the closed-loop posture a long-running ingest wants.
    * `ip` is rejected, as on [[FanoutModel.insert]]. */
  def insert(newPoints: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", autoMaintain: Boolean = false,
      maintainRatio: Double = 2.0, maintainPasses: Int = 4): RoutedFanoutModel = {
    val grown = new RoutedFanoutModel(core.insert(newPoints, idCol, vecCol))
    if (!autoMaintain) grown
    else {
      val kept = grown.maintain(maintainRatio, maintainPasses)
      if (kept ne grown) grown.unpersist()
      kept
    }
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
  def merge(other: RoutedFanoutModel): RoutedFanoutModel =
    new RoutedFanoutModel(core.merge(other.core))

  /** Shard-local DELETE — [[FanoutModel.delete]]'s recipe: each shard
    * repairs its own graph around the removed ids (in-neighbor re-prune +
    * compaction); a fully-emptied shard row disappears, but the routing
    * table keeps its centroid so a later insert recreates it. */
  def delete(deleteIds: Array[Long]): RoutedFanoutModel =
    new RoutedFanoutModel(core.delete(deleteIds))

  /** Persist the routed layout: per-shard rows in [[FanoutModel.save]]'s
    * exact parquet shape (shard-partitioned, external-id neighbor lists)
    * plus one `centroids` frame (shard → vector) — the routing table is
    * part of the model, so a reloaded index serves routed queries without
    * re-clustering. */
  def save(path: String): Unit = {
    val spark = core.spark
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, si) => (si, c) }.toSeq
      .toDF("shard", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    core.save(path, Seq("closure_eps" -> lit(closureEps), "max_replicas" -> lit(maxReplicas)))
  }

  /** Release the resident shard kernels; runs no job. The model serves
    * nothing afterwards; models derived from it keep serving. */
  def unpersist(): Unit = core.unpersist()
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

  /** Reload a [[RoutedFanoutModel.save]] checkpoint: shard kernels
    * reassembled from the frames (no graph builds — adjacency is
    * persisted), routing table from the centroids frame. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): RoutedFanoutModel = {
    import spark.implicits._
    val (params, row) = ShardCore.readParams(spark, path)
    // the closure rule is part of the model; pre-rule checkpoints (no
    // columns) reload with the fit defaults they were written under
    val routing = CentroidRouting(
      spark.read.parquet(s"$path/centroids")
        .select(col("shard").cast("int"), col("centroid").cast("array<float>"))
        .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2),
      ShardCore.paramOr(row, "closure_eps", 0.15), ShardCore.paramOr(row, "max_replicas", 2))
    new RoutedFanoutModel(ShardCore.load(spark, path, params, routing))
  }
}
