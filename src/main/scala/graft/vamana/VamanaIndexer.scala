package graft.vamana

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vamana index build into one broadcast [[VamanaModel]], Spark-first.
  *
  * The model is one [[LocalIndex]] on the driver (n·(dim·4 + R·4) bytes,
  * ~7.6 GB for 20M points at dim=64/R=32), broadcast once and searched
  * partition-locally, shuffle-free. [[VamanaIndexer.DefaultMaxLocalPoints]]
  * bounds it: a larger corpus is refused before anything is collected and
  * is served by the shard models instead ([[VamanaFanout.fit]],
  * [[VamanaRouted.fit]]), whose working set per task is one shard.
  *
  * With `numShards > 1` the build itself is distributed: every point is
  * assigned to 2 of `numShards` overlapping shards (so cross-shard
  * neighborhoods exist), each shard runs [[VamanaKernel.build]] inside one
  * task, and the per-shard adjacency lists are merged + re-pruned to R
  * with a distributed join — the published DiskANN sharded-build recipe,
  * with no shared mutable state (vs the reference's `omp critical` global
  * graph, vamana.h:266-288). Only the merged graph reaches the driver.
  */
object VamanaIndexer {

  /** Largest point count `fit` collects into one broadcast [[LocalIndex]];
    * above it, fit a shard model. */
  val DefaultMaxLocalPoints: Long = 20_000_000L

  /** metric -> L2 reduction (cos: normalize; ip: MIPS augmentation with the
    * GLOBAL max corpus norm, so shard distances stay comparable); the kernel
    * always runs squared-Euclidean. Returns the transformed points and the
    * kernel-space params. */
  private[vamana] def metricTransform(
      pts: Dataset[(Long, Array[Float])],
      params: VamanaParams): (Dataset[(Long, Array[Float])], VamanaParams) = {
    val spark = pts.sparkSession
    import spark.implicits._
    params.metric match {
      case "l2" => (pts, params)
      case "cos" => (pts.map { case (id, v) => (id, MetricReduction.normalize(v)) }, params)
      case "ip" =>
        val m = pts.map(p => MetricReduction.normOf(p._2)).reduce(math.max(_, _))
        (pts.map { case (id, v) => (id, MetricReduction.augmentIndexVec(v, m)) },
          params.copy(dim = params.dim + 1))
    }
  }

  /** Fit a Vamana graph over (idCol: LONG, vecCol: array<float>). The
    * points are counted first: more than `maxLocalPoints` is rejected
    * before anything is collected. */
  def fit(
      df: DataFrame,
      params: VamanaParams,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      numShards: Int = 1,
      maxLocalPoints: Long = DefaultMaxLocalPoints): VamanaModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val pts: Dataset[(Long, Array[Float])] =
      df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>")).as[(Long, Array[Float])]
    val n = pts.count()
    require(n <= maxLocalPoints,
      s"$n points exceed maxLocalPoints=$maxLocalPoints, the most a broadcast VamanaModel " +
        "collects to the driver; serve this corpus with VamanaFanout.fit or VamanaRouted.fit")
    val (ptsT, kParams) = metricTransform(pts, params)
    val index =
      if (numShards <= 1) {
        // single-shard: build on a thread pool — the executor threads are
        // otherwise idle during a driver-local build. Output is identical
        // for any parallelism (kernel contract).
        val collected = ptsT.collect().sortBy(_._1)
        val par = math.min(Runtime.getRuntime.availableProcessors(), 16)
        VamanaKernel.buildParallel(collected.map(_._1), collected.map(_._2), kParams, par)
      } else {
        val pruned = mergedShardGraph(ptsT, kParams, numShards).collect().toMap
        val collected = ptsT.collect().sortBy(_._1)
        val ids = collected.map(_._1)
        val pos = ids.zipWithIndex.toMap
        val graph = ids.map(id => pruned.getOrElse(id, Array.empty[Long]).flatMap(pos.get(_)))
        new LocalIndex(ids, collected.map(_._2), graph,
          VamanaKernel.centroidMedoid(collected.map(_._2)), kParams)
      }
    new VamanaModel(index, maxLocalPoints)
  }

  /** The sharded build: each point goes to 2 of `s` shards (seeded hash),
    * one kernel per shard (members sorted by id, seeded by shard id), then
    * the shard edge lists are unioned, deduped and re-pruned to R per
    * point — all keyed joins, nothing driver-side. */
  private def mergedShardGraph(
      ptsT: Dataset[(Long, Array[Float])],
      kp: VamanaParams,
      s: Int): Dataset[(Long, Array[Long])] = {
    val spark = ptsT.sparkSession
    import spark.implicits._
    val shardAdj: Dataset[(Long, Array[Long])] = ptsT.rdd
      .flatMap { case (id, vec) => HashRouting.twoShardsOf(id, kp.seed, s).map(sh => (sh, (id, vec))) }
      .groupByKey(s)
      .flatMap { case (shard, it) =>
        val arr = it.toArray.sortBy(_._1)
        val idx = ShardCore.buildShard(shard, arr.map(_._1), arr.map(_._2), kp)
        idx.graph.iterator.zipWithIndex.map { case (nbrs, i) => (idx.ids(i), nbrs.map(idx.ids(_))) }
      }.toDS()
    val merged = shardAdj.groupByKey(_._1)
      .mapGroups { (id, it) => (id, it.flatMap(_._2).toArray.distinct) }
      .toDF("id", "nbrs")
    val ptsDF = ptsT.toDF("pid", "pvec")
    merged
      .select($"id", explode($"nbrs").as("nbr"))
      .join(ptsDF, $"nbr" === $"pid")
      .select($"id", $"nbr", $"pvec".as("nvec"))
      .groupBy($"id")
      .agg(collect_list(struct($"nbr", $"nvec")).as("cands"))
      .join(ptsDF, $"id" === $"pid")
      .select($"id", $"pvec", $"cands")
      .as[(Long, Array[Float], Array[(Long, Array[Float])])]
      .map { case (id, pvec, cands) =>
        (id, VamanaKernel.robustPruneVecs(
          pvec, cands.map(_._1), cands.map(_._2),
          kp.alpha, kp.maxDegree, kp.paperPrune))
      }
  }
}

/** A fitted shard-fanout serving model: hash-routed shards over the
  * [[ShardCore]] (one resident [[LocalIndex]] per shard, built exactly
  * once at fit/load time). Every search runs one job in which each
  * shard answers the whole broadcast query batch; the global answer is
  * the per-query merge of shard top-ks (a global top-k is contained in
  * the union of per-shard top-ks), at most partitions × |Q| × k rows on
  * the driver. No shard kernel is collected to the driver and no single
  * index must fit in one broadcast — the working set per task is the
  * shards of one partition. */
final class FanoutModel private[vamana] (private[vamana] val core: ShardCore[HashRouting]) {
  import FanoutModel._

  private[vamana] def shards: RDD[(Int, LocalIndex)] = core.shards

  def params: VamanaParams = core.params

  /** See [[HashRouting]]: the fit-time shard count (insert routing
    * modulus). */
  private[vamana] def numShardsFit: Int = core.routing.numShards

  /** Batch ANN top-k (same output shape as [[VamanaModel.search]]). Calling
    * it twice runs ZERO graph builds the second time (spec-asserted) — the
    * round-1 shape rebuilt every shard graph per call. */
  def search(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    searchPrepared(core.prepare(queries, queryIdCol, queryVecCol), k)

  private def searchPrepared(prepared: Array[ShardCore.Query], k: Int): DataFrame =
    core.topK(prepared, k)((_, idx) => q => VamanaKernel.search(idx, q._2, k))

  /** Q2 semantics on the fanout path: each shard resolves the start vector
    * to its own nearest stored point; the merge keeps the best answers. */
  def searchWithStartPoint(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      startVecCol: String = "start_vec"): DataFrame =
    core.topK(core.prepare(queries, queryIdCol, queryVecCol, Some(startVecCol)), k)(
      (_, idx) => q => VamanaKernel.searchWithStartPoint(idx, q._3, q._2, k))

  /** Range (radius) query on the fanout path — the serving regime where
    * range search is embarrassingly parallel: radius membership is a
    * GLOBAL predicate, so each shard's in-range set is exactly the global
    * answer restricted to that shard and the merge is a plain union. No
    * top-k cut and no rank merge — unlike kNN, shards cannot disagree
    * about membership, so a full-beam per-shard answer makes the union
    * provably the exact global range set (the fanout range gate's
    * theorem). */
  def rangeSearch(
      queries: DataFrame,
      radiusSq: Double,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    core.rangeUnion(queries, radiusSq, queryIdCol, queryVecCol)

  /** A new model over the SAME fitted shard graphs, with each kernel
    * re-parameterized to beam = shard size — the full-beam exactness
    * regime of the hash-checked gates, without a refit. The mapped
    * kernels are resident (they share the source kernels' arrays). */
  private[graft] def withFullBeamShards(): FanoutModel = new FanoutModel(core.withFullBeam())

  /** Filtered Q1 on the fanout path — the beyond-broadcast story for
    * filtered serving: the allowed-id set is broadcast as sorted longs,
    * every shard runs [[VamanaKernel.searchFiltered]] partition-locally
    * (traversal unfiltered, ranking filtered), and the global top-k
    * merges per query. `fullBeam = true` re-parameterizes each shard to
    * beam = shard size, which makes the per-shard answer exactly its k
    * nearest allowed points and the merge exactly filtered kNN — the
    * hash-checked gate's theorem. An allowed set beyond the broadcast
    * band no longer aborts: it degrades to [[search]] + distributed
    * post-filter (the selectivity regime where almost every neighbor
    * passes anyway) — but callers holding a set that large should pass
    * the DataFrame form and let the model pick the branch BEFORE any
    * driver materialization. */
  def searchFiltered(
      queries: DataFrame,
      allowedIds: Array[Long],
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      fullBeam: Boolean = false): DataFrame =
    byIds(queries, allowedIds, deny = false, k, queryIdCol, queryVecCol, fullBeam)

  /** [[searchFiltered]]'s complement form: rank every stored point EXCEPT
    * `deniedIds`. The natural shape for label-complement predicates
    * ("anything but my own label") where the allowed side is
    * corpus-sized by construction but the denied side is one label —
    * semantics identical to searchFiltered with the complement set, at
    * the small side's broadcast cost. */
  def searchDenied(
      queries: DataFrame,
      deniedIds: Array[Long],
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      fullBeam: Boolean = false): DataFrame =
    byIds(queries, deniedIds, deny = true, k, queryIdCol, queryVecCol, fullBeam)

  private def byIds(queries: DataFrame, ids: Array[Long], deny: Boolean, k: Int,
      queryIdCol: String, queryVecCol: String, fullBeam: Boolean): DataFrame =
    if (ids.length > MaxBroadcastAllowed) {
      val spark = core.spark
      import spark.implicits._
      postFilterSearch(queries, spark.createDataset(ids).toDF("id"),
        deny, k, queryIdCol, queryVecCol, fullBeam)
    } else searchIdFiltered(queries, ids, deny, k, queryIdCol, queryVecCol, fullBeam)

  /** Live external-id count of the fitted index (distributed; each point
    * lives in one shard). Memoized — the adaptive filtered path reads it
    * once per model. */
  lazy val totalPoints: Long = core.storedPoints

  /** All external ids in the fitted index as a distributed one-column
    * frame `id` — the complement side of the adaptive filtered path. */
  private[vamana] def idsDF: DataFrame = core.idsDF

  /** M3 search-stats on the SHARDED layout — [[VamanaModel.searchStats]]'s
    * scatter-gather twin: every probed shard's kernel reports its own
    * (hops, comps) per query and the frame aggregates the two numbers a
    * fleet planner needs — TOTAL work (Σ over shards: the CPU bill the
    * whole fleet pays per query) and the CRITICAL PATH (max over shards:
    * what bounds latency when shards answer in parallel). Stats come from
    * [[VamanaKernel.searchCounted]] — the serving traversal itself, not an
    * instrumented twin. At full beam each shard scores exactly its own
    * point set, and hash sharding partitions the corpus (no replication),
    * so the per-query total is EXACTLY the corpus size — the theorem
    * `vamana_fanout_stats`' oracle states from the table count. */
  def searchStats(queries: DataFrame, k: Int, fullBeam: Boolean = false,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val spark = core.spark
    import spark.implicits._
    core.scatter(core.prepare(queries, queryIdCol, queryVecCol), probe = None) { (_, idx) =>
      val beam = if (fullBeam) idx.size else 0
      q => {
        val (_, hops, comps) = VamanaKernel.searchCounted(idx, q._2, k, beam)
        Iterator.single((q._1, hops, comps))
      }
    }.toDF("query_id", "hops", "comps")
      .groupBy(col("query_id"))
      .agg(sum(col("hops")).as("total_hops"), sum(col("comps")).as("total_comps"),
        max(col("hops")).as("max_shard_hops"), max(col("comps")).as("max_shard_comps"))
      .orderBy(col("query_id"))
  }

  /** ADAPTIVE filtered search — the entry point that makes the broadcast
    * band an internal decision instead of a caller contract (no caller
    * can OOM the driver by collecting the wrong side): `allowed` is a
    * one-column DataFrame of permitted external ids, and the model picks,
    * from one cheap distributed count,
    *  - broadcast-ALLOWED when the set fits the band;
    *  - broadcast-DENIED (complement via anti-join against [[idsDF]],
    *    never the driver) when the complement fits instead — the
    *    high-selectivity regime where "all but a label" is the predicate;
    *  - [[search]] with an over-fetched k + distributed semi-join
    *    post-filter when BOTH sides exceed the band — at that scale the
    *    filter passes nearly everything or nearly nothing, and only the
    *    nearly-everything case reaches this branch (approximate:
    *    recall-bounded by the overfetch, documented, never an abort). */
  def searchFiltered(queries: DataFrame, allowed: DataFrame, k: Int,
      fullBeam: Boolean): DataFrame =
    adaptiveFiltered(queries, allowed, deny = false, k, fullBeam)

  /** [[searchDenied]] with the denied ids as a DataFrame — same adaptive
    * branch choice, mirrored. */
  def searchDenied(queries: DataFrame, denied: DataFrame, k: Int,
      fullBeam: Boolean): DataFrame =
    adaptiveFiltered(queries, denied, deny = true, k, fullBeam)

  /** `band` defaults to [[FanoutModel.MaxBroadcastAllowed]] and
    * `mergeLimit` to [[ShardCore.MaxMergeRows]]; the test hooks narrow
    * them so the complement and post-filter branches, and the post-filter
    * escalation's stop, are exercised at spec scale instead of only
    * beyond 5M ids. */
  private[vamana] def adaptiveFiltered(queries: DataFrame, filter: DataFrame, deny: Boolean,
      k: Int, fullBeam: Boolean, band: Int = MaxBroadcastAllowed,
      mergeLimit: Long = ShardCore.MaxMergeRows): DataFrame = {
    // distinct BEFORE counting: duplicate ids in the caller's frame would
    // inflate n (wrongly skipping the exact broadcast branch), corrupt the
    // complement arithmetic (totalPoints - n could go negative), and ride
    // duplicated through collectIds' broadcast
    val ids = filter.select(col(filter.columns.head).cast("long").as("id")).distinct()
    val n = ids.count()
    def collectIds(df: DataFrame): Array[Long] =
      df.select(col("id")).as[Long](Encoders.scalaLong).collect()
    if (n <= band)
      searchIdFiltered(queries, collectIds(ids), deny, k, "query_id", "query_vec", fullBeam)
    else if (totalPoints - n <= band)
      // the complement is the broadcastable side: flip the polarity.
      // Anti-join runs distributed; only the (bounded) complement lands
      // on the driver.
      searchIdFiltered(queries, collectIds(idsDF.join(ids, Seq("id"), "left_anti")),
        !deny, k, "query_id", "query_vec", fullBeam)
    else postFilterSearch(queries, ids, deny, k, "query_id", "query_vec", fullBeam, mergeLimit)
  }

  /** The beyond-broadcast branch with ESCALATING overfetch: fetch k×mult,
    * post-filter with a distributed semi/anti-join, and — instead of
    * silently returning short or inexact results when fewer than k
    * survivors land in the overfetched pool — re-fetch the batch at 8×
    * the multiple until every query holds k survivors, the fetch covers
    * the whole index (at which point the full-beam form is provably exact
    * filtered kNN and a still-short query truly has < k allowed ids), or
    * one more fetch would bring more than `mergeLimit` answers to the
    * driver's rank merge (a still-short query then keeps the survivors
    * of the largest fetch the bound allows). Escalation is geometric, so
    * the worst case is log₈(n/k) passes, and the expected case at the
    * selectivity that reaches this branch (both filter sides beyond the
    * broadcast band) is the single ×8 pass. Each attempt's filtered pool
    * is persisted so the survivor check and the returned frame share one
    * fetch. */
  private def postFilterSearch(queries: DataFrame, filterIds: DataFrame, deny: Boolean,
      k: Int, queryIdCol: String, queryVecCol: String, fullBeam: Boolean,
      mergeLimit: Long = ShardCore.MaxMergeRows): DataFrame = {
    val prepared = core.prepare(queries, queryIdCol, queryVecCol)
    val nQueries = prepared.iterator.map(_._1).distinct.size.toLong
    val total = totalPoints
    // never below k: a k the bound rejects is rejected like a plain search
    val maxFetch = math.max(k.toLong, mergeLimit / core.mergeRows(math.max(1, prepared.length), 1))
    var mult = PostFilterOverfetch.toLong
    var result: DataFrame = null
    var prev: DataFrame = null
    while (result == null) {
      val fetchK = Seq(k.toLong * mult, total, maxFetch, Int.MaxValue.toLong).min.toInt
      // the fetch stage: plain search, or the full-beam form of the
      // filtered core with an empty deny set
      val fetched =
        if (!fullBeam) searchPrepared(prepared, fetchK)
        else core.filteredTopK(prepared, Array.empty[Long], deny = true, fetchK, fullBeam = true)
      // the returned frame reads this pool, so it is pinned, not unpersisted
      val kept = graft.core.Memo.pin(FanoutModel,
        fetched.join(filterIds, Seq("id"), if (deny) "left_anti" else "left_semi")
          .persist())
      if (prev != null) { prev.unpersist(blocking = false); prev = null }
      val exhaustive = fetchK >= total || fetchK >= maxFetch
      val satisfied =
        if (exhaustive) true
        else {
          // every query must hold >= k survivors, and no query may have
          // dropped out entirely — both from one bounded aggregate
          val st = kept.groupBy(col("query_id")).agg(count(lit(1)).as("n"))
            .agg(coalesce(min(col("n")), lit(0L)).as("mn"),
              count(lit(1)).as("nq")).head()
          st.getLong(0) >= k && st.getLong(1) == nQueries
        }
      if (satisfied) {
        val w = Window.partitionBy(col("query_id")).orderBy(col("rank").asc)
        result = kept.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= k)
          .select(col("query_id"), col("rank"), col("id"), col("dist"))
          .orderBy(col("query_id"), col("rank"))
      } else {
        prev = kept
        mult *= 8
      }
    }
    result
  }

  /** The broadcast-band core: `filterIds` rides to every shard as sorted
    * longs; `deny` picks membership vs non-membership as the ranking
    * predicate for [[VamanaKernel.searchFiltered]] (traversal always
    * unfiltered). */
  private def searchIdFiltered(queries: DataFrame, filterIds: Array[Long], deny: Boolean,
      k: Int, queryIdCol: String, queryVecCol: String, fullBeam: Boolean): DataFrame =
    core.filteredTopK(core.prepare(queries, queryIdCol, queryVecCol), filterIds, deny, k, fullBeam)

  /** Release the resident shard kernels (cache-lifecycle surface for tests
    * and long-lived services; runs no job). The model serves nothing
    * afterwards; models derived from it keep serving. */
  def unpersist(): Unit = core.unpersist()

  /** Distributed incremental insert — the daily-embedding-batch shape at
    * 100 TB: new points are routed by the FIT-TIME shard count and seeded
    * hash, each shard kernel runs [[VamanaKernel.insert]] partition-
    * locally (zero full rebuilds, spec-gated), and the result is a new
    * fitted model; this model keeps serving unchanged. A batch routed to a
    * shard whose row no longer exists (its whole membership was deleted)
    * RECREATES that shard with a fresh kernel build — never silently
    * dropped. `ip` is rejected: its MIPS reduction bakes in the global max
    * corpus norm at fit time, which a later batch could invalidate — refit
    * for ip. */
  def insert(newPoints: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): FanoutModel =
    new FanoutModel(core.insert(newPoints, idCol, vecCol))

  /** Live per-shard point counts (one int per shard row — driver-trivial
    * at any corpus size). The observable [[rebalance]] acts on. */
  def shardSizes: Array[Int] = core.shardSizes

  /** Shard-size REBALANCE for long-running mutation streams: hash routing
    * keeps expected sizes even, but a skewed insert stream or full-membership
    * deletes can leave one shard far larger than its peers — and the
    * full-beam serving cost of a shard is quadratic in its size, so one
    * outsized shard dominates every query's tail latency. Each pass
    * splits every shard larger than `maxRatio`× the mean into two
    * LOCALITY-AWARE halves (2-means on the shard's own points, then a
    * balanced median cut on the centroid margin — deterministic, no RNG,
    * and guaranteed ⌈n/2⌉ halves where raw 2-means can split 90/10), and
    * rebuilds each half's graph with the same kernel the fit used.
    *
    * Correctness is unconditional: search fans out over ALL shard rows
    * and merges, so membership layout is invisible to it — the union of
    * shard point sets is unchanged and the full-beam exactness theorem
    * holds verbatim (spec-asserted). Only INSERT routes by key, mod
    * [[numShardsFit]]: the split keeps one half under the original shard
    * id (so fit-key routing still lands on a live row) and publishes the
    * other under a fresh id beyond the fitted key space, which routing
    * can never target. Per-shard PQ code memos re-encode automatically —
    * the membership fingerprint ([[VamanaPq]]) sees the new id arrays.
    * Scale shape: the driver sees only (shard, size) pairs; each split
    * runs inside its shard's task, working set = one shard. */
  def rebalance(maxRatio: Double = 2.0, maxPasses: Int = 4): FanoutModel = {
    val next = core.rebalance(maxRatio, maxPasses)
    if (next eq core) this else new FanoutModel(next)
  }

  /** Distributed index MERGE — the fanout twin of [[VamanaKernel.merge]]
    * (two independently fitted fanout models fold into one serving
    * model): the other model's shard rows are re-keyed into fresh shard
    * ids beyond this model's key space (the [[rebalance]] convention —
    * insert routing, which goes mod [[numShardsFit]], can never target
    * them) and UNIONED. Search fans out over ALL shard rows and merges
    * per (query, id), so the union of shard point sets IS the merged
    * index and the full-beam exactness theorem holds verbatim
    * (spec-asserted) — no kernel work at all, the embarrassingly-parallel
    * payoff of the fanout regime; follow with [[rebalance]] when the two
    * fits' shard sizes differ wildly. Id sets must be disjoint (checked
    * distributed — one semi-join over the id frames); future inserts
    * route by THIS model's fitted key space. `ip` rejected: the two fits
    * augmented different max norms; a metric mismatch is rejected too (a
    * cosine fit stores normalized kernel-space points, mirroring
    * [[VamanaKernel.merge]]'s guard). */
  def merge(other: FanoutModel): FanoutModel = new FanoutModel(core.merge(other.core))

  /** Distributed delete: each shard drops its own members via
    * [[VamanaKernel.delete]] (eager hole-repair + compaction, zero
    * rebuilds); a shard whose entire membership is deleted disappears.
    * The fit-time shard count is retained: routing stays in the fitted
    * key space even when a shard row disappeared (insert recreates it).
    * The delete batch is broadcast — bounded like any delete list. */
  def delete(deleteIds: Array[Long]): FanoutModel = new FanoutModel(core.delete(deleteIds))

  /** S3 for the fanout path: one parquet of per-shard model rows (vectors +
    * external-id adjacency + per-shard medoid/seed) plus a one-row global
    * params file. Written straight from the shard dataset — distributed. */
  def save(path: String): Unit =
    core.save(path, Seq("num_shards" -> lit(numShardsFit)))
}

object FanoutModel {

  /** Soft cap on a broadcast id set: 5M sorted longs ≈ 40 MB — the
    * mid-selectivity band where per-shard filtering pays is exactly where
    * the set still broadcasts. Above it selectivity is high enough that
    * plain [[FanoutModel.search]] + post-filter keeps recall (the adaptive
    * strategy's upper regime); below [[VamanaOps.ExactScanMaxAllowed]] the
    * exact scan wins outright. */
  val MaxBroadcastAllowed: Int = 5000000

  /** Overfetch multiple for the beyond-broadcast post-filter branch: at
    * the selectivity that reaches it (both filter sides > 5M) a k×8
    * fetch retains recall while keeping the merge bounded. */
  val PostFilterOverfetch: Int = 8

  /** S2 for the fanout path: reassemble each shard kernel in its own
    * partition, resident — searches after load run zero builds, zero
    * per-query I/O. */
  def load(spark: SparkSession, path: String): FanoutModel = {
    val (params, row) = ShardCore.readParams(spark, path)
    // num_shards entered the params schema after the first checkpoint
    // format shipped; older saves lack it, so fall back to the observable
    // shard count rather than failing. A `replicate2` column in older
    // saves is ignored: every fanout model holds each point in one shard.
    val numShards = ShardCore.paramOr(row, "num_shards",
      spark.read.parquet(s"$path/shards").select(col("shard")).distinct().count().toInt)
    new FanoutModel(ShardCore.load(spark, path, params, HashRouting(numShards)))
  }
}

/** Shard-fanout ANN fit — the beyond-broadcast scale path. */
object VamanaFanout {

  /** Build one Vamana kernel per shard (each point in exactly one shard),
    * distributed, materialized ONCE into the returned model's resident
    * kernels. Shard builds use the batch-synchronous parallel kernel so a
    * machine with more cores than shards isn't idle. Serve with the
    * returned model (e.g. [[VamanaOps]] caches it per dataset). */
  def fit(
      points: DataFrame,
      params: VamanaParams,
      numShards: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): FanoutModel = {
    val spark = points.sparkSession
    import spark.implicits._
    val pts = points
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val (ptsT, kParams) = VamanaIndexer.metricTransform(pts, params)
    new FanoutModel(ShardCore.fit(ptsT, kParams, HashRouting(numShards),
      ShardCore.threadsPerShard(numShards)))
  }
}

/** A fitted broadcast Vamana index: one driver-side [[LocalIndex]],
  * broadcast by the first search that needs it and searched
  * partition-locally, shuffle-free. Persists ALL params including
  * efSearch — the reference forgets it on save/load, leaving search width
  * uninitialized (vamana.h:397-405, 62-68; SURVEY.md Appendix A.1). */
final class VamanaModel(
    val index: LocalIndex,
    /** Broadcast threshold the FIT was called with — the growth gate for
      * inserts and merges. A custom-threshold fit gets a matching gate,
      * not the library default. */
    private val maxLocalPoints: Long = VamanaIndexer.DefaultMaxLocalPoints) extends Serializable {

  /** Kernel-space params. */
  def params: VamanaParams = index.params

  /** The broadcast of the local index and the context it belongs to, made
    * by the first search form that needs it and reused by every later one
    * until [[unpersist]]. */
  @transient private var shipped: (SparkContext, Broadcast[LocalIndex]) = _

  private def broadcastIndex(spark: SparkSession): Broadcast[LocalIndex] = synchronized {
    val sc = spark.sparkContext
    if (shipped == null || (shipped._1 ne sc)) shipped = (sc, sc.broadcast(index))
    shipped._2
  }

  /** Id of the index broadcast this model holds now, if any. */
  private[vamana] def broadcastId: Option[Long] = synchronized(Option(shipped).map(_._2.id))

  /** Release the index broadcast. It is unpersisted, not destroyed:
    * executors drop their copies, frames already returned still collect
    * (executors fetch the index again), and the next search broadcasts
    * anew. */
  def unpersist(): Unit = synchronized {
    if (shipped != null) {
      if (!shipped._1.isStopped) shipped._2.unpersist()
      shipped = null
    }
  }

  /** The maxLocalPoints guard of [[insert]] and [[merge]]. */
  private def requireFits(n: Long, what: String): Unit =
    require(n <= maxLocalPoints,
      s"$what would grow the local index beyond maxLocalPoints; " +
        "serve it with VamanaFanout.fit or VamanaRouted.fit")

  /** Incremental insert (FreshDiskANN semantics — the reference can only
    * rebuild): returns a NEW model containing the batch, inserted into a
    * copy of the kernel; this model keeps serving unchanged. */
  def insert(newPoints: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): VamanaModel = {
    require(params.metric != "ip",
      "incremental insert is not defined for metric=ip (fit-time norm augmentation); refit instead")
    val spark = newPoints.sparkSession
    import spark.implicits._
    val pts = newPoints
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    // the grown index must stay under the broadcast threshold the fit was
    // called with
    requireFits(index.size + pts.count(), "insert")
    val (ptsT, _) = VamanaIndexer.metricTransform(pts, params)
    val batch = ptsT.collect().sortBy(_._1)
    new VamanaModel(VamanaKernel.insert(index, batch.map(_._1), batch.map(_._2)), maxLocalPoints)
  }

  /** Merge another fitted model into this one (DiskANN shard-graph merge
    * — daily builds folding into the serving index without a rebuild;
    * see [[VamanaKernel.merge]] for the algorithm and its provenance).
    * At shard scale a merge IS a shard union: [[FanoutModel.merge]]. Not
    * defined for metric=ip: the two fits augmented with DIFFERENT
    * max-norm constants, so their kernel spaces differ — refit.
    * Copy-on-write: both inputs keep serving. */
  def merge(other: VamanaModel): VamanaModel = {
    require(params.metric != "ip" && other.params.metric != "ip",
      "merge is not defined for metric=ip (per-fit norm augmentation); refit instead")
    requireFits(index.size + other.index.size, "merge")
    new VamanaModel(VamanaKernel.merge(index, other.index), maxLocalPoints)
  }

  /** Delete by external id (FreshDiskANN semantics — the reference has no
    * delete at all): copy-on-write like [[insert]]; this model keeps
    * serving. */
  def delete(deleteIds: Array[Long]): VamanaModel =
    new VamanaModel(VamanaKernel.delete(index, deleteIds), maxLocalPoints)

  /** Batch ANN top-k: search per query partition-local against the index,
    * broadcast once per model and reused by every later call and search
    * form until [[unpersist]] — no shuffle at all; output shape matches
    * [[graft.operators.Knn.knnExact]] so recall joins line up. */
  def search(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = broadcastIndex(spark)
    queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qvec) =>
        val q = MetricReduction.prepareQuery(qvec, bc.value.params.metric)
        VamanaKernel.search(bc.value, q, k).iterator.zipWithIndex.map {
          case ((id, dist), r) =>
            (qid, (r + 1).toLong, id, math.rint(dist.toDouble * 1e4) / 1e4)
        }
      }
      .toDF("query_id", "rank", "id", "dist")
  }

  /** M3 search-stats observability (the surface the reference stubs at
    * 0.0 — go_api:163-171): per query, the hop count (neighbor lists the
    * beam expanded — the IO driver on a disk-resident graph) and the
    * distance-computation count (unique nodes scored — the CPU driver),
    * from the SAME traversal [[search]] runs ([[VamanaKernel
    * .searchCounted]] shares the kernel, so the stats describe exactly
    * the serving path, not an instrumented twin). This is the
    * capacity-planning observable a serving operator reads first: avg
    * comps × corpus scaling says when to shard, avg hops says what a
    * disk layout would pay per query. A shard model reports per shard:
    * [[FanoutModel.searchStats]]. */
  def searchStats(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      beamOverride: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = broadcastIndex(spark)
    val bo = beamOverride
    queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (qid, qvec) =>
        val q = MetricReduction.prepareQuery(qvec, bc.value.params.metric)
        val (_, hops, comps) = VamanaKernel.searchCounted(bc.value, q, k, bo)
        (qid, hops, comps)
      }
      .toDF("query_id", "n_hops", "n_comps")
      .orderBy(col("query_id"))
  }

  /** Range (radius) query: every stored point within squared-L2 `radiusSq`
    * of each query — [[VamanaKernel.rangeSearch]]'s escalating-beam
    * traversal per partition against the broadcast index (no shuffle).
    * Output (query_id, id, dist) ascending by id within query —
    * id-ordered, not rank-ordered, because a range result is a SET (its
    * size is data-dependent, not a parameter). */
  def rangeSearch(
      queries: DataFrame,
      radiusSq: Double,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    require(params.metric == "l2", "range radius is a squared-L2 bound; fit with metric=l2")
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = broadcastIndex(spark)
    val r = radiusSq.toFloat
    queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qvec) =>
        VamanaKernel.rangeSearch(bc.value, qvec, r).iterator.map {
          case (id, dist) => (qid, id, math.rint(dist.toDouble * 1e4) / 1e4)
        }
      }
      .toDF("query_id", "id", "dist")
      .orderBy(col("query_id"), col("id"))
  }

  /** Q2 semantics (vamana.h:426-489): search starting from the stored point
    * nearest to each query's `start_vec` column instead of the medoid. */
  def searchWithStartPoint(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      startVecCol: String = "start_vec"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = broadcastIndex(spark)
    queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"),
        col(startVecCol).cast("array<float>"))
      .as[(Long, Array[Float], Array[Float])]
      .flatMap { case (qid, qvec, svec) =>
        val m = bc.value.params.metric
        VamanaKernel.searchWithStartPoint(bc.value,
          MetricReduction.prepareQuery(svec, m), MetricReduction.prepareQuery(qvec, m), k
        ).iterator.zipWithIndex.map {
          case ((id, dist), r) =>
            (qid, (r + 1).toLong, id, math.rint(dist.toDouble * 1e4) / 1e4)
        }
      }
      .toDF("query_id", "rank", "id", "dist")
  }

  /** Point lookup by internal position — GetPoint (vamana.h:549-555). */
  def getPoint(pos: Int): Array[Float] = index.points(pos)

  /** Introspection (M1, vamana.h:41-53): one-row DataFrame of all params. */
  def describe(spark: SparkSession): DataFrame =
    ShardCore.paramsFrame(spark, params)
      .withColumn("medoid_pos", lit(index.medoid))
      .withColumn("data_size", lit(index.size.toLong))
      .withColumn("max_local_points", lit(maxLocalPoints))

  def pointsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    index.ids.zipWithIndex.map { case (id, pos) => (pos, id, index.points(pos)) }.toSeq
      .toDF("pos", "id", "vec")
  }

  def graphDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    index.graph.zipWithIndex.map { case (nbrs, pos) =>
      (pos, index.ids(pos), nbrs.map(index.ids(_)))
    }.toSeq.toDF("pos", "id", "neighbors")
  }

  /** S3 (save, vamana.h:390-424): parquet points + graph + one-row params,
    * one file each. */
  def save(spark: SparkSession, path: String): Unit = {
    // three independent write jobs (points / graph / params) — run them
    // concurrently so the single-task legs overlap instead of serializing
    // (the format_roundtrip lesson, guide §2.6)
    val legs: Seq[(String, () => DataFrame)] = Seq(
      "points" -> (() => pointsDF(spark)),
      "graph" -> (() => graphDF(spark)),
      "params" -> (() => describe(spark)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(legs.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    // No wall-clock timeout (a fixed 600 s Await would throw at scale while
    // the write jobs keep mutating the checkpoint dir in the background);
    // instead each leg runs under one cancellable job group — if any leg
    // fails, the others are cancelled and the pool is drained BEFORE the
    // exception propagates, so the caller never sees a half-written dir
    // with live writers.
    val groupId = s"vamana-save-${java.util.UUID.randomUUID()}"
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(legs.map { case (name, frame) => scala.concurrent.Future {
        spark.sparkContext.setJobGroup(groupId, s"vamana save $path", interruptOnCancel = true)
        try frame().repartition(1).write.mode("overwrite").parquet(s"$path/$name")
        finally spark.sparkContext.clearJobGroup()
      }}),
      scala.concurrent.duration.Duration.Inf)
    catch {
      case t: Throwable =>
        scala.util.Try(spark.sparkContext.cancelJobGroup(groupId))
        throw t
    } finally {
      pool.shutdown()
      pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
    }
  }
}

object VamanaModel {

  /** S2 (load, vamana.h:55-96): restore points/graph/params from parquet
    * into a broadcastable LocalIndex. Internal positions are persisted
    * explicitly, so the medoid and graph indices survive the roundtrip
    * exactly. (Beyond broadcast scale, persistence lives on the shard
    * models: [[FanoutModel.load]] never materializes a single index.) */
  def load(spark: SparkSession, path: String): VamanaModel = {
    import spark.implicits._
    val (params, p) = ShardCore.readParams(spark, path)
    // max_local_points joined the params schema later; older saves fall
    // back to the default rather than failing (same policy as fanout load).
    val maxLocal = ShardCore.paramOr(p, "max_local_points", VamanaIndexer.DefaultMaxLocalPoints)
    val pts = spark.read.parquet(s"$path/points")
      .select(col("pos"), col("id"), col("vec").cast("array<float>"))
      .as[(Int, Long, Array[Float])].collect().sortBy(_._1)
    val ids = pts.map(_._2)
    val pos = ids.zipWithIndex.toMap
    val graph = spark.read.parquet(s"$path/graph")
      .select(col("pos"), col("neighbors"))
      .as[(Int, Array[Long])].collect().sortBy(_._1)
      .map(_._2.flatMap(pos.get(_)))
    new VamanaModel(
      new LocalIndex(ids, pts.map(_._3), graph, p.getAs[Int]("medoid_pos"), params), maxLocal)
  }
}
