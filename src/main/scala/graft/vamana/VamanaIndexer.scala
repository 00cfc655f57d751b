package graft.vamana

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Vamana index build + serving, Spark-first.
  *
  * Build (the expensive part) is distributed: points are assigned to
  * `numShards` overlapping shards (each point lands in 2 shards so
  * cross-shard neighborhoods exist), each shard runs
  * [[VamanaKernel.build]] inside one task, and the per-shard adjacency
  * lists are merged + re-pruned to R with a distributed join — the
  * published DiskANN sharded-build recipe, with no shared mutable state
  * (vs the reference's `omp critical` global graph, vamana.h:266-288).
  *
  * Serving has two regimes, split by [[VamanaIndexer.DefaultMaxLocalPoints]]:
  *  - under the threshold the model materializes into one broadcast
  *    [[LocalIndex]] (n·(dim·4 + R·4) bytes — ~7.6 GB for 20M points at
  *    dim=64/R=32) and every query is answered shuffle-free;
  *  - above it NOTHING is collected to the driver: the model stays as
  *    points/graph DataFrames (the save format) and queries are served by
  *    shard-fanout search over the per-shard kernels built during fit —
  *    the working set per task is one shard, at any corpus size.
  */
object VamanaIndexer {

  /** Largest point count materialized into a single broadcast [[LocalIndex]].
    * Above this, `fit` keeps the model distributed (frames + shard fanout)
    * and never collects the corpus to the driver. */
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

  /** Fit a Vamana graph over (idCol: LONG, vecCol: array<float>). */
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
    val (ptsT, kParams) = metricTransform(pts, params)
    val n = ptsT.count()
    // A corpus beyond maxLocalPoints must NEVER reach the driver, shards
    // requested or not: numShards=1 (the default) routes to the sharded
    // build with enough shards that each (2-of-s overlapped) shard stays
    // under the threshold.
    val effShards =
      if (numShards > 1) numShards
      else if (n <= maxLocalPoints) 1
      else math.max(2, math.ceil(2.0 * n / math.max(1L, maxLocalPoints)).toInt)

    if (effShards <= 1) {
      // single-shard: build on a thread pool — the executor threads are
      // otherwise idle during a driver-local build. Output is identical
      // for any parallelism (kernel contract).
      val collected = ptsT.collect().sortBy(_._1)
      val par = math.min(Runtime.getRuntime.availableProcessors(), 16)
      val index = VamanaKernel.buildParallel(collected.map(_._1), collected.map(_._2), kParams, par)
      new VamanaModel(index, maxLocalPoints)
    } else {
      val s = effShards
      val seed = params.seed
      // deterministic 2-of-s overlap assignment per point id
      val assigned = ptsT.flatMap { case (id, vec) =>
        val h1 = MurmurHash3.productHash((id, seed))
        val h2 = MurmurHash3.productHash((id, seed + 1))
        val s1 = math.floorMod(h1, s)
        val s2 = math.floorMod(s1 + 1 + math.floorMod(h2, s - 1), s)
        Seq((s1, id, vec), (s2, id, vec))
      }
      // one kernel build per shard, kept as a cached dataset of
      // shard indexes — reused (a) to extract edges for the global merge and
      // (b) as the beyond-broadcast fanout serving model. Never collected.
      implicit val shardEnc: Encoder[(Int, LocalIndex)] =
        Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
      val shardIdx: Dataset[(Int, LocalIndex)] =
        assigned.groupByKey(_._1).mapGroups { (shard, it) =>
          val arr = it.toArray.sortBy(_._2)
          (shard, VamanaKernel.build(arr.map(_._2), arr.map(_._3),
            kParams.copy(seed = params.seed + shard)))
        }.cache()
      // union shard edge lists, dedup, then re-prune each merged list to R —
      // all keyed joins, nothing driver-side
      val prunedDs = mergeShardGraph(shardIdx, ptsT, params)
      if (n <= maxLocalPoints) {
        // gated materialization: the ONLY place the corpus reaches the driver
        val pruned = prunedDs.collect().toMap
        val collected = ptsT.collect().sortBy(_._1)
        val ids = collected.map(_._1)
        val pos = ids.zipWithIndex.toMap
        val graph = ids.map(id => pruned.getOrElse(id, Array.empty[Long]).flatMap(pos.get(_)))
        val medoid = VamanaKernel.centroidMedoid(collected.map(_._2))
        shardIdx.unpersist()
        new VamanaModel(
          new LocalIndex(ids, collected.map(_._2), graph, medoid, kParams), maxLocalPoints)
      } else {
        // beyond-broadcast: frames for save/export, shard kernels for serving
        VamanaModel.distributed(
          ModelFrames(ptsT.toDF("id", "vec"), prunedDs.toDF("id", "neighbors"), kParams),
          new FanoutModel(shardIdx, kParams, s, replicate2 = true))
      }
    }
  }

  /** Per-shard adjacency merged into one global external-id graph: union
    * shard edge lists, dedup, re-prune each merged list to R — all keyed
    * joins, nothing driver-side. Shared by the sharded fit and the
    * incremental-insert frame regeneration. */
  private[vamana] def mergeShardGraph(
      shardIdx: Dataset[(Int, LocalIndex)],
      ptsT: Dataset[(Long, Array[Float])],
      params: VamanaParams): Dataset[(Long, Array[Long])] = {
    val spark = shardIdx.sparkSession
    import spark.implicits._
    val shardAdj: Dataset[(Long, Array[Long])] = shardIdx.flatMap { case (_, idx) =>
      idx.graph.iterator.zipWithIndex.map { case (nbrs, i) => (idx.ids(i), nbrs.map(idx.ids(_))) }
    }
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
          params.alpha, params.maxDegree, params.paperPrune))
      }
  }

  /** Nearest-to-centroid medoid over a distributed point set — only scalars
    * ever reach the driver. Tie-break (lowest id) matches
    * [[VamanaKernel.centroidMedoid]] over id-sorted points.
    *
    * The centroid accumulates in EXACT decimal arithmetic: floats are
    * exactly representable as BigDecimal and decimal addition is
    * associative+commutative, so the result is bit-identical under ANY
    * partitioning — an unordered double reduce would drift with partition
    * count and break the engine's determinism contract. */
  private[graft] def distributedMedoidId(points: Dataset[(Long, Array[Float])]): Long = {
    val spark = points.sparkSession
    import spark.implicits._
    val (sumVec, cnt) = points.rdd
      .map { case (_, v) => (v.map(f => new java.math.BigDecimal(f.toDouble)), 1L) }
      .reduce { (a, b) =>
        val s = new Array[java.math.BigDecimal](a._1.length)
        var i = 0
        while (i < s.length) { s(i) = a._1(i).add(b._1(i)); i += 1 }
        (s, a._2 + b._2)
      }
    val centroid = sumVec.map(x => (x.doubleValue() / cnt).toFloat)
    val bc = spark.sparkContext.broadcast(centroid)
    points
      .map { case (id, v) => (VamanaKernel.l2sq(v, bc.value), id) }
      .reduce { (a, b) =>
        if (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)) a else b
      }._2
  }
}

/** The beyond-broadcast model frames: (id, vec) points and (id, neighbors)
  * external-id adjacency, both kernel-space (metric-transformed). This is
  * the save layout; nothing here is ever collected. */
final case class ModelFrames(points: DataFrame, graph: DataFrame, params: VamanaParams)

/** A fitted shard-fanout serving model: one [[LocalIndex]] per shard, held
  * as a CACHED dataset of kryo-serialized kernels — built exactly once at
  * fit/load time. Every search deserializes shard kernels partition-locally
  * and answers the whole broadcast query batch; the global answer is the
  * per-query merge of shard top-ks (a global top-k is contained in the union
  * of per-shard top-ks). Nothing is collected to the driver and no single
  * index must fit in one broadcast — the working set per task is one shard. */
final class FanoutModel private[vamana] (
    private[vamana] val shards: Dataset[(Int, LocalIndex)],
    val params: VamanaParams,
    /** Shard count the FIT used — the routing modulus for every later
      * insert. `shards.count()` is NOT this number once a delete removed
      * an entire shard; routing with the live count would scatter new
      * points into a different key space than the fitted corpus. */
    private[vamana] val numShardsFit: Int,
    /** True when the fit placed each point in TWO shards (the merged-graph
      * sharded build); false for the 1-of-s [[VamanaFanout.fit]]. Inserts
      * replicate exactly as the fit did, so inserted points get the same
      * shard redundancy as fitted ones. */
    private[vamana] val replicate2: Boolean) {

  /** Batch ANN top-k (same output shape as [[VamanaModel.search]]). Calling
    * it twice runs ZERO graph builds the second time (spec-asserted) — the
    * round-1 shape rebuilt every shard graph per call. */
  def search(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame =
    searchImpl(queries, k, queryIdCol, queryVecCol, startVecCol = None)

  /** Q2 semantics on the fanout path: each shard resolves the start vector
    * to its own nearest stored point; the merge keeps the best answers. */
  def searchWithStartPoint(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      startVecCol: String = "start_vec"): DataFrame =
    searchImpl(queries, k, queryIdCol, queryVecCol, Some(startVecCol))

  private def searchImpl(
      queries: DataFrame,
      k: Int,
      queryIdCol: String,
      queryVecCol: String,
      startVecCol: Option[String]): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val metric = params.metric
    val prepared: Array[(Long, Array[Float], Array[Float])] = startVecCol match {
      case None =>
        queries.select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"))
          .as[(Long, Array[Float])].collect().sortBy(_._1)
          .map { case (id, v) => (id, MetricReduction.prepareQuery(v, metric), null) }
      case Some(sc) =>
        queries.select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"),
            col(sc).cast("array<float>"))
          .as[(Long, Array[Float], Array[Float])].collect().sortBy(_._1)
          .map { case (id, v, sv) =>
            (id, MetricReduction.prepareQuery(v, metric), MetricReduction.prepareQuery(sv, metric))
          }
    }
    require(prepared.length <= 10000, "fanout broadcasts the query batch; keep it bounded")
    val bcQ = spark.sparkContext.broadcast(prepared)
    val answers = shards.flatMap { case (_, idx) =>
      bcQ.value.iterator.flatMap { case (qid, qvec, svec) =>
        val res =
          if (svec == null) VamanaKernel.search(idx, qvec, k)
          else VamanaKernel.searchWithStartPoint(idx, svec, qvec, k)
        res.iterator.map { case (id, dist) => (qid, id, dist.toDouble) }
      }
    }.toDF("query_id", "id", "dist")
    // overlapping shards may answer the same point twice
    FanoutModel.rankMerge(answers, k)
  }

  /** Range (radius) query on the fanout path — the serving regime where
    * range search is embarrassingly parallel: radius membership is a
    * GLOBAL predicate, so each shard's in-range set is exactly the global
    * answer restricted to that shard and the merge is a plain union (the
    * replicate2 layout may answer a point twice → dedup by min dist). No
    * top-k cut and no rank merge — unlike kNN, shards cannot disagree
    * about membership, so a full-beam per-shard answer makes the union
    * provably the exact global range set (the fanout range gate's
    * theorem). */
  def rangeSearch(
      queries: DataFrame,
      radiusSq: Double,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = {
    require(params.metric == "l2", "range radius is a squared-L2 bound; fit with metric=l2")
    val spark = shards.sparkSession
    import spark.implicits._
    val prepared = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    require(prepared.length <= 10000, "fanout broadcasts the query batch; keep it bounded")
    val bcQ = spark.sparkContext.broadcast(prepared)
    val r = radiusSq.toFloat
    val answers = shards.flatMap { case (_, idx) =>
      bcQ.value.iterator.flatMap { case (qid, qvec) =>
        VamanaKernel.rangeSearch(idx, qvec, r).iterator.map {
          case (id, dist) => (qid, id, dist.toDouble)
        }
      }
    }.toDF("query_id", "id", "dist")
    answers.groupBy(col("query_id"), col("id")).agg(min(col("dist")).as("dist"))
      .select(col("query_id"), col("id"), (expr("rint(dist * 10000)") / 1e4).as("dist"))
      .orderBy(col("query_id"), col("id"))
  }

  /** A new model over the SAME fitted shard graphs, with each kernel
    * re-parameterized to beam = shard size — the full-beam exactness
    * regime of the hash-checked gates, without a refit. The mapped
    * dataset is cached (one kernel per shard, same footprint as the
    * source shards). */
  private[graft] def withFullBeamShards(): FanoutModel = {
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val s2 = shards.map { case (s, idx) =>
      (s, new LocalIndex(idx.ids, idx.points, idx.graph, idx.medoid,
        idx.params.copy(efSearch = idx.size)))
    }.cache()
    s2.count()
    new FanoutModel(s2, params, numShardsFit, replicate2)
  }

  /** Soft cap on the broadcast allowed-id set: 5M sorted longs ≈ 40 MB —
    * the mid-selectivity band where per-shard filtering pays is exactly
    * where the set still broadcasts. Above it selectivity is high enough
    * that plain [[search]] + post-filter keeps recall (the adaptive
    * strategy's upper regime); below [[VamanaOps.ExactScanMaxAllowed]]
    * the exact scan wins outright. */
  val MaxBroadcastAllowed: Int = 5000000

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
    if (allowedIds.length > MaxBroadcastAllowed) {
      val spark = shards.sparkSession
      import spark.implicits._
      postFilterSearch(queries, spark.createDataset(allowedIds).toDF("id"),
        deny = false, k, queryIdCol, queryVecCol, fullBeam)
    } else searchIdFiltered(queries, allowedIds, deny = false, k, queryIdCol, queryVecCol, fullBeam)

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
    if (deniedIds.length > MaxBroadcastAllowed) {
      val spark = shards.sparkSession
      import spark.implicits._
      postFilterSearch(queries, spark.createDataset(deniedIds).toDF("id"),
        deny = true, k, queryIdCol, queryVecCol, fullBeam)
    } else searchIdFiltered(queries, deniedIds, deny = true, k, queryIdCol, queryVecCol, fullBeam)

  /** Live external-id count of the fitted index (distributed; the 2-of-s
    * replicated fit counts distinct ids, not shard rows). Memoized — the
    * adaptive filtered path reads it once per model. */
  lazy val totalPoints: Long =
    if (replicate2) idsDF.count()
    else shards.map { case (_, idx) => idx.size.toLong }(Encoders.scalaLong)
      .reduce(_ + _)

  /** All external ids in the fitted index as a distributed one-column
    * frame `id` — the complement side of the adaptive filtered path. */
  private[vamana] def idsDF: DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val raw = shards.flatMap { case (_, idx) => idx.ids.iterator }.toDF("id")
    if (replicate2) raw.distinct() else raw
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
    val spark = shards.sparkSession
    import spark.implicits._
    val metric = params.metric
    val prepared = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id, MetricReduction.prepareQuery(v, metric)) }
    require(prepared.length <= 10000, "fanout broadcasts the query batch; keep it bounded")
    val bcQ = spark.sparkContext.broadcast(prepared)
    val fb = fullBeam
    val kk = k
    shards.flatMap { case (_, idx) =>
      bcQ.value.iterator.map { case (qid, qvec) =>
        val (_, hops, comps) =
          VamanaKernel.searchCounted(idx, qvec, kk, if (fb) idx.size else 0)
        (qid, hops, comps)
      }
    }.toDF("query_id", "hops", "comps")
      .groupBy(col("query_id"))
      .agg(sum(col("hops")).as("total_hops"), sum(col("comps")).as("total_comps"),
        max(col("hops")).as("max_shard_hops"), max(col("comps")).as("max_shard_comps"))
      .orderBy(col("query_id"))
  }

  def searchFiltered(queries: DataFrame, allowed: DataFrame, k: Int,
      fullBeam: Boolean): DataFrame =
    adaptiveFiltered(queries, allowed, deny = false, k, fullBeam)

  /** [[searchDenied]] with the denied ids as a DataFrame — same adaptive
    * branch choice, mirrored. */
  def searchDenied(queries: DataFrame, denied: DataFrame, k: Int,
      fullBeam: Boolean): DataFrame =
    adaptiveFiltered(queries, denied, deny = true, k, fullBeam)

  /** `band` defaults to [[MaxBroadcastAllowed]]; the test hook narrows it
    * so the complement and post-filter branches are exercised at spec
    * scale instead of only beyond 5M ids. */
  private[vamana] def adaptiveFiltered(queries: DataFrame, filter: DataFrame, deny: Boolean,
      k: Int, fullBeam: Boolean, band: Int = MaxBroadcastAllowed): DataFrame = {
    import org.apache.spark.sql.functions.col
    // distinct BEFORE counting: duplicate ids in the caller's frame would
    // inflate n (wrongly skipping the exact broadcast branch), corrupt the
    // complement arithmetic (totalPoints - n could go negative), and ride
    // duplicated through collectIds' broadcast
    val ids = filter.select(col(filter.columns.head).cast("long").as("id")).distinct()
    val n = ids.count()
    def collectIds(df: DataFrame): Array[Long] = {
      val spark = shards.sparkSession
      import spark.implicits._
      df.select(col("id")).as[Long].collect()
    }
    if (n <= band)
      searchIdFiltered(queries, collectIds(ids), deny, k, "query_id", "query_vec", fullBeam)
    else if (totalPoints - n <= band)
      // the complement is the broadcastable side: flip the polarity.
      // Anti-join runs distributed; only the (bounded) complement lands
      // on the driver.
      searchIdFiltered(queries, collectIds(idsDF.join(ids, Seq("id"), "left_anti")),
        !deny, k, "query_id", "query_vec", fullBeam)
    else postFilterSearch(queries, ids, deny, k, "query_id", "query_vec", fullBeam)
  }

  /** Overfetch multiple for the beyond-broadcast post-filter branch: at
    * the selectivity that reaches it (both filter sides > 5M) a k×8
    * fetch retains recall while keeping the merge bounded. */
  val PostFilterOverfetch: Int = 8

  /** The beyond-broadcast branch with ESCALATING overfetch: fetch k×mult,
    * post-filter with a distributed semi/anti-join, and — instead of
    * silently returning short or inexact results when fewer than k
    * survivors land in the overfetched pool — re-fetch the batch at 8×
    * the multiple until every query holds k survivors or the fetch covers
    * the whole index (at which point the full-beam form is provably exact
    * filtered kNN and a still-short query truly has < k allowed ids).
    * Escalation is geometric, so the worst case is log₈(n/k) passes, and
    * the expected case at the selectivity that reaches this branch (both
    * filter sides beyond the broadcast band) is the single ×8 pass. Each
    * attempt's filtered pool is persisted so the survivor check and the
    * returned frame share one fetch. */
  private def postFilterSearch(queries: DataFrame, filterIds: DataFrame, deny: Boolean,
      k: Int, queryIdCol: String, queryVecCol: String, fullBeam: Boolean): DataFrame = {
    val nQueries = queries.select(col(queryIdCol)).distinct().count()
    val total = totalPoints
    var mult = PostFilterOverfetch.toLong
    var result: DataFrame = null
    var prev: DataFrame = null
    while (result == null) {
      val fetchK = math.min(math.min(k.toLong * mult, total), Int.MaxValue.toLong).toInt
      val fetched = searchAtBeam(queries, fetchK, queryIdCol, queryVecCol, fullBeam)
      val kept = FanoutModel.pinPool(
        fetched.join(filterIds, Seq("id"), if (deny) "left_anti" else "left_semi")
          .persist())
      if (prev != null) { prev.unpersist(blocking = false); prev = null }
      val exhaustive = fetchK >= total
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

  /** [[search]] with an optional full-beam override — the post-filter
    * branch's fetch stage. */
  private def searchAtBeam(queries: DataFrame, k: Int, queryIdCol: String,
      queryVecCol: String, fullBeam: Boolean): DataFrame =
    if (!fullBeam) searchImpl(queries, k, queryIdCol, queryVecCol, startVecCol = None)
    else searchIdFiltered(queries, Array.empty[Long], deny = true, k,
      queryIdCol, queryVecCol, fullBeam = true)

  /** The broadcast-band core: `filterIds` rides to every shard as sorted
    * longs; `deny` picks membership vs non-membership as the ranking
    * predicate for [[VamanaKernel.searchFiltered]] (traversal always
    * unfiltered). */
  private def searchIdFiltered(
      queries: DataFrame,
      filterIds: Array[Long],
      deny: Boolean,
      k: Int,
      queryIdCol: String,
      queryVecCol: String,
      fullBeam: Boolean): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val metric = params.metric
    val prepared: Array[(Long, Array[Float])] = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id, MetricReduction.prepareQuery(v, metric)) }
    require(prepared.length <= 10000, "fanout broadcasts the query batch; keep it bounded")
    val sorted = { val a = filterIds.clone(); java.util.Arrays.sort(a); a }
    val bcQ = spark.sparkContext.broadcast(prepared)
    val bcA = spark.sparkContext.broadcast(sorted)
    val denyFlag = deny
    val answers = shards.flatMap { case (_, idx) =>
      val ids = bcA.value
      val pred = (id: Long) => (java.util.Arrays.binarySearch(ids, id) >= 0) != denyFlag
      val beam = if (fullBeam) idx.size else 0
      bcQ.value.iterator.flatMap { case (qid, qvec) =>
        VamanaKernel.searchFiltered(idx, qvec, k, pred, beam)
          .iterator.map { case (id, dist) => (qid, id, dist.toDouble) }
      }
    }.toDF("query_id", "id", "dist")
    FanoutModel.rankMerge(answers, k)
  }

  /** Release the cached shard dataset (cache-lifecycle surface for tests
    * and long-lived services; searching after this rebuilds nothing but
    * re-reads whatever produced the shards). */
  def unpersist(): Unit = { val _ = shards.unpersist() }

  /** Distributed incremental insert — the daily-embedding-batch shape at
    * 100 TB: new points are routed by the FIT-TIME shard count and seeded
    * hash (with the fit's 2-of-s replication when the fit overlapped
    * shards), each shard kernel runs [[VamanaKernel.insert]] partition-
    * locally (zero full rebuilds, spec-gated), and the result is a new
    * fitted model; this model keeps serving unchanged. A batch routed to a
    * shard whose row no longer exists (its whole membership was deleted)
    * RECREATES that shard with a fresh kernel build — never silently
    * dropped. `ip` is rejected: its MIPS reduction bakes in the global max
    * corpus norm at fit time, which a later batch could invalidate — refit
    * for ip. */
  def insert(newPoints: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): FanoutModel = {
    require(params.metric != "ip",
      "incremental insert is not defined for metric=ip (fit-time norm augmentation); refit instead")
    val spark = shards.sparkSession
    import spark.implicits._
    val s = numShardsFit
    val rep2 = replicate2 && s >= 2
    val seed = params.seed
    val kp = params
    val pts = newPoints
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val (ptsT, _) = VamanaIndexer.metricTransform(pts, params)
    // the fit's exact assignment: s1 always; s2 too when the fit overlapped
    val assigned = ptsT.flatMap { case (id, vec) =>
      val h1 = MurmurHash3.productHash((id, seed))
      val s1 = math.floorMod(h1, s)
      if (!rep2) Seq((s1, id, vec))
      else {
        val h2 = MurmurHash3.productHash((id, seed + 1))
        val s2 = math.floorMod(s1 + 1 + math.floorMod(h2, s - 1), s)
        Seq((s1, id, vec), (s2, id, vec))
      }
    }.groupByKey(_._1)
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val updated = shards.groupByKey(_._1)
      .cogroup(assigned) { (shard, idxIt, newIt) =>
        val batch = newIt.toArray.sortBy(_._2)
        val idxs = idxIt.toArray
        if (idxs.isEmpty) {
          // shard row gone (full-membership delete): rebuild it from the batch
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
    new FanoutModel(updated, params, numShardsFit, replicate2)
  }

  /** Shard-size REBALANCE for long-running mutation streams: hash routing
    * keeps expected sizes even, but a skewed insert stream (every batch
    * replicated 2-of-s lands some shards hotter) or full-membership
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
  /** Live per-shard point counts (one int per shard row — driver-trivial
    * at any corpus size). The observable [[rebalance]] acts on. */
  def shardSizes: Array[Int] =
    shards.map { case (_, idx) => idx.size }(Encoders.scalaInt).collect().sorted

  def rebalance(maxRatio: Double = 2.0, maxPasses: Int = 4): FanoutModel = {
    require(maxRatio >= 1.0, "maxRatio < 1 would split forever")
    val spark = shards.sparkSession
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val sizeEnc: Encoder[(Int, Int)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    val kp = params
    var cur = shards
    var pass = 0
    var done = false
    while (pass < maxPasses && !done) {
      val sizes = cur.map { case (s, idx) => (s, idx.size) }(sizeEnc).collect()
      val mean = sizes.map(_._2.toDouble).sum / sizes.length
      val big = sizes.filter { case (_, n) => n > maxRatio * mean && n >= 2 }.map(_._1)
      if (big.isEmpty) done = true
      else {
        val maxId = sizes.map(_._1).max
        val freshIds = big.sorted.zipWithIndex
          .map { case (s, i) => (s, maxId + 1 + i) }.toMap
        val bcFresh = spark.sparkContext.broadcast(freshIds)
        val next = cur.flatMap { case (s, idx) =>
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
        if (cur ne shards) cur.unpersist()
        cur = next
      }
      pass += 1
    }
    if (cur eq shards) this else new FanoutModel(cur, params, numShardsFit, replicate2)
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
    * augmented different max norms. */
  def merge(other: FanoutModel): FanoutModel = {
    require(params.metric != "ip" && other.params.metric != "ip",
      "merge is not defined for metric=ip (per-fit norm augmentation); refit instead")
    require(params.metric == other.params.metric,
      s"metric mismatch: ${params.metric} vs ${other.params.metric} — a cosine fit " +
        "stores normalized kernel-space points, so unioning it with an l2 fit would " +
        "serve the other side's differently-transformed points against queries " +
        "prepared with this model's metric (mirrors VamanaKernel.merge's guard)")
    require(params.dim == other.params.dim,
      s"dimension mismatch: ${params.dim} vs ${other.params.dim}")
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val idEnc = Encoders.scalaLong
    val myIds = shards.flatMap { case (_, idx) => idx.ids.iterator }(idEnc).toDF("id")
    val otherIds = other.shards.flatMap { case (_, idx) => idx.ids.iterator }(idEnc).toDF("id")
    require(myIds.join(otherIds, "id").isEmpty,
      "id sets overlap; merge requires disjoint indexes (dedup first, or delete one side's copies)")
    val sizeEnc = Encoders.scalaInt
    val myMax = shards.map(_._1)(sizeEnc).collect().max
    val otherMin = other.shards.map(_._1)(sizeEnc).collect().min
    val offset = myMax + 1 - otherMin
    val rekeyed = other.shards.map { case (s, idx) => (s + offset, idx) }
    val merged = shards.union(rekeyed).cache()
    merged.count() // materialize; both inputs stay independently usable
    new FanoutModel(merged, params, numShardsFit, replicate2)
  }

  /** Distributed delete: each shard drops its own members via
    * [[VamanaKernel.delete]] (eager hole-repair + compaction, zero
    * rebuilds); a shard whose entire membership is deleted disappears.
    * The delete batch is broadcast — bounded like any delete list. */
  def delete(deleteIds: Array[Long]): FanoutModel = {
    val spark = shards.sparkSession
    import spark.implicits._
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
    // fit-time shard count is retained: routing stays in the fitted key
    // space even when a shard row disappeared (insert recreates it)
    new FanoutModel(updated, params, numShardsFit, replicate2)
  }

  /** S3 for the fanout path: one parquet of per-shard model rows (vectors +
    * external-id adjacency + per-shard medoid/seed) plus a one-row global
    * params file. Written straight from the shard dataset — distributed. */
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
    val p = params
    Seq((p.dim, p.maxDegree, p.beamWidth, p.alpha.toDouble, p.efSearch, p.seed,
      p.paperPrune, p.metric, numShardsFit, replicate2))
      .toDF("dim", "max_degree", "beam_width", "alpha", "ef_search", "seed",
        "paper_prune", "metric", "num_shards", "replicate2")
      .repartition(1).write.mode("overwrite").parquet(s"$path/params")
  }
}

object FanoutModel {

  /** The global merge of per-shard (query_id, id, dist) answers: dedup a
    * point answered by several shards to its min dist, rank on the
    * UNROUNDED distances, keep the first k, round only the emitted column
    * (rounding first could order two points differently from the exact
    * kNN the full-beam gates compare against when true distances differ
    * only past 4 decimals at the rank-k boundary). */
  private[vamana] def rankMerge(answers: DataFrame, k: Int): DataFrame = {
    val merged = answers.groupBy(col("query_id"), col("id")).agg(min(col("dist")).as("dist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
    merged
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"),
        (expr("rint(dist * 10000)") / 1e4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Post-filter pools [[FanoutModel.postFilterSearch]] persists so the
    * survivor check and the returned frame share one fetch; bounded at
    * nQueries × k × mult rows each. Released by
    * [[VamanaOps.clearCaches]] (the Multimodal pinned-frame pattern). */
  private[vamana] val pinnedPools = scala.collection.mutable.ListBuffer.empty[DataFrame]

  private[vamana] def pinPool(df: DataFrame): DataFrame =
    pinnedPools.synchronized { pinnedPools += df; df }

  private[vamana] def clearPinned(): Unit = pinnedPools.synchronized {
    for (df <- pinnedPools) scala.util.Try(df.unpersist())
    pinnedPools.clear()
  }

  /** Deterministic locality-aware balanced split of one shard's
    * membership for [[FanoutModel.rebalance]]: 2-means (seeded from point
    * 0 and its farthest member — no RNG — then 3 Lloyd refinements), then
    * a BALANCED MEDIAN CUT on the margin d²(p,c0) − d²(p,c1) with
    * ascending-id tie-break: the ⌊n/2⌋ points most c0-side form one half.
    * Locality of 2-means (graph quality of the rebuilt halves), size
    * guarantee of the cut (raw 2-means can split 90/10 on skewed data —
    * useless for a size rebalance). Each half is emitted sorted by id. */
  private[vamana] def splitMembership(idx: LocalIndex)
      : (Array[(Long, Array[Float])], Array[(Long, Array[Float])]) = {
    val n = idx.size
    val pts = idx.points
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
      s
    }
    var c0 = pts(0)
    var far = 0
    var fd = -1.0
    var i = 0
    while (i < n) {
      val d = d2(pts(i), c0)
      if (d > fd) { fd = d; far = i }
      i += 1
    }
    var c1 = pts(far)
    var it = 0
    while (it < 3) {
      val s0 = new Array[Double](c0.length)
      val s1 = new Array[Double](c0.length)
      var n0 = 0
      var n1 = 0
      i = 0
      while (i < n) {
        val p = pts(i)
        val toFirst = d2(p, c0) <= d2(p, c1)
        val acc = if (toFirst) s0 else s1
        var j = 0
        while (j < p.length) { acc(j) += p(j); j += 1 }
        if (toFirst) n0 += 1 else n1 += 1
        i += 1
      }
      if (n0 > 0) c0 = s0.map(v => (v / n0).toFloat)
      if (n1 > 0) c1 = s1.map(v => (v / n1).toFloat)
      it += 1
    }
    val order = Array.range(0, n)
      .sortBy(i => (d2(pts(i), c0) - d2(pts(i), c1), idx.ids(i)))
    val half = n / 2
    def toPairs(ix: Array[Int]) =
      ix.map(i => (idx.ids(i), pts(i))).sortBy(_._1)
    (toPairs(order.take(half)), toPairs(order.drop(half)))
  }

  /** S2 for the fanout path: reassemble each shard kernel inside one task,
    * cache — searches after load run zero builds, zero per-query I/O. */
  def load(spark: SparkSession, path: String): FanoutModel = {
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
    // num_shards/replicate2 entered the params schema after the first
    // checkpoint format shipped; older saves lack them, so fall back to
    // the observable shard count / non-replicated rather than failing.
    val fields = p.schema.fieldNames.toSet
    val numShardsFit =
      if (fields.contains("num_shards")) p.getAs[Int]("num_shards")
      else shards.count().toInt
    val rep2 =
      if (fields.contains("replicate2")) p.getAs[Boolean]("replicate2") else false
    new FanoutModel(shards, params, numShardsFit, rep2)
  }
}

/** Shard-fanout ANN fit/search — the beyond-broadcast scale path. */
object VamanaFanout {

  /** Build one Vamana kernel per shard (each point in exactly one shard),
    * distributed, materialized ONCE into the returned model's cache. Shard
    * builds use the batch-synchronous parallel kernel so a machine with
    * more cores than shards isn't idle. */
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
    val seed = params.seed
    val par = math.max(2, Runtime.getRuntime.availableProcessors() / math.max(1, numShards))
    implicit val shardEnc: Encoder[(Int, LocalIndex)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])
    val shards = ptsT
      .groupByKey { case (id, _) => math.floorMod(MurmurHash3.productHash((id, seed)), numShards) }
      .mapGroups { (shard, it) =>
        val arr = it.toArray.sortBy(_._1)
        (shard, VamanaKernel.buildParallel(arr.map(_._1), arr.map(_._2),
          kParams.copy(seed = seed + shard), par))
      }.cache()
    shards.count() // force the builds NOW, exactly once
    new FanoutModel(shards, params = kParams, numShards, replicate2 = false)
  }

  /** One-shot fit+search (round-1 signature, kept for callers that want a
    * single ephemeral query batch; long-lived serving should hold the
    * [[fit]] result — e.g. [[VamanaOps]] caches it per dataset). */
  def search(
      points: DataFrame,
      queries: DataFrame,
      k: Int,
      params: VamanaParams,
      numShards: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    fit(points, params, numShards, idCol, vecCol).search(queries, k)
}

/** A fitted Vamana index. Under the size threshold it wraps a broadcastable
  * [[LocalIndex]] (shuffle-free serving); above it, the model stays as
  * distributed frames and serving routes to the shard-fanout path. Persists
  * ALL params including efSearch — the reference forgets it on save/load,
  * leaving search width uninitialized (vamana.h:397-405, 62-68;
  * SURVEY.md Appendix A.1). */
final class VamanaModel private (
    private val localOpt: Option[LocalIndex],
    private val framesOpt: Option[ModelFrames],
    private val fanoutOpt: Option[FanoutModel],
    /** Broadcast threshold the FIT was called with — the growth gate for
      * local inserts. A custom-threshold fit gets a matching insert gate,
      * not the library default. */
    private val maxLocalPoints: Long) extends Serializable {

  def this(index: LocalIndex) = this(Some(index), None, None, VamanaIndexer.DefaultMaxLocalPoints)

  def this(index: LocalIndex, maxLocalPoints: Long) =
    this(Some(index), None, None, maxLocalPoints)

  /** True when the model never materialized a driver-side index. */
  def isDistributed: Boolean = localOpt.isEmpty

  /** The broadcastable kernel, when this model holds one — package-private
    * so [[VamanaOps]] can re-parameterize the SAME fitted graph (e.g. a
    * full-beam exactness gate) without a refit. */
  private[vamana] def localIndex: Option[LocalIndex] = localOpt

  /** Kernel-space params — available without materializing anything, for
    * local and distributed models alike. */
  def params: VamanaParams = localOpt.map(_.params).getOrElse(framesOpt.get.params)

  /** Release any cached state a distributed model holds (the fanout shard
    * dataset); local models hold nothing cached. */
  def unpersist(): Unit = fanoutOpt.foreach(_.unpersist())

  /** Incremental insert (FreshDiskANN semantics — the reference can only
    * rebuild): returns a NEW model containing the batch; this model keeps
    * serving unchanged. Local models insert into a copy of the kernel
    * (driver-resident by definition); distributed models route to the
    * shard-local [[FanoutModel.insert]]. */
  def insert(newPoints: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): VamanaModel = localOpt match {
    case None =>
      val f = fanoutOpt.get.insert(newPoints, idCol, vecCol)
      // regenerate the save-time frames from the UPDATED shards, lazily —
      // a save() of the new model must include the batch
      val spark = newPoints.sparkSession
      import spark.implicits._
      val old = framesOpt.get
      val pts = newPoints
        .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
        .as[(Long, Array[Float])]
      val (batchT, _) = VamanaIndexer.metricTransform(pts, old.params)
      val allPts = old.points
        .select(col("id").cast("long"), col("vec").cast("array<float>"))
        .as[(Long, Array[Float])]
        .union(batchT)
      val graph = VamanaIndexer.mergeShardGraph(f.shards, allPts, old.params)
      VamanaModel.distributed(
        ModelFrames(allPts.toDF("id", "vec"), graph.toDF("id", "neighbors"), old.params), f)
    case Some(idx) =>
      require(idx.params.metric != "ip",
        "incremental insert is not defined for metric=ip (fit-time norm augmentation); refit instead")
      val spark = newPoints.sparkSession
      import spark.implicits._
      val pts = newPoints
        .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
        .as[(Long, Array[Float])]
      // the grown index must stay under the broadcast threshold the fit was
      // called with — beyond it the model should have been (re)fit
      // distributed in the first place
      require(idx.size + pts.count() <= maxLocalPoints,
        "insert would grow the local index beyond maxLocalPoints; refit with shards " +
          "or serve via a fanout model")
      val (ptsT, _) = VamanaIndexer.metricTransform(pts, idx.params)
      val batch = ptsT.collect().sortBy(_._1)
      new VamanaModel(VamanaKernel.insert(idx, batch.map(_._1), batch.map(_._2)), maxLocalPoints)
  }

  /** Merge another fitted model into this one (DiskANN shard-graph merge
    * — daily builds folding into the serving index without a rebuild;
    * see [[VamanaKernel.merge]] for the algorithm and its provenance).
    * Broadcast-scale models only: at fanout scale a merge IS a shard
    * union — route new shards through [[FanoutModel.insert]] +
    * [[FanoutModel.rebalance]] instead. Not defined for metric=ip: the
    * two fits augmented with DIFFERENT max-norm constants, so their
    * kernel spaces differ — refit. Copy-on-write: both inputs keep
    * serving. */
  def merge(other: VamanaModel): VamanaModel = (localOpt, other.localIndex) match {
    case (Some(idx), Some(oidx)) =>
      require(idx.params.metric != "ip" && oidx.params.metric != "ip",
        "merge is not defined for metric=ip (per-fit norm augmentation); refit instead")
      require(idx.size + oidx.size <= maxLocalPoints,
        "merge would grow the local index beyond maxLocalPoints; refit with shards " +
          "or serve via a fanout model")
      new VamanaModel(VamanaKernel.merge(idx, oidx), maxLocalPoints)
    case (None, None) =>
      // fanout × fanout: shard-union merge + regenerated save-time frames
      val f = fanoutOpt.get.merge(other.fanoutOpt.get)
      val old = framesOpt.get
      val oth = other.framesOpt.get
      val spark = old.points.sparkSession
      import spark.implicits._
      val allPts = old.points.union(oth.points)
        .select(col("id").cast("long"), col("vec").cast("array<float>"))
        .as[(Long, Array[Float])]
      val graph = VamanaIndexer.mergeShardGraph(f.shards, allPts, old.params)
      VamanaModel.distributed(
        ModelFrames(allPts.toDF("id", "vec"), graph.toDF("id", "neighbors"), old.params), f)
    case _ => throw new IllegalStateException(
      "merge requires both models in the same regime (both broadcast or both fanout); " +
        "refit the smaller side, or insert its points instead")
  }

  /** Delete by external id (FreshDiskANN semantics — the reference has no
    * delete at all): copy-on-write like [[insert]]; this model keeps
    * serving. Distributed models delete shard-locally and regenerate the
    * save-time frames from the surviving shards. */
  def delete(deleteIds: Array[Long]): VamanaModel = localOpt match {
    case Some(idx) => new VamanaModel(VamanaKernel.delete(idx, deleteIds), maxLocalPoints)
    case None =>
      val f = fanoutOpt.get.delete(deleteIds)
      val old = framesOpt.get
      val spark = old.points.sparkSession
      import spark.implicits._
      val ptsT = old.points
        .where(!col("id").isInCollection(deleteIds.toSeq))
        .select(col("id").cast("long"), col("vec").cast("array<float>"))
        .as[(Long, Array[Float])]
      val graph = VamanaIndexer.mergeShardGraph(f.shards, ptsT, old.params)
      VamanaModel.distributed(
        ModelFrames(ptsT.toDF("id", "vec"), graph.toDF("id", "neighbors"), old.params), f)
  }

  def index: LocalIndex = localOpt.getOrElse(throw new IllegalStateException(
    "model exceeds maxLocalPoints and was never collected to the driver; " +
      "serve via search() (fanout) or save() the frames"))

  /** Batch ANN top-k: broadcast the index, search per query partition-local —
    * no shuffle at all; output shape matches [[graft.operators.Knn.knnExact]]
    * so recall joins line up. Distributed models route to fanout serving. */
  def search(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = localOpt match {
    case None => fanoutOpt.get.search(queries, k, queryIdCol, queryVecCol)
    case Some(idx) =>
      val spark = queries.sparkSession
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(idx)
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
    * disk layout would pay per query. Broadcast-scale models only — a
    * fanout model's per-shard stats are the per-shard kernels' numbers. */
  def searchStats(
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      beamOverride: Int = 0): DataFrame = {
    val idx = localOpt.getOrElse(throw new IllegalStateException(
      "searchStats reads the broadcast kernel; distributed models report per shard"))
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(idx)
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
    * traversal per partition against the broadcast index (no shuffle);
    * distributed models route to the shard-union path
    * ([[FanoutModel.rangeSearch]]). Output (query_id, id, dist) ascending
    * by id within query — id-ordered, not rank-ordered, because a range
    * result is a SET (its size is data-dependent, not a parameter). */
  def rangeSearch(
      queries: DataFrame,
      radiusSq: Double,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec"): DataFrame = localOpt match {
    case None => fanoutOpt.get.rangeSearch(queries, radiusSq, queryIdCol, queryVecCol)
    case Some(idx) =>
      require(idx.params.metric == "l2", "range radius is a squared-L2 bound; fit with metric=l2")
      val spark = queries.sparkSession
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(idx)
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
      startVecCol: String = "start_vec"): DataFrame = localOpt match {
    case None => fanoutOpt.get.searchWithStartPoint(queries, k, queryIdCol, queryVecCol, startVecCol)
    case Some(idx) =>
      val spark = queries.sparkSession
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(idx)
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

  /** Introspection (M1, vamana.h:41-53): one-row DataFrame of all params.
    * For a distributed model the medoid position is computed with two
    * aggregate jobs (centroid argmin + id rank) — still no collect. */
  def describe(spark: SparkSession): DataFrame = {
    import spark.implicits._
    localOpt match {
      case Some(idx) =>
        val p = idx.params
        Seq((p.dim, p.maxDegree, p.beamWidth, p.alpha.toDouble, p.efSearch, p.seed,
          p.paperPrune, p.metric, idx.medoid, idx.size.toLong, maxLocalPoints))
          .toDF("dim", "max_degree", "beam_width", "alpha", "ef_search", "seed",
            "paper_prune", "metric", "medoid_pos", "data_size", "max_local_points")
      case None =>
        val f = framesOpt.get
        val pts = f.points.select(col("id").cast("long"), col("vec").cast("array<float>"))
          .as[(Long, Array[Float])]
        val medoidId = VamanaIndexer.distributedMedoidId(pts)
        val medoidPos = pts.filter(_._1 < medoidId).count().toInt
        val n = f.points.count()
        val p = f.params
        Seq((p.dim, p.maxDegree, p.beamWidth, p.alpha.toDouble, p.efSearch, p.seed,
          p.paperPrune, p.metric, medoidPos, n, maxLocalPoints))
          .toDF("dim", "max_degree", "beam_width", "alpha", "ef_search", "seed",
            "paper_prune", "metric", "medoid_pos", "data_size", "max_local_points")
    }
  }

  /** (pos, id, vec) for a distributed model with pos = 0-based rank of id,
    * assigned distributively: a range sort by id, then `RDD.zipWithIndex`
    * (per-partition counts + broadcast offsets — one extra count job). The
    * round-2 shape was `row_number` over a global no-partition window, which
    * funnels the whole corpus through ONE task; this never does. */
  private def indexedPoints(spark: SparkSession): DataFrame = {
    import spark.implicits._
    framesOpt.get.points
      .select(col("id").cast("long"), col("vec").cast("array<float>"))
      .as[(Long, Array[Float])]
      .orderBy(col("id"))
      .rdd.zipWithIndex
      .map { case ((id, vec), i) => (i.toInt, id, vec) }
      .toDF("pos", "id", "vec")
  }

  def pointsDF(spark: SparkSession): DataFrame = localOpt match {
    case Some(idx) =>
      import spark.implicits._
      idx.ids.zipWithIndex.map { case (id, pos) => (pos, id, idx.points(pos)) }.toSeq
        .toDF("pos", "id", "vec")
    case None => indexedPoints(spark)
  }

  def graphDF(spark: SparkSession): DataFrame = localOpt match {
    case Some(idx) =>
      import spark.implicits._
      idx.graph.zipWithIndex.map { case (nbrs, pos) =>
        (pos, idx.ids(pos), nbrs.map(idx.ids(_)))
      }.toSeq.toDF("pos", "id", "neighbors")
    case None =>
      val posOf = indexedPoints(spark).select(col("pos"), col("id"))
      // left join from points: every pos gets a row even if the merge left a
      // node edgeless — a dropped row would shift positions on load
      posOf.join(framesOpt.get.graph, Seq("id"), "left")
        .select(col("pos"), col("id"),
          coalesce(col("neighbors"), array().cast("array<bigint>")).as("neighbors"))
  }

  /** S3 (save, vamana.h:390-424): parquet points + graph + one-row params.
    * Local models coalesce to one file; distributed models write straight
    * from the frames — `pos` is assigned by a distributed range sort +
    * zipWithIndex, never a single-task global window. */
  def save(spark: SparkSession, path: String): Unit = {
    // three independent write jobs (points / graph / params) — run them
    // concurrently so the single-task legs overlap instead of serializing
    // (the format_roundtrip lesson, guide §2.6)
    val legs: Seq[() => Unit] = localOpt match {
      case Some(_) => Seq(
        () => pointsDF(spark).repartition(1).write.mode("overwrite").parquet(s"$path/points"),
        () => graphDF(spark).repartition(1).write.mode("overwrite").parquet(s"$path/graph"),
        () => describe(spark).repartition(1).write.mode("overwrite").parquet(s"$path/params"))
      case None => Seq(
        () => pointsDF(spark).write.mode("overwrite").parquet(s"$path/points"),
        () => graphDF(spark).write.mode("overwrite").parquet(s"$path/graph"),
        () => describe(spark).repartition(1).write.mode("overwrite").parquet(s"$path/params"))
    }
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
      scala.concurrent.Future.sequence(legs.map(l => scala.concurrent.Future {
        spark.sparkContext.setJobGroup(groupId, s"vamana save $path", interruptOnCancel = true)
        try l() finally spark.sparkContext.clearJobGroup()
      })),
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

  private[vamana] def distributed(frames: ModelFrames, fanout: FanoutModel): VamanaModel =
    new VamanaModel(None, Some(frames), Some(fanout), VamanaIndexer.DefaultMaxLocalPoints)

  /** S2 (load, vamana.h:55-96): restore points/graph/params from parquet
    * into a broadcastable LocalIndex. Internal positions are persisted
    * explicitly, so the medoid and graph indices survive the roundtrip
    * exactly. (Beyond broadcast scale, persistence lives on the fanout
    * path: [[FanoutModel.load]] never materializes a single index.) */
  def load(spark: SparkSession, path: String): VamanaModel = {
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
    // max_local_points joined the params schema later; older saves fall
    // back to the default rather than failing (same policy as fanout load).
    val maxLocal =
      if (p.schema.fieldNames.contains("max_local_points")) p.getAs[Long]("max_local_points")
      else VamanaIndexer.DefaultMaxLocalPoints
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
