package graft.vamana

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Where a sharded layout puts points and which shard ids it mints — the
  * ONLY thing [[FanoutModel]] (hash) and [[RoutedFanoutModel]] (centroid)
  * do differently; everything else is [[ShardCore]]. Which shards a query
  * probes is passed per call into [[ShardCore.scatter]]: every shard for
  * hash layouts, a centroid probe rule for routed ones. */
private[vamana] sealed trait ShardRouting[R <: ShardRouting[R]] {

  /** The shards each kernel-space point goes to, on fit and on insert. */
  def assign(pts: Dataset[(Long, Array[Float])], seed: Long): Dataset[(Int, Long, Array[Float])]

  /** The first fresh id a rebalance split publishes a second half under. */
  def freshBase(shardIds: Array[Int]): Int

  /** The routing after a split pass (`fresh`: split shard → new id). */
  def afterSplit(next: Dataset[(Int, LocalIndex)], fresh: Map[Int, Int]): R

  /** Merge: the offset that re-keys `other`'s rows clear of `mine`, and
    * the merged routing; rejects layouts that cannot share one rule. */
  def merged(other: R, mine: Dataset[(Int, LocalIndex)],
      theirs: Dataset[(Int, LocalIndex)]): (Int, R)
}

/** Hash routing: point `id` lives in shard hash(id, seed) mod
  * `numShardsFit`, plus a second distinct shard when `replicate2`.
  * `numShardsFit` is the FIT's shard count — the insert modulus even after
  * a delete removed a whole shard row. `replicate2` is true for the 2-of-s
  * merged-graph build of [[VamanaIndexer.fit]], false for the 1-of-s
  * [[VamanaFanout.fit]]. New ids (split halves, merged-in rows) go past the
  * live maximum, where insert routing can never target them. */
private[vamana] final case class HashRouting(numShardsFit: Int, replicate2: Boolean)
    extends ShardRouting[HashRouting] {

  def assign(pts: Dataset[(Long, Array[Float])], seed: Long): Dataset[(Int, Long, Array[Float])] = {
    val spark = pts.sparkSession
    import spark.implicits._
    val s = numShardsFit
    val rep2 = replicate2 && s >= 2
    pts.flatMap { case (id, vec) => HashRouting.shardsOf(id, seed, s, rep2).map(sh => (sh, id, vec)) }
  }

  def freshBase(shardIds: Array[Int]): Int = shardIds.max + 1

  def afterSplit(next: Dataset[(Int, LocalIndex)], fresh: Map[Int, Int]): HashRouting = this

  /** Future inserts route by THIS side's fitted key space. */
  def merged(other: HashRouting, mine: Dataset[(Int, LocalIndex)],
      theirs: Dataset[(Int, LocalIndex)]): (Int, HashRouting) = {
    val keyEnc = Encoders.scalaInt
    (mine.map(_._1)(keyEnc).collect().max + 1 - theirs.map(_._1)(keyEnc).collect().min, this)
  }
}

private[vamana] object HashRouting {

  /** The 1-of-s or 2-of-s shards of one point id. */
  def shardsOf(id: Long, seed: Long, s: Int, rep2: Boolean): Seq[Int] = {
    val s1 = math.floorMod(MurmurHash3.productHash((id, seed)), s)
    if (!rep2) Seq(s1)
    else {
      val h2 = MurmurHash3.productHash((id, seed + 1))
      Seq(s1, math.floorMod(s1 + 1 + math.floorMod(h2, s - 1), s))
    }
  }
}

/** Centroid routing ([[VamanaRouted]]): shard `i` holds the points nearest
  * `centroids(i)` plus ε-closure replicas ([[VamanaRouted.closureAssign]]).
  * Split halves and merged-in rows become new centroid slots, so the
  * routing table learns them. */
private[vamana] final case class CentroidRouting(
    centroids: Array[Array[Float]],
    closureEps: Double,
    maxReplicas: Int) extends ShardRouting[CentroidRouting] {

  def assign(pts: Dataset[(Long, Array[Float])], seed: Long): Dataset[(Int, Long, Array[Float])] = {
    val spark = pts.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(centroids)
    val eps2 = VamanaRouted.eps2Of(closureEps)
    val mRep = maxReplicas
    pts.flatMap { case (id, vec) =>
      VamanaRouted.closureAssign(bcC.value, vec, eps2, mRep).map(s => (s, id, vec))
    }
  }

  /** Fixed-nprobe rule: the `nprobe` nearest centroids. */
  def nearest(nprobe: Int): Array[Float] => Seq[Int] = {
    val cs = centroids
    val p = math.min(math.max(1, nprobe), cs.length)
    qv => VamanaRouted.sortedCentroidDists(cs, qv).take(p).map(_._2).toSeq
  }

  /** The adaptive band rule ([[VamanaRouted.adaptiveProbeShards]]). */
  def adaptive(routeEps: Double, maxProbe: Int): Array[Float] => Seq[Int] = {
    val cs = centroids
    qv => VamanaRouted.adaptiveProbeShards(
      VamanaRouted.sortedCentroidDists(cs, qv), routeEps, maxProbe, cs.length)
  }

  /** Every shard id stays a valid centroid index — the routed invariant. */
  def freshBase(shardIds: Array[Int]): Int = centroids.length

  /** Each half of a split routes by its OWN kernel-space mean — a tiny
    * (2·|splits|)×dim collect off the rebuilt rows. */
  def afterSplit(next: Dataset[(Int, LocalIndex)], fresh: Map[Int, Int]): CentroidRouting = {
    val affected = fresh.flatMap { case (s, f) => Seq(s, f) }.toSet
    val bcAff = next.sparkSession.sparkContext.broadcast(affected)
    val centEnc = Encoders.tuple(Encoders.scalaInt, Encoders.kryo[Array[Float]])
    val means = next
      .filter(r => bcAff.value.contains(r._1))
      .map { case (s, idx) => (s, CentroidRouting.meanVec(idx.points)) }(centEnc)
      .collect().toMap
    val old = centroids
    copy(centroids = Array.tabulate(old.length + fresh.size)(i => means.getOrElse(i, old(i))))
  }

  /** The centroid tables concatenate; the closure rule must match. */
  def merged(other: CentroidRouting, mine: Dataset[(Int, LocalIndex)],
      theirs: Dataset[(Int, LocalIndex)]): (Int, CentroidRouting) = {
    require(closureEps == other.closureEps && maxReplicas == other.maxReplicas,
      s"closure-rule mismatch: ($closureEps, $maxReplicas) vs " +
        s"(${other.closureEps}, ${other.maxReplicas}) — future inserts route under " +
        "ONE rule; merge layouts fitted under the same closure assignment")
    (centroids.length, copy(centroids = centroids ++ other.centroids))
  }
}

private[vamana] object CentroidRouting {

  /** Kernel-space mean of a shard's points. */
  def meanVec(pts: Array[Array[Float]]): Array[Float] = {
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
}

/** The shard core under [[FanoutModel]] and [[RoutedFanoutModel]]: one
  * [[LocalIndex]] per shard in a CACHED dataset of kryo-serialized kernels,
  * built once at fit/load time, plus the layout's [[ShardRouting]]. Nothing
  * is collected to the driver; the working set per task is one shard. Every
  * operation returns a new core and leaves this one serving. */
private[vamana] final class ShardCore[R <: ShardRouting[R]](
    val shards: Dataset[(Int, LocalIndex)],
    val params: VamanaParams,
    val routing: R) {
  import ShardCore._

  private val spark: SparkSession = shards.sparkSession

  private def withShards(next: Dataset[(Int, LocalIndex)], r: R = routing): ShardCore[R] =
    new ShardCore(next, params, r)

  /** The query batch sorted by id, prepared in the index metric, with its
    * start vectors (null without `startVecCol`). Bounded: it is broadcast. */
  def prepare(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      startVecCol: Option[String] = None): Array[Query] = {
    import spark.implicits._
    val id = col(queryIdCol).cast("long")
    val vec = col(queryVecCol).cast("array<float>")
    val raw: Array[Query] = startVecCol match {
      case None => queries.select(id, vec).as[(Long, Array[Float])].collect()
        .map { case (q, v) => (q, v, null) }
      case Some(sc) => queries.select(id, vec, col(sc).cast("array<float>"))
        .as[(Long, Array[Float], Array[Float])].collect()
    }
    require(raw.length <= MaxQueries, "shard serving broadcasts the query batch; keep it bounded")
    val metric = params.metric
    raw.sortBy(_._1).map { case (q, v, sv) =>
      (q, MetricReduction.prepareQuery(v, metric),
        if (sv == null) null else MetricReduction.prepareQuery(sv, metric))
    }
  }

  /** The one scatter. Without `probe` the batch is broadcast and every
    * shard answers all of it; with a probe rule (run on the driver) one
    * shard→queries map is broadcast. `perShard` runs once per shard row
    * that has queries, so a shard nothing was routed to pays no set-up. */
  def scatter[T: Encoder](prepared: Array[Query], probe: Option[Array[Float] => Seq[Int]])(
      perShard: (Int, LocalIndex) => Query => Iterator[T]): Dataset[T] = {
    val sc = spark.sparkContext
    val forShard: Int => Array[Query] = probe match {
      case None =>
        val bcQ = sc.broadcast(prepared)
        _ => bcQ.value
      case Some(rule) =>
        val routed: Map[Int, Array[Query]] = prepared
          .flatMap(q => rule(q._2).map(si => (si, q)))
          .groupBy(_._1).map { case (si, xs) => (si, xs.map(_._2)) }
        val bcR = sc.broadcast(routed)
        s => bcR.value.getOrElse(s, Array.empty[Query])
    }
    shards.flatMap { case (s, idx) =>
      val qs = forShard(s)
      if (qs.isEmpty) Iterator.empty else qs.iterator.flatMap(perShard(s, idx))
    }
  }

  /** [[scatter]] a per-shard top-k search, then [[rankMerge]]. */
  def topK(prepared: Array[Query], k: Int, probe: Option[Array[Float] => Seq[Int]] = None)(
      search: (Int, LocalIndex) => Query => Array[(Long, Float)]): DataFrame = {
    import spark.implicits._
    val answers = scatter(prepared, probe) { (s, idx) =>
      val f = search(s, idx)
      q => f(q).iterator.map { case (id, dist) => (q._1, id, dist.toDouble) }
    }.toDF("query_id", "id", "dist")
    rankMerge(answers, k)
  }

  /** Broadcasts `ids` sorted; the result, called on an executor, is the
    * membership (with `deny`, non-membership) predicate. */
  def idPredicate(ids: Array[Long], deny: Boolean): () => Long => Boolean = {
    val sorted = { val a = ids.clone(); java.util.Arrays.sort(a); a }
    val bcA = spark.sparkContext.broadcast(sorted)
    () => {
      val a = bcA.value
      id => (java.util.Arrays.binarySearch(a, id) >= 0) != deny
    }
  }

  /** [[topK]] over [[VamanaKernel.searchFiltered]] with the id predicate;
    * `fullBeam` sets each shard's beam to its size. */
  def filteredTopK(prepared: Array[Query], filterIds: Array[Long], deny: Boolean, k: Int,
      fullBeam: Boolean, probe: Option[Array[Float] => Seq[Int]] = None): DataFrame = {
    val pred = idPredicate(filterIds, deny)
    topK(prepared, k, probe) { (_, idx) =>
      val allowed = pred()
      val beam = if (fullBeam) idx.size else 0
      q => VamanaKernel.searchFiltered(idx, q._2, k, allowed, beam)
    }
  }

  /** Range search: the union of per-shard range sets, deduped by min dist
    * (see [[FanoutModel.rangeSearch]]). */
  def rangeUnion(queries: DataFrame, radiusSq: Double, queryIdCol: String, queryVecCol: String,
      probe: Option[Array[Float] => Seq[Int]] = None): DataFrame = {
    require(params.metric == "l2", "range radius is a squared-L2 bound; fit with metric=l2")
    import spark.implicits._
    val r = radiusSq.toFloat
    scatter(prepare(queries, queryIdCol, queryVecCol), probe) { (_, idx) =>
      q => VamanaKernel.rangeSearch(idx, q._2, r).iterator.map {
        case (id, dist) => (q._1, id, dist.toDouble)
      }
    }.toDF("query_id", "id", "dist")
      .groupBy(col("query_id"), col("id")).agg(min(col("dist")).as("dist"))
      .select(col("query_id"), col("id"), (expr("rint(dist * 10000)") / 1e4).as("dist"))
      .orderBy(col("query_id"), col("id"))
  }

  /** External ids of every shard row (replicas repeat). */
  def idsDF: DataFrame = {
    import spark.implicits._
    shards.flatMap { case (_, idx) => idx.ids.iterator }.toDF("id")
  }

  /** Live per-shard point counts, ascending. */
  def shardSizes: Array[Int] =
    shards.map { case (_, idx) => idx.size }(Encoders.scalaInt).collect().sorted

  /** Σ shard sizes — replicated points count once per hosting shard. */
  def storedPoints: Long =
    shards.map { case (_, idx) => idx.size.toLong }(Encoders.scalaLong).reduce(_ + _)

  /** The same graphs with beam = shard size (see
    * [[FanoutModel.withFullBeamShards]]). */
  def withFullBeam(): ShardCore[R] = {
    val s2 = shards.map { case (s, idx) => (s, idx.withFullBeam) }.cache()
    s2.count()
    withShards(s2)
  }

  /** Shard-local insert routed by [[ShardRouting.assign]] (see
    * [[FanoutModel.insert]]). */
  def insert(newPoints: DataFrame, idCol: String, vecCol: String): ShardCore[R] = {
    require(params.metric != "ip",
      "incremental insert is not defined for metric=ip (fit-time norm augmentation); refit instead")
    import spark.implicits._
    val kp = params
    val pts = newPoints
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val (ptsT, _) = VamanaIndexer.metricTransform(pts, kp)
    val assigned = routing.assign(ptsT, kp.seed).groupByKey(_._1)
    val updated = shards.groupByKey(_._1)
      .cogroup(assigned) { (shard, idxIt, newIt) =>
        val batch = newIt.toArray.sortBy(_._2)
        val idxs = idxIt.toArray
        if (idxs.isEmpty) {
          // shard row gone (full-membership delete): rebuild it from the batch
          if (batch.isEmpty) Iterator.empty
          else Iterator.single((shard, buildShard(shard, batch.map(_._2), batch.map(_._3), kp)))
        } else idxs.iterator.map { case (_, idx) =>
          (shard,
            if (batch.isEmpty) idx
            else VamanaKernel.insert(idx, batch.map(_._2), batch.map(_._3)))
        }
      }.cache()
    updated.count() // materialize once; the old core stays independently usable
    withShards(updated)
  }

  /** Shard-local delete (see [[FanoutModel.delete]]). */
  def delete(deleteIds: Array[Long]): ShardCore[R] = {
    val bc = spark.sparkContext.broadcast(deleteIds)
    val updated = shards.flatMap { case (shard, idx) =>
      val delSet = bc.value.toSet
      val n = idx.ids.count(delSet.contains)
      if (n == idx.size) Iterator.empty
      else if (n == 0) Iterator.single((shard, idx))
      else Iterator.single((shard, VamanaKernel.delete(idx, bc.value)))
    }.cache()
    updated.count()
    withShards(updated)
  }

  /** Zero-build merge: `other`'s rows re-key clear of this key space and
    * union (see [[FanoutModel.merge]]). */
  def merge(other: ShardCore[R]): ShardCore[R] = {
    require(params.metric != "ip" && other.params.metric != "ip",
      "merge is not defined for metric=ip (per-fit norm augmentation); refit instead")
    require(params.metric == other.params.metric,
      s"metric mismatch: ${params.metric} vs ${other.params.metric} — differently " +
        "transformed kernel spaces cannot serve one query preparation")
    require(params.dim == other.params.dim,
      s"dimension mismatch: ${params.dim} vs ${other.params.dim}")
    val (offset, merged) = routing.merged(other.routing, shards, other.shards)
    require(idsDF.join(other.idsDF, "id").isEmpty,
      "id sets overlap; merge requires disjoint indexes (dedup first, or delete one side's copies)")
    val rekeyed = other.shards.map { case (s, idx) => (s + offset, idx) }
    val union = shards.union(rekeyed).cache()
    union.count() // materialize; both inputs stay independently usable
    withShards(union, merged)
  }

  /** Split every shard over `maxRatio`× the mean into two halves rebuilt
    * by the fit's kernel, up to `maxPasses` times (see
    * [[FanoutModel.rebalance]]); this core when nothing is oversized. */
  def rebalance(maxRatio: Double, maxPasses: Int): ShardCore[R] = {
    require(maxRatio >= 1.0, "maxRatio < 1 would split forever")
    val sizeEnc: Encoder[(Int, Int)] = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    val kp = params
    var cur = shards
    var rt = routing
    var pass = 0
    var done = false
    while (pass < maxPasses && !done) {
      val sizes = cur.map { case (s, idx) => (s, idx.size) }(sizeEnc).collect()
      val mean = sizes.map(_._2.toDouble).sum / sizes.length
      val big = sizes.filter { case (_, n) => n > maxRatio * mean && n >= 2 }.map(_._1)
      if (big.isEmpty) done = true
      else {
        val base = rt.freshBase(sizes.map(_._1))
        val freshIds = big.sorted.zipWithIndex.map { case (s, i) => (s, base + i) }.toMap
        val bcFresh = spark.sparkContext.broadcast(freshIds)
        val next = cur.flatMap { case (s, idx) =>
          bcFresh.value.get(s) match {
            case None => Iterator.single((s, idx))
            case Some(fresh) =>
              val (a, b) = splitMembership(idx)
              Iterator(
                (s, buildShard(s, a.map(_._1), a.map(_._2), kp)),
                (fresh, buildShard(fresh, b.map(_._1), b.map(_._2), kp)))
          }
        }.cache()
        next.count() // materialize; the old core stays independently usable
        rt = rt.afterSplit(next, freshIds)
        if (cur ne shards) cur.unpersist()
        cur = next
      }
      pass += 1
    }
    if (cur eq shards) this else withShards(cur, rt)
  }

  /** One parquet of per-point shard rows (vector, external-id adjacency,
    * per-shard medoid/seed) partitioned by shard, plus the params row
    * ([[paramsFrame]] and the layout's `extraParams`). */
  def save(path: String, extraParams: Seq[(String, Column)]): Unit = {
    import spark.implicits._
    shards.flatMap { case (shard, idx) =>
      idx.ids.indices.iterator.map { pos =>
        (shard, pos, idx.ids(pos), idx.points(pos), idx.graph(pos).map(idx.ids(_)),
          idx.medoid, idx.params.seed)
      }
    }.toDF("shard", "pos", "id", "vec", "neighbors", "medoid_pos", "shard_seed")
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/shards")
    extraParams.foldLeft(paramsFrame(spark, params)) { case (df, (n, c)) => df.withColumn(n, c) }
      .repartition(1).write.mode("overwrite").parquet(s"$path/params")
  }

  def unpersist(): Unit = { val _ = shards.unpersist() }
}

private[vamana] object ShardCore {

  /** A prepared query: (query id, query vector, start vector or null). */
  type Query = (Long, Array[Float], Array[Float])

  /** Largest query batch one call broadcasts. */
  val MaxQueries = 10000

  /** The one encoder for shard rows: the kernel travels kryo-serialized. */
  implicit val shardEncoder: Encoder[(Int, LocalIndex)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.kryo[LocalIndex])

  /** One shard's kernel, seeded by shard id. */
  def buildShard(shard: Int, ids: Array[Long], pts: Array[Array[Float]], kp: VamanaParams,
      parallelism: Int = 1): LocalIndex =
    VamanaKernel.buildParallel(ids, pts, kp.copy(seed = kp.seed + shard), parallelism)

  /** Fit: route `pts` (kernel space) by `routing`, build one kernel per
    * shard (members sorted by id) on `parallelism` threads, and
    * materialize the cached shard dataset once. */
  def fit[R <: ShardRouting[R]](pts: Dataset[(Long, Array[Float])], kp: VamanaParams,
      routing: R, parallelism: Int): ShardCore[R] = {
    val shards = routing.assign(pts, kp.seed).groupByKey(_._1)(Encoders.scalaInt)
      .mapGroups { (shard, it) =>
        val arr = it.toArray.sortBy(_._2)
        (shard, buildShard(shard, arr.map(_._2), arr.map(_._3), kp, parallelism))
      }.cache()
    shards.count() // force the builds NOW, exactly once
    new ShardCore(shards, kp, routing)
  }

  /** Build threads per shard when `numShards` shards build at once, so a
    * machine with more cores than shards isn't idle. */
  def threadsPerShard(numShards: Int): Int =
    math.max(2, Runtime.getRuntime.availableProcessors() / math.max(1, numShards))

  /** The global merge of per-shard (query_id, id, dist) answers: dedup a
    * point answered by several shards to its min dist, rank on the
    * UNROUNDED distances, keep the first k, round only the emitted column
    * (rounding first could order two points differently from the exact
    * kNN the full-beam gates compare against when true distances differ
    * only past 4 decimals at the rank-k boundary). */
  def rankMerge(answers: DataFrame, k: Int): DataFrame = {
    val merged = answers.groupBy(col("query_id"), col("id")).agg(min(col("dist")).as("dist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
    merged
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"),
        (expr("rint(dist * 10000)") / 1e4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The params row every checkpoint starts with. */
  def paramsFrame(spark: SparkSession, p: VamanaParams): DataFrame = {
    import spark.implicits._
    Seq((p.dim, p.maxDegree, p.beamWidth, p.alpha.toDouble, p.efSearch, p.seed,
      p.paperPrune, p.metric))
      .toDF("dim", "max_degree", "beam_width", "alpha", "ef_search", "seed",
        "paper_prune", "metric")
  }

  /** A checkpoint's params and its params row. */
  def readParams(spark: SparkSession, path: String): (VamanaParams, Row) = {
    val p = spark.read.parquet(s"$path/params").head()
    (VamanaParams(
      dim = p.getAs[Int]("dim"),
      maxDegree = p.getAs[Int]("max_degree"),
      beamWidth = p.getAs[Int]("beam_width"),
      alpha = p.getAs[Double]("alpha").toFloat,
      efSearch = p.getAs[Int]("ef_search"),
      seed = p.getAs[Long]("seed"),
      paperPrune = p.getAs[Boolean]("paper_prune"),
      metric = p.getAs[String]("metric")), p)
  }

  /** A params-row column, or `default` for a checkpoint older than it. */
  def paramOr[T](row: Row, name: String, default: => T): T =
    if (row.schema.fieldNames.contains(name)) row.getAs[T](name) else default

  /** Reassemble each shard kernel of a [[ShardCore.save]] checkpoint in one
    * task (no graph builds: adjacency is persisted), cached. */
  def loadShards(spark: SparkSession, path: String, params: VamanaParams): Dataset[(Int, LocalIndex)] = {
    import spark.implicits._
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
    shards
  }

  /** Deterministic locality-aware balanced split of one shard's
    * membership for [[ShardCore.rebalance]]: 2-means (seeded from point
    * 0 and its farthest member — no RNG — then 3 Lloyd refinements), then
    * a BALANCED MEDIAN CUT on the margin d²(p,c0) − d²(p,c1) with
    * ascending-id tie-break: the ⌊n/2⌋ points most c0-side form one half.
    * Locality of 2-means (graph quality of the rebuilt halves), size
    * guarantee of the cut (raw 2-means can split 90/10 on skewed data —
    * useless for a size rebalance). Each half is emitted sorted by id. */
  def splitMembership(idx: LocalIndex)
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
}
