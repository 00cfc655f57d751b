package graft.vamana

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.hashing.MurmurHash3

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Where a sharded layout puts points and which shard ids it mints — the
  * ONLY thing [[FanoutModel]] (hash) and [[RoutedFanoutModel]] (centroid)
  * do differently; everything else is [[ShardCore]]. Which shards a query
  * probes is passed per call into [[ShardCore.scatter]]: every shard for
  * hash layouts, a centroid probe rule for routed ones. */
private[vamana] sealed trait ShardRouting[R <: ShardRouting[R]] {

  /** The shards each kernel-space point goes to, on fit and on insert. */
  def assign(pts: Dataset[(Long, Array[Float])], seed: Long): Dataset[(Int, Long, Array[Float])]

  /** The shard count the routing knows; a fit or load hashes the shard
    * rows into at most this many partitions. */
  def numShards: Int

  /** The first fresh id a rebalance split publishes a second half under. */
  def freshBase(shardIds: Array[Int]): Int

  /** The routing after a split pass (`fresh`: split shard → new id). */
  def afterSplit(next: RDD[(Int, LocalIndex)], fresh: Map[Int, Int]): R

  /** Merge: the offset that re-keys `other`'s rows clear of `mine`, and
    * the merged routing; rejects layouts that cannot share one rule. */
  def merged(other: R, mine: RDD[(Int, LocalIndex)], theirs: RDD[(Int, LocalIndex)]): (Int, R)
}

/** Hash routing ([[VamanaFanout.fit]]): point `id` lives in shard
  * hash(id, seed) mod `numShards`, the FIT's shard count — the insert
  * modulus even after a delete removed a whole shard row. New ids (split
  * halves, merged-in rows) go past the live maximum, where insert routing
  * can never target them. */
private[vamana] final case class HashRouting(numShards: Int) extends ShardRouting[HashRouting] {

  def assign(pts: Dataset[(Long, Array[Float])], seed: Long): Dataset[(Int, Long, Array[Float])] = {
    val spark = pts.sparkSession
    import spark.implicits._
    val s = numShards
    pts.map { case (id, vec) => (HashRouting.shardOf(id, seed, s), id, vec) }
  }

  def freshBase(shardIds: Array[Int]): Int = shardIds.max + 1

  def afterSplit(next: RDD[(Int, LocalIndex)], fresh: Map[Int, Int]): HashRouting = this

  /** Future inserts route by THIS side's fitted key space. */
  def merged(other: HashRouting, mine: RDD[(Int, LocalIndex)],
      theirs: RDD[(Int, LocalIndex)]): (Int, HashRouting) =
    (mine.keys.max() + 1 - theirs.keys.min(), this)
}

private[vamana] object HashRouting {

  /** The shard of one point id among `s`. */
  def shardOf(id: Long, seed: Long, s: Int): Int =
    math.floorMod(MurmurHash3.productHash((id, seed)), s)

  /** [[shardOf]] and a second distinct shard (`s` >= 2): the 2-of-s
    * overlap of [[VamanaIndexer.fit]]'s sharded build. */
  def twoShardsOf(id: Long, seed: Long, s: Int): Seq[Int] = {
    val s1 = shardOf(id, seed, s)
    Seq(s1, math.floorMod(s1 + 1 + math.floorMod(MurmurHash3.productHash((id, seed + 1)), s - 1), s))
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

  def numShards: Int = centroids.length

  /** Every shard id stays a valid centroid index — the routed invariant. */
  def freshBase(shardIds: Array[Int]): Int = centroids.length

  /** Each half of a split routes by its OWN kernel-space mean — a tiny
    * (2·|splits|)×dim collect off the rebuilt rows. */
  def afterSplit(next: RDD[(Int, LocalIndex)], fresh: Map[Int, Int]): CentroidRouting = {
    val affected = fresh.flatMap { case (s, f) => Seq(s, f) }.toSet
    val means = next
      .filter(r => affected.contains(r._1))
      .map { case (s, idx) => (s, CentroidRouting.meanVec(idx.points)) }
      .collect().toMap
    val old = centroids
    copy(centroids = Array.tabulate(old.length + fresh.size)(i => means.getOrElse(i, old(i))))
  }

  /** The centroid tables concatenate; the closure rule must match. */
  def merged(other: CentroidRouting, mine: RDD[(Int, LocalIndex)],
      theirs: RDD[(Int, LocalIndex)]): (Int, CentroidRouting) = {
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
  * [[LocalIndex]] per shard, RESIDENT — an RDD of deserialized kernels,
  * hash-partitioned by shard id, persisted once by the operation that
  * made it (fit, load, insert, delete, merge, rebalance, full beam) and
  * cut from that operation's lineage ([[ShardCore.resident]]) — plus the
  * layout's [[ShardRouting]]. A top-k call is one narrow job over the
  * resident kernels whose per-partition answers rank-merge on the driver
  * ([[ShardCore.rankMerge]]); the working set per task is the shards of
  * its partition. Every operation returns a new core and leaves this one
  * serving; after [[unpersist]] a core serves nothing. */
private[vamana] final class ShardCore[R <: ShardRouting[R]](
    val spark: SparkSession,
    val shards: RDD[(Int, LocalIndex)],
    val params: VamanaParams,
    val routing: R) {
  import ShardCore._

  require(shards.partitioner.isDefined,
    "shard rows must be hash-partitioned by shard id (ShardCore.fit/load build them so)")

  private def withShards(next: RDD[(Int, LocalIndex)], r: R = routing): ShardCore[R] =
    new ShardCore(spark, resident(next), params, r)

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

  /** The one scatter, narrow over the resident kernels. Without `probe`
    * the batch is broadcast and every shard answers all of it; with a
    * probe rule (run on the driver) one shard→queries map is broadcast.
    * `perShard` runs once per shard row that has queries, so a shard
    * nothing was routed to pays no set-up. */
  def scatter[T: ClassTag](prepared: Array[Query], probe: Option[Array[Float] => Seq[Int]])(
      perShard: (Int, LocalIndex) => Query => Iterator[T]): RDD[T] = {
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

  /** [[scatter]] a per-shard top-k search, then [[ShardCore.rankMerge]]:
    * one job, answered as a local frame. Rejected before any job when
    * the driver could receive more than [[ShardCore.MaxMergeRows]]
    * answers (partitions × |Q| × k). */
  def topK(prepared: Array[Query], k: Int, probe: Option[Array[Float] => Seq[Int]] = None)(
      search: (Int, LocalIndex) => Query => Array[(Long, Float)]): DataFrame = {
    val rows = mergeRows(prepared.length, k)
    require(rows <= MaxMergeRows,
      s"a top-k call over ${shards.getNumPartitions} shard partitions × ${prepared.length} " +
        s"queries × k=$k may bring $rows rows to the driver, above $MaxMergeRows; " +
        "split the query batch or lower k")
    rankMerge(spark, scatter(prepared, probe) { (s, idx) =>
      val f = search(s, idx)
      q => f(q).iterator.map { case (id, dist) => (q._1, id, dist.toDouble) }
    }, k)
  }

  /** The most answers a top-k call brings to the driver: each partition
    * sends at most k per query. */
  def mergeRows(numQueries: Long, k: Long): Long = shards.getNumPartitions * numQueries * k

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
    * (see [[FanoutModel.rangeSearch]]). The merge stays distributed: its
    * size depends on the data, not on |Q| × k. */
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
  def shardSizes: Array[Int] = shards.map { case (_, idx) => idx.size }.collect().sorted

  /** Σ shard sizes — replicated points count once per hosting shard. */
  def storedPoints: Long = shards.map { case (_, idx) => idx.size.toLong }.reduce(_ + _)

  /** The same graphs with beam = shard size (see
    * [[FanoutModel.withFullBeamShards]]). */
  def withFullBeam(): ShardCore[R] = withShards(shards.mapValues(_.withFullBeam))

  /** Shard-local insert routed by [[ShardRouting.assign]] (see
    * [[FanoutModel.insert]]). The routed batch is partitioned like the
    * resident kernels, so only the batch moves: each partition inserts
    * into its own kernels and rebuilds, from the batch alone, a routed
    * shard whose row a full-membership delete removed. */
  def insert(newPoints: DataFrame, idCol: String, vecCol: String): ShardCore[R] = {
    require(params.metric != "ip",
      "incremental insert is not defined for metric=ip (fit-time norm augmentation); refit instead")
    import spark.implicits._
    val kp = params
    val pts = newPoints
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
    val (ptsT, _) = VamanaIndexer.metricTransform(pts, kp)
    val batch = routing.assign(ptsT, kp.seed).rdd
      .map { case (s, id, vec) => (s, (id, vec)) }
      .partitionBy(shards.partitioner.get)
    withShards(shards.zipPartitions(batch, preservesPartitioning = true) { (here, routed) =>
      val bySh = routed.toArray.groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2).sortBy(_._1)) }
      val kept = here.map { case (s, idx) =>
        (s, bySh.get(s).fold(idx)(b => VamanaKernel.insert(idx, b.map(_._1), b.map(_._2))))
      }.toArray
      val present = kept.map(_._1).toSet
      kept.iterator ++ bySh.iterator.filterNot(e => present(e._1)).map { case (s, b) =>
        (s, buildShard(s, b.map(_._1), b.map(_._2), kp))
      }
    })
  }

  /** Shard-local delete (see [[FanoutModel.delete]]), a narrow map over
    * the resident kernels. */
  def delete(deleteIds: Array[Long]): ShardCore[R] = {
    val bc = spark.sparkContext.broadcast(deleteIds)
    withShards(shards.mapPartitions({ it =>
      val delSet = bc.value.toSet
      it.flatMap { case (shard, idx) =>
        val n = idx.ids.count(delSet.contains)
        if (n == idx.size) Iterator.empty
        else if (n == 0) Iterator.single((shard, idx))
        else Iterator.single((shard, VamanaKernel.delete(idx, bc.value)))
      }
    }, preservesPartitioning = true))
  }

  /** Zero-build merge: `other`'s rows re-key clear of this key space and
    * join this core's partitions; only `other`'s kernels move (see
    * [[FanoutModel.merge]]). */
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
    val theirs = other.shards.map { case (s, idx) => (s + offset, idx) }
      .partitionBy(shards.partitioner.get)
    withShards(shards.zipPartitions(theirs, preservesPartitioning = true)(_ ++ _), merged)
  }

  /** Split every shard over `maxRatio`× the mean into two halves rebuilt
    * by the fit's kernel, up to `maxPasses` times (see
    * [[FanoutModel.rebalance]]); this core when nothing is oversized. */
  def rebalance(maxRatio: Double, maxPasses: Int): ShardCore[R] = {
    require(maxRatio >= 1.0, "maxRatio < 1 would split forever")
    val kp = params
    var cur = this
    var pass = 0
    var done = false
    while (pass < maxPasses && !done) {
      val sizes = cur.shards.map { case (s, idx) => (s, idx.size) }.collect()
      val mean = sizes.map(_._2.toDouble).sum / sizes.length
      val big = sizes.filter { case (_, n) => n > maxRatio * mean && n >= 2 }.map(_._1)
      if (big.isEmpty) done = true
      else {
        val base = cur.routing.freshBase(sizes.map(_._1))
        val freshIds = big.sorted.zipWithIndex.map { case (s, i) => (s, base + i) }.toMap
        val bcFresh = spark.sparkContext.broadcast(freshIds)
        // a fresh half hashes to another partition: the split rows re-partition
        val next = resident(cur.shards.flatMap { case (s, idx) =>
          bcFresh.value.get(s) match {
            case None => Iterator.single((s, idx))
            case Some(fresh) =>
              val (a, b) = splitMembership(idx)
              Iterator(
                (s, buildShard(s, a.map(_._1), a.map(_._2), kp)),
                (fresh, buildShard(fresh, b.map(_._1), b.map(_._2), kp)))
          }
        }.partitionBy(shards.partitioner.get))
        if (cur ne this) cur.unpersist()
        cur = new ShardCore(spark, next, params, cur.routing.afterSplit(next, freshIds))
      }
      pass += 1
    }
    cur
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

  /** Releases the resident kernels; runs no job. The core cannot serve
    * afterwards: its lineage was cut when they were built. */
  def unpersist(): Unit = { val _ = shards.unpersist() }
}

private[vamana] object ShardCore {

  /** A prepared query: (query id, query vector, start vector or null). */
  type Query = (Long, Array[Float], Array[Float])

  /** Largest query batch one call broadcasts. */
  val MaxQueries = 10000

  /** Most answers one top-k call may bring to the driver (partitions ×
    * |Q| × k): 10M rows travel as 240 MB of primitive arrays, under
    * Spark's default 1 GB `spark.driver.maxResultSize`. */
  val MaxMergeRows: Long = 10000000L

  /** One shard's kernel, seeded by shard id. */
  def buildShard(shard: Int, ids: Array[Long], pts: Array[Array[Float]], kp: VamanaParams,
      parallelism: Int = 1): LocalIndex =
    VamanaKernel.buildParallel(ids, pts, kp.copy(seed = kp.seed + shard), parallelism)

  /** The partitioning of every core's shard rows: hash of shard id over
    * min(shards, default parallelism) partitions. */
  private def partitioner(spark: SparkSession, numShards: Int): HashPartitioner =
    new HashPartitioner(math.max(1, math.min(numShards, spark.sparkContext.defaultParallelism)))

  /** Persists `rows` deserialized, builds them now, exactly once, and
    * cuts their lineage (a local checkpoint over the persisted blocks):
    * every update derives the next core from this one, so without the
    * cut each insert or delete would stack one more layer on the plan
    * every later search task deserializes, and a lost block would replay
    * every update since the fit. The blocks are the only copy: a lost
    * executor's shards fail the call instead of being recomputed. */
  private def resident(rows: RDD[(Int, LocalIndex)]): RDD[(Int, LocalIndex)] = {
    rows.persist(StorageLevel.MEMORY_AND_DISK)
    rows.localCheckpoint()
    rows.count()
    rows
  }

  /** Fit: route `pts` (kernel space) by `routing`, build one kernel per
    * shard (members sorted by id) on `parallelism` threads, and
    * materialize the resident kernels once. */
  def fit[R <: ShardRouting[R]](pts: Dataset[(Long, Array[Float])], kp: VamanaParams,
      routing: R, parallelism: Int): ShardCore[R] = {
    val spark = pts.sparkSession
    val shards = routing.assign(pts, kp.seed).rdd
      .map { case (s, id, vec) => (s, (id, vec)) }
      .groupByKey(partitioner(spark, routing.numShards))
      .mapPartitions(_.map { case (shard, it) =>
        val arr = it.toArray.sortBy(_._1)
        (shard, buildShard(shard, arr.map(_._1), arr.map(_._2), kp, parallelism))
      }, preservesPartitioning = true)
    new ShardCore(spark, resident(shards), kp, routing)
  }

  /** Build threads per shard when `numShards` shards build at once, so a
    * machine with more cores than shards isn't idle. */
  def threadsPerShard(numShards: Int): Int =
    math.max(2, Runtime.getRuntime.availableProcessors() / math.max(1, numShards))

  /** The schema of every ranked top-k frame (`dist` nullable, as the SQL
    * division that rounds it declares it). */
  private val RankedSchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = true)))

  /** The global merge of per-shard (query_id, id, dist) answers, in one
    * job: each partition keeps its queries' [[bestK]] and sends them as
    * primitive arrays; the driver folds each partition's answers, in
    * partition order, into its running best k per query (so it holds
    * that plus the partitions that arrived early, never a map of every
    * row), and the ranks return as a local frame sorted by (query_id,
    * rank). A partition holding a point's min dist ranks it no lower
    * than the global merge does, so the pre-merge drops nothing, and
    * an answer a fold drops stays behind k better ones. Ranking is on
    * the UNROUNDED distances; only the emitted column is rounded
    * (rounding first could order two points differently from the exact
    * kNN the full-beam gates compare against when true distances differ
    * only past 4 decimals at the rank-k boundary). */
  def rankMerge(spark: SparkSession, answers: RDD[(Long, Long, Double)], k: Int): DataFrame = {
    val n = answers.getNumPartitions
    val arrived = new Array[Packed](n)
    var next = 0
    var best = Array.empty[(Long, Long, Double)]
    // the handler runs on the scheduler's one event thread, one call per partition
    spark.sparkContext.runJob(answers, (it: Iterator[(Long, Long, Double)]) => pack(bestK(it, k)),
      (i: Int, p: Packed) => {
        arrived(i) = p
        while (next < n && arrived(next) != null) {
          best = bestK(best.iterator ++ unpack(arrived(next)), k)
          arrived(next) = null
          next += 1
        }
      })
    val rows = new java.util.ArrayList[Row](best.length)
    var i = 0
    var rank = 0L
    while (i < best.length) {
      val (q, id, d) = best(i)
      rank = if (i > 0 && best(i - 1)._1 == q) rank + 1 else 1L
      rows.add(Row(q, rank, id, math.rint(d * 10000) / 1e4))
      i += 1
    }
    spark.createDataFrame(rows, RankedSchema)
  }

  /** One partition's best answers as (query ids, ids, dists). */
  private type Packed = (Array[Long], Array[Long], Array[Double])

  private def pack(a: Array[(Long, Long, Double)]): Packed =
    (a.map(_._1), a.map(_._2), a.map(_._3))

  private def unpack(p: Packed): Iterator[(Long, Long, Double)] =
    Iterator.range(0, p._1.length).map(i => (p._1(i), p._2(i), p._3(i)))

  /** Each query's best k answers: a point answered several times keeps
    * its min dist, then ascending (dist, id) under Spark's double
    * ordering. Sorted by query id, then rank. */
  private def bestK(answers: Iterator[(Long, Long, Double)],
      k: Int): Array[(Long, Long, Double)] = {
    val byQuery = mutable.HashMap.empty[Long, mutable.HashMap[Long, Double]]
    answers.foreach { case (q, id, d) =>
      val m = byQuery.getOrElseUpdate(q, mutable.HashMap.empty[Long, Double])
      m.get(id) match {
        case Some(old) if compareDoubles(old, d) <= 0 =>
        case _ => m(id) = d
      }
    }
    byQuery.toArray.sortBy(_._1).flatMap { case (q, m) =>
      m.toArray.sorted(DistThenId).iterator.take(k).map { case (id, d) => (q, id, d) }
    }
  }

  /** Spark SQL's double comparison: -0.0 equals 0.0, NaN equals NaN and
    * sorts above every other value. */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  private val DistThenId: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
    def compare(a: (Long, Double), b: (Long, Double)): Int = {
      val c = compareDoubles(a._2, b._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
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

  /** Reload a [[ShardCore.save]] checkpoint under `routing`: each shard
    * kernel reassembles in its own partition (no graph builds: adjacency
    * is persisted), resident. */
  def load[R <: ShardRouting[R]](spark: SparkSession, path: String, params: VamanaParams,
      routing: R): ShardCore[R] = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$path/shards")
      .select(col("shard").cast("int"), col("pos").cast("int"), col("id"),
        col("vec").cast("array<float>"), col("neighbors"),
        col("medoid_pos").cast("int"), col("shard_seed").cast("long"))
      .as[(Int, Int, Long, Array[Float], Array[Long], Int, Long)]
    val shards = rows.rdd.map(r => (r._1, r))
      .groupByKey(partitioner(spark, routing.numShards))
      .mapPartitions(_.map { case (shard, it) =>
        val arr = it.toArray.sortBy(_._2)
        val ids = arr.map(_._3)
        val posOf = ids.zipWithIndex.toMap
        val graph = arr.map(_._5.flatMap(posOf.get(_)))
        (shard, new LocalIndex(ids, arr.map(_._4), graph, arr.head._6,
          params.copy(seed = arr.head._7)))
      }, preservesPartitioning = true)
    new ShardCore(spark, resident(shards), params, routing)
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
