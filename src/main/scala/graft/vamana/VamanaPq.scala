package graft.vamana

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Knn, Quantization}
import graft.operators.Quantization.PqCodebooks

/** DiskANN's actual disk-serving design (Subramanya et al., NeurIPS'19 §3),
  * which the reference's in-memory kernel omits: keep only PQ codes of the
  * stored vectors in fast memory and let the GREEDY TRAVERSAL run on
  * asymmetric-distance (ADC) lookups — m table probes per node instead of a
  * dim-length float loop — then rerank the visited pool with full-precision
  * vectors (on SSD in the paper; here the broadcast index). At 100 TB this is
  * the difference between holding 256 bytes/vector and m=16 bytes/vector in
  * serving memory: the graph + codes fit where the raw vectors cannot.
  *
  * Correctness anchor: [[VamanaKernel.greedySearchScored]]'s full-beam
  * theorem. With beam = n the beam never evicts, so the pool is the whole
  * connected component REGARDLESS of the (approximate) traversal scores, and
  * the exact rerank of that pool is exact kNN — so `vamana_pq_gate` states
  * per-query overlap == k as a hash-checked invariant, the same theorem
  * `vamana_search_overlap` uses, now composed with quantized traversal.
  * At the default beam the PQ guidance is lossy; that quality is gated by a
  * recall floor (flag literal) like the other approximate families.
  */
object VamanaPq {

  /** Per-dataset serving state: the fitted broadcast-regime index, the PQ
    * codebooks trained on the shared bounded sample, and one m-byte code row
    * per stored point (positional, parallel to `idx.points`). Cleared by
    * [[clearCaches]]. */
  private val cache = TrieMap.empty[String, (LocalIndex, PqCodebooks, Array[Array[Int]])]

  /** FANOUT-regime serving state, memoized per (dataset, shard) in the
    * executor JVM: codebooks trained on the SHARD'S OWN points (bounded
    * sample) + one m-byte code row per stored point. Each executor holds
    * codes only for the shards it serves — m bytes/vector where the raw
    * vectors don't fit, which is the regime DiskANN's design exists for
    * (the broadcast-regime [[cache]] is where it's least needed). */
  private val shardCache =
    TrieMap.empty[(String, Int), (Long, PqCodebooks, Array[Array[Byte]])]

  def clearCaches(): Unit = { cache.clear(); shardCache.clear() }

  private def pqState(spark: SparkSession, dir: String): (LocalIndex, PqCodebooks, Array[Array[Int]]) =
    cache.getOrElseUpdate(dir, {
      val idx = VamanaOps.model(spark, dir).localIndex.getOrElse(sys.error(
        "vamana_pq_search serves the broadcast regime; beyond maxLocalPoints " +
          "use searchFanout (per-shard codes, same kernel)"))
      // the codebooks are trained on RAW embeddings and search() reranks
      // with the RAW query — both only match idx.points under the identity
      // (l2) reduction. A cos/ip index would need prepareQuery + codebooks
      // trained on the metric-transformed points.
      require(idx.params.metric == "l2",
        s"PQ-guided serving assumes the l2 (identity) reduction; index metric " +
          s"is '${idx.params.metric}' — train codebooks on the transformed points instead")
      val cb = Quantization.pqTrain(spark, dir)
      val codes = idx.points.map(encode(_, cb))
      (idx, cb, codes)
    })

  private def encode(v: Array[Float], cb: PqCodebooks): Array[Int] =
    Array.tabulate(cb.m)(s =>
      Quantization.nearest(java.util.Arrays.copyOfRange(v, s * cb.subDim, (s + 1) * cb.subDim),
        cb.books(s)))

  /** Per-query ADC lookup table: lut(s)(c) = ||query_sub − centroid||², float
    * accumulate to match the kernel's l2sq discipline. */
  private def adcLut(q: Array[Float], cb: PqCodebooks): Array[Array[Float]] =
    Array.tabulate(cb.m, cb.k) { (s, c) =>
      var d = 0.0f
      var i = 0
      val cen = cb.books(s)(c)
      while (i < cb.subDim) {
        val x = q(s * cb.subDim + i) - cen(i)
        d += x * x
        i += 1
      }
      d
    }

  /** The per-query PQ serving kernel — ONE arithmetic shared by the batch
    * query ([[search]]) and the ingest-side streaming twin
    * ([[graft.streaming.StreamingOps.streamingVectorSearchPq]]), so the
    * two cannot drift (bit-identity spec-asserted, the streaming family's
    * deployment rule): ADC traversal over the m-byte codes, exact rerank
    * of the visited pool, (dist, id)-tie-broken top-k. */
  private[graft] def topkPq(index: LocalIndex, books: PqCodebooks,
      cds: Array[Array[Int]], qv: Array[Float], k: Int,
      fullBeam: Boolean): IndexedSeq[(Long, Double)] = {
    val lut = adcLut(qv, books)
    val m = books.m
    val score: Int => Float = { node =>
      val row = cds(node)
      var d = 0.0f
      var s = 0
      while (s < m) { d += lut(s)(row(s)); s += 1 }
      d
    }
    rerankTopK(index, score, qv, k, fullBeam, VamanaKernel.AnyId)
      .map { case (id, d) => (id, math.rint(d * 1e4) / 1e4) }
      .toIndexedSeq
  }

  /** ADC traversal over one index (the broadcast index or one shard),
    * exact rerank of the visited pool, then the kernel's top-k step over
    * the allowed ids — the per-index body of every PQ search path. */
  private def rerankTopK(idx: LocalIndex, score: Int => Float, qv: Array[Float], k: Int,
      fullBeam: Boolean, allowed: Long => Boolean): Array[(Long, Float)] = {
    val kk = math.min(k, idx.size)
    val beamL = if (fullBeam) idx.size else math.max(idx.params.efSearch, kk)
    val (poolIds, _) = VamanaKernel.greedySearchScored(score, idx.graph, idx.medoid, beamL)
    val exact = poolIds.map(p => VamanaKernel.l2sq(idx.points(p), qv))
    VamanaKernel.topK(idx, poolIds, exact, kk, i => allowed(idx.ids(poolIds(i))))
  }

  /** One shard's answers to one query as (query_id, id, dist) rows: ADC
    * scores over the shard's m-byte code rows, then [[rerankTopK]]. */
  private def shardAnswers(idx: LocalIndex, cb: PqCodebooks, codes: Array[Array[Byte]],
      qid: Long, qv: Array[Float], k: Int, fullBeam: Boolean,
      allowed: Long => Boolean = VamanaKernel.AnyId): Iterator[(Long, Long, Double)] = {
    val lut = adcLut(qv, cb)
    val m = cb.m
    val score: Int => Float = { node =>
      val row = codes(node)
      var d = 0.0f
      var s = 0
      while (s < m) { d += lut(s)(row(s)); s += 1 }
      d
    }
    rerankTopK(idx, score, qv, k, fullBeam, allowed).iterator.map { case (id, d) => (qid, id, d.toDouble) }
  }

  /** The fitted broadcast-regime PQ serving state (index + codebooks +
    * per-point code rows) — the standing-index payload the streaming
    * serving leg broadcasts. */
  private[graft] def servingState(spark: SparkSession, dir: String)
      : (LocalIndex, PqCodebooks, Array[Array[Int]]) = pqState(spark, dir)

  /** PQ-guided top-k: traversal on ADC scores, exact rerank of the visited
    * pool. Same 10-query fixture as `knn_exact`/`vamana_search` so the three
    * serving paths are directly comparable. Distributed over the query
    * batch (mapPartitions + broadcast state) like every serving path; the
    * per-query work is hops × m table probes + |pool| exact distances. */
  def search(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 10,
      fullBeam: Boolean = false): DataFrame = {
    import spark.implicits._
    val (idx, cb, codes) = pqState(spark, dir)
    val bc = spark.sparkContext.broadcast((idx, cb, codes))
    val queries = Knn.queriesFromPoints(Tables.embeddings(spark, dir), nQueries)
      .select(col("query_id").cast("long"), col("query_vec").cast("array<float>"))
      .as[(Long, Array[Float])]
    queries.flatMap { case (qid, qv) =>
      val (index, books, cds) = bc.value
      topkPq(index, books, cds, qv, k, fullBeam).iterator.zipWithIndex
        .map { case ((id, d), r) => (qid, (r + 1).toLong, id, d) }
    }.toDF("query_id", "rank", "id", "dist")
      .orderBy(col("query_id"), col("rank"))
  }

  /** One-row hash-checked gate for the PQ-guided serving path:
    *  - `overlap_exact_ok`: full-beam PQ traversal + exact rerank matches
    *    exact kNN on every query — TRUE by the greedySearchScored theorem,
    *    so any kernel/codes/LUT regression flips it (hash mismatch);
    *  - `recall_ok`: default-beam PQ guidance clears `recallFloor` vs exact
    *    kNN — the lossy-regime quality floor (catastrophic-regression
    *    detector, set below the measured value like pq_gate's).
    * n_queries is oracle-recomputed from parquet; flags are invariants. */
  def gate(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 10,
      recallFloor: Double = 0.5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val exact = Knn.knnExact(emb, Knn.queriesFromPoints(emb, nQueries), k)
      .select(col("query_id"), col("id"))
    val full = search(spark, dir, nQueries, k, fullBeam = true)
      .select(col("query_id"), col("id"))
    val approx = search(spark, dir, nQueries, k)
      .select(col("query_id"), col("id"))
    // left-join from the distinct exact query ids so a ZERO-overlap query
    // (which the inner-join+groupBy shape silently dropped) still votes:
    // its coalesced overlap of 0 flips the flag, and the query-count term
    // makes an empty/short result flip it too instead of passing vacuously.
    val perQuery = exact.select(col("query_id")).distinct()
      .join(exact.join(full, Seq("query_id", "id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("ov")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("ov"), lit(0L)).as("overlap"))
    val exactOk = perQuery
      .agg(count(lit(1)).as("n_queries"),
        ((count(when(col("overlap") === k, 1)) === count(lit(1))) &&
          (count(lit(1)) === nQueries)).as("overlap_exact_ok"))
    val rec = exact.withColumn("in_exact", lit(1))
      .join(approx.withColumn("in_approx", lit(1)), Seq("query_id", "id"), "full_outer")
      .agg(count(col("in_exact")).as("n_exact"),
        count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hit"))
      .select((col("n_hit") >= col("n_exact") * recallFloor).as("recall_ok"))
    exactOk.crossJoin(rec)
      .select(col("n_queries"), col("overlap_exact_ok"), col("recall_ok"))
  }

  /** Default PQ shape for per-shard codebooks (matches
    * [[Quantization.pqTrain]]'s m=16 subspaces × k=32 centroids). */
  private val ShardM = 16
  private val ShardK = 32

  /** ORDER-SENSITIVE membership fingerprint of a shard's external-id
    * array (FNV-style fold of `(id + position)`): the memo's stale-entry
    * guard. The code rows are positional (row i ↔ idx.points(i)), so any
    * change in WHICH ids the shard holds OR in what order — including a
    * same-cardinality delete+insert under a reused cacheKey, the case a
    * size-only check waves through — must force a re-encode. One narrow
    * pass over a long array per (shard, query-batch): far cheaper than
    * the encode it protects. */
  private def idsFingerprint(ids: Array[Long]): Long = {
    var h = ids.length.toLong * 0x9E3779B97F4A7C15L
    var i = 0
    while (i < ids.length) { h = (h ^ (ids(i) + i)) * 0x100000001B3L; i += 1 }
    h
  }

  private def shardPqState(dir: String, shard: Int, idx: LocalIndex): (PqCodebooks, Array[Array[Byte]]) = {
    val fp = idsFingerprint(idx.ids)
    shardCache.get((dir, shard)) match {
      // the memo is positional (code row i ↔ idx.points(i)), so a shard
      // whose membership changed under the same key (an insert/delete
      // produced a new model but the caller reused the cacheKey) must
      // re-encode — otherwise new points would score out of bounds and
      // survivors would read another point's codes. The fingerprint also
      // catches SAME-SIZE mutations (delete n + insert n under a reused
      // key), which a bare size check silently serves wrong codes for.
      case Some((cachedFp, cb, codes)) if cachedFp == fp && codes.length == idx.size =>
        (cb, codes)
      case _ =>
        val dim = idx.points(0).length
        require(dim % ShardM == 0, s"dim $dim must divide into $ShardM subspaces")
        val subDim = dim / ShardM
        // bounded training sample of the shard's own points — the shard is
        // its own distribution, so local codebooks beat one global set
        val sample = idx.points.take(4096)
        val books = Array.tabulate(ShardM)(s =>
          Quantization.kmeans(
            sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim)),
            ShardK, iters = 3))
        val cb = PqCodebooks(ShardM, ShardK, subDim, books)
        // k=32 codes fit a BYTE — the cached code rows really are m
        // bytes/vector, the ledger's claim, not m ints
        val st = (cb, idx.points.map(p => encode(p, cb).map(_.toByte)))
        shardCache.put((dir, shard), (fp, st._1, st._2))
        st
    }
  }

  /** PQ-guided top-k in the FANOUT regime — the missing half of the
    * DiskANN memory story: traversal inside EACH shard kernel runs on ADC
    * lookups over that shard's own m-byte codes (trained + memoized
    * per (dataset, shard) in the executor JVM, never shipped), the visited
    * pool reranks with the shard's full-precision vectors, and the global
    * answer merges per-shard top-ks exactly like [[FanoutModel.search]].
    * With `fullBeam` each shard's pool is its whole component, so the
    * per-shard answer is shard-exact kNN and the merge is EXACT kNN —
    * [[gateFanout]]'s theorem (each point lives in exactly one shard under
    * [[VamanaFanout.fit]]). In production the executor holds graph + codes
    * (m bytes/vector) in memory; the raw vectors page in only for the
    * pool rerank — see [[fanoutCodeMemory]] for the measured ratio. */
  def searchFanout(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 10,
      fullBeam: Boolean = false): DataFrame =
    searchFanoutModel(VamanaOps.fanoutModel(spark, dir),
      Knn.queriesFromPoints(Tables.embeddings(spark, dir), nQueries), dir, k, fullBeam)

  /** [[searchFanout]] against ANY fitted fanout model + query frame —
    * the entry ScaleBench drives with a synthetic corpus. `cacheKey`
    * scopes the per-shard codebook/code memo (pass the dataset dir, or a
    * unique tag per fitted model). */
  def searchFanoutModel(fm: FanoutModel, queriesDf: DataFrame, cacheKey: String,
      k: Int, fullBeam: Boolean): DataFrame = {
    val spark = fm.shards.sparkSession
    import spark.implicits._
    require(fm.params.metric == "l2",
      "PQ-guided fanout serving assumes the l2 (identity) reduction")
    val queries = queriesDf
      .select(col("query_id").cast("long"), col("query_vec").cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bcQ = spark.sparkContext.broadcast(queries)
    val dirKey = cacheKey
    val answers = fm.shards.flatMap { case (shard, idx) =>
      val (cb, codes) = shardPqState(dirKey, shard, idx)
      bcQ.value.iterator.flatMap { case (qid, qv) => shardAnswers(idx, cb, codes, qid, qv, k, fullBeam) }
    }.toDF("query_id", "id", "dist")
    FanoutModel.rankMerge(answers, k)
  }

  /** PQ-guided ROUTED serving — the serving-matrix cell (clustered
    * routing × PQ memory): queries route to their `nprobe`
    * nearest-centroid shards exactly as
    * [[RoutedFanoutModel.searchRouted]], and each probed shard traverses
    * on ADC lookups with exact rerank exactly as [[searchFanoutModel]] —
    * per-request cost is nprobe ADC traversals, per-executor memory is
    * m-byte codes. At full probe + full beam the pool is each shard's
    * whole component, rerank is exact, and ε-closure covers every point,
    * so the merge IS exact kNN (the routed gate's theorem composed with
    * the PQ gate's). */
  def searchRoutedModel(rm: RoutedFanoutModel, queriesDf: DataFrame, cacheKey: String,
      k: Int, nprobe: Int, fullBeam: Boolean,
      routeEps: Option[Double] = None): DataFrame = {
    val spark = rm.shards.sparkSession
    import spark.implicits._
    require(rm.params.metric == "l2",
      "PQ-guided routed serving assumes the l2 (identity) reduction")
    val queries = queriesDf
      .select(col("query_id").cast("long"), col("query_vec").cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val p = math.min(math.max(1, nprobe), rm.centroids.length)
    // probe rule: fixed nprobe, or — with routeEps — the SAME adaptive
    // band rule as the raw-vector path (nprobe then acts as maxProbe),
    // completing the (PQ memory x adaptive routing) serving-matrix cell
    val routed: Map[Int, Array[(Long, Array[Float])]] = queries
      .flatMap { case (qid, qv) =>
        val ds = VamanaRouted.sortedCentroidDists(rm.centroids, qv)
        val sel = routeEps match {
          case Some(eps) => VamanaRouted.adaptiveProbeShards(ds, eps, nprobe, rm.centroids.length)
          case None => ds.take(p).map(_._2).toSeq
        }
        sel.map(si => (si, (qid, qv)))
      }
      .groupBy(_._1).map { case (si, xs) => (si, xs.map(_._2)) }
    val bcR = spark.sparkContext.broadcast(routed)
    val dirKey = cacheKey
    val answers = rm.shards.flatMap { case (shard, idx) =>
      val probes = bcR.value.getOrElse(shard, Array.empty[(Long, Array[Float])])
      if (probes.isEmpty) Iterator.empty
      else {
        val (cb, codes) = shardPqState(dirKey, shard, idx)
        probes.iterator.flatMap { case (qid, qv) => shardAnswers(idx, cb, codes, qid, qv, k, fullBeam) }
      }
    }.toDF("query_id", "id", "dist")
    FanoutModel.rankMerge(answers, k)
  }

  /** FILTERED PQ-guided fanout search — the serving-matrix completion
    * (filtered × PQ-memory × beyond-broadcast): per shard, the greedy
    * traversal runs UNFILTERED on ADC scores (restricting the walk would
    * disconnect it at low selectivity — the filtered-DiskANN rule), the
    * predicate applies when the visited pool reranks with exact
    * distances, so only allowed ids can enter the per-shard top-k; global
    * merge as usual. With `fullBeam` the pool is the whole shard
    * component REGARDLESS of the approximate scores, so exact rerank +
    * predicate + 1-of-s merge is EXACTLY filtered kNN —
    * [[gateFanoutFiltered]]'s theorem, the fanout-filtered gate composed
    * with the PQ gate. */
  def searchFanoutModelFiltered(fm: FanoutModel, queriesDf: DataFrame, cacheKey: String,
      allowedIds: Array[Long], k: Int, fullBeam: Boolean): DataFrame = {
    val spark = fm.shards.sparkSession
    import spark.implicits._
    require(fm.params.metric == "l2",
      "PQ-guided fanout serving assumes the l2 (identity) reduction")
    val queries = queriesDf
      .select(col("query_id").cast("long"), col("query_vec").cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bcQ = spark.sparkContext.broadcast(queries)
    val sorted = { val a = allowedIds.clone(); java.util.Arrays.sort(a); a }
    val bcA = spark.sparkContext.broadcast(sorted)
    val dirKey = cacheKey
    val answers = fm.shards.flatMap { case (shard, idx) =>
      val (cb, codes) = shardPqState(dirKey, shard, idx)
      val allow = bcA.value
      val pred = (id: Long) => java.util.Arrays.binarySearch(allow, id) >= 0
      bcQ.value.iterator.flatMap { case (qid, qv) =>
        shardAnswers(idx, cb, codes, qid, qv, k, fullBeam, pred)
      }
    }.toDF("query_id", "id", "dist")
    FanoutModel.rankMerge(answers, k)
  }

  /** Hash-checked gate for the filtered PQ fanout path — the
    * `vamana_fanout_filtered_gate` statement with ADC traversal: full
    * per-shard beam makes the merge exact filtered kNN, so every
    * per-query overlap with the exact filtered scan must be
    * min(k, n_allowed), stated by the DuckDB oracle from the documents
    * table (lang fixture shared with the raw-vector gate). */
  def gateFanoutFiltered(spark: SparkSession, dir: String, lang: String = "en",
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val allowedDf = graft.core.Tables.documents(spark, dir).where(col("lang") === lang)
      .select(col("doc_id"))
    val allowed = allowedDf.as[Long].collect()
    val fm = VamanaOps.fanoutModel(spark, dir)
    val ann = searchFanoutModelFiltered(fm, q, dir, allowed, k, fullBeam = true)
      .select(col("query_id"), col("id"))
    val exact = Knn.knnExact(
        emb.join(allowedDf.withColumnRenamed("doc_id", "vec_id"), "vec_id"), q, k)
      .select(col("query_id"), col("id"))
    // zero-overlap-safe: left-join from the query fixture so a dropped
    // query coalesces to overlap 0 instead of vanishing
    q.select(col("query_id")).distinct()
      .join(ann.join(exact, Seq("query_id", "id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("ov")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("ov"), lit(0L)).as("overlap"))
      .orderBy(col("query_id"))
  }

  /** [[gate]]'s fanout twin (`vamana_pq_fanout_gate`): full-beam per-shard
    * PQ traversal + exact rerank is shard-exact kNN, the merge is exact
    * kNN → every per-query overlap with exact kNN must be k (hash-checked
    * invariant); default-beam PQ guidance clears the recall floor. Both
    * flags use the zero-overlap-safe left-join shape. */
  def gateFanout(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 10,
      recallFloor: Double = 0.5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val exact = Knn.knnExact(emb, Knn.queriesFromPoints(emb, nQueries), k)
      .select(col("query_id"), col("id"))
    val full = searchFanout(spark, dir, nQueries, k, fullBeam = true)
      .select(col("query_id"), col("id"))
    val approx = searchFanout(spark, dir, nQueries, k)
      .select(col("query_id"), col("id"))
    val perQuery = exact.select(col("query_id")).distinct()
      .join(exact.join(full, Seq("query_id", "id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("ov")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("ov"), lit(0L)).as("overlap"))
    val exactOk = perQuery
      .agg(count(lit(1)).as("n_queries"),
        ((count(when(col("overlap") === k, 1)) === count(lit(1))) &&
          (count(lit(1)) === nQueries)).as("overlap_exact_ok"))
    val rec = exact.withColumn("in_exact", lit(1))
      .join(approx.withColumn("in_approx", lit(1)), Seq("query_id", "id"), "full_outer")
      .agg(count(col("in_exact")).as("n_exact"),
        count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hit"))
      .select((col("n_hit") >= col("n_exact") * recallFloor).as("recall_ok"))
    exactOk.crossJoin(rec)
      .select(col("n_queries"), col("overlap_exact_ok"), col("recall_ok"))
  }

  /** Per-shard serving-memory ledger for the PQ fanout path: raw vector
    * bytes (n·dim·4) vs code bytes (n·m) — the DiskANN ratio ScaleBench
    * records. Computed inside each shard task; only s rows move. */
  def fanoutCodeMemory(spark: SparkSession, dir: String): DataFrame =
    fanoutCodeMemoryModel(VamanaOps.fanoutModel(spark, dir))

  def fanoutCodeMemoryModel(fm: FanoutModel): DataFrame = {
    val spark = fm.shards.sparkSession
    import spark.implicits._
    fm.shards.map { case (shard, idx) =>
      val dim = if (idx.size == 0) 0 else idx.points(0).length
      (shard, idx.size.toLong, idx.size.toLong * dim * 4L, idx.size.toLong * ShardM)
    }.toDF("shard", "n_points", "raw_vector_bytes", "pq_code_bytes")
      .orderBy(col("shard"))
  }
}
