package graft.vamana

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Tables}
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
    * per stored point (positional, parallel to `idx.points`). Released by
    * [[clearCaches]]. */
  private val cache =
    Memo[(SparkSession, String), (LocalIndex, PqCodebooks, Array[Array[Int]])](this)

  /** FANOUT-regime serving state, memoized per (dataset, shard) in the
    * executor JVM: codebooks trained on the SHARD'S OWN points (bounded
    * sample) + one m-byte code row per stored point. Each executor holds
    * codes only for the shards it serves — m bytes/vector where the raw
    * vectors don't fit, which is the regime DiskANN's design exists for
    * (the broadcast-regime [[cache]] is where it's least needed). */
  private val shardCache =
    Memo[(String, Int), (Long, PqCodebooks, Array[Array[Byte]])](this)

  /** Release both memos (the broadcast-regime state and the shard codes). */
  def clearCaches(): Unit = Memo.release(this)

  private def pqState(spark: SparkSession, dir: String): (LocalIndex, PqCodebooks, Array[Array[Int]]) =
    cache((spark, dir)) {
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
    }

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
    * the allowed ids ([[VamanaKernel.rerankTopK]]) — the per-index body of
    * every PQ search path. */
  private def rerankTopK(idx: LocalIndex, score: Int => Float, qv: Array[Float], k: Int,
      fullBeam: Boolean, allowed: Long => Boolean): Array[(Long, Float)] = {
    val kk = math.min(k, idx.size)
    val beamL = if (fullBeam) idx.size else math.max(idx.params.efSearch, kk)
    VamanaKernel.rerankTopK(idx, score, beamL, qv, kk, allowed)
  }

  /** One shard's top-k for one query: ADC scores over the shard's m-byte
    * code rows, then [[rerankTopK]]. */
  private def shardTopK(idx: LocalIndex, cb: PqCodebooks, codes: Array[Array[Byte]],
      qv: Array[Float], k: Int, fullBeam: Boolean,
      allowed: Long => Boolean): Array[(Long, Float)] = {
    val lut = adcLut(qv, cb)
    val m = cb.m
    val score: Int => Float = { node =>
      val row = codes(node)
      var d = 0.0f
      var s = 0
      while (s < m) { d += lut(s)(row(s)); s += 1 }
      d
    }
    rerankTopK(idx, score, qv, k, fullBeam, allowed)
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
      recallFloor: Double = 0.5): DataFrame =
    gateOver(spark, dir, nQueries, k, recallFloor)(fb => search(spark, dir, nQueries, k, fb))

  /** The body of [[gate]] and [[gateFanout]] over one PQ search path
    * (`search(fullBeam)`): full-beam overlap with exact kNN and the
    * default-beam recall floor. */
  private def gateOver(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      recallFloor: Double)(search: Boolean => DataFrame): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val exact = Knn.knnExact(emb, Knn.queriesFromPoints(emb, nQueries), k)
      .select(col("query_id"), col("id"))
    val full = search(true).select(col("query_id"), col("id"))
    val approx = search(false).select(col("query_id"), col("id"))
    // a ZERO-overlap query still votes (its overlap of 0 flips the flag),
    // and the query-count term makes an empty/short result flip it too
    // instead of passing vacuously.
    val exactOk = VamanaOps.overlapPerQuery(exact, exact, full)
      .agg(count(lit(1)).as("n_queries"),
        ((count(when(col("overlap") === k, 1)) === count(lit(1))) &&
          (count(lit(1)) === nQueries)).as("overlap_exact_ok"))
    exactOk.crossJoin(VamanaOps.recallOk(exact, approx, recallFloor))
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
    // the memo is positional (code row i ↔ idx.points(i)), so a shard
    // whose membership changed under the same key (an insert/delete
    // produced a new model but the caller reused the cacheKey) must
    // re-encode — otherwise new points would score out of bounds and
    // survivors would read another point's codes. The fingerprint also
    // catches SAME-SIZE mutations (delete n + insert n under a reused
    // key), which a bare size check silently serves wrong codes for.
    val (_, cb, codes) =
      shardCache((dir, shard), st => st._1 == fp && st._3.length == idx.size) {
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
        (fp, cb, idx.points.map(p => encode(p, cb).map(_.toByte)))
      }
    (cb, codes)
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
    require(fm.params.metric == "l2",
      "PQ-guided fanout serving assumes the l2 (identity) reduction")
    shardTopKPq(fm.core, queriesDf, cacheKey, k, fullBeam)
  }

  /** The per-shard PQ search over any shard core: each shard that has
    * queries trains (or reuses) its codes once, then answers its queries
    * by ADC traversal + exact rerank over the `allowed` ids (all ids when
    * `allowedIds` is None); the core scatters and rank-merges. */
  private def shardTopKPq[R <: ShardRouting[R]](core: ShardCore[R], queriesDf: DataFrame,
      cacheKey: String, k: Int, fullBeam: Boolean,
      probe: Option[Array[Float] => Seq[Int]] = None,
      allowedIds: Option[Array[Long]] = None): DataFrame = {
    val pred = allowedIds.map(core.idPredicate(_, deny = false))
    core.topK(core.prepare(queriesDf, "query_id", "query_vec"), k, probe) { (shard, idx) =>
      val (cb, codes) = shardPqState(cacheKey, shard, idx)
      val allowed = pred.fold(VamanaKernel.AnyId)(_())
      q => shardTopK(idx, cb, codes, q._2, k, fullBeam, allowed)
    }
  }

  /** PQ-guided ROUTED serving — the serving-matrix cell (clustered
    * routing × PQ memory): queries route to their `nprobe`
    * nearest-centroid shards exactly as
    * [[RoutedFanoutModel.searchRouted]], and each probed shard traverses
    * on ADC lookups with exact rerank exactly as [[searchFanoutModel]] —
    * per-request cost is nprobe ADC traversals, per-executor memory is
    * m-byte codes, and an unprobed shard trains no codes. At full probe +
    * full beam the pool is each shard's whole component, rerank is exact,
    * and ε-closure covers every point, so the merge IS exact kNN (the
    * routed gate's theorem composed with the PQ gate's). With `routeEps`
    * the probe rule is the SAME adaptive band rule as the raw-vector path
    * (nprobe then acts as maxProbe), completing the (PQ memory × adaptive
    * routing) serving-matrix cell. */
  def searchRoutedModel(rm: RoutedFanoutModel, queriesDf: DataFrame, cacheKey: String,
      k: Int, nprobe: Int, fullBeam: Boolean,
      routeEps: Option[Double] = None): DataFrame = {
    require(rm.params.metric == "l2",
      "PQ-guided routed serving assumes the l2 (identity) reduction")
    val routing = rm.core.routing
    val probe = routeEps match {
      case Some(eps) => routing.adaptive(eps, nprobe)
      case None => routing.nearest(nprobe)
    }
    shardTopKPq(rm.core, queriesDf, cacheKey, k, fullBeam, Some(probe))
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
    require(fm.params.metric == "l2",
      "PQ-guided fanout serving assumes the l2 (identity) reduction")
    shardTopKPq(fm.core, queriesDf, cacheKey, k, fullBeam, allowedIds = Some(allowedIds))
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
    // a query the search dropped still appears, with overlap 0
    VamanaOps.overlapPerQuery(q, exact, ann).orderBy(col("query_id"))
  }

  /** [[gate]]'s fanout twin (`vamana_pq_fanout_gate`): full-beam per-shard
    * PQ traversal + exact rerank is shard-exact kNN, the merge is exact
    * kNN → every per-query overlap with exact kNN must be k (hash-checked
    * invariant); default-beam PQ guidance clears the recall floor. Both
    * flags use the zero-overlap-safe left-join shape. */
  def gateFanout(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 10,
      recallFloor: Double = 0.5): DataFrame =
    gateOver(spark, dir, nQueries, k, recallFloor)(fb => searchFanout(spark, dir, nQueries, k, fb))

  /** Per-shard serving-memory ledger for the PQ fanout path: raw vector
    * bytes (n·dim·4) vs code bytes (n·m) — the DiskANN ratio ScaleBench
    * records. Computed inside each shard task; only s rows move. */
  def fanoutCodeMemory(spark: SparkSession, dir: String): DataFrame =
    fanoutCodeMemoryModel(VamanaOps.fanoutModel(spark, dir))

  def fanoutCodeMemoryModel(fm: FanoutModel): DataFrame = {
    val spark = fm.core.spark
    import spark.implicits._
    fm.shards.map { case (shard, idx) =>
      val dim = if (idx.size == 0) 0 else idx.points(0).length
      (shard, idx.size.toLong, idx.size.toLong * dim * 4L, idx.size.toLong * ShardM)
    }.toDF("shard", "n_points", "raw_vector_bytes", "pq_code_bytes")
      .orderBy(col("shard"))
  }
}
