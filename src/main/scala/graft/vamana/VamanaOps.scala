package graft.vamana

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Tables}
import graft.operators.Knn

/** SparkEntry-facing ANN operators. Fitted models are memoized per
  * (session, scale directory) so Verify/Bench calls don't rebuild the graph
  * per query, and a restarted session never gets a model whose RDDs belong
  * to a stopped context. */
object VamanaOps {

  /** BASELINE.md's suggested params for the dim-64 embeddings table. */
  val defaultParams: VamanaParams =
    VamanaParams(dim = 64, maxDegree = 32, beamWidth = 64, alpha = 1.2f, efSearch = 128)

  private type Key = (SparkSession, String)

  private val cache = Memo[Key, VamanaModel](this, _.unpersist())

  def model(spark: SparkSession, dir: String): VamanaModel =
    cache((spark, dir))(
      VamanaIndexer.fit(Tables.embeddings(spark, dir), defaultParams))

  /** Fanout serving model, fitted ONCE per dataset — round 1 rebuilt every
    * shard graph inside each search call. */
  private val fanoutCache = Memo[Key, FanoutModel](this, _.unpersist())

  def fanoutModel(spark: SparkSession, dir: String): FanoutModel =
    fanoutCache((spark, dir))(
      VamanaFanout.fit(Tables.embeddings(spark, dir), defaultParams, numShards = 4))

  /** CLUSTERED (routed) serving model — [[VamanaRouted.fit]]'s SPANN-style
    * k-means shard layout over the same embeddings fixture, fitted once
    * per dataset like [[fanoutModel]] so repeat queries pay zero builds. */
  private val routedCache = Memo[Key, RoutedFanoutModel](this, _.unpersist())

  def routedModel(spark: SparkSession, dir: String): RoutedFanoutModel =
    routedCache((spark, dir))(
      VamanaRouted.fit(Tables.embeddings(spark, dir), defaultParams, numShards = 4))

  /** Cosine-metric fanout twin (normalize-at-fit, the kernel's "cos"
    * reduction) — the serving index for similarity-JOIN mining, fitted
    * once per dataset like [[fanoutModel]]. */
  private val fanoutCosCache = Memo[Key, FanoutModel](this, _.unpersist())

  def fanoutCosModel(spark: SparkSession, dir: String): FanoutModel =
    fanoutCosCache((spark, dir))(
      VamanaFanout.fit(Tables.embeddings(spark, dir),
        defaultParams.copy(metric = "cos"), numShards = 4))

  private val insertCache = Memo[Key, VamanaModel](this, _.unpersist())
  private val deleteCache = Memo[Key, VamanaModel](this, _.unpersist())
  private val mergeCache = Memo[Key, VamanaModel](this, _.unpersist())
  private val pqInsertCache = Memo[Key, FanoutModel](this, _.unpersist())

  /** Delete-then-serve demo: drop the first 50 vectors from the fitted
    * model (copy-on-write — the shared cached model is untouched), then
    * search with the next 10 vectors. Deleted ids never surfacing and
    * post-delete recall are spec-gated. */
  def vamanaDeleteSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    // first 50 ids, but never the whole (smoke-scale) corpus
    val nDel = math.min(50L, n / 2)
    val m = deleteCache((spark, dir))(model(spark, dir).delete((0L until nDel).toArray))
    val q = emb.where(col("vec_id") >= nDel && col("vec_id") < nDel + 10)
      .select((col("vec_id") - nDel).cast("long").as("query_id"),
        col("embedding").as("query_vec"))
    m.search(q, 10)
  }

  /** Incremental-insert serving demo: fit on all but the last 50 vectors,
    * insert those 50 as the "daily batch" (zero rebuilds — spec-gated via
    * `VamanaKernel.buildCount`), then search exactly the inserted vectors.
    * Fitted+inserted once per dataset like the other cached models. */
  def vamanaInsertSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val maxId = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0)
    // last 50 vectors as the batch, but never more than half the corpus —
    // a tiny (smoke-scale) dataset must still leave a non-empty base fit
    val cut = math.max(maxId - 49, (maxId + 1) / 2)
    val m = insertCache((spark, dir)) {
      val base = VamanaIndexer.fit(emb.where(col("vec_id") < cut), defaultParams)
      base.insert(emb.where(col("vec_id") >= cut))
    }
    val q = emb.where(col("vec_id") >= cut)
      .select((col("vec_id") - cut).cast("long").as("query_id"),
        col("embedding").as("query_vec"))
    m.search(q, 10)
  }

  /** Per-query overlap of `ann` with `exact` (both (query_id, id)), one
    * row per distinct query id of `queryIds`: left-joined, so a query
    * with no hit, or no answer at all, still votes with overlap 0 — the
    * zero-overlap-safe gate shape. */
  private[vamana] def overlapPerQuery(queryIds: DataFrame, exact: DataFrame,
      ann: DataFrame): DataFrame =
    queryIds.select(col("query_id")).distinct()
      .join(exact.join(ann, Seq("query_id", "id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("ov")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("ov"), lit(0L)).as("overlap"))

  /** One row, `recall_ok`: `approx` holds at least `floor` × |exact| of
    * `exact`'s (query_id, id) pairs. */
  private[vamana] def recallOk(exact: DataFrame, approx: DataFrame, floor: Double): DataFrame =
    exact.withColumn("in_exact", lit(1))
      .join(approx.withColumn("in_approx", lit(1)), Seq("query_id", "id"), "full_outer")
      .agg(count(col("in_exact")).as("n_exact"),
        count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hit"))
      .select((col("n_hit") >= col("n_exact") * floor).as("recall_ok"))

  /** Hash-checked gate over [[vamanaInsertSearch]]: every inserted vector
    * must find ITSELF at rank 1 (FreshDiskANN insert correctness), and the
    * post-insert results must clear a recall floor vs exact kNN over the
    * full (base + batch) corpus. Counts are oracle-recomputable, flags are
    * invariants — the gate-query pattern of the seeded families. */
  def vamanaInsertGate(spark: SparkSession, dir: String,
      recallFloor: Double = 0.8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val maxId = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0)
    val cut = math.max(maxId - 49, (maxId + 1) / 2)
    val res = vamanaInsertSearch(spark, dir).select(col("query_id"), col("rank"), col("id"))
    val q = emb.where(col("vec_id") >= cut)
      .select((col("vec_id") - cut).cast("long").as("query_id"), col("embedding").as("query_vec"))
    val exact = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
    val self = res.where(col("rank") === 1)
      .agg(count(lit(1)).as("nq"),
        count(when(col("id") === col("query_id") + cut, 1)).as("nself"))
    self.crossJoin(recallOk(exact, res.select(col("query_id"), col("id")), recallFloor)).select(
      col("nq").as("n_inserted"),
      (col("nself") === col("nq")).as("self_found"),
      col("recall_ok"))
  }

  /** Index-merge gate (`vamana_merge_gate`) — the remaining quarter of
    * the maintenance lifecycle (insert / delete / rebalance / MERGE): fit
    * two INDEPENDENT indexes on the even/odd id halves (two daily
    * builds), merge them ([[VamanaKernel.merge]] via
    * [[VamanaModel.merge]] — no rebuild), and serve the merged graph at
    * FULL beam over the knn_exact 10-query fixture. On a connected
    * merged graph full-beam greedy search is exhaustive, so every
    * per-query overlap with exact kNN over the UNION must equal k — a
    * theorem about the algorithm, not a measured constant (the
    * vamana_search_overlap epistemics; the fixture carries no k-boundary
    * distance ties). A merge that drops a point, leaves the halves
    * disconnected, or corrupts an edge list surfaces as a vanished query
    * row or a false flag → hash mismatch. degree_ok asserts every node
    * still respects maxDegree after the back-edge prune-on-overflow. */
  def vamanaMergeGate(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val merged = mergeCache((spark, dir)) {
      val a = VamanaIndexer.fit(emb.where(col("vec_id") % 2 === 0), defaultParams)
      val b = VamanaIndexer.fit(emb.where(col("vec_id") % 2 === 1), defaultParams)
      new VamanaModel(a.merge(b).index.withFullBeam)
    }
    val q = Knn.queriesFromPoints(emb, 10)
    val ann = merged.search(q, k).select(col("query_id"), col("id"))
    val exact = Knn.knnExact(emb, q, k).select(col("query_id"), col("id"))
    val degOk = merged.index.graph.forall(_.length <= merged.index.params.maxDegree)
    ann.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov"))
      .agg(count(lit(1)).as("n_queries"),
        (min(col("ov")) === k).as("overlap_exact_ok"))
      .select(col("n_queries"), col("overlap_exact_ok"), lit(degOk).as("degree_ok"))
  }

  /** Mutation × PQ-serving composition gate (`vamana_pq_insert_gate`) —
    * the re-encode path end-to-end in the registry, not just in specs:
    * fit the FANOUT model without the last batch, serve it once through
    * PQ so the per-shard code memo is WARM under the gate's cacheKey,
    * insert the batch, then serve the inserted vectors through PQ
    * full-beam ADC traversal under the SAME key. The membership
    * fingerprint must re-train/re-encode every changed shard (stale codes
    * would misguide nothing at full beam — but self_found would still
    * catch an out-of-bounds or mis-sized code table, and the warm-memo
    * step is exactly the corruption window the fingerprint closes), and
    * full beam + exact rerank is exact kNN (the greedySearchScored
    * theorem), so every inserted point finds ITSELF at rank 1 and every
    * per-query overlap with the exact scan is k. */
  def vamanaPqInsertGate(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val maxId = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0)
    val cut = math.max(maxId - 49, (maxId + 1) / 2)
    val key = s"$dir#pq_insert_gate"
    val fm = pqInsertCache((spark, dir)) {
      val base = VamanaFanout.fit(emb.where(col("vec_id") < cut), defaultParams, numShards = 4)
      // warm the per-shard code memo on the PRE-insert membership
      VamanaPq.searchFanoutModel(base, Knn.queriesFromPoints(emb, 5), key,
        k, fullBeam = false).count()
      base.insert(emb.where(col("vec_id") >= cut))
    }
    val q = emb.where(col("vec_id") >= cut)
      .select((col("vec_id") - cut).cast("long").as("query_id"),
        col("embedding").as("query_vec"))
    val res = VamanaPq.searchFanoutModel(fm, q, key, k, fullBeam = true)
    val exact = Knn.knnExact(emb, q, k).select(col("query_id"), col("id"))
    val self = res.where(col("rank") === 1)
      .agg(count(lit(1)).as("nq"),
        count(when(col("id") === col("query_id") + cut, 1)).as("nself"))
    val overlap = overlapPerQuery(exact, exact, res.select(col("query_id"), col("id"))).agg(
      (count(when(col("overlap") === k, 1)) === count(lit(1))).as("overlap_exact_ok"))
    self.crossJoin(overlap).select(
      col("nq").as("n_inserted"),
      (col("nself") === col("nq")).as("self_found"),
      col("overlap_exact_ok"))
  }

  private val pqDeleteCache = Memo[Key, FanoutModel](this, _.unpersist())

  /** PQ-fanout DELETE gate — the mutation twin of [[vamanaPqInsertGate]]
    * and the end-to-end exercise of the per-shard code memo's MEMBERSHIP
    * FINGERPRINT: the memo is warmed on the full corpus under `key`, the
    * tail 50 points are deleted, and the SAME key serves again — under
    * the old size-only stale guard a shard whose cardinality happened to
    * survive unchanged would silently serve the deleted points' codes
    * positionally; the id-fold fingerprint forces the re-encode. Full-
    * beam PQ search over the survivors must return ZERO deleted ids and
    * the exact per-query kNN set (pool = whole component regardless of
    * ADC scores — the full-beam theorem). */
  def vamanaPqDeleteGate(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val maxId = emb.agg(max(col("vec_id").cast("long"))).head().getLong(0)
    val cut = math.max(maxId - 49, (maxId + 1) / 2)
    val key = s"$dir#pq_delete_gate"
    val fm = pqDeleteCache((spark, dir)) {
      val base = VamanaFanout.fit(emb, defaultParams, numShards = 4)
      // warm the per-shard code memo on the PRE-delete membership
      VamanaPq.searchFanoutModel(base, Knn.queriesFromPoints(emb, 5), key,
        k, fullBeam = false).count()
      base.delete((cut to maxId).toArray)
    }
    val surviving = emb.where(col("vec_id") < cut)
    val q = Knn.queriesFromPoints(surviving, 10)
    val res = VamanaPq.searchFanoutModel(fm, q, key, k, fullBeam = true)
    val exact = Knn.knnExact(surviving, q, k).select(col("query_id"), col("id"))
    val g = res.agg(countDistinct(col("query_id")).as("nq"),
      count(when(col("id") >= cut, 1)).as("nghost"))
    val overlap = overlapPerQuery(exact, exact, res.select(col("query_id"), col("id"))).agg(
      (count(when(col("overlap") === k, 1)) === count(lit(1))).as("overlap_exact_ok"))
    g.crossJoin(overlap).select(
      col("nq").as("n_queries"),
      (col("nghost") === 0).as("no_ghosts"),
      col("overlap_exact_ok"))
  }

  /** Hash-checked gate over [[vamanaDeleteSearch]]: no deleted id may ever
    * surface (ghost check), and post-delete results must clear a recall
    * floor vs exact kNN over the REMAINING corpus. */
  def vamanaDeleteGate(spark: SparkSession, dir: String,
      recallFloor: Double = 0.8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val nDel = math.min(50L, n / 2)
    val res = vamanaDeleteSearch(spark, dir).select(col("query_id"), col("id"))
    val remaining = emb.where(col("vec_id") >= nDel)
    val q = emb.where(col("vec_id") >= nDel && col("vec_id") < nDel + 10)
      .select((col("vec_id") - nDel).cast("long").as("query_id"), col("embedding").as("query_vec"))
    val exact = Knn.knnExact(remaining, q, 10).select(col("query_id"), col("id"))
    val g = res.agg(
      countDistinct(col("query_id")).as("nq"),
      count(when(col("id") < nDel, 1)).as("nghost"))
    g.crossJoin(recallOk(exact, res, recallFloor)).select(
      col("nq").as("n_queries"),
      (col("nghost") === 0).as("no_ghosts"),
      col("recall_ok"))
  }

  /** The serving model's graph re-parameterized to a FULL beam (efSearch =
    * n): greedy search with a beam that never evicts expands every node
    * reachable from the medoid, so on a connected graph it returns the
    * EXACT top-k. Same fitted graph — no refit, no second build. */
  private val fullBeamCache = Memo[Key, VamanaModel](this, _.unpersist())

  private def fullBeamModel(spark: SparkSession, dir: String): VamanaModel =
    fullBeamCache((spark, dir)) {
      val idx = model(spark, dir).localIndex.getOrElse(sys.error(
        "vamana_search_overlap is a broadcast-scale exactness gate; " +
          "distributed models are recall-gated by vamana_recall instead"))
      new VamanaModel(idx.withFullBeam)
    }

  /** Hash-checked serving-path gate: per-query OVERLAP between the graph
    * search at full beam and exact kNN, over the same 10-query fixture as
    * `knn_exact`. Full-beam greedy search on a connected graph is provably
    * exhaustive, so every overlap must equal k — which is exactly what the
    * DuckDB oracle states from the parquet ground truth. A kernel
    * regression (broken prune/beam/tie-break, disconnected graph, dropped
    * neighbor) surfaces as overlap < k → hash mismatch; the fixtures carry
    * no distance ties at the k-boundary (min double-space gap 4e-05 vs
    * ~1e-6 float accumulation error), so the id comparison is
    * deterministic. This is the one serving-family query whose correctness
    * is oracle-checkable without circularity: the expectation (k) is a
    * theorem about the algorithm, not a measured constant. */
  def vamanaSearchOverlap(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val ann = fullBeamModel(spark, dir).search(q, 10).select(col("query_id"), col("id"))
    val exact = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
    ann.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("overlap"))
      .select(col("query_id"), col("overlap"))
      .orderBy(col("query_id"))
  }

  /** ANN top-10 for the first 10 stored vectors — same fixture as knn_exact,
    * so the two results are directly comparable. Not SQL-expressible
    * (graph traversal) → rows-only driver check; accuracy is covered by the
    * recall gate in VamanaModelSpec and by [[recallReport]]. */
  def vamanaSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    model(spark, dir).search(Knn.queriesFromPoints(emb, 10), 10)
  }

  /** Squared-L2 radius shared by the exact range oracle
    * ([[graft.operators.Similarity.rangeSearchExact]]) and the ANN range
    * serving twins — ~10-50 in-range points per query at the test scales,
    * with no corpus distance within float-accumulation error of the
    * boundary (membership is engine-deterministic). */
  val RangeRadiusSq: Double = 1.5

  /** ANN range (radius) query at the default beam — the escalating-beam
    * graph traversal ([[VamanaKernel.rangeSearch]]) over the same 10-query
    * fixture as sim_range_search, so the two results are directly
    * comparable. Not SQL-expressible (graph traversal) → rows-only driver
    * check; completeness at full beam is the hash-checked
    * [[vamanaRangeGate]], default-beam completeness is spec-gated. */
  def vamanaRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    model(spark, dir).rangeSearch(Knn.queriesFromPoints(emb, 10), RangeRadiusSq)
  }

  /** Hash-checked range-search gate: at FULL beam the greedy traversal's
    * visited pool is the whole connected component, so every stored point
    * within the radius is in the pool and the in-range filter returns
    * EXACTLY the true range set — the same exhaustiveness argument as
    * vamana_search_overlap, stated here as set equality instead of
    * overlap counts. The oracle recomputes the set from the parquet
    * ground truth; any traversal/graph regression drops or adds a row →
    * hash mismatch. Ids only (the kernel's float distances are rounded
    * for display, not for comparison). */
  def vamanaRangeGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    fullBeamModel(spark, dir)
      .rangeSearch(Knn.queriesFromPoints(emb, 10), RangeRadiusSq)
      .select(col("query_id"), col("id"))
      .orderBy(col("query_id"), col("id"))
  }

  /** Full-beam re-parameterization of the cached fanout shards (beam =
    * shard size): each shard's range answer is provably its complete
    * in-range subset, so the union is the exact global range set. Same
    * fitted graphs — no refit. */
  private val fullBeamFanoutCache = Memo[Key, FanoutModel](this, _.unpersist())

  private def fullBeamFanoutModel(spark: SparkSession, dir: String): FanoutModel =
    fullBeamFanoutCache((spark, dir))(fanoutModel(spark, dir).withFullBeamShards())

  /** Full-beam routed twin, memoized per dataset like [[fullBeamFanoutModel]]
    * — [[vamanaRoutedRangeGate]] is re-invoked every Bench iteration and a
    * fresh `withFullBeamShards()` per call would both leak cached kernel
    * copies and re-pay the shard-radii collect each time. */
  private val fullBeamRoutedCache = Memo[Key, RoutedFanoutModel](this, _.unpersist())

  private def fullBeamRoutedModel(spark: SparkSession, dir: String): RoutedFanoutModel =
    fullBeamRoutedCache((spark, dir))(routedModel(spark, dir).withFullBeamShards())

  /** [[vamanaRangeGate]]'s theorem on the SHARDED serving regime: radius
    * membership is a global predicate, so per-shard complete answers
    * union to the exact global range set (no rank merge to disagree
    * about). Same oracle as the broadcast gate — the two serving paths
    * must produce the identical set. */
  def vamanaRangeFanoutGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    fullBeamFanoutModel(spark, dir)
      .rangeSearch(Knn.queriesFromPoints(emb, 10), RangeRadiusSq)
      .select(col("query_id"), col("id"))
      .orderBy(col("query_id"), col("id"))
  }

  /** Routed RANGE search gate — the one routed serving form where pruning
    * is EXACT: ball-bound shard pruning (triangle inequality — probe s
    * iff √d(q,c_s) ≤ √r + √R_s) provably contains every shard holding an
    * in-radius point, so full-beam + pruning equals the exact range scan,
    * hash-checked against the same DuckDB range oracle as the broadcast
    * and hash-fanout regimes. Pruning effectiveness is spec-checked (the
    * gate would pass vacuously at full probe). */
  def vamanaRoutedRangeGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    fullBeamRoutedModel(spark, dir)
      .rangeSearch(Knn.queriesFromPoints(emb, 10), RangeRadiusSq)
      .select(col("query_id"), col("id"))
      .orderBy(col("query_id"), col("id"))
  }

  /** SUB-VECTOR index for late-interaction serving — ColBERT's actual
    * architecture: every corpus vector contributes [[graft.operators
    * .Similarity.MaxSimGroups]] sub-vectors to a token-level MIPS index
    * under synthetic ids vec_id·g+j. (A single-vector cosine shortlist is
    * NOT a valid candidate generator here: on the isotropic fixture it
    * covers only ~0.2-0.5 of the exact maxsim winners — sub-vector maxima
    * are invisible to the full-vector dot — measured before this index
    * replaced it.) Inner-product metric: maxsim sums raw sub-dots. */
  private val subVecCache = Memo[Key, FanoutModel](this, _.unpersist())

  private def subVecModel(spark: SparkSession, dir: String): FanoutModel =
    subVecCache((spark, dir)) {
      val g = graft.operators.Similarity.MaxSimGroups
      val subs = Tables.embeddings(spark, dir).select(
          (col("vec_id") * g).as("base"),
          posexplode(array((0 until g).map(j =>
            graft.operators.Similarity.subVector(col("embedding"), j)): _*))
            .as(Seq("j", "sv")))
        .select((col("base") + col("j")).as("vec_id"), col("sv").as("embedding"))
      VamanaFanout.fit(subs, defaultParams.copy(dim = 16, metric = "ip"), numShards = 4)
    }

  /** MaxSim served at scale — candidate generation by PER-SUB-VECTOR ANN
    * (each query part q_i fetches its top-t sub-vector matches from the
    * token-level index; the union of parent ids is the shortlist), then
    * late-interaction rerank of the shortlist only. The exact maxsim
    * scorer is a src×corpus cross join; this is its serving shape, and
    * recall vs the exact maxsim top-k pins as the topkGate floor flag. */
  def maxsimRerankGate(spark: SparkSession, dir: String, k: Int = 5,
      perSubShortlist: Int = 50, recallFloor: Double = 0.8): DataFrame = {
    val g = graft.operators.Similarity.MaxSimGroups
    val emb = Tables.embeddings(spark, dir)
    val subQ = emb.where(col("vec_id") < 10).select(
        (col("vec_id") * g).as("base"),
        posexplode(array((0 until g).map(i =>
          graft.operators.Similarity.subVector(col("embedding"), i)): _*))
          .as(Seq("i", "qv")))
      .select((col("base") + col("i")).as("query_id"), col("qv").as("query_vec"))
    val cand = subVecModel(spark, dir).search(subQ, perSubShortlist)
      .select(floor(col("query_id") / g).cast("long").as("query_id"),
        floor(col("id") / g).cast("long").as("id"))
      .where(col("id") =!= col("query_id"))
      .distinct()
    graft.operators.Similarity.topkGate(
      graft.operators.Similarity.maxSimTopK(spark, dir, 10, k)
        .select(col("query_id"), col("id")),
      graft.operators.Similarity.maxsimRerank(spark, dir, cand, k)
        .select(col("query_id"), col("id")),
      recallFloor)
  }

  /** Per-language fitted cosine fanout models for the ANN-served bitext
    * path — one index per language side, cached per (dataset, lang). */
  private val langCosCache =
    Memo[(SparkSession, String, String), FanoutModel](this, _.unpersist())

  private def langCosModel(spark: SparkSession, dir: String, lang: String): FanoutModel =
    langCosCache((spark, dir, lang)) {
      val ids = Tables.documents(spark, dir).where(col("lang") === lang)
        .select(col("doc_id").as("vec_id"))
      VamanaFanout.fit(Tables.embeddings(spark, dir).join(ids, "vec_id"),
        defaultParams.copy(metric = "cos"), numShards = 2)
    }

  /** ANN-SERVED bitext mining — the scale path the exact `bitext_mining`
    * form points at: every margin ingredient comes from the per-language
    * cosine fanout indexes (forward — each src doc's candidate shortlist
    * AND kNN sum from the TGT index; backward — each tgt doc's kNN sum
    * from the SRC index), cosines recovered from the cos-metric reduction
    * (dist = 2−2cos on normalized vectors), the ratio margin reranks the
    * shortlist, and the gate pins best-pair agreement with the exact
    * cross-join form as a floor flag. Nothing here touches an all-pairs
    * join: two bounded ANN passes + pair-sized joins. */
  def bitextAnnGate(spark: SparkSession, dir: String, srcLang: String = "en",
      tgtLang: String = "de", kn: Int = 4, shortlist: Int = 16,
      agreeFloor: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val withLang = emb.join(docs, col("vec_id") === col("doc_id"))
    def side(lang: String) = withLang.where(col("lang") === lang)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val fwd = langCosModel(spark, dir, tgtLang).search(side(srcLang), shortlist)
      .withColumn("mcos", floor((lit(1.0) - col("dist") / 2) * 1e6).cast("long"))
    val sx = fwd.where(col("rank") <= kn)
      .groupBy(col("query_id")).agg(sum(col("mcos")).as("sx"))
    val sy = langCosModel(spark, dir, srcLang).search(side(tgtLang), kn)
      .withColumn("mcos", floor((lit(1.0) - col("dist") / 2) * 1e6).cast("long"))
      .groupBy(col("query_id")).agg(sum(col("mcos")).as("sy"))
      .withColumnRenamed("query_id", "id")
    val wBest = Window.partitionBy(col("query_id")).orderBy(col("margin").desc, col("id").asc)
    val best = fwd.select(col("query_id"), col("id"), col("mcos"))
      .join(sx, "query_id").join(sy, "id")
      .withColumn("margin", (col("mcos") * (2 * kn)) / (col("sx") + col("sy")))
      .withColumn("rk", row_number().over(wBest)).where(col("rk") === 1)
      .select(col("query_id"), col("id"))
    val exact = graft.operators.Similarity.bitextMining(spark, dir, srcLang, tgtLang, kn)
      .select(col("src_id").as("query_id"), col("tgt_id").as("id"))
    graft.operators.Similarity.topkGate(exact, best, agreeFloor)
  }

  /** ANN-SERVED MMR — the scale path of `mmr_rerank`: the candidate
    * shortlist comes from the cosine fanout index instead of the exact
    * brute-force pass, then the SAME greedy core
    * ([[graft.operators.Similarity.mmrSelect]]) runs over it with rel
    * recomputed by the exact cosine arithmetic — so the two forms differ
    * ONLY in the candidate set, and the gate pins selected-set agreement
    * with the exact form as a floor flag. The serving cost is one bounded
    * ANN pass + a candidate-sized join; nothing corpus-sized. */
  def mmrAnnGate(spark: SparkSession, dir: String, qMod: Long = 50,
      nCand: Int = 20, k: Int = 5, agreeFloor: Double = 0.8): DataFrame = {
    import graft.functions.NativeVectorFunctions.{dotNative, normNative}
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), normNative(spark, col("embedding")).as("nrm"))
    val queries = e.where(col("vec_id") % qMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("nrm").as("qn"))
    // nCand+1 then drop the self-hit (cos=1 top-1): the shortlist depth
    // stays nCand, matching the exact form's candidate count
    val shortlist = fanoutCosModel(spark, dir)
      .search(queries.select(col("query_id"), col("query_vec")), nCand + 1)
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"))
    val cand = shortlist
      .join(e.select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("nrm").as("vn")), "id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("id"),
        (dotNative(spark, col("vec"), col("query_vec")) / (col("vn") * col("qn"))).as("rel"),
        col("vec"))
    val annSel = graft.operators.Similarity.mmrSelect(cand, k)
      .select(col("query_id"), col("id"))
    val exactSel = graft.operators.Similarity.mmrRerank(spark, dir, qMod, nCand, k)
      .select(col("query_id"), col("id"))
    graft.operators.Similarity.topkGate(exactSel, annSel, agreeFloor)
  }

  /** FILTERED range search — unlike filtered top-k (where post-filtering
    * can leave fewer than k results and forces the adaptive machinery),
    * filtering a RANGE result is exact by construction: the filtered range
    * set IS the range set intersected with the predicate, so a complete
    * range answer + a distributed semi-join is provably the exact filtered
    * answer — no overfetch, no escalation, no broadcast of the filter.
    * Hash-checked at full beam against the documents-joined range oracle. */
  def vamanaRangeFilteredGate(spark: SparkSession, dir: String,
      lang: String = "en"): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val allowed = Tables.documents(spark, dir)
      .where(col("lang") === lang).select(col("doc_id").as("id"))
    fullBeamModel(spark, dir)
      .rangeSearch(Knn.queriesFromPoints(emb, 10), RangeRadiusSq)
      .join(allowed, "id")
      .select(col("query_id"), col("id"))
      .orderBy(col("query_id"), col("id"))
  }

  /** Shard-fanout search (4 shards) — the beyond-broadcast serving path;
    * same fixture as knn_exact/vamana_search so results are comparable.
    * Serves from the cached fitted model: no graph builds after the first
    * call (the round-1 scale-killer). */
  def vamanaFanout(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    fanoutModel(spark, dir).search(Knn.queriesFromPoints(emb, 10), 10)
  }

  /** Hash-checked gate over the sharded serving regime: scatter-gather
    * recall vs exact kNN must clear the reference's own 0.8 e2e floor —
    * the last serving family to get the gate-query treatment. */
  def vamanaFanoutGate(spark: SparkSession, dir: String,
      recallFloor: Double = 0.8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.operators.Similarity.topkGate(
      Knn.knnExact(emb, Knn.queriesFromPoints(emb, 10), 10)
        .select(col("query_id"), col("id")),
      vamanaFanout(spark, dir).select(col("query_id"), col("id")),
      recallFloor)
  }

  /** Routed (clustered-shard) search at nprobe=2 of 4 — the SPANN-style
    * serving regime where a query visits only its nearest shards instead
    * of the full scatter-gather; same fixture as `vamana_fanout_search`
    * so the two layouts are comparable. Rows-only (graph traversal);
    * recall + the full-probe exactness theorem are carried by
    * [[vamanaRoutedGate]]. */
  def vamanaRoutedSearch(spark: SparkSession, dir: String,
      nprobe: Int = 2, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    routedModel(spark, dir).searchRouted(Knn.queriesFromPoints(emb, 10), k, nprobe)
  }

  /** Hash-checked gate for the routed layout, two facts per run:
    *  - `full_probe_exact_ok`: at FULL probe (nprobe = s) + full per-shard
    *    beam, every shard returns its true in-shard top-k and ε-closure
    *    places every point in ≥ 1 shard, so the merge IS exact kNN — the
    *    per-query overlap with the exact scan must be exactly k (the
    *    fanout filtered gate's theorem, applied to the clustered layout);
    *  - `recall_ok`: at the DEPLOYED config (nprobe=2 of 4, default beam)
    *    recall vs exact kNN clears the reference's 0.8 e2e floor — the
    *    evidence that probing HALF the shards still serves, which is the
    *    entire point of paying the k-means at fit. */
  def vamanaRoutedGate(spark: SparkSession, dir: String,
      recallFloor: Double = 0.8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val exact = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
    val m = routedModel(spark, dir)
    val fullProbe = m.withFullBeamShards()
    val fullRows = fullProbe.search(q, 10).select(col("query_id"), col("id"))
    fullProbe.unpersist()
    val exactOk = fullRows.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("overlap"))
      .agg(min(col("overlap")).as("mn"), count(lit(1)).as("nq"))
      .select((col("mn") === 10 && col("nq") === 10).as("ok"))
    val routedRows = m.searchRouted(q, 10, nprobe = 2).select(col("query_id"), col("id"))
    graft.operators.Similarity.topkGate(exact, routedRows, recallFloor)
      .crossJoin(exactOk)
      .select(col("n_queries"), col("ok").as("full_probe_exact_ok"), col("recall_ok"))
  }

  /** FILTERED search on the ROUTED layout — the (clustered routing ×
    * metadata predicate) serving-matrix cell, [[vamanaFanoutFilteredGate]]'s
    * theorem on the ε-closure cover: at full probe + full beam each shard's
    * predicate-aware traversal returns its true in-shard allowed top-k and
    * every allowed point lives in ≥ 1 shard, so the merge IS exact
    * filtered kNN — per-query overlap with the exact filtered scan equals
    * min(k, n_allowed), which the DuckDB oracle states from the documents
    * table. The deployed config (nprobe=2 of 4, default beam) is exercised
    * by the spec, which also checks allowed-only membership. */
  def vamanaRoutedFilteredGate(spark: SparkSession, dir: String,
      lang: String = "en"): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val allowedDf = Tables.documents(spark, dir).where(col("lang") === lang)
      .select(col("doc_id"))
    val allowedIds = allowedDf.as[Long].collect()
    val ann = routedModel(spark, dir)
      .searchRoutedFiltered(q, allowedIds, 10, nprobe = 4, fullBeam = true)
      .select(col("query_id"), col("id"))
    val exact = Knn.knnExact(
        emb.join(allowedDf.withColumnRenamed("doc_id", "vec_id"), "vec_id"), q, 10)
      .select(col("query_id"), col("id"))
    ann.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("overlap"))
      .select(col("query_id"), col("overlap"))
      .orderBy(col("query_id"))
  }

  /** Hash-checked gate for query-ADAPTIVE routing (SPANN §4.3): each
    * query probes only the shards whose centroid distance sits within the
    * (1+routeEps)² band of its nearest — so the fleet pays the easy
    * median while boundary queries keep their fan-out. Three facts:
    *  - `recall_ok`: adaptive routing at the default band clears the
    *    reference's 0.8 e2e floor (same floor as fixed nprobe=2);
    *  - `probes_saved`: the MEAN probe count is strictly below numShards
    *    — adaptivity actually prunes (a vacuous band would full-probe);
    *  - `bounded_ok`: every per-query probe count is within [1, s] and
    *    the band rule at routeEps=0 degenerates to exactly nprobe=1
    *    (the rule's two endpoints, asserted on the same fitted model).
    * The gate band is 0.05 — the synthetic fixture is near-uniform, so
    * 64-dim distance concentration packs every centroid within ~1.15× of
    * the nearest (measured: eps 0.15 already full-probes); 0.05 measures
    * mean 2.3/4 probes at sf0.001 and 3.2/4 at sf0.01 with recall 0.90
    * and 1.00 — both flags hold with margin at both driver scales. Real
    * clustered corpora run wider bands (searchRoutedAdaptive's 0.3
    * default) because their nearest-centroid ratios actually spread. */
  def vamanaRoutedAdaptiveGate(spark: SparkSession, dir: String,
      routeEps: Double = 0.05, recallFloor: Double = 0.8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val exact = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
    val m = routedModel(spark, dir)
    val s = m.numShards
    val adaptive = m.searchRoutedAdaptive(q, 10, routeEps)
      .select(col("query_id"), col("id"))
    val probes = m.describeAdaptiveRouting(q, routeEps)
      .agg(avg(col("n_probes")).as("mean_p"), max(col("n_probes")).as("max_p"),
        min(col("n_probes")).as("min_p"))
      .select((col("mean_p") < s).as("probes_saved"),
        (col("min_p") >= 1 && col("max_p") <= s).as("in_range"))
    val nprobe1 = m.searchRouted(q, 10, nprobe = 1).select(col("query_id"), col("id"))
    val eps0 = m.searchRoutedAdaptive(q, 10, routeEps = 0.0).select(col("query_id"), col("id"))
    val endpoint = eps0.join(nprobe1, Seq("query_id", "id"))
      .agg(count(lit(1)).as("n_common"))
      .crossJoin(nprobe1.agg(count(lit(1)).as("n_rows")))
      .select((col("n_common") === col("n_rows")).as("endpoint_ok"))
    graft.operators.Similarity.topkGate(exact, adaptive, recallFloor)
      .crossJoin(probes)
      .crossJoin(endpoint)
      .select(col("n_queries"), col("recall_ok"),
        col("probes_saved"), (col("in_range") && col("endpoint_ok")).as("bounded_ok"))
  }

  /** Routed MERGE gate (`vamana_routed_merge_gate`) — the clustered
    * layout's fourth lifecycle quarter in the registry: two INDEPENDENT
    * routed fits on the even/odd id halves (two daily builds) fold by
    * [[RoutedFanoutModel.merge]] — shard rows re-keyed + unioned, centroid
    * tables CONCATENATED so both fits' clusters stay first-class routing
    * targets, zero kernel builds (flagged via buildCount). At full probe
    * + full beam the union of the two ε-closure covers is a cover of the
    * union corpus, so per-query overlap with exact kNN must equal k
    * (theorem; oracle literal), and the routing table must cover every
    * shard row (table_synced). */
  private val routedMergeCache =
    Memo[Key, (RoutedFanoutModel, Boolean)](this, _._1.unpersist())

  def vamanaRoutedMergeGate(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (merged, zeroBuilds) = routedMergeCache((spark, dir)) {
      val a = VamanaRouted.fit(emb.where(col("vec_id") % 2 === 0), defaultParams, numShards = 2)
      val b = VamanaRouted.fit(emb.where(col("vec_id") % 2 === 1), defaultParams, numShards = 2)
      val builds0 = VamanaKernel.buildCount.get()
      val m = a.merge(b)
      val zb = VamanaKernel.buildCount.get() == builds0
      val full = m.withFullBeamShards()
      a.unpersist(); b.unpersist(); m.unpersist()
      (full, zb)
    }
    val q = Knn.queriesFromPoints(emb, 10)
    val ann = merged.search(q, k).select(col("query_id"), col("id"))
    val exact = Knn.knnExact(emb, q, k).select(col("query_id"), col("id"))
    ann.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov"))
      .agg(count(lit(1)).as("n_queries"), (min(col("ov")) === k).as("ok"))
      .select(col("n_queries"),
        col("ok").as("overlap_exact_ok"),
        lit(zeroBuilds).as("zero_builds"),
        lit(merged.numShards == merged.shardSizes.length).as("table_synced"))
  }

  /** Rebalance gate (`vamana_routed_rebalance_gate`) — the routed
    * maintenance lifecycle's fourth quarter (insert / delete / merge /
    * REBALANCE) end-to-end in the registry, not just in specs. Fixture:
    * a bounded 4-shard routed fit over the first ≤1000 embeddings, grown
    * by 600 near-copies of vector 0 (distinct 1e-5 scale steps — no
    * distance ties) — routed skew is STRUCTURAL, every copy routes to
    * v0's centroid — then [[RoutedFanoutModel.rebalance]]. Flags, all
    * theorems about the implementation (oracle pins them as literals):
    *  - `split_happened`: the skewed shard actually split (a vacuous
    *    fixture would pass the rest trivially);
    *  - `sizes_ok`: post-rebalance max shard ≤ 2× the mean. The rebalance
    *    below REQUESTS maxRatio 1.5, but the gate asserts the looser 2×
    *    deliberately: maxPasses bounds the work, so a pass that improves
    *    the layout without fully converging to the requested ratio is
    *    acceptable maintenance, not a correctness failure — the hash gate
    *    pins "skew actually repaired" with headroom for a non-converged
    *    final pass (maxPasses splits, then no re-check);
    *  - `table_synced`: the routing table grew with the layout — every
    *    shard row owns a first-class centroid slot (the refresh
    *    [[FanoutModel.rebalance]] cannot do is the routed one's point);
    *  - `overlap_exact_ok`: full probe + full beam over the REBALANCED
    *    layout still equals exact kNN over base ∪ copies per query — the
    *    membership-union/ε-closure invariant survived the splits.
    * Constant cost at every sf (the fixture is size-bounded). */
  private val routedRebalanceCache =
    Memo[Key, (RoutedFanoutModel, DataFrame, Int)](this, _._1.unpersist())

  def vamanaRoutedRebalanceGate(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val (fb, corpus, shardsBefore) = routedRebalanceCache((spark, dir)) {
      val emb = Tables.embeddings(spark, dir).where(col("vec_id") < 1000)
        .select(col("vec_id"), col("embedding"))
      val base = VamanaRouted.fit(emb, defaultParams, numShards = 4)
      val v0 = emb.where(col("vec_id") === 0).select(col("embedding"))
      val hot = spark.range(600).crossJoin(v0).select(
        (col("id") + 10000000L).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x * (lit(1.0f) + col("id").cast("float") * lit(1e-5f))).as("embedding"))
      val grown = base.insert(hot)
      val reb = grown.rebalance(maxRatio = 1.5, maxPasses = 3)
      val full = reb.withFullBeamShards()
      base.unpersist(); grown.unpersist()
      if (reb.numShards > base.numShards) reb.unpersist() // rebalance split: reb != grown
      (full, emb.unionByName(hot), base.numShards)
    }
    val emb = corpus.where(col("vec_id") < 1000)
    val q = Knn.queriesFromPoints(emb, 10)
    val sizes = fb.shardSizes
    val mean = sizes.map(_.toDouble).sum / sizes.length
    val ann = fb.search(q, k).select(col("query_id"), col("id"))
    val exact = Knn.knnExact(corpus, q, k).select(col("query_id"), col("id"))
    ann.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov"))
      .agg(count(lit(1)).as("n_queries"), (min(col("ov")) === k).as("ok"))
      .select(col("n_queries"),
        lit(fb.numShards > shardsBefore).as("split_happened"),
        lit(sizes.max <= 2.0 * mean).as("sizes_ok"),
        lit(fb.numShards == sizes.length).as("table_synced"),
        col("ok").as("overlap_exact_ok"))
  }

  /** Calibration gate (`vamana_routed_calibrate_gate`) — the inverse-knob
    * surface ([[RoutedFanoutModel.calibrateEps]]) end-to-end in the
    * registry: bisect the smallest adaptive band reaching recall 0.9 vs
    * full scatter on the 10-query fixture, then state the facts that are
    * THEOREMS of the calibration (oracle literals):
    *  - `target_met`: with an uncapped probe budget the band at epsHi
    *    degenerates to the full probe, whose recall vs full scatter is
    *    identically 1.0 ≥ any target — bisection always lands;
    *  - `monotone_ok`: a HALF-band's probe set is a subset of the chosen
    *    band's per query, so its candidate pool is a subset and its
    *    recall cannot exceed the chosen band's — the superset argument
    *    bisection rests on, measured directly;
    *  - `probes_bounded`: mean and p95 probe counts in [1, numShards].
    * The calibration (bisection passes over the bounded sample) is
    * memoized per dataset like the fitted models. */
  private val calibrateCache = Memo[Key, (EpsCalibration, Double)](this)

  def vamanaRoutedCalibrateGate(spark: SparkSession, dir: String,
      target: Double = 0.9, k: Int = 10): DataFrame = {
    import spark.implicits._
    val m = routedModel(spark, dir)
    val (cal, halfRecall) = calibrateCache((spark, dir)) {
      val emb = Tables.embeddings(spark, dir)
      val q = Knn.queriesFromPoints(emb, 10)
      val c = m.calibrateEps(q, k, target)
      val fullRows = m.searchRouted(q, k, nprobe = m.numShards)
        .select(col("query_id"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val half = m.searchRoutedAdaptive(q, k, c.eps / 2)
        .select(col("query_id"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (c, if (fullRows.isEmpty) 1.0
          else half.count(fullRows.contains).toDouble / fullRows.size)
    }
    val s = m.numShards
    Seq((cal.nQueries.toLong, cal.targetMet, halfRecall <= cal.recall + 1e-9,
      cal.meanProbes >= 1.0 && cal.meanProbes <= s &&
        cal.p95Probes >= 1 && cal.p95Probes <= s))
      .toDF("n_queries", "target_met", "monotone_ok", "probes_bounded")
  }

  /** PQ-scored ROUTED serving gate — the (clustered routing × PQ memory)
    * cell of the serving matrix, [[vamanaRoutedGate]]'s memory-bounded
    * twin: at full probe + full beam the ADC traversal pools each shard's
    * whole component and the exact rerank makes the merge exact kNN
    * (flag 1); at the deployed config (nprobe=2 of 4, default beam, ADC
    * scores) recall must clear the same 0.8 e2e floor (flag 2). */
  def vamanaPqRoutedGate(spark: SparkSession, dir: String,
      recallFloor: Double = 0.8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val exact = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
    val m = routedModel(spark, dir)
    val key = s"routed:$dir"
    val full = VamanaPq.searchRoutedModel(m, q, key, 10,
        nprobe = m.numShards, fullBeam = true)
      .select(col("query_id"), col("id"))
    val exactOk = full.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("overlap"))
      .agg(min(col("overlap")).as("mn"), count(lit(1)).as("nq"))
      .select((col("mn") === 10 && col("nq") === 10).as("ok"))
    val routedRows = VamanaPq.searchRoutedModel(m, q, key, 10,
        nprobe = 2, fullBeam = false)
      .select(col("query_id"), col("id"))
    // third flag: ADC traversal under the adaptive band rule (the
    // PQ-memory × adaptive-routing cell; band = the measured 0.05 that
    // prunes on this fixture, cap = full) must clear the same floor
    val adaptiveRows = VamanaPq.searchRoutedModel(m, q, key, 10,
        nprobe = m.numShards, fullBeam = false, routeEps = Some(0.05))
      .select(col("query_id"), col("id"))
    val adaptiveOk = graft.operators.Similarity
      .topkGate(exact, adaptiveRows, recallFloor)
      .select(col("recall_ok").as("adaptive_recall_ok"))
    graft.operators.Similarity.topkGate(exact, routedRows, recallFloor)
      .crossJoin(exactOk)
      .crossJoin(adaptiveOk)
      .select(col("n_queries"), col("ok").as("full_probe_exact_ok"), col("recall_ok"),
        col("adaptive_recall_ok"))
  }

  /** Filtered search served from the FANOUT model — the beyond-broadcast
    * regime for the vector-DB metadata predicate (same lang fixture as
    * `vamana_search_filtered`, so the two regimes are comparable).
    * Rows-only driver check (graph traversal); exactness is carried by
    * [[vamanaFanoutFilteredGate]]. */
  def vamanaFanoutFiltered(spark: SparkSession, dir: String, lang: String = "en",
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val allowed = Tables.documents(spark, dir).where(col("lang") === lang)
      .select(col("doc_id"))
    fanoutModel(spark, dir).searchFiltered(q, allowed, k, fullBeam = false)
  }

  /** Hash-checked exactness gate for the fanout filtered path: with a
    * full per-shard beam each shard returns its k nearest ALLOWED points
    * ([[vamanaSearchOverlap]]'s theorem applied per shard), so the global
    * merge IS exact filtered kNN and every per-query overlap with the
    * exact filtered scan must equal min(k, n_allowed) — which the DuckDB
    * oracle states directly from the documents table. */
  def vamanaFanoutFilteredGate(spark: SparkSession, dir: String,
      lang: String = "en"): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val allowedDf = Tables.documents(spark, dir).where(col("lang") === lang)
      .select(col("doc_id"))
    val ann = fanoutModel(spark, dir)
      .searchFiltered(q, allowedDf, 10, fullBeam = true)
      .select(col("query_id"), col("id"))
    val exact = Knn.knnExact(
        emb.join(allowedDf.withColumnRenamed("doc_id", "vec_id"), "vec_id"), q, 10)
      .select(col("query_id"), col("id"))
    ann.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("overlap"))
      .select(col("query_id"), col("overlap"))
      .orderBy(col("query_id"))
  }

  /** Hash-checked gate for the adaptive POST-FILTER branch at the DEFAULT
    * beam — the ONE approximate serving branch, which the branch-coverage
    * spec exercises only at full beam (where post-filter equality is
    * trivial). The band hook narrows MaxBroadcastAllowed to 1 so a 50/50
    * even-id filter (both sides beyond any band, the selectivity regime
    * that actually reaches this branch at 100 TB) takes the post-filter
    * route with the production ×8 overfetch and escalation:
    *  - `rows_ok`: every query returns exactly k rows — the escalation
    *    contract (short results were the silent failure mode before the
    *    overfetch escalated);
    *  - `recall_ok`: default-beam overfetch + semi-join clears
    *    `recallFloor` vs exact filtered kNN (catastrophic-regression
    *    floor, set below the measured value like the PQ gates'). */
  def vamanaAdaptivePostfilterGate(spark: SparkSession, dir: String, k: Int = 10,
      recallFloor: Double = 0.7): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val allowedDf = emb.where(col("vec_id") % 2 === 0).select(col("vec_id").as("id"))
    val ann = fanoutModel(spark, dir)
      .adaptiveFiltered(q, allowedDf, deny = false, k, fullBeam = false, band = 1)
      .select(col("query_id"), col("id"))
    val exact = Knn.knnExact(emb.where(col("vec_id") % 2 === 0), q, k)
      .select(col("query_id"), col("id"))
    // left-join from the distinct query ids so a dropped-out query still
    // votes (the zero-overlap-safe gate shape)
    val perQ = q.select(col("query_id")).distinct()
      .join(ann.groupBy(col("query_id")).agg(count(lit(1)).as("nr")), Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("nr"), lit(0L)).as("nr"))
    val rowsOk = perQ.agg(count(lit(1)).as("n_queries"),
      (count(when(col("nr") === k, 1)) === count(lit(1))).as("rows_ok"))
    rowsOk.crossJoin(recallOk(exact, ann, recallFloor))
      .select(col("n_queries"), col("rows_ok"), col("recall_ok"))
  }

  /** Hard-negative mining SERVED through the fitted fanout index — the
    * ANN twin of [[graft.operators.Similarity.hardNegatives]] (whose
    * docstring names this as the 100 TB path): per distinct query label,
    * one [[FanoutModel.searchFiltered]] pass with the other-label ids as
    * the allowed set, so the predicate applies DURING ranking instead of
    * post-filtering an over-fetch. The cosine-metric model normalizes at
    * fit ("cos" reduction: squared L2 on unit vectors = 2 − 2·cos, so
    * L2-ascending IS cosine-descending), and `cos` is recovered exactly
    * as 1 − dist/2. Label count is config-bounded (a handful of classes),
    * so the per-label loop is a constant fanout. The "not my label"
    * predicate rides as a DENIED-set DataFrame of the query label's OWN
    * ids — the small side by construction — through [[FanoutModel
    * .searchDenied]]'s adaptive branch: nothing corpus-sized is ever
    * collected to the driver (the round-10 shape materialized the
    * O(corpus) label COMPLEMENT per label). */
  def hardNegativesFanout(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, fullBeam: Boolean = false): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("qlabel"))
    val labels = q.select(col("qlabel")).distinct().as[Long].collect().sorted
    val fm = fanoutCosModel(spark, dir)
    val parts = labels.map { lbl =>
      val denied = e.where(col("label") === lbl).select(col("vec_id"))
      fm.searchDenied(q.where(col("qlabel") === lbl), denied, k, fullBeam = fullBeam)
        .withColumn("qlabel", lit(lbl))
    }
    parts.reduce(_ unionByName _)
      .join(e.select(col("vec_id").as("id"), col("label").as("neg_label")), "id")
      .select(col("query_id"), col("qlabel"), col("rank"), col("id").as("neg_id"),
        col("neg_label"), round(lit(1.0) - col("dist") / 2, 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hash-checked exactness gate for the ANN-served mining join: with a
    * full per-shard beam each shard returns its k nearest allowed points
    * under the cos reduction, the global merge is exact different-label
    * cosine kNN, and every per-query overlap with the brute-force
    * [[graft.operators.Similarity.hardNegatives]] must be
    * min(k, n_other_label) — stated directly from the embeddings table by
    * the DuckDB oracle (the vamana_fanout_filtered_gate pattern). */
  def hardNegativesFanoutGate(spark: SparkSession, dir: String): DataFrame = {
    val ann = hardNegativesFanout(spark, dir, fullBeam = true)
      .select(col("query_id"), col("neg_id"))
    val exact = graft.operators.Similarity.hardNegatives(spark, dir)
      .select(col("query_id"), col("neg_id"))
    ann.join(exact, Seq("query_id", "neg_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("overlap"))
      .orderBy(col("query_id"))
  }

  /** S2/S3/S4 as a driver-visible query: save → load → compare params,
    * medoid, a point lookup, and full search results between the fitted and
    * reloaded index. One stable row; every column must be true/10. This is
    * the reference's most bug-prone path — its save drops efSearch
    * (vamana.h:397-405), which this roundtrip would catch. */
  def vamanaRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = model(spark, dir)
    // unique per-run dir (hashCode-derived paths collide across datasets),
    // deleted on the way out — bench runs this 3× per invocation now
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_roundtrip_")
    val tmp = tmpPath.toString
    try {
      m.save(spark, tmp)
      val loaded = VamanaModel.load(spark, tmp)
      val emb = Tables.embeddings(spark, dir)
      val q = Knn.queriesFromPoints(emb, 10)
      val a = m.search(q, 10).collect().map(_.toSeq).toSeq
      val b = loaded.search(q, 10).collect().map(_.toSeq).toSeq
      val paramsMatch = loaded.index.params == m.index.params && loaded.index.medoid == m.index.medoid
      val pointMatch = java.util.Arrays.equals(loaded.getPoint(0), m.getPoint(0))
      Seq((a.length.toLong / 10L, paramsMatch, pointMatch, a == b))
        .toDF("n_queries", "params_match", "point_lookup_match", "search_identical")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmpPath)
      // materialize before closing: the walk stream holds directory handles
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
    }
  }

  /** Reference single-file binary layout (SaveIndex / load-constructor,
    * vamana.h:390-424 / 55-96) exercised AT RUNTIME over this dataset's
    * fitted model: export → import → byte-identical re-export, identical
    * graph/point/id payloads, identical search answers. The committed
    * reference-WRITTEN fixture (BinaryFixtureSpec) pins the layout against
    * the reference's own writer; this gate proves the round's fitted model
    * survives the format both ways — together they close the interop
    * claim with a hash-checked oracle. efSearch is deliberately
    * re-supplied at import (the reference never writes it and loads it
    * uninitialized — vamana.h:397-405, SURVEY.md A.1). */
  def vamanaBinaryGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = model(spark, dir).index
    val tmp = java.nio.file.Files.createTempFile("graft_binary_gate_", ".bin")
    val tmp2 = java.nio.file.Files.createTempFile("graft_binary_gate2_", ".bin")
    try {
      VamanaBinaryIO.exportIndex(idx, tmp.toString)
      val imported = VamanaBinaryIO.importIndex(tmp.toString,
        efSearch = idx.params.efSearch, seed = idx.params.seed)
      VamanaBinaryIO.exportIndex(imported, tmp2.toString)
      val bytesRoundtrip = java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(tmp), java.nio.file.Files.readAllBytes(tmp2))
      val paramsMatch = imported.params.dim == idx.params.dim &&
        imported.params.maxDegree == idx.params.maxDegree &&
        imported.params.beamWidth == idx.params.beamWidth &&
        imported.params.alpha == idx.params.alpha &&
        imported.medoid == idx.medoid
      val payloadMatch = imported.size == idx.size && (0 until idx.size).forall(i =>
        imported.ids(i) == idx.ids(i) &&
          java.util.Arrays.equals(imported.points(i), idx.points(i)) &&
          java.util.Arrays.equals(imported.graph(i), idx.graph(i)))
      val qs = Knn.queriesFromPoints(Tables.embeddings(spark, dir), 10)
        .select(col("query_id").cast("long"), col("query_vec").cast("array<float>"))
        .as[(Long, Array[Float])].collect()
      val searchIdentical = qs.forall { case (_, qv) =>
        VamanaKernel.search(idx, qv, 10).toSeq == VamanaKernel.search(imported, qv, 10).toSeq
      }
      Seq((idx.size.toLong, bytesRoundtrip, paramsMatch, payloadMatch, searchIdentical))
        .toDF("n_points", "bytes_roundtrip", "params_match", "payload_match",
          "search_identical")
    } finally {
      java.nio.file.Files.deleteIfExists(tmp)
      java.nio.file.Files.deleteIfExists(tmp2)
    }
  }

  /** Q2 surface (vamana.h:426-489): search with caller-supplied start
    * vectors — queries are vectors of ids 0..9, starts are vectors of ids
    * 100..109. Rows-only check (graph traversal). */
  def vamanaSearchWithStart(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val s = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
      .select((col("vec_id") - 100).as("query_id"), col("embedding").as("start_vec"))
    model(spark, dir).searchWithStartPoint(q.join(s, "query_id"), 10)
  }

  /** Hash-checked gate for the Q2 (start-point) family — the last serving
    * family without one: a full-beam greedy search never evicts, so it
    * expands the whole component REGARDLESS of where it starts (the start
    * only changes expansion order), and overlap vs exact kNN must equal
    * k — the same theorem as [[vamanaSearchOverlap]], stated from an
    * arbitrary (id 100-109) start fixture instead of the medoid. */
  def vamanaSearchStartGate(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val s = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
      .select((col("vec_id") - 100).as("query_id"), col("embedding").as("start_vec"))
    val ann = fullBeamModel(spark, dir)
      .searchWithStartPoint(q.join(s, "query_id"), 10)
      .select(col("query_id"), col("id"))
    val exact = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
    ann.join(exact, Seq("query_id", "id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("overlap"))
      .select(col("query_id"), col("overlap"))
      .orderBy(col("query_id"))
  }

  /** M1 introspection (vamana.h:41-53) as a one-row query. The registered
    * query drops `medoid_pos` (derived from the float32 centroid — not
    * portably SQL-expressible) and rounds alpha, so every remaining column
    * is reproducible by the DuckDB oracle: fit params are knowable
    * constants, data_size is a count over the source table. The full
    * [[VamanaModel.describe]] (with medoid_pos) stays the API surface. */
  def vamanaDescribe(spark: SparkSession, dir: String): DataFrame =
    model(spark, dir).describe(spark)
      .withColumn("alpha", round(col("alpha"), 4))
      .drop("medoid_pos")

  /** M2 degree health check over ALL nodes (fixes the reference's dead
    * 10-node sample, vamana.h:705-720). The registered query projects the
    * oracle-computable columns (node count, R, bound flag) so the driver
    * hash-checks it; the raw max degree stays on [[degreeCheckOf]], the API
    * surface specs assert against. */
  def vamanaDegreeCheck(spark: SparkSession, dir: String): DataFrame =
    degreeCheckOf(spark, model(spark, dir))
      .select(col("n_nodes"), col("r"), col("ok"))

  /** Graph-connectivity gate — the structural premise behind EVERY
    * full-beam exactness claim: "full beam expands the whole connected
    * component" equals exact kNN only when the graph has ONE weakly-
    * connected component, so a silent build regression that strands a
    * satellite component would quietly turn the overlap gates'
    * theorem into a partial statement. This states the premise directly:
    * WCC over the model's adjacency frame (out-edges as undirected pairs)
    * through the SAME min-label + pointer-jumping fixpoint pass the dedup
    * survivor families use ([[graft.operators.Dedup.survivorsOf]]), then
    * one row of oracle-recomputable facts: node count (= table count) and
    * the single-component flag. Scale shape: the CC pass is keyed
    * equi-joins to fixpoint over an n·R edge frame — the dedup posture,
    * measured there to 1M docs. */
  def vamanaConnectivityGate(spark: SparkSession, dir: String): DataFrame = {
    val g = model(spark, dir).graphDF(spark)
    val edges = g.select(col("id").as("id_a"), explode(col("neighbors")).as("id_b"))
    val labels = graft.operators.Dedup.survivorsOf(spark, edges,
      g.select(col("id").as("doc_id")))
    labels.agg(count(lit(1)).as("n_nodes"),
        countDistinct(col("canonical_id")).as("nc"))
      .select(col("n_nodes"), (col("nc") === 1L).as("single_component"))
  }

  /** The check itself aggregates the model's graph FRAME — `max(size(
    * neighbors))` over graphDF — so it works unchanged for beyond-broadcast
    * models that can never materialize `.index` on the driver. */
  def degreeCheckOf(spark: SparkSession, m: VamanaModel): DataFrame = {
    val r = m.params.maxDegree
    m.graphDF(spark)
      .agg(count(lit(1)).as("n_nodes"), max(size(col("neighbors"))).as("max_out_degree"))
      .select(col("n_nodes"), col("max_out_degree"), lit(r).as("r"),
        (col("max_out_degree") <= lit(r)).as("ok"))
  }

  /** Below this many allowed ids the filtered query skips the graph and runs
    * the exact scan over the allowed subset — the subset is already the
    * broadcast-joinable side, recall is 1.0 by construction, and a graph
    * over-fetch at such selectivities could never fill k anyway. */
  val ExactScanMaxAllowed: Long = 10_000L

  /** Filtered ANN search (the vector-DB "search with metadata predicate"),
    * strategy chosen ADAPTIVELY from the allowed-set selectivity:
    *  - tiny allowed set (≤ `exactScanMaxAllowed`) → exact kNN over the
    *    allowed subset (predicate pushed to the documents scan, subset
    *    broadcast — recall 1.0, no graph traversal at all);
    *  - otherwise over-fetch k·oF from the predicate-free graph with
    *    oF = ceil(2/selectivity) (expected ≥ 2k allowed survivors), then
    *    post-filter + re-rank. If that fetch would cover ≥ a quarter of the
    *    corpus, the exact scan is cheaper — fall back.
    * The round-2 shape used a FIXED over-fetch of 8, whose recall collapses
    * below 12.5% selectivity; both regimes are recall-gated in specs. */
  def vamanaSearchFiltered(spark: SparkSession, dir: String, lang: String = "en",
      k: Int = 10, overFetch: Int = 0): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val allowed = Tables.documents(spark, dir).where(col("lang") === lang)
      .select(col("doc_id").as("id"))
    filteredSearch(spark, model(spark, dir), emb, q, allowed, k, overFetch)
  }

  /** The adaptive strategy over any (model, corpus, queries, allowed-ids).
    * `overFetch > 0` forces the graph path with that factor (spec surface);
    * `exactScanMaxAllowed` is overridable so specs can force either regime.
    * The two counts driving the decision are metadata-cheap aggregates; at
    * 100 TB they come from table stats, not a data pass. */
  def filteredSearch(spark: SparkSession, m: VamanaModel, emb: DataFrame,
      q: DataFrame, allowed: DataFrame, k: Int, overFetch: Int = 0,
      exactScanMaxAllowed: Long = ExactScanMaxAllowed): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nAllowed = allowed.count()
    val n = emb.count()
    val oF =
      if (overFetch > 0) overFetch
      else {
        val sel = math.max(nAllowed.toDouble / math.max(1L, n), 1e-9)
        math.max(2, math.ceil(2.0 / sel).toInt)
      }
    val exactWins = nAllowed <= exactScanMaxAllowed ||
      (overFetch <= 0 && k.toLong * oF * 4 >= n)
    if (exactWins)
      Knn.knnExact(emb.join(allowed.select(col("id").as("vec_id")), "vec_id"), q, k)
    else {
      val w = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
      m.search(q, k * oF)
        .join(allowed, "id")
        .withColumn("r", row_number().over(w).cast("long"))
        .where(col("r") <= k)
        .select(col("query_id"), col("r").as("rank"), col("id"), col("dist"))
        .orderBy(col("query_id"), col("rank"))
    }
  }

  /** M3 search stats (`vamana_stats`) — the one reference API the
    * reference itself left stubbed (go_api:163-171 returns avg hops /
    * distance computations as 0.0 with `TODO: implement`), surfaced as a
    * hash-checked one-row gate over the knn_exact 10-query fixture. The
    * raw per-query numbers ([[VamanaModel.searchStats]]) are
    * deterministic but engine-private (they depend on the fitted graph),
    * so the gate emits the INVARIANTS the oracle can state as literals:
    *  - `hops_le_comps`: every expanded node was scored first — the
    *    traversal can't walk a neighbor list it never ranked;
    *  - `comps_bounded`: k ≤ comps ≤ n per query — the seen-set can
    *    neither dedup below the answer size nor score a node twice;
    *  - `full_beam_comps_exact`: at beam = n the traversal scores EVERY
    *    node exactly once (the exhaustive-scan regime every full-beam
    *    exactness gate rests on), so comps = n for all queries;
    *  - `default_prunes`: Σ default-beam HOPS < Σ full-beam hops — the
    *    beam actually bounds the walk at the deployed config (hops, not
    *    comps: on a small dense fixture a 128-wide beam can legitimately
    *    SCORE every node while still expanding only ~beam of them; a
    *    regression that degenerates the beam to a full scan flips this
    *    bit at any scale).
    * The raw averages stay on the API surface for capacity planning;
    * VamanaModelSpec asserts the measured magnitudes. */
  def vamanaStats(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val m = model(spark, dir)
    val n = m.index.size.toLong
    val deflt = m.searchStats(q, k)
    val full = m.searchStats(q, k, beamOverride = m.index.size)
      .select(col("query_id"), col("n_hops").as("fb_hops"),
        col("n_comps").as("fb_comps"))
    deflt.join(full, "query_id")
      .agg(count(lit(1)).as("n_queries"),
        (count(when(col("n_hops") <= col("n_comps"), 1)) === count(lit(1)))
          .as("hops_le_comps"),
        (count(when(col("n_comps") >= k && col("n_comps") <= n, 1)) === count(lit(1)))
          .as("comps_bounded"),
        (count(when(col("fb_comps") === n, 1)) === count(lit(1)))
          .as("full_beam_comps_exact"),
        (sum(col("n_hops")) < sum(col("fb_hops"))).as("default_prunes"))
  }

  /** M3 stats on the SHARDED layout (`vamana_fanout_stats`) — the one
    * serving observable whose full-beam value the oracle can state as a
    * NUMBER, not just a flag: hash sharding partitions the corpus (no
    * replication) and a full-beam traversal scores exactly its shard's
    * point set, so every query's Σ-over-shards distance computations at
    * full beam equals the TABLE COUNT — per-query rows hash-checked
    * against `count(*) FROM embeddings`. The default-beam invariants ride
    * along as flags (hops ≤ comps summed and on the critical path;
    * totals within [k, n]). */
  def vamanaFanoutStats(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val m = fanoutModel(spark, dir)
    val n = emb.count()
    val deflt = m.searchStats(q, k)
    val full = m.searchStats(q, k, fullBeam = true)
      .select(col("query_id"), col("total_comps").as("fb_comps"))
    deflt.join(full, "query_id")
      .select(col("query_id"), col("fb_comps"),
        (col("total_hops") <= col("total_comps") &&
          col("max_shard_hops") <= col("max_shard_comps")).as("hops_le_comps"),
        (col("total_comps") >= k && col("total_comps") <= n).as("comps_bounded"))
      .orderBy(col("query_id"))
  }

  /** One-row report: recall@10 of the ANN search vs exact kNN over the first
    * 50 stored vectors — the reference drivers' e2e metric (main.go:107-129)
    * as an engine operator. Emitted as (k, raw recall, floor flag); the
    * oracle pins k and the FLAG, not the raw value — default-beam recall is
    * an empirical quantity (measured 1.0 at the correctness SF, but only
    * the full-beam overlap gate carries an exactness theorem), so a literal
    * 1.0 would turn any benign beam/seed change into a phantom correctness
    * failure. The floor sits at the reference's own 0.8 e2e gate. */
  def recallReport(spark: SparkSession, dir: String, floor: Double = 0.8): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = Knn.queriesFromPoints(emb, 50).cache()
    val truth = Knn.knnExact(emb, queries, 10)
    val got = model(spark, dir).search(queries, 10)
    val r = Knn.recallAt(10, got, truth)
    Seq((10, r >= floor)).toDF("k", "recall_ok")
  }
}
