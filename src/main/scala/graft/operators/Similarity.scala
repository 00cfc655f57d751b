package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Memo, Tables}
import graft.functions.NativeVectorFunctions.{dotNative, l2sqNative, normNative}
import graft.functions.VectorFunctions.cosine

/** Similarity search / join over the embedding column (north-star surface).
  * Exact forms are oracle-checkable; the LSH-bucketed form is the scale path
  * (hyperplane signs → bucket equi-join instead of all-pairs). */
object Similarity {

  /** Computed pair frames cached per (session, dir, op+params) — the gate
    * queries re-consume their generator's output (LSH pairs, exact
    * threshold pairs), so without the cache each gate pays its generator's
    * full join again. Outputs are pair-sized (small), so `.cache()` holds
    * rows, not the corpus — same pattern as Dedup's ngramPairsCache. */
  private val pairFrameCache =
    Memo[(SparkSession, String, String), DataFrame](this, _.unpersist())

  private def cachedPairs(spark: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame =
    pairFrameCache((spark, dir, key))(build.cache())

  /** Brute-force cosine top-k per query — the baseline ANN answer and the
    * ground truth for the bucketed variant. Same broadcast-queries posture
    * as [[Knn.knnExact]]. */
  def bruteCosineTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), normNative(spark, col("embedding")).as("nrm"))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("id").asc)
    e.select(col("vec_id").as("id"), col("embedding").as("vec"), col("nrm").as("vn"))
      .crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .withColumn("cos", dotNative(spark, col("vec"), col("qvec")) / (col("vn") * col("qn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** MMR constants — λ and its complement as SEPARATE literals: `1 - 0.7`
    * in binary doubles is 0.30000000000000004, so deriving the complement
    * at runtime would diverge from an oracle that writes `0.3`. Both
    * engines consume the same two literals. */
  val MmrLambda = 0.7
  val MmrLambdaComp = 0.3

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR'98)
    * diversity rerank — the retrieval post-pass every RAG / dedup-aware
    * search stack wants: from each query's exact cosine top-`nCand`
    * shortlist, greedily select `k` results maximizing
    * λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s), so near-duplicate hits can't
    * crowd the result page. Candidate generation is the broadcast
    * brute-force cosine (the oracle-checkable exact form — at corpus scale
    * feed the Vamana/IVF shortlist instead, same contract); the greedy
    * selection runs per query over the nCand-row group via
    * `flatMapGroups` — genuinely sequential (each pick conditions the
    * next), O(k·nCand·dim) per query, distributed ACROSS queries, nothing
    * corpus-sized anywhere. All similarity arithmetic is the established
    * engine-stable form (sequential double fold, then one divide), and the
    * greedy argmax breaks score ties by ascending id — mirrored by the
    * oracle's unrolled k-step CTE chain (the Lloyd/pagerank pattern). */
  def mmrRerank(spark: SparkSession, dir: String, qMod: Long = 50, nCand: Int = 20,
      k: Int = 5): DataFrame = {
    import spark.implicits._
    val lambda = MmrLambda
    val comp = MmrLambdaComp
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), normNative(spark, col("embedding")).as("nrm"))
    val q = e.where(col("vec_id") % qMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rel").desc, col("id").asc)
    val cand = e.select(col("vec_id").as("id"), col("embedding").as("vec"), col("nrm").as("vn"))
      .crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .withColumn("rel", dotNative(spark, col("vec"), col("qvec")) / (col("vn") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= nCand)
      .select(col("query_id"), col("id"), col("rel"), col("vec"))
      .as[(Long, Long, Double, Array[Float])]
    mmrSelect(cand.toDF("query_id", "id", "rel", "vec"), k)
      .select(col("query_id"), col("mmr_rank"), col("id"),
        round(col("rel"), 4).as("rel"), round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  /** The greedy MMR core over ANY candidate frame (query_id, id, rel,
    * vec) — shared by the exact registered form and the ANN-served gate so
    * the two can differ ONLY in the candidate set. Emits raw doubles. */
  def mmrSelect(cand: DataFrame, k: Int): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val lambda = MmrLambda
    val comp = MmrLambdaComp
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    cand.select(col("query_id"), col("id"), col("rel"), col("vec"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1).flatMapGroups { (qid, it) =>
        val cs = it.map(t => (t._2, t._3, t._4)).toArray.sortBy(_._1)
        def sim(a: Array[Float], b: Array[Float]): Double =
          dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
        val chosen = scala.collection.mutable.LinkedHashMap.empty[Long, (Double, Double)]
        var exhausted = false
        while (!exhausted && chosen.size < k && chosen.size < cs.length) {
          var bestId = -1L
          var bestRel = 0.0
          var bestScore = Double.NegativeInfinity
          for ((id, rel, vec) <- cs if !chosen.contains(id)) {
            val div =
              if (chosen.isEmpty) 0.0
              else cs.iterator.filter(c => chosen.contains(c._1)).map(c => sim(vec, c._3)).max
            val score = lambda * rel - comp * div
            if (score > bestScore || (score == bestScore && id < bestId)) {
              bestScore = score; bestId = id; bestRel = rel
            }
          }
          // Every remaining candidate scored NaN (zero-norm embeddings make
          // rel/sim NaN, and NaN comparisons are all false) → no pick was
          // made; stop instead of overwriting the -1 key forever.
          if (bestId == -1L) exhausted = true
          else chosen.put(bestId, (bestRel, bestScore))
        }
        chosen.iterator.zipWithIndex.map { case ((id, (rel, sc)), i) =>
          (qid, (i + 1).toLong, id, rel, sc)
        }
      }.toDF("query_id", "mmr_rank", "id", "rel", "score")
  }

  /** Hard-negative mining — the contrastive-training data generator: for
    * each query vector, the k most cosine-similar vectors whose `label`
    * DIFFERS from the query's (near the anchor but of another class —
    * exactly the negatives a metric-learning / embedding-model run wants).
    * This is the exact oracle form (brute-force over the broadcast query
    * set); the 100 TB path is the Vamana adaptive filtered search
    * (`vamana_search_filtered` runs the same predicate-during-traversal
    * shape) or the IVF probe — same output contract, ANN candidates. */
  def hardNegatives(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
        normNative(spark, col("embedding")).as("nrm"))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label").as("qlabel"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neg_id").asc)
    e.select(col("vec_id").as("neg_id"), col("embedding").as("vec"),
        col("label").as("neg_label"), col("nrm").as("vn"))
      .crossJoin(broadcast(q))
      .where(col("neg_label") =!= col("qlabel"))
      .withColumn("cos", dotNative(spark, col("vec"), col("qvec")) / (col("vn") * col("qn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("qlabel").cast("long").as("qlabel"), col("rank"),
        col("neg_id"), col("neg_label").cast("long").as("neg_label"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Brute-force inner-product top-k (exact MIPS — the reference's TODO
    * metric, oracle-checkable form; the ANN form is `metric="ip"` on the
    * Vamana index). */
  def bruteIpTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ip").desc, col("id").asc)
    e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      .crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .withColumn("ip", dotNative(spark, col("vec"), col("qvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), round(col("ip"), 4).as("ip"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact threshold similarity join: all pairs with squared-L2 below the
    * threshold (the oracle form; at scale this becomes the LSH path). */
  def similarityJoinExact(spark: SparkSession, dir: String, maxL2Sq: Double = 1.1): DataFrame =
    cachedPairs(spark, dir, s"exactL2:$maxL2Sq") {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("dist", l2sqNative(spark, col("va"), col("vb")))
      .where(col("dist") < maxL2Sq)
      .select(col("id_a"), col("id_b"), round(col("dist"), 4).as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact range (radius) query — every stored vector within squared-L2
    * `radiusSq` of each query vector (the DiskANN range-search contract
    * top-k cannot express: the answer is a SET whose size is
    * data-dependent). Broadcast-queries posture: one narrow corpus scan
    * scored by the codegen L2 kernel, the radius filter applied inside the
    * scan stage, shuffle only for the tiny result sort. The ANN serving
    * path is [[graft.vamana.VamanaOps.vamanaRangeSearch]] (escalating-beam
    * graph traversal; provably complete at full beam — the range gates'
    * theorem). Self-inclusive like knn_exact, so the vamana gates can
    * share this oracle shape verbatim. */
  def rangeSearchExact(spark: SparkSession, dir: String, nQueries: Int = 10,
      radiusSq: Double = 1.5): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      .crossJoin(broadcast(q))
      .withColumn("dist", l2sqNative(spark, col("vec"), col("qvec")))
      .where(col("dist") <= radiusSq)
      .select(col("query_id"), col("id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("id"))
  }

  /** Sub-vector count for the late-interaction scorer: each embedding is
    * viewed as 4 contiguous "token" sub-vectors. */
  private[graft] val MaxSimGroups = 4

  /** ColBERT-style late-interaction retrieval (MaxSim): treat each vector
    * as [[MaxSimGroups]] contiguous sub-vectors ("token embeddings") and
    * score a (query, doc) pair as Σ_i max_j ⟨q_i, d_j⟩ — the multi-vector
    * relevance rule a single dot product cannot express (each query part
    * matches its own best doc part). Deriving the sub-vectors from the
    * embedding column keeps the fixture deterministic and the oracle
    * exactly expressible; a real multi-vector corpus plugs its token
    * matrix into the same scoring shape. The 16 (i,j) dot products unroll
    * as codegen columns over slices — no explode, no shuffle before the
    * per-query top-k window. */
  /** The late-interaction score as ONE column expression over (qvec, vec):
    * Σ_i max_j ⟨q_i, d_j⟩ across [[MaxSimGroups]] contiguous sub-vectors —
    * shared by the exact cross-join form and the ANN-shortlist rerank so
    * the two cannot drift. */
  /** Sub-vector `i` of [[MaxSimGroups]] equal contiguous slices — the one
    * definition the scorer AND the sub-vector index build share. */
  private[graft] def subVector(c: Column, i: Int): Column = {
    val g = (size(c) / MaxSimGroups).cast("int")
    slice(c, g * i + 1, g)
  }

  private[graft] def maxSimScore(spark: SparkSession, qvec: Column, vec: Column): Column =
    (0 until MaxSimGroups).map { i =>
      greatest((0 until MaxSimGroups).map { j =>
        dotNative(spark, subVector(qvec, i), subVector(vec, j))
      }: _*)
    }.reduce(_ + _)

  def maxSimTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("id").asc)
    e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      .crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .withColumn("score", maxSimScore(spark, col("qvec"), col("vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** MaxSim over an ANN SHORTLIST — the scale shape of late-interaction
    * retrieval (the exact form is a src×corpus cross join): `cand` holds
    * (query_id, id) pairs from a single-vector ANN index; only those rows
    * join their vectors in and pay the 16-sub-dot kernel. A generous
    * single-vector shortlist covers the maxsim winners because the maxsim
    * score dominates the aligned dot (the spec-asserted inequality). */
  private[graft] def maxsimRerank(spark: SparkSession, dir: String,
      cand: DataFrame, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("id").asc)
    cand
      .join(e.select(col("vec_id").as("id"), col("embedding").as("vec")), "id")
      .join(broadcast(e.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))),
        "query_id")
      .withColumn("score", maxSimScore(spark, col("qvec"), col("vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Prefix dimensions the Matryoshka scorer ranks on (16 of 64 = the
    * resident working set is a quarter of the raw vectors). */
  private[graft] val MatryoshkaPrefix = 16

  /** MRL importance profile w_j = exp(−j/12): Matryoshka-trained
    * embeddings concentrate energy in the leading dimensions (≈93% of Σw²
    * in the first 16 here); the testdata embeddings are ISOTROPIC — the
    * worst case, where NO dimension subset carries signal and any prefix
    * method information-theoretically degrades to p/d recall — so the
    * registered queries demonstrate the serving shape on this weighted
    * view, the energy profile MRL training actually produces. The view is
    * float-rounded per element (both engines widen float→double before
    * arithmetic, the determinism pattern of every vector oracle). */
  private[graft] val MrlWeights: Array[Double] =
    Array.tabulate(64)(j => math.exp(-j / 12.0))

  /** The weighted corpus view (vec_id, wv): element j = float(emb_j · w_j). */
  private def mrlView(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"),
      zip_with(col("embedding").cast("array<double>"), typedLit(MrlWeights.toSeq),
        (x, y) => x * y).cast("array<float>").as("wv"))

  /** The per-(query, candidate) prefix-distance frame the two matryoshka
    * queries share: pdist = squared L2 over the first [[MatryoshkaPrefix]]
    * weighted dims — a LOWER BOUND on the full weighted distance (a sum of
    * squares over a subset). NARROW by design — (query_id, id, pdist),
    * no vectors — so the cached frame is 3 scalars per (query, point): the
    * resident prefix-scores working set of the serving story. */
  private def matPrefixOf(spark: SparkSession, we: DataFrame, tag: String,
      nQueries: Int): DataFrame =
    cachedPairs(spark, tag, s"matryoshka:$nQueries") {
      val p = MatryoshkaPrefix
      val q = we.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("wv").as("qv"))
      we.select(col("vec_id").as("id"), col("wv").as("vec"))
        .crossJoin(broadcast(q))
        .withColumn("pdist", l2sqNative(spark, slice(col("vec"), 1, p), slice(col("qv"), 1, p)))
        .select(col("query_id"), col("id"), col("pdist"))
    }

  private def matPrefix(spark: SparkSession, dir: String, nQueries: Int): DataFrame =
    matPrefixOf(spark, mrlView(spark, dir), dir, nQueries)

  /** Matryoshka (truncated-prefix) serving — EXACT kNN in the weighted
    * space via lower-bound pruning: rank everything on the 16-dim prefix
    * (resident bytes = prefix/dim of the raw index — 4× less), fetch full
    * vectors only for the top-m prefix candidates, and ESCALATE m
    * (doubling) until every query's kth full distance is at most the
    * smallest unscanned prefix bound. Exactness is then a theorem, not a
    * recall number: any unscanned point has full dist ≥ its prefix bound >
    * kth, so it cannot enter the top-k (strictly — equality forces another
    * round). Same escalate-until-provably-done shape as the adaptive
    * filtered post-filter branch; the per-round driver action is one
    * 10-row aggregate. Output matches knn_exact (self-inclusive), and the
    * oracle recomputes the full weighted kNN directly — the driver
    * hash-checks that the pruned search IS exact. */
  def matryoshkaSearch(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 10): DataFrame =
    matryoshkaSearchOf(spark, mrlView(spark, dir), dir, nQueries, k)

  /** General form over ANY (vec_id, wv) frame — e.g. a real MRL-trained
    * corpus, or ScaleBench's energy-compacted synthetic sweep. `tag` keys
    * the cached prefix frame (released with the memos, [[graft.core.Memo]]). */
  def matryoshkaSearchOf(spark: SparkSession, we: DataFrame, tag: String,
      nQueries: Int, k: Int): DataFrame = {
    val cand = matCandidatesOf(spark, we, tag, nQueries, k)
    val wFull = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
    cand
      .withColumn("rank", row_number().over(wFull).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The escalation loop shared by search and gate: returns the final
    * scanned candidate frame (query_id, id, pdist, dist) at the first
    * depth m where every query is provably complete. Each round's top-m
    * selection runs through the bounded [[graft.functions.TopKAggregator]]
    * heap — map-side partial combine, m+1 rows per partition per query on
    * the wire — NOT a corpus-wide rank window (the shape that would shuffle
    * every scored row at 100 TB); the m+1-th row is exactly the smallest
    * unscanned lower bound the stop rule needs. Full vectors are joined in
    * only for the selected candidates (the fetch the gate's ledger counts). */
  private def matCandidates(spark: SparkSession, dir: String,
      nQueries: Int, k: Int): DataFrame =
    matCandidatesOf(spark, mrlView(spark, dir), dir, nQueries, k)

  private def matCandidatesOf(spark: SparkSession, we: DataFrame, tag: String,
      nQueries: Int, k: Int): DataFrame = {
    import spark.implicits._
    import graft.functions.{Scored, TopKAggregator}
    val pd = matPrefixOf(spark, we, tag, nQueries)
    val total = pd.groupBy(col("query_id")).count().agg(max("count")).head().getLong(0)
    val q = we.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("wv").as("qv"))
    var m = 3 * k
    var cand: DataFrame = null
    var done = false
    while (!done) {
      val topm = pd.select(col("query_id"), col("pdist"), col("id"))
        .as[(Long, Double, Long)]
        .groupByKey(_._1)
        .mapValues { case (_, pdist, id) => Scored(pdist, id) }
        .agg(new TopKAggregator(m + 1).toColumn.name("topk"))
        .toDF("query_id", "topk")
        .select(col("query_id"), posexplode(col("topk")).as(Seq("r", "s")))
        .select(col("query_id"), (col("r") + 1).as("prank"),
          col("s.id").as("id"), col("s.dist").as("pdist"))
      cand = topm.where(col("prank") <= m)
        .join(we.select(col("vec_id").as("id"), col("wv").as("vec")), "id")
        .join(broadcast(q), "query_id")
        .withColumn("dist", l2sqNative(spark, col("vec"), col("qv")))
        .select(col("query_id"), col("id"), col("pdist"), col("dist"))
      if (m >= total) done = true
      else {
        val wD = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
        val kth = cand.withColumn("r", row_number().over(wD)).where(col("r") === k)
          .select(col("query_id"), col("dist").as("dk"))
        val boundary = topm.where(col("prank") === m + 1)
          .select(col("query_id"), col("pdist").as("bound"))
        // a query is provably complete when its smallest unscanned lower
        // bound strictly exceeds its kth scanned distance
        val unsat = kth.join(boundary, "query_id")
          .where(col("bound") <= col("dk")).count()
        if (unsat == 0) done = true else m = math.min(total.toInt, m * 2)
      }
    }
    cand
  }

  /** The pruning ledger for [[matryoshkaSearch]] — per query, the
    * closed-form number of candidates whose prefix lower bound is within
    * the true kth distance (the fetch set any lower-bound-pruned scan must
    * cover) and its fraction of the corpus: the measured full-vector-IO
    * story of the truncated-prefix serving path (~2-5% here), exactly
    * recomputable in SQL — the oracle re-derives the kth distances AND the
    * counts, so the ledger itself hash-checks. */
  def matryoshkaGate(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 10): DataFrame =
    matryoshkaGateOf(spark, mrlView(spark, dir), dir, nQueries, k)

  /** General-frame twin of [[matryoshkaGate]] (see [[matryoshkaSearchOf]]). */
  def matryoshkaGateOf(spark: SparkSession, we: DataFrame, tag: String,
      nQueries: Int, k: Int): DataFrame = {
    val pd = matPrefixOf(spark, we, tag, nQueries)
    val total = pd.groupBy(col("query_id")).count().agg(max("count")).head().getLong(0)
    val cand = matCandidatesOf(spark, we, tag, nQueries, k)
    val wD = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
    val kth = cand.withColumn("r", row_number().over(wD)).where(col("r") === k)
      .select(col("query_id"), col("dist").as("dk"))
    pd.join(kth, "query_id")
      .where(col("pdist") <= col("dk"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_required"))
      .select(col("query_id"), lit(k).cast("long").as("k"),
        lit(total).as("n"), col("n_required"),
        round(col("n_required") / total.toDouble, 4).as("fetch_frac"))
      .orderBy(col("query_id"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL'19 — the
    * LASER/CCMatrix parallel-corpus mining rule): for every
    * source-language document, the best target-language candidate scored
    * by the RATIO margin — cosine normalized by the mean of the k-NN
    * cosines of BOTH endpoints — which suppresses the hubness failure a
    * raw cosine threshold suffers (a vector near everything scores high
    * against everything; dividing by its own neighborhood mean cancels
    * that). Emits one row per source doc: best target, cosine, margin,
    * and the accept flag at the standard ~1.05 threshold.
    *
    * Determinism: cosines are doubles (identical folds in both engines);
    * each side's k-NN sum is an EXACT integer sum of floor(cos·1e6)
    * micro-units (selection ranked on the raw double, ties by id), so the
    * margin is ONE division of exact integers — bit-identical, making
    * even the threshold flag engine-stable. Scale shape: this is the
    * exact oracle form over the src×tgt cross join; at corpus scale the
    * candidate pairs come from the fanout ANN index per side (the
    * hard_negatives_fanout pattern) and the same margin arithmetic runs
    * on the shortlists. */
  def bitextMining(spark: SparkSession, dir: String, srcLang: String = "en",
      tgtLang: String = "de", k: Int = 4): DataFrame =
    cachedPairs(spark, dir, s"bitext:$srcLang:$tgtLang:$k") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val e = Tables.embeddings(spark, dir)
      .join(docs, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("lang"), col("embedding"),
        normNative(spark, col("embedding")).as("nrm"))
    val src = e.where(col("lang") === srcLang)
      .select(col("vec_id").as("src_id"), col("embedding").as("sv"), col("nrm").as("sn"))
    val tgt = e.where(col("lang") === tgtLang)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("tv"), col("nrm").as("tn"))
    val pairs = src.crossJoin(broadcast(tgt))
      .withColumn("cos", dotNative(spark, col("sv"), col("tv")) / (col("sn") * col("tn")))
      .select(col("src_id"), col("tgt_id"), col("cos"),
        floor(col("cos") * 1e6).cast("long").as("mcos"))
    val wS = Window.partitionBy(col("src_id")).orderBy(col("cos").desc, col("tgt_id").asc)
    val wT = Window.partitionBy(col("tgt_id")).orderBy(col("cos").desc, col("src_id").asc)
    val ranked = pairs
      .withColumn("rs", row_number().over(wS))
      .withColumn("rt", row_number().over(wT))
    val sx = ranked.where(col("rs") <= k).groupBy(col("src_id")).agg(sum(col("mcos")).as("sx"))
    val sy = ranked.where(col("rt") <= k).groupBy(col("tgt_id")).agg(sum(col("mcos")).as("sy"))
    val wBest = Window.partitionBy(col("src_id")).orderBy(col("margin").desc, col("tgt_id").asc)
    pairs.join(sx, "src_id").join(sy, "tgt_id")
      .withColumn("margin", (col("mcos") * (2 * k)) / (col("sx") + col("sy")))
      .withColumn("rk", row_number().over(wBest))
      .where(col("rk") === 1)
      .select(col("src_id"), col("tgt_id"), round(col("cos"), 4).as("cos"),
        round(col("margin"), 4).as("margin"), (col("margin") > 1.05).as("accepted"))
      .orderBy(col("src_id"))
  }

  private val NumPlanes = 12

  /** Seeded random hyperplanes for sign-LSH (deterministic; the driver can
    * re-derive them, but the bucketing itself is not SQL-expressible at
    * reasonable cost → rows-only check; accuracy vs brute force is asserted
    * in specs). */
  private def hyperplanes(dim: Int, seed: Long): Array[Array[Double]] = {
    val rng = new Random(seed)
    Array.fill(NumPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** LSH-bucketed cosine near-neighbor pairs — the scale path for
    * [[Dedup.dedupEmbeddingCosine]]: 12 hyperplane sign bits, banded into 4
    * disjoint 3-bit keys; candidates are pairs agreeing on any band,
    * verified with exact cosine. Equi-join on (band, key) — never all-pairs.
    * Banding math: P(bit agrees) = 1 − θ/π; at cos 0.4 that's ~0.63, so a
    * 3-bit band matches with p³≈0.25 and 4 bands give ~68% recall (asserted
    * ≥0.5 in specs). For genuine near-dup corpora (cos ≥ 0.9) the same
    * operator with 8-bit × 6 bands gives >95% recall and far finer buckets —
    * parameters, not code, change with the workload. */
  def lshCosinePairs(spark: SparkSession, dir: String, threshold: Double = 0.4, seed: Long = 7L): DataFrame =
    cachedPairs(spark, dir, s"lshCos:$threshold:$seed") {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
    val dim = e.head()._2.length // hyperplanes must match the actual width
    val planes = hyperplanes(dim, seed)
    val bc = spark.sparkContext.broadcast(planes)
    // signature = sign bits of plane dot products
    val sigs = e.map { case (id, vec) =>
      var sig = 0
      var p = 0
      val ps = bc.value
      while (p < ps.length) {
        var d = 0.0
        var i = 0
        while (i < vec.length) { d += ps(p)(i) * vec(i); i += 1 }
        if (d > 0) sig |= (1 << p)
        p += 1
      }
      (id, sig)
    }.toDF("vec_id", "sig")
    // 4 disjoint 3-bit bands; candidate iff some band's bits all agree
    val keyed = sigs.select(col("vec_id"),
        explode(array((0 until 4).map { r =>
          struct(lit(r).as("band"), shiftright(col("sig"), r * 3).bitwiseAND(lit(7)).as("bucket"))
        }: _*)).as("rb"))
      .select(col("vec_id"), col("rb.band").as("band"), col("rb.bucket").as("bucket"))
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val emb = Tables.embeddings(spark, dir)
    cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .withColumn("na", normNative(spark, col("va"))).withColumn("nb", normNative(spark, col("vb")))
      .withColumn("cos", dotNative(spark, col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-dimension embedding QC report — the sanity pass before indexing
    * or quantizing a vector corpus (dead dimensions, scale outliers,
    * variance collapse all show up here). Values ride as half-up-floored
    * micro-unit LONGS (the sq_quantize / token_entropy trick), so the
    * per-dimension sums are exact integers and order-independent; min/max
    * are exact float comparisons. One posexplode + one keyed aggregation —
    * the shuffle carries dim × partitions partial rows, never the corpus.
    * The Σvm² accumulator is DECIMAL(38,0) internally (a LONG sum wraps
    * past ~9e4 elements per dim at |v| ≈ 10) but is EMITTED as hi/lo LONGs
    * (quotient/remainder by 10¹⁸): decimal canonicalization is the one
    * place Spark and DuckDB render the same value differently, so the
    * output contract stays long/double/string/bool everywhere. */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame = {
    val micro = floor(col("v").cast("double") * 1e6 + 0.5).cast("long")
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("pos"), col("v"), micro.as("vm"))
      .groupBy(col("pos"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("vm")).as("sum_micro"),
        sum((col("vm") * col("vm")).cast("decimal(38,0)")).as("sumsq"),
        round(min(col("v")).cast("double"), 4).as("min_v"),
        round(max(col("v")).cast("double"), 4).as("max_v"))
      .select(col("pos"), col("n"), col("sum_micro"),
        expr("sumsq div 1000000000000000000").as("sumsq_hi"),
        expr("CAST(sumsq % 1000000000000000000 AS BIGINT)").as("sumsq_lo"),
        col("min_v"), col("max_v"))
      .orderBy(col("pos"))
  }

  /** Embedding-norm outlier detection — the vector-space twin of the text
    * length MAD filter ([[TextAnalysis.lengthMadOutliers]]): per LABEL
    * (the curation stratum), the interpolated median + MAD of the squared
    * norms and the count of vectors beyond the 3·MAD band. Broken
    * embeddings — zero vectors, overflow artifacts, un-normalized
    * stragglers from a mixed-encoder backfill — are exactly what poisons
    * cosine dedup and ANN recall downstream, and a norm-band check
    * catches them for one scan. The norm² fold is the ONE shared
    * sequential-double contract ([[graft.functions.VectorFunctions.dot]],
    * the arithmetic every hash-matched distance oracle rides), rounded
    * 4dp on BOTH sides; the (label, norm²) histogram collects to the
    * driver and the median/MAD interpolation runs in the shared
    * [[TextAnalysis.madStats]] arithmetic. Histogram cardinality is
    * bounded by 4dp quantization × labels — coarsen the rounding if a
    * production value spread widens it. */
  def embedNormOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The synthetic embeddings are uniformly healthy (norms concentrate
    // tightly), so the detector would be VACUOUS on the raw table — the
    // blocklist/media-gate lesson. Plant deterministic breakage in-query
    // (the planted-mutation pattern): every 29th id is a ×3 un-normalized
    // straggler (norm² ×9) and every 31st a dead zero vector — applied to
    // the squared norm AFTER the fold, where a single double multiply is
    // exact in both engines (scaling the float elements would round
    // per-element differently than DuckDB's double promotion).
    val raw = graft.functions.VectorFunctions.dot(col("embedding"), col("embedding"))
    val n2 = round(
      when(col("vec_id") % 29 === 0, raw * 9.0)
        .when(col("vec_id") % 31 === 0, lit(0.0))
        .otherwise(raw), 4)
    val hist = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"), n2.as("n2"))
      .groupBy(col("label"), col("n2")).agg(count(lit(1)).as("c"))
      .as[(Long, Double, Long)].collect()
    val rows = hist.groupBy(_._1).toSeq.map { case (label, rs) =>
      val (n, med, mad, outliers) =
        TextAnalysis.madStats(rs.map { case (_, v, c) => (v, c) }.toSeq)
      (label, n, med, mad, outliers)
    }
    rows.toDF("label", "n_vecs", "med_norm2", "mad_norm2", "n_outliers")
      .orderBy(col("label"))
  }

  /** Per-dimension mean drift across the deterministic train/val/test
    * holdouts — the distribution-shift check a release runs before
    * trusting its eval numbers: the same 60-bit id-hash split rule as
    * [[CorpusPipeline.splitAssign]] (embedding ids align with doc ids),
    * per-(split, dim) exact micro-unit means (floor(sum/count) of the
    * shared half-up quantizer), pivoted to one row per dim with the max
    * pairwise absolute drift. A large max_drift on any dim = the holdout
    * is not exchangeable with train on that feature. One explode + one
    * keyed aggregation (3·dim cells after map-side combine), join-free. */
  def splitDrift(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    val cells = Tables.embeddings(spark, dir)
      .withColumn("split",
        when(bucket < 98, "train").when(bucket === 98, "val").otherwise("test"))
      .select(col("split"), posexplode(
        graft.operators.Clustering.quantizeExpr("embedding")).as(Seq("dim", "vm")))
      .groupBy(col("split"), col("dim"))
      .agg(sum(col("vm")).as("s"), count(lit(1)).as("n"))
      .select(col("split"), col("dim").cast("long").as("dim"),
        floor(col("s").cast("double") / col("n").cast("double")).cast("long").as("mean_q"))
    def meanOf(s: String) = max(when(col("split") === s, col("mean_q"))).as(s"mean_$s")
    val p = cells.groupBy(col("dim"))
      .agg(meanOf("train"), meanOf("val"), meanOf("test"))
    def d(a: String, b: String) =
      abs(coalesce(col(a), lit(0L)) - coalesce(col(b), lit(0L)))
    p.withColumn("max_drift",
        greatest(d("mean_train", "mean_val"), d("mean_train", "mean_test"),
          d("mean_val", "mean_test")))
      .orderBy(col("dim"))
  }

  /** Cross-dimension covariance accumulators — the QC step after
    * [[embedDimStats]] (correlated/redundant dims are the signal that PCA
    * or dim-folding would pay off before indexing): exact Σ vmᵢ·vmⱼ for
    * every dim pair i<j in the same half-up micro-unit integers, so the
    * sums are order-independent and cov(i,j) = (n·Sᵢⱼ − Sᵢ·Sⱼ)/n² is
    * computable downstream from this + embedDimStats without re-scanning.
    * The pair explode emits C(dim,2) rows per vector, but partial
    * aggregation bounds the shuffle at pairs × partitions — never
    * corpus × pairs. Products are SIGNED, so the exact value is emitted
    * as a decimal→STRING (plain integer rendering is engine-identical;
    * raw decimal output canonicalization is not — the r6 lesson, and
    * signed hi/lo div/mod would add a truncation-vs-floor trap). */
  def embedDimCov(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The hot path is a per-partition PRIMITIVE kernel: each task folds its
    // rows into one long[d(d-1)/2] accumulator and emits a single partial
    // triangle — pairs × partitions rows total — instead of exploding
    // C(d,2) product rows per vector through codegen (the previous shape;
    // measured 1.7 s → this kernel replaces ~20M element_at calls at sf0.1
    // with a tight i<j loop over a stack array). Exactness is preserved at
    // ANY scale: per-element micro-units are the same floor(v·1e6 + 0.5),
    // products accumulate in signed longs with a BigInteger spill every 2²¹
    // rows (|vm| < 2²¹ ⇒ |product| < 2⁴², so 2²¹ summands cannot overflow),
    // rows with larger micro-units take the BigInteger path row-by-row; the
    // final cross-partition fold is an exact decimal(38,0) sum.
    val maxSafeVm = 1L << 21
    val flushEvery = 1L << 21
    val parts = Tables.embeddings(spark, dir)
      // repo-conventional cast + null filter: the previous explode form
      // silently emitted nothing for null embeddings and tolerated a
      // wider parquet float type; the kernel would NPE — keep the
      // operator total over the same inputs
      .select(col("embedding").cast("array<float>").as("embedding"))
      .where(col("embedding").isNotNull)
      .as[Array[Float]]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          var d = -1
          var acc: Array[Long] = null
          var big: Array[java.math.BigInteger] = null
          var n = 0L
          var sinceFlush = 0L
          def flush(): Unit = {
            if (big == null) big = Array.fill(acc.length)(java.math.BigInteger.ZERO)
            var p = 0
            while (p < acc.length) {
              if (acc(p) != 0L) {
                big(p) = big(p).add(java.math.BigInteger.valueOf(acc(p)))
                acc(p) = 0L
              }
              p += 1
            }
          }
          var vm: Array[Long] = null
          while (it.hasNext) {
            val e = it.next()
            if (d < 0) {
              d = e.length
              acc = new Array[Long](d * (d - 1) / 2)
              vm = new Array[Long](d)
            }
            require(e.length == d,
              s"embed_dim_cov: mixed embedding dims ($d vs ${e.length})")
            var x = 0
            var maxAbs = 0L
            while (x < d) {
              val v = math.floor(e(x).toDouble * 1e6 + 0.5).toLong
              vm(x) = v
              val a = math.abs(v)
              if (a > maxAbs) maxAbs = a
              x += 1
            }
            if (maxAbs < maxSafeVm) {
              var idx = 0
              var i = 0
              while (i < d - 1) {
                val vi = vm(i)
                var j = i + 1
                while (j < d) { acc(idx) += vi * vm(j); idx += 1; j += 1 }
                i += 1
              }
              sinceFlush += 1
              if (sinceFlush >= flushEvery) { flush(); sinceFlush = 0L }
            } else {
              // out-of-band magnitudes: exact BigInteger products, row by row
              if (big == null) big = Array.fill(acc.length)(java.math.BigInteger.ZERO)
              var idx = 0
              var i = 0
              while (i < d - 1) {
                val vi = java.math.BigInteger.valueOf(vm(i))
                var j = i + 1
                while (j < d) {
                  big(idx) = big(idx).add(vi.multiply(java.math.BigInteger.valueOf(vm(j))))
                  idx += 1; j += 1
                }
                i += 1
              }
            }
            n += 1
          }
          flush()
          val rowCount = n
          val dim = d
          Iterator.tabulate(big.length)(p => (p, rowCount, big(p).toString, dim))
        }
      }
    val sums = parts.toDF("pidx", "pn", "spp", "dd")
      .select(col("pidx"), col("pn"), col("spp").cast("decimal(38,0)").as("spd"),
        col("dd"))
      .groupBy(col("pidx"))
      // dmn/dmx: cross-PARTITION dim guard — the kernel's require only
      // checks rows within one partition against its own first row; if
      // partitions started with different dims their triangles would merge
      // silently here. A corrupted cell has contributions from ≥2 dims, so
      // per-cell min≠max flags exactly those; the raise_error below makes
      // ragged input fail loudly instead of emitting wrong sums.
      .agg(sum(col("pn")).as("n"), sum(col("spd")).as("sp"),
        min(col("dd")).as("dmn"), max(col("dd")).as("dmx"))
      .select(col("pidx"), col("n"),
        when(col("dmn") === col("dmx"), col("sp"))
          .otherwise(raise_error(concat(lit("embed_dim_cov: mixed embedding dims across partitions ("),
            col("dmn").cast("string"), lit(" vs "), col("dmx").cast("string"), lit(")"))))
          .as("sp"))
    // n_pairs = d(d-1)/2 recovers d exactly (8·np+1 is a perfect square and
    // sqrt of a sub-2^26 perfect square is exact in double); pidx(i,j) =
    // i·(d-1) − i(i−1)/2 + (j−i−1) mirrors the flatten's canonical order.
    // d < 2 (no pairs) filters to an empty map — and an empty result.
    val pairMap = sums.agg(count(lit(1)).as("np"))
      .select(((sqrt(col("np").cast("double") * 8 + 1) + 1) / 2).cast("int").as("d"))
      .where(col("d") >= 2)
      .select(col("d"), explode(sequence(lit(0), col("d") - 2)).as("i"))
      .select(col("d"), col("i"), explode(sequence(col("i") + 1, col("d") - 1)).as("j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        (col("i") * (col("d") - 1) - col("i") * (col("i") - 1) / 2 + (col("j") - col("i") - 1))
          .cast("int").as("pidx"))
    sums.join(broadcast(pairMap), Seq("pidx"))
      .select(col("i"), col("j"), col("n"), col("sp").cast("string").as("sumprod"))
      .orderBy(col("i"), col("j"))
  }

  /** Unit-normalize embeddings — the vector-ETL step before cosine indexing
    * (what `metric="cos"` does internally, exposed as a standalone op).
    * Narrow transform, no shuffle. The unit vector is emitted as a string of
    * ×10⁴ integers: integers render identically in every engine, where
    * double→string formatting does not ("1.0E-4" vs "0.0001"). */
  def embedNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), normNative(spark, col("embedding")).as("nrm"))
      .select(col("vec_id"),
        round(col("nrm"), 4).as("norm"),
        concat_ws(",", transform(col("embedding"),
          x => round(x.cast("double") / col("nrm") * 10000).cast("int").cast("string")))
          .as("unit_x1e4"))
      .orderBy(col("vec_id"))

  private val L2Tables = 8
  private val L2ProjPerTable = 2

  /** Bucketed random-projection L2 LSH join — the scale twin for
    * [[similarityJoinExact]], matching the reference's actual metric
    * (vamana.h:694-702 is squared L2). E2LSH bucketing (Datar et al. 2004):
    * key = floor((a·x + b)/w) per projection, a ~ N(0,1)^dim, b ~ U[0,w);
    * each of the 8 tables concatenates 2 projection keys, candidates are
    * pairs agreeing on any table's full key, verified with the exact codegen
    * distance. With w = 2·sqrt(maxL2Sq), a pair AT the threshold collides
    * per-projection with p≈0.8 → per-table p²≈0.64 → miss probability
    * (1−0.64)^8 < 0.03; closer pairs do better. Equi-join on (table, key) —
    * never all-pairs. Not SQL-expressible at reasonable cost → rows-only
    * driver check; pair recall vs the exact join is gated ≥0.9 in specs. */
  def lshL2Pairs(spark: SparkSession, dir: String, maxL2Sq: Double = 1.1, seed: Long = 11L): DataFrame =
    cachedPairs(spark, dir, s"lshL2:$maxL2Sq:$seed") {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
    val dim = e.head()._2.length
    val w = 2.0 * math.sqrt(maxL2Sq)
    val rng = new Random(seed)
    val projs: Array[Array[(Array[Double], Double)]] =
      Array.fill(L2Tables)(Array.fill(L2ProjPerTable)(
        (Array.fill(dim)(rng.nextGaussian()), rng.nextDouble() * w)))
    val bc = spark.sparkContext.broadcast(projs)
    val keyed = e.flatMap { case (id, vec) =>
      bc.value.iterator.zipWithIndex.map { case (tbl, t) =>
        val key = tbl.map { case (a, b) =>
          var d = 0.0
          var i = 0
          while (i < vec.length) { d += a(i) * vec(i); i += 1 }
          math.floor((d + b) / w).toLong
        }.mkString(",")
        (id, t, key)
      }
    }.toDF("vec_id", "tbl", "key")
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val emb = Tables.embeddings(spark, dir)
    cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .withColumn("dist", l2sqNative(spark, col("va"), col("vb")))
      .where(col("dist") < maxL2Sq)
      .select(col("id_a"), col("id_b"), round(col("dist"), 4).as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** IVF-style ANN search: k-means-lite coarse quantizer (seeded points as
    * centroids, one refinement pass), probe the nProbe nearest cells per
    * query, exact re-rank within probed cells. Rows-only check; recall vs
    * brute force asserted in specs. */
  def ivfSearch(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nCells: Int = 8, nProbe: Int = 3): DataFrame = {
    import spark.implicits._
    val (all, centroids) = coarseCentroids(spark, dir, nCells)
    val bcC = spark.sparkContext.broadcast(centroids)
    val assigned = cellAssigned(spark, dir, bcC)
    val queries = all.take(nQueries).map { case (id, v) =>
      (id, v, nearestCells(v, centroids, nProbe))
    }.toSeq.toDF("query_id", "qvec", "cells")
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("vec_id").asc)
    assigned
      .join(broadcast(queries.select(col("query_id"), col("qvec"), explode(col("cells")).as("cell"))), "cell")
      .withColumn("dist", l2sqNative(spark, col("vec"), col("qvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- hash-checked accuracy gates ------------------------------------------
  //
  // The seeded generators (hyperplane LSH, E2LSH, IVF, PQ) can never hash-
  // match a DuckDB oracle directly — DuckDB cannot re-derive the seeded
  // projections at reasonable cost. What IS oracle-computable: the exact
  // pair/top-k baseline and a boolean gate over the approximate result's
  // agreement with it. Each gate emits (exact-count, flags); the oracle
  // recomputes the count and asserts the flags as literals — the same
  // emission pattern as vamana_search_overlap. Gate floors are
  // CATASTROPHIC-regression detectors set well below the measured
  // deterministic recall at the correctness SF (lsh-cos 0.71, lsh-L2 1.0,
  // IVF 0.70, PQ 0.51) — the tighter quality bounds live in specs, where a
  // near-boundary flip fails a test instead of the driver's hash gate.

  /** One-row gate over pair sets: exact-pair count (DuckDB-recomputable),
    * subset flag (approx pairs are exact-verified => no false positives),
    * recall-floor flag. */
  private[graft] def pairGate(exact: DataFrame, approx: DataFrame,
      recallFloor: Double): DataFrame =
    exact.withColumn("in_exact", lit(1))
      .join(approx.withColumn("in_approx", lit(1)), Seq("id_a", "id_b"), "full_outer")
      .agg(
        count(col("in_exact")).as("n_exact_pairs"),
        count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hit"),
        count(when(col("in_exact").isNull, 1)).as("n_extra"))
      .select(
        col("n_exact_pairs"),
        (col("n_extra") === 0).as("subset_ok"),
        (col("n_hit") >= col("n_exact_pairs") * recallFloor).as("recall_ok"))

  /** One-row gate over per-query top-k id sets: query count + recall floor. */
  private[graft] def topkGate(exact: DataFrame, approx: DataFrame,
      recallFloor: Double): DataFrame =
    exact.withColumn("in_exact", lit(1))
      .join(approx.withColumn("in_approx", lit(1)), Seq("query_id", "id"), "full_outer")
      .agg(
        countDistinct(when(col("in_exact").isNotNull, col("query_id"))).as("n_queries"),
        count(col("in_exact")).as("n_exact"),
        count(when(col("in_exact").isNotNull && col("in_approx").isNotNull, 1)).as("n_hit"))
      .select(
        col("n_queries"),
        (col("n_hit") >= col("n_exact") * recallFloor).as("recall_ok"))

  /** Exact cosine-threshold pair set (gate-sized oracle twin, cached — the
    * cosine gates all compare against the same baseline). */
  private def exactCosinePairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    cachedPairs(spark, dir, s"exactCos:$threshold") {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), normNative(spark, col("embedding")).as("nrm"))
      e.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
        .crossJoin(e.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb")))
        .where(col("id_a") < col("id_b"))
        .where(dotNative(spark, col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
        .select(col("id_a"), col("id_b"))
    }

  /** Gate for [[lshCosinePairs]] vs the exact cosine-threshold crossJoin
    * (gate-sized oracle twin; the scale path is the LSH side). */
  def lshCosineGate(spark: SparkSession, dir: String, threshold: Double = 0.4,
      recallFloor: Double = 0.5): DataFrame =
    pairGate(exactCosinePairs(spark, dir, threshold),
      lshCosinePairs(spark, dir, threshold).select(col("id_a"), col("id_b")),
      recallFloor)

  /** SemDeDup-style clustered embedding dedup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its `nAssign` nearest
    * coarse k-means cells (soft assignment — the standard recall lever
    * over the paper's hard assignment), then exact-cosine-verify candidate
    * pairs that SHARE a cell — the scale path for
    * [[Dedup.dedupEmbeddingCosine]]'s all-pairs oracle twin. The candidate
    * stage is an equi-join on the cell id (Σ|cell|² over cells sized by
    * the quantizer's granularity — at 100 TB, raise nCells so cells stay
    * bounded and sub-cluster hot cells with the same machinery), never
    * corpus²; candidates dedupe on the id pair BEFORE the exact verify so
    * multi-assignment never re-verifies a pair. Cross-cell near-dups are
    * the recall trade SemDeDup makes by construction — [[semdedupGate]]
    * pins the measured floor. */
  def semdedupPairs(spark: SparkSession, dir: String, threshold: Double = 0.4,
      nCells: Int = 8, nAssign: Int = 2): DataFrame =
    cachedPairs(spark, dir, s"semdedup:$threshold:$nCells:$nAssign") {
      semdedupPairsOf(spark,
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        threshold, nCells, nAssign)
    }

  /** [[semdedupPairs]] over any (vec_id, embedding) frame — the surface
    * the hot-cell spec drives with a synthetic skewed corpus. */
  def semdedupPairsOf(spark: SparkSession, emb0: DataFrame, threshold: Double,
      nCells: Int, nAssign: Int, maxCellSize: Long = 100000L): DataFrame = {
    val keyed = semdedupKeys(spark, emb0, nCells, nAssign, maxCellSize)
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val emb = emb0
      .select(col("vec_id"), col("embedding"), normNative(spark, col("embedding")).as("nrm"))
    cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cos", dotNative(spark, col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The (vec_id, cell-key) assignment frame, with HOT-CELL SUB-CLUSTERING:
    * any coarse cell holding more than `maxCellSize` members gets a
    * second-level quantizer trained on a bounded per-cell sample (id-hash
    * rate-limited to ≤4096 vectors per hot cell, then one Lloyd pass on the
    * driver — hot cells ≤ nCells, so the collect is bounded by
    * construction), and its members re-key to (cell, sub-cell) with the
    * same soft assignment. Below the cap the second level is INERT (keys
    * are the coarse cells verbatim), so the registered gate's path is
    * untouched at oracle scale while the Σ|cell|² candidate bound actually
    * holds when the corpus piles into one coarse cell — the IVF-style
    * coarse→fine hierarchy realized with the machinery already here. */
  private[graft] def semdedupKeys(spark: SparkSession, emb0: DataFrame,
      nCells: Int, nAssign: Int, maxCellSize: Long): DataFrame = {
    import spark.implicits._
    val e = emb0
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
    val sample = e.filter(_._1 < 4096).collect().sortBy(_._1)
    val init = (0 until nCells).map(i => sample((i * sample.length) / nCells)._2).toArray
    val centroids = lloydOnce(sample.map(_._2), init)
    val bcC = spark.sparkContext.broadcast(centroids)
    val coarse = e
      .flatMap { case (id, v) => nearestCells(v, bcC.value, nAssign).map(c => (id, v, c)) }
      .toDF("vec_id", "vec", "c0")
    val hotSizes = coarse.groupBy(col("c0")).agg(count(lit(1)).as("m"))
      .where(col("m") > maxCellSize)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (hotSizes.isEmpty)
      coarse.select(col("vec_id"), col("c0").cast("string").as("cell"))
    else {
      val hotSet = hotSizes.keySet
      // bounded per-cell sample: uniform id-hash thinning to ~4096 per cell
      val hashU = conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("double") / 1152921504606846976.0
      val rates = hotSizes.map { case (c, m) => c -> math.min(1.0, 4096.0 / m) }
      val rateCol = rates.foldLeft(lit(1.0)) { case (acc, (c, r)) =>
        when(col("c0") === c, lit(r)).otherwise(acc)
      }
      val subSamples = coarse
        .where(col("c0").isInCollection(hotSet) && hashU < rateCol)
        .select(col("c0"), col("vec"))
        .as[(Int, Array[Float])]
        .collect()
        .groupBy(_._1)
      // the SUB level clusters DIRECTIONS (unit-normalized vectors): this
      // is a cosine dedup, so a cell that is one dense L2 blob around the
      // origin (where raw-L2 k-means collapses to a single centroid and
      // splits nothing) still separates on the sphere — and cosine twins
      // share a direction, so they land in the same sub-cell by
      // construction. The coarse level stays raw-L2, shared with ivf.
      val subCentroids: Map[Int, Array[Array[Float]]] = subSamples.map { case (c, rows) =>
        val pts = rows.map(r => unit(r._2))
        val want = math.max(2, math.min(64,
          math.ceil(2.0 * hotSizes(c) / maxCellSize).toInt))
        val k = math.min(want, pts.length)
        val ini = (0 until k).map(i => pts((i * pts.length) / k)).toArray
        c -> lloydOnce(pts, ini)
      }
      val bcSub = spark.sparkContext.broadcast(subCentroids)
      coarse.as[(Long, Array[Float], Int)].flatMap { case (id, v, c) =>
        bcSub.value.get(c) match {
          case Some(subs) =>
            nearestCells(unit(v), subs, math.min(nAssign, subs.length))
              .map(s => (id, s"$c/$s"))
          case None => Seq((id, c.toString))
        }
      }.toDF("vec_id", "cell")
    }
  }

  /** Survivor selection over the SemDeDup pair graph — the same fixpoint
    * CC + min-label canonicalization as every other dedup modality, so a
    * corpus deduped semantically uses one survivor semantics. */
  def semdedupSurvivors(spark: SparkSession, dir: String, threshold: Double = 0.4,
      nCells: Int = 8): DataFrame =
    Dedup.survivorsOf(spark,
      semdedupPairs(spark, dir, threshold, nCells).select(col("id_a"), col("id_b")),
      Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id")))

  /** SSL-prototypes-style redundancy pruning (Sorscher et al. 2022 —
    * composed with SemDeDup in Meta's D4 recipe): within each coarse cell,
    * the docs CLOSEST to the cell centroid are the most prototypical (the
    * least informative to train on), so the nearest `pruneFrac` per cell
    * is dropped and everything else — including every outlier, which by
    * construction sits far from its centroid — survives. Centroids are
    * EXACT: per-(cell, dim) sums of half-up micro-unit longs (integer
    * arithmetic, order-independent) divided once at the end, so distances
    * and therefore keep/drop decisions are deterministic under any
    * partitioning — a float avg() would let 1-ulp drift flip a rank. The
    * per-cell rank rides a window partitioned by cell (bounded by the
    * quantizer's granularity, never a global sort). */
  def prototypePrune(spark: SparkSession, dir: String, pruneFrac: Double = 0.2,
      nCells: Int = 8): DataFrame =
    prototypePruneOf(spark,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      pruneFrac, nCells)

  /** Frame form of [[prototypePrune]] — the spec drives it with planted
    * outliers. */
  def prototypePruneOf(spark: SparkSession, emb0: DataFrame, pruneFrac: Double,
      nCells: Int): DataFrame = {
    import spark.implicits._
    val e = emb0
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
    val sample = e.filter(_._1 < 4096).collect().sortBy(_._1)
    val init = (0 until nCells).map(i => sample((i * sample.length) / nCells)._2).toArray
    val bcC = spark.sparkContext.broadcast(lloydOnce(sample.map(_._2), init))
    val assigned = e
      .map { case (id, v) => (id, v, nearestCells(v, bcC.value, 1).head) }
      .toDF("vec_id", "vec", "cell")
    // exact per-(cell, dim) integer sums -> one double division at the end
    val centroids = assigned
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(floor(col("v").cast("double") * 1e6 + 0.5).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (c, rows) =>
        c -> rows.sortBy(_.getInt(1))
          .map(r => (r.getLong(2).toDouble / 1e6 / r.getLong(3)).toFloat).toArray
      }
    val centroidDf = centroids.toSeq.map { case (c, v) => (c, v) }
      .toDF("cell", "centroid")
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    val cw = Window.partitionBy(col("cell"))
    assigned
      .join(broadcast(centroidDf), "cell")
      .withColumn("dist", l2sqNative(spark, col("vec"), col("centroid")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cell_n", count(lit(1)).over(cw))
      .withColumn("is_kept",
        (col("rk") > floor(col("cell_n") * pruneFrac)).cast("int"))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        round(col("dist"), 4).as("dist"), col("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** Gate for [[prototypePrune]]: the oracle recomputes the corpus count
    * and asserts the structural flags as literals — per cell, kept must
    * equal cell_n − floor(cell_n·frac) exactly, and the pruned set must be
    * a distance-prefix (max kept-rank ≤ min dropped-rank per cell). */
  def prototypeGate(spark: SparkSession, dir: String, pruneFrac: Double = 0.2): DataFrame = {
    val p = prototypePrune(spark, dir, pruneFrac)
    p.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(col("is_kept")).as("kept"),
        max(when(col("is_kept") === 0, col("dist"))).as("max_dropped"),
        min(when(col("is_kept") === 1, col("dist"))).as("min_kept"))
      .agg(
        sum(col("n")).as("n_total"),
        (count(when(col("kept") =!= col("n") - floor(col("n") * pruneFrac), 1)) === 0)
          .as("frac_ok"),
        (count(when(col("max_dropped") > col("min_kept"), 1)) === 0).as("prefix_ok"))
  }

  /** Gate for [[semdedupPairs]] vs the exact cosine pair set (the same
    * baseline as [[lshCosineGate]] — the cache shares it). */
  def semdedupGate(spark: SparkSession, dir: String, threshold: Double = 0.4,
      recallFloor: Double = 0.5): DataFrame =
    pairGate(exactCosinePairs(spark, dir, threshold),
      semdedupPairs(spark, dir, threshold).select(col("id_a"), col("id_b")),
      recallFloor)

  /** Gate for [[lshL2Pairs]] vs the exact L2 threshold join. */
  def lshL2Gate(spark: SparkSession, dir: String, maxL2Sq: Double = 1.1,
      recallFloor: Double = 0.8): DataFrame =
    pairGate(
      similarityJoinExact(spark, dir, maxL2Sq).select(col("id_a"), col("id_b")),
      lshL2Pairs(spark, dir, maxL2Sq).select(col("id_a"), col("id_b")),
      recallFloor)

  /** Gate for [[ivfSearch]] vs exact kNN over the same query fixture. */
  def ivfGate(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      recallFloor: Double = 0.5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    topkGate(
      Knn.knnExact(emb, Knn.queriesFromPoints(emb, nQueries), k)
        .select(col("query_id"), col("id")),
      ivfSearch(spark, dir, nQueries, k).select(col("query_id"), col("id")),
      recallFloor)
  }

  /** Coarse k-means-lite quantizer shared by [[ivfSearch]] and
    * [[semdedupPairs]]: seeded evenly-spaced init over a bounded
    * driver-side sample (≤4096 points — never the full corpus; at scale
    * the quantizer trains on a sample by construction) + one Lloyd
    * refinement pass. Returns (sample, centroids). */
  private def coarseCentroids(spark: SparkSession, dir: String,
      nCells: Int): (Array[(Long, Array[Float])], Array[Array[Float]]) = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
    val all = e.filter(_._1 < 4096).collect().sortBy(_._1)
    val init = (0 until nCells).map(i => all((i * all.length) / nCells)._2).toArray
    (all, lloydOnce(all.map(_._2), init))
  }

  /** Every corpus vector tagged with its nearest coarse cell — a narrow
    * map against the broadcast centroids, no shuffle. */
  private def cellAssigned(spark: SparkSession, dir: String,
      bcC: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, nearestCells(v, bcC.value, 1).head) }
      .toDF("vec_id", "vec", "cell")
  }

  private def unit(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }

  private def nearestCells(v: Array[Float], cs: Array[Array[Float]], n: Int): Seq[Int] =
    cs.indices.sortBy { c =>
      var d = 0.0; var i = 0
      while (i < v.length) { val x = v(i) - cs(c)(i); d += x * x; i += 1 }
      (d, c)
    }.take(n)

  private def lloydOnce(points: Array[Array[Float]], init: Array[Array[Float]]): Array[Array[Float]] = {
    val dim = init(0).length
    val sums = Array.fill(init.length)(new Array[Double](dim))
    val counts = new Array[Long](init.length)
    points.foreach { p =>
      val c = nearestCells(p, init, 1).head
      counts(c) += 1
      var i = 0
      while (i < dim) { sums(c)(i) += p(i); i += 1 }
    }
    init.indices.map { c =>
      if (counts(c) == 0) init(c)
      else sums(c).map(v => (v / counts(c)).toFloat)
    }.toArray
  }
}
