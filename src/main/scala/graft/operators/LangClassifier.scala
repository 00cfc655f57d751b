package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Memo

/** TRAINED multi-language identification — the fastText-langid shape every
  * production LLM pipeline runs as its first corpus filter (hashed
  * character-n-gram features + one-vs-rest linear models), trained in
  * Spark by the same deterministic fixed-point distributed GD as
  * [[DocClassifier]] (whose `fitOnBuckets` core this reuses verbatim —
  * only the feature map and the multi-class argmax differ).
  *
  * Supervision: the heuristic [[TextAnalysis]] stopword rule covers 4
  * languages with a fixed list; this LEARNS the language boundary from a
  * labeled seed set and generalizes to any character sequence sharing the
  * class's n-gram statistics — the CCNet/fastText distillation setup. The
  * synthetic testdata corpus draws every language's text from ONE shared
  * vocabulary (its `lang` column is unlearnable by construction — no text
  * signal exists), so the seed set is PLANTED in-query: a deterministic
  * generator mixes each language's real function words (public-knowledge
  * stopword lists, including a zh romanization the heuristic does not
  * cover) with shared filler tokens, exactly the planted-structure
  * pattern the dedup/ANN scale gates use. Everything is reproducible
  * arithmetic: the generator is a pure function of (doc id, position),
  * the split is the md5 id-hash, and training is integer fixed-point, so
  * the gate's accuracy flags are deterministic invariants.
  *
  * Scale posture: the feature frame `(doc_id, lang, buckets, nt)` is
  * cached ONCE and shared by all K one-vs-rest fits (only the 0/1 label
  * column differs per class), so K classes cost K × iters narrow scans of
  * a frame ~bucket-width× smaller than the text; per-class models are
  * width+2 doubles on the driver. Inference ([[predictExpr]]) is one
  * stateless expression — K integer margin folds + argmax — usable as an
  * ingest-side streaming filter like [[DocClassifier.keepExpr]].
  */
object LangClassifier {

  /** Class list, sorted; argmax ties break to the FIRST entry. */
  val Langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Public-knowledge function words per language (the zh entries are
    * pinyin romanizations — the point is a 5th class the 4-language
    * stopword heuristic cannot represent). */
  private val langTokens: Map[String, IndexedSeq[String]] = Map(
    "de" -> Vector("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "sie"),
    "en" -> Vector("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "es" -> Vector("el", "la", "los", "y", "es", "un", "que", "por", "no", "se"),
    "fr" -> Vector("le", "les", "et", "est", "une", "dans", "ce", "pour", "pas", "vous"),
    "zh" -> Vector("de", "shi", "zai", "bu", "wo", "you", "he", "ren", "ta", "men"))

  private val sharedTokens: IndexedSeq[String] = Vector(
    "data", "table", "query", "row", "value", "key", "scan", "join", "group", "filter")

  val SeedDocs = 2000
  val TokensPerDoc = 30
  val Width = 256
  /** Mean-of-bucket-weights features need a larger step than the quality
    * model's (each bigram contributes ~1/nt of the margin, so the
    * effective per-feature signal is ~60× smaller); logistic loss over
    * |x|₁ = 1 features is stable at this step size. */
  val Iters = 40
  val Lr = 10.0

  /** splitmix64 — the deterministic per-(doc, position) draw. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** The planted seed corpus: doc i speaks Langs(i mod 5); token j is a
    * language function word with probability 40%, shared filler
    * otherwise. Pure function of (i, j) — regeneration is bit-identical
    * anywhere, and the oracle recomputes the split counts from the same
    * id arithmetic. */
  private[operators] def seedText(i: Long): String = {
    val lang = Langs((i % 5).toInt)
    val pool = langTokens(lang)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < TokensPerDoc) {
      val h = mix(i * 1024 + j)
      val tok =
        if (math.floorMod(h, 10) < 4) pool(math.floorMod(h >>> 8, pool.length).toInt)
        else sharedTokens(math.floorMod(h >>> 8, sharedTokens.length).toInt)
      if (j > 0) sb.append(' ')
      sb.append(tok)
      j += 1
    }
    sb.toString
  }

  private[graft] def seedCorpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until SeedDocs.toLong)
      .map(i => (i, Langs((i % 5).toInt), seedText(i)))
      .toDF("doc_id", "lang", "text")
  }

  /** Hashed character-BIGRAM bucket multiset (sorted) — the fastText-style
    * subword feature map: every 2-char window of the lowercased text
    * (spaces included: word-boundary bigrams like "e " carry the
    * morphology signal), md5-hashed into `width` buckets with a salt
    * distinct from the quality classifier's token space. */
  private[operators] def charBigramBuckets(text: Column, width: Int): Column =
    // lower(text) is BOUND once per row ([[Multimodal.bindOnce]]): an
    // interpreted `transform` re-evaluates captured sub-expressions per
    // element, so the inline form re-lowercased the WHOLE text for every
    // bigram — O(len²) on the ingest hot path (stream_langid measured
    // 312 rows/s before, the round-10 aHash lesson again)
    Multimodal.bindOnce(lower(text)) { lt =>
      array_sort(transform(
        sequence(lit(1), greatest(length(lt) - 1, lit(1))),
        i => conv(substring(md5(concat(lit("lang:"), lt.substr(i, lit(2)))), 1, 15), 16, 10)
          .cast("long") % lit(width.toLong)))
    }

  /** One fitted one-vs-rest stack: per-language quantized weight rows plus
    * the frozen evaluation facts the gate emits. */
  final case class LangModel(width: Int, weights: Map[String, Array[Double]],
      nTrain: Long, nTest: Long, accTest: Double, accTrain: Double)

  private val fitCache = Memo[SparkSession, LangModel](this)

  /** Multi-class argmax over the K integer micro-margins of quantized
    * one-vs-rest models — `greatest` over (margin, -classIndex) structs,
    * so ties resolve to the first class in [[Langs]] deterministically. */
  private def argmaxExpr(wq: Seq[(String, Array[Long])], buckets: Column, nt: Column): Column = {
    val scored = wq.zipWithIndex.map { case ((lang, w), idx) =>
      struct(DocClassifier.marginQ(buckets, nt, w).as("m"),
        lit(-idx).as("negidx"), lit(lang).as("lang"))
    }
    greatest(scored: _*).getField("lang")
  }

  def fit(spark: SparkSession): LangModel = fitCache(spark) {
    val feat = seedCorpus(spark)
      .select(col("doc_id"), col("lang"),
        charBigramBuckets(col("text"), Width).as("buckets"),
        (DocClassifier.splitBucket(col("doc_id")) < 90).as("is_train"))
      .where(size(col("buckets")) > 0)
      .withColumn("nt", size(col("buckets")).cast("long"))
      .cache()
    try {
      val models = Langs.map { l =>
        l -> DocClassifier.fitOnBuckets(
          feat.withColumn("y", (col("lang") === l).cast("long")), Width, Iters, Lr,
          lengthFeature = false)
      }
      val wq = models.map { case (l, m) =>
        (l, m.weights.map(x => math.floor(x * DocClassifier.Scale + 0.5).toLong))
      }
      val pred = argmaxExpr(wq, col("buckets"), col("nt"))
      val acc = feat.select(col("is_train"), (pred === col("lang")).cast("long").as("ok"))
        .groupBy(col("is_train")).agg(count(lit(1)).as("n"), sum(col("ok")).as("k"))
        .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
      val accOf = (k: Boolean) => acc.get(k).map { case (n, ok) => ok.toDouble / n }.getOrElse(0.0)
      LangModel(Width, models.map { case (l, m) => l -> m.weights }.toMap,
        acc.get(true).map(_._1).getOrElse(0L), acc.get(false).map(_._1).getOrElse(0L),
        accOf(false), accOf(true))
    } finally feat.unpersist()
  }

  /** Stateless language-prediction expression of a fitted stack over any
    * text column, in composed-builtin form — the executable SPEC TWIN of
    * the production kernel [[predictNative]] (bit-identity spec-asserted).
    * Stays as the readable definition the gate's fit-time accuracy pass
    * also exercises. */
  def predictExpr(m: LangModel, text: Column): Column = {
    val wq = Langs.map(l =>
      (l, m.weights(l).map(x => math.floor(x * DocClassifier.Scale + 0.5).toLong)))
    // bind the bucket array once: each of the K one-vs-rest margins (and
    // the count) otherwise re-runs the whole md5-bigram feature pass
    Multimodal.bindOnce(charBigramBuckets(text, m.width)) { buckets =>
      argmaxExpr(wq, buckets, size(buckets).cast("long"))
    }
  }

  /** One kernel per fitted model (models are themselves memoized per
    * session, so identity keying is stable). */
  private val kernelCache = Memo[LangModel, graft.functions.LangPredictKernel](this)

  private def kernelOf(m: LangModel): graft.functions.LangPredictKernel =
    kernelCache(m)(new graft.functions.LangPredictKernel(
      m.width, Langs.toArray,
      Langs.map(l => m.weights(l)
        .map(x => math.floor(x * DocClassifier.Scale + 0.5).toLong)).toArray))

  /** The production form of [[predictExpr]]: one codegen kernel call per
    * row ([[graft.functions.LangPredict]]) instead of ~180 interpreted
    * md5 lambda steps + K interpreted margin aggregates — the ingest
    * hot path (stream_langid: 2.3k → tens of k rows/s). */
  def predictNative(spark: SparkSession, m: LangModel, text: Column): Column =
    graft.functions.LangExpressions.langPredict(spark, kernelOf(m), text)

  /** Gate query (`lang_classifier_gate`): split counts recomputed by the
    * oracle from the md5 id arithmetic over the literal seed size, plus
    * learning-quality invariants — holdout accuracy floors and a
    * beats-majority check (majority class is exactly 1/5 by the planted
    * label arithmetic). The floors sit well below the measured holdout
    * accuracy (≈0.99), so they flag catastrophic regressions without
    * riding measurement noise. */
  def gate(spark: SparkSession, accFloor: Double = 0.9): DataFrame = {
    import spark.implicits._
    val m = fit(spark)
    Seq((m.nTrain, m.nTest, Langs.length.toLong,
      m.accTrain >= accFloor, m.accTest >= accFloor, m.accTest > 1.0 / Langs.length))
      .toDF("n_train", "n_test", "n_langs",
        "acc_train_ok", "acc_test_ok", "beats_majority")
  }

  /** Registered scoring query (`lang_classifier_pred`): the fitted stack
    * applied to the PLANTED holdout — per-doc true label, predicted
    * label, and agreement. Deterministic end-to-end (planted text +
    * integer margins), and the true label column is oracle-recomputable
    * (`doc_id % 5`); the aggregate quality is bounded by the gate. */
  def scoreHoldout(spark: SparkSession): DataFrame = {
    val m = fit(spark)
    seedCorpus(spark)
      .where(DocClassifier.splitBucket(col("doc_id")) >= 90)
      .select(col("doc_id"), col("lang"),
        predictNative(spark, m, col("text")).as("pred"))
      .withColumn("correct", (col("pred") === col("lang")).cast("int"))
      .orderBy(col("doc_id"))
  }
}
