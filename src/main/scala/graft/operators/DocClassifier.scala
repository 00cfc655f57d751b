package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Tables}

/** Trained (not heuristic) document classification — the fastText-shaped
  * linear model every production LLM data pipeline runs as its model-based
  * quality filter (hashing-trick bag-of-words features + logistic
  * regression, trained IN Spark by distributed batch gradient descent).
  * The reference has no trainable component (its scope ends at vector
  * search, readme.md:1-20); this is a checklist-category add on the
  * [[TextAnalysis]] heuristic family: `text_stats`' quality score RATES
  * docs with a fixed rule, this LEARNS a model of that rule from labels —
  * the CCNet-style distillation setup (label a seed set with the rule,
  * train the cheap linear model, apply the model at corpus scale). The
  * supervision here is the in-repo heuristic (`quality ≥ 0.40`, the
  * corpus median) because the synthetic corpus draws every language from
  * one shared vocabulary — there is no organic label to learn — but the
  * trainer is label-agnostic ([[fitOn]] takes any (doc_id, y, text)).
  *
  * Determinism (what makes a trained model oracle-gateable at all):
  *  - Features are the hashing trick (md5 token → bucket, no vocabulary
  *    pass, same [[TextAnalysis.featureHash]] family) — a pure function of
  *    token bytes, identical across batches, partitionings, and reruns.
  *  - Every distributed reduction is over LONG fixed-point values: weights
  *    are quantized to micro-units on the driver before each pass, so the
  *    per-doc margin is an exact integer fold over the doc's sorted bucket
  *    array, and the per-bucket gradient is an exact integer sum
  *    (accumulated as decimal(28,0) so 10¹² docs cannot overflow the
  *    accumulator). Float summation order never touches a result.
  *
  * Scale posture: the cached training frame is (doc_id, y, is_train,
  * buckets[]) — bounded by ~width longs per doc, far smaller than the
  * text it came from. Each GD iteration is ONE narrow scan of that frame
  * plus a map-side-combined groupBy over `width+1` bucket keys (the
  * shuffle carries ≤ (width+1) × partitions rows, never the corpus); the
  * model itself is width+1 doubles on the driver, broadcast back as a
  * literal array. K iterations = K corpus scans, the textbook cost of
  * batch GD — at 100 TB you'd cache the feature frame once (it spills to
  * disk fine) and the per-iteration cost is IO-bound on a frame ~50×
  * smaller than the raw corpus.
  */
object DocClassifier {

  /** Hashed-feature width (buckets 0..width-1; index `width` is the bias). */
  val DefaultWidth = 128
  val DefaultIters = 30
  val DefaultLr = 2.0

  private[operators] val Scale = 1000000L // micro-unit fixed point

  /** md5-derived feature bucket of a token (the engine's portable hash
    * family — same arithmetic as [[TextAnalysis.featureHash]]'s cmsBucket,
    * distinct salt so the two feature spaces are independent). */
  private def bucketOf(token: Column, width: Int): Column =
    conv(substring(md5(concat(lit("clf:"), token)), 1, 15), 16, 10)
      .cast("long") % lit(width.toLong)

  /** Sorted feature-bucket MULTISET of a text column (one element per
    * token, so the margin fold carries token COUNTS — the length signal
    * the quality rule leans on; array length is the doc's token count,
    * bounded by doc length, never corpus-sized). */
  private[graft] def bucketsExpr(text: Column, width: Int): Column =
    array_sort(transform(
      filter(split(lower(text), "\\s+"), t => t =!= ""),
      t => bucketOf(t, width)))

  /** 60-bit md5 id-hash mod 100 — the [[CorpusPipeline.splitAssign]]
    * arithmetic; < 90 → train, else held-out test. */
  private[operators] def splitBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long") % 100

  /** Exact integer micro-margin under driver-quantized weights `wq`
    * (length width+2: hashed tf features, then the length feature nt/100,
    * then bias). The model is the fastText encoding — mean of bucket
    * weights (Σ w_b / nt, integer fold then one integer division) plus an
    * explicit length term — which can represent the heuristic rule's
    * `a·n_tokens + b·(stop/n_tokens) + c` boundary exactly. Every step is
    * integer arithmetic on per-row values: order-fixed, deterministic,
    * overflow-safe (fold ≤ n_tokens · max|wq|). */
  private[operators] def marginQ(buckets: Column, nt: Column, wq: Array[Long]): Column = {
    val wlit = typedlit(wq.toSeq)
    val tfSum = aggregate(buckets, lit(0L),
      (acc, b) => acc + element_at(wlit, b.cast("int") + 1))
    floor(tfSum.cast("double") / nt).cast("long") +
      floor(lit(wq(wq.length - 2)).cast("double") * nt / 100).cast("long") +
      lit(wq(wq.length - 1))
  }

  /** Trained model: weights (length width+2: tf features, length, bias)
    * plus the frozen evaluation counts the gate emits. */
  final case class Model(width: Int, weights: Array[Double],
      nTrain: Long, nTest: Long, nPosTrain: Long, nPosTest: Long,
      accTrain: Double, accTest: Double)

  private val fitCache = Memo[(SparkSession, String, Int, Int), Model](this)

  /** The distillation label: heuristic quality ≥ 0.40 (the corpus
    * median), via the same decimal-scaled ×10⁴ long the quality-decile
    * query uses (so label arithmetic is integer-exact and the oracle can
    * recompute it). */
  private[graft] def labelExpr(spark: SparkSession): Column =
    ((round(TextAnalysis.qualityExpr(spark), 4).cast("decimal(9,4)") * 10000)
      .cast("long") >= 4000).cast("int")

  /** Train the quality classifier on the heuristic-labeled `documents`
    * table and evaluate on the deterministic 10% id-hash holdout.
    * Memoized per (session, dir, width, iters) — the gate and any scoring
    * consumer share one fit. */
  def fit(spark: SparkSession, dir: String, width: Int = DefaultWidth,
      iters: Int = DefaultIters, lr: Double = DefaultLr): Model =
    fitCache((spark, dir, width, iters))(
      fitOn(Tables.documents(spark, dir).select(
        col("doc_id"), labelExpr(spark).as("y"), col("text")), width, iters, lr))

  /** Frame form: train on any (doc_id, y, text) corpus. */
  def fitOn(labeled: DataFrame, width: Int = DefaultWidth,
      iters: Int = DefaultIters, lr: Double = DefaultLr): Model = {
    val feat = labeled
      .select(col("doc_id").cast("long").as("doc_id"), col("y").cast("long").as("y"),
        bucketsExpr(col("text"), width).as("buckets"),
        (splitBucket(col("doc_id")) < 90).as("is_train"))
      .where(size(col("buckets")) > 0)
      .withColumn("nt", size(col("buckets")).cast("long"))
      .cache()
    try fitOnBuckets(feat, width, iters, lr)
    finally feat.unpersist()
  }

  /** The distributed fixed-point GD core over a PRE-BUILT (and
    * caller-cached) feature frame `(doc_id, y, is_train, buckets, nt)` —
    * shared by the quality classifier and [[LangClassifier]]'s
    * one-vs-rest fits, which reuse one cached frame across K binary
    * problems (only `y` differs per class). All determinism invariants
    * (driver-quantized weights, integer margins, decimal gradient
    * accumulators) live here. */
  /** `lengthFeature = false` freezes the explicit length term at 0 — for
    * problems where nt is (near-)constant it is collinear with the bias,
    * and in a one-vs-rest stack the per-class (bias + w_len·nt) constants
    * then drift apart faster than the tf signal, collapsing the argmax to
    * one class (the LangClassifier case). */
  private[operators] def fitOnBuckets(feat: DataFrame, width: Int,
      iters: Int, lr: Double, lengthFeature: Boolean = true): Model = {
    {
      val counts = feat.groupBy(col("is_train"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
      val (nTrain, nPosTrain) = counts.getOrElse(true, (0L, 0L))
      val (nTest, nPosTest) = counts.getOrElse(false, (0L, 0L))
      require(nTrain > 0, "empty training split")

      // gradient terms ride at an extra ×1000 over the micro residual so the
      // per-token integer division by nt keeps 3 digits; driver rescales
      val w = Array.fill(width + 2)(0.0)
      for (_ <- 1 to iters) {
        val wq = w.map(x => math.floor(x * Scale + 0.5).toLong)
        val mq = marginQ(col("buckets"), col("nt"), wq)
        val p = lit(1.0) / (lit(1.0) + exp(-mq.cast("double") / Scale.toDouble))
        val rq = floor(p * Scale + lit(0.5)).cast("long") - col("y") * lit(Scale)
        // per-token tf term rq·1000/nt, plus the length and bias terms as
        // pseudo-buckets width / width+1 — ONE keyed agg carries the whole
        // gradient; decimal accumulator keeps the sum exact at any n
        val gtok = floor(col("rq").cast("double") * 1000 / col("nt")).cast("long")
        val glen = floor(col("rq").cast("double") * col("nt") / 100).cast("long")
        val grads = feat.where(col("is_train"))
          .withColumn("rq", rq)
          .select(explode(concat(
            transform(col("buckets"), b => struct(b.as("bucket"), gtok.as("gv"))),
            array(struct(lit(width.toLong).as("bucket"), glen.as("gv")),
              struct(lit(width + 1L).as("bucket"), col("rq").as("gv"))))).as("t"))
          .groupBy(col("t.bucket")).agg(sum(col("t.gv").cast("decimal(28,0)")).as("g"))
          .collect()
        for (r <- grads) {
          val b = r.getLong(0).toInt
          val sc = if (b < width) Scale.toDouble * 1000 else Scale.toDouble
          val g = r.getDecimal(1).longValueExact().toDouble / sc
          if (lengthFeature || b != width) w(b) -= lr * g / nTrain
        }
      }

      val wq = w.map(x => math.floor(x * Scale + 0.5).toLong)
      val correct =
        ((marginQ(col("buckets"), col("nt"), wq) >= 0) === (col("y") === 1)).cast("long")
      val acc = feat.groupBy(col("is_train"))
        .agg(count(lit(1)).as("n"), sum(correct).as("ok"))
        .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
      val accOf = (k: Boolean) => acc.get(k).map { case (n, ok) => ok.toDouble / n }.getOrElse(0.0)
      Model(width, w, nTrain, nTest, nPosTrain, nPosTest, accOf(true), accOf(false))
    }
  }

  /** Gate query: the SQL-recomputable facts of the split/labels plus
    * learning-quality flags (holdout accuracy floors and a
    * beats-the-majority-class check — the assertion that training actually
    * extracted signal, not just the prior). Oracle recomputes the counts
    * from the same md5 arithmetic and expects every flag TRUE. */
  def classifierGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = fit(spark, dir)
    val majorityTest =
      if (m.nTest == 0) 0.0
      else math.max(m.nPosTest, m.nTest - m.nPosTest).toDouble / m.nTest
    Seq((m.nTrain, m.nTest, m.nPosTrain, m.nPosTest,
      m.accTrain >= 0.90, m.accTest >= 0.85, m.accTest > majorityTest))
      .toDF("n_train", "n_test", "n_pos_train", "n_pos_test",
        "acc_train_ok", "acc_test_ok", "beats_majority")
  }

  /** The keep/drop decision of a trained model over a raw `text` column —
    * ONE stateless, deterministic expression (hash buckets → integer
    * margin fold → sign), so the ingest-side streaming filter and the
    * batch scorer share the arithmetic verbatim (bit-identity is
    * spec-asserted, the streamingQualityFilter pattern). */
  def keepExpr(m: Model, text: Column): Column = {
    val wq = m.weights.map(x => math.floor(x * Scale + 0.5).toLong)
    // bind the bucket array once ([[Multimodal.bindOnce]]): the three
    // references below (guard, count, margin aggregate) otherwise each
    // re-run the whole split+md5 feature pass per row at ingest
    Multimodal.bindOnce(bucketsExpr(text, m.width)) { buckets =>
      when(size(buckets) > 0,
        (marginQ(buckets, size(buckets).cast("long"), wq) >= 0).cast("int"))
        .otherwise(lit(0))
    }
  }

  /** Per-doc scores from the trained model over the held-out split — the
    * filter a pipeline actually applies downstream. Margins are exact
    * integer micro-units (hence reproducible); the keep decision is
    * margin ≥ 0. Oracle-checkable columns only (id, label, split facts);
    * the learned margin itself is engine-internal, so the query emits the
    * deterministic DECISION against the known label (right/wrong), which
    * the gate's accuracy floor already bounds in aggregate. */
  def scoreHoldout(spark: SparkSession, dir: String): DataFrame = {
    val m = fit(spark, dir)
    val wq = m.weights.map(x => math.floor(x * Scale + 0.5).toLong)
    Tables.documents(spark, dir)
      .select(col("doc_id"), labelExpr(spark).as("y"),
        bucketsExpr(col("text"), m.width).as("buckets"))
      .where(splitBucket(col("doc_id")) >= 90 && size(col("buckets")) > 0)
      .select(col("doc_id"), col("y"),
        (marginQ(col("buckets"), size(col("buckets")).cast("long"), wq) >= 0)
          .cast("int").as("pred"))
      .orderBy(col("doc_id"))
  }
}
