package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Tables}

/** Corpus-level pipeline operators (SURVEY.md §2b north star): reproducible
  * sampling and the composed clean-corpus selection a training-data pipeline
  * runs before tokenization. Both are single-pass, shuffle-free except the
  * final orderBy, and oracle-checkable (no RNG state — determinism comes
  * from content hashes).
  */
object CorpusPipeline {

  /** Deterministic hash-based sampling: keep a doc iff
    * md5(decimal doc_id string) sorts below the hex threshold prefix.
    * Lexicographic compare of uniform hex strings gives
    * P(keep) = int(prefix,16) / 16^len(prefix) (default "1a" → 26/256 ≈
    * 10.2%). Unlike `df.sample`, the choice is a pure function of the id:
    * identical across engines, runs, partitionings, and cluster sizes — the
    * property a reproducible 100 TB pipeline actually needs (rerunning a
    * failed stage must not resample). */
  def sampleByHash(spark: SparkSession, dir: String, thresholdPrefix: String = "1a"): DataFrame =
    Tables.documents(spark, dir)
      .where(md5(col("doc_id").cast("string")) < thresholdPrefix)
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** DSIR importance weight (Data Selection via Importance Resampling, Xie
    * et al. 2023, arXiv:2302.03169) — score every doc by how much more
    * likely its hashed n-gram features are under a TARGET distribution
    * (here: the corpus's `targetLang` docs, standing in for the
    * high-quality reference corpus) than under the raw corpus:
    * logw = Σ_b count_b(doc) · ln(p̂_target(b) / p̂_raw(b)) over `buckets`
    * hashed unigram+bigram buckets with add-1 smoothing. Docs are then
    * resampled ∝ exp(logw) downstream; the weight itself is the method's
    * entire data-dependence, so it is what the oracle checks.
    *
    * Determinism: bucket ids are md5-derived (engine-identical), per-bucket
    * log-ratios are doubles of INTEGER counts rounded to 6 dp, and the
    * per-doc fold multiplies them by integer counts as DECIMAL — exact and
    * order-independent (the lm_perplexity contract). Scale: the model is
    * `buckets` rows however large the corpus is → broadcast; the doc side
    * is one explode + two keyed aggregations riding the same shuffle
    * pattern as every other text op. */
  def dsirWeight(spark: SparkSession, dir: String, buckets: Int = 1024,
      targetLang: String = "en"): DataFrame =
    dsirWeightOf(spark, Tables.documents(spark, dir), buckets, targetLang)

  /** Frame form over any (doc_id, lang, text) — DedupScaleBench sweeps this. */
  def dsirWeightOf(spark: SparkSession, documents: DataFrame, buckets: Int,
      targetLang: String): DataFrame = {
    val tk = documents
      .select(col("doc_id"), col("lang"), split(lower(col("text")), "\\s+").as("tk"))
    val uni = tk.select(col("doc_id"), col("lang"), explode(col("tk")).as("f"))
      .where(col("f") =!= "")
    val bi = tk.where(size(col("tk")) >= 2)
      .select(col("doc_id"), col("lang"), explode(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1)))).as("f"))
    val feats = uni.unionByName(bi)
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % buckets).as("b"))
    // ONE aggregation over the exploded features; every downstream frame is
    // a re-aggregation of this (doc, lang, bucket)-grained frame, so the
    // consumers share a single identical exchange subtree and Spark's
    // ReusedExchange turns what was 4 tokenize+md5 passes over the corpus
    // (8 parquet scans in the physical plan) into 1. The raw/target bucket
    // counts fold into one conditional aggregation (a `where lang = target`
    // branch would push the filter below the shared exchange and break the
    // reuse); all derived counts are integer sums of integer counts — exact.
    val dcl = feats.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
    val dc = dcl.select(col("doc_id"), col("b"), col("c"))
    val bl = dcl.groupBy(col("b")).agg(sum(col("c")).as("cr"),
      sum(when(col("lang") === targetLang, col("c")).otherwise(lit(0L))).as("ct"))
    val totals = bl.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val model = bl.crossJoin(broadcast(totals))
      .select(col("b"),
        round(log(((coalesce(col("ct"), lit(0L)) + 1.0) / (col("tt") + lit(buckets))) /
                  ((col("cr") + 1.0) / (col("tr") + lit(buckets)))), 6)
          .cast("decimal(18,6)").as("lr"))
    dc.join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"), sum(col("c") * col("lr")).as("w"))
      // round the exact DECIMAL, then cast: w is a multiple of 10⁻⁶, so
      // ~1% of docs land exactly on the .00005 boundary where double
      // rounding diverges between engines (Spark rounds the shortest
      // decimal repr, DuckDB the binary value); decimal rounding is
      // half-away-from-zero in both
      .select(col("doc_id"), col("n_feats"), round(col("w"), 4).cast("double").as("logw"))
      .orderBy(col("doc_id"))
  }

  /** Per-language balanced subsample: the `perLang` docs with the smallest
    * md5(doc_id) in each language — the "equalize strata before training"
    * step. Like [[sampleByHash]], membership is a pure function of the id
    * (stable under reruns/partitioning); the rank is one shuffle by lang +
    * a per-stratum window, never a global sort of the corpus. */
  def sampleStratified(spark: SparkSession, dir: String, perLang: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"))
      .withColumn("stratum_rank", row_number().over(w).cast("long"))
      .where(col("stratum_rank") <= perLang)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("stratum_rank"))
      .orderBy(col("lang"), col("stratum_rank"))
  }

  /** The default mixture config (source index mod 4 → rate) and the
    * id-hash uniformization — shared by [[sampleMixture]] and the composed
    * [[pipelineFull]] so the two cannot drift. */
  private[operators] def mixtureRateExpr: org.apache.spark.sql.Column = {
    // a digitless source name must land in bucket 0, not throw under ANSI
    // casting ('' -> int) or null the rate (silently dropping the source).
    // The cast is bounded to the rightmost 8 digits BEFORE the int cast:
    // mod 4 depends only on the last two decimal digits (100 ≡ 0 mod 4),
    // so the rate is unchanged for every in-range source, while a 20-digit
    // source id stays defined instead of engine-diverging (non-ANSI Spark
    // nulls the cast and silently drops the doc; DuckDB's ::INT throws)
    element_at(array(lit(0.1), lit(0.3), lit(0.6), lit(1.0)), sourceIdxExpr + 1)
  }

  /** Source index mod 4 off the source name's digits — the shared
    * "which mixture bucket is this source" key (see [[mixtureRateExpr]]'s
    * ANSI-safety note on the 8-digit bound). */
  private[operators] def sourceIdxExpr: org.apache.spark.sql.Column = {
    val digits = regexp_extract(col("source"), "[0-9]+", 0)
    val tail = digits.substr(greatest(length(digits) - 7, lit(1)), lit(8))
    when(digits === "", lit(0)).otherwise(tail.cast("int") % 4)
  }

  private[operators] def idHashU: org.apache.spark.sql.Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("double") / 1152921504606846976.0

  /** Domain capping — no single source may contribute more than `cap`
    * docs (the anti-domination rule every web corpus applies before
    * mixing: one mirror-heavy domain must not swamp the run). Which docs
    * survive is decided by id-hash order, NOT arrival order, so the kept
    * set is a pure function of (doc_id, source) — reproducible across
    * engines, reruns, and partitionings, like every sampler here.
    * Scale: one window partitioned by source; the per-key sort is the
    * same per-domain shuffle the stratified sampler already pays, and a
    * hot domain costs one partition's sort, never a global one. */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("keep_rank", row_number().over(w).cast("long"))
      .where(col("keep_rank") <= cap)
      .orderBy(col("source"), col("keep_rank"))
  }

  /** Multi-epoch upsampling — materialize the "high-quality sources
    * repeat more epochs" schedule (the Wikipedia-×N rule): each doc is
    * emitted `n_copies` times with a distinct `copy_idx`, where n_copies
    * = its source's mixture bucket + 1 (1..4 — the same config key
    * [[sampleMixture]] rates ride, so mix and epoch schedule stay
    * consistent). A pure narrow explode — no shuffle, output rows =
    * Σ n_copies; each copy carries a distinct deterministic shuffle key
    * so downstream epoch shuffles don't collide copies. */
  def epochUpsample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), (sourceIdxExpr + 1).cast("long").as("n_copies"))
      .select(col("doc_id"), col("source"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
      .withColumn("shuffle_key",
        md5(concat(col("doc_id").cast("string"), lit(":"), col("copy_idx").cast("string"))))
      .orderBy(col("doc_id"), col("copy_idx"))

  /** Mixture-weighted deterministic sampling — materialize a training mix
    * from per-source target rates (the "web 30% / code 70%" data-mixing
    * config every LLM run starts from). A doc is kept iff its id-hash,
    * mapped uniformly into [0,1), falls below its source's rate; like
    * [[sampleByHash]] the choice is a pure function of (doc_id, source), so
    * the mix is reproducible across engines, reruns, and partitionings.
    * The default config maps source index mod 4 → {0.1, 0.3, 0.6, 1.0},
    * standing in for an explicit per-source table; rates arrive as an
    * EXPRESSION (no join), so the whole op is one narrow scan-speed filter.
    * Uniformization: first 15 md5 hex digits as a 60-bit integer / 2^60 —
    * the same arithmetic as the KMV sketch, bit-identical in DuckDB. */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("target_rate", mixtureRateExpr)
      .where(idHashU < col("target_rate"))
      .select(col("doc_id"), col("source"), col("target_rate"))
      .orderBy(col("doc_id"))

  /** Temperature-scaled language resampling — the XLM-R §3.1 / mT5 rule:
    * sample languages with probability q_l ∝ p_l^α (α = 1/T; T = 2 here,
    * so q_l ∝ √p_l), flattening the head language and boosting the tail
    * so low-resource languages aren't drowned at training time. A target
    * corpus of M = N div 2 docs gives per-language keep rates
    * r_l = M·q_l/n_l, capped at 1 (rates > 1 are the upsampling regime —
    * [[epochUpsample]]'s job). ALL cross-engine-sensitive arithmetic is
    * integer or exactly-rounded: the temperature weight is
    * w_l = floor(sqrt(n_l·10⁶)) — IEEE sqrt is correctly rounded, so
    * both engines floor the SAME double (exact while n_l·10⁶ < 2⁵³,
    * i.e. ~9·10⁹ docs per language — comfortably past any real corpus);
    * w_l sums exactly as integers (no float fold-order hazard); the rate
    * is one decimal(38) integral division; and the keep decision is the
    * [[sampleByHash]] 60-bit id-hash against rate_micro/10⁶. One
    * language-keyed aggregation (a handful of rows) broadcast back over
    * the corpus — scan-speed at any size. */
  def temperatureRates(spark: SparkSession, dir: String): DataFrame =
    temperatureRatesOf(Tables.documents(spark, dir))

  /** [[temperatureRates]] over an arbitrary frame carrying `lang` — the
    * composed pipeline computes its mix over the CLEANED survivor set
    * (rates belong to the corpus you train on, not the raw crawl). */
  def temperatureRatesOf(docs: DataFrame): DataFrame = {
    val per = docs
      .groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .withColumn("w_l",
        floor(sqrt((col("n_l") * 1000000L).cast("double"))).cast("long"))
    val tot = per.agg(sum(col("n_l")).cast("long").as("n_total"),
      sum(col("w_l")).cast("long").as("w_total"))
    per.crossJoin(broadcast(tot))
      .withColumn("rate_micro", least(lit(1000000L),
        expr("((CAST(n_total AS DECIMAL(38,0)) div 2) * w_l * 1000000) " +
          "div (CAST(n_l AS DECIMAL(38,0)) * w_total)").cast("long")))
      .select(col("lang"), col("n_l"), col("rate_micro"))
  }

  /** The registered materialization of [[temperatureRates]]: broadcast
    * the per-language rate table back over the corpus and keep each doc
    * by the 60-bit id-hash decision — scan-speed at any size. The same
    * frozen rate frame feeds
    * [[graft.streaming.StreamingOps.streamingTemperatureSample]]. */
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .join(broadcast(temperatureRates(spark, dir)), "lang")
      .where(idHashU < col("rate_micro").cast("double") / 1000000.0)
      .select(col("doc_id"), col("lang"), col("n_l"), col("rate_micro"))
      .orderBy(col("doc_id"))
  }

  /** The WEB-CRAWL composition — stage zero to training mix in one plan,
    * each stage the verified single-op machinery: (0) canonical-URL dedup
    * ([[canonicalizeUrl]] over the [[syntheticUrl]] fixture, min doc id
    * per canonical page survives — duplicate surface spellings never
    * reach content processing); (1) benchmark n-gram decontamination
    * ([[decontaminate]] — contaminated train docs and the benchmark
    * slice itself both drop); (2) temperature resampling with rates
    * computed over the CLEANED survivors ([[temperatureRatesOf]] — the
    * mix belongs to the corpus you train on, not the raw crawl). Scale
    * shape: three id-keyed semi-joins (URL survivors, clean set) plus the
    * broadcast rate table — every stage is the single-op plan, nothing
    * new shuffles. */
  def pipelineWeb(spark: SparkSession, dir: String): DataFrame = {
    val surv = webCleanSurvivors(spark, dir)
    sampleFromSurvivors(surv)
  }

  /** The (doc_id, lang) frame surviving [[pipelineWeb]]'s stages 0–1 —
    * URL-canonical dedup then decontamination — factored out so the
    * STREAMING twin's frozen rate table
    * ([[graft.streaming.StreamingOps.streamingWebIngest]]) is computed
    * over exactly this frame, never a re-derivation that could drift.
    *
    * MEMOIZED + persisted per (session, dir): the rates subquery and the
    * main sampling frame both consume it, and without the persist the
    * URL-dedup + decontamination subplan (two corpus n-gram explodes +
    * a groupBy) executes TWICE — once under the broadcast boundary, once
    * in the main join (Catalyst does not share subtrees across jobs;
    * measured 4.7 s → ~half on the full bench). The cached frame is two
    * narrow columns (doc_id, lang), corpus-row-bounded — the lexTermCounts
    * shape, not a corpus blow-up. Released with the memos
    * ([[graft.core.Memo]]). */
  private val webSurvCache = Memo[(SparkSession, String), DataFrame](this, _.unpersist())

  /** Pinned pack-sequences inputs MEMOIZED by canonicalized input lineage
    * (the webSurvCache pattern): repeated packs of the same frame in one
    * session previously pinned a fresh MEMORY_AND_DISK copy per invocation
    * with no reuse — N bench iterations held N identical copies until
    * family-end eviction. One pin per distinct input, released with the
    * rest of the memos. */
  private val pinnedSortCache = Memo[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    org.apache.spark.rdd.RDD[(Long, Long)]](this, _.unpersist(blocking = false))

  private[graft] def webCleanSurvivors(spark: SparkSession, dir: String): DataFrame =
    webSurvCache((spark, dir)) {
      val docs = Tables.documents(spark, dir)
      val urlKept = docs
        .select(col("doc_id"), canonicalizeUrl(syntheticUrl(col("doc_id"))).as("curl"))
        .groupBy(col("curl")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val clean = decontaminate(spark, dir).where(col("contaminated") === 0)
        .select(col("doc_id"))
      docs.join(urlKept, "doc_id").join(clean, "doc_id")
        .select(col("doc_id"), col("lang"))
        .persist()
    }

  /** [[pipelineWeb]]'s final stage over a survivor frame: temperature
    * rates computed on the survivors, broadcast back, id-hash keep. */
  private def sampleFromSurvivors(surv: DataFrame): DataFrame = {
    surv.join(broadcast(temperatureRatesOf(surv)), "lang")
      .where(idHashU < col("rate_micro").cast("double") / 1000000.0)
      .select(col("doc_id"), col("lang"), col("rate_micro"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget planning — the sizing pass before a training run: per
    * source, exact token mass, its mixture weight, and the slice of a
    * fixed token budget (10M here) allocated proportionally to the
    * mixture-WEIGHTED mass, plus the implied epoch multiplier. All the
    * cross-engine-sensitive arithmetic is integer: weighted mass =
    * n_tokens·rate_micro div 10⁶ and the allocation = budget·weighted div
    * total both ride decimal(38) integral division (exact floor in both
    * engines); only the two audit ratios are (single-division,
    * IEEE-deterministic) doubles. One keyed aggregation — the shuffle
    * carries one row per source — then a 1-row broadcast of the total:
    * nothing here grows with the corpus. */
  def tokenBudget(spark: SparkSession, dir: String, budget: Long = 10000000L): DataFrame = {
    val rateU = element_at(
      array(lit(100000L), lit(300000L), lit(600000L), lit(1000000L)),
      sourceIdxExpr + 1)
    val perSource = Tables.documents(spark, dir)
      .select(col("source"),
        size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .cast("long").as("nt"),
        rateU.as("rate_u"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        min(col("rate_u")).as("rate_u"))
      .withColumn("weighted_tokens",
        expr("(CAST(n_tokens AS DECIMAL(38,0)) * rate_u) div 1000000"))
    val total = perSource.agg(sum(col("weighted_tokens")).as("tw"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("rate_u") / 1000000.0, 4).as("rate"),
        col("weighted_tokens"),
        expr(s"(CAST($budget AS DECIMAL(38,0)) * weighted_tokens) div tw")
          .as("alloc_tokens"),
        round(col("weighted_tokens").cast("double") / col("tw"), 4).as("share"))
      .withColumn("epochs",
        round(col("alloc_tokens").cast("double") / col("n_tokens"), 4))
      .orderBy(col("source"))
  }

  /** Deterministic train/val/test split — holdout creation as a pure
    * function of the doc id (the [[sampleByHash]] idiom: same doc lands in
    * the same split under any partitioning, rerun, or engine). The 60-bit
    * id-hash mod 100 buckets map 0-97→train, 98→val, 99→test; output is
    * the per-(split, lang) audit counts (the assignment itself is the
    * expression — join-free, scan-speed). */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    Tables.documents(spark, dir)
      .withColumn("split",
        when(bucket < 98, "train").when(bucket === 98, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .orderBy(col("split"), col("lang"))
  }

  /** Leakage-safe train/val/test split: the split unit is the NEAR-DUP
    * CLUSTER, not the document. Hashing doc ids independently (the
    * [[splitAssign]] rule) lets two near-identical docs land in train and
    * test — exactly the evaluation leak decontamination exists to prevent,
    * but arising from WITHIN the corpus. Here every doc inherits its
    * cluster's canonical id (the shared CC survivor labels,
    * [[Dedup.dedupSurvivors]]) and the 60-bit md5 split hash is taken over
    * THAT, so a cluster is atomic across splits by construction. Emits
    * per-split doc/cluster counts plus two computed-NOT-asserted global
    * facts: clusters straddling splits under this rule (must be 0) and
    * under the naive doc-id rule (the leak count this op closes). Scale
    * shape: the survivor labels are the dedup family's cached pass; the
    * split itself is one narrow hash + two keyed aggregations. */
  def splitLeakageSafe(spark: SparkSession, dir: String): DataFrame = {
    def bucketOf(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long") % 100
    def splitOf(b: Column): Column =
      when(b < 90, "train").when(b < 95, "val").otherwise("test")
    val base = Tables.documents(spark, dir).select(col("doc_id"))
      .join(graft.operators.Dedup.dedupSurvivors(spark, dir)
        .select(col("doc_id"), col("canonical_id")), "doc_id")
      .withColumn("split", splitOf(bucketOf(col("canonical_id"))))
      .withColumn("naive_split", splitOf(bucketOf(col("doc_id"))))
    val leak = base.groupBy(col("canonical_id"))
      .agg(countDistinct(col("split")).as("ns"),
        countDistinct(col("naive_split")).as("nn"))
      .agg(sum(when(col("ns") > 1, 1).otherwise(0)).cast("long").as("n_leaky_clusters"),
        sum(when(col("nn") > 1, 1).otherwise(0)).cast("long").as("n_leaky_naive"))
    base.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canonical_id")).as("n_clusters"))
      .crossJoin(broadcast(leak))
      .orderBy(col("split"))
  }

  /** Sharded training-output manifest (webdataset-style): deterministic
    * shard assignment (60-bit md5 id-hash mod `nShards` — the same
    * arithmetic as [[sampleByHash]], stable under reruns/partitioning),
    * per-shard doc/char counts and an order-independent content checksum
    * (sum of 32-bit md5 prefixes — format_roundtrip's trick). This is the
    * writer-side bookkeeping that makes a 100 TB sharded export verifiable
    * shard-by-shard: one keyed aggregation, shuffle carries nShards ×
    * partitions partial rows, never the corpus. */
  def shardManifest(spark: SparkSession, dir: String, nShards: Int = 16): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .withColumn("shard",
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("content_sum"))
      .orderBy(col("shard"))

  /** Mixture-health diagnostic — per SOURCE, the language-distribution
    * entropy (how multilingual each source really is) plus its language
    * count and dominant-language share: the pre-mix audit that catches a
    * "multilingual" source that is 99% one language before temperature
    * sampling trusts its per-language counts. Arithmetic: per-(source,
    * lang) counts are exact integers; each entropy term is the micro-nat
    * long floor(-p·ln(p)·10⁶ + 0.5) (the token_entropy contract — ln the
    * only transcendental, half-up rounding) summed exactly; the dominant
    * share is a single-division double rounded 4dp. Scale shape: one
    * (source, lang) aggregation — both cardinalities tiny at any corpus
    * size — then a source-keyed rollup; nothing grows with the corpus
    * beyond the first map-side-combined count. */
  def sourceLangEntropy(spark: SparkSession, dir: String): DataFrame = {
    val sl = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    val tot = sl.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("n")
    sl.join(tot, "source")
      .withColumn("term", floor(-p * log(p) * 1e6 + 0.5).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"), max(col("n")).as("n_docs"),
        sum(col("term")).as("entropy_unats"),
        round(max(col("c")).cast("double") / max(col("n")), 4).as("top_share"))
      .orderBy(col("source"))
  }

  /** File-compaction PLANNING — the small-files answer every 100 TB table
    * needs (the Delta OPTIMIZE / Iceberg rewrite-data-files shape): given
    * the shard manifest as the file inventory, coalesce CONTIGUOUS
    * (id-ordered) undersized files into merge groups of ~`targetBytes`
    * via the start-offset rule (group = start_byte div target over the
    * running byte sum), emitting each group's file span, file count, byte
    * total and fill ratio. Contiguity is the real-world constraint —
    * compaction rewrites within a partition's sort order so data-skipping
    * stats stay tight — and it is also what keeps the plan ONE window
    * pass instead of NP-hard bin packing. Distinct from [[packSequences]]
    * (token-level TRAINING sequences over the corpus): this is FILE-level
    * layout maintenance over the MANIFEST — one row per file, so the
    * global-order window is a metadata pass, not a corpus scan; at 100 TB
    * "millions of files" is still a single-partition-trivial frame, and
    * the byte arithmetic is integral division end-to-end (exact in both
    * engines at any scale), with only the audit fill ratio a
    * single-division double. */
  def shardCompaction(spark: SparkSession, dir: String, nFiles: Int = 256,
      targetBytes: Long = 8000L): DataFrame = {
    val files = shardManifest(spark, dir, nFiles)
      .select(col("shard").as("file_id"), col("total_chars").as("bytes"))
    // Unpartitioned Window is INTENTIONAL (Spark logs a single-partition
    // warning): the running-byte cursor is inherently sequential over the
    // FILE MANIFEST — metadata, one row per shard file, millions of rows at
    // the extreme — never over data rows. A partitioned cumsum would break
    // the bin-packing contiguity the operator exists to produce.
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("file_id"))
    files
      .withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("grp", expr(s"(cum - bytes) div $targetBytes"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_files"),
        min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file"),
        sum(col("bytes")).as("bytes"))
      .withColumn("fill", round(col("bytes").cast("double") / targetBytes, 4))
      .orderBy(col("grp"))
  }

  /** The END-TO-END training-data prep pass — the composition a user of
    * this engine actually ships: clean (lang + quality + exact-dedup
    * survivorship) → mixture-weighted sampling → sequence packing of the
    * surviving token stream. Every stage reuses the verified single-op
    * machinery ([[cleanCorpus]]'s one-scan plan, [[sampleMixture]]'s
    * shared rate/hash expressions, [[packSequencesOf]]'s two-pass prefix
    * sum), and the oracle embeds the stages' own oracle SQL — so the
    * composed result is hash-checked end-to-end. */
  def pipelineFull(spark: SparkSession, dir: String, budget: Long = 2048L): DataFrame = {
    val kept = cleanCorpus(spark, dir).select(col("doc_id"), col("n_tokens"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .where(idHashU < mixtureRateExpr)
      .select(col("doc_id"), col("n_tokens"))
    packSequencesOf(spark, kept, budget)
  }

  /** The composed training-data cleaning pass: predicted-language filter +
    * quality-score floor + exact-dedup survivorship. Reuses the single-op
    * EXPRESSIONS ([[TextAnalysis.qualityExpr]]/[[TextAnalysis.predLangExpr]],
    * the same normalization/hash as [[Dedup.dedupExact]]) so the verified
    * semantics compose without re-implementation — but as ONE scan + one
    * survivorship self-join, not three scans glued by joins (measured 3.5x
    * faster than the naive composition; the scan-per-op shape also triples
    * I/O at 100 TB). Survivorship = doc_id equals min(doc_id) of its
    * content-hash group, checked by the (doc_id, content_hash) equi-join. */
  def cleanCorpus(spark: SparkSession, dir: String, lang: String = "en",
      minQuality: Double = 0.5): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val enriched = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.nTokensExpr.cast("long").as("n_tokens"),
      round(TextAnalysis.qualityExpr(spark), 4).as("quality_score"),
      TextAnalysis.predLangExpr(spark).as("pred_lang"),
      md5(norm).as("content_hash"))
    // survivorship = min-by-doc_id struct per content-hash group. The agg is
    // ALSO the evaluation barrier: without it, predicate pushdown would
    // substitute the lambda-heavy pred_lang/quality expressions into an
    // interpreted Filter below the projection and evaluate them twice —
    // measured 13x slower than the codegen'd single projection here. (All
    // members of a hash group share the normalized text, so filtering after
    // survivorship is semantically identical to the decomposed-ops order.)
    enriched
      .groupBy(col("content_hash"))
      .agg(min(struct(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("pred_lang"))).as("keep"))
      .select(col("keep.doc_id").as("doc_id"), col("keep.n_tokens").as("n_tokens"),
        col("keep.quality_score").as("quality_score"), col("keep.pred_lang").as("pred_lang"))
      .where(col("pred_lang") === lang && col("quality_score") >= minQuality)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic global corpus shuffle — the "shuffle once per epoch"
    * step before training, as a pure function of content rather than RNG
    * state: position = rank of md5(doc_id) (ties by doc_id). Identical
    * across engines, reruns, partitionings, and cluster sizes, so a
    * restarted job resumes the SAME epoch order. Distributed-rank shape
    * (range repartition + zipWithIndex), never a no-partition window. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
    val parts = math.max(1, hashed.rdd.getNumPartitions)
    hashed
      .repartitionByRange(parts, col("h"), col("doc_id"))
      .sortWithinPartitions(col("h"), col("doc_id"))
      .as[(Long, String)].rdd.zipWithIndex()
      .map { case ((id, _), i) => (id, i) }
      .toDF("doc_id", "shuffle_pos")
      .orderBy(col("doc_id"))
  }

  /** Context-length histogram in power-of-2 token buckets — the numbers a
    * sequence-length curriculum / packing budget is tuned from. One keyed
    * integer aggregation over a narrow scan. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = size(Dedup.tokens(col("text"))).cast("long")
    // bucket = 2^(bitLength(n)-1) via the binary-string length — an exact
    // integer path in both engines (floor(log2(2^k)) can land at k-1 when
    // the float log rounds low, splitting the power-of-two boundary docs
    // between engines)
    Tables.documents(spark, dir)
      .select(nTokens.as("n"), greatest(nTokens, lit(1L)).as("g"))
      .select(col("n"),
        expr("cast(pow(2, length(bin(g)) - 1) as bigint)").as("bucket_min"))
      .groupBy(col("bucket_min"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"))
      .orderBy(col("bucket_min"))
  }

  /** Sequence packing — the step between a cleaned corpus and a training
    * run: concatenate documents in doc_id order and cut the token stream
    * into fixed-`budget` training sequences (GPT-style "concat then
    * chunk"); each doc is assigned the sequence its FIRST token lands in.
    * The global prefix sum is computed WITHOUT a no-partition window:
    * range-repartition by doc_id, per-partition token totals to the driver
    * (one long per partition — never the rows), then a second pass adds
    * each partition's base offset. Deterministic for any partition count. */
  def packSequences(spark: SparkSession, dir: String, budget: Long = 2048L): DataFrame =
    packSequencesOf(spark,
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tokens")),
      budget)

  /** Frame form over any (doc_id, n_tokens) — the composed pipeline packs
    * its SURVIVING mix through the same two-pass prefix sum. */
  def packSequencesOf(spark: SparkSession, toks: DataFrame, budget: Long): DataFrame = {
    import spark.implicits._
    val parts = math.max(1, toks.rdd.getNumPartitions)
    // the prefix sum is two passes by nature (per-partition totals, then
    // the offsets); PIN the sorted (doc_id, n_tokens) rows for the second
    // pass — without it the whole UPSTREAM (for pipeline_full: the
    // cleanCorpus scan + survivorship join + mixture filter) executes once
    // per pass. Two longs per surviving doc — the lexTermCounts size
    // class; released with the memos.
    val sorted = pinnedSortCache((spark, toks.queryExecution.analyzed.canonicalized))(
      toks
        .repartitionByRange(parts, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .as[(Long, Long)].rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val partTotals = sorted
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.map(_._2).sum)) }
      .collect().sortBy(_._1).map(_._2)
    val bases = spark.sparkContext.broadcast(partTotals.scanLeft(0L)(_ + _))
    sorted
      .mapPartitionsWithIndex { case (i, it) =>
        var cum = bases.value(i)
        it.map { case (id, n) =>
          val start = cum; cum += n
          (id, n, start, start / budget, start % budget)
        }
      }
      .toDF("doc_id", "n_tokens", "start_offset", "seq_id", "offset_in_seq")
      .orderBy(col("doc_id"))
  }

  /** The corpus data card — the one-row summary every released training
    * set ships with (doc/source/language counts, token volume, length
    * envelope). One full scan with complete partial aggregation: every
    * aggregate here (counts, sums, min/max, the two distinct counts over
    * low-cardinality columns) combines map-side, so the exchange carries
    * one row per task regardless of corpus size — the cheapest possible
    * 100 TB query shape. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val tk = split(lower(col("text")), "\\s+")
    Tables.documents(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(size(tk)).cast("long").as("total_tokens"),
      round(avg(size(tk)), 4).as("avg_tokens"),
      min(col("n_chars")).cast("long").as("min_chars"),
      max(col("n_chars")).cast("long").as("max_chars"))
  }

  /** Dataset VERSION DIFF — the audit pass between two releases of a
    * corpus: full outer join on doc_id, content compared by md5, one row
    * per divergence with status `added` / `removed` / `changed`
    * (unchanged docs — the overwhelming mass — are filtered out, so the
    * output is proportional to the CHANGE SET, not the corpus). Scale
    * shape: one co-partitioned sort-merge outer join on the id + a narrow
    * hash compute per side; no corpus-wide window, nothing driver-side.
    * The second version is derived in-query by deterministic id rules
    * (drop %31, mutate %37, add offset copies of %41) — the fixture for
    * the operator; a real pipeline passes two snapshot directories to
    * [[datasetDiffFrames]]. */
  def datasetDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val v2 = v1.where(col("doc_id") % 31 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 37 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
      .unionByName(v1.where(col("doc_id") % 41 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    datasetDiffFrames(v1, v2)
  }

  /** Canonical form of a raw URL — web-pipeline STAGE ZERO: every
    * CommonCrawl-derived corpus dedups per canonical URL before any
    * content hashing, because the same page arrives under dozens of
    * surface spellings. Rules (each pure string arithmetic, so the DuckDB
    * oracle replays them verbatim):
    *
    *   1. fragment stripped (`#...` never reaches the server);
    *   2. scheme and host lowercased (RFC 3986 §6.2.2.1 — path stays
    *      case-sensitive);
    *   3. default ports dropped (`:443` for https, `:80` for http; any
    *      other port is meaningful and kept);
    *   4. `/./` path segments resolved (two replace passes — handles up
    *      to three CONSECUTIVE `.` segments, the practical bound; a full
    *      RFC 3986 §5.2.4 resolver would also need `..`);
    *   5. tracking query params dropped (`utm_*`, `fbclid`, `gclid`),
    *      OTHER params kept in original order — `?q=7` changes the page,
    *      `?utm_source=feed` does not; an all-params-survive query keeps
    *      its `?`, an all-tracking query loses it;
    *   6. empty path → `/` (https://x.com and https://x.com/ are one
    *      resource).
    *
    * Everything is a codegen'd string builtin except the param filter (a
    * higher-order `filter` over the `&`-split — a handful of elements per
    * row, not a hot loop). */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = regexp_extract(rest, "^([^/?]*)", 1)
    val host = lower(regexp_extract(hostport, "^([^:]*)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val portPart = when(port === "" ||
        (scheme === "https" && port === "443") ||
        (scheme === "http" && port === "80"), lit(""))
      .otherwise(concat(lit(":"), port))
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val path0 = regexp_extract(pathq, "^([^?]*)", 1)
    val path1 = when(path0 === "", lit("/")).otherwise(path0)
    val pathR = replace(replace(path1, lit("/./"), lit("/")), lit("/./"), lit("/"))
    val q0 = when(pathq.contains("?"),
      regexp_replace(pathq, "^[^?]*\\?", "")).otherwise(lit(""))
    val qKept = array_join(filter(split(q0, "&"),
      x => !x.rlike("^(utm_|fbclid|gclid)") && x =!= ""), "&")
    concat(scheme, lit("://"), host, portPart, pathR,
      when(qKept === "", lit("")).otherwise(concat(lit("?"), qKept)))
  }

  /** Deterministic URL fixture over doc ids — the planted-fixture pattern
    * (the testdata carries no URL column): eight surface spellings per
    * canonical page, one per `doc_id % 8` class, each exercising a
    * different [[canonicalizeUrl]] rule. The DuckDB oracle derives the
    * identical strings, so the canonicalization arithmetic itself is
    * hash-checked, not just the group counts. */
  private[graft] def syntheticUrl(id: Column): Column = {
    val h = concat(lit("h"), (id % 50).cast("string"), lit(".example.com"))
    val hU = upper(h)
    val p = concat(lit("/p"), (id % 200).cast("string"))
    when(id % 8 === 0, concat(lit("https://"), h, p))
      .when(id % 8 === 1, concat(lit("HTTPS://"), hU, p))
      .when(id % 8 === 2, concat(lit("https://"), h, lit(":443"), p))
      .when(id % 8 === 3, concat(lit("https://"), h, p, lit("#sec2")))
      .when(id % 8 === 4, concat(lit("https://"), h, p,
        lit("?utm_source=feed&q="), (id % 3).cast("string")))
      .when(id % 8 === 5, concat(lit("https://"), h, lit("/."), p))
      .when(id % 8 === 6, concat(lit("https://"), h, p,
        lit("?utm_campaign=x&utm_medium=cpc")))
      .otherwise(concat(lit("HTTPS://"), hU, lit(":443/."), p,
        lit("?fbclid=abc#frag")))
  }

  /** Distinct word n-gram 60-bit surrogates of a token array, as ONE
    * per-row expression — the decontamination feature pass, shared
    * verbatim by the batch op and the streaming twin so their keys are
    * bit-identical by construction. The `when` guard lives INSIDE the
    * expression (Spark's `sequence` DESCENDS when stop < start, and the
    * optimizer may evaluate a generator input before a caller's row
    * filter — the [[Dedup.shingles]] lesson); `array_distinct` runs
    * per-row so the downstream explode never needs a corpus-wide
    * `.distinct()` shuffle. */
  private[graft] def ngramSurrogates(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => conv(substring(md5(concat_ws(" ", slice(toks, i, lit(n)))), 1, 15), 16, 10)
            .cast("long")))
        .otherwise(array().cast("array<long>")))

  /** The benchmark-side n-gram set for [[decontaminate]]: every distinct
    * n-gram surrogate appearing in the held-out evaluation slice (md5
    * doc-id bucket ≥ 90 — the planted-fixture stand-in for a real eval
    * suite, the [[syntheticUrl]] pattern). At 100 TB this frame is
    * EVAL-SET-sized (benchmarks are thousands of documents, not
    * terabytes), which is the entire scale story: it broadcasts. */
  private[graft] def benchmarkNgramIndex(spark: SparkSession, dir: String,
      n: Int = DecontamN): DataFrame =
    Tables.documents(spark, dir)
      .where(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100 >= 90)
      .select(explode(ngramSurrogates(Dedup.tokens(col("text")), n)).as("s"))
      .distinct()

  /** GPT-3 §C / Llama-style benchmark decontamination: a TRAINING doc is
    * contaminated if it shares any length-`n` word n-gram with the
    * evaluation benchmark (n = 8 here against ~30–120-token synthetic
    * docs; production uses 13 against web pages — the knob is the
    * argument). Distinct from [[splitLeakageSafe]], which closes
    * WITHIN-corpus near-dup leaks by splitting on cluster ids: this op
    * screens training text against a FOREIGN benchmark set by exact
    * n-gram collision, the stage every serious LLM data pipeline runs
    * before training. Complements [[Dedup.contaminationCheck]] (the
    * pair-listing form: ≥3 shared word-3-grams through the inverted-index
    * pair join) — this is the long-n-gram single-hit rule with doc-level
    * verdicts and a broadcast-set probe, the shape that scales when the
    * train side is the whole corpus. Emits every train doc with its distinct-gram count,
    * benchmark-hit count, and the contaminated flag (docs under n tokens
    * are trivially clean and survive the left join with zeros).
    *
    * Scale shape: the benchmark gram set is eval-set-sized → BROADCAST
    * semi-side, so the train side is one narrow explode+md5 projection
    * probed map-side with NO corpus shuffle; the only exchange is the
    * per-doc count aggregation, keyed by doc_id with map-side partial
    * combine. Both engines join on the same 60-bit surrogates, so the
    * flags hash-match bit-for-bit. */
  def decontaminate(spark: SparkSession, dir: String, n: Int = DecontamN): DataFrame =
    decontaminateOf(spark, Tables.documents(spark, dir), n)

  /** [[decontaminate]] over an arbitrary (doc_id, text) frame with a
    * configurable benchmark slice (`benchLo`/`mod` of the 60-bit id-hash)
    * — the form DedupScaleBench sweeps with a realistic 1% bench
    * fraction (an eval suite is tiny relative to the corpus, which is
    * the broadcast-side premise). */
  def decontaminateOf(spark: SparkSession, docs: DataFrame, n: Int = DecontamN,
      benchLo: Long = 90, mod: Long = 100): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % mod
    val train = docs.where(bucket < benchLo)
    val benchIdx = docs.where(bucket >= benchLo)
      .select(explode(ngramSurrogates(Dedup.tokens(col("text")), n)).as("s"))
      .distinct()
    val hits = train
      .select(col("doc_id"), explode(ngramSurrogates(Dedup.tokens(col("text")), n)).as("s"))
      .join(broadcast(benchIdx.withColumn("hit", lit(1))), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Decontamination n-gram length for the synthetic corpus (docs are
    * ~30–120 tokens; 8 keeps the planted near-dup straddlers hot while
    * random co-occurrence stays at zero — production web pipelines use
    * 13 per GPT-3 appendix C). */
  val DecontamN = 8

  /** Per-host URL dedup — the registered stage-zero query: canonicalize
    * every raw URL, then per host report raw count, distinct canonical
    * count, the dup surplus, and the lexicographic-min canonical URL (so
    * the canonical STRINGS are hash-verified). Scale shape: one narrow
    * per-row canonicalization pass (no UDF, no encoder), then a single
    * groupBy(host) with map-side partial counts — at 100 TB the hosts are
    * millions of keys, far below the shuffle's capacity, and the
    * count(DISTINCT curl) expands to the standard two-phase plan keyed by
    * (host, curl), both map-side combinable. */
  def urlCanonicalDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), syntheticUrl(col("doc_id")).as("raw_url"))
      .withColumn("curl", canonicalizeUrl(col("raw_url")))
      .withColumn("host", regexp_extract(col("curl"), "^[a-z]+://([^/:?]*)", 1))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("curl")).as("n_canonical"),
        min(col("curl")).as("sample_url"))
      .withColumn("n_dup", col("n_raw") - col("n_canonical"))
      .select(col("host"), col("n_raw"), col("n_canonical"), col("n_dup"), col("sample_url"))
      .orderBy(col("host"))

  /** The general two-snapshot diff [[datasetDiff]] demonstrates. */
  def datasetDiffFrames(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), md5(col("text")).as("h1"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h2").isNull, lit("removed"))
          .when(col("h1").isNull, lit("added"))
          .when(col("h1") =!= col("h2"), lit("changed")))
      .where(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }
}
