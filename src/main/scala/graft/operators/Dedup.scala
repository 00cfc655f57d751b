package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Tables}
import graft.functions.NativeVectorFunctions.{dotNative, normNative}

/** Deduplication operators over the `documents` (text) and `embeddings`
  * (vector) tables — the north-star LLM-pipeline surface (SURVEY.md §2b).
  *
  * Scale posture: NONE of the text paths cross-join the corpus. Candidate
  * generation is always an equi-join on a derived key — shared shingle
  * (exact Jaccard: complete for any threshold > 0), shared LSH band
  * (MinHash), shared signature chunk (SimHash, complete for the Hamming
  * radius by pigeonhole) — so the shuffles are keyed and the pair set stays
  * near-linear in the number of true duplicates, not quadratic in corpus
  * size. Only the embedding near-dup path cross-joins, and only as the
  * oracle-checkable exact form ([[graft.operators.Similarity]] carries the
  * LSH-bucketed scale path).
  *
  * Every hash is md5-of-string — deterministic and bit-identical in DuckDB,
  * which is what makes fuzzy dedup oracle-checkable at all.
  */
object Dedup {

  /** Whitespace tokens of lowercased text. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Distinct word 3-gram shingles. Total: under 3 tokens yields an empty
    * array — Spark's `sequence(1, n-2)` DESCENDS when n < 3 (DuckDB's
    * `range` is empty), and the optimizer may evaluate a projection before
    * a caller's row filter (GeneratorNestedColumnAliasing), so the guard
    * must live inside the expression. */
  def shingles(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** doc_id + distinct-shingle array for all docs with >=3 tokens — cached
    * per (session, dir): five dedup queries share it, so the tokenize+
    * shingle pass runs once per dataset instead of once per query. */
  private val shingleCache = Memo[(SparkSession, String), DataFrame](this, _.unpersist())

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingleCache((spark, dir))(
      Tables.documents(spark, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"), shingles(col("toks")).as("sh"))
        .cache())

  /** Exploded (doc_id, s) rows keyed by the 60-bit md5 surrogate of each
    * distinct shingle — cached per (session, dir): the ngram pair join AND
    * the minhash signatures both consume it, so the explode+md5 pass (the
    * dominant hash cost) runs once per dataset, and everything downstream
    * shuffles fixed-width longs. */
  private val surrogateCache = Memo[(SparkSession, String), DataFrame](this, _.unpersist())

  private def surrogates(spark: SparkSession, dir: String): DataFrame =
    surrogateCache((spark, dir))(
      shingled(spark, dir)
        .select(col("doc_id"), explode(col("sh")).as("sstr"))
        .select(col("doc_id"),
          conv(substring(md5(col("sstr")), 1, 15), 16, 10).cast("long").as("s"))
        .cache())

  /** Exact dedup: normalize (lowercase, collapse whitespace, trim), keep the
    * lowest doc_id per normalized text. Output = survivors with the content
    * hash, so downstream joins can map dropped→kept. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(norm).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("content_hash"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Shingles appearing in more than this many docs are dropped before the
    * pair join. The join is quadratic in per-shingle document frequency, so
    * ONE boilerplate shingle (a shared header) otherwise becomes a full
    * cross-join straggler on a real corpus. Dropping hot shingles only
    * lowers the computed jaccard for pairs whose overlap is boilerplate —
    * the standard trade (the oracle SQL applies the identical cutoff). */
  val DefaultMaxShingleDf = 1000

  /** Exact n-gram Jaccard near-dup pairs, inverted-index form: explode
    * shingles, equi-join on shingle to count the intersection per pair, then
    * jaccard = c / (|A|+|B|-c). Complete vs the all-pairs form for any
    * threshold > 0 (a pair with jaccard > 0 shares a non-hot shingle);
    * |A|/|B| stay the full shingle counts, so the cutoff never inflates a
    * score — it can only miss pairs whose entire overlap is boilerplate. */
  /** The verified pair set is shared downstream (dedup_survivors builds its
    * component graph from exactly these pairs), so it's cached per
    * (session, dir, threshold, maxDf) like the shingle frame. */
  private val ngramPairsCache =
    Memo[(SparkSession, String, Double, Int), DataFrame](this, _.unpersist())

  def dedupNgramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.2,
      maxDf: Int = DefaultMaxShingleDf): DataFrame =
    ngramPairsCache((spark, dir, threshold, maxDf)) {
      val counts = shingled(spark, dir).select(col("doc_id"), size(col("sh")).as("n"))
      ngramJaccardPairsImpl(surrogates(spark, dir), counts, threshold, maxDf).cache()
    }

  /** The same pair join over any (doc_id, sh: array<string>) frame — spec
    * surface for skew behavior. The join/aggregation key is a 60-bit md5
    * surrogate of the shingle, not the string: fixed-width longs sort and
    * hash far cheaper than ~20-char text through the exploded self-join,
    * and at 750k distinct shingles the collision probability (~n²/2⁶²) is
    * negligible — the oracle SQL derives the identical surrogate, so even a
    * collision stays bit-identical across engines. */
  def ngramJaccardPairs(d: DataFrame, threshold: Double, maxDf: Int): DataFrame = {
    val counts = d.select(col("doc_id"), size(col("sh")).as("n"))
    val ex = d.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("s"))
    ngramJaccardPairsImpl(ex, counts, threshold, maxDf)
  }

  /** The pair join over pre-keyed (doc_id, s: long) rows + per-doc shingle
    * counts (the registered query feeds the shared [[surrogates]] cache). */
  private def ngramJaccardPairsImpl(ex: DataFrame, counts: DataFrame,
      threshold: Double, maxDf: Int): DataFrame =
    pairIntersections(ex, maxDf)
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** i<j pairs of a SORTED id array as (id_a, id_b) structs — the
    * q27_copurchase "dejoin" kernel generalized: expanding the posting
    * list of one key into its pairs in codegen replaces a keyed self-join
    * (which shuffles the exploded frame twice — or, when the planner picks
    * a broadcast, recomputes the df window on both sides) with a single
    * keyed aggregation. Guarded total: an ids array shorter than 2 yields
    * an empty pair array (Spark's `sequence(0, -1)` DESCENDS — the
    * [[shingles]] lesson — so the bound must be enforced inside the
    * expression, not only by a caller's filter). */
  private def sortedPairs(ids: Column): Column =
    when(size(ids) >= 2,
      flatten(transform(
        sequence(lit(0), size(ids) - 2),
        i => transform(sequence(i + 1, size(ids) - 1),
          j => struct(element_at(ids, i + 1).as("id_a"),
            element_at(ids, j + 1).as("id_b"))))))
      // empty pair array of the MATCHING element type, derived from `ids`
      // itself (a literal array().cast(...) would pin id_a/id_b to one
      // type and break the generic spec surfaces)
      .otherwise(transform(slice(ids, 1, 0),
        x => struct(x.as("id_a"), x.as("id_b"))))

  /** Per-pair shared-shingle counts (id_a < id_b) over a pre-keyed
    * (doc_id, s: long) frame — the inverted-index core that jaccard AND
    * containment scoring both consume.
    *
    * Shape note (r18 A/B, guide §1.1): the posting-list "dejoin"
    * (groupBy(s) + sorted collect_set + codegen i<j expansion — the shape
    * that pays off in [[winnowOverlap]]/[[sourcePairs]]) was measured HERE
    * at 1.18 → 1.85 s isolated (dedup_containment, sf0.1/32c, 5-iter
    * medians): on shingle posting lists the collect_set array buffers +
    * per-list C(n,2) array materialization cost more than the broadcast
    * self-join they replace. The window form stays: the df cutoff rides
    * the join's own shuffle key, so it adds no exchange when the planner
    * picks SMJ, and the pair join stays a keyed equi-join at any scale. */
  private def pairIntersections(ex: DataFrame, maxDf: Int): DataFrame = {
    val exF = ex
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .where(col("df") <= maxDf)
      .drop("df")
    exF.as("a").join(exF.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Containment near-dup pairs: shared / min(|A|,|B|) ≥ threshold. Jaccard
    * misses SUBSET duplication — a short doc pasted whole into a much longer
    * one scores c/(na+nb-c) ≈ na/nb → below any usable jaccard bar, yet it
    * is exactly the scraped-quote / template-expansion shape corpus cleaning
    * must catch. Containment normalizes by the SMALLER side, so full
    * inclusion scores 1.0 regardless of the size ratio. Same inverted-index
    * pair join (shingle-surrogate equi-join, hot-shingle df cutoff, never
    * all-pairs) — only the final score differs, so the 100 TB posture is
    * identical to [[dedupNgramJaccard]]. Not served from the jaccard pair
    * cache: that frame already dropped sub-threshold-jaccard pairs, and
    * high-containment pairs of very unequal sizes live precisely there. */
  def dedupContainment(spark: SparkSession, dir: String, threshold: Double = 0.6,
      maxDf: Int = DefaultMaxShingleDf): DataFrame =
    containmentImpl(surrogates(spark, dir),
      shingled(spark, dir).select(col("doc_id"), size(col("sh")).as("n")),
      threshold, maxDf)

  /** Containment pairs over any (doc_id, sh: array<string>) frame — the
    * spec surface, mirroring [[ngramJaccardPairs]]. */
  def containmentPairs(d: DataFrame, threshold: Double, maxDf: Int): DataFrame =
    containmentImpl(
      d.select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"),
          conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("s")),
      d.select(col("doc_id"), size(col("sh")).as("n")),
      threshold, maxDf)

  private def containmentImpl(ex: DataFrame, counts: DataFrame,
      threshold: Double, maxDf: Int): DataFrame = {
    pairIntersections(ex, maxDf)
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("containment", col("c").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("c").as("shared"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Fuzzy entity resolution: blocked join + edit-distance scoring. Derives
    * a deterministic "dirty" twin of every 7th part name (one character
    * dropped at an id-derived position ≥ 5) and re-links each twin to its
    * best catalog match — the record-linkage shape (typo'd product names,
    * OCR'd titles, scraped entity strings) that exact and shingle dedup both
    * miss because a 1-char edit changes every containing shingle.
    *
    * Scale posture: NEVER all-pairs. Candidates come from an equi-join on a
    * compound blocking key (first 4 chars PLUS the last char — a one-char
    * interior drop at position ≥ 5 of a ≥ 8-char name preserves both the
    * prefix and the suffix, so both ends are valid blocking bets; the
    * two-ended key cuts scored pairs ~5× vs prefix-only because part-name
    * vocabularies share few prefixes but many suffix colors) plus a
    * ±2 length band as a join residual evaluated before any scoring, so
    * each comparison block is vocabulary-bounded, not corpus-bounded; at
    * larger scale the block key widens further (more prefix chars /
    * phonetic keys) to hold block sizes flat.
    * Scoring is the codegen'd [[graft.functions.JaroWinkler]] (DuckDB
    * `jaro_winkler_similarity` parity, fuzz-verified) next to Spark's
    * built-in `levenshtein`; best match per twin by (jw desc, key asc). */
  def fuzzyEntityMatch(spark: SparkSession, dir: String, minJw: Double = 0.9): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    val dropPos = (col("p_partkey") % 3 + 5).cast("int")
    val variants = p
      .where(col("p_partkey") % 7 === 0 && length(col("p_name")) >= 8)
      .select(
        (col("p_partkey") + 10000000L).as("variant_id"),
        concat(col("p_name").substr(lit(1), dropPos - 1),
          col("p_name").substr(dropPos + 1, lit(1000000))).as("vname"))
    val jw = graft.functions.EditDistanceExpressions
      .jaroWinkler(spark, col("vname"), col("p_name"))
    val scored = variants.join(p,
        substring(col("vname"), 1, 4) === substring(col("p_name"), 1, 4) &&
          substring(col("vname"), -1, 1) === substring(col("p_name"), -1, 1) &&
          abs(length(col("vname")) - length(col("p_name"))) <= 2)
      .withColumn("jw", jw)
      .where(col("jw") >= minJw)
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("variant_id"))
          .orderBy(col("jw").desc, col("p_partkey").asc)))
      .where(col("rk") === 1)
      .select(col("variant_id"), col("p_partkey").as("matched_key"),
        levenshtein(col("vname"), col("p_name")).cast("long").as("edit_distance"),
        round(col("jw"), 4).as("jw"))
      .orderBy(col("variant_id"))
  }

  /** Paragraph ids pack (doc_id, para_idx) into one long: doc_id << 20 |
    * para_idx — 1M paragraphs per doc, doc ids to 2^43. Fixed-width longs
    * keep the pair join identical to the document-level one. */
  private val ParaShift = 1L << 20

  /** Paragraph-granularity near-dup detection — document-level survivors
    * still carry duplicated SPANS (boilerplate headers, quoted passages,
    * templated sections), and real LLM corpus cleaning dedups those too.
    * "Paragraphs" are non-overlapping `paraTokens`-token windows (the
    * testdata corpus has no blank-line structure; for corpora that do,
    * split on blank lines first and window only over-long paragraphs — the
    * pair machinery below is granularity-agnostic). Each window becomes a
    * packed (doc_id, para_idx) key and flows through the SAME
    * shingle-surrogate + df-cutoff pair join as [[dedupNgramJaccard]];
    * output rows are the duplicated paragraphs with their earliest
    * (min-key) match. Scale posture matches the document path: keyed
    * equi-joins only, hot-shingle cutoff, fixed-width long keys. */
  /** Shingled paragraph windows, cached per (session, dir, width) — the
    * pair join consumes this frame from FOUR subtrees (both explode sides
    * + both count sides), so without the cache the tokenize+window+shingle
    * pass runs 4× per query (the same reasoning as [[shingled]]). */
  private val paraShingleCache =
    Memo[(SparkSession, String, Int), DataFrame](this, _.unpersist())

  private def paraShingled(spark: SparkSession, dir: String, paraTokens: Int): DataFrame =
    paraShingleCache((spark, dir, paraTokens))(
      Tables.documents(spark, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(1), greatest(size(col("toks")), lit(1)), lit(paraTokens)),
            st => slice(col("toks"), st, lit(paraTokens)))).as(Seq("para_idx", "ptoks")))
        .where(size(col("ptoks")) >= 3)
        // loud overflow guards on the packed key, enforced INSIDE the
        // projected expression (a standalone assert column would be pruned):
        // para_idx >= 2^20 (a >33M-token doc) or doc_id >= 2^43 would
        // silently collide packed keys, and the oracle computes the same
        // packed value, so the harness could never catch the corruption
        .select((when(col("doc_id") < lit(1L << 43), col("doc_id"))
            .otherwise(raise_error(concat(lit("paragraph key overflow: doc_id="), col("doc_id").cast("string"))))
            * ParaShift +
          when(col("para_idx") < lit(ParaShift), col("para_idx"))
            .otherwise(raise_error(concat(lit("paragraph key overflow: para_idx="), col("para_idx").cast("string"))))
          ).as("doc_id"),
          shingles(col("ptoks")).as("sh"))
        .cache())

  /** Verified paragraph pair set, cached per (session, dir, threshold,
    * paraTokens, maxDf) — the [[ngramPairsCache]] twin at paragraph grain
    * (r18): [[dedupParagraph]] AND [[dedupParagraphSurvivors]] both
    * consume these pairs, and without the memo the paragraph explode +
    * md5 + pair join re-ran per query (twice per plan where the planner
    * broadcasts the self-join's b side). Released with the memos. */
  private val paraPairsCache =
    Memo[(SparkSession, String, Double, Int, Int), DataFrame](this, _.unpersist())

  private def paraPairs(spark: SparkSession, dir: String, threshold: Double,
      paraTokens: Int, maxDf: Int): DataFrame =
    paraPairsCache((spark, dir, threshold, paraTokens, maxDf))(
      ngramJaccardPairs(paraShingled(spark, dir, paraTokens), threshold, maxDf)
        .cache())

  def dedupParagraph(spark: SparkSession, dir: String, threshold: Double = 0.5,
      paraTokens: Int = 32, maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    paraPairs(spark, dir, threshold, paraTokens, maxDf)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
      .select(shiftright(col("id_b"), 20).as("doc_id"),
        (col("id_b") % ParaShift).as("para_idx"),
        shiftright(col("dup_of"), 20).as("dup_of_doc"),
        (col("dup_of") % ParaShift).as("dup_of_para"))
      .orderBy(col("doc_id"), col("para_idx"))
  }

  /** Span-level survivor selection: the same fixpoint CC pass as
    * [[dedupSurvivors]], run over the PARAGRAPH pair graph — per-window
    * canonicalization is what an actual span-dedup pipeline writes back
    * (keep the canonical window, drop its duplicates). */
  def dedupParagraphSurvivors(spark: SparkSession, dir: String, threshold: Double = 0.5,
      paraTokens: Int = 32, maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val paras = paraShingled(spark, dir, paraTokens)
    val pairs = paraPairs(spark, dir, threshold, paraTokens, maxDf)
      .select(col("id_a"), col("id_b"))
    survivorsOf(spark, pairs, paras.select(col("doc_id")))
      .select(
        shiftright(col("doc_id"), 20).as("doc_id"),
        (col("doc_id") % ParaShift).as("para_idx"),
        shiftright(col("canonical_id"), 20).as("canonical_doc"),
        (col("canonical_id") % ParaShift).as("canonical_para"),
        col("is_survivor"))
      .orderBy(col("doc_id"), col("para_idx"))
  }

  /** Exact substring-span duplication profile — the suffix-array substring
    * dedup signal (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499) re-expressed Spark-first:
    * instead of one global suffix array (a single-machine structure), hash
    * every w-token window at stride 1 and count, per doc, how many of its
    * windows recur in OTHER docs. dup_fraction ≈ the fraction of the doc
    * that is verbatim-copied text — the per-doc removal signal the paper
    * thresholds on. Plan: ONE corpus scan (the stride-1 window explode is
    * the dominant cost, so it must happen exactly once), a
    * (doc_id, hash) pre-aggregate with map-side combine, a window count
    * over the hash partition for the cross-doc document frequency, and a
    * final per-doc aggregate — no self-join, no re-explode, no cached
    * frame (caching the w·tokens exploded frame would not survive 100 TB;
    * the window-over-pre-aggregate shape shuffles only one row per
    * (doc, hash) pair). All counters are integers → order-independent
    * aggregation. */
  def substringDedup(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    substringDedupOf(spark, Tables.documents(spark, dir), w)

  /** Frame form over any (doc_id, text) — DedupScaleBench sweeps this. */
  def substringDedupOf(spark: SparkSession, documents: DataFrame, w: Int): DataFrame = {
    val wins = documents
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= w)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("tk")) - (w - 1)),
        st => md5(concat_ws(" ", slice(col("tk"), st, lit(w)))))).as("h"))
    // One row per (doc, hash) with the in-doc occurrence count; partial
    // (map-side) aggregation collapses in-doc repeats before the shuffle.
    val byDocHash = wins.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
    // Cross-doc document frequency: after the pre-aggregate each (doc, h)
    // appears once, so count(*) over the h partition IS countDistinct(doc).
    // A hot boilerplate hash contributes one row per containing doc — the
    // window partition holds doc-count rows, never occurrence-count rows.
    val withDf = byDocHash.withColumn("hdf",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    // Windows seen in >= 2 distinct docs are "duplicated" (cross-doc copies
    // only: in-doc repetition is repetition_score's signal, not dedup's).
    withDf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_windows"),
        coalesce(sum(when(col("hdf") >= 2, col("c"))), lit(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4)
          .as("dup_fraction"))
      .orderBy(col("doc_id"))
  }

  /** 60-bit long surrogates of every w-token stride-1 window of `text`,
    * empty for docs shorter than w tokens — the per-row expression form of
    * [[substringDedupOf]]'s window explode (same md5 stream truncated to
    * the shared long-surrogate width), reused by the frozen-set probe
    * forms below and the streaming twin so batch and stream derive
    * identical keys by construction.
    *
    * COLLISION BOUND: the batch aggregate form keys on the full 128-bit
    * md5, so the documented row-for-row identity between the frozen/
    * streaming probe forms and [[substringDedup]] is exact only absent
    * 60-bit surrogate collisions. At probe-set sizes the driver guard
    * admits (≤[[MaxFrozenSetSize]] ≈ 2^25.6) the birthday bound keeps the
    * expected collision count ≪ 1; at full 100 TB window counts (2^40+)
    * collisions are expected and would INFLATE n_dup_windows slightly
    * relative to batch semantics — the identity is collision-bounded, not
    * unconditional, which is the standard contract for fingerprint dedup
    * (winnowing, MinHash) at that scale. */
  def windowSurrogates(text: Column, w: Int): Column =
    // tokens(text) is BOUND once per row (the Multimodal.bindOnce lesson):
    // an interpreted `transform` re-evaluates captured sub-expressions per
    // element, so the inline form re-SPLIT the whole text for every window
    // — ~47 regex splits per doc; measured 3.7 s for a bare explode over
    // sf0.1 that costs 0.35 s bound (the dominant stage of the join-form
    // fallback and the streaming twin's per-row probe argument).
    Multimodal.bindOnce(tokens(text)) { tk =>
      when(size(tk) >= w,
        transform(sequence(lit(1), size(tk) - (w - 1)), st =>
          conv(substring(md5(concat_ws(" ", slice(tk, st, lit(w)))), 1, 15), 16, 10)
            .cast("long")))
        .otherwise(array().cast("array<long>"))
    }

  /** The corpus's cross-doc duplicated-window set as distinct long
    * surrogates — the FROZEN index a streaming ingest probes
    * ([[graft.streaming.StreamingOps.streamingSpanDedup]]): one window
    * explode + one keyed aggregate, the same single-scan shape as
    * [[substringDedupOf]]. Corpus-proportional but far smaller than the
    * window stream (only hashes seen in ≥2 docs survive); collect it only
    * for the frozen-probe deployment, where it plays the benchGrams role. */
  def duplicatedWindowIndex(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    duplicatedWindowIndexOf(Tables.documents(spark, dir), w)

  /** The collected standing index for the frozen-probe deployment, or
    * None when it exceeds the size budget — memoized per (session, dir, w,
    * budget) because it IS a standing asset (yesterday's offline build):
    * without the memo every serving call would re-run the index build it
    * exists to avoid. */
  private val dupWindowSetCache =
    Memo[(SparkSession, String, Int, Int), Option[Array[Long]]](this)

  /** Default ceiling on the driver-collected frozen probe set: 5×10⁷
    * 60-bit surrogates ≈ 400 MB on the driver — the last size where a
    * sorted-array reference object broadcast with the plan is still the
    * right call. The duplicated-window index is corpus-proportional by
    * nature (boilerplate is pervasive in web corpora), so unlike every
    * other driver collect in this module this one NEEDS an explicit gate:
    * past it, use [[substringDedupFrozenJoinOf]], which keeps the index
    * distributed. */
  val MaxFrozenSetSize: Int = 50 * 1000 * 1000

  /** Collect the index iff it fits under `maxSize`, in ONE job (take of
    * maxSize+1 rows — no separate count that would re-run the aggregate). */
  private def windowSetWithin(spark: SparkSession, dir: String, w: Int,
      maxSize: Int): Option[Array[Long]] =
    dupWindowSetCache((spark, dir, w, maxSize)) {
      val lim = math.min(maxSize.toLong + 1, Int.MaxValue.toLong).toInt
      val rows = duplicatedWindowIndex(spark, dir, w).take(lim)
      if (rows.length > maxSize) None else Some(rows.map(_.getLong(0)))
    }

  def duplicatedWindowSet(spark: SparkSession, dir: String, w: Int = 8,
      maxSize: Int = MaxFrozenSetSize): Array[Long] =
    windowSetWithin(spark, dir, w, maxSize).getOrElse(throw new
      IllegalArgumentException(
        s"duplicatedWindowSet: the cross-doc duplicated-window index holds " +
        s"more than maxSize=$maxSize surrogates — a driver-side frozen set " +
        s"this large is a scale hazard. Use the distributed form " +
        s"substringDedupFrozenJoinOf(docs, duplicatedWindowIndexOf(corpus, w), w) " +
        s"(identical rows, index stays a DataFrame), or raise maxSize " +
        s"deliberately if the driver genuinely has the memory."))

  /** [[substringDedupFrozenOf]] with the standing index kept DISTRIBUTED —
    * the over-[[MaxFrozenSetSize]] deployment: explode today's docs'
    * window surrogates once and left-join the index on the surrogate key
    * (the index is distinct on `h`, so the join cannot fan out), then
    * re-aggregate per doc. Output is row-identical to the driver-probe
    * form (spec-asserted); the price is the explode + one shuffle that the
    * frozen probe avoids, which is the correct trade once the index no
    * longer fits a driver array. */
  def substringDedupFrozenJoinOf(docs: DataFrame, dupIndex: DataFrame, w: Int): DataFrame = {
    val tk = tokens(col("text"))
    docs
      .where(size(tk) >= w)
      .select(col("doc_id"), explode(windowSurrogates(col("text"), w)).as("h"))
      .join(dupIndex.select(col("h"), lit(1L).as("dup")), Seq("h"), "left")
      // n_windows = count(*) per doc: the index is distinct on h, so the
      // left join preserves exactly one row per window — counting here
      // instead of carrying a size(tokens(text)) column through the
      // explode matters, because Catalyst floats that projection ABOVE
      // the Generate and a groupBy key derived from `text` is then
      // re-split per EXPLODED row (~47× per doc; measured 2.6 s of the
      // fallback's 6.1 s at sf0.1).
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum(col("dup")), lit(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4)
          .as("dup_fraction"))
  }

  /** The frozen-probe deployment with the size gate built in: collect the
    * index into the scan-speed driver-probe form when it fits `maxSize`,
    * otherwise fall back to [[substringDedupFrozenJoinOf]] (row-identical,
    * index stays distributed). The decision costs one job either way —
    * the same take that would have produced the probe set IS the size
    * check. */
  def substringDedupFrozen(spark: SparkSession, dir: String, w: Int = 8,
      maxSize: Int = MaxFrozenSetSize): DataFrame = {
    val docs = Tables.documents(spark, dir)
    windowSetWithin(spark, dir, w, maxSize) match {
      case Some(s) => substringDedupFrozenOf(docs, s, w)
      case None =>
        substringDedupFrozenJoinOf(docs, duplicatedWindowIndexStanding(spark, dir, w), w)
    }
  }

  /** The standing index as a CACHED distributed frame — the over-budget
    * deployment's twin of [[duplicatedWindowSet]]'s memo: when the index
    * no longer fits a driver array, it is still yesterday's offline asset,
    * so serving through [[substringDedupFrozenJoinOf]] must not re-run the
    * corpus-wide index build per query. Memoized per (session, dir, w);
    * released with the memos ([[graft.core.Memo]]). */
  private val dupWindowIndexCache =
    Memo[(SparkSession, String, Int), DataFrame](this, _.unpersist())

  def duplicatedWindowIndexStanding(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    dupWindowIndexCache((spark, dir, w))(
      duplicatedWindowIndex(spark, dir, w).cache())

  /** Frame form over any (doc_id, text) — StreamBench builds its standing
    * index from the synthetic corpus through this. */
  def duplicatedWindowIndexOf(docs: DataFrame, w: Int = 8): DataFrame =
    docs
      .select(col("doc_id"), explode(windowSurrogates(col("text"), w)).as("h"))
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("hdf"))
      .where(col("hdf") >= 2)
      .select(col("h"))

  /** [[substringDedupOf]] against a FROZEN duplicated-window set: a pure
    * narrow projection — no explode, no aggregate, no shuffle (the
    * [[graft.functions.SetProbeExpressions.hitsInLongSet]] kernel rides
    * the plan as one sorted-array reference object). This is the batch
    * twin of the streaming form; when `dupSet` is the corpus's own
    * [[duplicatedWindowIndex]], the output matches [[substringDedup]]
    * row-for-row (spec-asserted). At 100 TB this is the incremental
    * deployment: yesterday's dup index frozen, today's docs scored at
    * scan speed. */
  def substringDedupFrozenOf(docs: DataFrame, dupSet: Array[Long], w: Int): DataFrame = {
    val tk = tokens(col("text"))
    // n_windows arithmetically from the token count so the md5 window
    // transform is evaluated exactly once per row (inside the probe)
    docs
      .where(size(tk) >= w)
      .select(col("doc_id"), (size(tk) - (w - 1)).cast("long").as("n_windows"),
        graft.functions.SetProbeExpressions.hitsInLongSet(
          docs.sparkSession, windowSurrogates(col("text"), w), dupSet)
          .as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4)
          .as("dup_fraction"))
  }

  /** Intra-document repeated-span removal — the C4/CCNet "drop duplicated
    * lines within a page" cleaning rule, expressed over this corpus's
    * newline-free space-tokenized text as consecutive `w`-token chunks
    * (the "line" analog). The ONLY zero-shuffle member of the dedup
    * family: chunking, first-occurrence dedup (`array_distinct` keeps
    * first-occurrence order) and reassembly are narrow codegen array
    * expressions, so the operator runs entirely map-side — at 100 TB it
    * costs exactly one scan, no exchange. Cross-doc span dedup is
    * [[substringDedup]]'s signal; this one is per-doc self-repetition
    * REMOVAL (repetition_score measures it, this rewrites the text). */
  def lineDedupIntra(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    lineDedupIntraOf(Tables.documents(spark, dir), w)

  /** Frame form over any (doc_id, text). */
  def lineDedupIntraOf(documents: DataFrame, w: Int): DataFrame = {
    val kept = array_distinct(col("chunks"))
    documents
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        transform(
          sequence(lit(0), floor((size(col("tk")) - 1) / lit(w)).cast("int")),
          i => concat_ws(" ", slice(col("tk"), i * w + 1, lit(w)))).as("chunks"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("chunks")).cast("long").as("n_chunks"),
        size(kept).cast("long").as("n_kept"),
        md5(concat_ws(" ", kept)).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val NumHashes = 16
  private val Bands = 4 // 4 bands x 4 rows

  /** The family constants live in [[graft.functions.MinhashFamily]] (one
    * definition for the SQL pipeline, the oracle twin, the codegen
    * expression, and the streaming hasher); aliased here for the oracle-SQL
    * builders. */
  private[graft] val MinhashPrime = graft.functions.MinhashFamily.Prime
  private[graft] val MinhashParams = graft.functions.MinhashFamily.Params

  /** The per-doc (band, bsig) LSH keys. Signatures come from the codegen'd
    * [[graft.functions.MinhashSigs]] expression — a NARROW projection over
    * the shingle arrays (the round-3a shape exploded every shingle row and
    * shuffled it through a 16-min groupBy just to reassemble per-doc
    * signatures; at corpus scale that exchange was the whole cost of the
    * stage). Band signature = 60-bit md5 surrogate of the mins' decimal
    * strings, per DOC — oracle-mirrored. */
  private[graft] def minhashBandsDF(spark: SparkSession, dir: String): DataFrame =
    minhashBandsFrame(spark, shingled(spark, dir))

  /** [[minhashBandsDF]] over any (doc_id, sh: array<string>) frame — the
    * surface DedupScaleBench drives with a synthetic corpus. */
  private[graft] def minhashBandsFrame(spark: SparkSession, d: DataFrame): DataFrame = {
    val sig = d
      .select(col("doc_id"),
        graft.functions.MinhashSigs.minhashSigs(spark, col("sh")).as("sigs"))
    val rowsPerBand = NumHashes / Bands
    val bandStructs = (0 until Bands).map { b =>
      val hs = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => element_at(col("sigs"), i + 1).cast("string"))
      struct(lit(b).as("band"),
        conv(substring(md5(concat_ws("|", hs: _*)), 1, 15), 16, 10).cast("long").as("bsig"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bsig").as("bsig"))
  }

  /** Plain-Scala twin of [[minhashBandsDF]] for a single document — used by
    * the streaming ingest path, where per-row JVM code beats spinning up a
    * one-row DataFrame. BIT-IDENTICAL to the batch pipeline by construction
    * (same tokenization incl. empty-token semantics of `split(lower, \\s+)`,
    * same distinct shingles, and the shared [[graft.functions.MinhashFamily]])
    * — asserted against [[minhashBandsDF]] in PipelineSpec; the DuckDB
    * oracle cross-validates the family itself on every Verify run. */
  private[graft] def minhashBandsOf(text: String): Seq[(Int, Long)] = {
    import graft.functions.MinhashFamily
    val toks = text.toLowerCase.split("\\s+", -1)
    if (toks.length < 3) return Nil
    val sh = toks.sliding(3).map(_.mkString(" ")).toArray.distinct
    val mins = MinhashFamily.sigsOf(sh.iterator)
    (0 until Bands).map { bIdx =>
      val key = (bIdx * 4 until bIdx * 4 + 4).map(mins).mkString("|")
      (bIdx, MinhashFamily.surrogate60(key))
    }
  }

  /** A (band,bsig) bucket of m docs emits m²/2 candidate rows, so one
    * degenerate cluster of near-identical docs (mirrored boilerplate at
    * corpus scale) can dominate the whole stage with candidates that exact
    * dedup already collapses. Buckets above this size are dropped whole —
    * the band-join analogue of [[DefaultMaxShingleDf]]'s hot-shingle trade,
    * and the batch twin of the streaming path's `maxBucket`. */
  val MaxBandBucket = 1000

  /** MinHash+LSH near-dup pairs: 16 portable min-hashes per doc from the
    * affine family above, banded 4x4; pairs sharing any band signature are
    * candidates, then verified with true shingle Jaccard >= threshold. One
    * groupBy for all 16 mins (single shuffle), one equi-join on
    * (band, signature) — never all-pairs, and hot buckets capped. */
  def dedupMinhash(spark: SparkSession, dir: String, threshold: Double = 0.2,
      maxBucket: Int = MaxBandBucket): DataFrame =
    dedupMinhashFrame(spark, shingled(spark, dir), threshold, maxBucket)

  /** [[dedupMinhash]] over any (doc_id, sh) frame (DedupScaleBench). */
  def dedupMinhashFrame(spark: SparkSession, d: DataFrame, threshold: Double = 0.2,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    // the bucket-size cap is a WINDOW over the self-join's own (band,bsig)
    // shuffle key — same no-extra-exchange shape as the ngram df cutoff;
    // the oracle SQL applies the identical cap
    val bands = minhashBandsFrame(spark, d)
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bsig"))))
      .where(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(d.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(d.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("c", size(array_intersect(col("sha"), col("shb"))).cast("double"))
      .withColumn("jaccard", col("c") / (size(col("sha")) + size(col("shb")) - col("c")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val SimBits = 64
  private val SimChunks = 4
  private val SimChunkBits = SimBits / SimChunks // 16-bit chunks → 4×65,536 join keys
  private val HammingMax = 3

  /** 64-bit SimHash per doc: bit i is the sign of Σ over distinct shingles
    * of (hexdigit_i·2 − 15), digits 0..31 from md5(shingle), 32..63 from
    * md5(shingle ++ "#") — the shared [[graft.functions.SimhashFamily]]
    * definition, computed by the codegen [[graft.functions.SimhashSig]]
    * expression as a NARROW projection over the shingle arrays. The round-3
    * shape exploded every shingle row and shuffled it through a bit-sum
    * groupBy just to reassemble per-doc signatures — the exact exchange
    * [[graft.functions.MinhashSigs]] deleted from the minhash stage; at
    * corpus scale that shuffle was the whole cost of the stage. Bit-identity
    * with the aggregate form (and the DuckDB oracle, which mirrors it) is
    * spec-asserted. */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    simhashSignaturesFrame(spark, shingled(spark, dir))

  /** [[simhashSignatures]] over any (doc_id, sh) frame (DedupScaleBench). */
  def simhashSignaturesFrame(spark: SparkSession, d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      graft.functions.SimhashSig.simhashSig(spark, col("sh")).as("sig"))

  /** The round-3 aggregate pipeline (explode → md5 pair → 64 bit-sum
    * aggregates → MSB-first fold) — kept as the spec twin that pins the
    * narrow expression to the portable SQL arithmetic the oracle runs.
    * The fold covers bits 1..63 and the sign bit enters as Long.MinValue:
    * Spark 4's ANSI arithmetic would reject the `acc*2` overflow a full
    * 64-bit fold hits when bit 0 is set. */
  private[graft] def simhashSignaturesAgg(spark: SparkSession, dir: String): DataFrame = {
    val ex = shingled(spark, dir).select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), md5(col("s")).as("h1"),
        md5(concat(col("s"), lit(graft.functions.SimhashFamily.Salt))).as("h2"))
    val bitSums = (0 until SimBits).map { i =>
      val (h, pos) = if (i < 32) ("h1", i) else ("h2", i - 32)
      sum(instr(lit("0123456789abcdef"), substring(col(h), pos + 1, 1)) * 2 - 17).as(s"b$i")
    }
    val sums = ex.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val rest = (1 until SimBits).foldLeft(lit(0L): Column) { (acc, i) =>
      acc * 2 + when(col(s"b$i") > 0, 1L).otherwise(0L)
    }
    val sigExpr = when(col("b0") > 0, lit(Long.MinValue)).otherwise(lit(0L)) + rest
    sums.select(col("doc_id"), sigExpr.cast("long").as("sig"))
  }

  /** SimHash near-dup pairs: Hamming(sig_a, sig_b) <= 3 over the 64-bit
    * signatures. Candidate generation is pigeonhole chunking — split the
    * signature into 4 16-bit chunks; <=3 differing bits guarantees one
    * identical chunk, so an equi-join on (chunk, piece) is complete
    * (Manku et al., WWW'07). The join key space is 4×2¹⁶ = 262,144 values,
    * so bucket occupancy stays ~n/2¹⁸ per key at corpus scale — unlike the
    * pre-round-6 16-bit/nibble scheme whose 64 total keys made this join a
    * disguised cross-join at 10⁸ docs. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    dedupSimhashFrame(spark, shingled(spark, dir))

  /** [[dedupSimhash]] over any (doc_id, sh) frame (DedupScaleBench). */
  def dedupSimhashFrame(spark: SparkSession, d: DataFrame): DataFrame = {
    val sig = simhashSignaturesFrame(spark, d).cache()
    // cluster-representative early-out: the chunk join runs over DISTINCT
    // signatures, so a degenerate cluster of m identical docs contributes
    // one row per chunk instead of m — the join's work scales with
    // signature diversity, never with cluster size. The (inherently
    // quadratic-in-output) same-signature pairs are emitted directly as
    // hamming-0 rows by an equi-join on the signature itself; output is
    // bit-identical to the naive all-docs chunk join, so the brute-force
    // DuckDB oracle is untouched.
    val groups = sig.groupBy(col("sig")).agg(min(col("doc_id")).as("rep"))
    val chunks = (0 until SimChunks).map { cIdx =>
      struct(lit(cIdx).as("chunk"),
        shiftright(col("sig"), cIdx * SimChunkBits).bitwiseAND(lit(0xffffL)).as("nib"))
    }
    val keyed = groups.select(col("rep"), col("sig"), explode(array(chunks: _*)).as("ck"))
      .select(col("rep"), col("sig"), col("ck.chunk").as("chunk"), col("ck.nib").as("nib"))
    val sigPairs = keyed.as("a").join(keyed.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.nib") === col("b.nib") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.sig").as("sa"), col("b.sig").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .where(col("hamming") <= HammingMax)
    val cross = sigPairs
      .join(sig.select(col("doc_id").as("da"), col("sig").as("sa")), "sa")
      .join(sig.select(col("doc_id").as("db"), col("sig").as("sb")), "sb")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("hamming"))
    val same = sig.as("a").join(sig.as("b"),
        col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), lit(0L).as("hamming"))
    cross.union(same)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Dedup survivors: connected components over the near-dup pair graph,
    * canonical id = min doc_id in the component. Iterative min-label
    * propagation with pointer-jumping, keyed joins only — converges to
    * fixpoint in O(log diameter) rounds, so pathological long-chain graphs
    * (boilerplate chains at 100 TB) resolve correctly, not just shallow
    * clusters. Docs in no pair keep themselves. */
  /** True duplicate pairs are a vanishing fraction of the corpus, so the
    * edge set is almost always tiny even at 100 TB — below this many pairs
    * we union-find on the driver (one collect of the PAIRS, never the
    * corpus); above it we fall back to distributed min-label propagation. */
  private val DriverCcMaxPairs = 2_000_000L

  /** The label frame is cached per (session, dir, params): dedup_survivors
    * AND dedup_cluster_stats consume it, and the CC fixpoint (a join +
    * count per round) is the most expensive dedup stage — re-deriving it
    * per caller would double it. */
  private val survivorsCache =
    Memo[(SparkSession, String, Double, Long, Int), DataFrame](this, _.unpersist())

  def dedupSurvivors(spark: SparkSession, dir: String, threshold: Double = 0.2,
      driverCcMaxPairs: Long = DriverCcMaxPairs, maxDf: Int = DefaultMaxShingleDf): DataFrame =
    survivorsCache((spark, dir, threshold, driverCcMaxPairs, maxDf))(
      survivorsOf(spark,
        dedupNgramJaccard(spark, dir, threshold, maxDf).select(col("id_a"), col("id_b")),
        Tables.documents(spark, dir).select(col("doc_id")), driverCcMaxPairs).cache())

  /** [[dedupSurvivors]] over the embedding-cosine pair graph — the same CC
    * composition applied to the other modality's verified pairs, so a
    * corpus deduped on text AND on embeddings uses one survivor semantics. */
  def dedupEmbeddingSurvivors(spark: SparkSession, dir: String, threshold: Double = 0.4,
      driverCcMaxPairs: Long = DriverCcMaxPairs): DataFrame =
    survivorsOf(spark,
      dedupEmbeddingCosine(spark, dir, threshold).select(col("id_a"), col("id_b")),
      Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id")), driverCcMaxPairs)

  /** Duplicate-cluster size histogram over the near-dup component labels —
    * the dedup-audit analytic (how much of the corpus is singletons vs
    * chained boilerplate?). Two keyed integer aggregations on top of
    * [[dedupSurvivors]]; both shuffles shrink the data (docs → clusters →
    * distinct sizes), so the histogram is driver-safe at any corpus size. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame =
    dedupSurvivors(spark, dir)
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** Soft dedup — keep EVERY doc but emit a sampling weight 1/cluster_size
    * from the near-dup component labels (the reweight-instead-of-drop
    * alternative: a training run that samples by these weights sees each
    * duplicate CLUSTER with the mass of one document, preserving tail
    * coverage that hard dropping loses). Rides the cached [[dedupSurvivors]]
    * labels; the size join is keyed on canonical_id and the sizes frame is
    * one row per cluster, so nothing here outgrows the corpus. */
  def dedupSoftWeights(spark: SparkSession, dir: String): DataFrame = {
    val labels = dedupSurvivors(spark, dir)
      .select(col("doc_id"), col("canonical_id"))
    val sizes = labels.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 4).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic WEIGHTED sampling from the soft-dedup weights — the
    * Efraimidis-Spirakis A-ES rule (keys u^(1/w), top-n), which is how a
    * pipeline actually CONSUMES `dedup_soft_weights`: duplicate-heavy
    * clusters are downweighted in expectation without dropping any doc
    * outright. Determinism contract: u derives from the 60-bit md5
    * id-hash (the sampling idiom every corpus op uses), and the ranking
    * key is the monotone log form ln(u)·cluster_size, 6-dp-rounded BEFORE
    * the rank with doc_id breaking rounding ties (the bm25/dsir boundary
    * lesson — ln is the only transcendental, same as idf). One hash + one
    * ln per doc over the cached CC labels; the top-n rides a rank window
    * over n·partitions candidates, nothing corpus-sized on the driver. */
  def softWeightSample(spark: SparkSession, dir: String, n: Int = 100): DataFrame = {
    val labels = dedupSurvivors(spark, dir)
      .select(col("doc_id"), col("canonical_id"))
    val sizes = labels.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976.0) // 2^60
    labels.join(sizes, "canonical_id")
      .withColumn("skey", round(log(u) * col("cluster_size"), 6))
      // global top-n via orderBy+limit → TakeOrderedAndProject (per-
      // partition top-n + driver merge of n·partitions rows), NOT an
      // unpartitioned rank window (which would single-partition the corpus)
      .orderBy(col("skey").desc, col("doc_id").asc)
      .limit(n)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("skey").desc, col("doc_id").asc)).cast("long"))
      .select(col("rank"), col("doc_id"), col("cluster_size"), col("skey"))
      .orderBy(col("rank"))
  }

  /** Connected components + min-label canonicalization over ANY verified
    * pair frame; `universe` (one doc_id per member) supplies the rows that
    * appear in no pair and keep themselves. */
  def survivorsOf(spark: SparkSession, pairFrame: DataFrame, universe: DataFrame,
      driverCcMaxPairs: Long = DriverCcMaxPairs): DataFrame = {
    import spark.implicits._
    val pairs = pairFrame.select(col("id_a"), col("id_b")).cache()
    val nPairs = pairs.count()
    val labels =
      if (nPairs <= driverCcMaxPairs) {
        // hybrid small-graph path: collect only the pairs, union-find locally
        val parent = mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val resolved = parent.keys.map(k => (k, find(k))).toSeq
        spark.createDataFrame(resolved).toDF("doc_id", "canonical_id")
      } else {
        // distributed path: min-label propagation + pointer-jumping over
        // edge-touched nodes, run to FIXPOINT. The jump step (adopt the
        // label of your current canonical) halves pointer-chain depth each
        // round, so even boilerplate duplicate chains of diameter d
        // converge in O(log d) rounds — no silent truncation. The 64-round
        // cap is an infinite-loop guard only: the min-label lattice is
        // finite and strictly decreasing, so changed==0 is guaranteed; if
        // the guard ever fires we fail loudly rather than emit wrong ids.
        // lineage truncation strategy: localCheckpoint blocks are
        // executor-local and NON-replicated — cheap and correct on
        // local[*], but on a real cluster any executor loss makes the job
        // unrecoverable. When the caller has configured a checkpoint dir
        // (sc.setCheckpointDir, the standard cluster setup), use reliable
        // checkpointing to the shared filesystem instead; the per-round
        // label table is tiny relative to the corpus, so the write is
        // cheap insurance over a multi-hour 100 TB CC pass.
        def truncated(df: DataFrame): DataFrame =
          if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
          else df.localCheckpoint(true)
        val edges = truncated(
          pairs.union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"))))
        var ls = truncated(edges.select(col("id_a").as("doc_id")).distinct()
          .select(col("doc_id"), col("doc_id").as("canonical_id")))
        var changed = 1L
        var rounds = 0
        while (changed > 0 && rounds < 64) {
          val nbrMin = edges
            .join(ls.select(col("doc_id").as("id_b"), col("canonical_id").as("nl")), "id_b")
            .groupBy(col("id_a").as("doc_id"))
            .agg(min(col("nl")).as("nbr_min"))
          val stepped = ls.join(nbrMin, Seq("doc_id"), "left")
            .select(col("doc_id"),
              least(col("canonical_id"), coalesce(col("nbr_min"), col("canonical_id"))).as("canonical_id"))
          // pointer jumping: canonical_id := label(canonical_id). Every
          // label is itself an edge-touched doc_id, so the self-join map
          // covers it; coalesce guards the root (label(x)=x) rows anyway.
          val jumpMap = stepped.select(col("doc_id").as("__jid"), col("canonical_id").as("__jlbl"))
          // checkpointing is REQUIRED here, not an optimization: the jump
          // self-join embeds the previous round's plan twice, so without
          // lineage truncation the logical plan doubles per round and the
          // AQE explain string alone OOMs the driver after ~15 rounds.
          // (.cache() does NOT truncate lineage — a review once swapped it
          // in and the driver OOM'd.) Storage: each round's
          // (doc_id, canonical_id) table is tiny relative to the corpus and
          // only O(log diameter) rounds run; dereferenced rounds are freed
          // by the ContextCleaner.
          val jumped = truncated(
            stepped.join(jumpMap, col("canonical_id") === col("__jid"), "left")
              .select(col("doc_id"),
                least(col("canonical_id"), coalesce(col("__jlbl"), col("canonical_id"))).as("canonical_id")))
          changed = jumped.join(ls.withColumnRenamed("canonical_id", "old"), "doc_id")
            .where(col("canonical_id") =!= col("old")).count()
          ls = jumped
          rounds += 1
        }
        require(changed == 0,
          s"survivorsOf min-label propagation failed to converge after $rounds rounds")
        ls
      }
    val untouched = universe
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("canonical_id"))
    labels.select(col("doc_id"), col("canonical_id")).union(untouched)
      .withColumn("is_survivor", (col("doc_id") === col("canonical_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination check — the pipeline step that keeps
    * evaluation data out of the training corpus: find (train, benchmark)
    * doc pairs sharing at least `minShared` word-3-gram shingles. Same
    * inverted-index equi-join as the dedup pair joins (shared surrogate
    * frame, df cutoff against boilerplate), but restricted to
    * train × benchmark — the candidate set is linear in true overlaps, and
    * at 100 TB the benchmark side is tiny and effectively broadcast.
    * `benchStart` stands in for the held-out set's id range. */
  def contaminationCheck(spark: SparkSession, dir: String, benchStart: Long = 450,
      minShared: Int = 3, maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    // (r18 A/B: the posting-list dejoin measured 0.80 → 1.05 s isolated
    // here — same verdict as [[pairIntersections]]; the join form stays.)
    val ex = surrogates(spark, dir)
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .where(col("df") <= maxDf)
      .drop("df")
    val train = ex.where(col("doc_id") < benchStart)
      .select(col("doc_id").as("train_id"), col("s"))
    val bench = ex.where(col("doc_id") >= benchStart)
      .select(col("doc_id").as("bench_id"), col("s"))
    train.join(bench, "s")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy(col("train_id"), col("bench_id"))
  }

  /** Cross-source overlap matrix — the data-governance analytic behind
    * mixture design: for every source pair, how many distinct word-3-gram
    * shingles they share, and the containment ratio vs the smaller side
    * (1.0 = one source's shingle set lives inside the other's — a scraped
    * mirror). Reuses the cached md5-surrogate frame; the self-join key is
    * the 60-bit shingle surrogate, whose per-key fanout is bounded by the
    * NUMBER OF SOURCES (config-sized, not corpus-sized), so no df cutoff is
    * needed — the hot-shingle quadratic risk of doc-level pair joins cannot
    * arise at source granularity. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val srcSh = sourceShingles(spark, dir)
    val sizes = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sourcePairs(spark, dir)
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 4).as("containment"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Distinct (source, shingle-surrogate) frame — cached per (session,
    * dir): [[sourceOverlap]] and [[sourcePagerank]] both derive their
    * source-pair edges from it, so the docs join + distinct runs once per
    * dataset. */
  private val srcShingleCache = Memo[(SparkSession, String), DataFrame](this, _.unpersist())

  private def sourceShingles(spark: SparkSession, dir: String): DataFrame =
    srcShingleCache((spark, dir))(
      surrogates(spark, dir)
        .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("s")).distinct()
        .cache())

  /** Source-pair shared-shingle counts (source_a < source_b) — the
    * overlap matrix's self-join, cached per (session, dir) because it is
    * the single expensive step both [[sourceOverlap]] and
    * [[sourcePagerank]] pay; the per-key fanout is bounded by the NUMBER
    * OF SOURCES (config-sized), so the cached frame is tiny. */
  private val srcPairCache = Memo[(SparkSession, String), DataFrame](this, _.unpersist())

  private def sourcePairs(spark: SparkSession, dir: String): DataFrame =
    srcPairCache((spark, dir)) {
      // posting-list dejoin (the [[pairIntersections]] shape): per-shingle
      // sorted source set + codegen i<j expansion — one exchange instead
      // of the self-join's two probe passes; fanout per key is bounded by
      // the source count, so no size cutoff is needed
      sourceShingles(spark, dir)
        .groupBy(col("s"))
        .agg(sort_array(collect_set(col("source"))).as("ids"))
        .where(size(col("ids")) >= 2)
        .select(explode(sortedPairs(col("ids"))).as("pr"))
        .groupBy(col("pr.id_a").as("source_a"), col("pr.id_b").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .cache()
    }

  /** Rank scale for [[sourcePagerank]]: ranks are integers in units of
    * 10⁻¹² of the total probability mass, so every arithmetic step is
    * exact long math and the fixpoint is bit-identical across engines and
    * partitionings. */
  private[graft] val PagerankScale = 1000000000000L

  /** Source-level PageRank over the shingle-overlap graph — the web-graph
    * quality prior (CommonCrawl-style host ranking) at mixture-design
    * granularity: sources that share content with many well-connected
    * sources rank high; isolated or mirror-only sources sink to the
    * teleport floor. Nodes = distinct `source` values; edges = the same
    * source-pair shingle counts [[sourceOverlap]] reports (symmetric);
    * 10 join-based power iterations with damping 0.85.
    *
    * All arithmetic is exact long math in 10⁻¹² rank units (floor division
    * per edge), so the result is deterministic under any partitioning and
    * the oracle can replay the identical iteration as unrolled SQL — the
    * same trick bpe_merges uses for its training chain.
    *
    * Scale: each iteration is one keyed equi-join (ranks ⋈ edges on src)
    * plus one groupBy(dst) — the generic distributed power-iteration shape
    * that takes a billion-edge host graph; here the edge list derives from
    * shingle overlap, whose per-key fanout is bounded by the NUMBER of
    * sources (config-sized — dozens of mixture sources, not open-web
    * hosts). The only driver values are the node count and the two
    * constants derived from it. */
  def sourcePagerank(spark: SparkSession, dir: String, iters: Int = 10): DataFrame = {
    val pairs = sourcePairs(spark, dir)
      .select(col("source_a").as("src"), col("source_b").as("dst"),
        col("n_shared").as("w"))
    val edges = pairs.select(col("src"), col("dst"), col("w"))
      .union(pairs.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val nodes = Tables.documents(spark, dir).select(col("source")).distinct()
    pagerankIterate(spark, nodes, edges, iters)
  }

  /** The generic distributed power iteration — `nodes` one `source` row
    * per vertex, `edges` (src, dst, w) long-weighted and already
    * symmetrized if undirected. Each round is one keyed equi-join
    * (ranks ⋈ edges on src) plus one groupBy(dst) — the shape that takes
    * a billion-edge host graph. Each round's ranks frame (node-count-
    * sized — tiny) is `localCheckpoint`ed, which BOTH materializes it and
    * truncates its logical plan to a one-line `LogicalRDD`: without the
    * truncation, round i's plan embeds round i-1's in full (plus `e`'s
    * cached plan at every level), so the 10-round plan tree — and the
    * SQL-listener's plan description string — grows multiplicatively and
    * can exhaust driver heap before a single row is computed; with it, no
    * action ever carries more than one round of lineage, so at a billion
    * edges a straggler recompute replays one join, not the whole chain
    * (a cluster deployment would use a reliable `checkpoint` to the same
    * effect). Exact long math in [[PagerankScale]] units (floor division
    * per edge), so the fixpoint is bit-identical across engines and
    * partitionings. */
  /** Invariant: edges whose source is absent from `nodes` contribute
    * nothing (silently dropped by the ranks-on-src join distributed, by
    * an explicit filter on the driver); destinations outside `nodes`
    * receive mass that the rank rebuild never reads. Callers wanting
    * strict input checking should validate before the loop. */
  private[graft] def pagerankIterate(spark: SparkSession, nodesIn: DataFrame,
      edges: DataFrame, iters: Int, allowDriver: Boolean = true): DataFrame = {
    val nodesP = nodesIn.persist()
    val edgesP = edges.persist()
    val n = nodesP.count()
    val m = edgesP.count()
    // Small-graph fast path — the driver-CC-under-cap pattern: a SOURCE-
    // granularity graph has config-bounded nodes (dozens of mixture
    // sources), so the 10-round loop over it is pure fixed Spark-job
    // overhead (~4 s of scheduling for 20 rows). Under the cap the exact
    // integer loop runs on the driver — bit-identical math, same oracle
    // hash — and the distributed path below stays the one a DOC- or
    // host-granularity graph (DedupScaleBench's 500k-doc sweep) takes.
    val result =
      if (allowDriver && n <= DriverPagerankMaxNodes && m <= DriverPagerankMaxEdges)
        pagerankDriver(spark, nodesP, edgesP, iters, n)
      else pagerankDistributed(spark, nodesP, edgesP, iters, n)
    nodesP.unpersist(false)
    edgesP.unpersist(false)
    result
  }

  /** Caps for the driver fast path: both frames must be collected, so the
    * bound is what a driver comfortably holds (3 longs × 10⁶ edges). */
  private[graft] val DriverPagerankMaxNodes = 100000L
  private[graft] val DriverPagerankMaxEdges = 1000000L

  /** Exact pagerank loop on the driver — the SAME arithmetic as
    * [[pagerankDistributed]] statement for statement (all operands
    * non-negative, so SQL `div` = Scala `/` floor division); planted-
    * fixture spec asserts the two paths bit-agree. */
  private def pagerankDriver(spark: SparkSession, nodes: DataFrame,
      edges: DataFrame, iters: Int, n: Long): DataFrame = {
    val base = (15L * PagerankScale) / (100L * n)
    val nodeArr = nodes.collect().map(_.getString(0)).sorted
    val nodeSet = nodeArr.toSet
    // Edges whose SOURCE is absent from the node frame are silently
    // dropped — exactly what the distributed path's ranks-on-src join
    // does — so the two paths agree on inconsistent input too instead of
    // this one throwing on rank(s). (Unknown destinations need no filter:
    // their contributions land in keys the rank rebuild never reads,
    // matching the distributed left join.)
    val es = edges.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .filter(t => nodeSet(t._1))
    val outw = es.groupBy(_._1).map { case (s, g) => (s, g.map(_._3).sum) }
    val r6 = es.map { case (s, d, w) => (s, d, (w * 1000000L) / outw(s)) }
    var rank = nodeArr.map(s => (s, PagerankScale / n)).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[String, Long]
      for ((s, d, q) <- r6)
        contrib(d) = contrib.getOrElse(d, 0L) + (rank(s) * q) / 1000000L
      rank = nodeArr.map(s => (s, base + (85L * contrib.getOrElse(s, 0L)) / 100L)).toMap
    }
    import spark.implicits._
    nodeArr.map(s => (s, rank(s))).toSeq.toDF("source", "rank_e12")
      .orderBy(col("rank_e12").desc, col("source").asc)
  }

  private def pagerankDistributed(spark: SparkSession, nodes: DataFrame,
      edges: DataFrame, iters: Int, n: Long): DataFrame = {
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // per-edge transition ratio quantized to micro-units: w/outw ≤ 1, so
    // r6 ≤ 10⁶ and the per-round product rank·r6 ≤ 10¹⁸ stays inside a
    // long for ANY edge weights — `rank * w` directly would overflow once
    // corpus-scale weights (shared-shingle counts ~10⁷) meet 10¹²-unit
    // ranks. Ratios under 10⁻⁶ quantize to zero: ≤ 10⁻⁶ of the source's
    // mass per such edge, the documented precision of the prior.
    val e = edges.join(outw, "src")
      .withColumn("r6", expr("(w * 1000000) div outw"))
      .persist()
    val base = (15L * PagerankScale) / (100L * n)
    // Release a round's checkpointed block once the following round is
    // materialized — node-count-sized each, but a billion-node graph
    // times `iters` rounds would otherwise pin `iters` copies.
    def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
        case _ => None
      }
    var ranks = nodes.select(col("source"), lit(PagerankScale / n).as("rank"))
    var prev: Option[org.apache.spark.rdd.RDD[_]] = None
    // Truncate every `checkpointEvery` rounds, not every round: each
    // eager checkpoint is a full job (scheduling + codegen), so per-round
    // truncation pays 10 jobs where 4 suffice; 3 un-truncated rounds keep
    // the plan tree (and a straggler's recompute window) small.
    val checkpointEvery = 3
    for (i <- 1 to iters) {
      val contrib = e.join(ranks.withColumnRenamed("source", "src"), "src")
        .select(col("dst"), expr("(rank * r6) div 1000000").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "source"), Seq("source"), "left")
        .select(col("source"),
          (lit(base) + expr("(85 * coalesce(contrib, 0)) div 100")).as("rank"))
      if (i % checkpointEvery == 0 || i == iters) {
        ranks = ranks.localCheckpoint() // eager: materializes AND truncates
        prev.foreach(r => scala.util.Try(r.unpersist(false)))
        prev = checkpointRdd(ranks)
      }
    }
    // Final ranks are materialized in their checkpoint block, so the
    // loop input can be released now. The final block itself must outlive
    // this call (the returned frame reads it), so it is pinned until the
    // memo sweep instead of unpersisted here — without that, one
    // node-count-sized block leaked per pagerank call for the session
    // lifetime.
    e.unpersist(false)
    prev.foreach(r => Memo.pin(this, r))
    ranks.select(col("source"), col("rank").as("rank_e12"))
      .orderBy(col("rank_e12").desc, col("source").asc)
  }

  /** N-gram novelty: the fraction of a doc's distinct shingles whose FIRST
    * corpus occurrence (min doc_id) is the doc itself — the freshness
    * signal an ordered-ingest pipeline cuts on (novelty → keep; ~0 →
    * repeat of earlier content; between → partial rehash). One shuffle on
    * the cached 60-bit surrogate to find first owners, one broadcast-safe
    * keyed count per doc; integers throughout, so order-independent. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // (r18 A/B: the posting-list dejoin measured flat isolated and slower
    // in suite context — the join form stays; see OPTIMIZATION_r18.md.)
    val ex = surrogates(spark, dir)
    val firstOwner = ex.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    ex.join(firstOwner, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 4).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Incremental exact dedup — the production shape: a NEW batch of docs
    * (doc_id >= batchStart stands in for today's arrivals) checked against
    * the EXISTING corpus (doc_id < batchStart). Content-hash equi-join,
    * left join so unseen docs survive with is_dup = 0; dup_of = the lowest
    * matching corpus id. At 100 TB the corpus side is a pre-hashed table
    * and the daily batch is the small broadcastable side — same plan. */
  def dedupIncremental(spark: SparkSession, dir: String, batchStart: Long = 400): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(norm).as("content_hash"))
    val corpus = hashed.where(col("doc_id") < batchStart)
      .groupBy(col("content_hash")).agg(min(col("doc_id")).as("dup_of"))
    hashed.where(col("doc_id") >= batchStart)
      .join(corpus, Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        (col("dup_of").isNotNull).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-filter prefilter for incremental ingest — the fixed-memory
    * membership sketch next to q14's HLL, q18's KMV, cms_topk's CMS and the
    * streaming Space-Saving summary: 4 bit positions per document derived
    * from the shared content-hash md5 (8 hex chars each, mod `mBits`), the
    * historical corpus folded into a ≤`mBits`-row distinct-position frame —
    * membership state bounded by the FILTER size, not the corpus, which is
    * the entire point at 100 TB (the exact [[dedupIncremental]] join must
    * shuffle corpus-sized hash sets; the Bloom side broadcasts). Each batch
    * doc probes its (distinct) positions with one keyed equi-join;
    * `bloom_maybe` = all positions present. Emitted next to the exact
    * membership truth so the one-sided-error contract is visible per row:
    * `no_miss` (a dup never escapes the filter) is TRUE by construction —
    * a hash-checked invariant — while `false_positive` rows measure the
    * collision rate the m/n/k choice buys. Fully integer/md5 arithmetic →
    * DuckDB rebuilds the identical filter and every flag hash-matches. */
  def bloomDedup(spark: SparkSession, dir: String, batchStart: Long = 400,
      mBits: Long = 262144L): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(norm).as("h"))
    def bits = array_distinct(array((0 until 4).map(j =>
      conv(substring(col("h"), j * 8 + 1, 8), 16, 10).cast("long") % mBits): _*))
    val corpusBits = hashed.where(col("doc_id") < batchStart)
      .select(explode(bits).as("bit")).distinct()
    val probed = hashed.where(col("doc_id") >= batchStart)
      .select(col("doc_id"), explode(bits).as("bit"))
      .join(corpusBits.withColumn("present", lit(1)), Seq("bit"), "left")
      .groupBy(col("doc_id"))
      .agg((count(when(col("present").isNotNull, 1)) === count(lit(1))).as("bloom_maybe"))
    val corpusHash = hashed.where(col("doc_id") < batchStart)
      .select(col("h")).distinct().withColumn("dup", lit(1))
    hashed.where(col("doc_id") >= batchStart)
      .join(corpusHash, Seq("h"), "left")
      .join(probed, Seq("doc_id"))
      .select(col("doc_id"), col("bloom_maybe"),
        col("dup").isNotNull.cast("int").as("is_dup"),
        (col("bloom_maybe") && col("dup").isNull).as("false_positive"),
        (col("bloom_maybe") || col("dup").isNull).as("no_miss"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing parameters (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the
    * MOSS fingerprinting rule): k-gram size and window width. The
    * guarantee: any shared token run of at least k + w − 1 tokens shares
    * at least one selected fingerprint — robust copy detection with a
    * bounded, position-spread fingerprint density (≈ 2/(w+1) of grams),
    * unlike taking every k-gram (too many) or every j-th (alignment-
    * fragile). */
  val WinnowK = 5
  val WinnowW = 4

  private val winnowCache = Memo[(SparkSession, String), DataFrame](this, _.unpersist())

  /** Selected fingerprints (doc_id, fp, selpos): per window of [[WinnowW]]
    * consecutive k-gram hashes, the MINIMUM hash, ties to the RIGHTMOST
    * position; distinct across overlapping windows. Scale shape: the
    * per-doc window frame shuffles once by doc_id, and the rightmost-tie
    * resolve is an equi-join on (doc_id, hash) — never a per-doc
    * all-pairs. Hashes are the shared 60-bit md5 surrogate, so the oracle
    * derives the identical values. */
  private def winnowFps(spark: SparkSession, dir: String): DataFrame =
    winnowCache((spark, dir)) {
      val w = WinnowW
      val grams = winnowGrams(spark, dir)
      val wWin = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, w - 1)
      val wd = grams.withColumn("wmin", min(col("h")).over(wWin))
        .where(col("pos") <= col("m") - (w - 1))
        .select(col("doc_id"), col("pos").as("j"), col("wmin"))
      wd.join(grams.select(col("doc_id"), col("pos"), col("h").as("wmin")),
          Seq("doc_id", "wmin"))
        .where(col("pos").between(col("j"), col("j") + (w - 1)))
        .groupBy(col("doc_id"), col("j"), col("wmin"))
        .agg(max(col("pos")).as("selpos"))
        .select(col("doc_id"), col("wmin").as("fp"), col("selpos"))
        .distinct()
        .cache()
    }

  /** (doc_id, m, pos, h): the k-gram hash stream of every eligible doc
    * (≥ k + w − 1 tokens, so at least one full window exists). */
  private def winnowGrams(spark: SparkSession, dir: String): DataFrame = {
    val k = WinnowK
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .withColumn("m", size(col("toks")) - (k - 1))
      .where(col("m") >= WinnowW)
      .select(col("doc_id"), col("m"),
        posexplode(expr(s"transform(sequence(1, m), i -> array_join(slice(toks, i, $k), ' '))"))
          .as(Seq("p0", "gram")))
      .select(col("doc_id"), col("m"), (col("p0") + 1).as("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("h"))
  }

  /** Per-doc winnowing fingerprint summary: gram count, selected-
    * fingerprint count, and an order-canonical md5 digest of the whole
    * (position, hash) fingerprint set — the compact doc identity MOSS
    * compares. The digest string sorts by zero-padded "pos:fp" so both
    * engines agree on the aggregation order byte-for-byte. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnowFps(spark, dir)
    val item = concat(lpad(col("selpos").cast("string"), 6, "0"), lit(":"),
      lpad(col("fp").cast("string"), 19, "0"))
    val dig = fps.select(col("doc_id"), item.as("it"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        md5(concat_ws(",", sort_array(collect_list(col("it"))))).as("fp_digest"))
    val ng = winnowGrams(spark, dir).groupBy(col("doc_id"))
      .agg(first(col("m")).cast("long").as("n_grams"))
    ng.join(dig, "doc_id")
      .select(col("doc_id"), col("n_grams"), col("n_fp"), col("fp_digest"))
      .orderBy(col("doc_id"))
  }

  /** The winnowing fingerprint set of ONE document as a pure
    * higher-order-function Column — array of (fp, selpos) structs,
    * bit-identical to the set [[winnowFps]] derives for the same text
    * (spec + hash-gate asserted). The window-function batch form needs a
    * per-doc shuffle (partitionBy doc_id) plus a rightmost-tie equi-join;
    * this form is a NARROW projection — the whole fingerprinting pass runs
    * shuffle-free, which is both the streaming-ingest requirement (no
    * window functions on unbounded streams) and the cheaper batch plan.
    * Caller must pre-filter to eligible docs (≥ k+w−1 tokens, i.e.
    * m = tokens−k+1 ≥ w): `sequence(1, m−w+1)` needs a non-negative
    * range. */
  /** let-binding for HOF pipelines: evaluates `c` ONCE and exposes it to
    * `f` as a lambda variable. Non-lambda subtrees embedded in a
    * higher-order function's body are re-evaluated per element (no
    * cross-lambda CSE), so chaining transforms directly turns an O(m)
    * fingerprint pass into O(m²·k) md5 calls per row; routing each stage
    * through a 1-element array + transform makes every back-reference a
    * lambda-variable lookup. */
  private def bindCol(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  def winnowFpStructs(text: Column): Column = {
    val k = WinnowK
    val w = WinnowW
    bindCol(split(lower(text), "\\s+")) { toks =>
      val m = (size(toks) - (k - 1)).cast("int")
      bindCol(transform(sequence(lit(1), m), i =>
        conv(substring(md5(array_join(slice(toks, i, lit(k)), " ")), 1, 15), 16, 10)
          .cast("long"))) { hs =>
        array_distinct(transform(sequence(lit(1), size(hs) - (w - 1)), j => {
          val win = slice(hs, j, lit(w))
          val mn = array_min(win)
          // rightmost position of the window minimum — the winnowing tie rule
          val lastT = array_max(transform(sequence(lit(1), lit(w)), t =>
            when(element_at(win, t) === mn, t).otherwise(lit(0))))
          struct(mn.as("fp"), (j + lastT - lit(1)).as("selpos"))
        }))
      }
    }
  }

  /** [[winnowFingerprint]] recomputed through the per-row expression form —
    * same output schema and values, zero shuffles before the final sort.
    * Registered as a hash-checked gate against the SAME DuckDB oracle as
    * the window-function form, so the two derivations cannot drift. */
  def winnowRowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val k = WinnowK
    val w = WinnowW
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("m", size(split(lower(col("text")), "\\s+")) - (k - 1))
      .where(col("m") >= w)
      .select(col("doc_id"), col("m").cast("long").as("n_grams"),
        graft.functions.WinnowExpressions.winnowFps(spark, col("text")).as("fps"))
      .select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fp"),
        md5(array_join(sort_array(transform(col("fps"), f =>
          concat(lpad(f.getField("selpos").cast("string"), 6, "0"), lit(":"),
            lpad(f.getField("fp").cast("string"), 19, "0")))), ",")).as("fp_digest"))
      .orderBy(col("doc_id"))
  }

  /** Static (fp, src_id) fingerprint index of a corpus — the df-capped
    * distinct winnow fingerprints [[winnowOverlap]] pairs on, exposed for
    * the streaming ingest join (stream fingerprints vs this frozen index).
    * Served from the shared [[winnowFps]] cache. */
  def winnowCorpusIndex(spark: SparkSession, dir: String,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val dfps = winnowFps(spark, dir)
      .select(col("doc_id").as("src_id"), col("fp")).distinct()
    val rare = dfps.groupBy(col("fp"))
      .agg(countDistinct(col("src_id")).as("df"))
      .where(col("df") <= maxDf).select(col("fp"))
    dfps.join(rare, "fp")
  }

  /** [[winnowCorpusIndex]] over ANY (doc_id, text) frame, fingerprinted by
    * the row-form expression — shuffle-free until the distinct, so building
    * a fresh index from an ad-hoc corpus costs one narrow pass + one
    * aggregate. The dir form stays tied to the shared [[winnowFps]] cache
    * (and through it to the oracle-checked batch derivation); the spec
    * asserts the two derivations are bit-identical. */
  def winnowCorpusIndexOf(docs: DataFrame, maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val k = WinnowK
    val w = WinnowW
    val dfps = docs
      .where(size(split(lower(col("text")), "\\s+")) - (k - 1) >= w)
      .select(col("doc_id").as("src_id"),
        explode(graft.functions.WinnowExpressions
          .winnowFps(docs.sparkSession, col("text"))).as("f"))
      .select(col("src_id"), col("f.fp").as("fp"))
      .distinct()
    val rare = dfps.groupBy(col("fp"))
      .agg(countDistinct(col("src_id")).as("df"))
      .where(col("df") <= maxDf).select(col("fp"))
    dfps.join(rare, "fp")
  }

  /** Winnowing copy-detection pairs: docs sharing ≥ `minShared` selected
    * fingerprints (distinct hash values; the df cutoff drops boilerplate
    * fingerprints shared corpus-wide — the same hot-key cap as the ngram
    * pair join). By the winnowing theorem every verbatim overlap of
    * ≥ k+w−1 tokens contributes at least one shared fingerprint. */
  def winnowOverlap(spark: SparkSession, dir: String,
      maxDf: Int = DefaultMaxShingleDf, minShared: Int = 2): DataFrame = {
    // Posting-list dejoin (guide §2.3/§2.4, the [[pairIntersections]]
    // shape): one aggregation to (fp → sorted doc set), df cutoff as a
    // size filter (over distinct (doc_id, fp) rows size(collect_set) IS
    // the old countDistinct), i<j pairs expanded in codegen. Replaces
    // three passes over the fingerprint frame (df aggregate + two join
    // probes) and the pair self-join with one exchange on fp + the pair
    // count's exchange — identical pair multiset, so n_shared matches.
    winnowFps(spark, dir).select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .where(size(col("ids")).between(2, maxDf))
      .select(explode(sortedPairs(col("ids"))).as("pr"))
      .groupBy(col("pr.id_a").as("id_a"), col("pr.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Decontamination — the REMOVAL form of [[contaminationCheck]]: the
    * training slice with every doc sharing ≥ `minShared` (df-capped)
    * shingles with ANY held-out doc dropped via LEFT ANTI join — what a
    * pipeline actually ships after the check reports. Emits the surviving
    * train docs; the contaminated-set build is the check's own join, so
    * the two cannot drift. */
  def decontaminate(spark: SparkSession, dir: String, benchStart: Long = 450,
      minShared: Int = 3, maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val dirty = contaminationCheck(spark, dir, benchStart, minShared, maxDf)
      .select(col("train_id")).distinct()
    Tables.documents(spark, dir)
      .where(col("doc_id") < benchStart)
      .join(dirty, col("doc_id") === col("train_id"), "left_anti")
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup RETRIEVAL: for each query doc (doc_id ≡ 0 mod `qMod` — a
    * deterministic fixture, the id-hash-sampling idiom), the top-k most
    * Jaccard-similar OTHER docs over the same shingle inverted index as
    * the pair join — attribution / "find the source of this span" served
    * as a query. Asymmetric form of [[dedupNgramJaccard]]: the query side
    * is restricted BEFORE the index join, so fanout is per-query-shingle,
    * and the df cutoff bounds each shingle's posting list exactly as in
    * the pair join (oracle-mirrored). The rank window partitions by query
    * id over candidates bounded by (shingles/doc)·maxDf — never the
    * corpus. */
  def textSimTopK(spark: SparkSession, dir: String, qMod: Long = 100, k: Int = 5,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val counts = shingled(spark, dir).select(col("doc_id"), size(col("sh")).as("n"))
    // (r18 A/B: the posting-list dejoin measured 0.80 → 0.90 s isolated
    // here — same verdict as [[pairIntersections]]; the join form stays.)
    val exF = surrogates(spark, dir)
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .where(col("df") <= maxDf)
      .drop("df")
    val inter = exF.as("a").join(exF.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .where(col("a.doc_id") % qMod === 0) // pushes below the join's a-side
      .groupBy(col("a.doc_id").as("qid"), col("b.doc_id").as("did"))
      .agg(count(lit(1)).as("c"))
    val scored = inter
      .join(counts.select(col("doc_id").as("qid"), col("n").as("nq")), "qid")
      .join(counts.select(col("doc_id").as("did"), col("n").as("nd")), "did")
      // integer inputs + one division: bit-identical across engines, so
      // ranking on the RAW double (ties broken by id) is engine-stable
      .withColumn("jaccard", col("c").cast("double") / (col("nq") + col("nd") - col("c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("jaccard").desc, col("did").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid").as("query_doc"), col("rank"), col("did").as("match_doc"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("query_doc"), col("rank"))
  }

  /** Embedding-cosine near-dup pairs (exact all-pairs form — the oracle
    * twin; the LSH-bucketed scale path lives in [[Similarity]]). Norms are
    * precomputed per row BEFORE the join, so each pair pays one dot-product
    * fold instead of three. */
  def dedupEmbeddingCosine(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), normNative(spark, col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", dotNative(spark, col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
