package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event row (mirrors the `events` table schema). */
case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** One arriving document (streaming-ingest twin of the `documents` table). */
case class Doc(doc_id: Long, ts: Timestamp, text: String)

/** An arriving embedding row (the streaming-ingest vector shape). */
case class EmbRow(vec_id: Long, ts: Timestamp, embedding: Array[Float])

/** Closed user session emitted by the stateful sessionizer. */
case class Session(user_id: Long, start_ts: Timestamp, end_ts: Timestamp, n_events: Long, sum_value: Double)

private case class SessionState(start: Long, last: Long, n: Long, sum: Double)

/** Purchase enriched with the latest click state by the streaming as-of. */
case class AsofMatch(event_id: Long, user_id: Long, value: Double,
    asof_value: Option[Double], micros_since_match: Option[Long])

private case class ClickState(ts: Long, value: Double)

/** Candidate near-dup pair emitted by the streaming MinHash LSH. */
case class CandidatePair(id_a: Long, id_b: Long, band: Int)

/** One A-ES weighted-sample pick emitted at window close. */
case class WeightedPick(win_start: Timestamp, rank: Int, doc_id: Long,
    cluster_size: Long, skey: Double)

private case class SampleState(entries: Seq[(Long, Long, Double)])

/** One trending-token row emitted when its window closes. `est_count`
  * overestimates the true windowed count by at most `max_err`
  * (Space-Saving guarantee: est − err ≤ true ≤ est). */
case class TrendingToken(win_start: Timestamp, rank: Int, token: String,
    est_count: Long, max_err: Long)

private case class TopkState(entries: Map[String, (Long, Long)])

/** One standing-query retrieval hit emitted when its window closes. */
case class RetrievalHit(win_start: Timestamp, qid: Long, rank: Int, doc_id: Long, bm25: Double)

private case class RetrievalState(entries: List[(Double, Long)])

private case class BucketState(ids: List[Long], newestMs: Long)

/** Structured Streaming surface (SURVEY.md §2b: absent in the reference,
  * exposed here because a 100 TB ingestion pipeline is fed by streams).
  * Transforms are defined on the streaming Dataset so the SAME code runs on
  * `readStream` sources in production and on MemoryStream in specs.
  */
object StreamingOps {

  /** Stream-static helper frames cached per stream construction (catalogs,
    * corpus indexes, cluster sizes), pinned in [[graft.core.Memo]] so a
    * long-lived service that builds many streams releases them all with the
    * memo sweep instead of accumulating orphaned storage blocks. Release
    * between datasets or stream teardowns, not while a stream using one is
    * still running. */
  private def pin(df: DataFrame): DataFrame = graft.core.Memo.pin(this, df.cache())

  /** Exact microseconds since epoch (`unix_micros` semantics). getTime is
    * millisecond-truncated; the batch twins compare times in micros, so the
    * streaming state must too or sub-millisecond event times diverge. */
  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Tumbling-window event aggregation with a watermark — the canonical
    * `readStream -> withWatermark -> window -> agg` shape. Late data beyond
    * 10 minutes is dropped; output mode Append emits finalized windows. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Windowed distinct-user cardinality — the streaming monitoring agg
    * (unique actives per window) via the HLL sketch, since exact distinct
    * over an unbounded stream would hold every id in state; the watermark
    * finalizes windows and bounds sketch state. The batch twin is q14's
    * gated approx_count_distinct. */
  def streamingWindowedUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("approx_users"), col("n_events"))

  /** Windowed count-min sketch at ingest — the streaming twin of
    * [[graft.operators.TextAnalysis.cmsHeavyHitters]]: per event-time
    * window, build the same `rows`×`width` md5-derived sketch over
    * arriving doc tokens (shared bucket family, so batch and stream
    * sketches are bit-identical — spec-asserted). State per window is
    * capped at rows×width cells BY CONSTRUCTION — that is the sketch's
    * whole point — and the watermark closes windows, so total state is
    * horizon-bounded however hot the traffic. Downstream estimates any
    * token's windowed frequency as the min over its d cells. */
  def streamingCmsSketch(docs: DataFrame, rows: Int = 4, width: Int = 1024,
      windowLen: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .select(col("ts"),
        explode(graft.operators.TextAnalysis.cmsCells(col("token"), rows, width)).as("rb"))
      .groupBy(window(col("ts"), windowLen), col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("r"), col("b"), col("cnt"))

  /** Windowed trending tokens under BOUNDED state — the Space-Saving
    * summary (Metwally et al. 2005) as a per-window `GroupState`: exact
    * per-(window, token) counting needs vocabulary-sized state, which an
    * open-vocabulary 100 TB/day stream cannot afford; this keeps at most
    * `capacity` (token, est, err) entries per open window and still
    * guarantees (a) est − err ≤ true ≤ est for every emitted token and
    * (b) any token with true count > window_total / capacity IS in the
    * summary. Eviction replaces the minimum-count entry, charging its
    * count as the newcomer's error — the textbook algorithm, merged
    * batch-by-batch in event-time order for determinism. The window
    * emits its top-k once the watermark passes its end (event-time
    * timeout — the same bounded-state discipline as the other stateful
    * ops here). The batch twins are `vocab_topk` (exact) and `cms_topk`
    * (estimate-any-token); this is the stream-native "what is trending
    * NOW" form. */
  def streamingTopkTokens(docs: DataFrame, k: Int = 10, capacity: Int = 50,
      windowMs: Long = 5L * 60 * 1000, watermark: String = "10 minutes"): Dataset[TrendingToken] = {
    import docs.sparkSession.implicits._
    val toks = docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .select((floor(unix_millis(col("ts")) / windowMs).cast("long") * windowMs).as("win"),
        col("token"), col("ts"))
      .as[(Long, String, Timestamp)]
    toks.groupByKey(_._1)
      .flatMapGroupsWithState[TopkState, TrendingToken](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (win: Long, it: Iterator[(Long, String, Timestamp)], state: GroupState[TopkState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            st.entries.toSeq
              .sortBy { case (t, (est, _)) => (-est, t) }
              .take(k).zipWithIndex
              .map { case ((t, (est, err)), i) =>
                TrendingToken(new Timestamp(win), i + 1, t, est, err)
              }.iterator
          } else {
            var m = state.getOption.map(_.entries).getOrElse(Map.empty[String, (Long, Long)])
            // event-time order within the batch: Space-Saving is
            // arrival-order-dependent, so a deterministic merge order
            // keeps reruns bit-identical
            for ((_, token, _) <- it.toSeq.sortBy(r => (r._3.getTime, r._2))) {
              m.get(token) match {
                case Some((est, err)) => m += token -> (est + 1, err)
                case None if m.size < capacity => m += token -> (1L, 0L)
                case None =>
                  val (mt, (mc, _)) = m.minBy { case (t, (est, _)) => (est, t) }
                  m = m - mt + (token -> (mc + 1, mc))
              }
            }
            state.update(TopkState(m))
            state.setTimeoutTimestamp(
              math.max(win + windowMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Ingest-side fuzzy entity matching — the streaming serve half of
    * [[graft.operators.Dedup.fuzzyEntityMatch]]: arriving dirty records
    * block-join stream-static against the frozen catalog (same prefix-4
    * key + ±2 length-band residual) and score through the SAME codegen
    * Jaro-Winkler + levenshtein pair, so stream candidates are
    * bit-identical to the batch blocked join's (spec-asserted). Stateless
    * by design: every qualifying (arrival, catalog) candidate is emitted
    * with its scores — the best-match rank is a consumer-side choice,
    * because a per-arrival top-1 would need keyed state for no benefit at
    * ingest. Catalog is cached (stream-static joins re-evaluate the
    * static subplan every micro-batch). */
  def streamingFuzzyMatch(arrivals: DataFrame, catalog: DataFrame,
      minJw: Double = 0.9): DataFrame = {
    val spark = arrivals.sparkSession
    val cat = pin(catalog
      .select(col("key"), col("cname"), substring(col("cname"), 1, 4).as("blk")))
    arrivals
      .select(col("id").cast("long").as("id"), col("ts"), col("name"))
      .withColumn("blk", substring(col("name"), 1, 4))
      .join(cat, Seq("blk"))
      .where(abs(length(col("name")) - length(col("cname"))) <= 2)
      .withColumn("jw", graft.functions.EditDistanceExpressions
        .jaroWinkler(spark, col("name"), col("cname")))
      .where(col("jw") >= minJw)
      .select(col("id"), col("ts"), col("key").as("matched_key"),
        levenshtein(col("name"), col("cname")).cast("long").as("edit_distance"),
        col("jw"))
  }

  /** Ingest-side A-ES weighted sampling — the streaming twin of
    * [[graft.operators.Dedup.softWeightSample]]: arriving docs join their
    * cluster size from the frozen soft-dedup labels (stream-static), the
    * ranking key is the IDENTICAL 6-dp-rounded ln(u)·cluster_size
    * arithmetic, and a per-window bounded top-n state (n entries, pure
    * set-top-n — arrival-order-INdependent, unlike Space-Saving) emits the
    * ranked sample at window close by event-time timeout. With one window
    * covering the batch rows, stream picks equal the batch top-n
    * bit-for-bit (spec-asserted). */
  def streamingWeightedSample(docs: DataFrame, clusterSizes: DataFrame,
      n: Int = 100, windowMs: Long = 5L * 60 * 1000,
      watermark: String = "10 minutes"): Dataset[WeightedPick] = {
    import docs.sparkSession.implicits._
    val sizes = pin(clusterSizes.select(col("doc_id"), col("cluster_size")))
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("double") / lit(1152921504606846976.0)
    val keyed = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"))
      .join(sizes, Seq("doc_id"))
      .select(
        (floor(unix_millis(col("ts")) / windowMs).cast("long") * windowMs).as("win"),
        col("doc_id"), col("cluster_size").cast("long").as("cluster_size"),
        round(log(u) * col("cluster_size"), 6).as("skey"), col("ts"))
      .as[(Long, Long, Long, Double, Timestamp)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[SampleState, WeightedPick](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (win: Long, it: Iterator[(Long, Long, Long, Double, Timestamp)],
            state: GroupState[SampleState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            st.entries.sortBy { case (id, _, k) => (-k, id) }
              .take(n).zipWithIndex
              .map { case ((id, cs, k), i) =>
                WeightedPick(new Timestamp(win), i + 1, id, cs, k)
              }.iterator
          } else {
            val prev = state.getOption.map(_.entries).getOrElse(Seq.empty)
            val merged = (prev ++ it.map(t => (t._2, t._3, t._4)))
              .distinct
              .sortBy { case (id, _, k) => (-k, id) }
              .take(n)
            state.update(SampleState(merged))
            state.setTimeoutTimestamp(
              math.max(win + windowMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Streaming exact dedup — the ingestion-side twin of
    * [[graft.operators.Dedup.dedupExact]]: same normalization, same md5
    * content key, applied as documents ARRIVE. `dropDuplicatesWithinWatermark`
    * keeps state only for the watermark horizon, so state is bounded by the
    * dedup window instead of growing with the corpus — the only shape that
    * survives an unbounded 100 TB/day stream. First occurrence wins (the
    * batch op keeps min doc_id; a stream can't see the future, so
    * first-arrival is the streaming analogue). */
  def streamingDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("ts"), col("content_hash"))

  /** Ingest-side verbatim-copy detection — the streaming twin of
    * [[graft.operators.Dedup.winnowOverlap]]: each arriving doc's MOSS
    * winnowing fingerprints are computed by the shuffle-free per-row
    * expression form ([[graft.operators.Dedup.winnowFpStructs]] —
    * bit-identical to the batch window-function derivation, hash-gated by
    * `winnow_rowform_gate`), exploded, and equi-joined stream-static
    * against a frozen corpus fingerprint index
    * ([[graft.operators.Dedup.winnowCorpusIndex]]). A watermarked windowed
    * count per (arriving doc, corpus doc) then applies the same
    * ≥ `minShared` bar as the batch pair join, so any arriving doc sharing
    * a ≥ k+w−1-token verbatim run with an indexed doc is flagged at ingest
    * (the winnowing guarantee). Scale shape: narrow fingerprinting, one
    * shuffle on the fingerprint key against a df-capped index, state
    * bounded by window×arrival volume — nothing corpus-sized on the
    * stream side. */
  def streamingWinnowMatches(docs: DataFrame, corpusIndex: DataFrame,
      minShared: Long = 2, watermark: String = "10 minutes",
      windowDur: String = "5 minutes"): DataFrame = {
    val k = graft.operators.Dedup.WinnowK
    val w = graft.operators.Dedup.WinnowW
    // stream-static joins re-evaluate the static subplan every micro-batch
    val idx = pin(corpusIndex)
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"), col("text"))
      .where(size(split(lower(col("text")), "\\s+")) - (k - 1) >= w)
      .select(col("doc_id"), col("ts"),
        // the native kernel is the transform's INPUT (evaluated once per
        // row); the lambda is a cheap per-element field access, and the
        // per-row array_distinct keeps the op stateless — a stream-level
        // dropDuplicates here would grow unbounded state
        explode(array_distinct(transform(
          graft.functions.WinnowExpressions.winnowFps(docs.sparkSession, col("text")),
          f => f.getField("fp")))).as("fp"))
      .withWatermark("ts", watermark)
      .join(idx, Seq("fp"))
      .groupBy(window(col("ts"), windowDur), col("doc_id"), col("src_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(col("window.start").as("win_start"), col("doc_id"),
        col("src_id"), col("n_shared"))
  }

  /** Ingest-side URL dedup — web-pipeline STAGE ZERO at the stream: each
    * arriving (doc_id, ts, url) row canonicalizes through the ONE shared
    * column expression ([[graft.operators.CorpusPipeline.canonicalizeUrl]]
    * — the same rules the batch `url_canonical_dedup` hash-checks against
    * DuckDB, bit-identity spec-asserted), and later arrivals whose
    * canonical URL collides within the watermark horizon are dropped —
    * the same bounded-state shape as [[streamingDedup]], applied BEFORE
    * any content fetch/hash so duplicate surface spellings never cost a
    * download. Stateless canonicalization + horizon-bounded key state. */
  def streamingUrlDedup(urls: DataFrame, watermark: String = "10 minutes"): DataFrame =
    urls
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"),
        graft.operators.CorpusPipeline.canonicalizeUrl(col("url")).as("curl"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("curl")
      .select(col("doc_id"), col("ts"), col("curl"))

  /** Ingest-side temperature resampling — the streaming twin of
    * [[graft.operators.CorpusPipeline.sampleTemperature]]: the
    * batch-computed per-language keep rates (frozen corpus statistics —
    * a handful of rows, the trained-model-as-literal pattern) ride to
    * the stream as a broadcast stream-static join, and each arriving doc
    * keeps or drops by the SAME 60-bit id-hash decision the batch op
    * uses — a doc admitted at ingest is exactly the doc the batch pass
    * would have kept (spec-asserted). Stateless narrow filter: no state
    * store, no shuffle. */
  def streamingTemperatureSample(docs: DataFrame, rates: DataFrame): DataFrame = {
    val r = pin(rates.select(col("lang"), col("rate_micro")))
    val hashU = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("double") / 1152921504606846976.0
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"), col("lang"))
      .join(r, Seq("lang"))
      .where(hashU < col("rate_micro").cast("double") / 1000000.0)
      .select(col("doc_id"), col("ts"), col("lang"), col("rate_micro"))
  }

  /** Ingest-side benchmark decontamination — the streaming twin of
    * [[graft.operators.CorpusPipeline.decontaminate]]: each arriving
    * doc's distinct word n-gram surrogates come from the SAME per-row
    * expression the batch op uses
    * ([[graft.operators.CorpusPipeline.ngramSurrogates]] — bit-identical
    * keys by construction), exploded and equi-joined stream-static
    * against the frozen benchmark n-gram index
    * ([[graft.operators.CorpusPipeline.benchmarkNgramIndex]] — eval-set
    * sized, so the static side broadcasts). A watermarked windowed count
    * per arriving doc emits (win_start, doc_id, n_hits) for every
    * CONTAMINATED arrival — the flag stream a router drops before any
    * training shard is written; clean docs produce no join rows and no
    * state. Scale shape: narrow stateless fingerprinting, a map-side
    * broadcast probe, state bounded by window × contaminated-arrival
    * volume (normally ~0 — contamination is the rare case). */
  def streamingDecontamFlags(docs: DataFrame, benchIndex: DataFrame,
      watermark: String = "10 minutes", windowDur: String = "5 minutes"): DataFrame = {
    val idx = pin(benchIndex)
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"),
        explode(graft.operators.CorpusPipeline.ngramSurrogates(
          graft.operators.Dedup.tokens(col("text")),
          graft.operators.CorpusPipeline.DecontamN)).as("s"))
      .withWatermark("ts", watermark)
      .join(idx, Seq("s"))
      .groupBy(window(col("ts"), windowDur), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("window.start").as("win_start"), col("doc_id"), col("n_hits"))
  }

  /** Ingest-side PERCEPTUAL dedup — [[streamingDedup]]'s media twin: each
    * arriving doc runs the SAME batch thumbnail + aHash pass
    * ([[graft.operators.Multimodal.withAhash]], bit-identity
    * spec-asserted), and later arrivals whose 64-bit signature collides
    * within the watermark horizon are dropped. Exact-collision semantics
    * match `mm_image_ahash`; the Hamming-ball NEAR-miss stage stays a
    * batch/incremental pass (`mm_image_neardup` /
    * `mm_neardup_incremental`) — a streaming ball match would need
    * per-chunk candidate state, not a keyed drop. State is bounded by the
    * horizon's arrival volume, like the text dedup's. */
  def streamingPerceptualDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    graft.operators.Multimodal.withAhash(
        graft.operators.Multimodal.thumbnailsWithTs(docs))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("ahash")
      .select(col("doc_id"), col("ts"), col("ahash"))

  /** [[streamingPerceptualDedup]]'s DCT twin: arriving docs fingerprint
    * through the ONE shared exact-integer pHash kernel
    * ([[graft.operators.Multimodal.phashOfText]] — the same function the
    * batch `mm_image_phash` executes), and later arrivals whose 63-bit
    * signature collides within the watermark are dropped. Because the
    * sum-corrected DCT table makes the signature exactly invariant under
    * uniform brightness shifts, this catches re-encoded/brightness-tweaked
    * copies exact dedup and aHash can miss at the same horizon cost. */
  def streamingPhashDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    graft.operators.Multimodal.phashWithTs(docs)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("phash")
      .select(col("doc_id"), col("ts"), col("phash"))

  /** [[streamingPerceptualDedup]]'s AUDIO twin: each arriving doc runs the
    * SAME canonical-WAV synth + 64-bit envelope fingerprint as the batch
    * queries ([[graft.operators.Multimodal.afpOfWav]], bit-identity
    * spec-asserted), and later arrivals whose fingerprint collides within
    * the watermark horizon are dropped. Exact-collision semantics match
    * `mm_audio_fingerprint`; the Hamming-ball NEAR-miss stage stays a
    * batch/incremental pass, like the image twin's. */
  def streamingAudioPerceptualDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    graft.operators.Multimodal.audioFingerprintsWithTs(docs)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("afp")
      .select(col("doc_id"), col("ts"), col("afp"))

  /** The VIDEO member of the ingest-side perceptual dedup trio: each
    * arriving doc computes the SAME 4-frame 256-bit signature as the batch
    * `mm_video_neardup` (per-frame [[graft.operators.Multimodal.ahashExpr]]
    * inside a transform — bit-identity spec-asserted), and later arrivals
    * whose signature collides within the watermark horizon are dropped. */
  def streamingVideoPerceptualDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    graft.operators.Multimodal.videoSigsWithTs(docs)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("vsig")
      .select(col("doc_id"), col("ts"), col("vsig"))

  /** Stream-stream INTERVAL join — the one Structured Streaming join shape
    * the other ops here don't exercise: click-attribution matches each
    * purchase with every click by the same user in the preceding
    * `windowMinutes`. Both sides carry watermarks and the join condition
    * carries the time bound, which is what lets Spark expire join state —
    * without the range predicate a stream-stream inner join would buffer
    * both streams forever. Batch twins: [[graft.operators.Temporal]]'s
    * as-of (latest-only) and range joins. */
  def streamingClickAttribution(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 10): DataFrame = {
    val cl = clicks
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", s"$windowMinutes minutes")
    val pu = purchases
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", s"$windowMinutes minutes")
    cl.join(pu,
        col("user_id") === col("p_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"interval $windowMinutes minutes"))
      .select(col("user_id"), col("click_id"), col("purchase_id"), col("value"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("micros_before"))
  }

  /** Streaming media feature extraction — the ingestion-side twin of
    * [[graft.operators.Multimodal.mediaFeaturesOf]]: the SAME per-payload
    * decoder (all six container parsers) applied as binary payloads ARRIVE.
    * Stateless narrow map — no watermark or state store needed; the
    * streaming twin differs from batch only in dropping the output sort
    * (unsupported and meaningless on an unbounded stream). */
  def streamingMediaFeatures(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) => graft.operators.Multimodal.decode(id, bytes) }
      }
      .toDF()
  }

  /** Streaming incremental dedup — arriving docs checked against a STATIC
    * historical corpus: the stream-static join (the canonical third shape
    * next to the windowed stream-stream join and the stateful
    * dedup-within-stream). The corpus side is the same pre-hashed frame
    * the batch [[graft.operators.Dedup.dedupIncremental]] uses (normalize,
    * md5, min-id per hash — broadcastable at any corpus size since only
    * the hash + one id survive); each arrival emits is_dup + the lowest
    * matching corpus id. Stateless on the stream side — no watermark. */
  def streamingIncrementalDedup(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    // stream-static joins re-evaluate the static subplan EVERY micro-batch;
    // the corpus aggregation is invariant, so cache it or each trigger pays
    // a full historical-corpus scan + shuffle for a handful of arrivals
    val corpusHashes = pin(corpus
      .select(md5(norm).as("content_hash"), col("doc_id").as("dup_of"))
      .groupBy(col("content_hash")).agg(min(col("dup_of")).as("dup_of")))
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"), md5(norm).as("content_hash"))
      .join(corpusHashes, Seq("content_hash"), "left_outer")
      .select(col("doc_id"), col("ts"), col("content_hash"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNotNull.cast("int").as("is_dup"))
  }

  /** Ingest-side cluster assignment — the streaming serve half of the
    * batch integer k-means ([[graft.operators.Clustering]]): arriving
    * (vec_id, ts, embedding) rows score against a FIXED fitted centroid
    * matrix (from `Clustering.kmeansFitTable`) through the SAME quantizer
    * and codegen'd exact-long argmin expression the batch loop uses, so
    * stream and batch assignments are bit-identical (spec-asserted).
    * Stateless narrow projection — no watermark or state store; routing
    * arriving embeddings to cluster-keyed sinks/quotas composes downstream.
    */
  def streamingClusterAssign(emb: DataFrame,
      centroids: Array[Array[Long]]): DataFrame = {
    val spark = emb.sparkSession
    emb
      .select(col("vec_id").cast("long").as("vec_id"), col("ts"),
        graft.operators.Clustering.quantizeExpr("embedding").as("q"))
      .withColumn("best",
        graft.operators.Clustering.bestCentroidExpr(spark, col("q"), centroids))
      .select(col("vec_id"), col("ts"),
        col("best.c").as("cluster"), col("best.d").as("dist"))
  }

  /** Online ANN serving at ingest — the streaming twin of
    * [[graft.vamana.VamanaModel.search]]: each arriving query vector is
    * answered by the SAME broadcast frozen kernel
    * ([[graft.vamana.VamanaKernel.search]], same metric prep and the same
    * 1e-4 rounding), so stream results are bit-identical to a batch search
    * over the same rows — spec-asserted. Per-row work is one graph
    * traversal against broadcast state: stateless for the streaming engine
    * (no watermark needed), horizontally scalable by input partitions —
    * the production shape of a retrieval service fed by a query stream
    * while the nightly batch job refreshes the index it serves. */
  def streamingVectorSearch(queries: DataFrame,
      index: graft.vamana.LocalIndex, k: Int = 10): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index)
    queries
      .select(col("vec_id").cast("long"), col("ts"), col("embedding").cast("array<float>"))
      .as[(Long, Timestamp, Array[Float])]
      .flatMap { case (qid, t, qvec) =>
        val idx = bc.value
        val q = graft.vamana.MetricReduction.prepareQuery(qvec, idx.params.metric)
        graft.vamana.VamanaKernel.search(idx, q, k).iterator.zipWithIndex.map {
          case ((id, dist), r) =>
            (qid, t, (r + 1).toLong, id, math.rint(dist.toDouble * 1e4) / 1e4)
        }
      }
      .toDF("query_id", "ts", "rank", "id", "dist")
  }

  /** ROUTED online ANN serving — [[streamingVectorSearch]]'s clustered-
    * layout twin, closing the serving matrix's streaming row: each
    * arriving query routes by the SAME adaptive band rule as the batch
    * path ([[graft.vamana.VamanaRouted.adaptiveProbeShards]] — the
    * function object is shared, not re-derived), searches only its
    * in-band shard kernels from the broadcast [[graft.vamana
    * .RoutedLocalServing]] (built via the guarded
    * `RoutedFanoutModel.localServing`), and merges with the batch
    * min-dist/ties-by-id rule and the same 1e-4 rounding — so stream
    * results are bit-identical to `searchRoutedAdaptive` over the same
    * rows, spec-asserted. Stateless for the streaming engine; per-row
    * cost is the probe-count-bounded set of graph traversals, which is
    * exactly what adaptivity buys at the stream: easy queries pay one
    * shard, boundary queries fan out, nobody pays the full scatter. */
  def streamingRoutedSearch(queries: DataFrame,
      serving: graft.vamana.RoutedLocalServing, k: Int = 10,
      routeEps: Double = 0.3, maxProbe: Int = Int.MaxValue): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(serving)
    queries
      .select(col("vec_id").cast("long"), col("ts"), col("embedding").cast("array<float>"))
      .as[(Long, Timestamp, Array[Float])]
      .flatMap { case (qid, t, qvec) =>
        val sv = bc.value
        val byShard = sv.shardMap
        val q = graft.vamana.MetricReduction.prepareQuery(qvec, sv.metric)
        val ds = graft.vamana.VamanaRouted.sortedCentroidDists(sv.centroids, q)
        val probed = graft.vamana.VamanaRouted
          .adaptiveProbeShards(ds, routeEps, maxProbe, sv.centroids.length)
        // batch merge semantics verbatim: min dist per id (ε-closure may
        // answer a replica twice), rank on unrounded doubles, ties by id,
        // round only in the emitted row
        val merged = scala.collection.mutable.HashMap.empty[Long, Double]
        probed.foreach { si =>
          byShard.get(si).foreach { idx =>
            graft.vamana.VamanaKernel.search(idx, q, k).foreach { case (id, dist) =>
              val d = dist.toDouble
              merged.updateWith(id)(prev => Some(prev.fold(d)(math.min(_, d))))
            }
          }
        }
        merged.toArray.sortBy { case (id, d) => (d, id) }.iterator.take(k).zipWithIndex
          .map { case ((id, d), r) =>
            (qid, t, (r + 1).toLong, id, math.rint(d * 1e4) / 1e4)
          }
      }
      .toDF("query_id", "ts", "rank", "id", "dist")
  }

  /** Driver-side fold state for [[streamingRoutedInsert]]: the latest
    * routed model, advanced one micro-batch at a time inside foreachBatch
    * (which runs on the driver — the model handle is driver state by
    * construction, never serialized to executors; the shard kernels stay
    * distributed). Intermediate models unpersist as they are superseded;
    * the caller's `initial` is never touched. */
  final class RoutedIngest private[streaming] (
      initial: graft.vamana.RoutedFanoutModel,
      autoMaintain: Boolean, maxRatio: Double, maxPasses: Int,
      idCol: String, vecCol: String) {
    @volatile private var cur: graft.vamana.RoutedFanoutModel = initial
    /** The latest folded model — stable between micro-batches (foreachBatch
      * is serial per query), safe to serve from at any point. */
    def model: graft.vamana.RoutedFanoutModel = cur
    private[streaming] def fold(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (!batch.isEmpty) {
        val next = cur.insert(batch, idCol, vecCol, autoMaintain, maxRatio, maxPasses)
        if (cur ne initial) cur.unpersist()
        cur = next
      }
    }
  }

  /** STREAMING INGEST for the routed layout — the arrival mode a 100 TB
    * vector corpus actually has (documents embed and land continuously;
    * nightly refits are the fallback, not the posture). foreachBatch →
    * [[graft.vamana.RoutedFanoutModel.insert]]: each micro-batch routes
    * by the SAME fitted ε-closure rule as the fit (closureAssign is part
    * of the model), joins its shard's graph copy-on-write, and — the
    * closed loop [[graft.vamana.RoutedFanoutModel.maintain]] provides —
    * `autoMaintain` splits any shard the batch grew past maxRatio × mean
    * and teaches the routing table the new slots, so a hot-region stream
    * cannot silently degrade tail latency between human checks. The fold
    * is deterministic per batch sequence (insert sorts each batch by id),
    * so a stream delivering the same micro-batches produces a model
    * bit-identical to folding those frames in batch mode — spec-asserted
    * (ids + distances + shard layout). Composes with the serving twins:
    * [[streamingRoutedSearch]] reads `handle.model.localServing()` after
    * any batch boundary. Returns the started query plus the model handle. */
  def streamingRoutedInsert(arrivals: DataFrame,
      initial: graft.vamana.RoutedFanoutModel,
      autoMaintain: Boolean = true, maxRatio: Double = 2.0, maxPasses: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : (org.apache.spark.sql.streaming.StreamingQuery, RoutedIngest) = {
    val handle = new RoutedIngest(initial, autoMaintain, maxRatio, maxPasses, idCol, vecCol)
    val fold: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (b, id) => handle.fold(b, id)
    val q = arrivals.writeStream.foreachBatch(fold).start()
    (q, handle)
  }

  /** Online RANGE (radius) serving — [[streamingVectorSearch]]'s
    * set-valued twin: each arriving query emits EVERY stored point within
    * squared-L2 `radiusSq`, via the same escalating-beam kernel as the
    * batch `vamana_range_search` (the per-query function object is
    * [[graft.vamana.VamanaKernel.rangeSearch]] VERBATIM, so stream
    * results are bit-identical to batch by construction — spec-asserted).
    * Stateless for the streaming engine; the data-dependent output size
    * is the point: an alerting/dedup-at-ingest consumer wants "all
    * near-duplicates of this arrival", not a fixed k of them. */
  def streamingRangeSearch(queries: DataFrame,
      index: graft.vamana.LocalIndex, radiusSq: Double): DataFrame = {
    require(index.params.metric == "l2", "range radius is a squared-L2 bound; fit with metric=l2")
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index)
    val r = radiusSq.toFloat
    queries
      .select(col("vec_id").cast("long"), col("ts"), col("embedding").cast("array<float>"))
      .as[(Long, Timestamp, Array[Float])]
      .flatMap { case (qid, t, qvec) =>
        graft.vamana.VamanaKernel.rangeSearch(bc.value, qvec, r).iterator.map {
          case (id, dist) => (qid, t, id, math.rint(dist.toDouble * 1e4) / 1e4)
        }
      }
      .toDF("query_id", "ts", "id", "dist")
  }

  /** PQ-SCORED online ANN serving — [[streamingVectorSearch]]'s
    * memory-bounded twin, completing the ingest-side half of the DiskANN
    * serving story: the standing index rides to executors as graph +
    * m-byte PQ code rows + codebooks, the traversal of each arriving
    * query runs on ADC lookups (m table probes per node instead of a
    * dim-length float loop), and only the visited pool touches
    * full-precision vectors for the exact rerank. The per-query kernel is
    * [[graft.vamana.VamanaPq.topkPq]] VERBATIM — the same function object
    * the batch `vamana_pq_search` query executes — so stream results are
    * bit-identical to the batch PQ search by construction
    * (spec-asserted). Stateless for the streaming engine; scales by input
    * partitions like the raw-vector leg. */
  def streamingVectorSearchPq(queries: DataFrame, index: graft.vamana.LocalIndex,
      books: graft.operators.Quantization.PqCodebooks, codes: Array[Array[Byte]],
      k: Int = 10): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((index, books, codes))
    queries
      .select(col("vec_id").cast("long"), col("ts"), col("embedding").cast("array<float>"))
      .as[(Long, Timestamp, Array[Float])]
      .flatMap { case (qid, t, qvec) =>
        val (idx, cb, cds) = bc.value
        graft.vamana.VamanaPq.topkPq(idx, cb, cds, qvec, k, fullBeam = false)
          .iterator.zipWithIndex.map { case ((id, d), r) =>
            (qid, t, (r + 1).toLong, id, d)
          }
      }
      .toDF("query_id", "ts", "rank", "id", "dist")
  }

  /** Ingest-side embedding drift monitor — the streaming twin of the batch
    * `split_drift` audit: arriving embeddings aggregate per (5-minute
    * event-time window, dimension) through the shared half-up micro
    * quantizer, and each window's per-dim floor-div mean is compared to a
    * FIXED baseline matrix (e.g. `Clustering.dimMeans` of the training
    * corpus). A sustained nonzero drift on a dim = the live distribution
    * has moved off the corpus the model was fit on. State is
    * windows × dim cells, watermark-bounded; the baseline rides along as a
    * broadcast literal. */
  def streamingEmbedDrift(emb: DataFrame, baseline: Array[Long],
      watermark: String = "10 minutes"): DataFrame = {
    val b = typedLit(baseline.toSeq)
    emb
      .select(col("ts"),
        graft.operators.Clustering.quantizeExpr("embedding").as("q"))
      .withWatermark("ts", watermark)
      .select(col("ts"), posexplode(col("q")).as(Seq("dim", "vm")))
      .groupBy(window(col("ts"), "5 minutes"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("s"))
      .select(col("window.start").as("win_start"),
        col("dim").cast("long").as("dim"), col("n"),
        floor(col("s").cast("double") / col("n")).cast("long").as("mean_q"))
      .withColumn("baseline_q", element_at(b, col("dim").cast("int") + 1))
      .withColumn("drift", abs(col("mean_q") - col("baseline_q")))
  }

  /** Streaming corpus quality filter — the ingestion-side twin of the
    * batch cleaning pass: the SAME [[graft.operators.TextAnalysis]] quality
    * and language-ID EXPRESSIONS (bit-identity with batch is spec-asserted)
    * applied as documents ARRIVE, keeping docs that clear the quality floor
    * in the target language. Stateless narrow filter — no watermark or
    * state store; exact-dedup survivorship (the stateful third leg of
    * [[graft.operators.CorpusPipeline.cleanCorpus]]) composes downstream
    * via [[streamingDedup]]. */
  def streamingQualityFilter(docs: DataFrame, lang: String = "en",
      minQuality: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    docs.select(
        col("doc_id").cast("long").as("doc_id"), col("ts"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"),
        round(graft.operators.TextAnalysis.qualityExpr(spark), 4).as("quality_score"),
        graft.operators.TextAnalysis.predLangExpr(spark).as("pred_lang"))
      .where(col("pred_lang") === lang && col("quality_score") >= minQuality)
      .select(col("doc_id"), col("ts"), col("n_tokens"), col("quality_score"))
  }

  /** Streaming MODEL-BASED quality filter — ingest-side scoring with the
    * batch-TRAINED [[graft.operators.DocClassifier]] (the CCNet deployment
    * shape: the linear model is fit offline on a labeled seed set, then its
    * frozen weights ride to ingest as literals). The keep/drop decision is
    * the SAME stateless integer-margin expression the batch scorer uses
    * ([[graft.operators.DocClassifier.keepExpr]]), so stream and batch
    * decisions are bit-identical by construction (spec-asserted). Narrow
    * stateless filter — model weights are width+2 doubles folded into the
    * plan, no state store, no shuffle. */
  def streamingClassifierFilter(docs: DataFrame,
      model: graft.operators.DocClassifier.Model): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"), col("ts"),
        graft.operators.DocClassifier.keepExpr(model, col("text")).as("keep"))
      .where(col("keep") === 1)
      .select(col("doc_id"), col("ts"))

  /** Streaming TRAINED language identification — the multi-class twin of
    * [[streamingClassifierFilter]] and the production first-filter shape
    * (fastText-langid at ingest): the batch-fitted one-vs-rest stack
    * ([[graft.operators.LangClassifier.fit]]) rides to the stream as
    * K×(width+1) quantized weight literals, and every arriving doc gets
    * its argmax language from the SAME integer-margin arithmetic the
    * batch scorer uses, through the codegen kernel form
    * ([[graft.operators.LangClassifier.predictNative]] — bit-identical to
    * the composed spec twin, spec-asserted). Narrow stateless projection:
    * no state store, no shuffle, composes upstream of
    * [[streamingQualityFilter]] / [[streamingDedup]] in an ingest
    * pipeline that routes each language to its own cleaning config. */
  def streamingLangClassify(docs: DataFrame,
      model: graft.operators.LangClassifier.LangModel): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"), col("ts"),
      graft.operators.LangClassifier.predictNative(docs.sparkSession, model,
        col("text")).as("pred_lang"))

  /** Streaming learned-sparse ENCODE — the ingest-side twin of
    * [[graft.operators.SparseRetrieval.sparseEncode]]: every arriving doc
    * is turned into its pruned posting rows (doc_id, rank, term, w)
    * STATELESSLY. The frozen [[graft.operators.SparseRetrieval.SparseModel]]
    * dictionary is model-vocabulary-bounded (the SPLADE deployment shape)
    * and rides as a BROADCAST hash map probed by a typed per-row kernel —
    * the first cut shipped it as one MapType literal and probed with
    * `element_at`, but Spark's map-literal lookup is a LINEAR scan of the
    * entry array, O(|V|) per probe ≈ 2.7M string compares per row at a
    * 45k-term dictionary (measured: the 50k-doc StreamBench point did not
    * finish in 10 minutes; the hash-probe kernel serves it in seconds).
    * The kernel replays the batch arithmetic exactly: same tokenization
    * (locale-independent lowercase + \\s+ split, empties dropped), impact
    * (1+ln tf)·ln((N+1)/(df+1)) via the same Math.log, the same
    * BigDecimal HALF_UP 6-dp rounding Spark's `round` applies, in-row
    * sort by (w desc, term asc), top-m — stream and batch postings are
    * bit-identical (spec-asserted). No state store, no shuffle: a 100 TB
    * arrival stream encodes at scan speed and the postings sink feeds the
    * same inverted-index serving the batch index uses. */
  def streamingSparseEncode(docs: DataFrame,
      model: graft.operators.SparseRetrieval.SparseModel,
      m: Int = graft.operators.SparseRetrieval.PruneM): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    docs.select(col("doc_id").cast("long").as("doc_id"), col("ts"), col("text"))
      .as[(Long, Timestamp, String)]
      .flatMap { case (id, ts, text) =>
        val mdl = bc.value
        val nd1 = mdl.nd + 1.0
        val tf = scala.collection.mutable.HashMap.empty[String, Int]
        // Spark's OWN lowercase (UTF8String), not String.toLowerCase: the
        // batch side tokenizes through lower(), and locale-sensitive
        // codepoints must fold identically on both paths by construction
        org.apache.spark.unsafe.types.UTF8String.fromString(text)
          .toLowerCase.toString.split("\\s+").foreach { t =>
            if (t.nonEmpty) tf.update(t, tf.getOrElse(t, 0) + 1)
          }
        val kept = tf.iterator.flatMap { case (t, c) =>
          mdl.dfs.get(t).flatMap { df =>
            val w = BigDecimal((1.0 + math.log(c)) * math.log(nd1 / (df + 1.0)))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (w > 0) Some((w, t)) else None
          }
        }.toArray
          .sortBy { case (w, t) => (-w, t) }
          .take(m)
        kept.iterator.zipWithIndex.map { case ((w, t), i) =>
          (id, ts, (i + 1).toLong, t, w)
        }
      }
      .toDF("doc_id", "ts", "rank", "term", "w")
  }

  /** Streaming HYBRID-RETRIEVAL lexical leg — ingest-side "score every
    * arriving doc against the standing query set": the corpus statistics
    * (per-query term idf + avgdl) are fit OFFLINE by
    * [[graft.operators.TextAnalysis.fitBm25QueryModel]] and ride to the
    * stream as plan literals (the frozen-model deployment shape, like
    * [[streamingClassifierFilter]]); each arriving doc is scored
    * STATELESSLY — term counts and doc length come from the row itself
    * via higher-order array functions, one output row per (doc, query)
    * sharing ≥1 term. The per-term decimal(18,6) contribution arithmetic
    * is the batch leg's ([[graft.operators.TextAnalysis.lexScores]]), and
    * decimal addition is exact and order-free, so stream and batch scores
    * are bit-identical (spec-asserted). No state store, no shuffle —
    * composes under any watermark, and the downstream top-k/RRF fusion is
    * a bounded per-query stream aggregation a sink can maintain. */
  def streamingLexRetrievalScore(docs: DataFrame,
      model: graft.operators.TextAnalysis.Bm25QueryModel): DataFrame = {
    val k1 = model.k1
    val b = model.b
    val avgdl = model.avgdl
    val tk = filter(graft.operators.TextAnalysis.toks(col("text")), t => t =!= "")
    val nDbl = size(col("tk")).cast("double")
    def scoreOf(terms: Seq[(String, Double)]): org.apache.spark.sql.Column =
      aggregate(
        array(terms.map { case (t, idf) =>
          struct(lit(t).as("t"), lit(idf).as("idf")) }: _*),
        lit(0).cast("decimal(18,6)"),
        (acc, x) => {
          val c = size(filter(col("tk"), e => e === x("t")))
          (acc + round(x("idf") * (c * lit(k1 + 1.0)) /
              (c + lit(k1) * (lit(1.0 - b) + lit(b) * (nDbl / lit(avgdl)))), 6)
            .cast("decimal(18,6)")).cast("decimal(18,6)")
        })
    val perQuery = array(model.queries.map { case (qid, terms) =>
      struct(lit(qid).as("qid"), scoreOf(terms).as("s"),
        size(array_intersect(col("tk"), array(terms.map(t => lit(t._1)): _*))).as("hits"))
    }: _*)
    docs.select(col("doc_id").cast("long").as("doc_id"), col("ts"), col("text"))
      .withColumn("tk", tk)
      .select(col("doc_id"), col("ts"), explode(perQuery).as("q"))
      .where(col("q.hits") > 0 && col("doc_id") =!= col("q.qid"))
      .select(col("doc_id"), col("ts"), col("q.qid").as("qid"),
        round(col("q.s"), 4).cast("double").as("bm25"))
  }

  /** Windowed per-standing-query retrieval TOP-K — the stateful half of
    * the ingest-side retrieval story: [[streamingLexRetrievalScore]]'s
    * stateless per-(doc, query) scores fold into a bounded k-best heap
    * per (window, query), emitted when the watermark closes the window
    * (the [[streamingTopkTokens]] event-time-timeout shape). State is k
    * (score, doc_id) pairs × standing queries × open windows — bounded by
    * the horizon's arrival volume, never the corpus. Keep-k-best by
    * (score desc, doc_id asc) is arrival-order independent, so reruns and
    * batch replays emit identical rows (spec-asserted vs the batch
    * top-k). */
  def streamingRetrievalTopk(docs: DataFrame,
      model: graft.operators.TextAnalysis.Bm25QueryModel, k: Int = 5,
      windowMs: Long = 5L * 60 * 1000,
      watermark: String = "10 minutes"): Dataset[RetrievalHit] = {
    import docs.sparkSession.implicits._
    val scored = streamingLexRetrievalScore(docs.withWatermark("ts", watermark), model)
      .select((floor(unix_millis(col("ts")) / windowMs).cast("long") * windowMs).as("win"),
        col("qid"), col("doc_id"), col("bm25"), col("ts"))
      .as[(Long, Long, Long, Double, Timestamp)]
    scored.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[RetrievalState, RetrievalHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((win, qid), it, state) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            st.entries
              .sortBy { case (s, id) => (-s, id) }
              .take(k).zipWithIndex
              .map { case ((s, id), i) => RetrievalHit(new Timestamp(win), qid, i + 1, id, s) }
              .iterator
          } else {
            val merged = (state.getOption.map(_.entries).getOrElse(Nil) ++
                it.map(r => (r._4, r._3)))
              .sortBy { case (s, id) => (-s, id) }
              .take(k)
            state.update(RetrievalState(merged))
            state.setTimeoutTimestamp(
              math.max(win + windowMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** The COMPOSED streaming ingest pass — the ingestion-side twin of the
    * batch [[graft.operators.CorpusPipeline.cleanCorpus]] + audit window:
    * quality/lang filter (stateless, the shared batch expressions) →
    * exact dedup within the watermark horizon (bounded state) →
    * per-5-minute accepted-doc counts. Three individually-spec'd stages in
    * ONE query — the spec gates the COMPOSITION, i.e. that the chained
    * stateful pair (dropDuplicatesWithinWatermark → windowed agg) emits
    * batch-equivalent counts. The filter runs BEFORE the watermark node,
    * so only admissible docs advance event time; rejected docs cost no
    * state anywhere. */
  def streamingIngestPipeline(docs: DataFrame, lang: String = "en",
      minQuality: Double = 0.5, watermark: String = "10 minutes"): DataFrame = {
    val spark = docs.sparkSession
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"), col("text"),
        round(graft.operators.TextAnalysis.qualityExpr(spark), 4).as("quality_score"),
        graft.operators.TextAnalysis.predLangExpr(spark).as("pred_lang"))
      .where(col("pred_lang") === lang && col("quality_score") >= minQuality)
      .withColumn("content_hash", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_accepted"))
      .select(col("window.start").as("win_start"), col("n_accepted"))
  }

  /** Streaming MinHash-LSH near-dup candidates — the ingestion-side twin of
    * [[graft.operators.Dedup.dedupMinhash]]'s candidate generation: each
    * arriving doc is hashed with the SAME banded affine family (bit-identity
    * with the batch SQL pipeline is spec-asserted), keyed by (band, bsig),
    * and emitted against the ids already in its bucket. State per bucket is
    * a capped id list — LSH buckets are near-singleton except for true dup
    * clusters, and the cap bounds the quadratic burst an adversarial hot
    * bucket could emit (the batch path's df-cutoff analogue). Pairs are
    * CANDIDATES, exactly as in the batch op; Jaccard verification composes
    * downstream.
    *
    * State is TTL-bounded by `horizonMinutes` of EVENT time: each bucket's
    * timeout re-arms at (its newest event time + horizon), and once the
    * watermark passes it the bucket is dropped whole. Without the TTL,
    * state grows with the number of distinct (band,bsig) keys ever seen —
    * i.e. with the corpus — which is exactly what an unbounded ingest
    * stream cannot afford; with it, state is bounded by the horizon's
    * arrival volume, the same contract as `streamingDedup`'s
    * dropDuplicatesWithinWatermark. Docs farther apart than the horizon
    * are not candidate-checked (the dedup-horizon trade, explicit). */
  def streamingMinhashCandidates(docs: Dataset[Doc], maxBucket: Int = 32,
      horizonMinutes: Int = 60): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val horizonMs = horizonMinutes * 60L * 1000L
    docs
      .flatMap(d => graft.operators.Dedup.minhashBandsOf(d.text)
        .map { case (band, bsig) => (band, bsig, d.doc_id, d.ts) })
      // the watermark must be declared on the POST-flatMap column: a typed
      // flatMap re-serializes through fresh attributes, so a watermark set
      // on docs.ts would not reach the stateful operator's child and the
      // event-time timeout would be rejected at analysis
      .withWatermark("_4", s"$horizonMinutes minutes")
      .groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), it, state) =>
          if (state.hasTimedOut) {
            // watermark passed newest-member time + horizon: every future
            // arrival is out of dedup range for this bucket — drop it
            state.remove()
            Iterator.empty
          } else {
            val rows = it.toSeq
            val newIds = rows.map(_._3).distinct.sorted
            val old = state.getOption.map(_.ids).getOrElse(Nil)
            val pairs = for {
              (n, i) <- newIds.zipWithIndex
              o <- old.iterator ++ newIds.iterator.take(i)
              if o != n
            } yield CandidatePair(math.min(o, n), math.max(o, n), band)
            // the horizon re-arms from the newest event EVER seen in the
            // bucket (monotone): a late-but-valid arrival must not shrink
            // the timeout below (newest member + horizon), or the bucket
            // evicts early and in-horizon pairs are silently missed
            val newestMs = math.max(
              state.getOption.map(_.newestMs).getOrElse(0L),
              rows.map(r => r._4.getTime).max)
            state.update(BucketState((old ++ newIds).distinct.takeRight(maxBucket), newestMs))
            // max() vs watermark guards the skewed-group case where another
            // key's events already pushed the watermark past this bucket's
            // horizon (the timeout then fires on the next trigger)
            state.setTimeoutTimestamp(
              math.max(newestMs, state.getCurrentWatermarkMs() + 1) + horizonMs)
            pairs.distinct.iterator
          }
      }
  }

  /** Streaming as-of enrichment — the ingestion-side twin of
    * [[graft.operators.Temporal.asofJoin]]: each arriving purchase is
    * enriched with the most recent click state for its user. State per user
    * is ONE (ts, value) pair, and it is TTL-bounded by `horizonMinutes` of
    * EVENT time (the same contract as the LSH buckets and sessionize): a
    * user whose newest click is more than the horizon behind the watermark
    * can never enrich an in-watermark purchase with anything fresher than
    * the horizon, so the pair is dropped whole — state is bounded by the
    * horizon's arrival volume even when the user UNIVERSE is unbounded
    * (the r6 NoTimeout holdout). A purchase after eviction reads as
    * no-click-history, the asof-horizon trade made explicit. Within a
    * micro-batch events apply in (ts, click-first, event_id) order,
    * matching the batch operator's inclusive at-or-before semantics; ties
    * on click ts keep max value, mirroring the batch op's per-(user, ts)
    * pre-aggregation. All state and gap arithmetic is in exact
    * microseconds (the batch twin's `unix_micros`), so sub-millisecond
    * event times don't diverge. */
  /** Ingest-side blocklist filter — the streaming twin of
    * [[graft.operators.TextAnalysis.blocklistFilter]] (the C4 "bad
    * words" stage at the stream): each arriving doc's tokens run the
    * SAME membership rule the batch op uses (keys bit-identical by
    * construction, spec-asserted), and docs with any hit are DROPPED
    * before they cost a single downstream stage — the cheapest possible
    * position for a verdict that needs no corpus state. Stateless narrow
    * filter: no state store, no shuffle. A real editorial list deploys
    * through [[graft.functions.SetProbeExpressions.overlapsLongSet]] in
    * the same slot (the streamingWebIngest decontamination pattern). */
  def streamingBlocklistFilter(docs: DataFrame): DataFrame = {
    val toks = filter(graft.operators.Dedup.tokens(col("text")), t => t =!= "")
    val hits = filter(toks, t => substring(md5(t), 1, 2) === "0e")
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"),
        size(toks).cast("long").as("n_tokens"), size(hits).cast("long").as("n_hits"))
      .where(col("n_hits") === 0)
      .select(col("doc_id"), col("ts"), col("n_tokens"))
  }

  /** Ingest-side span-duplication scoring — the streaming twin of
    * [[graft.operators.Dedup.substringDedup]] in its frozen-index
    * deployment: the corpus's cross-doc duplicated-window set
    * ([[graft.operators.Dedup.duplicatedWindowIndex]], computed offline
    * like yesterday's index build) is frozen into a
    * [[graft.functions.SetProbeExpressions.hitsInLongSet]] kernel, and
    * each arriving doc's stride-1 w-token window surrogates — derived by
    * the SAME per-row expression the batch form uses
    * ([[graft.operators.Dedup.windowSurrogates]], keys bit-identical by
    * construction) — are counted against it: (n_windows, n_dup_windows,
    * dup_fraction) per doc at ingest. Stateless narrow map — no state
    * store, no shuffle, no join; O(windows·log|set|) per doc. Docs
    * shorter than w tokens are dropped exactly as in batch. The batch
    * agreement (stream == [[graft.operators.Dedup.substringDedupFrozenOf]]
    * == the original [[graft.operators.Dedup.substringDedup]] on the
    * fitting corpus) is spec-asserted three ways; against the full-md5
    * aggregate form it is COLLISION-BOUNDED, not unconditional — see the
    * 60-bit surrogate bound on
    * [[graft.operators.Dedup.windowSurrogates]]. */
  def streamingSpanDedup(docs: DataFrame, dupWindows: Array[Long], w: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val tk = graft.operators.Dedup.tokens(col("text"))
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"), col("text"))
      .where(size(tk) >= w)
      .select(col("doc_id"), col("ts"),
        (size(tk) - (w - 1)).cast("long").as("n_windows"),
        graft.functions.SetProbeExpressions.hitsInLongSet(
          spark, graft.operators.Dedup.windowSurrogates(col("text"), w), dupWindows)
          .as("n_dup_windows"))
      .select(col("doc_id"), col("ts"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4)
          .as("dup_fraction"))
  }

  /** Ingest-side Unicode-normalization dedup — the streaming twin of
    * [[graft.operators.TextAnalysis.nfcDedup]]'s production half: each
    * arriving doc's text normalizes through the SAME codegen `nfc_native`
    * kernel ([[graft.functions.NfcExpressions]] — bit-identical
    * normalized strings by construction, spec-asserted), and later
    * arrivals whose NFC-normalized content hash collides within the
    * watermark horizon are dropped — so a precomposed page and its
    * decomposed re-crawl dedup at ingest exactly as byte-identical pages
    * do in [[streamingDedup]]. Stateless normalization (O(n) no-alloc
    * fast path for already-NFC text, the dominant case) + the standard
    * horizon-bounded key state. */
  def streamingNfcDedup(docs: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val spark = docs.sparkSession
    docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"),
        graft.functions.NfcExpressions.nfc(spark, col("text")).as("nfc"))
      .withColumn("nfc_hash", md5(col("nfc")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("nfc_hash")
      .select(col("doc_id"), col("ts"), col("nfc_hash"))
  }

  /** The COMPOSED web-crawl ingest — the streaming twin of
    * [[graft.operators.CorpusPipeline.pipelineWeb]], stage zero to
    * training mix at the stream in ONE query: (0) canonical-URL dedup —
    * the ONE shared canonicalization expression
    * ([[graft.operators.CorpusPipeline.canonicalizeUrl]]) plus
    * horizon-bounded first-wins key state, which matches the batch
    * min-doc_id-per-page winner whenever arrivals follow id order (the
    * crawl-frontier norm; divergence under reordering is the documented
    * dedup-horizon trade); (1) benchmark decontamination as a STATELESS
    * frozen-set probe — the arriving doc's n-gram surrogates come from
    * the SAME per-row expression the batch op uses (keys bit-identical
    * by construction) and are probed against the frozen benchmark gram
    * set through the codegen
    * [[graft.functions.SetProbeExpressions.overlapsLongSet]] kernel:
    * binary search over the sorted set riding the plan as ONE reference
    * object, registered under a content-fingerprinted function name so
    * two concurrent streams probing DIFFERENT frozen sets can never bind
    * each other's kernel at (re)start — O(grams·log|set|) per row, where the naive
    * `arrays_overlap(arr, lit(set))` iterates the FULL set per row
    * (measured 965 rows/s at 500k arrivals over a ~1M-gram set; eval suites
    * are thousands of documents, not terabytes — the batch op's
    * broadcast premise taken one step further: no join, no shuffle, no
    * state), and the benchmark id-slice itself drops exactly as in
    * batch; (2) temperature resampling via the individually-spec'd
    * [[streamingTemperatureSample]] against the FROZEN rate table the
    * batch pipeline computed over its clean survivors
    * (frozen-corpus-statistics pattern). One state store total (the URL
    * horizon); everything after it is stateless narrow — the whole
    * crawl-to-training-mix path runs at ingest, spec-asserted
    * bit-identical to the batch keep set under id-ordered arrival. */
  def streamingWebIngest(docs: DataFrame, benchGrams: Array[Long], rates: DataFrame,
      benchLo: Long = 90, mod: Long = 100,
      watermark: String = "10 minutes"): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % mod
    val surrogates = graft.operators.CorpusPipeline.ngramSurrogates(
      graft.operators.Dedup.tokens(col("text")),
      graft.operators.CorpusPipeline.DecontamN)
    val deduped = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("ts"),
        graft.operators.CorpusPipeline.canonicalizeUrl(col("url")).as("curl"),
        col("text"), col("lang"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("curl")
    val contaminated = graft.functions.SetProbeExpressions
      .overlapsLongSet(docs.sparkSession, surrogates, benchGrams)
    deduped
      .where(bucket < benchLo && !contaminated)
      .select(col("doc_id"), col("ts"), col("lang"))
      .transform(streamingTemperatureSample(_, rates))
  }

  def streamingAsof(events: Dataset[Event], horizonMinutes: Int = 60): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    val horizonMs = horizonMinutes * 60L * 1000L
    events
      .withWatermark("ts", s"$horizonMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ClickState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[ClickState]) =>
          if (state.hasTimedOut) {
            // watermark passed newest-click + horizon: no in-watermark
            // purchase can match this click anymore — drop the state
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toSeq.sortBy(e =>
              (micros(e.ts), if (e.event_type == "click") 0 else 1, e.event_id))
            var st = state.getOption.orNull
            val out = Seq.newBuilder[AsofMatch]
            for (e <- evs) {
              val t = micros(e.ts)
              e.event_type match {
                case "click" =>
                  if (st == null || t > st.ts) st = ClickState(t, e.value)
                  else if (t == st.ts && e.value > st.value) st = ClickState(t, e.value)
                case "purchase" =>
                  out += (if (st == null) AsofMatch(e.event_id, userId, e.value, None, None)
                  else AsofMatch(e.event_id, userId, e.value,
                    Some(st.value), Some(t - st.ts)))
                case _ => ()
              }
            }
            if (st != null) {
              state.update(st)
              // st.ts is the newest click EVER seen (monotone by the update
              // rule above), so the re-arm never shrinks the timeout; max()
              // vs watermark guards the skewed-group case where other keys
              // already pushed the watermark past this user's horizon
              state.setTimeoutTimestamp(
                math.max(st.ts / 1000L, state.getCurrentWatermarkMs() + 1) + horizonMs)
            }
            out.result().iterator
          }
      }
  }

  /** Stateful sessionization via flatMapGroupsWithState: a session closes
    * after `gapMinutes` of inactivity. Two close paths, both emitted:
    * a later event from the same user beyond the gap (the in-stream path),
    * and an EVENT-TIME TIMEOUT at (last activity + gap) — once the
    * watermark passes that point no event can extend the session (anything
    * later starts a new one), so the FINAL session per user flushes instead
    * of sitting in state forever, and idle users' state expires instead of
    * accumulating over the life of the stream. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(
              Session(userId, new Timestamp(st.start), new Timestamp(st.last), st.n, st.sum))
          } else {
            // order within the batch for deterministic session splits
            val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.orNull
            val closed = Seq.newBuilder[Session]
            for (e <- evs) {
              val t = e.ts.getTime
              if (st == null) st = SessionState(t, t, 1, e.value)
              else if (t - st.last > gapMs) {
                closed += Session(userId, new Timestamp(st.start), new Timestamp(st.last), st.n, st.sum)
                st = SessionState(t, t, 1, e.value)
              } else st = st.copy(
                // late arrivals (valid under the watermark) may sort before
                // already-seen events: last must stay MONOTONE or a late
                // event shrinks the gap window / re-arms the flush early,
                // and start must absorb an earlier late member
                start = math.min(st.start, t),
                last = math.max(st.last, t), n = st.n + 1, sum = st.sum + e.value)
            }
            if (st != null) {
              state.update(st)
              // flush when the watermark passes last + gap; max() guards the
              // case where other users' events already pushed the watermark
              // beyond it (fires on the next trigger instead of throwing)
              state.setTimeoutTimestamp(
                math.max(st.last + gapMs, state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            closed.result().iterator
          }
      }
  }
}
