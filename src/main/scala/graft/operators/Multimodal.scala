package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Tables}

/** Feature-extraction record produced by the media decoder (top-level so
  * the Dataset encoder stays codegen-compatible). `dims` is format-typed:
  * (width, height) for images, (sample_rate, n_channels) for audio,
  * (0, 0) for raw/opaque payloads. */
case class MediaFeatures(doc_id: Long, n_bytes: Long, media_type: String,
    dim1: Long, dim2: Long, mean_byte: Double, head_hash: String)

/** Multimodal-column operators: text ⋈ vector join and opaque-binary payload
  * plumbing (north-star surface, SURVEY.md §2b).
  *
  * The binary path treats media as `binary` columns with typed metadata.
  * All six container headers (WAV, PPM, BMP, JPEG, PNG, MP4/MOV) are parsed
  * FOR REAL by [[decode]] — dimensions/rate/channels/duration come from
  * byte arithmetic alone. Payload decode is real where the format permits
  * it without a codec: [[decodePixels]] produces per-channel pixel stats
  * for PPM/BMP/PNG and [[decodeWavSamples]] 16-bit PCM samples for WAV
  * (both oracle hash-checked); only entropy-coded payloads (JPEG scan
  * data, MP4 frames) stay metadata-only. The Spark-side plumbing — schema,
  * batching via mapPartitions, partition-local extraction, metadata join —
  * is the shape a full codec (e.g. a Pandas-UDF/JNI decoder) slots into.
  */
object Multimodal {

  /** Text ⋈ embedding modality join on doc_id = vec_id, aggregated per
    * (lang, label): the "align modalities then profile" pipeline step. */
  def multimodalJoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .groupBy(col("lang"), col("label"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("lang"), col("label"))
  }

  /** Binary payload metadata: documents carried as opaque utf-8 blobs with
    * byte-level stats — the oracle-checkable half of the binary path. */
  def binaryStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"), col("source"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("source"))
      .orderBy(col("doc_id"))

  private def leU16(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)).toLong

  private def leU32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def beU16(b: Array[Byte], off: Int): Long =
    (((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)).toLong

  private def beU32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def ascii(b: Array[Byte], off: Int, len: Int): String =
    if (b.length < off + len) "" else new String(b, off, len, "US-ASCII")

  /** Media decoder over opaque binary payloads. Every container header is
    * parsed for real — none of these need a codec, just byte arithmetic:
    *  - WAV (RIFF/WAVE): sample_rate + n_channels from the fmt chunk, with
    *    a forward-progress guard so corrupt chunk sizes end the scan
    *  - PPM (P6): ASCII width/height (comment-skipping per the spec)
    *  - BMP (BM): width/height from the BITMAPINFOHEADER
    *  - JPEG (FFD8FF): width/height from the first SOFn marker segment
    *  - PNG (\\x89PNG): width/height from the mandatory-first IHDR chunk
    *  - MP4/MOV (ftyp): timescale/duration from the moov/mvhd box walk
    * Pixel/frame DECODE of entropy-coded streams is [[decodePixels]]' job
    * (PPM/BMP/PNG/JPEG) or a codec's (video) — it slots into the same
    * mapPartitions shape. Everything else is `raw` with byte stats. */
  private[graft] def decode(docId: Long, payload: Array[Byte]): MediaFeatures = {
    var s = 0L
    var i = 0
    while (i < payload.length) { s += payload(i) & 0xff; i += 1 }
    val mean = if (payload.isEmpty) 0.0 else s.toDouble / payload.length
    val md = java.security.MessageDigest.getInstance("MD5").digest(payload.take(16))
    val headHash = md.map("%02x".format(_)).mkString
    val (tpe, d1, d2) =
      if (ascii(payload, 0, 4) == "RIFF" && ascii(payload, 8, 4) == "WAVE" && payload.length >= 28) {
        // scan chunks for "fmt " (usually at 12, but the spec allows others first)
        var off = 12
        var found = (-1, -1L, -1L)
        while (off + 8 <= payload.length && found._1 < 0) {
          val id = ascii(payload, off, 4)
          val sz = leU32(payload, off + 4) // u32 — may be corrupt in a real corpus
          // fmt must declare at least the 16 canonical PCM bytes before the
          // rate/channels fields are trusted
          if (id == "fmt " && sz >= 16 && off + 16 <= payload.length)
            found = (off, leU32(payload, off + 12), leU16(payload, off + 10))
          // forward-progress guard: Long arithmetic (no u32→Int wrap) and a
          // hard stop when the declared size runs past the payload — a
          // malformed chunk size must end the scan, not spin the task
          val next = off.toLong + 8L + sz + (sz & 1L)
          off = if (next > payload.length) payload.length else next.toInt
        }
        if (found._1 >= 0) ("wav", found._2, found._3) else ("raw", 0L, 0L)
      } else if (ascii(payload, 0, 2) == "P6") {
        // ASCII header: P6 <ws> width <ws> height <ws> maxval, '#' comments
        var off = 2
        def nextInt(): Long = {
          while (off < payload.length &&
            (payload(off).toChar.isWhitespace || payload(off) == '#')) {
            if (payload(off) == '#') while (off < payload.length && payload(off) != '\n') off += 1
            else off += 1
          }
          var v = 0L
          while (off < payload.length && payload(off) >= '0' && payload(off) <= '9') {
            v = v * 10 + (payload(off) - '0'); off += 1
          }
          v
        }
        val w = nextInt(); val h = nextInt()
        if (w > 0 && h > 0) ("ppm", w, h) else ("raw", 0L, 0L)
      } else if (ascii(payload, 0, 2) == "BM" && payload.length >= 26) {
        ("bmp", leU32(payload, 18), leU32(payload, 22))
      } else if (payload.length >= 3 && (payload(0) & 0xff) == 0xff &&
        (payload(1) & 0xff) == 0xd8 && (payload(2) & 0xff) == 0xff) {
        // JPEG: walk the marker segments to the first SOFn (C0-CF except the
        // non-frame C4/C8/CC); the frame header carries height then width as
        // big-endian u16 after the precision byte. No codec needed — only
        // entropy-coded pixel data would.
        var off = 2
        var w = 0L
        var h = 0L
        var done = false
        while (!done && off + 4 <= payload.length) {
          if ((payload(off) & 0xff) != 0xff) done = true // desynced: stop
          else {
            val marker = payload(off + 1) & 0xff
            if (marker == 0xff) off += 1 // fill byte before a marker
            else if (marker >= 0xd0 && marker <= 0xd9) off += 2 // standalone RST/SOI/EOI
            else {
              val segLen = beU16(payload, off + 2).toInt
              val isSof = marker >= 0xc0 && marker <= 0xcf &&
                marker != 0xc4 && marker != 0xc8 && marker != 0xcc
              if (isSof && off + 9 <= payload.length) {
                h = beU16(payload, off + 5); w = beU16(payload, off + 7)
                done = true
              } else if (segLen < 2) done = true // corrupt length: stop, don't spin
              else off += 2 + segLen
            }
          }
        }
        ("jpeg", w, h)
      } else if (payload.length >= 4 && (payload(0) & 0xff) == 0x89 &&
        ascii(payload, 1, 3) == "PNG") {
        // PNG: IHDR is mandated to be the first chunk — width/height are
        // big-endian u32 at fixed offsets 16/20 (8-byte signature + 4-byte
        // length + "IHDR").
        if (payload.length >= 24 && ascii(payload, 12, 4) == "IHDR")
          ("png", beU32(payload, 16), beU32(payload, 20))
        else ("png", 0L, 0L)
      } else if (payload.length >= 12 && ascii(payload, 4, 4) == "ftyp") {
        // ISO-BMFF (MP4/MOV): walk top-level boxes ([u32 size][fourcc]) to
        // moov, then moov's children to mvhd v0 — timescale/duration are
        // big-endian u32 at payload offsets 12/16 of the mvhd body. Same
        // forward-progress discipline as the WAV chunk scan: a size < 8
        // (incl. the 64-bit-size marker 1) ends the walk rather than spin.
        var off = 0
        var ts = -1L
        var dur = -1L
        while (off + 8 <= payload.length && ts < 0) {
          val sz = beU32(payload, off)
          if (ascii(payload, off + 4, 4) == "moov") {
            val end = math.min(off + sz, payload.length.toLong).toInt
            var c = off + 8
            while (c + 8 <= end && ts < 0) {
              val csz = beU32(payload, c)
              if (ascii(payload, c + 4, 4) == "mvhd" && c + 28 <= payload.length &&
                payload(c + 8) == 0) {
                ts = beU32(payload, c + 20); dur = beU32(payload, c + 24)
              }
              // bound in LONG space: a declared child size >= 2^31 must end
              // the walk, not wrap c negative and crash the next read
              c = if (csz < 8 || c + csz > end) end else (c + csz).toInt
            }
          }
          off = if (sz < 8 || off + sz > payload.length) payload.length else (off + sz).toInt
        }
        if (ts > 0) ("mp4", ts, dur) else ("raw", 0L, 0L)
      } else ("raw", 0L, 0L)
    // half-up (not rint's half-even): matches SQL round() in both engines,
    // which is what makes the raw path oracle-checkable
    MediaFeatures(docId, payload.length.toLong, tpe, d1, d2,
      math.floor(mean * 1e4 + 0.5) / 1e4, headHash)
  }

  /** Partition-parallel media feature extraction over any (doc_id LONG,
    * payload BINARY) frame — the spec drives it with synthetic WAV/PPM/BMP
    * payloads to prove the parsers. */
  def mediaFeaturesOf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it => it.map { case (id, bytes) => decode(id, bytes) } }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Decoded per-channel pixel statistics. Sums are EXACT longs (byte
    * values, so any summation order gives the same integer), which is what
    * makes the derived mean/σ bit-identical across engines. */
  case class ImageStats(doc_id: Long, media_type: String, width: Long, height: Long,
      mean_r: Double, mean_g: Double, mean_b: Double,
      sd_r: Double, sd_g: Double, sd_b: Double)

  /** Real pixel decode — the step [[decode]] leaves to a codec:
    *  - PPM (P6): header + RAW RGB triplets, pure byte arithmetic
    *  - BMP: 24-bit uncompressed BGR rows (4-byte padded), byte arithmetic
    *  - PNG/JPEG: the JDK's own `javax.imageio` readers (public platform
    *    API, no external codec)
    * Returns (type, w, h, per-channel sums, per-channel sums of squares,
    * n_pixels); None for payloads that are not decodable images. */
  private[operators] def decodePixels(payload: Array[Byte])
      : Option[(String, Long, Long, Array[Long], Array[Long], Long)] = {
    val sums = new Array[Long](3)
    val sumsq = new Array[Long](3)
    def add(ch: Int, v: Int): Unit = { sums(ch) += v; sumsq(ch) += v.toLong * v }
    if (ascii(payload, 0, 2) == "P6") {
      var off = 2
      def nextInt(): Long = {
        while (off < payload.length &&
          (payload(off).toChar.isWhitespace || payload(off) == '#')) {
          if (payload(off) == '#') while (off < payload.length && payload(off) != '\n') off += 1
          else off += 1
        }
        var v = 0L
        while (off < payload.length && payload(off) >= '0' && payload(off) <= '9') {
          v = v * 10 + (payload(off) - '0'); off += 1
        }
        v
      }
      val w = nextInt(); val h = nextInt(); val maxv = nextInt()
      off += 1 // exactly ONE whitespace byte separates maxval from pixel data
      // dimension sanity cap BEFORE multiplying: a hostile header like
      // "P6 3037000500 3037000500" would overflow w*h past Long and slip
      // the bounds check below
      val nPix = if (w > (1L << 20) || h > (1L << 20)) -1L else w * h
      if (w <= 0 || h <= 0 || nPix < 0 || maxv <= 0 || maxv > 255 ||
        off + nPix * 3 > payload.length) None
      else {
        var p = 0L
        while (p < nPix) {
          val base = off + (p * 3).toInt
          add(0, payload(base) & 0xff); add(1, payload(base + 1) & 0xff)
          add(2, payload(base + 2) & 0xff)
          p += 1
        }
        Some(("ppm", w, h, sums, sumsq, nPix))
      }
    } else if (ascii(payload, 0, 2) == "BM" && payload.length >= 34) {
      // validate every header field in LONG space before any .toInt: a
      // corrupt offset like 0x80000000 must reject, not index negatively
      val dataOffL = leU32(payload, 10)
      val w = leU32(payload, 18)
      val hRaw = leU32(payload, 22).toInt // negative = top-down; sign only flips row ORDER
      val h = math.abs(hRaw.toLong)
      val bpp = leU16(payload, 28)
      val compression = if (payload.length >= 34) leU32(payload, 30) else -1L
      val rowSize = ((bpp * w + 31) / 32) * 4
      if (bpp != 24 || compression != 0L || w <= 0 || h <= 0 ||
        w > (1L << 20) || h > (1L << 20) ||
        dataOffL < 54 || dataOffL + rowSize * h > payload.length) None
      else {
        val dataOff = dataOffL.toInt
        var row = 0
        while (row < h) {
          var x = 0
          while (x < w) {
            val base = dataOff + row * rowSize.toInt + x * 3
            // BMP stores BGR
            add(2, payload(base) & 0xff); add(1, payload(base + 1) & 0xff)
            add(0, payload(base + 2) & 0xff)
            x += 1
          }
          row += 1
        }
        Some(("bmp", w, h, sums, sumsq, w * h))
      }
    } else if ((payload.length >= 4 && (payload(0) & 0xff) == 0x89 && ascii(payload, 1, 3) == "PNG") ||
      (payload.length >= 3 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8)) {
      val tpe = if ((payload(0) & 0xff) == 0x89) "png" else "jpeg"
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              add(0, (rgb >> 16) & 0xff); add(1, (rgb >> 8) & 0xff); add(2, rgb & 0xff)
              x += 1
            }
            y += 1
          }
          Some((tpe, w.toLong, h.toLong, sums, sumsq, w.toLong * h))
        }
      } catch { case _: Exception => None }
    } else None
  }

  /** Half-up to 4 places — matches SQL `round()` in both engines. */
  private def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4

  private def statsFrom(docId: Long)(
      d: (String, Long, Long, Array[Long], Array[Long], Long)): ImageStats = {
    val (tpe, w, h, sums, sumsq, n) = d
    def mean(c: Int) = sums(c).toDouble / n
    def sd(c: Int) = math.sqrt(sumsq(c).toDouble / n - mean(c) * mean(c))
    ImageStats(docId, tpe, w, h,
      r4(mean(0)), r4(mean(1)), r4(mean(2)), r4(sd(0)), r4(sd(1)), r4(sd(2)))
  }

  /** Partition-parallel pixel-stat extraction over any (doc_id, payload)
    * frame — undecodable payloads are dropped (a real pipeline's quality
    * filter); the spec drives PNG/BMP/JPEG through it with JDK-encoded
    * synthetic images. */
  def imageStatsOf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) => decodePixels(bytes).map(statsFrom(id)) }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** The registered query: encode each document's utf-8 bytes as a real P6
    * PPM (k×1 RGB image, k = ⌊bytes/3⌋ — a deterministic "fake" payload in
    * the sense that the IMAGE content is synthesized from text, while the
    * container encode → decode → stats plumbing is fully real), then
    * decode the pixels back and emit per-channel mean/σ. Channel sums are
    * exact integers, so DuckDB reproduces the identical statistics straight
    * from `ord()` over the text — pixel decode is hash-checked end to end. */
  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ASCII guard (chars == bytes) mirrored in the oracle: the DuckDB twin
    // works in characters (ord/len) while this side works in bytes, and
    // the identity only holds for single-byte text. The width cap mirrors
    // decodePixels' 2^20 hostile-header dimension cap — without it a
    // >3 MiB doc would be encoded here, rejected at decode, and silently
    // vanish from the Spark side while the oracle still counted it.
    val src = Tables.documents(spark, dir)
      .where(length(col("text")) >= 3 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")) &&
        floor(length(col("text")) / 3) <= lit(1048576))
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, raw) =>
          val k = raw.length / 3
          val header = s"P6\n$k 1\n255\n".getBytes("US-ASCII")
          (id, header ++ raw.take(k * 3))
        }
      }
      .toDF("doc_id", "payload")
    imageStatsOf(src)
  }

  /** P6 header parse shared by the thumbnail path: returns (w, h, data
    * offset) with the same hostile-header caps as [[decodePixels]]. */
  private def parsePpmHeader(payload: Array[Byte]): Option[(Long, Long, Int)] = {
    if (ascii(payload, 0, 2) != "P6") return None
    var off = 2
    def nextInt(): Long = {
      while (off < payload.length &&
        (payload(off).toChar.isWhitespace || payload(off) == '#')) {
        if (payload(off) == '#') while (off < payload.length && payload(off) != '\n') off += 1
        else off += 1
      }
      var v = 0L
      while (off < payload.length && payload(off) >= '0' && payload(off) <= '9') {
        v = v * 10 + (payload(off) - '0'); off += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    off += 1
    val nPix = if (w > (1L << 20) || h > (1L << 20)) -1L else w * h
    if (w <= 0 || h <= 0 || nPix < 0 || maxv <= 0 || maxv > 255 ||
      off + nPix * 3 > payload.length) None
    else Some((w, h, off))
  }

  /** REAL nearest-neighbor image resize — the multimodal "resize" pipeline
    * step, run on the decoded PPM pixels (not a stub): each thumbnail
    * pixel (i,j) samples source pixel (⌊i·h/th⌋, ⌊j·w/tw⌋). The thumbnail
    * is emitted as comma-joined RGB ints (integers render identically in
    * every engine), so the oracle — which recomputes the SAME sampled
    * bytes from the text the payload was synthesized from, via substr/ord
    * arithmetic — hash-checks the actual resampled pixel values. Narrow
    * mapPartitions pass; at 100 TB this is the map-side stage feeding a
    * vision encoder. */
  def imageThumbnail(spark: SparkSession, dir: String, tw: Int = 8, th: Int = 8): DataFrame =
    thumbnailFrame(spark, dir, tw, th).orderBy(col("doc_id"))

  /** The unsorted decode+resize pass — [[imageAhash]] consumes this form:
    * its own groupBy/join/final sort would throw an intermediate global
    * sort away, and at scale that discarded range shuffle is the most
    * expensive step of the whole query. Cached per (session, dir, tw, th)
    * for consumers where the decode would dominate (a real entropy-coded
    * codec slots into this pass); the aHash pipeline deliberately bypasses
    * the cache — see [[ahashFrame]]'s measurement note. */
  private val thumbCache =
    Memo[(SparkSession, String, Int, Int), DataFrame](this, _.unpersist())

  private def thumbnailFrame(spark: SparkSession, dir: String, tw: Int, th: Int): DataFrame =
    thumbCache((spark, dir, tw, th))(
      thumbnailFrameUncached(spark, dir, tw, th).cache())

  /** The decode+resize pass over any (doc_id, ts, text) frame, the
    * event-time column passing through — the form the streaming ingest
    * path consumes (mapPartitions runs unchanged on a streaming
    * Dataset). Same eligibility filters as the batch pass. */
  /** PERCEPTUAL thumbnails for any (doc_id, ts, text) frame — batch or
    * streaming. Unlike the k×1 container-demo payload (`mm_image_decode` /
    * `mm_thumbnail`, where the point is the encode→decode plumbing), the
    * perceptual path reshapes the bytes into an 8-ROW w×8 image (w =
    * bytes/3/8): a k×1 source makes every thumbnail row sample the SAME
    * source row, collapsing the 64-bit aHash to ~8 effective bits — 225
    * distinct signatures across 5000 docs and an output-QUADRATIC
    * Hamming-ball (96k pairs at sf0.1, the audio round-9 disease). With 8
    * genuine rows all 64 bits carry signal and near-dup output tracks true
    * duplicates, not signature entropy. */
  private[graft] def thumbnailsWithTs(docs: DataFrame, tw: Int = 8, th: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("ts"), col("text"))
      .where(length(col("text")) >= 24 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")) &&
        floor(floor(length(col("text")) / 3) / 8) <= lit(1048576))
      .as[(Long, java.sql.Timestamp, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, ts, text) =>
          val raw = text.getBytes("UTF-8")
          val w = raw.length / 3 / 8
          val header = s"P6\n$w 8\n255\n".getBytes("US-ASCII")
          thumbnailOf(header ++ raw.take(w * 8 * 3), tw, th).map {
            case (_, _, thumb) => (id, ts, thumb)
          }
        }
      }.toDF("doc_id", "ts", "thumb")
  }

  private def thumbnailFrameUncached(spark: SparkSession, dir: String, tw: Int, th: Int): DataFrame = {
    import spark.implicits._
    val src = Tables.documents(spark, dir)
      .where(length(col("text")) >= 3 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")) &&
        floor(length(col("text")) / 3) <= lit(1048576))
      .select(col("doc_id"), encode(col("text"), "utf-8").as("raw"))
      .as[(Long, Array[Byte])]
    src.mapPartitions { it =>
      it.flatMap { case (id, raw) =>
        val k = raw.length / 3
        val header = s"P6\n$k 1\n255\n".getBytes("US-ASCII")
        thumbnailOf(header ++ raw.take(k * 3), tw, th).map {
          case (w, h, thumb) => (id, w, h, thumb)
        }
      }
    }.toDF("doc_id", "src_w", "src_h", "thumb")
  }

  /** Perceptual IMAGE dedup via average-hash (aHash) over the decoded
    * 8×8 thumbnails — the multimodal member of the dedup family (text has
    * minhash/simhash; images hash their downsampled luminance). Bit p of
    * the 64-bit signature is `gray_p · 64 ≥ Σ gray` — an integer
    * cross-multiply, no division, so the hash is bit-identical in any
    * engine — and near-identical images (same payload modulo codec noise
    * that survives the 8×8 downsample) collide exactly. Scale shape: one
    * narrow decode/hash pass, then a keyed equi-join on the 64-bit
    * signature (the LSH-bucket pattern: candidates share a bucket, never
    * all-pairs). The signature is emitted as a 64-char bit string —
    * engine-universal, and a BIGINT would sign-flip on bit 63. */
  def imageAhash(spark: SparkSession, dir: String): DataFrame = {
    val hashed = ahashFrame(spark, dir)
    val counts = hashed.groupBy(col("ahash")).agg(count(lit(1)).as("n_same_hash"))
    hashed.join(counts, Seq("ahash"))
      .select(col("doc_id"), col("ahash"), col("n_same_hash"),
        (col("n_same_hash") > 1).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-point 8-point DCT-II cosine table for [[imagePhash]]:
    * C[u][x] = round(cos(π(2x+1)u/16)·1e6), with every u≠0 row SUM-
    * CORRECTED to exactly zero (the x=0 entry absorbs the ≤2-unit rounding
    * residue). The correction is what makes the DCT's brightness-shift
    * invariance EXACT in integer arithmetic: a uniform +k on every pixel
    * moves each AC coefficient by k·(Σ_x C[u][x])·(Σ_y C[v][y]) = 0, so
    * the pHash provably cannot change (spec-asserted) — with the raw
    * rounded table the residue could flip a near-median bit. The table is
    * emitted verbatim as the oracle's VALUES literal, so both engines
    * share identical integers regardless of libm. */
  private[graft] val DctTable: Array[Array[Long]] = {
    val t = Array.tabulate(8, 8) { (u, x) =>
      math.round(math.cos(math.Pi * (2 * x + 1) * u / 16.0) * 1e6)
    }
    for (u <- 1 until 8) t(u)(0) -= t(u).sum
    t
  }

  /** Perceptual DCT hash (pHash) — the LOW-FREQUENCY twin of the mean-
    * threshold aHash: 2D DCT-II of the same deterministic 8×8 luma grid
    * through the fixed-point table, 63 AC coefficients thresholded at
    * their EXACT integer median (rank-32 of the sorted 63). Everything is
    * exact integer arithmetic — grid values are byte-triple sums, the
    * cosine table is a shared literal — so the oracle recomputes the
    * identical 63-bit signature. Same is_dup/count emission as
    * `mm_image_ahash`. */
  def imagePhash(spark: SparkSession, dir: String): DataFrame = {
    val hashed = phashOf(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    val counts = hashed.groupBy(col("phash")).agg(count(lit(1)).as("n_same_hash"))
    hashed.join(counts, Seq("phash"))
      .select(col("doc_id"), col("phash"), col("n_same_hash"),
        (col("n_same_hash") > 1).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** The per-doc pHash arithmetic as plain Scala — the SPEC TWIN of the
    * production kernel [[graft.functions.PhashImpl]] (a codegen expression;
    * bit-identity across the full corpus is asserted in MediaGateSpec).
    * Batch and streaming both serve from the expression ([[phashOf]] /
    * [[phashWithTs]]); this form stays as the readable executable
    * definition the imgSigCtes oracle mirrors. */
  private[graft] def phashOfText(text: String): String = {
    val t = DctTable
    val raw = text.getBytes("UTF-8")
    val w = raw.length / 3 / 8
    val gv = Array.tabulate(64) { p =>
      val off = 3 * ((p / 8) * w + (p % 8) * w / 8)
      (raw(off) & 255) + (raw(off + 1) & 255) + (raw(off + 2) & 255)
    }
    val coefs = Array.tabulate(8, 8) { (u, v) =>
      var s = 0L
      var p = 0
      while (p < 64) {
        s += gv(p).toLong * t(u)(p % 8) * t(v)(p / 8)
        p += 1
      }
      s
    }
    val ac = (for (u <- 0 until 8; v <- 0 until 8 if u != 0 || v != 0)
      yield coefs(u)(v)).sorted
    val med = ac(31)
    val bits = new StringBuilder(63)
    for (u <- 0 until 8; v <- 0 until 8 if u != 0 || v != 0)
      bits.append(if (coefs(u)(v) > med) '1' else '0')
    bits.toString
  }

  /** The grid-eligibility predicate shared by every pHash consumer. */
  private[graft] def phashEligible: Column =
    length(col("text")) >= 24 &&
      octet_length(encode(col("text"), "utf-8")) === length(col("text")) &&
      floor(floor(length(col("text")) / 3) / 8) <= lit(1048576)

  private[graft] def phashOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .where(phashEligible)
      .select(col("doc_id"),
        graft.functions.PhashExpressions.phashNative(spark, col("text")).as("phash"))
  }

  /** (doc_id, ts, phash) — the streaming-ingest shape. */
  private[graft] def phashWithTs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    docs.select(col("doc_id").cast("long").as("doc_id"), col("ts"), col("text"))
      .where(phashEligible)
      .select(col("doc_id"), col("ts"),
        graft.functions.PhashExpressions.phashNative(spark, col("text")).as("phash"))
  }

  /** (doc_id, ahash) — the signature pass [[imageAhash]] and
    * [[imageNearDup]] share. ONE fused per-partition kernel (guide §4.2,
    * the embed_dim_cov pattern): decode, 8×8 nearest-neighbor resample and
    * the aHash threshold all run as primitive byte/int arithmetic inside a
    * single mapPartitions — no comma-joined thumb string built then
    * re-split, no interpreted higher-order hash expression. Bit-identity
    * with the expression form ([[withAhash]] over [[thumbnailsWithTs]],
    * which the STREAMING path still serves) is spec-asserted
    * (StreamingSpec's stream/batch signature gate + the kernel-vs-
    * expression property spec), so the two derivations cannot drift.
    * Same eligibility filters, so the row set is unchanged. */
  private def ahashFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
      .where(length(col("text")) >= 24 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")) &&
        floor(floor(length(col("text")) / 3) / 8) <= lit(1048576))
      .as[(Long, String)]
      .mapPartitions { it => it.map { case (id, text) => (id, ahashOfText(text)) } }
      .toDF("doc_id", "ahash")
  }

  /** The fused decode→8×8 resample→aHash arithmetic of [[ahashFrame]] as
    * plain Scala over one eligible doc's text — byte-for-byte the
    * [[thumbnailsWithTs]] P6 synthesis (w = bytes/3/8 pixels × 8 rows,
    * nearest-neighbor sample at sy=i, sx=⌊j·w/8⌋) followed by
    * [[ahashExpr]]'s integer mean threshold (bit p = g_p·64 ≥ Σg). */
  private[graft] def ahashOfText(text: String): String = {
    val raw = text.getBytes("UTF-8")
    val w = raw.length / 3 / 8
    val gs = new Array[Int](64)
    var total = 0
    var p = 0
    while (p < 64) {
      val base = ((p / 8) * w + (p % 8) * w / 8) * 3
      val g = (raw(base) & 255) + (raw(base + 1) & 255) + (raw(base + 2) & 255)
      gs(p) = g; total += g; p += 1
    }
    val sb = new java.lang.StringBuilder(64)
    p = 0
    while (p < 64) { sb.append(if (gs(p) * 64 >= total) '1' else '0'); p += 1 }
    sb.toString
  }

  /** Appends the 64-bit aHash bit-string column to any frame carrying an
    * 8×8 `thumb` (comma-joined RGB ints) — the ONE definition of the
    * signature arithmetic, shared by the batch queries and the streaming
    * ingest path so the two cannot drift (bit-identity spec-asserted). */
  private[graft] def withAhash(thumbs: DataFrame): DataFrame =
    thumbs.withColumn("ahash", ahashExpr(col("thumb")))

  /** The aHash arithmetic as ONE pure column expression over a comma-joined
    * 8×8 RGB thumb string — usable directly on a column AND inside a
    * `transform` lambda (the per-frame video signature). The mean is
    * computed once per thumb via array_repeat + zip_with, NOT referenced
    * inside a per-element lambda (the interpreted-HOF total-reference
    * blow-up the near-dup join comment documents). */
  /** Let-binding for column expressions: evaluates `e` ONCE per row and
    * hands the result to `f` as a lambda VARIABLE (a cheap bound value).
    * Interpreted higher-order functions re-evaluate any captured
    * sub-EXPRESSION on every lambda call — referencing a computed array
    * inside a 64-element transform re-runs the whole computation 64× (the
    * round-10 bench caught exactly this: the inlined aHash went 1.3 →
    * 34 s) — but a lambda variable is just a slot read. `transform` over a
    * 1-element array is that let-binder as a pure Column, so the bound
    * form still composes inside outer lambdas (the per-frame video
    * signature) where a withColumn materialization cannot go. */
  private[graft] def bindOnce(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), v => f(v)), 1)

  private[graft] def ahashExpr(thumb: Column): Column =
    bindOnce(transform(split(thumb, ","), v => v.cast("int"))) { vals =>
      bindOnce(transform(sequence(lit(0), lit(63)),
        p => element_at(vals, p * 3 + 1) + element_at(vals, p * 3 + 2) +
          element_at(vals, p * 3 + 3))) { gs =>
        bindOnce(aggregate(gs, lit(0), (acc, x) => acc + x)) { total =>
          concat_ws("", transform(gs,
            g => when(g * 64 >= total, "1").otherwise("0")))
        }
      }
    }

  /** NEAR-miss perceptual image pairs — the Hamming-ball stage
    * [[imageAhash]]'s exact-collision join cannot express: a re-encoded
    * image a shade brighter flips one aHash bit and still lands within
    * Hamming ≤ 3 of its original. Same candidate theory as text simhash
    * (Manku et al., WWW'07), applied to the media signature via
    * [[bitstringNearDupPairs]]. */
  def imageNearDup(spark: SparkSession, dir: String): DataFrame =
    bitstringNearDupPairs(ahashFrame(spark, dir).select(col("doc_id"), col("ahash").as("bits")))

  /** [[imageNearDup]]'s DCT twin over the 63-bit pHash — low-frequency
    * perceptual near-dups through the same pigeonhole chunk machinery
    * (quarter chunks 15/15/15/18 bits at this width). */
  def phashNearDup(spark: SparkSession, dir: String): DataFrame =
    bitstringNearDupPairs(phashOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))).select(col("doc_id"), col("phash").as("bits")))

  /** [[imageNearDup]]'s audio twin over the 64-bit PCM envelope
    * fingerprint ([[afpOfWav]]). */
  def audioNearDup(spark: SparkSession, dir: String): DataFrame =
    bitstringNearDupPairs(afpFrame(spark, dir).select(col("doc_id"), col("afp").as("bits")))

  /** Per-doc VIDEO signature — the temporal member of the perceptual
    * family: the doc's byte stream is treated as a 4-frame clip
    * (contiguous temporal slices), each slice synthesized to its k×1 PPM
    * frame exactly like the image path, thumbnailed 8×8 through the real
    * resampler, and aHashed via the ONE shared [[withAhash]] arithmetic;
    * the signature is the 4×64-bit concatenation in frame order. Two
    * clips collide within Hamming ≤3 only if (almost) every frame
    * matches — a per-frame edit flips ~its frame's worth of bits, so the
    * ball is frame-sensitive the way a video near-dup should be. */
  /** Memoized per (session, dir, frames) — the [[thumbCache]] pattern: the
    * 4-thumbnail decode per doc dominates `mm_video_neardup`, and without
    * the memo every repeat invocation (and every consumer beyond the
    * survivors path, which caches separately) re-paid it. Released with
    * the memos ([[graft.core.Memo]]). */
  private val videoSigCache =
    Memo[(SparkSession, String, Int), DataFrame](this, _.unpersist())

  private[graft] def videoSigFrame(spark: SparkSession, dir: String,
      frames: Int = 4): DataFrame =
    videoSigCache((spark, dir, frames))(
      videoSigsWithTs(Tables.documents(spark, dir)
          .withColumn("ts", lit(null).cast("timestamp")), frames)
        .select(col("doc_id"), col("vsig")).cache())

  /** Per-row 4-frame thumbnails for any (doc_id, ts, text) frame — batch
    * OR streaming (one output row per doc, no aggregation, so it composes
    * under a watermark). Docs whose every slice decodes keep exactly
    * `frames` thumbs; others drop. */
  private[graft] def videoThumbsWithTs(docs: DataFrame, frames: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("ts"), col("text"))
      .where(length(col("text")) >= 24 * frames &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")) &&
        floor(length(col("text")) / 3) <= lit(1048576))
      .as[(Long, java.sql.Timestamp, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, ts, text) =>
          val raw = text.getBytes("UTF-8")
          val thumbs = (0 until frames).flatMap { fidx =>
            val lo = fidx * raw.length / frames
            val hi = (fidx + 1) * raw.length / frames
            val sl = java.util.Arrays.copyOfRange(raw, lo, hi)
            // 8-row reshape per frame, the thumbnailsWithTs rationale: a
            // k×1 frame leaves ~8 effective bits of the 64-bit frame hash
            val w = sl.length / 3 / 8
            val header = s"P6\n$w 8\n255\n".getBytes("US-ASCII")
            thumbnailOf(header ++ sl.take(w * 8 * 3), 8, 8).map(_._3)
          }
          if (thumbs.length == frames) Iterator.single((id, ts, thumbs))
          else Iterator.empty
        }
      }.toDF("doc_id", "ts", "thumbs")
  }

  /** (doc_id, ts, vsig): the 4×64-bit signature via the SHARED
    * [[ahashExpr]] applied per frame inside a transform — the one
    * arithmetic serving batch and streaming. */
  private[graft] def videoSigsWithTs(docs: DataFrame, frames: Int = 4): DataFrame =
    videoThumbsWithTs(docs, frames)
      .select(col("doc_id"), col("ts"),
        concat_ws("", transform(col("thumbs"), t => ahashExpr(t))).as("vsig"))

  /** Registered `mm_video_neardup`: Hamming ≤3 pairs over the 256-bit
    * 4-frame video signatures — completes the image/audio/video
    * perceptual-dedup triple on the same pigeonhole chunk join. */
  def videoNearDup(spark: SparkSession, dir: String): DataFrame =
    bitstringNearDupPairs(videoSigFrame(spark, dir).select(col("doc_id"), col("vsig").as("bits")))

  /** The label frame is cached per (session, dir): mm_neardup_survivors
    * AND mm_neardup_cluster_stats consume it, and the pair generation +
    * CC fixpoint is the expensive stage — the [[Dedup.dedupSurvivors]]
    * cache pattern. Released with the memos. */
  private val mediaSurvivorsCache =
    Memo[(SparkSession, String), DataFrame](this, _.unpersist())

  /** Media near-dup SURVIVORS — the keep-set a pipeline actually consumes
    * (which media rows to keep, not just which pairs collided): the image
    * aHash, audio envelope-fingerprint, and 4-frame video-signature
    * near-dup pair frames (Hamming
    * ≤ 3 each, including their exact-signature Hamming-0 clusters) run
    * through the SAME connected-components + min-label canonicalization
    * pass as the text dedup family ([[Dedup.survivorsOf]]) — a doc that
    * near-dups on EITHER modality joins the cluster, so the corpus gets
    * ONE survivor semantics across text, embedding, and media dedup. Docs
    * in no pair (including media-ineligible ones) keep themselves. */
  def mediaNearDupSurvivors(spark: SparkSession, dir: String): DataFrame =
    mediaSurvivorsCache((spark, dir)) {
      val pairs = imageNearDup(spark, dir).select(col("id_a"), col("id_b"))
        .union(audioNearDup(spark, dir).select(col("id_a"), col("id_b")))
        .union(videoNearDup(spark, dir).select(col("id_a"), col("id_b")))
      graft.operators.Dedup.survivorsOf(spark, pairs,
        Tables.documents(spark, dir).select(col("doc_id"))).cache()
    }

  /** Media SOFT dedup — [[Dedup.dedupSoftWeights]]'s media twin: keep
    * every doc, emit sampling weight 1/cluster_size from the cross-modal
    * (image ∪ audio ∪ video) near-dup component labels, so a training run
    * sees each perceptual-duplicate cluster with one document's mass.
    * Rides the cached [[mediaNearDupSurvivors]] labels; sizes frame is one
    * row per cluster, keyed join — nothing outgrows the corpus. */
  def mediaSoftWeights(spark: SparkSession, dir: String): DataFrame = {
    val labels = mediaNearDupSurvivors(spark, dir)
      .select(col("doc_id"), col("canonical_id"))
    val sizes = labels.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 4).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-cluster size histogram over the media near-dup component
    * labels — [[Dedup.dedupClusterStats]]'s media twin, the audit
    * analytic for perceptual dedup. Both shuffles shrink the data
    * (docs → clusters → distinct sizes). */
  def mediaNearDupClusterStats(spark: SparkSession, dir: String): DataFrame =
    mediaNearDupSurvivors(spark, dir)
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** INCREMENTAL perceptual dedup — [[Dedup.dedupIncremental]]'s media
    * twin, the production shape: a NEW batch of media (doc_id >=
    * batchStart stands in for today's arrivals) checked against the
    * EXISTING corpus for near-miss signature matches (Hamming <= 3), not
    * just exact collisions. Per batch doc: the nearest corpus signature
    * (ties -> lowest corpus id), or is_dup = false if none within the
    * ball. Candidates come from the same pigeonhole quarter-chunk join,
    * batch-side vs corpus-side — at 100 TB the corpus side is a
    * pre-hashed signature table and the daily batch is small. */
  def imageNearDupIncremental(spark: SparkSession, dir: String,
      batchStart: Long = 400): DataFrame = {
    // the returned frame reads this cache, so it lives until the memo sweep
    val sig = Memo.pin(this, ahashFrame(spark, dir)
      .select(col("doc_id"), col("ahash").as("bits")).cache())
    val corpus = sig.where(col("doc_id") < batchStart)
    val batch = sig.where(col("doc_id") >= batchStart)
    val best = bitstringNearDupLookup(batch, corpus)
    batch.join(best, Seq("bits"), "left")
      .select(col("doc_id"), col("bits").as("ahash"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("hamming"), lit(-1L)).as("hamming"),
        col("dup_of").isNotNull.as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Per DISTINCT batch signature, the best (lowest Hamming, then lowest
    * corpus id) corpus match within Hamming <= `maxHamming` — the lookup
    * (asymmetric) form of [[bitstringNearDupPairs]], same quarter-chunk
    * candidate theory and word-wise popcount verify. */
  private[graft] def bitstringNearDupLookup(batch: DataFrame, corpus: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val corpusMin = corpus.groupBy(col("bits")).agg(min(col("doc_id")).as("cid"))
    def keyed(df: DataFrame, bcol: String) = {
      val g = df.select(col("bits").as(bcol)).distinct()
        .withColumn("len", length(col(bcol)))
      val chunks = (0 until 4).map { c =>
        struct(lit(c).as("ci"),
          (if (c < 3) expr(s"substring($bcol, $c * (len div 4) + 1, len div 4)")
           else expr(s"substring($bcol, 3 * (len div 4) + 1, len - 3 * (len div 4))")).as("piece"))
      }
      (g.where(col("len") >= 4)
        .select(col(bcol), col("len"), explode(array(chunks: _*)).as("ck"))
        .select(col(bcol), col("len"), col("ck.ci").as("ci"), col("ck.piece").as("piece")),
       g.where(col("len") < 4))
    }
    val (bk, bs) = keyed(batch, "bb")
    val (ck, cs) = keyed(corpusMin, "cb")
    val candWide = bk.join(ck,
        bk("ci") === ck("ci") && bk("piece") === ck("piece") && bk("len") === ck("len"))
      .select(col("bb"), col("cb")).distinct()
    val candShort = bs.join(cs, bs("len") === cs("len")).select(col("bb"), col("cb"))
    val pairs = candWide.union(candShort)
      .withColumn("hamming", expr(
        "aggregate(zip_with(" +
          "transform(sequence(0, cast((length(bb) - 1) div 16 as int)), " +
          "  w -> cast(conv(substring(bb, w * 16 + 1, 16), 2, 10) as bigint)), " +
          "transform(sequence(0, cast((length(cb) - 1) div 16 as int)), " +
          "  w -> cast(conv(substring(cb, w * 16 + 1, 16), 2, 10) as bigint)), " +
          "(x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v)")
        .cast("long"))
      .where(col("hamming") <= maxHamming)
    pairs.join(corpusMin.withColumnRenamed("bits", "cb"), "cb")
      .groupBy(col("bb"))
      .agg(min(struct(col("hamming"), col("cid"))).as("best"))
      .select(col("bb").as("bits"),
        col("best.cid").as("dup_of"), col("best.hamming").as("hamming"))
  }

  /** Near-dup pairs (id_a < id_b, hamming ≤ 3) over any (doc_id, bits)
    * bit-string signature frame. Candidates come from a pigeonhole
    * quarter-chunk equi-join — ≤ 3 differing bits among 4 disjoint pieces
    * guarantee one identical piece, so the join is COMPLETE for any
    * signature length ≥ 4 — and run over DISTINCT signatures (cluster
    * representatives), so degenerate same-signature clusters cost one row
    * per chunk, not m. Hamming-0 members are emitted by a signature
    * equi-join (inherently quadratic only in true-duplicate output). The
    * join key is the piece STRING keyed by (length, position): for wide
    * signatures (64-bit aHash; duration-proportional audio fingerprints)
    * piece entropy keeps buckets sparse at corpus scale; config-short
    * signatures bound the whole candidate space by construction. */
  private[graft] def bitstringNearDupPairs(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    // Materialize signature AND its parsed 16-bit-word array before
    // joining — the dedupSimhashFrame pattern, and here it is load-bearing
    // twice over: (1) the self- and back-joins otherwise push isnotnull/
    // key predicates through the projection layers, INLINING the nested
    // higher-order signature expression into per-row join predicates
    // (~10⁴× interpreted blow-up); (2) Catalyst pushes the Hamming-verify
    // filter below `distinct` INTO the candidate-join condition, so the
    // verify runs once per CANDIDATE PAIR — parsing both 256-bit strings
    // through 32 interpreted conv(substring) calls per pair cost 23 s at
    // sf0.1 (the round-10 bench catch). With `words` parsed ONCE per
    // signature inside the cache (a hard pushdown barrier), the per-pair
    // verify is 16 xor+popcounts over two materialized arrays — cheap
    // wherever the optimizer decides to evaluate it.
    val wordsOf = expr("transform(sequence(0, cast((length(bits) - 1) div 16 as int)), " +
      "w -> cast(conv(substring(bits, w * 16 + 1, 16), 2, 10) as bigint))")
    val s = Memo.pin(this, sig.select(col("doc_id"), col("bits"))
      .withColumn("words", wordsOf).cache())
    val groups = s.groupBy(col("bits"))
      .agg(min(col("doc_id")).as("rep"), first(col("words")).as("words"))
      .withColumn("len", length(col("bits")))
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("ci"),
        (if (c < 3) expr(s"substring(bits, $c * (len div 4) + 1, len div 4)")
         else expr("substring(bits, 3 * (len div 4) + 1, len - 3 * (len div 4))")).as("piece"))
    }
    val keyed = groups.where(col("len") >= 4)
      .select(col("rep"), col("bits"), col("words"), col("len"),
        explode(array(chunks: _*)).as("ck"))
      .select(col("rep"), col("bits"), col("words"), col("len"),
        col("ck.ci").as("ci"), col("ck.piece").as("piece"))
    // Exact Hamming over the PRE-PARSED word arrays: 16 xor+popcounts per
    // pair (equal length is join-guaranteed), exact at ANY signature width
    // (16-bit words never overflow conv's long parse).
    def hammingOf(wa: Column, wb: Column): Column =
      aggregate(zip_with(wa, wb, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
        lit(0L), (acc, v) => acc + v)
    val candWide = keyed.as("a").join(keyed.as("b"),
        col("a.ci") === col("b.ci") && col("a.piece") === col("b.piece") &&
          col("a.len") === col("b.len") && col("a.rep") < col("b.rep"))
      .select(col("a.bits").as("ba"), col("b.bits").as("bb"),
        hammingOf(col("a.words"), col("b.words")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
    // Signatures under 4 bits can't be quarter-chunked, but carry at most
    // 2^len < 16 DISTINCT values per length — an all-pairs join within the
    // length group is constant-bounded and complete.
    val short = groups.where(col("len") < 4)
    val candShort = short.as("a").join(short.as("b"),
        col("a.len") === col("b.len") && col("a.rep") < col("b.rep"))
      .select(col("a.bits").as("ba"), col("b.bits").as("bb"),
        hammingOf(col("a.words"), col("b.words")).as("hamming"))
      .where(col("hamming") <= maxHamming)
    val sigPairs = candWide.union(candShort)
    val cross = sigPairs
      .join(s.select(col("doc_id").as("da"), col("bits").as("ba")), "ba")
      .join(s.select(col("doc_id").as("db"), col("bits").as("bb")), "bb")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("hamming"))
    val same = s.as("a").join(s.as("b"),
        col("a.bits") === col("b.bits") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), lit(0L).as("hamming"))
    cross.union(same)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---- planted near-dup gates ---------------------------------------------

  /** 16-bit word parse of a bit-string column (the [[bitstringNearDupPairs]]
    * arithmetic in Column form, for the tiny planted-fixture frames). */
  private def bitsWordsCol(c: Column): Column =
    transform(sequence(lit(0), ((length(c) - 1) / 16).cast("int")),
      w => conv(c.substr(w * 16 + 1, lit(16)), 2, 10).cast("long"))

  private def hammingBitsCol(a: Column, b: Column): Column =
    aggregate(zip_with(bitsWordsCol(a), bitsWordsCol(b),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Planted-mutation gate shared by the audio and video near-dup pair
    * queries, which pass VACUOUSLY at driver scale (the testdata plants no
    * audio/video near-duplicates, so machine and oracle agree on zero
    * rows). This makes the pair stage carry signal: derive mutated copies
    * of real corpus media IN-QUERY (single-character perturbations of the
    * payload text — one byte of PCM / one byte of one video frame), pick
    * per source the first variant whose signature lands in the near band
    * (Hamming 1..3, measured through the SAME production signature
    * arithmetic), plant mutant AND exact copies under offset ids, run the
    * PRODUCTION pigeonhole pair join over corpus ∪ planted, and assert
    *  - `exact_pairs_ok`: every exact copy pairs with its source at
    *    Hamming 0 (the same-signature branch);
    *  - `near_pairs_ok`: every planted mutant pairs with its source at
    *    EXACTLY its measured Hamming (the chunk join's completeness
    *    theorem for Hamming ≤ 3 — ≤3 flipped bits among 4 disjoint pieces
    *    leave one piece identical);
    *  - `near_nonvacuous`: at least one mutant landed in Hamming 1..3, so
    *    the near-miss branch (not just the equality branch) is exercised.
    * `n_candidates` is recomputed by the oracle from the same documents
    * predicate; the flags are invariants of the fixture + theorem.
    * Everything planted is fixture-sized (nPlant sources × nVariants
    * probes); the corpus side reuses the production signature pass. */
  /** Memoized planted-gate fixtures per (session, dir, frameLocal, nPlant,
    * nVariants) — (candidate rows, chosen near-band mutants). Pure function
    * of its key; released with the memos. */
  private val gateFixtureCache = Memo[(SparkSession, String, Boolean, Int, Int),
    (Array[(Long, String)], Array[(Long, String, Long)])](this)

  private def plantedNearDupGate(
      spark: SparkSession,
      dir: String,
      baseSigs: DataFrame,
      sigOf: DataFrame => DataFrame,
      eligible: Column,
      frameLocal: Boolean,
      nPlant: Int = 8,
      nVariants: Int = 48,
      probeSigOf: Option[DataFrame => DataFrame] = None): DataFrame = {
    import spark.implicits._
    val Offset = 10000000L
    val docs = Tables.documents(spark, dir)
    // The fixture derivation (candidate texts, one-byte mutations, which
    // variant lands in the near band) is a pure function of (dir,
    // frameLocal, nPlant, nVariants), so it is memoized like the
    // signature frames it reads — every timed/repeat invocation charges
    // only the PRODUCTION pair-recovery pass below, which is the thing
    // the gate exists to exercise. The fixture is driver-sized by
    // construction (nPlant sources × nVariants probes).
    val (candRows, chosenRows) = gateFixtureCache((spark, dir, frameLocal, nPlant, nVariants)) {
      val cand = docs.where(eligible)
        .orderBy(col("doc_id")).limit(nPlant)
        .select(col("doc_id"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      // mutate only the first quarter for frame-local media (video: one
      // frame slice), anywhere for stream media (audio: one PCM byte) —
      // same (variant*13) % win position arithmetic as always
      val varRows = cand.toSeq.flatMap { case (id, t) =>
        val win = if (frameLocal) t.length / 4 else t.length
        if (win < 1) Seq.empty
        else (0 until nVariants).map { v =>
          val p = (v * 13) % win
          val flipped = if (t.charAt(p) == 'a') 'b' else 'a'
          (id, v.toLong, t.substring(0, p) + flipped + t.substring(p + 1))
        }
      }
      val varText = varRows.map { case (id, v, t) => (id, v) -> t }.toMap
      // signature of every probe — through the production arithmetic, or
      // through a cheaper probe form when one exists (video: only frame 1
      // differs from the source, so the probe splices the memoized base
      // signature instead of re-decoding all 4 frames per variant). The
      // probe stage only SELECTS which variant to plant; the pair-join
      // assertion below always runs the full production sigOf, so a probe
      // shortcut that mis-scored a variant would fail near_pairs_ok
      // loudly rather than weaken the gate. The (doc, variant) key rides
      // encoded in the id (variant < 1000).
      val varSig = probeSigOf.getOrElse(sigOf)(
          varRows.map { case (id, v, t) => (id * 1000 + v, t) }
            .toDF("doc_id", "text"))
        .select(floor(col("doc_id") / 1000).cast("long").as("doc_id"),
          pmod(col("doc_id"), lit(1000L)).as("variant"), col("bits").as("vbits"))
      val base = baseSigs.select(col("doc_id"), col("bits").as("base_bits"))
      val chosen = varSig.join(base, "doc_id")
        .withColumn("h", hammingBitsCol(col("vbits"), col("base_bits")))
        .where(col("h").between(1, 3))
        .groupBy(col("doc_id"))
        .agg(min(struct(col("variant"), col("h"))).as("b"))
        .select(col("doc_id"), col("b.variant").as("variant"), col("b.h").as("h"))
        .collect()
        .map(r => (r.getLong(0), varText((r.getLong(0), r.getLong(1))), r.getLong(2)))
      (cand, chosen)
    }
    val planted =
      candRows.map { case (id, t) => (id + 2 * Offset, t) } ++
        chosenRows.map { case (id, t, _) => (id + Offset, t) }
    // only planted-involving pairs matter for the flags (and bound the
    // collect); every expected pair has its high id ≥ Offset
    val pairs = bitstringNearDupPairs(baseSigs.union(sigOf(
        planted.toSeq.toDF("doc_id", "text"))))
      .where(col("id_b") >= Offset)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exactOk = candRows.forall { case (id, _) => pairs.contains((id, id + 2 * Offset, 0L)) }
    val nearOk = chosenRows.forall { case (id, _, h) => pairs.contains((id, id + Offset, h)) }
    Seq((candRows.length.toLong, exactOk, nearOk, chosenRows.nonEmpty))
      .toDF("n_candidates", "exact_pairs_ok", "near_pairs_ok", "near_nonvacuous")
  }

  private val PlantTs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  /** Registered `mm_audio_neardup_gate`: planted single-byte PCM mutations
    * recovered by the production envelope-fingerprint Hamming-ball pass —
    * the non-vacuous evidence for [[audioNearDup]], whose corpus-only row
    * set is empty at driver scale. */
  def audioNearDupGate(spark: SparkSession, dir: String): DataFrame =
    plantedNearDupGate(spark, dir,
      afpFrame(spark, dir).select(col("doc_id"), col("afp").as("bits")),
      d => audioFingerprintsWithTs(d.withColumn("ts", lit(PlantTs)))
        .select(col("doc_id"), col("afp").as("bits")),
      eligible = length(col("text")) >= 2 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")),
      frameLocal = false)

  /** FRAME-1-ONLY signature over (doc_id, text): the first temporal slice
    * decoded + aHashed exactly as [[videoThumbsWithTs]] does for fidx=0
    * (same slice bounds, same 8-row reshape, same resampler) — the probe
    * kernel for [[videoNearDupGate]], where a frame-local mutation leaves
    * frames 2..4 byte-identical to the source and only frame 1 needs
    * re-decoding per variant. */
  private[graft] def videoFrame1Sigs(docs: DataFrame, frames: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .where(length(col("text")) >= 24 * frames &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")) &&
        floor(length(col("text")) / 3) <= lit(1048576))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          val sl = java.util.Arrays.copyOfRange(raw, 0, raw.length / frames)
          val w = sl.length / 3 / 8
          val header = s"P6\n$w 8\n255\n".getBytes("US-ASCII")
          thumbnailOf(header ++ sl.take(w * 8 * 3), 8, 8).map(t => (id, t._3))
        }
      }.toDF("doc_id", "thumb")
      .select(col("doc_id"), ahashExpr(col("thumb")).as("f1bits"))
  }

  /** Registered `mm_video_neardup_gate`: planted one-byte one-frame
    * mutations recovered by the production 256-bit 4-frame signature pass
    * — [[videoNearDup]]'s non-vacuous twin (mutating inside the first
    * frame slice leaves the other three frame hashes bit-identical, so
    * the near band is reachable by construction). Probe stage rides
    * [[videoFrame1Sigs]] + the memoized [[videoSigFrame]]: a same-length
    * first-quarter substitution cannot move the slice boundaries, so the
    * mutant's frames 2..4 hash bit-identically to the source's cached
    * signature tail — one frame decoded per probe instead of four. The
    * assertion pass still signs every PLANTED row through the full
    * production path. */
  def videoNearDupGate(spark: SparkSession, dir: String): DataFrame =
    plantedNearDupGate(spark, dir,
      videoSigFrame(spark, dir).select(col("doc_id"), col("vsig").as("bits")),
      d => videoSigsWithTs(d.withColumn("ts", lit(PlantTs)))
        .select(col("doc_id"), col("vsig").as("bits")),
      eligible = length(col("text")) >= 96 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")) &&
        floor(length(col("text")) / 3) <= lit(1048576),
      frameLocal = true,
      probeSigOf = Some { d =>
        val f1 = videoFrame1Sigs(d)
        f1.join(
            videoSigFrame(spark, dir)
              .select(col("doc_id").as("src_id"), col("vsig")),
            floor(f1("doc_id") / 1000) === col("src_id"))
          .select(f1("doc_id"),
            concat(col("f1bits"), substring(col("vsig"), 65, 192)).as("bits"))
      })

  /** The resize itself over one P6 payload: (src_w, src_h, joined RGB
    * ints) — None for non-PPM / hostile headers. */
  private[graft] def thumbnailOf(payload: Array[Byte], tw: Int, th: Int)
      : Option[(Long, Long, String)] =
    parsePpmHeader(payload).map { case (w, h, off) =>
      val sb = new java.lang.StringBuilder(tw * th * 12)
      var i = 0
      while (i < th) {
        val sy = i.toLong * h / th
        var j = 0
        while (j < tw) {
          val sx = j.toLong * w / tw
          val base = off + ((sy * w + sx) * 3).toInt
          var c = 0
          while (c < 3) {
            if (sb.length > 0) sb.append(',')
            sb.append(payload(base + c) & 0xff)
            c += 1
          }
          j += 1
        }
        i += 1
      }
      (w, h, sb.toString)
    }

  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Minimal ISO-BMFF container: ftyp box + moov holding an mvhd v0 with
    * the given timescale/duration — the same layout the parser spec uses. */
  private[graft] def synthMp4(timescale: Long, duration: Long): Array[Byte] = {
    val mvhd = be32(8 + 4 + 16 + 8) ++ "mvhd".getBytes("US-ASCII") ++
      Array.fill[Byte](4)(0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++
      Array.fill[Byte](8)(0)
    be32(16) ++ "ftyp".getBytes("US-ASCII") ++ "isom".getBytes("US-ASCII") ++ be32(512) ++
      be32(8 + mvhd.length) ++ "moov".getBytes("US-ASCII") ++ mvhd
  }

  /** Frame-sample scheduling — the video "frame-sample" pipeline step:
    * synthesize each doc's minimal MP4 (timescale 1000 → media units are
    * ms, duration = n_chars), decode timescale/duration back through the
    * REAL mvhd box walk, and emit k evenly spaced sample timestamps
    * ⌊i·duration/k⌋. Decoding entropy-coded FRAMES needs a codec;
    * SELECTING them does not — and the schedule is the part the engine
    * owns (a codec slots into the same mapPartitions shape as
    * [[decodePixels]]). The oracle recomputes the schedule from n_chars,
    * so rows match only if the synthesize→box-walk roundtrip preserved
    * the duration exactly. */
  def frameSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      .as[(Long, Long)]
      .flatMap { case (id, n) =>
        val f = decode(id, synthMp4(1000L, n))
        if (f.media_type != "mp4") Iterator.empty
        else (0 until k).iterator.map(i => (id, i.toLong, i * f.dim2 / k, f.dim2))
      }
      .toDF("doc_id", "frame_idx", "sample_ms", "duration_ms")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Decoded PCM sample statistics — the audio twin of [[ImageStats]]. */
  case class AudioStats(doc_id: Long, sample_rate: Long, n_channels: Long,
      n_samples: Long, mean_amp: Double, sd_amp: Double)

  /** Real WAV PCM decode: walk the RIFF chunks to `fmt ` AND `data`, then
    * read the signed 16-bit little-endian samples themselves — the step
    * [[decode]] stops short of (it reads rate/channels only). Returns
    * (rate, channels, n_samples, sum, sum-of-squares); sums are exact
    * longs (16-bit samples: |sum| ≤ n·2^15, sumsq ≤ n·2^30 — no overflow
    * until n ~ 2^33). None for non-WAV / non-PCM-16 payloads. */
  /** RIFF/fmt/data walk for PCM-16 WAVs: (rate, channels, data offset,
    * sample count) — shared by the stat decoder and the decimator. */
  private def wavPcm16Layout(payload: Array[Byte]): Option[(Long, Long, Int, Long)] = {
    if (!(ascii(payload, 0, 4) == "RIFF" && ascii(payload, 8, 4) == "WAVE")) return None
    var off = 12
    var rate = -1L; var channels = -1L; var bits = -1L; var fmtTag = -1L
    var dataOff = -1; var dataLen = -1L
    while (off + 8 <= payload.length && (rate < 0 || dataOff < 0)) {
      val id = ascii(payload, off, 4)
      val sz = leU32(payload, off + 4)
      if (id == "fmt " && sz >= 16 && off + 24 <= payload.length) {
        fmtTag = leU16(payload, off + 8)
        channels = leU16(payload, off + 10)
        rate = leU32(payload, off + 12)
        bits = leU16(payload, off + 22)
      } else if (id == "data") { dataOff = off + 8; dataLen = sz }
      val next = off.toLong + 8L + sz + (sz & 1L)
      off = if (next > payload.length) payload.length else next.toInt
    }
    // fmtTag 1 = integer PCM — the only codec these samples ARE; a
    // compressed stream declaring 16 bits would otherwise be summed as PCM
    if (rate < 0 || dataOff < 0 || fmtTag != 1L || bits != 16 || channels < 1) None
    else Some((rate, channels, dataOff,
      math.min(dataLen, (payload.length - dataOff).toLong) / 2))
  }

  /** Signed 16-bit little-endian sample i. */
  @inline private def wavSampleAt(payload: Array[Byte], dataOff: Int, i: Long): Long =
    ((payload(dataOff + (i * 2).toInt) & 0xff) |
      (payload(dataOff + (i * 2).toInt + 1) << 8)).toShort.toLong

  private[operators] def decodeWavSamples(payload: Array[Byte])
      : Option[(Long, Long, Long, Long, Long)] =
    wavPcm16Layout(payload).map { case (rate, channels, dataOff, n) =>
      var sum = 0L; var sumsq = 0L
      var i = 0L
      while (i < n) {
        val v = wavSampleAt(payload, dataOff, i)
        sum += v; sumsq += v * v
        i += 1
      }
      (rate, channels, n, sum, sumsq)
    }

  /** Partition-parallel PCM-stat extraction over any (doc_id, payload)
    * frame; non-WAV payloads are dropped. */
  def audioStatsOf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodeWavSamples(bytes).map { case (rate, ch, n, sum, sumsq) =>
            val mean = if (n == 0) 0.0 else sum.toDouble / n
            val sd = if (n == 0) 0.0 else math.sqrt(sumsq.toDouble / n - mean * mean)
            AudioStats(id, rate, ch, n, r4(mean), r4(sd))
          }
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Registered query: encode each document's utf-8 bytes as a REAL 16 kHz
    * mono 16-bit PCM WAV (canonical 44-byte RIFF header + the doc's first
    * 2·⌊bytes/2⌋ bytes as little-endian samples), decode the samples back,
    * and emit amplitude statistics. ASCII bytes make every high byte < 128,
    * so the oracle reproduces the identical sample values from `ord()`
    * pairs — signed-PCM handling is spec-gated with synthetic negative
    * samples. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same ASCII guard as [[imageDecode]] — byte-vs-character identity
    val src = Tables.documents(spark, dir)
      .where(length(col("text")) >= 2 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")))
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, raw) => (id, synthWav(raw)) }
      }
      .toDF("doc_id", "payload")
    audioStatsOf(src)
  }

  /** The canonical WAV the audio queries synthesize from a doc's utf-8
    * bytes: 16 kHz mono 16-bit PCM, 44-byte RIFF header + the first
    * 2·⌊len/2⌋ bytes as little-endian samples — ONE definition shared by
    * decode/sample/fingerprint (and the streaming ingest twin) so the
    * payloads cannot drift. */
  private[graft] def synthWav(raw: Array[Byte]): Array[Byte] = {
    val m = raw.length / 2
    val data = raw.take(2 * m)
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(16000).putInt(16000 * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    bb.array()
  }

  /** PCM decimation — the audio twin of [[imageThumbnail]]'s resize: keep
    * every k-th decoded sample (the rate-reduction step before an audio
    * feature extractor; a proper low-pass resampler slots into the same
    * shape). Samples come from the REAL RIFF walk + signed-LE16 reads and
    * are emitted as comma-joined ints; the oracle recomputes the identical
    * kept samples from the text the payload was synthesized from (sample j
    * = chars 2j+1, 2j+2 as a little-endian int16), hash-checking the
    * decimated values themselves. */
  def audioSample(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .where(length(col("text")) >= 2 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")))
      .select(col("doc_id"), encode(col("text"), "utf-8").as("raw"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, raw) =>
          val payload = synthWav(raw)
          wavPcm16Layout(payload).map { case (rate, _, dataOff, n) =>
            val sb = new java.lang.StringBuilder
            var i = 0L
            while (i < n) {
              if (sb.length > 0) sb.append(',')
              sb.append(wavSampleAt(payload, dataOff, i))
              i += k
            }
            (id, rate, n, (n + k - 1) / k, sb.toString)
          }
        }
      }
      .toDF("doc_id", "sample_rate", "n_samples", "n_kept", "samples")
      .orderBy(col("doc_id"))
  }

  /** Perceptual AUDIO dedup — the PCM twin of [[imageAhash]]: the 64-bit
    * envelope fingerprint of [[afpOfWav]] bucketed by an exact equi-join.
    * Same scale shape as the image side: narrow decode/hash pass, then a
    * keyed signature equi-join for bucket sizes — never all-pairs. */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val hashed = afpFrame(spark, dir)
    val counts = hashed.groupBy(col("afp")).agg(count(lit(1)).as("n_same_hash"))
    hashed.join(counts, Seq("afp"))
      .select(col("doc_id"), col("afp"), col("n_same_hash"),
        (col("n_same_hash") > 1).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit ENVELOPE fingerprint of a PCM-16 WAV payload — the audio twin
    * of the 64-bit aHash: samples split into 64 contiguous windows
    * (sample i → window ⌊i·64/n⌋) and bit j is `windowSum_j · n ≥
    * total · windowCount_j` — "window mean at or above the global mean"
    * as an integer cross-multiply, engine-exact. The FIXED 64-bit width
    * is the point: a Hamming-≤3 ball covers ~4.4×10⁴/2⁶⁴ of the space,
    * so near-dup buckets stay sparse at any corpus size (the previous
    * duration-proportional fingerprint emitted ≤16 bits over these
    * ~300-char docs, whose ball covers ~1% of ALL pairs — near-dup
    * output quadratic in corpus size). Windows past the sample count
    * (n < 64) stay '0' — their placement varies with n, so durations
    * remain discriminative. Exact while |windowSum·n| ≤ n²·2¹⁵ < 2⁶³,
    * i.e. any clip under ~2²⁴ samples (~17 min at 16 kHz); longer media
    * would decimate first ([[audioSample]]'s pass). */
  private[graft] def afpOfWav(payload: Array[Byte]): Option[String] =
    wavPcm16Layout(payload).map { case (_, _, dataOff, n) =>
      val sums = new Array[Long](64)
      val cnts = new Array[Long](64)
      var total = 0L
      var i = 0L
      while (i < n) {
        val v = wavSampleAt(payload, dataOff, i)
        val w = ((i * 64) / n).toInt
        sums(w) += v; cnts(w) += 1; total += v
        i += 1
      }
      val sb = new java.lang.StringBuilder(64)
      var j = 0
      while (j < 64) {
        sb.append(if (cnts(j) > 0 && sums(j) * n >= total * cnts(j)) '1' else '0')
        j += 1
      }
      sb.toString
    }

  /** (doc_id, afp) — the fingerprint pass [[audioFingerprint]] and
    * [[audioNearDup]] share: synthesize the canonical WAV, fingerprint it
    * in the decoder (plain JVM arithmetic — no interpreted higher-order
    * expressions to keep out of join predicates). */
  private def afpFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .where(length(col("text")) >= 2 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")))
      .select(col("doc_id"), encode(col("text"), "utf-8").as("raw"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, raw) => afpOfWav(synthWav(raw)).map(afp => (id, afp)) }
      }
      .toDF("doc_id", "afp")
  }

  /** (doc_id, ts, afp) over any (doc_id, ts, text) frame, the event-time
    * column passing through — the form the streaming ingest path consumes
    * ([[thumbnailsWithTs]]'s audio twin), sharing [[synthWav]] +
    * [[afpOfWav]] verbatim with the batch queries so the two cannot drift
    * (bit-identity spec-asserted). */
  private[graft] def audioFingerprintsWithTs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("ts"), col("text"))
      .where(length(col("text")) >= 2 &&
        octet_length(encode(col("text"), "utf-8")) === length(col("text")))
      .as[(Long, java.sql.Timestamp, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, ts, text) =>
          afpOfWav(synthWav(text.getBytes("UTF-8"))).map(afp => (id, ts, afp))
        }
      }
      .toDF("doc_id", "ts", "afp")
  }

  private def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  private def gunzipBytes(gz: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(gz))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** Binary payload compression roundtrip with the JDK's REAL gzip codec —
    * the transform a 100 TB pipeline applies before shipping payloads
    * between stages. Per-row mapPartitions, no shuffle; emits the
    * compression ratio and a roundtrip-integrity bit per doc (rows-only
    * driver check — gzip byte output is JVM-specific; integrity and ratio
    * bounds are spec-gated). */
  def gzipRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, raw) =>
          val gz = gzipBytes(raw)
          val back = gunzipBytes(gz)
          (id, raw.length.toLong, gz.length.toLong,
            if (raw.isEmpty) 1.0 else math.rint(gz.length.toDouble / raw.length * 1e4) / 1e4,
            java.util.Arrays.equals(raw, back))
        }
      }
      .toDF("doc_id", "n_raw", "n_gzip", "ratio", "roundtrip_ok")
      .orderBy(col("doc_id"))
  }

  /** The oracle-checkable face of the gzip roundtrip: gzip bytes are
    * JVM-specific, but the DECOMPRESSED payload is not — emit its md5 and
    * let DuckDB recompute the same digest from the parquet text, so a
    * hash-match proves decompression fidelity cross-engine (n_gzip/ratio
    * stay on [[gzipRoundtrip]], the JVM-specific API). */
  def gzipRoundtripChecked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, raw) =>
          val back = gunzipBytes(gzipBytes(raw))
          (id, raw.length.toLong, java.util.Arrays.equals(raw, back), back)
        }
      }
      .toDF("doc_id", "n_raw", "roundtrip_ok", "back")
      .select(col("doc_id"), col("n_raw"), col("roundtrip_ok"),
        md5(col("back")).as("orig_md5"))
      .orderBy(col("doc_id"))
  }

  /** The registered query: features over the documents table's payloads
    * (utf-8 text blobs → `raw`) — rows-only check; format parsing is
    * spec-gated with synthetic headers (MultimodalSpec/PipelineSpec). */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    mediaFeaturesOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload")))
}
