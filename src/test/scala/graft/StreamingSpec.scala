package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** Streaming surface driven synchronously through MemoryStream — watermarked
  * windowed aggregation and stateful sessionization. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def ts(minute: Int): Timestamp = new Timestamp(minute * 60L * 1000L)

  test("windowed counts aggregate 5-minute tumbling windows") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 11, "click", 2.0),
        Event(3, ts(7), 10, "view", 3.0),
        // advance watermark far enough to finalize the earlier windows
        Event(4, ts(60), 12, "click", 4.0))
      q.processAllAvailable()
      input.addData(Event(5, ts(120), 13, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("win_start", "event_type", "n_events", "sum_value").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains((0L, "click", 2L, 3.0)), s"got $rows")
      assert(rows.contains((5L, "view", 1L, 3.0)), s"got $rows")
    } finally q.stop()
  }

  test("streaming windowed user cardinality: sketch exact at small counts per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.streamingWindowedUsers(input.toDF())
      .writeStream.format("memory").queryName("wusers_out")
      .outputMode("append").start()
    try {
      // window [0,5): users 1,2,3 (user 1 twice); window [5,10): user 9
      input.addData(
        Event(1L, ts(1), 1L, "view", 0.0), Event(2L, ts(2), 2L, "view", 0.0),
        Event(3L, ts(3), 3L, "view", 0.0), Event(4L, ts(4), 1L, "view", 0.0),
        Event(5L, ts(6), 9L, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(6L, ts(30), 9L, "view", 0.0)) // advance the watermark
      q.processAllAvailable()
      val rows = spark.table("wusers_out").collect()
        .map(r => r.getAs[Timestamp]("win_start") ->
          ((r.getAs[Long]("approx_users"), r.getAs[Long]("n_events")))).toMap
      assert(rows(ts(0)) == ((3L, 4L)), s"got $rows")
      assert(rows(ts(5)) == ((1L, 1L)))
    } finally q.stop()
  }

  test("streaming dedup keeps the first arrival per content hash within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingDedup(input.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // (within one micro-batch the surviving row is arbitrary; first-arrival
      // ordering is guaranteed across batches, so duplicates arrive later.
      // Times start at minute 60: an event AT the initial epoch-0 watermark
      // would be discarded as late.)
      input.addData(Doc(1, ts(60), "Hello   World"), Doc(3, ts(62), "something else"))
      q.processAllAvailable()
      input.addData(
        Doc(2, ts(61), "hello world"), // same normalized content -> dropped
        Doc(4, ts(63), "HELLO  world ")) // still within watermark -> dropped
      q.processAllAvailable()
      val kept = spark.table("dedup_out").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L), s"got $kept")
    } finally q.stop()
  }

  test("streaming perceptual dedup drops signature collisions; signatures bit-match the batch pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingPerceptualDedup(input.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("pdedup_out")
      .outputMode("append").start()
    // same luminance pattern -> same aHash; the ramp doc hashes differently
    val flat = "spark table join merge window batch"
    val ramp = "aaaaaaaaaaaazzzzzzzzzzzzaaaaaaaaaaaazzzzzzzzzzzz"
    try {
      input.addData(Doc(1, ts(60), flat), Doc(3, ts(62), ramp))
      q.processAllAvailable()
      input.addData(Doc(2, ts(61), flat)) // same signature -> dropped
      q.processAllAvailable()
      val rows = spark.table("pdedup_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ahash")).toMap
      assert(rows.keySet == Set(1L, 3L), s"got ${rows.keySet}")
      assert(rows.values.forall(_.length == 64), "64-bit signatures")
      // bit-identity with the batch query over the same corpus
      val tmp = java.nio.file.Files.createTempDirectory("graft_pd_")
      try {
        Seq((1L, flat), (3L, ramp)).toDF("doc_id", "text")
          .write.parquet(s"$tmp/documents.parquet")
        val batch = graft.operators.Multimodal.imageAhash(spark, tmp.toString)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(batch == rows, s"stream/batch signature drift: $batch vs $rows")
      } finally {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(tmp)
        val paths = try walk.iterator().asScala.toList finally walk.close()
        paths.sortBy(-_.getNameCount)
          .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
      }
    } finally q.stop()
  }

  test("streaming audio perceptual dedup drops fingerprint collisions; bit-match with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingAudioPerceptualDedup(input.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("apdedup_out")
      .outputMode("append").start()
    // same PCM payload -> same envelope fingerprint; the ramp doc differs
    val flat = "spark table join merge window batch"
    val ramp = "aaaaaaaaaaaazzzzzzzzzzzzaaaaaaaaaaaazzzzzzzzzzzz"
    try {
      input.addData(Doc(1, ts(60), flat), Doc(3, ts(62), ramp))
      q.processAllAvailable()
      input.addData(Doc(2, ts(61), flat)) // same fingerprint -> dropped
      q.processAllAvailable()
      val rows = spark.table("apdedup_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("afp")).toMap
      assert(rows.keySet == Set(1L, 3L), s"got ${rows.keySet}")
      assert(rows.values.forall(_.length == 64), "64-bit fingerprints")
      // bit-identity with the batch query over the same corpus
      val tmp = java.nio.file.Files.createTempDirectory("graft_apd_")
      try {
        Seq((1L, flat), (3L, ramp)).toDF("doc_id", "text")
          .write.parquet(s"$tmp/documents.parquet")
        val batch = graft.operators.Multimodal.audioFingerprint(spark, tmp.toString)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(batch == rows, s"stream/batch fingerprint drift: $batch vs $rows")
      } finally {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(tmp)
        val paths = try walk.iterator().asScala.toList finally walk.close()
        paths.sortBy(-_.getNameCount)
          .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
      }
    } finally q.stop()
  }

  test("streaming vector search is bit-identical to the batch broadcast search") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val model = graft.vamana.VamanaOps.model(spark, dir)
    val emb = graft.core.Tables.embeddings(spark, dir)
    val batch = model.search(graft.operators.Knn.queriesFromPoints(emb, 10), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val rows = emb.where("vec_id < 10")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val input = MemoryStream[EmbRow]
    val q = StreamingOps.streamingVectorSearch(input.toDF(), model.index, 10)
      .writeStream.format("memory").queryName("vecsearch_out")
      .outputMode("append").start()
    try {
      val (first, rest) = rows.splitAt(rows.length / 2)
      input.addData(first.map { case (id, v) => EmbRow(id, ts(60 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      input.addData(rest.map { case (id, v) => EmbRow(id, ts(70 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      val got = spark.table("vecsearch_out").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("id"), r.getAs[Double]("dist"))).toMap
      assert(got == batch, s"stream/batch search drift: ${got.toSeq.sortBy(_._1).take(3)} vs ${batch.toSeq.sortBy(_._1).take(3)}")
    } finally q.stop()
  }

  test("streaming range search is bit-identical to the batch broadcast range search") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val model = graft.vamana.VamanaOps.model(spark, dir)
    val emb = graft.core.Tables.embeddings(spark, dir)
    val batch = model.rangeSearch(graft.operators.Knn.queriesFromPoints(emb, 10),
        graft.vamana.VamanaOps.RangeRadiusSq)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(batch.nonEmpty, "radius fixture must produce in-range points")
    val rows = emb.where("vec_id < 10")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val input = MemoryStream[EmbRow]
    val q = StreamingOps.streamingRangeSearch(input.toDF(), model.index,
        graft.vamana.VamanaOps.RangeRadiusSq)
      .writeStream.format("memory").queryName("rangesearch_out")
      .outputMode("append").start()
    try {
      val (first, rest) = rows.splitAt(rows.length / 2)
      input.addData(first.map { case (id, v) => EmbRow(id, ts(60 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      input.addData(rest.map { case (id, v) => EmbRow(id, ts(70 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      val got = spark.table("rangesearch_out").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")) -> r.getAs[Double]("dist")).toMap
      assert(got == batch, s"stream/batch range drift: ${got.size} vs ${batch.size}")
    } finally q.stop()
  }

  test("streaming routed search is bit-identical to batch adaptive routing; the collect is guarded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val m = graft.vamana.VamanaOps.routedModel(spark, dir)
    val emb = graft.core.Tables.embeddings(spark, dir)
    val eps = 0.05 // the band that measurably prunes on the near-uniform fixture
    val batch = m.searchRoutedAdaptive(graft.operators.Knn.queriesFromPoints(emb, 10), 10, eps)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // the serving object is corpus-proportional: a too-small guard refuses
    // with a pointer at the distributed path instead of collecting
    val guarded = intercept[IllegalArgumentException](m.localServing(maxLocalPoints = 10))
    assert(guarded.getMessage.contains("searchRoutedAdaptive"),
      "the guard must name the distributed alternative")
    val serving = m.localServing()
    val rows = emb.where("vec_id < 10")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val input = MemoryStream[EmbRow]
    val q = StreamingOps.streamingRoutedSearch(input.toDF(), serving, 10, eps)
      .writeStream.format("memory").queryName("routedsearch_out")
      .outputMode("append").start()
    try {
      val (first, rest) = rows.splitAt(rows.length / 2)
      input.addData(first.map { case (id, v) => EmbRow(id, ts(60 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      input.addData(rest.map { case (id, v) => EmbRow(id, ts(70 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      val got = spark.table("routedsearch_out").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("id"), r.getAs[Double]("dist"))).toMap
      assert(got == batch,
        s"stream/batch routed drift: ${got.toSeq.sortBy(_._1).take(3)} vs ${batch.toSeq.sortBy(_._1).take(3)}")
    } finally q.stop()
  }

  test("streaming routed ingest folds batches bit-identically to batch inserts; hot stream auto-splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, transform => atransform}
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.embeddings(spark, dir)
    val params = graft.vamana.VamanaOps.defaultParams
    val base = graft.vamana.VamanaRouted.fit(
      emb.where(col("vec_id") < 400), params, numShards = 3)
    val batchA = emb.where(col("vec_id") >= 400 && col("vec_id") < 450)
    val batchB = emb.where(col("vec_id") >= 450)
    // batch-mode fold of the same two frames, in the same order
    val g1 = base.insert(batchA)
    val expected = g1.insert(batchB)
    val rowsOf = (df: org.apache.spark.sql.DataFrame) => df
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val input = MemoryStream[EmbRow]
    val (q, handle) = StreamingOps.streamingRoutedInsert(
      input.toDF(), base, autoMaintain = false)
    try {
      input.addData(rowsOf(batchA).map { case (id, v) => EmbRow(id, ts(60), v) }.toSeq)
      q.processAllAvailable()
      input.addData(rowsOf(batchB).map { case (id, v) => EmbRow(id, ts(61), v) }.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = handle.model
    assert(streamed ne base, "stream delivered batches but the model never advanced")
    // bit-identity: same shard layout, same membership, same answers
    // (ids + dists) at the deployed config over the knn fixture
    assert(streamed.shardSizes.toSeq == expected.shardSizes.toSeq,
      "streamed fold landed points on different shards than the batch fold")
    assert(streamed.totalPoints == expected.totalPoints)
    val qs = graft.operators.Knn.queriesFromPoints(emb, 10)
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(key(streamed.searchRouted(qs, 10, nprobe = 2)) ==
      key(expected.searchRouted(qs, 10, nprobe = 2)),
      "streamed model answers differ from the batch-folded model")
    // the composition the ingest handle advertises: serve the FOLDED model
    // through the streaming search twin (localServing after a batch
    // boundary) — results must be bit-identical to the batch adaptive
    // search over the batch-folded model (the two models were proven
    // identical above, so any drift here is in the serving composition)
    val serving = streamed.localServing()
    val qRows = emb.where(col("vec_id") < 5)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val sIn = MemoryStream[EmbRow]
    val sq = StreamingOps.streamingRoutedSearch(sIn.toDF(), serving, 10, routeEps = 0.05)
      .writeStream.format("memory").queryName("ingest_then_serve")
      .outputMode("append").start()
    try {
      sIn.addData(qRows.map { case (id, v) => EmbRow(id, ts(63), v) }.toSeq)
      sq.processAllAvailable()
    } finally sq.stop()
    val got = spark.table("ingest_then_serve").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("id"), r.getAs[Double]("dist"))).toMap
    val want = expected.searchRoutedAdaptive(
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")),
        10, routeEps = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == want, "ingest-then-serve drifted from the batch-folded model's adaptive search")

    // hot stream with autoMaintain: the split happens inside the ingest
    // path — the arrival mode where unrepaired skew actually accrues.
    // Same fixture as the batch autoMaintain spec (4 shards over the full
    // table), where the 600 near-copies deterministically cross 1.5× mean.
    val base2 = graft.vamana.VamanaRouted.fit(emb, params, numShards = 4)
    val v0 = emb.where(col("vec_id") === 0).select(col("embedding"))
    val hot = spark.range(600).crossJoin(v0).select(
      (col("id") + 500000L).as("vec_id"),
      atransform(col("embedding"),
        x => x * (lit(1.0f) + col("id").cast("float") * lit(1e-5f))).as("embedding"))
      .as[(Long, Array[Float])].collect()
    val input2 = MemoryStream[EmbRow]
    val (q2, handle2) = StreamingOps.streamingRoutedInsert(
      input2.toDF(), base2, autoMaintain = true, maxRatio = 1.5, maxPasses = 3)
    try {
      input2.addData(hot.map { case (id, v) => EmbRow(id, ts(62), v) }.toSeq)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(handle2.model.numShards > base2.numShards,
      "hot stream crossed the ratio but the ingest path never split")
    assert(handle2.model.numShards == handle2.model.shardSizes.length,
      "routing table out of sync after the in-stream split")
    g1.unpersist(); expected.unpersist(); streamed.unpersist()
    handle2.model.unpersist(); base.unpersist(); base2.unpersist()
  }

  test("streaming PQ vector search is bit-identical to the batch PQ search") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.embeddings(spark, dir)
    val batch = graft.vamana.VamanaPq.search(spark, dir, 10, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val (idx, books, codes) = graft.vamana.VamanaPq.servingState(spark, dir)
    val rows = emb.where("vec_id < 10")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val input = MemoryStream[EmbRow]
    val q = StreamingOps.streamingVectorSearchPq(input.toDF(), idx, books, codes, 10)
      .writeStream.format("memory").queryName("pqsearch_out")
      .outputMode("append").start()
    try {
      val (first, rest) = rows.splitAt(rows.length / 2)
      input.addData(first.map { case (id, v) => EmbRow(id, ts(60 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      input.addData(rest.map { case (id, v) => EmbRow(id, ts(70 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      val got = spark.table("pqsearch_out").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("id"), r.getAs[Double]("dist"))).toMap
      assert(got == batch, s"stream/batch PQ drift: ${got.toSeq.sortBy(_._1).take(3)} vs ${batch.toSeq.sortBy(_._1).take(3)}")
    } finally q.stop()
  }

  test("streaming cluster assignment is bit-identical to the batch k-means assignment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch: fit + assign on the embeddings table
    val centroids = graft.operators.Clustering.kmeansFitTable(spark, dir, k = 4, iters = 2)
    val batch = graft.operators.Clustering.kmeansAssign(spark, dir, k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // stream: the same rows arrive as embedding events, scored against the
    // fitted centroid matrix
    val rows = graft.core.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val input = MemoryStream[EmbRow]
    val q = StreamingOps.streamingClusterAssign(input.toDF(), centroids)
      .writeStream.format("memory").queryName("clusterassign_out")
      .outputMode("append").start()
    try {
      val (first, rest) = rows.splitAt(rows.length / 2)
      input.addData(first.map { case (id, v) => EmbRow(id, ts(60 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      input.addData(rest.map { case (id, v) => EmbRow(id, ts(70 + (id % 5).toInt), v) }.toSeq)
      q.processAllAvailable()
      val got = spark.table("clusterassign_out").collect()
        .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("cluster"), r.getAs[Long]("dist"))).toMap
      assert(got == batch, s"stream/batch assignment drift: ${got.toSeq.sorted.take(5)}... vs ${batch.toSeq.sorted.take(5)}...")
    } finally q.stop()
  }

  test("streaming video perceptual dedup drops signature collisions; bit-match with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingVideoPerceptualDedup(input.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("vpdedup_out")
      .outputMode("append").start()
    val varied = (0 until 360).map(i => ('a' + i % 26).toChar).mkString
    val clipA = varied + ("!" * 60 + "~" * 60)
    val clipB = varied + ("z" * 120) // one-frame rewrite -> different signature
    try {
      input.addData(Doc(1, ts(60), clipA), Doc(3, ts(62), clipB))
      q.processAllAvailable()
      input.addData(Doc(2, ts(61), clipA)) // same signature -> dropped
      q.processAllAvailable()
      val rows = spark.table("vpdedup_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("vsig")).toMap
      assert(rows.keySet == Set(1L, 3L), s"got ${rows.keySet}")
      assert(rows.values.forall(_.length == 256), "4x64-bit signatures")
      // bit-identity with the batch signature over the same corpus
      val tmp = java.nio.file.Files.createTempDirectory("graft_vpd_").toString
      try {
        Seq((1L, clipA), (3L, clipB)).toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
        val batch = graft.operators.Multimodal.videoSigFrame(spark, tmp)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(batch == rows, s"stream/batch video signature drift")
      } finally {
        scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
      }
    } finally q.stop()
  }

  test("streaming embed drift flags a shifted window against the fixed baseline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // baseline micro-means [100, 200]; window A matches it exactly,
    // window B is shifted by (+50, -30) — drift must read (50, 30)
    val input = MemoryStream[EmbRow]
    val q = StreamingOps.streamingEmbedDrift(input.toDF(), Array(100L, 200L))
      .writeStream.format("memory").queryName("edrift_out")
      .outputMode("append").start()
    def v(a: Float, b: Float) = Array(a, b)
    try {
      input.addData(
        EmbRow(1, ts(1), v(0.00009f, 0.00021f)),  // q = (90, 210)
        EmbRow(2, ts(2), v(0.00011f, 0.00019f)),  // q = (110, 190) -> mean (100, 200)
        EmbRow(3, ts(6), v(0.00016f, 0.00018f)),  // q = (160, 180)
        EmbRow(4, ts(7), v(0.00014f, 0.00016f)))  // q = (140, 160) -> mean (150, 170)
      q.processAllAvailable()
      input.addData(EmbRow(5, ts(60), v(0f, 0f))) // advance watermark, close windows
      q.processAllAvailable()
      val rows = spark.table("edrift_out")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(rows((0L, 0L)) == ((2L, 100L, 100L, 0L)), s"got $rows")
      assert(rows((0L, 1L)) == ((2L, 200L, 200L, 0L)), s"got $rows")
      assert(rows((5L, 0L)) == ((2L, 150L, 100L, 50L)), s"got $rows")
      assert(rows((5L, 1L)) == ((2L, 170L, 200L, 30L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming asof enriches purchases with the latest click state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.streamingAsof(input.toDS())
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 clicks (twice, tie on ts keeps max value), then buys;
      // user 2 buys with no click history
      input.addData(
        Event(1, ts(1), 1, "click", 2.0), Event(2, ts(1), 1, "click", 5.0),
        Event(3, ts(4), 1, "purchase", 10.0),
        Event(4, ts(4), 2, "purchase", 20.0))
      q.processAllAvailable()
      // batch 2: a later purchase must still see batch 1's click state
      input.addData(Event(5, ts(9), 1, "purchase", 30.0))
      q.processAllAvailable()
      val rows = spark.table("asof_out").as[AsofMatch].collect()
        .map(m => m.event_id -> ((m.asof_value, m.micros_since_match))).toMap
      assert(rows(3L) == ((Some(5.0), Some(3L * 60L * 1000L * 1000L))), s"got ${rows(3L)}")
      assert(rows(4L) == ((None, None)))
      assert(rows(5L) == ((Some(5.0), Some(8L * 60L * 1000L * 1000L))),
        "click state must survive across micro-batches")
    } finally q.stop()
  }

  test("streaming asof keeps microsecond precision on sub-millisecond timestamps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // minute boundary + a sub-millisecond offset: getTime-based arithmetic
    // (millisecond truncation) would lose the 500-microsecond gap component
    def tsMicro(minute: Int, micro: Int): Timestamp = {
      val t = new Timestamp(minute * 60L * 1000L)
      t.setNanos(micro * 1000)
      t
    }
    val input = MemoryStream[Event]
    val q = StreamingOps.streamingAsof(input.toDS())
      .writeStream.format("memory").queryName("asof_micro_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, tsMicro(1, 250), 1, "click", 7.0),
        Event(2, tsMicro(2, 750), 1, "purchase", 1.0))
      q.processAllAvailable()
      val m = spark.table("asof_micro_out").as[AsofMatch].collect()
        .map(x => x.event_id -> x.micros_since_match).toMap
      assert(m(2L).contains(60L * 1000L * 1000L + 500L),
        s"gap must be micro-exact (60s + 500us), got ${m(2L)}")
    } finally q.stop()
  }

  test("streaming asof evicts click state past the event-time horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.streamingAsof(input.toDS(), horizonMinutes = 10)
      .writeStream.format("memory").queryName("asof_ttl_out")
      .outputMode("append").start()
    try {
      // in-horizon: click then purchase, enriched normally
      input.addData(Event(1, ts(60), 1, "click", 5.0), Event(2, ts(61), 1, "purchase", 10.0))
      q.processAllAvailable()
      // another user's far-future click advances the watermark past user 1's
      // (newest click=60) + horizon(10) = minute 70 expiry...
      input.addData(Event(3, ts(300), 2, "click", 7.0))
      q.processAllAvailable()
      // ...the next trigger evicts user 1's click state...
      input.addData(Event(4, ts(301), 3, "view", 0.0))
      q.processAllAvailable()
      // ...so user 1's post-horizon purchase reads as no-click-history
      // (pre-TTL it would enrich with the minute-60 click: state never expired)
      input.addData(Event(5, ts(302), 1, "purchase", 20.0))
      q.processAllAvailable()
      val rows = spark.table("asof_ttl_out").as[AsofMatch].collect()
        .map(m => m.event_id -> ((m.asof_value, m.micros_since_match))).toMap
      assert(rows(2L) == ((Some(5.0), Some(60L * 1000L * 1000L))), s"got ${rows(2L)}")
      assert(rows(5L) == ((None, None)),
        "click state past the horizon must be evicted, not matched")
      // user 2's in-horizon click (re-armed at minute 300) still enriches
      input.addData(Event(6, ts(303), 2, "purchase", 30.0))
      q.processAllAvailable()
      val r6 = spark.table("asof_ttl_out").as[AsofMatch].collect()
        .find(_.event_id == 6L).get
      assert(r6.asof_value.contains(7.0) &&
        r6.micros_since_match.contains(3L * 60L * 1000L * 1000L), s"got $r6")
    } finally q.stop()
  }

  test("streaming minhash emits candidate pairs for near-dups, none for unrelated docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words about spark shuffles and parquet files here"
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingMinhashCandidates(input.toDS())
      .writeStream.format("memory").queryName("mh_out")
      .outputMode("append").start()
    try {
      input.addData(Doc(1, ts(1), dup), Doc(2, ts(2), other))
      q.processAllAvailable()
      assert(spark.table("mh_out").count() == 0, "no candidates within unrelated docs")
      // an identical doc arriving LATER must pair with the batch-1 original
      // on every band (state crosses micro-batches)
      input.addData(Doc(3, ts(3), dup))
      q.processAllAvailable()
      val pairs = spark.table("mh_out").as[CandidatePair].collect()
      assert(pairs.map(p => (p.id_a, p.id_b)).distinct.toSeq == Seq((1L, 3L)), s"got ${pairs.toSeq}")
      assert(pairs.length == 4, "identical docs collide on all 4 bands")
    } finally q.stop()
  }

  test("sessionize closes sessions after the inactivity gap and keeps state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has two events 5 min apart (one open session).
      // Times start at minute 60: the op is watermarked now, and an event
      // AT the initial epoch-0 watermark would be dropped as late.
      input.addData(Event(1, ts(60), 1, "click", 1.0), Event(2, ts(65), 1, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0, "session still open")
      // batch 2: a 90-minute gap closes the first session and opens another
      input.addData(Event(3, ts(155), 1, "click", 4.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_out").as[Session].collect()
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s.user_id == 1 && s.n_events == 2 && s.sum_value == 3.0)
      assert(s.start_ts == ts(60) && s.end_ts == ts(65))
    } finally q.stop()
  }

  test("sessionize flushes the final session by event-time timeout, freeing user state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_ttl_out")
      .outputMode("append").start()
    try {
      input.addData(Event(1, ts(60), 1, "click", 1.0), Event(2, ts(65), 1, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_ttl_out").count() == 0, "session still open")
      // another USER's far-future event advances the watermark past
      // user 1's (last=65) + gap(30) = minute 95 flush point...
      input.addData(Event(3, ts(300), 2, "click", 1.0))
      q.processAllAvailable()
      // ...and the next trigger runs the timed-out group: user 1's session
      // flushes WITHOUT any further user-1 event (pre-TTL, it sat in state
      // forever and the tail session was never emitted)
      input.addData(Event(4, ts(301), 2, "view", 1.0))
      q.processAllAvailable()
      val flushed = spark.table("sess_ttl_out").as[Session].collect().filter(_.user_id == 1)
      assert(flushed.length == 1, s"expected the tail session, got ${flushed.toSeq}")
      assert(flushed.head.start_ts == ts(60) && flushed.head.end_ts == ts(65) &&
        flushed.head.n_events == 2 && flushed.head.sum_value == 3.0)
    } finally q.stop()
  }

  test("sessionize: a late in-gap event must not move last-activity backwards") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("late_sess_out")
      .outputMode("append").start()
    try {
      input.addData(Event(1L, ts(720), 1L, "view", 1.0)) // 12:00
      q.processAllAvailable() // watermark -> 11:30
      input.addData(Event(2L, ts(705), 1L, "view", 1.0)) // 11:45, late but valid
      q.processAllAvailable()
      // 12:20 is 20m after the TRUE last activity (12:00): same session.
      // pre-fix, last had been pulled back to 11:45 and 35m > gap split it
      input.addData(Event(3L, ts(740), 1L, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("late_sess_out").isEmpty,
        "no session may close: every event is within the gap of true last activity")
      input.addData(Event(4L, ts(900), 1L, "view", 1.0)) // 15:00 opens a new session
      q.processAllAvailable()
      val rows = spark.table("late_sess_out").collect()
      assert(rows.length == 1)
      val s0 = rows.head
      assert(s0.getAs[Timestamp]("start_ts") == ts(705) &&
        s0.getAs[Timestamp]("end_ts") == ts(740) && s0.getAs[Long]("n_events") == 3L,
        s"late member must extend the session backwards, not split it: $s0")
    } finally q.stop()
  }

  test("streaming minhash evicts buckets past the event-time horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingMinhashCandidates(input.toDS(), horizonMinutes = 10)
      .writeStream.format("memory").queryName("mh_ttl_out")
      .outputMode("append").start()
    try {
      input.addData(Doc(1, ts(60), dup))
      q.processAllAvailable()
      // unrelated far-future docs advance the watermark past the dup
      // bucket's (newest=60) + horizon(10) = minute 70 expiry...
      input.addData(Doc(2, ts(300), "completely different words about spark shuffles here"))
      q.processAllAvailable()
      // ...the next trigger evicts the bucket...
      input.addData(Doc(3, ts(301), "other unrelated text with its own shingles entirely"))
      q.processAllAvailable()
      // ...so an identical doc arriving after the horizon does NOT pair
      // with doc 1 (pre-TTL it would have: state never expired)
      input.addData(Doc(4, ts(302), dup))
      q.processAllAvailable()
      assert(spark.table("mh_ttl_out").count() == 0,
        "bucket must be evicted before the late twin arrives")
      // the late twin re-seeded the bucket: a fresh twin within the horizon
      // still pairs against it (eviction bounds the horizon, not the op)
      input.addData(Doc(5, ts(303), dup))
      q.processAllAvailable()
      val pairs = spark.table("mh_ttl_out").as[CandidatePair].collect()
      assert(pairs.nonEmpty && pairs.forall(p => p.id_a == 4L && p.id_b == 5L),
        s"got ${pairs.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to in-window clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamingOps.streamingClickAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      // two watermark traps shape this fixture: a far-future event in an
      // early batch would late-drop the purchase, and an event AT the
      // current watermark (ts 0) is evicted from join state between
      // batches — so everything sits safely above the initial watermark
      clicks.addData(
        Event(1, ts(60), 10, "click", 1.0), // 5 min before purchase -> match
        Event(2, ts(66), 10, "click", 1.0), // AFTER the purchase -> no match
        Event(3, ts(61), 99, "click", 1.0)) // other user -> no match
      q.processAllAvailable()
      purchases.addData(Event(50, ts(65), 10, "purchase", 42.0))
      q.processAllAvailable()
      // advance both watermarks so join state finalizes
      clicks.addData(Event(4, ts(240), 1, "click", 0.0))
      purchases.addData(Event(51, ts(240), 1, "purchase", 0.0))
      q.processAllAvailable()
      val rows = spark.table("attr_out")
        .select("user_id", "click_id", "purchase_id", "micros_before").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows.contains((10L, 1L, 50L, 5L * 60000000L)), s"got $rows")
      assert(!rows.exists(_._2 == 2L), "click after the purchase must not attribute")
      assert(!rows.exists(_._1 == 99L), "cross-user click must not attribute")
    } finally q.stop()
  }

  test("streaming incremental dedup joins arrivals against the static corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val known = corpus.select("doc_id", "text").collect()
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingIncrementalDedup(input.toDF(), corpus)
      .writeStream.format("memory").queryName("incdedup_out")
      .outputMode("append").start()
    try {
      // two replays of existing docs + one genuinely new arrival
      input.addData(
        Doc(9001L, ts(1), known(3).getString(1)),
        Doc(9002L, ts(1), known(7).getString(1)),
        Doc(9003L, ts(1), "a brand new never seen document body"))
      q.processAllAvailable()
      val rows = spark.table("incdedup_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("is_dup"), r.getAs[Long]("dup_of")))).toMap
      assert(rows(9001L)._1 == 1 && rows(9001L)._2 == known(3).getLong(0))
      assert(rows(9002L)._1 == 1 && rows(9002L)._2 == known(7).getLong(0))
      assert(rows(9003L) == ((0, -1L)), "unseen doc must pass through undeduped")
    } finally q.stop()
  }

  test("streaming incremental dedup agrees row-for-row with the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val all = graft.core.Tables.documents(spark, dir)
    // batch twin: arrivals are doc_id >= 400 checked against corpus < 400
    val batch = graft.operators.Dedup.dedupIncremental(spark, dir, batchStart = 400)
      .collect().map(r => r.getLong(0) -> ((r.getAs[Int]("is_dup"), r.getAs[Long]("dup_of")))).toMap
    val corpus = all.where(org.apache.spark.sql.functions.col("doc_id") < 400)
    val arrivals = all.where(org.apache.spark.sql.functions.col("doc_id") >= 400)
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingIncrementalDedup(input.toDF(), corpus)
      .writeStream.format("memory").queryName("incdedup_twin_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("incdedup_twin_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("is_dup"), r.getAs[Long]("dup_of")))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (id, v) =>
        assert(v == batch(id), s"doc $id: streaming $v vs batch ${batch(id)}")
      }
    } finally q.stop()
  }

  test("streaming cms sketch agrees cell-for-cell with a batch-built sketch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, explode, lit, lower, split}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingCmsSketch(input.toDF())
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("append").start()
    try {
      val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      input.addData(docs.toSeq)
      input.addData(Doc(-1, ts(60), "watermark advancer")) // close the window
      q.processAllAvailable()
      val win0 = spark.table("cms_out")
        .where(col("win_start") === ts(0))
        .select("r", "b", "cnt").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      // batch ground truth: the SAME shared cell expression over the same docs
      val batch = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(explode(split(lower(col("text")), "\\s+")).as("token"))
        .where(col("token") =!= "")
        .select(explode(graft.operators.TextAnalysis.cmsCells(col("token"), 4, 1024)).as("rb"))
        .groupBy(col("rb.r").as("r"), col("rb.b").as("b")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(win0 == batch, s"stream/batch sketch diverged: ${win0.size} vs ${batch.size} cells")
      assert(win0.size <= 4 * 1024, "state cap violated")
    } finally q.stop()
  }

  test("streaming top-k tokens: exact when vocab fits the summary capacity") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, explode, lit, lower, split}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingTopkTokens(input.toDF(), k = 10, capacity = 50)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode("append").start()
    try {
      val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      input.addData(docs.toSeq)
      input.addData(Doc(-1, ts(60), "watermark advancer"))
      q.processAllAvailable()
      val got = spark.table("topk_out")
        .where(col("win_start") === ts(0)).collect()
        .map(r => (r.getAs[Int]("rank"), r.getAs[String]("token"),
          r.getAs[Long]("est_count"), r.getAs[Long]("max_err")))
        .sortBy(_._1)
      // batch exact top-10 over the same docs (the fixture's 31-token
      // vocab fits capacity=50, so the summary must be EXACT: err=0)
      val exact = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(explode(split(lower(col("text")), "\\s+")).as("t"))
        .where(col("t") =!= "").groupBy(col("t")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .sortBy { case (t, n) => (-n, t) }.take(10)
      assert(got.map(g => (g._2, g._3)).toSeq == exact.toSeq,
        s"summary must match batch exactly under capacity:\n$got\nvs\n${exact.toSeq}")
      assert(got.forall(_._4 == 0L), "no eviction happened, so every error bound is zero")
    } finally q.stop()
  }

  test("streaming top-k tokens: heavy hitter survives adversarial vocab churn with valid bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    // capacity 20 << vocab ~500: constant eviction pressure
    val q = StreamingOps.streamingTopkTokens(input.toDF(), k = 5, capacity = 20)
      .writeStream.format("memory").queryName("topk_adv_out")
      .outputMode("append").start()
    try {
      // 100 docs: each carries 5 unique junk tokens + 2 copies of "hot";
      // true counts: hot=200 > total/capacity = 700/20 = 35 -> guaranteed in
      val docs = (0 until 100).map { i =>
        Doc(i.toLong, ts(1), s"u${i}a u${i}b u${i}c u${i}d u${i}e hot hot")
      }
      input.addData(docs)
      input.addData(Doc(-1, ts(60), "watermark advancer"))
      q.processAllAvailable()
      val got = spark.table("topk_adv_out")
        .where(col("win_start") === ts(0)).collect()
        .map(r => (r.getAs[Int]("rank"), r.getAs[String]("token"),
          r.getAs[Long]("est_count"), r.getAs[Long]("max_err")))
        .sortBy(_._1)
      assert(got.nonEmpty)
      val hot = got.find(_._2 == "hot")
      assert(hot.isDefined, s"guaranteed heavy hitter evicted: $got")
      assert(hot.get._1 == 1, "hot must rank first")
      // Space-Saving bound: est - err <= true <= est (true hot count = 200)
      assert(hot.get._3 >= 200L && hot.get._3 - hot.get._4 <= 200L,
        s"bound violated: est=${hot.get._3} err=${hot.get._4} true=200")
    } finally q.stop()
  }

  test("streaming quality filter agrees bit-for-bit with the batch expressions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingQualityFilter(input.toDF())
      .writeStream.format("memory").queryName("quality_out")
      .outputMode("append").start()
    try {
      // batch ground truth over the real corpus slice
      val batch = graft.operators.CorpusPipeline
        .cleanCorpus(spark, "/root/testdata/sf0.001")
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
      val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      input.addData(docs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("quality_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
      // cleanCorpus additionally drops exact-dup losers; every streamed doc
      // that batch kept must carry the identical rounded score
      assert(streamed.nonEmpty && batch.nonEmpty)
      batch.foreach { case (id, score) =>
        assert(streamed.get(id).contains(score), s"doc $id: batch $score vs ${streamed.get(id)}")
      }
      streamed.keySet.diff(batch.keySet).foreach { id =>
        // stream keeps docs batch dropped ONLY via dedup survivorship
        assert(!batch.contains(id))
      }
    } finally q.stop()
  }

  test("streaming classifier filter agrees bit-for-bit with the batch-trained model") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = graft.operators.DocClassifier.fit(spark, "/root/testdata/sf0.001")
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingClassifierFilter(input.toDF(), model)
      .writeStream.format("memory").queryName("clf_out")
      .outputMode("append").start()
    try {
      val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      // batch ground truth: the shared keepExpr over the same corpus
      val batchKept = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"),
          graft.operators.DocClassifier.keepExpr(model, col("text")).as("keep"))
        .where(col("keep") === 1).collect().map(_.getLong(0)).toSet
      input.addData(docs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("clf_out").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(streamed.nonEmpty && streamed != docs.map(_.doc_id).toSet,
        "filter must keep a strict, non-empty subset")
      assert(streamed == batchKept, s"stream/batch diverge: ${streamed.diff(batchKept).take(5)} / ${batchKept.diff(streamed).take(5)}")
    } finally q.stop()
  }

  test("streaming language classifier agrees bit-for-bit with the batch-trained stack") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = graft.operators.LangClassifier.fit(spark)
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingLangClassify(input.toDF(), model)
      .writeStream.format("memory").queryName("lang_out")
      .outputMode("append").start()
    try {
      // real corpus docs plus function-word probes the stack must separate
      val probes = Seq(
        Doc(9000001L, ts(1), "the a and of to is in that it for data table"),
        Doc(9000002L, ts(1), "der die das und ist ein nicht mit auf sie row"),
        Doc(9000003L, ts(1), "le les et est une dans ce pour pas vous query"),
        Doc(9000004L, ts(1), "el la los y es un que por no se filter"),
        Doc(9000005L, ts(1), "shi zai bu wo you he ren ta men scan"))
      val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      val all = corpus.toSeq ++ probes
      // batch ground truth: the shared predictExpr over the identical rows
      val batch = all.toDF()
        .select(col("doc_id"),
          graft.operators.LangClassifier.predictExpr(model, col("text")).as("pred_lang"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      input.addData(all)
      q.processAllAvailable()
      val streamed = spark.table("lang_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
      assert(streamed == batch,
        s"stream/batch diverge on ${streamed.count { case (k, v) => batch.get(k) != Some(v) }} docs")
      // non-degenerate: the probes must land on >=3 distinct languages
      assert(probes.map(p => streamed(p.doc_id)).distinct.size >= 3,
        streamed.filter { case (k, _) => k >= 9000000L })
    } finally q.stop()
  }

  test("streaming lexical retrieval scores agree bit-for-bit with the batch BM25 leg") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = graft.operators.TextAnalysis.fitBm25QueryModel(spark, "/root/testdata/sf0.001")
    assert(model.queries.nonEmpty && model.avgdl > 0)
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingLexRetrievalScore(input.toDF(), model)
      .writeStream.format("memory").queryName("lex_out")
      .outputMode("append").start()
    try {
      val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      input.addData(docs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("lex_out")
        .select(col("qid"), col("doc_id"), col("bm25")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.TextAnalysis.lexScores(spark, "/root/testdata/sf0.001")
        .select(col("qid"), col("id"), col("bm25")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed.nonEmpty, "no scores emitted")
      assert(streamed == batch,
        s"stream/batch BM25 diverge: extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming sparse encode emits the batch pruned index bit-for-bit") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val model = graft.operators.SparseRetrieval.fitSparseModel(spark, dir)
    assert(model.nd > 0 && model.dfs.nonEmpty)
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingSparseEncode(input.toDF(), model)
      .writeStream.format("memory").queryName("sparse_enc_out")
      .outputMode("append").start()
    try {
      val docs = graft.core.Tables.documents(spark, dir)
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      input.addData(docs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("sparse_enc_out")
        .select(col("doc_id"), col("rank"), col("term"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      val batch = graft.operators.SparseRetrieval.sparseEncode(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(streamed.nonEmpty, "no postings emitted")
      assert(streamed == batch,
        s"stream/batch sparse postings diverge: extra=${(streamed -- batch).take(3)} " +
          s"missing=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming sparse encode bit-matches batch on a seeded unicode-mixed random corpus") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // seeded corpus with case-folding and whitespace edge cases: mixed
    // case, accented/greek/cyrillic terms, repeated + leading whitespace
    val rng = new scala.util.Random(0xC0FFEE)
    val vocab = Vector("Alpha", "beta", "GAMMA", "Δelta", "épsilon", "ZЕТА",
      "ligatureﬁx", "İstanbul", "straße", "w1", "w2", "w3")
    val docs = (0L until 200L).map { id =>
      val n = 3 + rng.nextInt(20)
      val body = Seq.fill(n)(vocab(rng.nextInt(vocab.length)))
        .mkString(if (rng.nextBoolean()) " " else "  \t ")
      Doc(id, ts(1), (if (id % 7 == 0) "  " else "") + body)
    }
    val batchDocs = spark.createDataset(docs).toDF().select(col("doc_id"), col("text"))
    val tc = graft.operators.SparseRetrieval.termCountsOf(batchDocs)
    val model = graft.operators.SparseRetrieval.fitSparseModelOf(tc)
    val batch = graft.operators.SparseRetrieval
      .prunedPostingsOf(graft.operators.SparseRetrieval.fullPostingsOf(tc),
        graft.operators.SparseRetrieval.PruneM)
      .select(col("doc_id"), col("r").cast("long").as("rank"), col("term"), col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingSparseEncode(input.toDF(), model)
      .writeStream.format("memory").queryName("sparse_uni_out")
      .outputMode("append").start()
    try {
      input.addData(docs)
      q.processAllAvailable()
      val streamed = spark.table("sparse_uni_out")
        .select(col("doc_id"), col("rank"), col("term"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(streamed.nonEmpty, "no postings emitted")
      assert(streamed == batch,
        s"unicode corpus diverges: extra=${(streamed -- batch).take(3)} " +
          s"missing=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming windowed retrieval top-k matches the batch per-query top-k at window close") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = graft.operators.TextAnalysis.fitBm25QueryModel(spark, "/root/testdata/sf0.001")
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingRetrievalTopk(input.toDF(), model, k = 5)
      .writeStream.format("memory").queryName("rtopk_out")
      .outputMode("append").start()
    try {
      val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      input.addData(docs.toSeq)
      input.addData(Doc(-1, ts(60), "watermark advancer"))
      q.processAllAvailable()
      val got = spark.table("rtopk_out")
        .where(col("win_start") === ts(0))
        .select(col("qid"), col("rank"), col("doc_id"), col("bm25")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
      assert(got.nonEmpty, "no window emitted")
      val batch = graft.operators.TextAnalysis.lexScores(spark, "/root/testdata/sf0.001")
        .select(col("qid"), col("id"), col("bm25")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
          rs.sortBy { case (_, id, s) => (-s, id) }.take(5).zipWithIndex
            .map { case ((_, id, s), i) => (qid, i + 1, id, s) }
        }.sortBy(t => (t._1, t._2))
      assert(got.toSeq == batch,
        s"stream/batch retrieval top-k diverge:\n${got.toSeq.take(8)}\nvs\n${batch.take(8)}")
    } finally q.stop()
  }

  test("winnow row-form fingerprints are bit-identical to the batch window-function form") {
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    val batch = graft.operators.Dedup.winnowFingerprint(spark, dir).collect().map(key)
    val row = graft.operators.Dedup.winnowRowFingerprint(spark, dir).collect().map(key)
    assert(batch.nonEmpty, "no eligible docs in fixture")
    assert(row.toSeq == batch.toSeq,
      "per-row HOF winnow fingerprints diverged from the window-function derivation")
    // both corpus-index derivations (cached window-form vs row-form over an
    // ad-hoc frame) must expose the identical (fp, src_id) set
    def idxKey(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val idxA = graft.operators.Dedup.winnowCorpusIndex(spark, dir)
      .select("fp", "src_id").collect().map(idxKey).toSet
    val idxB = graft.operators.Dedup.winnowCorpusIndexOf(
        graft.core.Tables.documents(spark, dir).select("doc_id", "text"))
      .select("fp", "src_id").collect().map(idxKey).toSet
    assert(idxA == idxB, "corpus-index derivations diverged")
    // the native codegen kernel must equal the HOF derivation ELEMENT-FOR-
    // ELEMENT (same values, same first-occurrence distinct order)
    import org.apache.spark.sql.functions.{col, lower, size, split}
    val eligible = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .where(size(split(lower(col("text")), "\\s+")) - 4 >= 4)
    val diverged = eligible.select(col("doc_id"),
        graft.operators.Dedup.winnowFpStructs(col("text")).as("hof"),
        graft.functions.WinnowExpressions.winnowFps(spark, col("text")).as("nat"))
      .where(!(col("hof") === col("nat")))
      .count()
    assert(diverged == 0, "native winnow kernel diverged from the HOF derivation")
  }

  test("streaming winnow copy detection flags exactly the batch overlap pairs at ingest") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val idx = graft.operators.Dedup.winnowCorpusIndex(spark, dir)
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingWinnowMatches(input.toDF(), idx)
      .writeStream.format("memory").queryName("winnow_stream_out")
      .outputMode("append").start()
    try {
      val docs = graft.core.Tables.documents(spark, dir)
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      input.addData(docs.toSeq)
      // advancer must PASS the eligibility filter (≥ k+w−1 tokens) or the
      // watermark never moves and no window finalizes
      input.addData(Doc(-1, ts(60), "wmadv1 wmadv2 wmadv3 wmadv4 wmadv5 wmadv6 wmadv7 wmadv8 wmadv9"))
      q.processAllAvailable()
      val out = spark.table("winnow_stream_out")
      // every replayed corpus doc flags itself against the index
      assert(out.where(col("doc_id") === col("src_id")).count() > 0,
        "no self-matches — the ingest join is broken")
      val got = out.where(col("doc_id") =!= col("src_id"))
        .select("doc_id", "src_id", "n_shared").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
      val want = graft.operators.Dedup.winnowOverlap(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want,
        s"stream/batch winnow overlap diverge: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming url dedup canonicalizes bit-identically to batch and drops collisions") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // three surface spellings of ONE page + one genuinely distinct page
    val rows = Seq(
      (1L, ts(1), "https://Example.com:443/a/./b?utm_source=x&id=9#frag"),
      (2L, ts(2), "HTTPS://example.COM/a/b?id=9"),
      (3L, ts(3), "https://example.com/a/b?id=9&gclid=z"),
      (4L, ts(4), "https://example.com/a/b?id=10"))
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingOps.streamingUrlDedup(input.toDF()
        .toDF("doc_id", "ts", "url"))
      .writeStream.format("memory").queryName("url_stream_out")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val got = spark.table("url_stream_out")
        .select("doc_id", "curl").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // batch twin: the same canonicalization expression over the same rows
      val batch = rows.toDF("doc_id", "ts", "url")
        .select(col("doc_id"),
          graft.operators.CorpusPipeline.canonicalizeUrl(col("url")).as("curl"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(batch(1L) == "https://example.com/a/b?id=9")
      assert(batch(1L) == batch(2L) && batch(2L) == batch(3L),
        "the three spellings must canonicalize to one URL")
      // first arrival of the triple survives; the distinct page survives
      assert(got.keySet == Set(1L, 4L), s"survivors ${got.keySet}")
      got.foreach { case (id, curl) =>
        assert(curl == batch(id), s"doc $id stream canonical drifted from batch")
      }
    } finally q.stop()
  }

  test("streaming temperature sample admits exactly the batch-kept docs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val rates = graft.operators.CorpusPipeline.temperatureRates(spark, dir)
    val want = graft.operators.CorpusPipeline.sampleTemperature(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingOps.streamingTemperatureSample(
        input.toDF().toDF("doc_id", "ts", "lang"), rates)
      .writeStream.format("memory").queryName("temp_sample_out")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val got = spark.table("temp_sample_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == want,
        s"stream/batch keep sets diverge: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming decontam flags exactly the batch-contaminated docs with identical hit counts") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val bench = graft.operators.CorpusPipeline.benchmarkNgramIndex(spark, dir)
    val batch = graft.operators.CorpusPipeline.decontaminate(spark, dir)
      .where(col("contaminated") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batch.nonEmpty, "fixture vacuous — no batch contamination to replay")
    // replay the contaminated train docs + a handful of clean ones
    val cleanIds = graft.operators.CorpusPipeline.decontaminate(spark, dir)
      .where(col("contaminated") === 0).limit(5)
      .collect().map(_.getLong(0)).toSet
    val ids = batch.keySet ++ cleanIds
    val rows = graft.core.Tables.documents(spark, dir)
      .where(col("doc_id").isin(ids.toSeq: _*))
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingDecontamFlags(input.toDS().toDF(), bench)
      .writeStream.format("memory").queryName("decontam_out")
      .outputMode("append").start()
    try {
      input.addData(rows)
      // advance the watermark past the window so append mode finalizes it;
      // the advancer's grams are foreign to the benchmark → no extra flag
      input.addData(Doc(-1L, ts(60),
        "wmadv1 wmadv2 wmadv3 wmadv4 wmadv5 wmadv6 wmadv7 wmadv8 wmadv9"))
      q.processAllAvailable()
      val got = spark.table("decontam_out")
        .select("doc_id", "n_hits").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == batch.keySet,
        s"stream flagged ${got.keySet}, batch flagged ${batch.keySet}")
      got.foreach { case (id, n) =>
        assert(n == batch(id), s"doc $id: stream hits $n vs batch ${batch(id)}")
      }
    } finally q.stop()
  }

  test("streaming blocklist filter admits exactly the batch-clean docs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.operators.TextAnalysis.blocklistFilter(spark, dir)
      .select("doc_id", "blocked").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(batch.values.exists(_ == 1), "fixture vacuous — nothing blocked in batch")
    assert(batch.values.exists(_ == 0), "fixture vacuous — everything blocked in batch")
    val rows = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingBlocklistFilter(input.toDF())
      .writeStream.format("memory").queryName("blocklist_stream_out")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val got = spark.table("blocklist_stream_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val want = batch.filter(_._2 == 0).keySet
      assert(got == want,
        s"stream/batch admit sets diverge: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming span dedup over the frozen dup-window index bit-matches the batch scores") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the frozen index: the corpus's own cross-doc duplicated windows
    val dupSet = graft.operators.Dedup.duplicatedWindowIndex(spark, dir)
      .collect().map(_.getLong(0))
    assert(dupSet.nonEmpty, "fixture vacuous — no cross-doc duplicated windows")
    // three-way identity target: the original aggregate form
    val batch = graft.operators.Dedup.substringDedup(spark, dir)
      .select("doc_id", "n_windows", "n_dup_windows", "dup_fraction").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(batch.values.exists(_._2 > 0), "fixture vacuous — no doc has dup windows")
    // (1) the frozen BATCH form agrees with the aggregate form row-for-row
    val frozen = graft.operators.Dedup.substringDedupFrozenOf(
      graft.core.Tables.documents(spark, dir), dupSet, 8)
      .select("doc_id", "n_windows", "n_dup_windows", "dup_fraction").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(frozen == batch,
      s"frozen-form drift on ${(frozen.toSet diff batch.toSet).take(3)}")
    // (2) the STREAM agrees with both
    val rows = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingSpanDedup(input.toDF(), dupSet)
      .writeStream.format("memory").queryName("span_stream_out")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val got = spark.table("span_stream_out")
        .select("doc_id", "n_windows", "n_dup_windows", "dup_fraction").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(got == batch,
        s"stream/batch drift: extra=${(got.toSet diff batch.toSet).take(3)} " +
          s"missing=${(batch.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming nfc dedup drops decomposed re-spellings; hashes bit-match the batch kernel") {
    import org.apache.spark.sql.functions.{col, md5}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // composed page, its decomposed re-crawl (same visible string), a distinct page
    val rows = Seq(
      Doc(1L, ts(1), "caf\u00e9 menu page"),
      Doc(2L, ts(2), "cafe\u0301 menu page"),
      Doc(3L, ts(3), "caf\u00e9 menu page two"))
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingNfcDedup(input.toDF())
      .writeStream.format("memory").queryName("nfc_stream_out")
      .outputMode("append").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val got = spark.table("nfc_stream_out")
        .select("doc_id", "nfc_hash").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.keySet == Set(1L, 3L), s"survivors ${got.keySet}")
      // batch twin: the same kernel over the same rows
      val batch = rows.toDF()
        .select(col("doc_id"),
          md5(graft.functions.NfcExpressions.nfc(spark, col("text"))).as("h"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(batch(1L) == batch(2L), "decomposed spelling must normalize onto the composed hash")
      got.foreach { case (id, h) =>
        assert(h == batch(id), s"doc $id stream nfc hash drifted from batch")
      }
    } finally q.stop()
  }

  test("streaming web ingest composes url dedup -> decontam -> temperature bit-identically to batch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val want = graft.operators.CorpusPipeline.pipelineWeb(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "fixture vacuous — batch web pipeline kept nothing")
    // frozen inputs: the benchmark gram set as a literal, and the rate
    // table computed over the batch pipeline's own clean survivors
    val bench = graft.operators.CorpusPipeline.benchmarkNgramIndex(spark, dir)
      .collect().map(_.getLong(0))
    assert(bench.nonEmpty, "fixture vacuous — empty benchmark gram set")
    val rates = graft.operators.CorpusPipeline.temperatureRatesOf(
      graft.operators.CorpusPipeline.webCleanSurvivors(spark, dir))
    // id-ordered arrival: the batch min-id-per-page winner arrives first,
    // so streaming first-wins keeps exactly the batch URL survivors
    val rows = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.operators.CorpusPipeline.syntheticUrl(col("doc_id")).as("url"),
        col("text"), col("lang"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), ts(1), r.getString(1), r.getString(2), r.getString(3)))
    val input = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val q = StreamingOps.streamingWebIngest(
        input.toDF().toDF("doc_id", "ts", "url", "text", "lang"), bench, rates)
      .writeStream.format("memory").queryName("web_ingest_out")
      .outputMode("append").start()
    try {
      input.addData(rows.toSeq)
      q.processAllAvailable()
      val got = spark.table("web_ingest_out")
        .select("doc_id", "lang", "rate_micro").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want,
        s"stream/batch web keep sets diverge: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming phash dedup drops signature collisions; signatures bit-match the batch pass") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingPhashDedup(input.toDF())
      .writeStream.format("memory").queryName("phash_stream_out")
      .outputMode("append").start()
    try {
      val docs = graft.core.Tables.documents(spark, dir)
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), r.getString(1)))
      input.addData(docs.toSeq)
      q.processAllAvailable()
      val got = spark.table("phash_stream_out")
        .select("doc_id", "phash").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = graft.operators.Multimodal.imagePhash(spark, dir)
        .select(col("doc_id"), col("phash"), col("n_same_hash")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(batch.nonEmpty)
      // every surviving stream row carries the batch signature bit-for-bit
      got.foreach { case (id, sig) =>
        assert(batch.find(_._1 == id).exists(_._2 == sig), s"doc $id signature drifted")
      }
      // one survivor per distinct signature (collisions dropped)
      assert(got.size == batch.map(_._2).distinct.length,
        "survivor count must equal distinct signature count")
    } finally q.stop()
  }

  test("streaming fuzzy match covers every batch fuzzy-ER best match with identical scores") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val p = graft.core.Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    val catalog = p.select(col("p_partkey").as("key"), col("p_name").as("cname"))
    val dropPos = (col("p_partkey") % 3 + 5).cast("int")
    val arrivals = p.where(col("p_partkey") % 7 === 0 && length(col("p_name")) >= 8)
      .select((col("p_partkey") + 10000000L).as("id"),
        concat(col("p_name").substr(lit(1), dropPos - 1),
          col("p_name").substr(dropPos + 1, lit(1000000))).as("name"))
      .collect().map(r => (r.getLong(0), ts(1), r.getString(1)))
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingOps.streamingFuzzyMatch(
        input.toDF().toDF("id", "ts", "name"), catalog)
      .writeStream.format("memory").queryName("fuzzy_stream_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals.toSeq)
      q.processAllAvailable()
      val got = spark.table("fuzzy_stream_out")
        .select(col("id"), col("matched_key"), col("edit_distance"), round(col("jw"), 4))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got.nonEmpty, "no stream candidates")
      // every batch best-match row must appear among the stream candidates
      val batch = graft.operators.Dedup.fuzzyEntityMatch(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(batch.nonEmpty && batch.subsetOf(got),
        s"batch best matches missing from stream candidates: ${(batch -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming weighted sample equals the batch A-ES top-n at window close") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val sizes = graft.operators.Dedup.dedupSoftWeights(spark, dir)
      .select(col("doc_id"), col("cluster_size"))
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingWeightedSample(input.toDF(), sizes, n = 50)
      .writeStream.format("memory").queryName("wsample_out")
      .outputMode("append").start()
    try {
      val docs = graft.core.Tables.documents(spark, dir)
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(1), "x"))
      // two batches to exercise the cross-batch state merge
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.toSeq)
      input.addData(b.toSeq)
      input.addData(Doc(-999999, ts(60), "advance"))
      q.processAllAvailable()
      val got = spark.table("wsample_out")
        .where(col("win_start") === ts(0))
        .select("rank", "doc_id", "cluster_size", "skey").collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      val want = graft.operators.Dedup.softWeightSample(spark, dir, n = 50).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      assert(got.nonEmpty && got == want,
        s"stream/batch weighted sample diverge:\n${got.take(3)}\nvs\n${want.take(3)}")
    } finally q.stop()
  }

  test("composed ingest pipeline (quality -> dedup -> window) matches batch survivor count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamingOps.streamingIngestPipeline(input.toDF())
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      // batch ground truth: quality+lang+exact-dedup survivors of the
      // real corpus slice — the streaming composition must admit exactly
      // this many docs (per content hash both sides keep ONE row)
      val expected = graft.operators.CorpusPipeline
        .cleanCorpus(spark, "/root/testdata/sf0.001").count()
      val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select("doc_id", "text").collect()
        .map(r => Doc(r.getLong(0), ts(60), r.getString(1)))
      // one passing doc far in the future advances the watermark past the
      // first window's end (it must clear the quality filter — rejected
      // docs never reach the watermark node and advance nothing)
      val passing = graft.operators.CorpusPipeline
        .cleanCorpus(spark, "/root/testdata/sf0.001")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val advancer = docs.find(d => passing.contains(d.doc_id)).get
      input.addData(docs.toSeq)
      q.processAllAvailable()
      input.addData(Doc(advancer.doc_id + 1000000L, ts(90), advancer.text))
      q.processAllAvailable()
      input.addData(Doc(advancer.doc_id + 2000000L, ts(91), advancer.text))
      q.processAllAvailable()
      val rows = spark.table("ingest_out").collect()
        .map(r => r.getTimestamp(0).getTime / 60000L -> r.getLong(1)).toMap
      assert(rows.get(60L).contains(expected),
        s"window [60,65) must admit the batch survivor count $expected, got $rows")
    } finally q.stop()
  }

  test("parquet sink + checkpoint: dedup state and offsets survive a query restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_")
    val out = java.nio.file.Files.createTempDirectory("graft_sink_")
    val input = MemoryStream[Doc]
    def start() = StreamingOps.streamingDedup(input.toDF())
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try {
      val q1 = start()
      try {
        input.addData(Doc(1, ts(60), "alpha text here"), Doc(2, ts(61), "alpha  TEXT here "))
        q1.processAllAvailable() // doc 2 normalizes to doc 1's hash -> dropped
      } finally q1.stop()
      // restart against the same checkpoint: committed offsets must not
      // replay batch 1 into the sink, and the dedup state store must
      // restore — an in-watermark duplicate arriving AFTER the restart is
      // still dropped (the recovery property a 100 TB ingest job relies on)
      val q2 = start()
      try {
        input.addData(Doc(3, ts(62), "beta text here"), Doc(4, ts(63), "ALPHA text  here"))
        q2.processAllAvailable()
      } finally q2.stop()
      val kept = spark.read.parquet(out.toString)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(1L, 3L),
        s"restart must neither replay doc 1 nor forget doc 1's hash (got $kept)")
    } finally {
      for (base <- Seq(ckpt, out)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(base)
        val paths = try walk.iterator().asScala.toList finally walk.close()
        paths.sortBy(-_.getNameCount)
          .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
      }
    }
  }

  test("streaming media features parse arriving payloads with the batch decoder") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Byte])]
    val q = StreamingOps.streamingMediaFeatures(
        input.toDF().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("media_out")
      .outputMode("append").start()
    try {
      val ppm = "P6\n4 2\n255\n".getBytes ++ Array.fill[Byte](24)(7)
      input.addData((1L, ppm), (2L, "plain text".getBytes))
      q.processAllAvailable()
      val rows = spark.table("media_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("media_type"), r.getAs[Long]("dim1"), r.getAs[Long]("dim2")))).toMap
      assert(rows(1L) == (("ppm", 4L, 2L)), s"got $rows")
      assert(rows(2L)._1 == "raw")
    } finally q.stop()
  }
}
