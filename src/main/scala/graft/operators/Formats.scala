package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Tables}

/** File-format surface as a hash-checked QUERY (SURVEY.md §2b file
  * formats): the CSV/JSON/ORC sink→source roundtrip emits per-format
  * content checksums the DuckDB oracle recomputes from the parquet
  * originals — identical rows prove the write+read path preserved every
  * doc_id, text byte, and char count through each format. (The spec
  * version of this check samples ids; the query hashes ALL text.)
  */
object Formats {

  /** One row per format: doc count, total chars, and an order-independent
    * text checksum (sum of 32-bit md5 prefixes — commutative, overflow-safe
    * to ~10⁹ docs) computed from the ROUNDTRIPPED data. Aggregates are
    * materialized before the temp dir is deleted. */
  def formatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val schema = docs.schema
    val basePath = java.nio.file.Files.createTempDirectory("graft_formats_")
    try {
      // the two compressed-text rows pin COMPRESSED ingestion (JVM codecs
      // only — no native hadoop in this container): gzip is the
      // non-splittable web-corpus default (one task per file — at 100 TB
      // size the files, not the splits), bzip2 the splittable exception
      // The five format roundtrips are independent write+read-back jobs on
      // the same input; run them CONCURRENTLY (guide §2.6 — Spark's
      // scheduler overlaps jobs, the next job's tasks back-fill the tail of
      // the previous one). Futures, not .par: an explicit pool bounds the
      // in-flight jobs and survives .par's fork-join quirks under sbt.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      // one cancellable job group over all five legs: if one fails, the
      // others are cancelled and the pool DRAINED before the outer finally
      // deletes basePath — otherwise the delete races the still-running
      // jobs and their secondary task failures mask the root error
      val groupId = s"format-roundtrip-${java.util.UUID.randomUUID()}"
      val rowFutures = Seq(("csv", "csv", None), ("json", "json", None),
        ("orc", "orc", None), ("json_gzip", "json", Some("gzip")),
        ("csv_bzip2", "csv", Some("bzip2"))).map { case (label, fmt, codec) =>
        scala.concurrent.Future {
        spark.sparkContext.setJobGroup(groupId, s"format roundtrip $label",
          interruptOnCancel = true)
        val path = s"$basePath/$label"
        val w0 = docs.write.mode("overwrite").format(fmt)
        val w = codec.fold(w0)(c => w0.option("compression", c))
        // CSV defaults are LOSSY for realistic text: leading/trailing
        // whitespace is trimmed on write and read, and embedded newlines
        // break the line-per-record reader — exactly the corruption this
        // gate exists to catch, so disable the trims and read multiLine
        // (quoting already covers the newlines on the write side)
        // null vs empty string must survive the roundtrip: with the default
        // nullValue="" an empty text writes as '' and reads back as NULL,
        // silently dropping it from md5/sum while the oracle hashes the
        // parquet original. A sentinel that cannot occur in text (contains
        // a 0x01 control byte) keeps empty and NULL distinct on write and read.
        val csvNull = "\u0001__GRAFT_NULL__\u0001"
        (if (fmt == "csv")
          w.option("header", "true")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .option("nullValue", csvNull).option("emptyValue", "\"\"")
        else w).save(path)
        val r = spark.read.format(fmt).schema(schema)
        val back = (if (fmt == "csv")
          r.option("header", "true").option("multiLine", "true")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .option("nullValue", csvNull).option("emptyValue", "")
        else r).load(path)
        val agg = back.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("text_sum"))
          .head()
        (label, agg.getLong(0), agg.getLong(1), agg.getLong(2))
        }
      }
      val rows =
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(rowFutures),
          scala.concurrent.duration.Duration(600, "s"))
        catch {
          case t: Throwable =>
            scala.util.Try(spark.sparkContext.cancelJobGroup(groupId))
            throw t
        } finally {
          pool.shutdown()
          pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
        }
      rows.toDF("format", "n_docs", "total_chars", "text_sum").orderBy(col("format"))
    } finally {
      deleteRecursively(basePath)
    }
  }

  private def deleteRecursively(basePath: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(basePath)
    // materialize before closing: the walk stream holds directory handles
    val paths = try walk.iterator().asScala.toList finally walk.close()
    paths.sortBy(-_.getNameCount)
      .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
  }

  /** Bucketed co-located join: both fact tables written
    * `bucketBy(buckets, orderkey)`, read back through the catalog, joined
    * with NO exchange on either side — bucketing pre-pays the join shuffle
    * once at write time and amortizes it over every later join on that
    * key, the storage-layout lever a 100 TB deployment combines with AQE
    * and salting (both demonstrated elsewhere: q23, saltedJoin). Hash-
    * checked: the revenue aggregate must match the plain-join oracle
    * row-for-row, proving the bucketed write+read+join path is
    * row-lossless; the exchange-free plan shape is asserted in PlanSpec.
    * The merge hint pins sort-merge (at oracle SF the projected orders
    * side is broadcast-small, which would bypass the bucketed
    * distribution being demonstrated; at production SF SMJ is what the
    * planner picks anyway). */
  def bucketedRevenue(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame =
    withBucketedJoin(spark, dir, buckets) { joined =>
      val agg = joined
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
      // materialize (one row per priority) before the tables drop
      val rows = agg.collect()
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), agg.schema)
    }

  /** Partition-pruned scan: events written `partitionBy(event_date)` (30
    * daily directories on this corpus), read back with a one-week
    * predicate — the layout lever that turns a 100 TB full scan into a
    * day-range read. The filter must resolve at METADATA level
    * (PartitionFilters on the scan, asserted in PlanSpec — only the 7
    * matching directories are listed), and the week's aggregate
    * hash-matches the DuckDB oracle computed from the unpartitioned
    * original, proving the partitioned write+read path row-lossless. */
  def partitionedRevenue(spark: SparkSession, dir: String): DataFrame =
    withPartitionedEvents(spark, dir) { week =>
      val agg = week
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
      // materialize (one row per event type) before the temp dir deletes
      val rows = agg.collect()
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), agg.schema)
    }

  /** Write the date-partitioned events layout under a temp path, hand the
    * week-filtered read-back frame to `f`. The filter is on the PARTITION
    * column only, so it prunes directories instead of scanning rows.
    * Layout MEMOIZED per dataset (the [[withBucketedJoin]] rationale,
    * r18): partitioning's whole point is that the write pre-pays the
    * layout ONCE and later reads prune against it — re-writing all ~30
    * date directories on every invocation measured the pre-pay 4× per
    * bench run instead of the pruned read the query demonstrates. Files
    * live until the memo sweep or JVM exit ([[graft.core.Memo.onDisk]]). */
  private val partitionedCache =
    Memo.onDisk[String, java.nio.file.Path](this, deleteRecursively)

  private[graft] def withPartitionedEvents[T](spark: SparkSession, dir: String)
      (f: DataFrame => T): T = {
    val base = partitionedCache(dir, p => java.nio.file.Files.exists(p.resolve("events"))) {
      val b = java.nio.file.Files.createTempDirectory("graft_partitioned_")
      Tables.events(spark, dir)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(s"$b/events")
      b
    }
    f(spark.read.parquet(s"$base/events")
      .where(col("event_date") >= lit("2024-01-08") && col("event_date") < lit("2024-01-15")))
  }

  /** 16-bit Morton (Z-order) interleave of two long keys — bit i of `x`
    * lands at position 2i, bit i of `y` at 2i+1. Pure integer bit
    * arithmetic (16 shift/mask/or terms, fully codegen'd), identical in
    * DuckDB, which is what lets the oracle pin the interleave itself. */
  private[graft] def zValue(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Z-ordered layout + 2-D box scan — the third storage-layout lever
    * next to [[bucketedRevenue]] (join locality) and
    * [[partitionedRevenue]] (directory pruning): lineitem rewritten in
    * Morton order of (l_partkey, l_suppkey), so parquet row-group min/max
    * stats become tight 2-D boxes and a box predicate on EITHER OR BOTH
    * dims skips most row groups at the reader level — the multi-dim
    * data-skipping a 100 TB fact table needs when one partition column
    * isn't enough. The write pays one range shuffle on z (the same
    * pre-pay as bucketBy); the box aggregate hash-matches the DuckDB
    * oracle computed from the UNSORTED original (row-losslessness), and
    * min_z/max_z pin the interleave arithmetic bit-for-bit. */
  def zorderRevenue(spark: SparkSession, dir: String): DataFrame =
    withZorderedLineitem(spark, dir) { box =>
      val agg = box
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"),
          min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      val rows = agg.collect() // one row, materialized before the temp dir drops
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), agg.schema)
    }

  /** Write the z-ordered lineitem copy under a temp path, hand back the
    * box-filtered read (l_partkey ∈ [100,200) × l_suppkey ∈ [10,60) —
    * both predicates reach the scan as PushedFilters over the clustered
    * layout), then delete the files. */
  /** Layout MEMOIZED per dataset like [[withPartitionedEvents]] — the
    * z-order range shuffle + rewrite is the one-time pre-pay the box scan
    * amortizes; files live until the memo sweep or JVM exit. */
  private val zorderCache =
    Memo.onDisk[String, java.nio.file.Path](this, deleteRecursively)

  private[graft] def withZorderedLineitem[T](spark: SparkSession, dir: String)
      (f: DataFrame => T): T = {
    val base = zorderCache(dir, p => java.nio.file.Files.exists(p.resolve("li"))) {
      val b = java.nio.file.Files.createTempDirectory("graft_zorder_")
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .withColumn("z", zValue(col("l_partkey") % 65536, col("l_suppkey") % 65536))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(s"$b/li")
      b
    }
    f(spark.read.parquet(s"$base/li")
      .where(col("l_partkey") >= 100 && col("l_partkey") < 200 &&
        col("l_suppkey") >= 10 && col("l_suppkey") < 60))
  }

  /** Create the bucketed twin tables under a temp path, hand the
    * exchange-free join to `f`, then drop the catalog entries + files. */
  /** Memoized bucketed layout per (dataset, buckets): bucketing's whole
    * point is that the write pre-pays the join shuffle ONCE and later joins
    * reuse it — so re-writing both tables on every invocation (as the
    * pre-round-16 shape did) measured the pre-pay 4× per bench run instead
    * of the join it exists to make cheap (round-15 `bucketed_revenue`
    * drift: the write dominates the call at sf0.1). Tables + files live
    * until the memo sweep or JVM exit. */
  private val bucketedCache =
    Memo.onDisk[(String, Int), (SparkSession, String, String, java.nio.file.Path)](this, {
      case (spark, li, ord, base) =>
        // a stopped session's catalog went with it
        if (!spark.sparkContext.isStopped) {
          scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS $li"))
          scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS $ord"))
        }
        deleteRecursively(base)
    })

  private[graft] def withBucketedJoin[T](spark: SparkSession, dir: String,
      buckets: Int)(f: DataFrame => T): T = {
    // a hit built by a recreated session (or whose tables were dropped
    // externally) names catalog tables THIS session doesn't know — validate
    // every hit, rebuild on miss (two catalog lookups, no data touched)
    val (_, liT, ordT, _) = bucketedCache((dir, buckets),
        t => spark.catalog.tableExists(t._2) && spark.catalog.tableExists(t._3)) {
      // unique per layout: the shared Verify/Bench session must not collide
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_bucketed_")
      val li = s"graft_li_$tag"
      val ord = s"graft_ord_$tag"
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_extendedprice"))
        .write.mode("overwrite").option("path", s"$base/li")
        .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey").saveAsTable(li)
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").option("path", s"$base/ord")
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey").saveAsTable(ord)
      (spark, li, ord, base)
    }
    f(spark.table(liT).hint("merge")
      .join(spark.table(ordT), col("l_orderkey") === col("o_orderkey")))
  }

  /** Key-skew diagnostic — the pre-join observability pass a 100 TB
    * engine runs before choosing a strategy (q23's salted aggregation is
    * the CURE; this is the DIAGNOSIS): for each audited join/grouping
    * column, the top-5 heaviest keys with their share of the table and
    * their skew ratio vs the mean key frequency (ratio ≫ 1 → salt or let
    * AQE split that key's partitions). Exact integer counts; share and
    * ratio are single-division doubles rounded 4dp with identical operand
    * order in the oracle. Scale shape: one map-side-combined groupBy per
    * column, then a global top-5 as TakeOrderedAndProject (per-partition
    * heaps — never an unpartitioned rank window); the per-key frames are
    * key-cardinality-bounded and the unioned output is 15 rows. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    def top5(df: DataFrame, keyCol: String, label: String): DataFrame = {
      val counts = df
        .groupBy(col(keyCol).cast("string").as("key_val"))
        .agg(count(lit(1)).as("cnt"))
      val stats = counts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_keys"))
      counts.orderBy(col("cnt").desc, col("key_val")).limit(5)
        .crossJoin(broadcast(stats))
        .select(lit(label).as("table_col"), col("key_val"), col("cnt"),
          round(col("cnt").cast("double") / col("total"), 4).as("share"),
          round((col("cnt") * col("n_keys")).cast("double") / col("total"), 4)
            .as("skew_ratio"))
    }
    top5(Tables.events(spark, dir), "user_id", "events.user_id")
      .unionAll(top5(Tables.lineitem(spark, dir), "l_partkey", "lineitem.l_partkey"))
      .unionAll(top5(Tables.documents(spark, dir), "lang", "documents.lang"))
      .orderBy(col("table_col"), col("cnt").desc, col("key_val"))
  }
}
