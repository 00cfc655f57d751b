package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.Relational

/** Source/sink coverage beyond parquet (SURVEY.md §2b "file formats"):
  * csv/json/orc roundtrips preserve the data, and the sketch aggregate
  * stays within its error bound. */
class SourcesSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("csv, json and orc sinks roundtrip the documents table") {
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, dir).orderBy("doc_id")
    val n = docs.count()
    val base = java.nio.file.Files.createTempDirectory("graft_sources").toString
    try {
      for (fmt <- Seq("csv", "json", "orc")) {
        val path = s"$base/$fmt"
        val writer = docs.write.mode("overwrite").format(fmt)
        (if (fmt == "csv") writer.option("header", "true") else writer).save(path)
        val reader = spark.read.format(fmt)
        val back = (if (fmt == "csv") reader.option("header", "true").option("inferSchema", "true")
                    else reader).load(path)
        assert(back.count() == n, s"$fmt roundtrip lost rows")
        val origIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
        val backIds = back.select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
        assert(backIds == origIds, s"$fmt roundtrip changed doc_ids")
      }
    } finally {
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("Tables loader surfaces NTZ-annotated parquet timestamps as session-zone LTZ") {
    // The driver's regenerated testdata annotates TIMESTAMP(MICROS) with
    // isAdjustedToUTC=false, which Spark 4.x surfaces as TIMESTAMP_NTZ when
    // inferTimestampNTZ is on — a type unix_micros()/watermarks reject.
    // Tables.load pins the conf off; this fixture guards that pin against a
    // future Spark default flip silently changing loader semantics.
    // NOTE: a Spark-written fixture will NOT do here — Spark embeds its own
    // schema in the parquet footer and the reader honors it regardless of
    // the infer conf. The driver's pyarrow files carry no Spark metadata
    // (only ARROW:schema), so the conf governs them — test the real artifact.
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType,
      s"driver file no longer NTZ-inferable (${raw.schema("ts").dataType}) — " +
        "this guard and the Tables.load pin can both be retired")
    // session zone is UTC, so casting the NTZ read to LTZ gives the micros
    // the loader must reproduce
    val rawMicros = raw.selectExpr("unix_micros(cast(ts AS timestamp))")
      .agg(sum("unix_micros(CAST(ts AS TIMESTAMP))"), count("*")).collect()(0)
    // the loader must pin the same file back to LTZ with identical values
    val viaLoader = Tables.events(spark, dir)
    assert(viaLoader.schema("ts").dataType == TimestampType,
      s"Tables loader surfaced ${viaLoader.schema("ts").dataType}, expected LTZ")
    val ldMicros = viaLoader.selectExpr("unix_micros(ts)")
      .agg(sum("unix_micros(ts)"), count("*")).collect()(0)
    assert(ldMicros.getLong(0) == rawMicros.getLong(0) &&
      ldMicros.getLong(1) == rawMicros.getLong(1),
      s"loader changed timestamp values: $ldMicros vs $rawMicros")
  }

  test("approx_count_distinct stays within 5% of exact") {
    val rows = Relational.approxDistinct(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("hll_ok"),
        s"${r.getString(0)}: HLL estimate outside 5% of ${r.getAs[Long]("exact_users")}")
    }
  }
}
