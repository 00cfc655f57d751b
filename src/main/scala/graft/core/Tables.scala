package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All operators take the scale-factor directory as a parameter so the same
  * code runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench) — and, by
  * design, at any path on a real cluster (s3://..., hdfs://...). Reads are
  * plain `spark.read.parquet`, so Catalyst predicate pushdown / column
  * pruning / partition pruning apply automatically downstream.
  */
object Tables {

  /** The driver's pyarrow-generated files store timestamps as INT64
    * TIMESTAMP(NANOS), which Spark's parquet reader rejects by default
    * (PARQUET_TYPE_ILLEGAL). With the legacy conf set, Spark 4.1 reads them
    * as timestamp_ntz truncated to micros — matching DuckDB's nano→micro
    * truncation — WITH predicate pushdown intact (asserted in PlanSpec).
    * The `timestamp_micros(x div 1000)` rewrite below is the fallback for
    * environments where the column still surfaces as LONG. */
  private val nanoTimestampCols = Set("o_orderdate", "l_shipdate", "ts")

  /** Opt-in per-(session, dir, table) memoized `.cache()` — enabled only by
    * the long-lived multi-query mains (Bench, Verify), where 40+ queries
    * otherwise each re-scan the same parquet. Off by default: specs assert
    * parquet-scan plan shapes (PushedFilters/ReadSchema) that an
    * InMemoryRelation would hide, and a real cluster job reading 100 TB
    * should stream the scan, not pin it. */
  @volatile var cacheTables: Boolean = false

  /** Only dimension-sized tables that many queries re-read whole. The wide
    * fact tables (lineitem/orders/events) stay un-cached even when caching
    * is on: their queries read a pushed-down, column-pruned slice, and a
    * cache build would scan every column once — strictly worse (measured:
    * caching lineitem turned q6's 0.8 s pruned scan into a 17 s cache
    * materialization). Same logic at 100 TB — never pin a fact table. */
  private val cacheableTables =
    Set("region", "nation", "customer", "supplier", "part", "documents", "embeddings")

  /** Made with `new`, outside [[Memo]]'s registry: the per-dataset memo
    * sweep keeps the warmed base tables; only [[clearCache]] drops them. */
  private val memo = new Memo[(SparkSession, String, String), DataFrame](_.unpersist())

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (cacheTables && cacheableTables.contains(name))
      memo((spark, dir, name))(load(spark, dir, name).cache())
    else load(spark, dir, name)

  /** Names of the tables the multi-query mains should pre-materialize before
    * timing, so first-touch cache cost doesn't land on an arbitrary query. */
  def warmable: Set[String] = cacheableTables

  /** Unpersist and drop every memoized table — long-lived multi-dataset
    * drivers otherwise pin executor storage for the life of the JVM (and a
    * stopped session's frames would never be released). */
  def clearCache(): Unit = memo.clear()

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Files regenerated with plain TIMESTAMP(MICROS) annotate
    // isAdjustedToUTC=false, which Spark would surface as TIMESTAMP_NTZ —
    // a type unix_micros()/watermarks reject. Reading them as LTZ (the
    // session zone is pinned to UTC) reproduces the INT64-nanos era's
    // `timestamp_micros(ns div 1000)` values bit-for-bit, natively at the
    // scan, so timestamp predicates still push down.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (nanoTimestampCols.contains(f.name) && f.dataType == org.apache.spark.sql.types.LongType)
        acc.withColumn(f.name, org.apache.spark.sql.functions.expr(s"timestamp_micros(${f.name} div 1000)"))
      else acc
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
