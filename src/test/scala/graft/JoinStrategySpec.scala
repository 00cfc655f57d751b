package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Joins, Tables}

/** Scale-pattern joins: bucketed co-located joins (no exchange on the
  * bucketed sides) and salted joins for skew (row-identical to plain). */
class JoinStrategySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ to expose exchanges
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("bucketed tables join without exchanges on the bucketed sides") {
    spark.sparkContext.setLogLevel("WARN")
    // the builder confs above are ignored if another suite created the
    // session first — force the runtime conf here and restore after
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // unique table names: suites may share a session whose default
    // warehouse dir survives across JVM runs (managed locations stick);
    // both are dropped after, which deletes their files
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val (ordersT, lineitemT) = (s"orders_b_$tag", s"lineitem_b_$tag")
    try {
      Tables.orders(spark, dir).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordersT)
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lineitemT)
      val joined = spark.table(lineitemT)
        .join(spark.table(ordersT), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be co-located (no shuffle):\n$plan")
      assert(joined.count() == Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      Seq(ordersT, lineitemT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true)") {
    import spark.implicits._
    // the third skew lever next to manual salting (Joins.saltedJoin) and
    // write-time bucketing: AQE detects the oversized partition AFTER the
    // map stage and splits it, no code change on the query. Thresholds are
    // lowered so the test corpus triggers the rewrite.
    val restore = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      .map { case (k, v) =>
        val prev = spark.conf.getOption(k)
        spark.conf.set(k, v)
        k -> prev
      }
    try {
      // 2M rows on ONE key, a trickle on 100 others: the hot key's
      // shuffle partition dwarfs the median even after compression
      // (skew detection reads compressed map-output sizes)
      val left = spark.range(2000000).select(lit(0L).as("k"), col("id").as("v"))
        .union(spark.range(10000).select((col("id") % 100 + 1).as("k"), col("id").as("v")))
      val right = spark.range(101).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = left.join(right, "k").agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))
      val rows = j.collect()
      assert(rows.head.getLong(0) == 2010000L, "join must be row-complete under the split")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must mark the skewed join side split at runtime:\n$p")
    } finally restore.foreach { case (k, prev) =>
      prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  test("salted join is row-identical to the plain join") {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_quantity"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(orders, "l_orderkey")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .collect().map(_.toSeq).toSet
    val salted = Joins.saltedJoin(li, orders, "l_orderkey", salts = 6)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .collect().map(_.toSeq).toSet
    assert(plain == salted, "salting must not change join semantics")
  }
}
