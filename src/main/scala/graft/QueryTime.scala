package graft

import org.apache.spark.sql.SparkSession

/** Time registered queries in one JVM — the triage tool for per-query
  * bench drift (the full `graft.Bench` charges each query a median inside
  * a 200+-query JVM). One name reproduces that query's number in
  * isolation; several names run in the given order, so a regression that
  * vanishes in isolation can be reproduced with the minimal prefix whose
  * left-behind state causes it.
  * Usage: runMain graft.QueryTime q1[,q2,...] [sfDir] [iters] [cpus]
  * Prints one line per iteration plus each query's median, mirroring
  * Bench's warm-up-then-median methodology (count() action, cached base
  * tables). A query that throws is reported and the next one runs.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(
      sys.error("usage: QueryTime q1[,q2,...] [sfDir] [iters] [cpus]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)).getOrElse(32)
    val fns = names.map(name => name -> SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' — see SparkEntry.queries")))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // 220+ distinct plans in one JVM overflow the 100-entry generated-
      // class cache (see Bench.scala) — size it to the suite
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.cacheTables = true
    spark.range(1L << 20).selectExpr("sum(id * 2)").collect()
    fns.foreach { case (name, fn) =>
      try {
        if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
          println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        if (sys.env.get("SPARK_GRAFT_SHOW").contains("1"))
          fn(spark, sfDir).show(50, truncate = false)
        val ts = (0 to iters).map { i =>
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[qtime] $name iter=$i rows=$n sec=$sec%.4f" +
            (if (i == 0) " (warm-up)" else ""))
          sec
        }.drop(1).sorted
        if (ts.nonEmpty) println(f"[qtime] $name median=${ts(ts.length / 2)}%.4f over $iters")
      } catch {
        case e: Exception => println(s"[qtime] $name FAILED: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    spark.stop()
  }
}
