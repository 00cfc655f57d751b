package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The release contract of [[GraftCaches.clearAll]]: a long-lived service
  * cycling through datasets must be able to drop every per-dataset memo —
  * cached tables, shingle/pair frames, decoded-thumbnail and signature
  * caches, pagerank checkpoint blocks, fitted k-means matrices, fitted
  * Vamana models and their pinned post-filter pools — so after each
  * (query-sweep → clearAll) cycle no persisted RDD is left behind. */
class CacheLifecycleSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("repeated query-sweep + clearAll cycles hold persistent storage flat") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    // the cache-heavy families: memoized tables, shared shingle/pair
    // frames, pagerank checkpoints, media signature caches, fitted
    // k-means matrices, and the Vamana serving models (broadcast, hash
    // fanout, routed, PQ shard codes, the adaptive post-filter's pools)
    val names = Seq("dedup_ngram_jaccard", "source_pagerank",
      "mm_image_neardup", "embed_kmeans", "cluster_silhouette", "pipeline_web",
      "vamana_fanout_search", "vamana_routed_search", "vamana_pq_fanout_gate",
      "vamana_search_overlap", "vamana_adaptive_postfilter_gate")
    def sweep(): Unit = {
      graft.core.Tables.cacheTables = true
      try names.foreach(n => SparkEntry.queries(n)(spark, dir).count())
      finally graft.core.Tables.cacheTables = false
    }
    // start from empty storage: earlier suites in this JVM may have left
    // frames of their own persisted
    GraftCaches.clearAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    for (cycle <- 1 to 3) {
      sweep()
      GraftCaches.clearAll()
      val left = spark.sparkContext.getPersistentRDDs.values.toSeq
      assert(left.isEmpty, s"cycle $cycle: ${left.size} persisted RDDs survive clearAll: " +
        left.map(r => s"${r.id} ${r.name}").mkString("; "))
    }
  }

  test("bucketed layout cache validates catalog hits and rebuilds after a lost catalog") {
    val dir = "/root/testdata/sf0.001"
    val expected = graft.operators.Formats.bucketedRevenue(spark, dir)
      .collect().map(_.toSeq).toSeq
    // simulate a session restart that lost the catalog entries while the
    // JVM-wide memo survived: a stale hit would name tables this session
    // doesn't know and throw at spark.table(); the validated hit rebuilds
    spark.catalog.listTables().collect()
      .filter(t => t.name.startsWith("graft_li_") || t.name.startsWith("graft_ord_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    val again = graft.operators.Formats.bucketedRevenue(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(again == expected, "rebuilt bucketed layout must serve identical rows")
    graft.core.Memo.release(graft.operators.Formats)
  }
}
