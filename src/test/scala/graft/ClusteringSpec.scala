package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Clustering

/** Distributed integer k-means: planted-structure recovery, the
  * empty-cluster carry rule, and deterministic tie-breaks — the invariants
  * the DuckDB oracle cannot exercise (its sf fixture has no planted blobs
  * and no empty clusters). */
class ClusteringSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (vec_id, q) frame from integer coordinate rows. */
  private def frame(rows: Seq[(Long, Seq[Long])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "q").select(col("vec_id"), col("q").cast("array<bigint>"))
  }

  test("k-means recovers three well-separated planted blobs") {
    spark.sparkContext.setLogLevel("WARN")
    // 3 blobs of 5 points at distant centers; jitter << separation.
    // vec_ids interleaved across blobs so init (3 lowest ids) lands one
    // seed per blob and recovery is exact after one update.
    val rows = for {
      m <- 0 until 5
      b <- 0 until 3
    } yield {
      val id = (m * 3 + b).toLong
      val center = b * 1000000L
      (id, Seq(center + m * 7L, center - m * 11L, center + m * 3L))
    }
    val got = Clustering.kmeansAssignOf(spark, frame(rows), k = 3, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (b <- 0 until 3) {
      val members = (0 until 5).map(m => got((m * 3 + b).toLong)).toSet
      assert(members.size == 1, s"blob $b split across clusters: $members")
    }
    assert((0 until 3).map(b => got(b.toLong)).toSet.size == 3,
      "distinct blobs collapsed into one cluster")
  }

  test("equidistant points assign to the lowest cluster id; empty clusters keep their centroid") {
    // Two coincident init points: cluster 1's centroid equals cluster 0's,
    // every point is equidistant to both, so ALL points go to cid 0 and
    // cluster 1 is empty through every iteration — the carry rule must
    // keep its (identical) centroid rather than crash or drop the row.
    val rows = Seq(
      (0L, Seq(0L, 0L)), (1L, Seq(0L, 0L)),
      (2L, Seq(10L, 0L)), (3L, Seq(0L, 10L)))
    // iters=1 → the raw tied assignment: both centroids coincide at (0,0),
    // every point is equidistant, all rows must land on cid 0
    val tied = Clustering.kmeansAssignOf(spark, frame(rows), k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tied.forall(_._2 == 0L), s"tie did not break to lowest cid: ${tied.toSeq}")
    // iters=3 → after the first update cluster 1 is EMPTY; the carry rule
    // keeps its (0,0) centroid, which then re-captures the origin pair
    // while cluster 0 (centroid floor-mean (2,2)→(5,5)) keeps the far
    // points — the carried row must survive, not crash or vanish
    val got = Clustering.kmeansAssignOf(spark, frame(rows), k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.map(t => t._1 -> t._2).toSeq ==
      Seq(0L -> 1L, 1L -> 1L, 2L -> 0L, 3L -> 0L), s"carry split wrong: ${got.toSeq}")
    assert(got.find(_._1 == 0L).get._3 == 0L)
    assert(got.find(_._1 == 2L).get._3 == 50L) // c0 = (5,5): 25 + 25
  }

  test("greedy init separates blobs the lowest-ids init merges") {
    // Adversarial id layout: ids 0..2 (the naive k=3 seeds) all sit in
    // blob 0, and blobs 1/2 lie on the SAME side of the origin — the
    // canonical stuck configuration: one drifting centroid captures the
    // blob-1/2 midpoint and Lloyd can never un-merge them, while blob 0
    // keeps two centroids. Farthest-point init seeds each blob once.
    val rows =
      (0L until 6L).map(i => (i, Seq(i * 3L, 7L - i))) ++                      // blob 0 near origin
      (100L until 106L).map(i => (i, Seq(1000000L + i, i))) ++                 // blob 1
      (200L until 206L).map(i => (i, Seq(1000000L + i, 300000L + i)))          // blob 2
    def clustersOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val greedyC = Clustering.lloydUpdates(spark, frame(rows),
      Clustering.greedyInit(spark, frame(rows), 3), rounds = 2)
    val greedy = clustersOf(Clustering.assignToCentroids(spark, frame(rows), greedyC)
      .select(col("vec_id"), col("cluster")))
    def blobOf(id: Long): Int = if (id < 100) 0 else if (id < 200) 1 else 2
    val byBlob = greedy.groupBy { case (id, _) => blobOf(id) }.map { case (b, m) => b -> m.values.toSet }
    assert(byBlob.values.forall(_.size == 1) && byBlob.values.flatten.toSet.size == 3,
      s"greedy init failed to separate the planted blobs: $byBlob")
    // and the naive init really does merge two blobs on this layout —
    // the failure mode greedy exists for
    val naive = clustersOf(Clustering.kmeansAssignOf(spark, frame(rows), k = 3, iters = 3))
    val naiveByBlob = naive.groupBy { case (id, _) => blobOf(id) }.map { case (b, m) => b -> m.values.toSet }
    assert(!(naiveByBlob.values.forall(_.size == 1) && naiveByBlob.values.flatten.toSet.size == 3),
      s"fixture no longer adversarial for the naive init: $naiveByBlob")
  }

  test("large-k broadcast-frame assignment matches the literal-expression path") {
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(77)
    val rows = (0L until 300L).map(i => (i, Seq.fill(16)(rng.nextInt(2000001).toLong - 1000000L)))
    val centroids = Array.fill(150)(Array.fill(16)(rng.nextInt(2000001).toLong - 1000000L))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster"), col("dist"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lit = m(frame(rows)
      .withColumn("best", Clustering.bestCentroidExpr(spark, col("q"), centroids))
      .select(col("vec_id"), col("best.c").as("cluster"), col("best.d").as("dist")))
    val big = m(Clustering.assignToCentroidsLargeK(spark, frame(rows), centroids))
    assert(lit == big, "large-k path diverges from the literal argmin")
  }

  test("kmeans model save/load roundtrips the centroid matrix exactly") {
    val dir = "/root/testdata/sf0.001"
    val fitted = Clustering.kmeansFitTable(spark, dir, k = 4, iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_kmmodel").toString
    try {
      Clustering.saveModel(spark, s"$tmp/model", fitted)
      val loaded = Clustering.loadModel(spark, s"$tmp/model")
      assert(loaded.length == fitted.length &&
        loaded.zip(fitted).forall { case (a, b) => a.sameElements(b) },
        "centroid matrix changed across save/load")
    } finally {
      scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("kmeans assignment is bit-stable across partitionings") {
    val rows = (0L until 64L).map(i => (i, Seq(i * 37L % 101L, i * 53L % 89L, i % 7L)))
    val a = Clustering.kmeansAssignOf(spark, frame(rows).repartition(1), k = 4, iters = 2)
      .collect().map(_.toSeq).toSeq
    val b = Clustering.kmeansAssignOf(spark, frame(rows).repartition(7), k = 4, iters = 2)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "assignment changed under repartitioning")
  }
}
