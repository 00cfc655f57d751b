package graft.vamana

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[ShardCore.rankMerge]] (per-partition best k, then the same rule on
  * the driver) answers exactly what the distributed SQL merge it replaced
  * answered: same schema, same rows, same row order; and no top-k call
  * can bring more than [[ShardCore.MaxMergeRows]] answers to the driver. */
class RankMergeSpec extends AnyFunSuite {

  import ShardSpecFixture._

  /** The oracle: the SQL merge shard serving used before the driver merge
    * (min dist per (query, id), row_number over (dist, id), first k,
    * rounded dist). */
  private def sqlRankMerge(answers: DataFrame, k: Int): DataFrame = {
    val merged = answers.groupBy(col("query_id"), col("id")).agg(min(col("dist")).as("dist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("id").asc)
    merged
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"),
        (expr("rint(dist * 10000)") / 1e4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Both merges over the same answers, laid out one partition per
    * element of `partitions` (a shard answer set each). */
  private def assertSameMerge(partitions: Seq[Seq[(Long, Long, Double)]], k: Int): Unit = {
    val s = spark
    import s.implicits._
    val rdd = spark.sparkContext.parallelize(partitions, math.max(1, partitions.length))
      .flatMap(identity)
    val got = ShardCore.rankMerge(spark, rdd, k)
    val want = sqlRankMerge(partitions.flatten.toDF("query_id", "id", "dist"), k)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w, s"k=$k\n driver: $g\n sql:    $w")
  }

  test("duplicate ids across shards keep their min dist") {
    val shardA = Seq((1L, 5L, 0.3), (1L, 6L, 0.25), (1L, 7L, 0.9))
    val shardB = Seq((1L, 5L, 0.2), (1L, 8L, 0.4), (1L, 6L, 0.26))
    for (k <- Seq(1, 2, 3, 5)) assertSameMerge(Seq(shardA, shardB), k)
  }

  test("equal distances are ranked by id") {
    val shardA = Seq((2L, 9L, 0.5), (2L, 3L, 0.5))
    val shardB = Seq((2L, 7L, 0.5), (2L, 1L, 0.75), (2L, 4L, 0.5))
    for (k <- Seq(1, 2, 3, 4)) assertSameMerge(Seq(shardA, shardB), k)
  }

  test("distances that differ only past the 4th decimal rank unrounded at rank k") {
    // rounded, all three read 0.1 and an id tie-break would keep ids 1, 2;
    // unrounded, ids 2 and 3 are the two nearest
    val shardA = Seq((3L, 1L, 0.10004), (3L, 3L, 0.10003))
    val shardB = Seq((3L, 2L, 0.10001), (3L, 4L, 0.2))
    for (k <- Seq(1, 2, 3)) assertSameMerge(Seq(shardA, shardB), k)
  }

  test("k above the answer count, and queries with no answers") {
    val shardA = Seq((4L, 1L, 0.3), (6L, 2L, 0.1))
    val shardB = Seq((4L, 2L, 0.1), (4L, 3L, 0.2))
    // query 5 has no answers in any shard, and one shard answers nothing
    for (k <- Seq(2, 10)) assertSameMerge(Seq(shardA, Seq.empty, shardB), k)
    assertSameMerge(Seq(Seq.empty, Seq.empty), 10)
  }

  test("random shard answers with ties and replicas") {
    val rnd = new Random(7)
    val partitions = Seq.fill(5) {
      for {
        q <- 0L until 30L
        _ <- 0 until rnd.nextInt(12)
      } yield (q, rnd.nextInt(40).toLong, rnd.nextInt(25) * 0.04 + rnd.nextInt(3) * 1e-6)
    }
    for (k <- Seq(1, 5, 10, 50)) assertSameMerge(partitions, k)
  }

  test("a top-k call the merge bound cannot hold is rejected before any job") {
    val fanout = VamanaFanout.fit(corpus, params, numShards = 3)
    try {
      val q = localQueries(2)
      val k = (ShardCore.MaxMergeRows / fanout.core.mergeRows(2, 1) + 1).toInt
      val c = JobCounter.count(spark.sparkContext) {
        intercept[IllegalArgumentException](fanout.search(q, k))
      }
      assert(c.jobs == 0, s"the rejected call ran $c")
    } finally fanout.unpersist()
  }

  test("post-filter escalation stops at the merge bound with the nearest allowed survivors") {
    val fanout = VamanaFanout.fit(corpus, params, numShards = 3)
    try {
      val q = localQueries(10)
      // 10 allowed points, all in even clusters: the odd-cluster queries
      // (ids 1, 3, ...) find them only beyond their 100 nearest points
      val allowed = corpus.select(col("vec_id")).where(col("vec_id") % 50 === 0)
      def perQuery(df: DataFrame): Map[Long, Seq[Long]] =
        df.collect().toSeq.groupBy(_.getLong(0))
          .map { case (qid, rs) => (qid, rs.sortBy(_.getLong(1)).map(_.getLong(2))) }
      // band = 1 forces the post-filter branch; unbounded, it escalates
      // 80 → 500 (the whole index) and every query holds all 10
      val whole = perQuery(fanout.adaptiveFiltered(q, allowed, deny = false, 10,
        fullBeam = true, band = 1))
      assert(whole.size == 10 && whole.values.forall(_.length == 10))
      // a bound that admits 100 answers per query stops it at 80 → 100
      val bound = fanout.core.mergeRows(10, 100)
      val capped = perQuery(fanout.adaptiveFiltered(q, allowed, deny = false, 10,
        fullBeam = true, band = 1, mergeLimit = bound))
      capped.foreach { case (qid, ids) =>
        assert(ids == whole(qid).take(ids.length), s"query $qid: $ids vs ${whole(qid)}")
      }
      assert((1L to 9L by 2L).forall(qid => capped.getOrElse(qid, Nil).length < 10),
        s"the odd-cluster queries should stop short: $capped")
    } finally fanout.unpersist()
  }
}
