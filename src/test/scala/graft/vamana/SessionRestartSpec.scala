package graft.vamana

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.Knn

/** VamanaOps' fitted serving models are memoized per session, like the
  * operator memos: a model fitted under a stopped SparkContext must not be
  * handed to the next session, whose searches would then run on a dead
  * RDD. The spec ends with a live session for the suites that follow. */
class SessionRestartSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def answers(spark: SparkSession, search: DataFrame => DataFrame): Seq[(Long, Long)] =
    search(Knn.queriesFromPoints(Tables.embeddings(spark, dir), 10))
      .select(col("query_id"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("fanout and routed models fitted before a session restart are refitted after it") {
    val first = session()
    val fanout = answers(first, VamanaOps.fanoutModel(first, dir).search(_, 10))
    val routed = answers(first, VamanaOps.routedModel(first, dir).search(_, 10))
    first.stop()
    val second = session()
    assert(second.sparkContext ne first.sparkContext)
    assert(answers(second, VamanaOps.fanoutModel(second, dir).search(_, 10)) == fanout)
    assert(answers(second, VamanaOps.routedModel(second, dir).search(_, 10)) == routed)
    assert(second.range(3).count() == 3, "the next suites need a live session")
  }
}
