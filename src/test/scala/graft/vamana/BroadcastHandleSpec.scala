package graft.vamana

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** A [[VamanaModel]] ships its index once: every search form reuses one
  * broadcast until `unpersist()`, which releases it without breaking
  * frames already returned; a corpus over `maxLocalPoints` never becomes
  * one. */
class BroadcastHandleSpec extends AnyFunSuite {
  import ShardSpecFixture._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("search forms share one broadcast; unpersist keeps returned frames and re-broadcasts") {
    val s = spark
    import s.implicits._
    val model = VamanaIndexer.fit(corpus, params)
    assert(model.broadcastId.isEmpty, "the broadcast is made by the first search, not by fit")
    val queries = localQueries(20)
    val first = rows(model.search(queries, 10))
    val id = model.broadcastId
    assert(id.isDefined)
    assert(rows(model.search(queries, 10)) == first)
    assert(model.broadcastId == id)
    val withStart = queries.as[(Long, Array[Float])].collect().toSeq
      .map { case (q, v) => (q, v, v) }.toDF("query_id", "query_vec", "start_vec")
    model.searchStats(queries, 10).collect()
    model.rangeSearch(queries, 4.0).collect()
    model.searchWithStartPoint(withStart, 10).collect()
    assert(model.broadcastId == id, "every search form reuses the one broadcast")

    val pending = model.search(queries, 10)
    model.unpersist()
    assert(model.broadcastId.isEmpty)
    assert(rows(pending) == first, "a frame returned before unpersist still collects")
    assert(rows(model.search(queries, 10)) == first)
    assert(model.broadcastId.isDefined && model.broadcastId != id)
    model.unpersist()
  }

  test("a fit over maxLocalPoints is refused after the count, collecting nothing") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sc = spark.sparkContext
    val bare = JobCounter.count(sc) { emb.count() }
    val fit = JobCounter.count(sc) {
      val refused = intercept[IllegalArgumentException](
        VamanaIndexer.fit(emb, params, numShards = 3, maxLocalPoints = 10))
      assert(refused.getMessage.contains("VamanaFanout.fit"), refused.getMessage)
    }
    assert(bare.jobs >= 1)
    assert(fit.jobs <= bare.jobs,
      s"the refused fit ran ${fit.jobs} jobs where a bare count runs ${bare.jobs}")
  }
}
