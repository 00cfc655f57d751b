package graft.vamana

import org.scalatest.funsuite.AnyFunSuite

/** A shard top-k call is ONE narrow Spark job over the resident shard
  * kernels: the per-partition answers rank-merge on the driver, so no
  * exchange, no range-sampling job and no kernel decode ride on a call. */
class ShardJobCountSpec extends AnyFunSuite {

  import ShardSpecFixture._

  private def assertOneNarrowJob(what: String, c: JobCount): Unit = {
    assert(c.jobs == 1, s"$what ran ${c.jobs} jobs, expected 1 ($c)")
    assert(c.stages == 1, s"$what ran ${c.stages} stages, expected its result stage only ($c)")
    assert(c.shuffleBytes == 0L, s"$what shuffled ($c)")
  }

  test("routed, routed-PQ and fanout search calls each run one job with no shuffle") {
    spark.sparkContext.setLogLevel("WARN")
    val emb = corpus
    val q = localQueries(20)
    val routed = VamanaRouted.fit(emb, params, numShards = 4)
    val fanout = VamanaFanout.fit(emb, params, numShards = 4)
    try {
      val sc = spark.sparkContext
      var rows = 0
      assertOneNarrowJob("searchRouted", JobCounter.count(sc) {
        rows = routed.searchRouted(q, 10, nprobe = 2).collect().length
      })
      assert(rows == 20 * 10)
      assertOneNarrowJob("VamanaPq.searchRoutedModel", JobCounter.count(sc) {
        rows = VamanaPq.searchRoutedModel(routed, q, "job-count-spec", 10, nprobe = 2,
          fullBeam = false).collect().length
      })
      assert(rows == 20 * 10)
      assertOneNarrowJob("FanoutModel.search", JobCounter.count(sc) {
        rows = fanout.search(q, 10).collect().length
      })
      assert(rows == 20 * 10)
    } finally {
      routed.unpersist()
      fanout.unpersist()
    }
  }
}
