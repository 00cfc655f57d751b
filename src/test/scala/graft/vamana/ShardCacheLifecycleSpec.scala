package graft.vamana

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The resident shard kernels are the ONLY storage a shard core holds:
  * one persisted entry per serving core, nothing left once each model is
  * unpersisted, releasing a model runs no job, and a long update stream
  * does not grow the lineage a search task deserializes. */
class ShardCacheLifecycleSpec extends AnyFunSuite {

  import ShardSpecFixture._

  /** fit → search → insert → delete → unpersist of one layout's models,
    * checking the persistent-RDD registry after each step. */
  private def lifecycle[M](fit: DataFrame => M, core: M => ShardCore[_],
      search: (M, DataFrame) => DataFrame, insert: (M, DataFrame) => M,
      delete: (M, Array[Long]) => M, unpersist: M => Unit): Unit = {
    val sc = spark.sparkContext
    val emb = corpus
    val before = sc.getPersistentRDDs.keySet
    def added: Set[Int] = (sc.getPersistentRDDs.keySet -- before).toSet
    def resident(m: M): Int = {
      val shards = core(m).shards
      assert(shards.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
      shards.id
    }
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val fitted = fit(emb.where(col("vec_id") < 400))
    assert(added == Set(resident(fitted)), "a fitted core holds exactly one persisted entry")
    search(fitted, q).collect()
    assert(added == Set(resident(fitted)), "a search persists nothing")
    val grown = insert(fitted, emb.where(col("vec_id") >= 400))
    assert(added == Set(resident(fitted), resident(grown)))
    val shrunk = delete(grown, (0L until 20L).toArray)
    search(shrunk, q).collect()
    assert(added == Set(resident(fitted), resident(grown), resident(shrunk)))
    Seq(fitted, grown, shrunk).foreach(unpersist)
    assert(added.isEmpty, s"shard storage left after unpersist: $added")
  }

  test("fanout models: one resident entry per core, none after unpersist") {
    spark.sparkContext.setLogLevel("WARN")
    lifecycle[FanoutModel](VamanaFanout.fit(_, params, numShards = 3), _.core,
      _.search(_, 5), _.insert(_), _.delete(_), _.unpersist())
  }

  test("routed models: one resident entry per core, none after unpersist") {
    lifecycle[RoutedFanoutModel](VamanaRouted.fit(_, params, numShards = 3), _.core,
      _.searchRouted(_, 5, nprobe = 2), _.insert(_), _.delete(_), _.unpersist())
  }

  test("unpersist of a never-searched model starts no job") {
    val emb = corpus
    val fanout = VamanaFanout.fit(emb, params, numShards = 3)
    val routed = VamanaRouted.fit(emb, params, numShards = 3)
    val c = JobCounter.count(spark.sparkContext) { fanout.unpersist(); routed.unpersist() }
    assert(c.jobs == 0, s"unpersist ran $c")
  }

  /** The longest chain of RDD dependencies under `r`, `r` included. */
  private def depth(r: RDD[_]): Int = 1 + (r.dependencies.map(d => depth(d.rdd)) :+ 0).max

  test("100 insert/delete rounds keep the resident lineage depth bounded") {
    import spark.implicits._
    val emb = corpus
    val fresh = emb.where(col("vec_id") < 100).as[(Long, Array[Float])].collect().sortBy(_._1)
    var m = VamanaFanout.fit(emb.where(col("vec_id") >= 100), params, numShards = 3)
    val depths = fresh.toSeq.map { case (id, vec) =>
      // one point in, one fitted point out, as a stream folds its batches
      val grown = m.insert(Seq((id, vec)).toDF("vec_id", "embedding"))
      val next = grown.delete(Array(id + 100L))
      m.unpersist()
      grown.unpersist()
      m = next
      depth(m.core.shards)
    }
    assert(depths.toSet == Set(depths.head) && depths.head <= 3,
      s"lineage depth over the rounds: ${depths.distinct}")
    assert(m.core.storedPoints == 400L)
    assert(m.search(localQueries(5), 5).count() == 25L)
    m.unpersist()
  }
}
