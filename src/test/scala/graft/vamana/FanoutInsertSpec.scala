package graft.vamana

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.util.hashing.MurmurHash3

import graft.core.Tables

/** Insert-routing guarantees for the fanout model (round-4 advisor items):
  * the routing modulus is the FIT-TIME shard count (not the live shard row
  * count, which shifts after a whole-shard delete), and a batch routed to
  * a deleted shard recreates that shard instead of silently vanishing. */
class FanoutInsertSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val params =
    VamanaParams(dim = 64, maxDegree = 32, beamWidth = 64, alpha = 1.2f, efSearch = 128)

  /** (shard -> sorted member ids) straight from the shard kernels. */
  private def membership(m: FanoutModel): Map[Int, Seq[Long]] =
    m.shards.collect().map { case (sh, idx) => sh -> idx.ids.toSeq.sorted }.toMap

  test("insert after a whole-shard delete recreates the shard in the fitted key space") {
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.embeddings(spark, dir)
    val model = VamanaFanout.fit(emb, params, numShards = 3)
    assert(model.numShardsFit == 3)
    val lostIds = membership(model)(0)
    assert(lostIds.nonEmpty)
    val deleted = model.delete(lostIds.toArray)
    assert(deleted.shards.count() == 2, "shard 0 must disappear with its whole membership")
    assert(deleted.numShardsFit == 3, "routing modulus must stay the fit-time count")
    // reinsert part of the lost membership — every id hashes back to shard 0
    val back = lostIds.take(20)
    val reinserted = deleted.insert(emb.where(col("vec_id").isInCollection(back)))
    val mem = membership(reinserted)
    assert(mem.contains(0), "the deleted shard must be recreated, not the batch dropped")
    assert(mem(0) == back.sorted, s"recreated shard must hold exactly the batch, got ${mem(0)}")
    val seed = model.params.seed
    for (id <- back)
      assert(math.floorMod(MurmurHash3.productHash((id, seed)), 3) == 0,
        s"test premise: id $id routes to shard 0 under the fit hash")
    // and the points are findable again
    val q = emb.where(col("vec_id").isInCollection(back))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val hits = reinserted.search(q, 5)
      .where(col("rank") === 1 && col("query_id") === col("id")).count()
    assert(hits == back.size, s"every reinserted point must find itself ($hits/${back.size})")
  }

  test("local insert growth guard uses the fit-time maxLocalPoints, not the default") {
    val emb = Tables.embeddings(spark, dir)
    val base = VamanaIndexer.fit(emb.where(col("vec_id") < 300), params, maxLocalPoints = 350)
    val batch = emb.where(col("vec_id") >= 300) // 200 more: 500 > 350
    val e = intercept[IllegalArgumentException](base.insert(batch))
    assert(e.getMessage.contains("maxLocalPoints"))
    // an under-threshold batch still inserts fine
    val ok = base.insert(emb.where(col("vec_id") >= 300 && col("vec_id") < 340))
    assert(ok.index.size == 340)
  }
}
