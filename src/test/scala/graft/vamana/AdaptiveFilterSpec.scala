package graft.vamana

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, typedLit}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.Knn

/** Branch coverage for the ADAPTIVE filtered fanout search (the band hook
  * narrows MaxBroadcastAllowed so the complement and post-filter branches
  * run at spec scale, not only beyond 5M ids) and for the per-shard PQ
  * code memo's stale-entry guard (an insert under a reused cacheKey must
  * re-encode, never score out of bounds). */
class AdaptiveFilterSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val params =
    VamanaParams(dim = 64, maxDegree = 32, beamWidth = 64, alpha = 1.2f, efSearch = 128)

  private def resultSet(df: DataFrame) =
    df.select("query_id", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("adaptive branches: complement flip and post-filter agree with the broadcast form") {
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.embeddings(spark, dir)
    val model = VamanaFanout.fit(emb, params, numShards = 3)
    val allIds = emb.select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val allowed = allIds.filterNot(_ % 7 == 0)
    val allowedDf = emb.select(col("vec_id")).where(col("vec_id") % 7 =!= 0)
    val q = Knn.queriesFromPoints(emb, 10)
    val baseline = resultSet(model.searchFiltered(q, allowed, 10, fullBeam = true))

    // band below |allowed| but above |complement| -> the COMPLEMENT branch:
    // denied ids computed by distributed anti-join, polarity flipped
    val compBand = allIds.length - allowed.length + 1
    assert(allowed.length > compBand, "fixture must overflow the band on the allowed side")
    val viaComplement = resultSet(model.adaptiveFiltered(
      q, allowedDf, deny = false, 10, fullBeam = true, band = compBand))
    assert(viaComplement == baseline, "complement branch diverged from broadcast form")

    // band below BOTH sides -> the POST-FILTER branch: full-beam overfetch
    // (8k >= corpus here) + distributed semi-join, exact at this scale
    val viaPostFilter = resultSet(model.adaptiveFiltered(
      q, allowedDf, deny = false, 10, fullBeam = true, band = 1))
    assert(viaPostFilter == baseline, "post-filter branch diverged from broadcast form")

    // denied polarity through the same two branches
    val deniedDf = emb.select(col("vec_id")).where(col("vec_id") % 7 === 0)
    val viaDeniedComp = resultSet(model.adaptiveFiltered(
      q, deniedDf, deny = true, 10, fullBeam = true,
      band = (allIds.length - allowed.length) - 1))
    assert(viaDeniedComp == baseline, "denied complement branch diverged")
    val viaDeniedPost = resultSet(model.adaptiveFiltered(
      q, deniedDf, deny = true, 10, fullBeam = true, band = 1))
    assert(viaDeniedPost == baseline, "denied post-filter branch diverged")
  }

  test("PQ fanout search rejects a query batch beyond the 10k broadcast bound") {
    val model = VamanaFanout.fit(Tables.embeddings(spark, dir).where(col("vec_id") < 40),
      params, numShards = 2)
    val vec = Array.fill(params.dim)(0.5f)
    val q = spark.range(10001).select(col("id").as("query_id"), typedLit(vec).as("query_vec"))
    intercept[IllegalArgumentException] {
      VamanaPq.searchFanoutModel(model, q, "adaptive_filter_spec_bound", 10, fullBeam = false)
    }
  }

  test("PQ shard-code memo re-encodes when the shard changed under a reused cacheKey") {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.where(col("vec_id") < 40)
    val model = VamanaFanout.fit(base, params, numShards = 2)
    val q = Knn.queriesFromPoints(emb, 5)
    val key = "adaptive_filter_spec_stale"
    assert(VamanaPq.searchFanoutModel(model, q, key, 10, fullBeam = true).count() == 50)
    // grow the shards under the SAME key: stale positional codes would
    // index out of bounds or misscore; the size guard must re-encode
    val grown = model.insert(emb.where(col("vec_id") >= 40 && col("vec_id") < 50))
    val res = VamanaPq.searchFanoutModel(grown, q, key, 10, fullBeam = true)
    val exact = Knn.knnExact(emb.where(col("vec_id") < 50), q, 10)
    assert(resultSet(res) == resultSet(exact.select(col("query_id"), col("rank"), col("id"))),
      "full-beam PQ serving on the grown model must still be exact kNN")
  }

  test("PQ shard-code memo re-encodes on a SAME-SIZE mutation under a reused cacheKey") {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.where(col("vec_id") < 40)
    // ONE shard: delete 10 + insert 10 keeps the shard at exactly 40
    // points, so only the membership fingerprint can see the change
    val model = VamanaFanout.fit(base, params, numShards = 1)
    val q = Knn.queriesFromPoints(emb, 5)
    val key = "adaptive_filter_spec_samesize"
    assert(VamanaPq.searchFanoutModel(model, q, key, 10, fullBeam = true).count() == 50)
    // delete 10 ids, insert 10 DIFFERENT ids: cardinality is unchanged, so
    // a size-only stale guard would positionally serve the old codes for
    // the new membership — the membership fingerprint must force a
    // re-encode and keep full-beam serving exactly kNN over the new set
    val mutated = model.delete((30L until 40L).toArray)
      .insert(emb.where(col("vec_id") >= 40 && col("vec_id") < 50))
    val res = VamanaPq.searchFanoutModel(mutated, q, key, 10, fullBeam = true)
    val remaining = emb.where(col("vec_id") < 30 || (col("vec_id") >= 40 && col("vec_id") < 50))
    val exact = Knn.knnExact(remaining, q, 10)
    assert(resultSet(res) == resultSet(exact.select(col("query_id"), col("rank"), col("id"))),
      "full-beam PQ serving after a same-size delete+insert must be exact kNN")
  }
}
