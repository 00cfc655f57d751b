package graft.vamana

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The session, kernel params and seeded corpus the shard-core specs
  * share. */
object ShardSpecFixture {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val params: VamanaParams =
    VamanaParams(dim = 64, maxDegree = 32, beamWidth = 64, alpha = 1.2f, efSearch = 128)

  /** 500 seeded points in 8 Gaussian clusters (point i in cluster i % 8),
    * as (vec_id, embedding). */
  def corpus: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val centres = Array.fill(8, 64)(rnd.nextFloat() * 2 - 1)
    (0 until 500).map(i => (i.toLong,
      Array.tabulate(64)(j => centres(i % 8)(j) + (rnd.nextGaussian() * 0.3).toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** The first `n` corpus points as a driver-local query batch
    * (query_id, query_vec), so reading it runs no job. */
  def localQueries(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    corpus.orderBy(col("vec_id")).limit(n)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .as[(Long, Array[Float])].collect().toSeq.toDF("query_id", "query_vec")
  }
}
