package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.vamana._

/** A workload's serving model behind the calls the benchmark makes. Each
  * search round issues one call per entry of `paths`, so a workload that
  * alternates two search paths issues both in every round. */
sealed trait Server {
  def paths: Seq[String]
  def search(path: String, queries: DataFrame): Array[Hit]
  def insert(points: DataFrame): Server
  def delete(ids: Array[Long]): Server
  def save(dir: String): Unit
  /** Points stored over all shards; above the live count only where
    * points are replicated. */
  def shardSizes: Array[Int]
  /** Why the stored count disagrees with the benchmark's live count, if it does. */
  def liveCountError(live: Int): Option[String]
  def unpersist(): Unit
}

object Server {
  val Params: VamanaParams = VamanaParams(dim = Workloads.Dim)

  def hits(df: DataFrame): Array[Hit] =
    df.select("query_id", "rank", "id", "dist").collect()
      .map(r => Hit(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

  def fit(spark: SparkSession, w: Workload, corpus: DataFrame, pqKey: String): Server =
    w.serving match {
      case "broadcast" => Broadcast(spark, VamanaIndexer.fit(corpus, Params))
      case "fanout" => Fanout(VamanaFanout.fit(corpus, Params, w.shards))
      case "routed" => Routed(VamanaRouted.fit(corpus, Params, w.shards), w.nprobe, pqKey)
    }

  def load(spark: SparkSession, w: Workload, dir: String, pqKey: String): Server =
    w.serving match {
      case "broadcast" => Broadcast(spark, VamanaModel.load(spark, dir))
      case "fanout" => Fanout(FanoutModel.load(spark, dir))
      case "routed" => Routed(RoutedFanoutModel.load(spark, dir), w.nprobe, pqKey)
    }

  def exactCount(what: String, got: Long, live: Int): Option[String] =
    if (got == live) None else Some(s"$what holds $got points, expected $live live")
}

final case class Broadcast(spark: SparkSession, model: VamanaModel) extends Server {
  def paths: Seq[String] = Seq("serving")
  def search(path: String, queries: DataFrame): Array[Hit] =
    Server.hits(model.search(queries, Workloads.K))
  def insert(points: DataFrame): Server = copy(model = model.insert(points))
  def delete(ids: Array[Long]): Server = copy(model = model.delete(ids))
  def save(dir: String): Unit = model.save(spark, dir)
  def shardSizes: Array[Int] = Array(model.index.size)
  def liveCountError(live: Int): Option[String] =
    Server.exactCount("the broadcast index", model.index.size.toLong, live)
  def unpersist(): Unit = model.unpersist()
}

final case class Fanout(model: FanoutModel) extends Server {
  def paths: Seq[String] = Seq("serving")
  def search(path: String, queries: DataFrame): Array[Hit] =
    Server.hits(model.search(queries, Workloads.K))
  def insert(points: DataFrame): Server = Fanout(model.insert(points))
  def delete(ids: Array[Long]): Server = Fanout(model.delete(ids))
  def save(dir: String): Unit = model.save(dir)
  def shardSizes: Array[Int] = model.shardSizes
  def liveCountError(live: Int): Option[String] =
    Server.exactCount("the fanout shards", shardSizes.map(_.toLong).sum, live)
  def unpersist(): Unit = model.unpersist()
}

/** Routed serving alternates raw-vector routed search and PQ-guided routed
  * search at the same fixed nprobe. `pqKey` scopes the PQ code memo to
  * this model's lineage. */
final case class Routed(model: RoutedFanoutModel, nprobe: Int, pqKey: String) extends Server {
  def paths: Seq[String] = Seq("serving", "pq")
  def search(path: String, queries: DataFrame): Array[Hit] = path match {
    case "serving" => Server.hits(model.searchRouted(queries, Workloads.K, nprobe))
    case "pq" => Server.hits(VamanaPq.searchRoutedModel(
      model, queries, pqKey, Workloads.K, nprobe, fullBeam = false))
  }
  def insert(points: DataFrame): Server = copy(model = model.insert(points))
  def delete(ids: Array[Long]): Server = copy(model = model.delete(ids))
  def save(dir: String): Unit = model.save(dir)
  def shardSizes: Array[Int] = model.shardSizes
  def liveCountError(live: Int): Option[String] = {
    val stored = model.totalPoints
    if (stored >= live && stored <= model.maxReplicas.toLong * live) None
    else Some(s"routed shards store $stored points for $live live (max ${model.maxReplicas}x)")
  }
  def unpersist(): Unit = model.unpersist()
}
