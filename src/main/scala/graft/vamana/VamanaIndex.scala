package graft.vamana

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.vamana.{VamanaKernel => K}

/** User-facing facade mirroring the reference's public Go surface
  * (go_api/vamana_go_api.go:22-180) so a reference user can switch 1:1:
  *
  * | Reference                  | Here                                   |
  * |----------------------------|----------------------------------------|
  * | NewVamanaIndex(d,n,α,R,L,e)| `new VamanaIndex(params, maxPoints)`   |
  * | AddPoint(vec, id) -> int   | [[addPoint]] (−1 when full, like h:102)|
  * | BuildIndex()               | [[buildIndex]]                          |
  * | Search(q, k)               | [[search]]                              |
  * | SearchWithStartPoint       | [[searchWithStartPoint]]                |
  * | SaveIndex / LoadIndex      | [[save]] / [[VamanaIndex.load]]         |
  * | GetPoint(i)                | [[getPoint]] (internal position)        |
  * | GetDimension/DataSize/...  | [[dimension]]/[[dataSize]]/[[params]]   |
  * | GetAvgHops / AvgDistComps  | [[avgHops]]/[[avgDistComputations]] —   |
  * |                            | IMPLEMENTED (stubbed 0.0 in go_api:163) |
  *
  * Plus the Spark-native bulk paths the reference cannot offer:
  * [[addPoints]] (DataFrame ingest) and [[searchBatch]] (distributed
  * serving via [[VamanaModel.search]]).
  */
final class VamanaIndex(val params: VamanaParams, val maxPoints: Int) {

  private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
  private val built = new AtomicReference[LocalIndex](null)
  private val statHops = new AtomicLong(0)
  private val statDistComps = new AtomicLong(0)
  private val statQueries = new AtomicLong(0)

  /** Append one point; −1 when at capacity or on dim mismatch (the
    * reference silently accepts wrong-dim input — we reject). */
  def addPoint(vec: Array[Float], id: Long): Int = synchronized {
    if (ids.length >= maxPoints || vec.length != params.dim) -1
    else {
      ids += id
      vecs += vec.clone()
      0
    }
  }

  /** Bulk ingest from a DataFrame (capacity-checked). */
  def addPoints(df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding"): Int = {
    import df.sparkSession.implicits._
    val rows = df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    synchronized {
      if (ids.length + rows.length > maxPoints) -1
      else {
        rows.foreach { case (id, v) => ids += id; vecs += v }
        0
      }
    }
  }

  def buildIndex(): Unit = synchronized {
    require(ids.nonEmpty, "cannot build an empty index (reference crashes here, vamana.h:399)")
    val (vecsT, kdim, _) = MetricReduction.prepareIndex(vecs.toArray, params.metric, params.dim)
    built.set(K.build(ids.toArray, vecsT, params.copy(dim = kdim)))
  }

  private def index: LocalIndex = {
    val idx = built.get()
    require(idx != null, "buildIndex() has not been called")
    idx
  }

  def search(query: Array[Float], k: Int): Array[(Long, Float)] = {
    val (res, hops, comps) = K.searchCounted(index, MetricReduction.prepareQuery(query, params.metric), k)
    statHops.addAndGet(hops)
    statDistComps.addAndGet(comps)
    statQueries.incrementAndGet()
    res
  }

  def searchWithStartPoint(query: Array[Float], startVec: Array[Float], k: Int): Array[(Long, Float)] =
    K.searchWithStartPoint(index, MetricReduction.prepareQuery(startVec, params.metric),
      MetricReduction.prepareQuery(query, params.metric), k)

  /** Distributed batch serving over a query DataFrame. */
  def searchBatch(queries: DataFrame, k: Int): DataFrame =
    new VamanaModel(index).search(queries, k)

  def getPoint(pos: Int): Array[Float] = index.points(pos)
  def dimension: Int = params.dim
  def dataSize: Int = synchronized(ids.length)
  def medoid: Int = index.medoid

  /** Real per-query search statistics (go_api stubs these at 0.0). */
  def avgHops: Double =
    if (statQueries.get() == 0) 0.0 else statHops.get().toDouble / statQueries.get()
  def avgDistComputations: Double =
    if (statQueries.get() == 0) 0.0 else statDistComps.get().toDouble / statQueries.get()

  def save(spark: SparkSession, path: String): Unit =
    new VamanaModel(index).save(spark, path)
}

object VamanaIndex {
  /** LoadIndex (go_api:139-149): restore from parquet; capacity freezes at n
    * like the reference (vamana.h:69), but params are fully restored. */
  def load(spark: SparkSession, path: String): VamanaIndex = {
    val model = VamanaModel.load(spark, path)
    val vi = new VamanaIndex(model.index.params, model.index.size)
    model.index.ids.indices.foreach { i =>
      vi.addPoint(model.index.points(i), model.index.ids(i))
    }
    vi.built.set(model.index)
    vi
  }
}
