package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Knn

/** `Knn.medoidExact` and `Knn.centroidNearest` assemble a per-dimension
  * vector from (pos, value) rows. Spark does not specify the order in which
  * a global aggregate merges its partitions, so the vector must take its
  * order from `pos` itself, not from a sort feeding `collect_list`. */
class KnnOrderSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val dim = 24
  private val vecs: Array[Array[Float]] = {
    val rng = new scala.util.Random(21)
    // a different offset per dimension, so a permuted vector is far off
    Array.fill(300)(Array.tabulate(dim)(j => j * 0.5f + rng.nextFloat()))
  }

  private def sq(a: Array[Float], b: Array[Double]): Double =
    a.indices.map(j => (a(j) - b(j)) * (a(j) - b(j))).sum

  test("medoid and centroid vectors follow pos with AQE off over several partitions") {
    val s = spark
    import s.implicits._
    withConf("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "7") {
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
        .toDF("vec_id", "embedding").repartition(5)
      val medoid = Knn.medoidExact(df)
      val centroid = Knn.centroidNearest(df)
      for (out <- Seq(medoid, centroid)) {
        val sortsOnPos = out.queryExecution.executedPlan.collect {
          case sort: SortExec if sort.sortOrder.exists(_.references.exists(_.name == "pos")) => sort
        }
        assert(sortsOnPos.isEmpty, s"a sort on pos feeds the vector:\n${out.queryExecution.executedPlan}")
      }
      // the answers against a driver-side reference in double precision
      val totals = vecs.map(a => vecs.map(b => sq(a, b.map(_.toDouble))).sum)
      assert(medoid.collect().head.getLong(0) == totals.indices.minBy(totals(_)).toLong)
      val c = Array.tabulate(dim)(j => vecs.map(_(j).toDouble).sum / vecs.length)
      val d = vecs.map(sq(_, c))
      val got = centroid.collect().head.getLong(0).toInt
      assert(d(got) <= d.min + 1e-4)
    }
  }
}
