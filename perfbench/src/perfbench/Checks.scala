package perfbench

import java.util.concurrent.{Callable, ExecutorService}

import scala.collection.mutable

/** One answer row as every serving path emits it. */
final case class Hit(qid: Long, rank: Long, id: Long, dist: Double)

/** The benchmark's own reference: double-precision squared L2 and exact
  * top-k by (distance, id). Written apart from the program, so it shares
  * no code with `Knn` or `VamanaKernel.l2sq`. */
object Exact {
  def d2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Exact k nearest live ids of `q`, ascending by (distance, id). */
  def topK(q: Array[Float], store: PointStore, k: Int): Array[(Long, Double)] = {
    val ids = new Array[Long](k)
    val ds = new Array[Double](k)
    var size = 0
    val live = store.liveIds
    var i = 0
    while (i < live.length) {
      val id = live(i)
      val d = d2(q, store.vec(id))
      if (size < k || d < ds(size - 1) || (d == ds(size - 1) && id < ids(size - 1))) {
        var j = if (size < k) size else k - 1
        while (j > 0 && (ds(j - 1) > d || (ds(j - 1) == d && ids(j - 1) > id))) {
          ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1
        }
        ds(j) = d; ids(j) = id
        if (size < k) size += 1
      }
      i += 1
    }
    Array.tabulate(size)(j => (ids(j), ds(j)))
  }

  def topKBatch(qs: Array[Array[Float]], store: PointStore, k: Int,
      pool: ExecutorService): Array[Array[(Long, Double)]] = {
    val chunk = math.max(1, (qs.length + 15) / 16)
    val futures = qs.indices.grouped(chunk).toSeq.map { range =>
      pool.submit(new Callable[Seq[Array[(Long, Double)]]] {
        def call(): Seq[Array[(Long, Double)]] = range.map(i => topK(qs(i), store, k))
      })
    }
    futures.flatMap(_.get()).toArray
  }

  def recall(answerIds: Iterable[Long], truth: Array[(Long, Double)]): Double =
    if (truth.isEmpty) 1.0
    else (answerIds.toSet intersect truth.map(_._1).toSet).size.toDouble / truth.length
}

/** Every vector the run has created, by id (ids are dense from 0), and the
  * benchmark's own record of which of them are live. */
final class PointStore(initial: Array[Array[Float]]) {
  private val vecs = mutable.ArrayBuffer.from(initial)
  private val alive = mutable.ArrayBuffer.fill(initial.length)(true)
  private var liveCache: Array[Long] = null
  var liveCount: Int = initial.length

  def vec(id: Long): Array[Float] = vecs(id.toInt)
  def nextId: Long = vecs.length.toLong
  def isLive(id: Long): Boolean = id >= 0 && id < vecs.length && alive(id.toInt)

  def liveIds: Array[Long] = {
    if (liveCache == null)
      liveCache = vecs.indices.iterator.filter(alive(_)).map(_.toLong).toArray
    liveCache
  }

  def add(vs: Array[Array[Float]]): Array[Long] = {
    val first = vecs.length
    vecs ++= vs
    alive ++= Iterator.fill(vs.length)(true)
    liveCount += vs.length
    liveCache = null
    Array.tabulate(vs.length)(i => (first + i).toLong)
  }

  def remove(ids: Array[Long]): Unit = {
    ids.foreach { id =>
      require(alive(id.toInt), s"id $id is not live")
      alive(id.toInt) = false
    }
    liveCount -= ids.length
    liveCache = null
  }
}

/** Output checks, independent of the program's code. A batch answer is
  * correct when every query gets min(k, live) distinct live ids ranked
  * 1..k, each reported distance equals the exact squared L2 within the
  * program's 1e-4 output rounding, and distances do not decrease with
  * rank. Returns the violations found (empty when the answer is correct). */
object Checker {

  /** The program rounds emitted distances to 1e-4 after a float
    * accumulation; the float error grows with the distance itself. */
  def tolerance(exact: Double): Double = 1e-4 + 4e-6 * exact

  def check(hits: Array[Hit], queries: Map[Long, Array[Float]], k: Int,
      isLive: Long => Boolean, liveCount: Int,
      vecOf: Long => Array[Float]): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (errors.length < 5) errors += msg
    val want = math.min(k, liveCount)
    val byQuery = hits.groupBy(_.qid)
    byQuery.keys.filterNot(queries.contains).foreach(q => fail(s"answer for unknown query $q"))
    for ((qid, qv) <- queries) {
      val rows = byQuery.getOrElse(qid, Array.empty[Hit]).sortBy(_.rank)
      if (rows.map(_.rank).toSeq != (1L to want.toLong))
        fail(s"query $qid: ranks ${rows.map(_.rank).mkString(",")} are not 1..$want")
      if (rows.map(_.id).distinct.length != rows.length)
        fail(s"query $qid: duplicate ids")
      var prev = Double.NegativeInfinity
      for (h <- rows) {
        if (!isLive(h.id)) fail(s"query $qid: id ${h.id} at rank ${h.rank} is not live")
        else {
          val exact = Exact.d2(qv, vecOf(h.id))
          if (math.abs(h.dist - exact) > tolerance(exact))
            fail(s"query $qid: id ${h.id} distance ${h.dist} but exact $exact")
        }
        if (h.dist < prev) fail(s"query $qid: distance decreases at rank ${h.rank}")
        prev = h.dist
      }
    }
    errors.toSeq
  }

  /** Exact-search check for a top-k list scored in float (a full-beam
    * kernel search): rank by rank, its exact distances equal the true
    * k-nearest distances, so it is an exact kNN answer up to exact ties. */
  def checkExactList(got: Array[(Long, Float)], truth: Array[(Long, Double)],
      q: Array[Float], vecOf: Long => Array[Float]): Option[String] = {
    if (got.length != truth.length) return Some(s"${got.length} results, want ${truth.length}")
    val exact = got.map { case (id, _) => Exact.d2(q, vecOf(id)) }.sorted
    exact.indices.find(i => math.abs(exact(i) - truth(i)._2) > tolerance(truth(i)._2))
      .map(i => s"rank ${i + 1}: distance ${exact(i)} but exact ${truth(i)._2}")
  }

  /** Shows that each check can fail: a correct batch passes, and each
    * corruption of it (a deleted id, an off distance, two swapped ranks, a
    * missing rank) is rejected. Returns the self-test failures. */
  def selfTest(hits: Array[Hit], queries: Map[Long, Array[Float]], k: Int,
      isLive: Long => Boolean, liveCount: Int, vecOf: Long => Array[Float]): Seq[String] = {
    def rejects(h: Array[Hit], live: Long => Boolean = isLive): Boolean =
      check(h, queries, k, live, liveCount, vecOf).nonEmpty
    val problems = mutable.ArrayBuffer.empty[String]
    if (rejects(hits)) problems += "the checker rejects a correct answer"
    // a query whose first two ranks have distinct distances, so a swap is wrong
    val byQuery = hits.groupBy(_.qid).view.mapValues(_.sortBy(_.rank)).toMap
    byQuery.values.find(r => r.length >= 2 && r(0).dist < r(1).dist) match {
      case None => problems += "no query with two distinct leading distances"
      case Some(rows) =>
        val first = rows(0)
        val second = rows(1)
        val deleted = first.id
        if (!rejects(hits, id => id != deleted && isLive(id)))
          problems += "a deleted id was accepted"
        val last = rows.last
        if (!rejects(hits.map(h => if (h == last) h.copy(dist = h.dist + 0.01) else h)))
          problems += "an off distance was accepted"
        if (!rejects(hits.map(h =>
            if (h == first) h.copy(rank = second.rank)
            else if (h == second) h.copy(rank = first.rank) else h)))
          problems += "swapped ranks were accepted"
        if (!rejects(hits.filterNot(_ == last)))
          problems += "a missing rank was accepted"
    }
    problems.toSeq
  }
}
