package graft.vamana

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** The kernel keeps its walk, top-k and prune bookkeeping in per-thread
  * arrays that outlive a call. Whatever a thread ran before — a larger or
  * smaller index, a full-beam scan, a filtered, PQ-scored or range search,
  * an insert or a delete — a call must answer exactly as on a fresh
  * thread, also when the visited-mark epoch wraps around. */
class KernelScratchSpec extends AnyFunSuite {

  private val dim = 16

  private def points(n: Int, seed: Long): Array[Array[Float]] = {
    val rng = new Random(seed)
    Array.fill(n)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
  }

  private lazy val big = VamanaKernel.buildParallel(
    Array.tabulate(5000)(_.toLong), points(5000, 1), VamanaParams(dim = dim), 4)
  private lazy val small = VamanaKernel.build(
    Array.tabulate(40)(i => 10000L + i), points(40, 2), VamanaParams(dim = dim, maxDegree = 8, efSearch = 16))
  private val queries = points(6, 3)
  private val fresh = points(30, 4)

  private def hits(r: Array[(Long, Float)]): String = r.map { case (i, d) => s"$i:$d" }.mkString(",")

  private def graph(idx: LocalIndex): String =
    s"${idx.medoid};" + idx.graph.map(_.mkString(",")).mkString("|") + ";" + idx.ids.mkString(",")

  /** One step per entry, big → small → big, each a different use of the
    * scratch; every step renders its whole result, hops and comps. */
  private def steps: Seq[() => String] = queries.toSeq.zipWithIndex.flatMap { case (q, qi) =>
    Seq[() => String](
      () => { val (r, h, c) = VamanaKernel.searchCounted(big, q, 10); s"${hits(r)} $h $c" },
      () => { val (r, h, c) = VamanaKernel.searchCounted(small, q, 5); s"${hits(r)} $h $c" },
      () => { val (r, h, c) = VamanaKernel.searchCounted(big, q, 10, beamOverride = big.size); s"${hits(r)} $h $c" },
      () => hits(VamanaKernel.searchFiltered(small, q, 5, _ % 3 == 0)),
      () => hits(VamanaKernel.searchFiltered(big, q, 10, _ % 7 == 0)),
      () => {
        val (ids, ds) = VamanaKernel.greedySearchScored(
          n => VamanaKernel.l2sq(big.points(n), q) * 0.5f, big.graph, big.medoid, 48)
        ids.mkString(",") + " " + ds.mkString(",")
      },
      () => hits(VamanaKernel.rangeSearch(small, q, 2.0f)),
      () => {
        val grown = VamanaKernel.insert(small, Array.tabulate(5)(i => 20000L + 10 * qi + i),
          fresh.slice(5 * (qi % 6), 5 * (qi % 6) + 5))
        graph(grown) + " " + graph(VamanaKernel.delete(grown, Array(10000L + qi, 10001L + qi)))
      },
      () => hits(VamanaKernel.searchWithStartPoint(big, queries((qi + 1) % queries.length), q, 10)))
  }

  private def onFreshThread[T](body: => T): T = {
    var out: Option[T] = None
    val t = new Thread(() => out = Some(body))
    t.start()
    t.join()
    out.get
  }

  private lazy val expected: Seq[String] = steps.map(step => onFreshThread(step()))

  test("one thread running every walk over 5000 -> 40 -> 5000 points answers as fresh threads do") {
    val got = onFreshThread(steps.map(_()))
    assert(got.length == expected.length)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) => assert(g == e, s"step $i") }
  }

  test("answers are unchanged when the mark epochs wrap around mid-run") {
    val got = onFreshThread {
      // warm the scratch on the big index, then push both epochs to the
      // edge: the next few walks and prunes cross Int.MaxValue
      steps.head()
      val s = VamanaKernel.threadScratch
      s.walkMarks.epoch = Int.MaxValue - 2
      s.setMarks.epoch = Int.MaxValue - 2
      val out = steps.map(_())
      assert(s.walkMarks.epoch > 0 && s.walkMarks.epoch < 1000)
      assert(s.setMarks.epoch > 0 && s.setMarks.epoch < 1000)
      out
    }
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) => assert(g == e, s"step $i") }
  }
}
