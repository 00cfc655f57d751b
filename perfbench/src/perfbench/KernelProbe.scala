package perfbench

import scala.util.Random

import graft.vamana._

/** `VamanaKernel` numbers taken without Spark, on the workload's own
  * corpus: build time and parallel speed-up on a fixed-size prefix of the
  * corpus, and search, distance, prune, insert and delete costs on the
  * served broadcast index or, where the workload serves shards, on the
  * prefix's index. */
object KernelProbe {
  val BuildPoints = 2000
  val Updates = 200

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def run(corpus: Array[Array[Float]], served: Option[LocalIndex], queries: Array[Array[Float]],
      fresh: Array[Array[Float]], threads: Int, tracer: Tracer): Seq[(String, Double, String)] = {
    val params = Server.Params
    val m = math.min(BuildPoints, corpus.length)
    val ids = Array.tabulate(m)(_.toLong)
    val pts = corpus.take(m)
    VamanaKernel.buildParallel(ids, pts, params, threads) // JIT warm-up of the build path
    var prefixIndex: LocalIndex = null
    val seqS = tracer("kernel.build")(secs(VamanaKernel.build(ids, pts, params)))
    val parS = tracer("kernel.build_parallel")(
      secs { prefixIndex = VamanaKernel.buildParallel(ids, pts, params, threads) })
    val idx = served.getOrElse(prefixIndex)

    val k = Workloads.K
    val sink = new Array[Double](1)
    queries.take(1000).foreach(q => sink(0) += VamanaKernel.search(idx, q, k).length)
    val perQueryUs = (0 until 10).map { b =>
      val batch = queries.slice((b * 100) % queries.length, (b * 100) % queries.length + 100)
      val s = tracer("kernel.search")(secs(batch.foreach(q => sink(0) += VamanaKernel.search(idx, q, k).length)))
      s * 1e6 / batch.length
    }
    val counted = queries.take(500).map(q => VamanaKernel.searchCounted(idx, q, k))
    val hops = counted.map(_._2.toDouble).sum / counted.length
    val comps = counted.map(_._3.toDouble).sum / counted.length

    val rng = new Random(7)
    val calls = 2000000
    val pairs = Array.fill(1024)((idx.points(rng.nextInt(idx.size)), idx.points(rng.nextInt(idx.size))))
    var acc = 0.0f
    val l2s = tracer("kernel.l2sq")(secs {
      var i = 0
      while (i < calls) { val (a, b) = pairs(i & 1023); acc += VamanaKernel.l2sq(a, b); i += 1 }
    })
    sink(0) += acc

    val pruneUs = {
      val nodes = Array.fill(600)(rng.nextInt(idx.size))
      val pools = nodes.map(p => VamanaKernel.greedySearch(
        idx.points, idx.graph, idx.medoid, idx.points(p), params.beamWidth))
      val times = nodes.indices.map { i =>
        val (cIds, cDists) = pools(i)
        secs(sink(0) += VamanaKernel.robustPrune(idx.points, nodes(i), cIds, cDists,
          params.alpha, params.maxDegree, params.paperPrune).length) * 1e6
      }
      Stats.median(times.drop(100))
    }

    val base = idx.ids.max + 1
    val newIds = Array.tabulate(Updates)(i => base + i)
    val insertS = tracer("kernel.insert")(secs(VamanaKernel.insert(idx, newIds, fresh.take(Updates))))
    val victims = rng.shuffle(idx.ids.toSeq).take(Updates).toArray
    val deleteS = tracer("kernel.delete")(secs(VamanaKernel.delete(idx, victims)))

    Seq(
      ("kernel.build_s", parS, "s"),
      ("kernel.build_speedup", seqS / parS, "ratio"),
      ("kernel.search_us", Stats.median(perQueryUs), "us"),
      ("kernel.search_comps", comps, "count"),
      ("kernel.search_hops", hops, "count"),
      ("kernel.l2sq_ns", l2s * 1e9 / calls, "ns"),
      ("kernel.prune_us", pruneUs, "us"),
      ("kernel.insert_us", insertS * 1e6 / Updates, "us"),
      ("kernel.delete_us", deleteS * 1e6 / Updates, "us"),
      ("kernel.reachable_frac", reachableFrac(idx), "fraction"))
  }

  /** Share of nodes reachable from the medoid along out-edges. */
  def reachableFrac(idx: LocalIndex): Double = {
    val seen = new Array[Boolean](idx.size)
    val stack = new java.util.ArrayDeque[Integer]()
    seen(idx.medoid) = true
    stack.push(idx.medoid)
    var count = 1
    while (!stack.isEmpty) {
      val u: Int = stack.pop()
      idx.graph(u).foreach { v =>
        if (!seen(v)) { seen(v) = true; count += 1; stack.push(v) }
      }
    }
    count.toDouble / idx.size
  }
}
