package graft

import scala.util.Random

import graft.vamana._

/** Reproduction of the reference's own e2e benchmark (main.cpp:33-168):
  * n random uniform [-1,1]^dim points, build, save/load-free in-memory
  * search of 100 queries, recall@10 vs brute force, build time and average
  * search latency. Defaults match the published config (readme.md:56-68:
  * dim=128, n=10,000, R=128→here 64 by default for JVM build time, L=100,
  * alpha=1.2, ef=400, k=10; pass args to override).
  *
  * Usage: runMain graft.RecallBench [n] [dim] [R] [L] [ef] [parallelism]
  * Prints one JSON line; results recorded in BASELINE_REPRO.md.
  * No SparkSession — this measures the in-process kernel build (the
  * batch-synchronous build, on `parallelism` threads) and its search,
  * which is what a single reference process is.
  */
object RecallBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10000)
    val dim = args.lift(1).map(_.toInt).getOrElse(128)
    val r = args.lift(2).map(_.toInt).getOrElse(64)
    val l = args.lift(3).map(_.toInt).getOrElse(100)
    val ef = args.lift(4).map(_.toInt).getOrElse(400)
    val parallelism = args.lift(5).map(_.toInt).getOrElse(1)
    val k = 10
    val nQueries = 100

    val rng = new Random(12345)
    def vec(): Array[Float] = Array.fill(dim)(rng.nextFloat() * 2 - 1)
    val points = Array.fill(n)(vec())
    val ids = Array.tabulate(n)(_.toLong)
    val queries = Array.fill(nQueries)(vec())

    val params = VamanaParams(dim = dim, maxDegree = r, beamWidth = l, alpha = 1.2f, efSearch = ef)
    val t0 = System.nanoTime()
    val index = VamanaKernel.buildParallel(ids, points, params, parallelism)
    val buildSec = (System.nanoTime() - t0) / 1e9

    // ground truth: brute force (main.cpp:104-118)
    val truths = queries.map { q =>
      points.indices.sortBy(i => (VamanaKernel.l2sq(points(i), q), i)).take(k).map(_.toLong).toSet
    }
    // warm-up then timed search (main.cpp:121-128)
    queries.take(10).foreach(VamanaKernel.search(index, _, k))
    val t1 = System.nanoTime()
    val results = queries.map(VamanaKernel.search(index, _, k))
    val searchSec = (System.nanoTime() - t1) / 1e9
    val recall = results.zip(truths).map { case (res, truth) =>
      (res.map(_._1).toSet intersect truth).size.toDouble / k
    }.sum / nQueries

    println(
      s"""{"n":$n,"dim":$dim,"R":$r,"L":$l,"ef":$ef,"k":$k,"par":$parallelism,"queries":$nQueries,""" +
      s""""recall_at_10":${math.rint(recall * 1e4) / 1e4},""" +
      s""""build_sec":${math.rint(buildSec * 100) / 100},""" +
      s""""avg_search_ms":${math.rint(searchSec / nQueries * 1e5) / 100}}""")
  }
}
