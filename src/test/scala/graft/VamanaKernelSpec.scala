package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.vamana._

/** Pure-kernel tests: no SparkSession. Mirrors the reference's only
  * correctness gate — recall@k vs brute force (main.go:107-129) — plus the
  * unit/property coverage the reference never had (SURVEY.md §5). */
class VamanaKernelSpec extends AnyFunSuite {

  private def randPoints(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rng = new Random(seed)
    Array.fill(n)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
  }

  private def bruteKnn(points: Array[Array[Float]], q: Array[Float], k: Int): Array[Int] =
    points.indices.toArray.sortBy(i => (VamanaKernel.l2sq(points(i), q), i)).take(k)

  test("l2sq matches naive definition (100 random pairs, dims 1..64)") {
    val rng = new Random(1234)
    for (_ <- 1 to 100) {
      val dim = 1 + rng.nextInt(64)
      val a = Array.fill(dim)(rng.nextFloat() * 16 - 8)
      val b = Array.fill(dim)(rng.nextFloat() * 16 - 8)
      val expected = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val got = VamanaKernel.l2sq(a, b)
      assert(math.abs(got - expected) <= 1e-3f * math.max(1f, math.abs(expected)))
    }
  }

  test("robustPrune postconditions: <=R, keeps nearest, no self, no dups (both rules)") {
    val points = randPoints(64, 4, seed = 7)
    val rng = new Random(11)
    for (paper <- Seq(false, true); _ <- 1 to 50) {
      val p = rng.nextInt(points.length)
      val cands = Array.fill(20)(rng.nextInt(points.length))
      val dists = cands.map(c => VamanaKernel.l2sq(points(p), points(c)))
      val out = VamanaKernel.robustPrune(points, p, cands, dists, 1.2f, 8, paper)
      assert(out.length <= 8)
      assert(!out.contains(p))
      assert(out.distinct.length == out.length)
      val nonSelf = cands.zip(dists).filter(_._1 != p)
      if (nonSelf.nonEmpty) {
        val nearest = nonSelf.minBy { case (c, d) => (d, c) }._1
        assert(out.headOption.contains(nearest), "nearest candidate must always survive")
      } else assert(out.isEmpty)
    }
  }

  test("robustPruneVecs agrees with robustPrune on the same candidates") {
    val points = randPoints(40, 4, seed = 21)
    val rng = new Random(5)
    for (paper <- Seq(false, true); _ <- 1 to 30) {
      val p = rng.nextInt(points.length)
      val cands = Array.fill(15)(rng.nextInt(points.length)).filter(_ != p)
      val dists = cands.map(c => VamanaKernel.l2sq(points(p), points(c)))
      val viaInternal = VamanaKernel.robustPrune(points, p, cands, dists, 1.2f, 6, paper).map(_.toLong)
      val viaVecs = VamanaKernel.robustPruneVecs(
        points(p), cands.map(_.toLong), cands.map(points(_)), 1.2f, 6, paper)
      assert(viaInternal.toSeq == viaVecs.toSeq)
    }
  }

  test("greedySearch on a hand-built 2-D chain reaches the nearest node") {
    // points on a line; graph is a chain 0-1-2-...-9, start from 0
    val points = (0 until 10).map(i => Array(i.toFloat, 0f)).toArray
    val graph = points.indices.map { i =>
      Seq(i - 1, i + 1).filter(j => j >= 0 && j < 10).toArray
    }.toArray
    val (poolIds, poolDists) = VamanaKernel.greedySearch(points, graph, 0, Array(7.2f, 0f), beamL = 3)
    val best = poolIds.zip(poolDists).minBy(_._2)._1
    assert(best == 7, s"expected node 7, got pool ${poolIds.toSeq}")
  }

  test("build: degree invariant, determinism, recall@10 >= 0.9 (n=300, dim=8)") {
    val points = randPoints(300, 8, seed = 42)
    val ids = Array.tabulate(300)(_.toLong)
    val params = VamanaParams(dim = 8, maxDegree = 16, beamWidth = 32, alpha = 1.2f, efSearch = 64, seed = 1L)
    val index = VamanaKernel.build(ids, points, params)
    assert(VamanaKernel.healthCheck(index), "all out-degrees must be <= R")

    val index2 = VamanaKernel.build(ids, points, params)
    assert(index.graph.map(_.toSeq).toSeq == index2.graph.map(_.toSeq).toSeq, "seeded build must be deterministic")

    val rng = new Random(99)
    val queries = Array.fill(50)(Array.fill(8)(rng.nextFloat() * 2 - 1))
    val recalls = queries.map { q =>
      val truth = bruteKnn(points, q, 10).map(_.toLong).toSet
      val got = VamanaKernel.search(index, q, 10).map(_._1).toSet
      (got intersect truth).size / 10.0
    }
    val avg = recalls.sum / recalls.length
    assert(avg >= 0.9, s"avg recall $avg below 0.9")
  }

  test("buildParallel: identical output for any thread count, recall gate holds") {
    val points = randPoints(400, 8, seed = 17)
    val ids = Array.tabulate(400)(_.toLong)
    val params = VamanaParams(dim = 8, maxDegree = 16, beamWidth = 32, alpha = 1.2f, efSearch = 64, seed = 5L)
    val g8 = VamanaKernel.buildParallel(ids, points, params, 8)
    val others = Seq(1, 2).map(t => s"parallelism $t" -> VamanaKernel.buildParallel(ids, points, params, t)) :+
      ("build" -> VamanaKernel.build(ids, points, params))
    for ((name, g) <- others) {
      assert(g.medoid == g8.medoid && g.graph.map(_.toSeq).toSeq == g8.graph.map(_.toSeq).toSeq,
        s"$name: batch-synchronous build must not depend on thread count")
    }
    assert(VamanaKernel.healthCheck(g8))
    val rng = new Random(23)
    val queries = Array.fill(40)(Array.fill(8)(rng.nextFloat() * 2 - 1))
    val avg = queries.map { q =>
      val truth = bruteKnn(points, q, 10).map(_.toLong).toSet
      (VamanaKernel.search(g8, q, 10).map(_._1).toSet intersect truth).size / 10.0
    }.sum / queries.length
    assert(avg >= 0.9, s"parallel-build recall $avg")
  }

  test("buildParallel rejects bad input before any work starts") {
    val params = VamanaParams(dim = 8, maxDegree = 8, beamWidth = 16, efSearch = 16)
    val points = randPoints(200, 8, seed = 3)
    val ids = Array.tabulate(200)(_.toLong)
    val ragged = points.clone()
    ragged(150) = Array.fill(5)(0.5f)
    val bad = Seq(
      "zero points" -> (Array.empty[Long], Array.empty[Array[Float]]),
      "too few ids" -> (ids.take(199), points),
      "too many ids" -> (ids :+ 200L, points),
      "ragged point" -> (ids, ragged),
      "wrong dim everywhere" -> (ids, randPoints(200, 4, seed = 3)))
    for ((name, (i, p)) <- bad) {
      val builds = VamanaKernel.buildCount.get()
      intercept[IllegalArgumentException](VamanaKernel.buildParallel(i, p, params, 2))
      assert(VamanaKernel.buildCount.get() == builds, s"$name: a rejected build must not start")
    }
  }

  test("paper-rule prune on clustered data: recall@10 >= 0.9 (2k points, 16 clusters, dim 16)") {
    val rng = new Random(31)
    val dim = 16
    val centres = Array.fill(16)(Array.fill(dim)(rng.nextFloat() * 2 - 1))
    def sample(): Array[Float] = {
      val c = centres(rng.nextInt(centres.length))
      Array.tabulate(dim)(j => c(j) + 0.1f * rng.nextGaussian().toFloat)
    }
    val points = Array.fill(2000)(sample())
    val ids = Array.tabulate(points.length)(_.toLong)
    val params = VamanaParams(dim = dim, maxDegree = 16, beamWidth = 32, alpha = 1.2f,
      efSearch = 32, seed = 9L, paperPrune = true)
    val index = VamanaKernel.buildParallel(ids, points, params, 4)
    assert(VamanaKernel.healthCheck(index))
    val queries = Array.fill(100)(sample())
    val avg = queries.map { q =>
      val truth = bruteKnn(points, q, 10).map(_.toLong).toSet
      (VamanaKernel.search(index, q, 10).map(_._1).toSet intersect truth).size / 10.0
    }.sum / queries.length
    assert(avg >= 0.9, s"paper-prune recall on clustered data $avg")
  }

  test("paper-rule prune (DiskANN iterative) also clears the recall gate") {
    val points = randPoints(300, 8, seed = 42)
    val ids = Array.tabulate(300)(_.toLong)
    val params = VamanaParams(dim = 8, maxDegree = 16, beamWidth = 32, alpha = 1.2f,
      efSearch = 64, seed = 1L, paperPrune = true)
    val index = VamanaKernel.build(ids, points, params)
    assert(VamanaKernel.healthCheck(index))
    val rng = new Random(7)
    val queries = Array.fill(30)(Array.fill(8)(rng.nextFloat() * 2 - 1))
    val avg = queries.map { q =>
      val truth = bruteKnn(points, q, 10).map(_.toLong).toSet
      (VamanaKernel.search(index, q, 10).map(_._1).toSet intersect truth).size / 10.0
    }.sum / queries.length
    assert(avg >= 0.85, s"paper-prune recall $avg")
  }

  test("insert invariants over 20 random configurations: degrees, self-NN, recall, immutability") {
    val rng = new Random(7)
    for (trial <- 1 to 20) {
      val dim = 2 + rng.nextInt(8)
      val n0 = 30 + rng.nextInt(120)
      val nIns = 1 + rng.nextInt(30)
      val params = VamanaParams(dim = dim, maxDegree = 12, beamWidth = 24,
        alpha = 1.2f, efSearch = 48, seed = trial.toLong)
      val all = randPoints(n0 + nIns, dim, seed = trial * 31L)
      val base = VamanaKernel.build(Array.tabulate(n0)(_.toLong), all.take(n0), params)
      val baseGraph = base.graph.map(_.toSeq).toSeq
      val ins = VamanaKernel.insert(base,
        Array.tabulate(nIns)(i => (n0 + i).toLong), all.drop(n0))
      assert(ins.size == n0 + nIns)
      assert(VamanaKernel.healthCheck(ins), s"trial $trial: degree > R after insert")
      assert(base.graph.map(_.toSeq).toSeq == baseGraph,
        s"trial $trial: insert mutated the source graph")
      // every inserted point finds itself at rank 1
      for (i <- n0 until n0 + nIns) {
        val top = VamanaKernel.search(ins, all(i), 1)
        assert(top.head._1 == i.toLong && top.head._2 == 0f,
          s"trial $trial: inserted $i not its own NN (got ${top.head})")
      }
      // recall over the grown corpus stays sane
      val q = randPoints(10, dim, seed = trial * 97L)
      val recall = q.map { v =>
        val truth = all.indices.sortBy(j => (VamanaKernel.l2sq(all(j), v), j)).take(5)
          .map(_.toLong).toSet
        (VamanaKernel.search(ins, v, 5).map(_._1).toSet intersect truth).size / 5.0
      }.sum / q.length
      assert(recall >= 0.7, s"trial $trial: post-insert recall $recall")
    }
  }

  test("merge invariants over 15 random configurations: full-beam exactness, degrees, immutability, swap") {
    val rng = new Random(13)
    for (trial <- 1 to 15) {
      val dim = 2 + rng.nextInt(8)
      val nA = 40 + rng.nextInt(100)
      val nB = 10 + rng.nextInt(nA - 10) // strictly smaller side (swap stays observable)
      val params = VamanaParams(dim = dim, maxDegree = 12, beamWidth = 24,
        alpha = 1.2f, efSearch = 48, seed = trial.toLong)
      val all = randPoints(nA + nB, dim, seed = trial * 53L)
      val a = VamanaKernel.build(Array.tabulate(nA)(_.toLong), all.take(nA), params)
      val b = VamanaKernel.build(Array.tabulate(nB)(i => (nA + i).toLong), all.drop(nA), params)
      val aGraph = a.graph.map(_.toSeq).toSeq
      val bGraph = b.graph.map(_.toSeq).toSeq
      val m = VamanaKernel.merge(a, b)
      assert(m.size == nA + nB)
      assert(VamanaKernel.healthCheck(m), s"trial $trial: degree > R after merge")
      assert(a.graph.map(_.toSeq).toSeq == aGraph && b.graph.map(_.toSeq).toSeq == bGraph,
        s"trial $trial: merge mutated a source graph")
      // full beam = exact kNN over the UNION (the connected-graph theorem)
      val full = new LocalIndex(m.ids, m.points, m.graph, m.medoid,
        params.copy(efSearch = m.size))
      val q = randPoints(8, dim, seed = trial * 101L)
      for (v <- q) {
        val truth = all.indices.sortBy(j => (VamanaKernel.l2sq(all(j), v), j)).take(5)
          .map(_.toLong).toSet
        val got = VamanaKernel.search(full, v, 5).map(_._1).toSet
        assert(got == truth, s"trial $trial: full-beam merge not exact ($got vs $truth)")
      }
      // symmetric entry: passing the larger side second swaps internally
      val m2 = VamanaKernel.merge(b, a)
      assert(m2.ids.toSeq == m.ids.toSeq, s"trial $trial: merge(b, a) did not swap to merge(a, b)")
      // duplicate ids must be rejected
      intercept[IllegalArgumentException] { VamanaKernel.merge(a, a) }
    }
  }

  test("delete invariants over 20 random configurations: no ghosts, degrees, repair quality") {
    val rng = new Random(11)
    for (trial <- 1 to 20) {
      val dim = 2 + rng.nextInt(8)
      val n = 60 + rng.nextInt(140)
      val nDel = 1 + rng.nextInt(n / 3)
      val params = VamanaParams(dim = dim, maxDegree = 12, beamWidth = 24,
        alpha = 1.2f, efSearch = 48, seed = trial.toLong)
      val pts = randPoints(n, dim, seed = trial * 131L)
      val base = VamanaKernel.build(Array.tabulate(n)(_.toLong), pts, params)
      val delIds = rng.shuffle((0 until n).toList).take(nDel).map(_.toLong).toArray
      val delSet = delIds.toSet
      val del = VamanaKernel.delete(base, delIds)
      assert(del.size == n - nDel)
      assert(VamanaKernel.healthCheck(del), s"trial $trial: degree > R after delete")
      assert(del.ids.toSet == (0L until n).toSet -- delSet, s"trial $trial: wrong survivors")
      assert(del.graph.forall(_.forall(p => p >= 0 && p < del.size)),
        s"trial $trial: dangling internal edge after compaction")
      // searches never surface a deleted id, and recall over survivors holds
      val q = randPoints(10, dim, seed = trial * 173L)
      val keepIdx = (0 until n).filterNot(i => delSet.contains(i.toLong))
      val recall = q.map { v =>
        val got = VamanaKernel.search(del, v, 5).map(_._1)
        assert(got.forall(!delSet.contains(_)), s"trial $trial: ghost result")
        val truth = keepIdx.sortBy(j => (VamanaKernel.l2sq(pts(j), v), j)).take(5)
          .map(_.toLong).toSet
        (got.toSet intersect truth).size / 5.0
      }.sum / q.length
      assert(recall >= 0.7, s"trial $trial: post-delete recall $recall")
    }
  }

  test("search clamps k to n and returns ascending (dist, id)") {
    val points = randPoints(20, 4, seed = 3)
    val ids = Array.tabulate(20)(i => (i * 10).toLong)
    val index = VamanaKernel.build(ids, points, VamanaParams(dim = 4, maxDegree = 8, beamWidth = 16, efSearch = 32))
    val res = VamanaKernel.search(index, points(0), k = 50)
    assert(res.length == 20)
    assert(res.sliding(2).forall { case Array((i1, d1), (i2, d2)) => d1 < d2 || (d1 == d2 && i1 < i2) })
    assert(res.head._1 == 0L, "query == stored point 0 must return external id 0 first")
  }

  test("searchWithStartPoint resolves the start vector to the nearest stored point") {
    val points = randPoints(100, 4, seed = 13)
    val ids = Array.tabulate(100)(_.toLong)
    val index = VamanaKernel.build(ids, points, VamanaParams(dim = 4, maxDegree = 8, beamWidth = 16, efSearch = 32))
    val q = points(17)
    val viaStart = VamanaKernel.searchWithStartPoint(index, points(55), q, 5)
    assert(viaStart.head._1 == 17L)
  }

  test("rangeSearch: high recall vs brute force at a SMALL starting beam, ordered (dist, id)") {
    val points = randPoints(400, 8, seed = 57)
    val ids = Array.tabulate(400)(i => (i * 3).toLong)
    // efSearch = 8 forces the escalation loop to do real work: the first
    // beam cannot hold the ~tens-of-points balls this radius produces.
    val index = VamanaKernel.build(ids, points,
      VamanaParams(dim = 8, maxDegree = 16, beamWidth = 32, alpha = 1.2f, efSearch = 8, seed = 3L))
    val rng = new Random(101)
    val radiusSq = 1.4f
    var hits = 0L
    var truthTotal = 0L
    for (_ <- 1 to 30) {
      val q = Array.fill(8)(rng.nextFloat() * 2 - 1)
      val truth = points.indices.filter(i => VamanaKernel.l2sq(points(i), q) <= radiusSq)
        .map(i => ids(i)).toSet
      val got = VamanaKernel.rangeSearch(index, q, radiusSq)
      assert(got.sliding(2).forall {
        case Array((i1, d1), (i2, d2)) => d1 < d2 || (d1 == d2 && i1 < i2); case _ => true
      }, "range result must ascend by (dist, id)")
      assert(got.forall(_._2 <= radiusSq), "no result may exceed the radius")
      assert(got.map(_._1).toSet.subsetOf(ids.toSet))
      hits += got.map(_._1).toSet.intersect(truth).size
      truthTotal += truth.size
    }
    assert(truthTotal > 100, s"fixture must plant real balls (got $truthTotal)")
    val recall = hits.toDouble / truthTotal
    assert(recall >= 0.95, s"escalating-beam range recall $recall < 0.95")
  }

  test("rangeSearch at full beam returns EXACTLY the true range set") {
    val points = randPoints(300, 8, seed = 77)
    val ids = Array.tabulate(300)(_.toLong)
    val index = VamanaKernel.build(ids, points,
      VamanaParams(dim = 8, maxDegree = 16, beamWidth = 32, alpha = 1.2f, efSearch = 300, seed = 5L))
    val rng = new Random(202)
    for (_ <- 1 to 20) {
      val q = Array.fill(8)(rng.nextFloat() * 2 - 1)
      val truth = points.indices.filter(i => VamanaKernel.l2sq(points(i), q) <= 1.2f)
        .map(_.toLong).toSet
      val got = VamanaKernel.rangeSearch(index, q, 1.2f).map(_._1).toSet
      assert(got == truth, s"full-beam range must be exact: got ${got.size} vs ${truth.size}")
    }
  }
}
