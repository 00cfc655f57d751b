package graft.vamana

import scala.collection.mutable
import scala.util.Random

/** Build/search parameters — the reference's constructor params
  * (vamana.h:19-25): R = max out-degree, L = build/search beam width,
  * alpha = prune slack, efSearch = result-pool bound at query time.
  * Unlike the reference we carry an explicit seed: its build is
  * nondeterministic (std::random_device, vamana.h:121), which makes results
  * untestable; we diverge deliberately (SURVEY.md §5.4).
  */
final case class VamanaParams(
    dim: Int,
    maxDegree: Int = 32,
    beamWidth: Int = 64,
    alpha: Float = 1.2f,
    efSearch: Int = 128,
    seed: Long = 42L,
    paperPrune: Boolean = false,
    metric: String = "l2") {
  require(dim > 0, "dim must be positive")
  require(maxDegree > 0 && beamWidth > 0 && efSearch > 0, "R/L/ef must be positive")
  require(alpha >= 1.0f, "alpha must be >= 1")
  // "ip" is the reference's unimplemented TODO (readme.md:76); both non-L2
  // metrics are served by reduction to L2 (MetricReduction), so the graph
  // kernel itself stays squared-Euclidean like the reference.
  require(Set("l2", "cos", "ip").contains(metric), s"unsupported metric: $metric")
}

/** Metric→L2 reductions: the graph kernel only ever sees squared L2.
  *  - cos: normalize all vectors; L2² on the unit sphere = 2−2·cos, a
  *    monotone transform of cosine similarity.
  *  - ip (MIPS): augment index vectors to [x, sqrt(M²−‖x‖²)] with M = max
  *    corpus norm, queries to [q, 0]; nearest-L2 order on the augmented
  *    space equals largest-inner-product order (Bachrach et al. 2014).
  */
object MetricReduction {

  def normOf(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    math.sqrt(s)
  }

  def normalize(v: Array[Float]): Array[Float] = {
    val n = normOf(v)
    if (n == 0.0) v.clone() else v.map(x => (x / n).toFloat)
  }

  def augmentIndexVec(v: Array[Float], maxNorm: Double): Array[Float] = {
    val n = normOf(v)
    val extra = math.sqrt(math.max(0.0, maxNorm * maxNorm - n * n))
    v :+ extra.toFloat
  }

  def augmentQueryVec(q: Array[Float]): Array[Float] = q :+ 0.0f

  /** Transform corpus vectors for the given metric; returns (vectors ready
    * for the L2 kernel, kernel dim, max corpus norm for ip). */
  def prepareIndex(vecs: Array[Array[Float]], metric: String, dim: Int): (Array[Array[Float]], Int, Double) =
    metric match {
      case "l2" => (vecs, dim, 0.0)
      case "cos" => (vecs.map(normalize), dim, 0.0)
      case "ip" =>
        val m = if (vecs.isEmpty) 0.0 else vecs.map(normOf).max
        (vecs.map(augmentIndexVec(_, m)), dim + 1, m)
    }

  def prepareQuery(q: Array[Float], metric: String): Array[Float] = metric match {
    case "l2" => q
    case "cos" => normalize(q)
    case "ip" => augmentQueryVec(q)
  }
}

/** An in-memory Vamana graph over a point set — the serving-side twin of the
  * reference's index state (points_/ids_/graph_/medoid_, vamana.h:26-38).
  * Node identity is positional (internal id = array index); `ids` remaps to
  * caller-assigned external ids exactly like vamana.h:542.
  */
final class LocalIndex(
    val ids: Array[Long],
    val points: Array[Array[Float]],
    val graph: Array[Array[Int]],
    val medoid: Int,
    val params: VamanaParams) extends Serializable {
  def size: Int = points.length

  /** The same graph with beam = size: full-beam greedy search expands every
    * node reachable from the medoid, so on a connected graph it returns the
    * exact top-k (the regime of the hash-checked exactness gates). */
  def withFullBeam: LocalIndex = new LocalIndex(ids, points, graph, medoid, params.copy(efSearch = size))
}

/** The Vamana kernel: plain Scala, no Spark dependency, heavily
  * unit-tested. One beam walk, one top-k step, one prune rule and one
  * back-edge step serve every build, update and search entry point; their
  * bookkeeping (visited marks, beam, pool, heap, sort keys) lives in
  * primitive arrays reused per thread, so a search allocates little more
  * than its answer. The distributed build ([[VamanaIndexer]]) runs it per
  * shard inside `mapPartitions`; a broadcast [[VamanaModel]] ships its
  * [[LocalIndex]] once and runs [[search]] per query against it.
  *
  * Algorithm follows the reference semantics (SURVEY.md §2a G1-G4, Q1):
  * random R-regular init graph, two passes (alpha=1 then alpha=user) of
  * greedy-search → robust-prune → bidirectional edge insertion. Differences
  * (all deliberate, documented in SURVEY.md Appendix A): seeded RNG;
  * batch-synchronous passes (each 64-node batch searches the graph as of
  * the batch start, so the graph does not depend on thread count); medoid
  * via centroid-nearest (O(n·dim)) instead of the O(n²·dim) exact scan; no
  * O(n²) adjacency bit-matrix in init; the robustPrune empty-candidate bug
  * (vamana.h:742 pushes -1) is not replicated.
  */
object VamanaKernel {

  /** Squared L2, float accumulate — mirrors ComputeDistance (vamana.h:694-702). */
  def l2sq(a: Array[Float], b: Array[Float]): Float = {
    var s = 0.0f
    var i = 0
    val n = a.length
    while (i < n) {
      val d = a(i) - b(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Nearest point to the per-dimension centroid — scalable medoid stand-in
    * for FindMedoid (vamana.h:656-692). */
  def centroidMedoid(points: Array[Array[Float]]): Int = {
    val n = points.length
    require(n > 0, "empty point set")
    val dim = points(0).length
    val c = new Array[Float](dim)
    var i = 0
    while (i < n) {
      val p = points(i)
      var j = 0
      while (j < dim) { c(j) += p(j); j += 1 }
      i += 1
    }
    var j = 0
    while (j < dim) { c(j) /= n; j += 1 }
    var best = 0
    var bestD = Float.MaxValue
    i = 0
    while (i < n) {
      val d = l2sq(points(i), c)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Random init graph: up to R distinct random out-neighbors per node
    * (G1, vamana.h:335-387 — minus the O(n²) bit matrix and in-degree cap,
    * which are init heuristics immediately destroyed by pruning). */
  def initGraph(n: Int, r: Int, rng: Random): Array[Array[Int]] = {
    val g = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val deg = math.min(r, n - 1)
      val set = new mutable.HashSet[Int]
      while (set.size < deg) {
        val t = rng.nextInt(n)
        if (t != i) set += t
      }
      g(i) = set.toArray
      i += 1
    }
    g
  }

  /** Greedy beam search (G2, vamana.h:559-629): expand the nearest unvisited
    * beam entry, add its neighbors, truncate the beam to `beamL`. Returns the
    * visited candidate pool as parallel (ids, dists) arrays, unsorted.
    */
  def greedySearch(
      points: Array[Array[Float]],
      graph: Array[Array[Int]],
      start: Int,
      query: Array[Float],
      beamL: Int): (Array[Int], Array[Float]) = {
    val (ids, dists, _) = greedySearchCounted(points, graph, start, query, beamL)
    (ids, dists)
  }

  /** [[greedySearch]] + the number of distance computations (= unique nodes
    * scored), for the search-stats surface the reference stubs
    * (go_api:163-171). */
  def greedySearchCounted(
      points: Array[Array[Float]],
      graph: Array[Array[Int]],
      start: Int,
      query: Array[Float],
      beamL: Int): (Array[Int], Array[Float], Long) = {
    val s = scratch.get()
    walk(graph, start, beamL, node => l2sq(points(node), query), s)
    val (ids, dists) = s.poolCopy
    (ids, dists, s.comps)
  }

  /** [[greedySearch]] with a PLUGGABLE node score — the traversal
    * skeleton the DiskANN disk design needs: beam ordering and eviction run
    * on `score(node)` (e.g. an ADC lookup over PQ codes) while the caller
    * reranks the returned pool with exact distances afterwards. The
    * full-beam exactness theorem survives any scoring function: at
    * `beamL >= n` the traversal short-circuits to an exhaustive scan (same
    * O(n) scoring cost, no connectivity hypothesis), so the pool is the
    * WHOLE shard no matter how nodes are scored, and an EXACT rerank of
    * that pool is exact kNN — the invariant `vamana_pq_gate` hash-checks. */
  def greedySearchScored(
      score: Int => Float,
      graph: Array[Array[Int]],
      start: Int,
      beamL: Int): (Array[Int], Array[Float]) = {
    val s = scratch.get()
    walk(graph, start, beamL, score, s)
    s.poolCopy
  }

  /** Per-thread working memory of the walk, the top-k step and the prune,
    * reused from call to call so that a query allocates little more than
    * its answer. Arrays grow to the largest index the thread has walked and
    * serve smaller ones unchanged. The walk fills the beam and the pool,
    * the top-k step uses `heap`, the prune its own buffers and `setMarks`,
    * so a prune over the pool the walk just left reads it intact. */
  private[vamana] final class Scratch {
    /** Nodes the walk has scored. */
    val walkMarks = new Marks
    /** Dedup marks of the prune and of the candidate lists of delete and merge. */
    val setMarks = new Marks
    // the beam: slots ascending by (dist, node), `done` = expanded
    var beamIds = new Array[Int](0)
    var beamDists = new Array[Float](0)
    var beamDone = new Array[Boolean](0)
    var beamSize = 0
    /** Every beam slot below it is expanded. */
    var cursor = 0
    // the visited pool, in expansion order
    var poolIds = new Array[Int](256)
    var poolDists = new Array[Float](256)
    var poolLen = 0
    var comps = 0L
    var heap = new Array[Int](0)
    // prune buffers
    var keys = new Array[Long](0)
    var candIds = new Array[Int](0)
    var candDists = new Array[Float](0)
    var alive = new Array[Boolean](0)
    var out = new Array[Int](0)
    // candidate lists of delete and the back-edge step, with their distances
    var listIds = new Array[Int](0)
    var listDists = new Array[Float](0)
    var listLen = 0

    def startBeam(beamL: Int): Unit = {
      if (beamIds.length < beamL) {
        beamIds = new Array[Int](beamL); beamDists = new Array[Float](beamL); beamDone = new Array[Boolean](beamL)
      }
      beamSize = 0
      cursor = 0
    }

    /** Inserts (node, dist) in order unless the beam is full and it ranks
      * last; the slots it passes shift one right and the last falls off. */
    def beamInsert(node: Int, dist: Float, beamL: Int): Unit = {
      if (beamSize == beamL && dist >= beamDists(beamSize - 1)) return
      var lo = 0
      var hi = beamSize
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (beamDists(mid) < dist || (beamDists(mid) == dist && beamIds(mid) < node)) lo = mid + 1
        else hi = mid
      }
      val moved = math.min(beamSize, beamL - 1) - lo
      if (moved > 0) {
        System.arraycopy(beamIds, lo, beamIds, lo + 1, moved)
        System.arraycopy(beamDists, lo, beamDists, lo + 1, moved)
        System.arraycopy(beamDone, lo, beamDone, lo + 1, moved)
      }
      beamIds(lo) = node; beamDists(lo) = dist; beamDone(lo) = false
      if (beamSize < beamL) beamSize += 1
      if (lo < cursor) cursor = lo
    }

    def poolAdd(node: Int, dist: Float): Unit = {
      if (poolLen == poolIds.length) {
        poolIds = java.util.Arrays.copyOf(poolIds, poolLen * 2)
        poolDists = java.util.Arrays.copyOf(poolDists, poolLen * 2)
      }
      poolIds(poolLen) = node; poolDists(poolLen) = dist; poolLen += 1
    }

    def poolCopy: (Array[Int], Array[Float]) =
      (java.util.Arrays.copyOf(poolIds, poolLen), java.util.Arrays.copyOf(poolDists, poolLen))

    /** Empties the candidate list and makes room for `m` entries. */
    def startList(m: Int): Unit = {
      if (listIds.length < m) { listIds = new Array[Int](m); listDists = new Array[Float](m) }
      listLen = 0
    }

    def listAdd(node: Int, dist: Float): Unit = {
      if (listLen == listIds.length) {
        listIds = java.util.Arrays.copyOf(listIds, math.max(16, listLen * 2))
        listDists = java.util.Arrays.copyOf(listDists, listIds.length)
      }
      listIds(listLen) = node; listDists(listLen) = dist; listLen += 1
    }

    def heapOf(m: Int): Array[Int] = { if (heap.length < m) heap = new Array[Int](m); heap }

    def pruneBuffers(m: Int, r: Int): Unit = {
      if (keys.length < m) {
        keys = new Array[Long](m); candIds = new Array[Int](m)
        candDists = new Array[Float](m); alive = new Array[Boolean](m)
      }
      if (out.length < r) out = new Array[Int](r)
    }
  }

  /** A set of non-negative ints below a bound, cleared in O(1) (hnswlib's
    * visited list): `i` is in the set when `stamp(i) == epoch`, so [[reset]]
    * only bumps the epoch. When the epoch reaches Int.MaxValue the stamps
    * are zeroed once and it restarts at 1. */
  private[vamana] final class Marks {
    private var stamp = new Array[Int](0)
    private[vamana] var epoch = 0

    /** Empties the set for members below `n`. */
    def reset(n: Int): Unit = {
      if (stamp.length < n) stamp = new Array[Int](n)
      if (epoch == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); epoch = 0 }
      epoch += 1
    }

    /** Adds `i`; false when it was already in the set. */
    def add(i: Int): Boolean =
      if (stamp(i) == epoch) false else { stamp(i) = epoch; true }
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** This thread's scratch, for specs that drive its epochs. */
  private[vamana] def threadScratch: Scratch = scratch.get()

  /** The one beam walk behind every search, build and update step. Leaves
    * the visited pool (ids, scores) in expansion order in `s.poolIds` /
    * `s.poolDists` (`s.poolLen` long) and the number of nodes scored in
    * `s.comps`. `score` must not call back into the kernel on this thread. */
  private def walk(
      graph: Array[Array[Int]],
      start: Int,
      beamL: Int,
      score: Int => Float,
      s: Scratch): Unit = {
    val n = graph.length
    s.poolLen = 0
    // FULL-BEAM regime (beamL >= n): the beam can never evict, so graph
    // traversal would score every REACHABLE node at O(n) distance cost —
    // make it every node, period, at the same cost. This removes the
    // connectivity hypothesis from every full-beam exactness theorem:
    // duplicate-dense shards (e.g. a hot region of near-identical vectors
    // after a rebalance split) can build graphs whose degree-capped pruned
    // adjacency strands distant points, and the exactness gates must not
    // inherit that failure mode.
    if (beamL >= n) {
      // skip null slots: insert() searches mid-batch against a grown array
      // whose not-yet-filled tail is null (those slots are unreachable by
      // graph traversal too, so the regimes agree)
      var i = 0
      while (i < n) {
        if (graph(i) != null) s.poolAdd(i, score(i))
        i += 1
      }
      s.comps = s.poolLen
      return
    }
    val seen = s.walkMarks
    seen.reset(n)
    s.startBeam(beamL)
    seen.add(start)
    var comps = 1L
    s.beamInsert(start, score(start), beamL)
    val done = s.beamDone
    while ({
      while (s.cursor < s.beamSize && done(s.cursor)) s.cursor += 1
      s.cursor < s.beamSize
    }) {
      // nearest unvisited beam entry
      val idx = s.cursor
      done(idx) = true
      s.cursor = idx + 1
      val node = s.beamIds(idx)
      s.poolAdd(node, s.beamDists(idx))
      val nbrs = graph(node)
      var j = 0
      while (j < nbrs.length) {
        val nb = nbrs(j)
        if (nb >= 0 && nb < n && seen.add(nb)) {
          comps += 1
          s.beamInsert(nb, score(nb), beamL)
        }
        j += 1
      }
    }
    s.comps = comps
  }

  /** Robust prune (G3, vamana.h:722-760). Candidates are (internal id, dist
    * to p) for p itself excluded. Two rules:
    *  - reference (default): fix p* = nearest candidate once; keep c while
    *    `alpha·d(p*,c) >= d(p,c)`, cap R  (what produced the published 90.1%
    *    on uniform data). On clustered data it keeps the R nearest and drops
    *    the long edges greedy search needs to leave the medoid's cluster: on
    *    20k points in 32 Gaussian clusters (dim 64) recall@10 is 0.129,
    *    against 0.995 with the paper rule.
    *  - paper (paperPrune=true): DiskANN iterative re-selection — add the
    *    nearest remaining candidate, then drop every c with
    *    `alpha·d(added,c) <= d(p,c)`.
    */
  def robustPrune(
      points: Array[Array[Float]],
      p: Int,
      candIds: Array[Int],
      candDists: Array[Float],
      alpha: Float,
      r: Int,
      paperPrune: Boolean): Array[Int] =
    prune(points, p, candIds, candDists, candIds.length, alpha, r, paperPrune, scratch.get())

  /** [[robustPrune]] over the first `m` candidates. */
  private def prune(points: Array[Array[Float]], p: Int, candIds: Array[Int], candDists: Array[Float],
      m: Int, alpha: Float, r: Int, paperPrune: Boolean, s: Scratch): Array[Int] = {
    // sort by (dist, id): a long whose high half orders as
    // java.lang.Float.compare orders the dist and whose low half is the id
    s.pruneBuffers(m, math.max(r, 1))
    val keys = s.keys
    var i = 0
    while (i < m) {
      keys(i) = (orderBits(java.lang.Float.floatToIntBits(candDists(i))).toLong << 32) |
        (candIds(i) & 0xffffffffL)
      i += 1
    }
    java.util.Arrays.sort(keys, 0, m)
    // dedup (first = nearest copy) + drop self
    val seen = s.setMarks
    seen.reset(points.length)
    val ids = s.candIds
    val dists = s.candDists
    var cnt = 0
    i = 0
    while (i < m) {
      val c = keys(i).toInt
      if (c != p && seen.add(c)) {
        ids(cnt) = c
        dists(cnt) = java.lang.Float.intBitsToFloat(orderBits((keys(i) >> 32).toInt))
        cnt += 1
      }
      i += 1
    }
    if (cnt == 0) return Array.emptyIntArray
    val out = s.out
    var len = 0
    if (!paperPrune) {
      val pStar = ids(0)
      out(0) = pStar
      len = 1
      val pStarVec = points(pStar)
      i = 1
      while (i < cnt && len < r) {
        val c = ids(i)
        if (alpha * l2sq(pStarVec, points(c)) >= dists(i)) { out(len) = c; len += 1 }
        i += 1
      }
    } else {
      val alive = s.alive
      java.util.Arrays.fill(alive, 0, cnt, true)
      i = 0
      while (i < cnt && len < r) {
        if (alive(i)) {
          val added = ids(i)
          out(len) = added
          len += 1
          val addedVec = points(added)
          var j = i + 1
          while (j < cnt) {
            if (alive(j) && alpha * l2sq(addedVec, points(ids(j))) <= dists(j)) alive(j) = false
            j += 1
          }
        }
        i += 1
      }
    }
    java.util.Arrays.copyOf(out, len)
  }

  /** Maps a float's `floatToIntBits` to an int that orders as
    * java.lang.Float.compare orders the floats (-0.0 below 0.0, NaN above
    * +Inf), and back: the map is its own inverse. */
  private def orderBits(b: Int): Int = b ^ ((b >> 31) & 0x7fffffff)

  /** [[robustPrune]] over external-id candidates with inline vectors — used
    * by the distributed merge step, where the full point array isn't in
    * scope (candidates arrive via a join). p takes position 0 and the
    * unique candidate ids positions 1..m in ascending id order, so
    * robustPrune's (dist, position) tie-break is (dist, external id). */
  def robustPruneVecs(
      pVec: Array[Float],
      candIds: Array[Long],
      candVecs: Array[Array[Float]],
      alpha: Float,
      r: Int,
      paperPrune: Boolean): Array[Long] = {
    val vecOf = candIds.indices.reverseIterator.map(i => candIds(i) -> candVecs(i)).toMap
    val uniq = vecOf.keys.toArray.sorted
    val points = pVec +: uniq.map(vecOf)
    val positions = Array.tabulate(uniq.length)(_ + 1)
    robustPrune(points, 0, positions, positions.map(c => l2sq(pVec, points(c))), alpha, r, paperPrune)
      .map(c => uniq(c - 1))
  }

  /** Batch size of [[buildParallel]] — FIXED so the graph is identical for
    * any thread count (searches in a batch see the graph as of batch start;
    * updates apply serially in permutation order). */
  private val BuildBatch = 64

  /** Graph builds started in this JVM — serving-path specs assert that a
    * second search against a fitted model adds ZERO builds (meaningful in
    * local mode, where executors share the JVM). */
  val buildCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** [[buildParallel]] at parallelism 1, on the caller's thread. */
  def build(ids: Array[Long], points: Array[Array[Float]], params: VamanaParams): LocalIndex =
    buildParallel(ids, points, params, 1)

  /** Full build (G4, vamana.h:221-332): init graph → medoid → seeded
    * permutation → two passes (alpha = 1, then the user's alpha) of greedy
    * search → robust prune → back-edges. Batch-synchronous, the race-free
    * twin of the reference's OpenMP build (whose greedySearch reads the
    * graph concurrently with writes under `omp critical`; SURVEY.md A.4):
    * each batch's searches and prunes run against the graph as of batch
    * start — on `parallelism` pool threads, or on the caller's thread at
    * parallelism 1 — then out-lists and back-edges apply serially in
    * permutation order. The graph is identical for ANY `parallelism`
    * (asserted in specs). Inputs are checked before any work starts. */
  def buildParallel(ids: Array[Long], points: Array[Array[Float]], params: VamanaParams,
      parallelism: Int): LocalIndex = {
    val n = points.length
    require(n > 0, "cannot build an index over zero points")
    require(ids.length == n, s"ids/points length mismatch: ${ids.length} ids, $n points")
    require(points.forall(v => v != null && v.length == params.dim), s"all points must have dim=${params.dim}")
    buildCount.incrementAndGet()
    val rng = new Random(params.seed)
    val graph = initGraph(n, params.maxDegree, rng)
    val medoid = centroidMedoid(points)
    val pool =
      if (parallelism > 1) Some(java.util.concurrent.Executors.newFixedThreadPool(parallelism)) else None
    try {
      def pass(alpha: Float): Unit = {
        def outList(node: Int): Array[Int] = {
          val s = scratch.get()
          val q = points(node)
          walk(graph, medoid, params.beamWidth, c => l2sq(points(c), q), s)
          prune(points, node, s.poolIds, s.poolDists, s.poolLen, alpha, params.maxDegree, params.paperPrune, s)
        }
        rng.shuffle((0 until n).toVector).grouped(BuildBatch).foreach { batch =>
          // BARRIER: all searches finish against the snapshot before any
          // write lands (otherwise later searches would read a mutating
          // graph — the reference's race, reintroduced)
          val outLists = pool match {
            case None => batch.map(outList)
            case Some(ex) =>
              batch.map(node => ex.submit(new java.util.concurrent.Callable[Array[Int]] {
                override def call(): Array[Int] = outList(node)
              })).map(_.get())
          }
          // serial update in permutation order -> deterministic
          val s = scratch.get()
          batch.lazyZip(outLists).foreach { (node, out) =>
            graph(node) = out
            addBackEdges(points, graph, node, alpha, params, s)
          }
        }
      }
      pass(1.0f)
      pass(params.alpha)
    } finally pool.foreach(_.shutdown())
    new LocalIndex(ids, points, graph, medoid, params)
  }

  /** Bidirectional back-edges with overflow re-prune (vamana.h:270-288):
    * `node` joins the out-list of each of its out-neighbors, and a list
    * that grows past R is robust-pruned at `alpha`. Lists are replaced,
    * never mutated, so copy-on-write callers keep their source graph. */
  private def addBackEdges(points: Array[Array[Float]], graph: Array[Array[Int]], node: Int,
      alpha: Float, params: VamanaParams, s: Scratch): Unit = {
    val out = graph(node)
    var i = 0
    while (i < out.length) {
      val nb = out(i)
      val cur = graph(nb)
      if (!contains(cur, node)) {
        val cand = java.util.Arrays.copyOf(cur, cur.length + 1)
        cand(cur.length) = node
        graph(nb) =
          if (cand.length <= params.maxDegree) cand
          else {
            s.startList(cand.length)
            val nbVec = points(nb)
            var j = 0
            while (j < cand.length) { s.listDists(j) = l2sq(nbVec, points(cand(j))); j += 1 }
            prune(points, nb, cand, s.listDists, cand.length, alpha, params.maxDegree, params.paperPrune, s)
          }
      }
      i += 1
    }
  }

  private def contains(xs: Array[Int], x: Int): Boolean = {
    var i = 0
    while (i < xs.length && xs(i) != x) i += 1
    i < xs.length
  }

  /** FreshDiskANN-style incremental insert — ABSENT in the reference, which
    * can only rebuild from scratch (vamana.h has no add-point API): each new
    * point greedy-searches the current graph for its candidate pool
    * (vamana.h:559-629 semantics), robust-prunes it to an out-list at the
    * final alpha, then adds reverse edges, re-pruning any neighbor that
    * overflows R — exactly one build-pass step per new point, NO full
    * rebuild (buildCount unchanged; spec-gated).
    *
    * Returns a NEW index; the input index stays fully usable — top-level
    * arrays are copied and neighbor lists are replaced, never mutated.
    * The medoid is kept (it drifts only when inserts shift the centroid
    * materially — at that point refit, as FreshDiskANN's periodic
    * consolidation does). Ids must be new; vectors must be kernel-space
    * (callers route through the same metric transform as fit). */
  def insert(index: LocalIndex, newIds: Array[Long],
      newPoints: Array[Array[Float]]): LocalIndex = {
    require(newIds.length == newPoints.length, "ids/points length mismatch")
    val p = index.params
    require(newPoints.forall(_.length == p.dim), s"all points must have dim=${p.dim}")
    val n0 = index.size
    val n = n0 + newIds.length
    val points = java.util.Arrays.copyOf(index.points, n)
    val ids = java.util.Arrays.copyOf(index.ids, n)
    val graph = java.util.Arrays.copyOf(index.graph, n)
    val existing = LongSet.of(index.ids, newIds.length)
    val s = scratch.get()
    var i = 0
    while (i < newIds.length) {
      val pos = n0 + i
      require(existing.add(newIds(i)), s"id ${newIds(i)} already indexed")
      val q = newPoints(i)
      points(pos) = q
      ids(pos) = newIds(i)
      graph(pos) = Array.empty
      // pool from the CURRENT graph — later inserts see earlier ones
      walk(graph, index.medoid, math.max(p.beamWidth, p.efSearch), c => l2sq(points(c), q), s)
      graph(pos) = prune(points, pos, s.poolIds, s.poolDists, s.poolLen, p.alpha, p.maxDegree, p.paperPrune, s)
      addBackEdges(points, graph, pos, p.alpha, p, s)
      i += 1
    }
    new LocalIndex(ids, points, graph, index.medoid, p)
  }

  /** DiskANN-style index MERGE — two independently BUILT indexes become
    * one serving index with NO rebuild (the DiskANN paper's distributed
    * build merges per-cluster shard graphs; FreshDiskANN's background
    * merge is the long-running-maintenance form — daily builds folding
    * into the serving index). Also absent in the reference, which can
    * only rebuild from scratch.
    *
    * Id sets must be disjoint (the shard invariant). The larger side's
    * arrays and medoid are kept verbatim; each node of the smaller side
    * joins by one insert-style step whose robust-prune candidate pool is
    * seeded with BOTH a greedy-search pool over the current merged graph
    * (the cross-side edges) AND the node's own intra-side neighbor list
    * (the build work the smaller index already paid — a plain re-insert
    * loop discards it and re-derives strictly less local structure).
    * Kept neighbors gain back-edges with prune-on-overflow exactly as in
    * [[insert]]; later smaller-side nodes see earlier ones through the
    * growing graph, and a node whose turn comes AFTER back-edges have
    * already accumulated on it seeds its candidate pool with those
    * back-edges too (they are paid-for bidirectional structure — a plain
    * overwrite would discard them). buildCount unchanged (spec-gated);
    * copy-on-write — BOTH inputs keep serving. Symmetric: merge(a, b) ==
    * merge(b, a) up to array order, enforced by the internal swap —
    * PROVIDED both sides were fitted with identical params (the larger
    * side's params and medoid win, so differing params break symmetry). */
  def merge(a: LocalIndex, b: LocalIndex): LocalIndex = {
    if (b.size > a.size) return merge(b, a)
    val p = a.params
    require(b.params.dim == p.dim,
      s"dimension mismatch: ${p.dim} vs ${b.params.dim}")
    require(b.params.metric == p.metric,
      s"metric mismatch: ${p.metric} vs ${b.params.metric}")
    val n0 = a.size
    val n = n0 + b.size
    val points = java.util.Arrays.copyOf(a.points, n)
    val ids = java.util.Arrays.copyOf(a.ids, n)
    val graph = java.util.Arrays.copyOf(a.graph, n)
    val existing = LongSet.of(a.ids, b.size)
    var i = 0
    while (i < b.size) {
      require(existing.add(b.ids(i)), s"id ${b.ids(i)} is indexed on both sides")
      points(n0 + i) = b.points(i)
      ids(n0 + i) = b.ids(i)
      graph(n0 + i) = Array.empty
      i += 1
    }
    val s = scratch.get()
    i = 0
    while (i < b.size) {
      val pos = n0 + i
      val q = b.points(i)
      walk(graph, a.medoid, math.max(p.beamWidth, p.efSearch), c => l2sq(points(c), q), s)
      // union the intra-side neighbor list AND any back-edges earlier
      // smaller-side inserts already accumulated on this node (graph(pos));
      // overwriting would silently discard that bidirectional structure.
      // Each carried node not in the pool joins it once.
      val inPool = s.setMarks
      inPool.reset(n)
      var j = 0
      while (j < s.poolLen) { inPool.add(s.poolIds(j)); j += 1 }
      def carry(c: Int): Unit = if (c != pos && inPool.add(c)) s.poolAdd(c, l2sq(q, points(c)))
      b.graph(i).foreach(c => carry(c + n0))
      graph(pos).foreach(carry)
      graph(pos) = prune(points, pos, s.poolIds, s.poolDists, s.poolLen, p.alpha, p.maxDegree, p.paperPrune, s)
      addBackEdges(points, graph, pos, p.alpha, p, s)
      i += 1
    }
    new LocalIndex(ids, points, graph, a.medoid, p)
  }

  /** FreshDiskANN-style delete with eager consolidation — also absent in
    * the reference: every surviving in-neighbor of a deleted node is
    * repaired by re-pruning over (its own surviving neighbors) ∪ (the
    * deleted neighbors' surviving neighborhoods) — the FreshDiskANN delete
    * rule, which preserves graph navigability through the hole — then the
    * arrays compact (eager consolidation; batch deletes amortize it, which
    * is why the API takes a batch). The medoid is recomputed only if
    * deleted. Copy-on-write like [[insert]]: the source index keeps
    * serving. Unknown ids are ignored; deleting every point is an error. */
  def delete(index: LocalIndex, deleteIds: Array[Long]): LocalIndex = {
    val p = index.params
    val n = index.size
    val del = LongSet.of(deleteIds, 0)
    val gone = new Array[Boolean](n)
    var nGone = 0
    var i = 0
    while (i < n) {
      if (del.contains(index.ids(i))) { gone(i) = true; nGone += 1 }
      i += 1
    }
    if (nGone == 0) return index
    require(nGone < n, "cannot delete every point")
    // repair surviving nodes that point into the hole
    val s = scratch.get()
    val repaired = new Array[Array[Int]](n)
    i = 0
    while (i < n) {
      if (!gone(i)) {
        val nbrs = index.graph(i)
        if (nbrs.exists(nb => gone(nb))) {
          // distinct candidates: surviving neighbors, then the surviving
          // neighbors of deleted ones
          val inList = s.setMarks
          inList.reset(n)
          val pVec = index.points(i)
          s.startList(0)
          var j = 0
          while (j < nbrs.length) {
            val nb = nbrs(j)
            if (!gone(nb)) {
              if (inList.add(nb)) s.listAdd(nb, l2sq(pVec, index.points(nb)))
            } else {
              val second = index.graph(nb)
              var t = 0
              while (t < second.length) {
                val nn = second(t)
                if (!gone(nn) && nn != i && inList.add(nn)) s.listAdd(nn, l2sq(pVec, index.points(nn)))
                t += 1
              }
            }
            j += 1
          }
          repaired(i) = prune(index.points, i, s.listIds, s.listDists, s.listLen,
            p.alpha, p.maxDegree, p.paperPrune, s)
        } else repaired(i) = nbrs
      }
      i += 1
    }
    // compact + remap to new positions
    val newPos = new Array[Int](n)
    val keep = new Array[Int](n - nGone)
    var m = 0
    i = 0
    while (i < n) {
      if (gone(i)) newPos(i) = -1 else { newPos(i) = m; keep(m) = i; m += 1 }
      i += 1
    }
    val ids = keep.map(old => index.ids(old))
    val points = keep.map(old => index.points(old))
    val graph = keep.map(old => repaired(old).filter(nb => !gone(nb)).map(nb => newPos(nb)))
    val medoid =
      if (gone(index.medoid)) centroidMedoid(points)
      else newPos(index.medoid)
    new LocalIndex(ids, points, graph, medoid, p)
  }

  /** Top-k query (Q1, vamana.h:492-546): greedy search from the medoid with
    * beam width max(efSearch, k), then the k nearest of the visited pool.
    * Returns (externalId, squared distance) ascending by (dist, id). */
  def search(index: LocalIndex, query: Array[Float], k: Int): Array[(Long, Float)] =
    searchFrom(index, index.medoid, query, k, 0, AnyId)._1

  /** [[search]] + the M3 serving observables the reference STUBS at 0.0
    * (go_api:163-171 `GetSearchStats` returns `TODO: implement`): per
    * query, `hops` = nodes the beam EXPANDED (neighbor lists walked — the
    * latency driver on disk-resident graphs, one IO per hop in the
    * DiskANN layout) and `comps` = unique nodes SCORED (distance
    * computations — the CPU driver). Same traversal and top-k step as
    * [[search]], so the returned top-k is bit-identical to it.
    * `beamOverride` follows [[searchFiltered]]'s convention (0 = the
    * fitted efSearch); at beamL ≥ n the full-beam regime scores every node
    * exactly once, so comps = n — the theorem `vamana_stats` pins. */
  def searchCounted(index: LocalIndex, query: Array[Float], k: Int,
      beamOverride: Int = 0): (Array[(Long, Float)], Long, Long) =
    searchFrom(index, index.medoid, query, k, beamOverride, AnyId)

  /** Filtered Q1 — the filtered-DiskANN serving shape: the greedy
    * traversal walks the graph UNFILTERED (restricting the walk itself
    * would disconnect it at low selectivity), and the predicate applies
    * when ranking the visited pool, so only allowed external ids can
    * enter the result. `beamOverride` re-parameterizes the beam without a
    * refit; with beam = n on a connected graph the pool is the whole
    * component, so the result is EXACTLY the k nearest allowed points —
    * the theorem the fanout filtered gate states. */
  def searchFiltered(index: LocalIndex, query: Array[Float], k: Int,
      allowed: Long => Boolean, beamOverride: Int = 0): Array[(Long, Float)] =
    searchFrom(index, index.medoid, query, k, beamOverride, allowed)._1

  /** Q2 (vamana.h:426-489): as [[search]] but starting from the stored point
    * nearest to `startVec` (linear scan resolve, vamana.h:441-449). */
  def searchWithStartPoint(index: LocalIndex, startVec: Array[Float], query: Array[Float], k: Int): Array[(Long, Float)] = {
    var best = 0
    var bestD = Float.MaxValue
    var i = 0
    while (i < index.size) {
      val d = l2sq(index.points(i), startVec)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    searchFrom(index, best, query, k, 0, AnyId)._1
  }

  /** Range (radius) query — the DiskANN range-search contract the top-k
    * surface cannot express: EVERY stored point within squared-distance
    * `radiusSq` of the query, not a fixed k of them. Greedy beam search
    * from the medoid with an ESCALATING width: start at efSearch, re-run
    * with a doubled beam while a doubling still grows the in-range set
    * (the ball may extend past the current beam frontier), and stop as
    * soon as a doubling adds nothing — or the beam covers the whole index,
    * where the connected-graph argument behind the full-beam gates makes
    * the answer provably complete. Result ascending by (dist, id). */
  def rangeSearch(index: LocalIndex, query: Array[Float], radiusSq: Float): Array[(Long, Float)] = {
    var beam = math.max(index.params.efSearch, 32)
    var res: Array[(Long, Float)] = Array.empty
    var prevCount = -1
    var done = false
    while (!done) {
      val atCap = beam >= index.size
      val s = scratch.get()
      walk(index.graph, index.medoid, beam, c => l2sq(index.points(c), query), s)
      val dists = s.poolDists
      res = topK(index, s.poolIds, dists, s.poolLen, s.poolLen, i => dists(i) <= radiusSq, s)
      if (res.length == prevCount || atCap) done = true
      else { prevCount = res.length; beam = math.min(index.size, beam * 2) }
    }
    res
  }

  private[vamana] val AnyId: Long => Boolean = _ => true

  /** Q1 from `start`: beam width max(beamOverride or efSearch, k), then the
    * top-k step over the allowed ids. Returns (top-k, hops, comps). */
  private def searchFrom(index: LocalIndex, start: Int, query: Array[Float], k: Int,
      beamOverride: Int, allowed: Long => Boolean): (Array[(Long, Float)], Long, Long) = {
    val kk = math.min(k, index.size)                    // clamp k<=n (vamana.h:498)
    val beamL = math.max(                               // ef>=k clamp (vamana.h:502-503)
      if (beamOverride > 0) beamOverride else index.params.efSearch, kk)
    val s = scratch.get()
    walk(index.graph, start, beamL, c => l2sq(index.points(c), query), s)
    (poolTopK(index, kk, allowed, s), s.poolLen.toLong, s.comps)
  }

  /** The walk with a node score (e.g. PQ's ADC lookup) from the medoid,
    * the visited pool re-scored with exact distances to `query`, then the
    * top-k step over the allowed ids — the per-index body of every PQ
    * search path. */
  private[vamana] def rerankTopK(index: LocalIndex, score: Int => Float, beamL: Int,
      query: Array[Float], k: Int, allowed: Long => Boolean): Array[(Long, Float)] = {
    val s = scratch.get()
    walk(index.graph, index.medoid, beamL, score, s)
    var i = 0
    while (i < s.poolLen) { s.poolDists(i) = l2sq(index.points(s.poolIds(i)), query); i += 1 }
    poolTopK(index, k, allowed, s)
  }

  private def poolTopK(index: LocalIndex, k: Int, allowed: Long => Boolean, s: Scratch): Array[(Long, Float)] = {
    val pool = s.poolIds
    val ids = index.ids
    topK(index, pool, s.poolDists, s.poolLen, k, i => allowed(ids(pool(i))), s)
  }

  /** The one top-k step every search path ends in: of the first `len` pool
    * slots, those that pass `accept(i)`, the `k` least by (dist, external
    * id) — dists compared as java.lang.Float.compare does, and equal keys
    * kept in pool order — ascending, as (external id, dist). One bounded
    * max-heap of slot indices serves every k, up to the whole pool (range
    * search, full-beam gates). */
  private def topK(index: LocalIndex, poolIds: Array[Int], poolDists: Array[Float], len: Int,
      k: Int, accept: Int => Boolean, s: Scratch): Array[(Long, Float)] = {
    if (k <= 0 || len == 0) return Array.empty
    val ext = index.ids
    // slot a ranks after slot b
    def after(a: Int, b: Int): Boolean = {
      val c = java.lang.Float.compare(poolDists(a), poolDists(b))
      if (c != 0) c > 0
      else {
        val ea = ext(poolIds(a))
        val eb = ext(poolIds(b))
        if (ea != eb) ea > eb else a > b
      }
    }
    val heap = s.heapOf(math.min(k, len))
    // put x at the root of heap(0 until size) and sift it down
    def siftDown(x: Int, size: Int): Unit = {
      var at = 0
      var child = 1
      while (child < size) {
        if (child + 1 < size && after(heap(child + 1), heap(child))) child += 1
        if (after(heap(child), x)) { heap(at) = heap(child); at = child; child = 2 * at + 1 }
        else child = size
      }
      heap(at) = x
    }
    var size = 0
    var i = 0
    while (i < len) {
      if (accept(i)) {
        if (size < k) {
          var at = size
          size += 1
          while (at > 0 && after(i, heap((at - 1) >>> 1))) { heap(at) = heap((at - 1) >>> 1); at = (at - 1) >>> 1 }
          heap(at) = i
        } else if (after(heap(0), i)) siftDown(i, size)
      }
      i += 1
    }
    val res = new Array[(Long, Float)](size)
    while (size > 0) {
      val top = heap(0)
      size -= 1
      res(size) = (ext(poolIds(top)), poolDists(top))
      if (size > 0) siftDown(heap(size), size)
    }
    res
  }

  /** Open-addressing set of longs, for the id checks of insert, merge and
    * delete. */
  private final class LongSet(capacity: Int) {
    private val slots = {
      var c = 16
      while (c < capacity * 2) c <<= 1
      c
    }
    private val keys = new Array[Long](slots)
    private val used = new Array[Boolean](slots)
    private var size = 0

    private def slotOf(x: Long): Int = {
      var h = ((x * 0x9E3779B97F4A7C15L) >>> 32).toInt & (slots - 1)
      while (used(h) && keys(h) != x) h = (h + 1) & (slots - 1)
      h
    }

    def contains(x: Long): Boolean = used(slotOf(x))

    /** Adds `x`; false when it was already in the set. */
    def add(x: Long): Boolean = {
      val h = slotOf(x)
      if (used(h)) false
      else {
        require(size < slots / 2, "LongSet is full")
        keys(h) = x; used(h) = true; size += 1
        true
      }
    }
  }

  private object LongSet {
    /** The set of `xs`, with room for `more` further adds. */
    def of(xs: Array[Long], more: Int): LongSet = {
      val set = new LongSet(xs.length + more)
      var i = 0
      while (i < xs.length) { set.add(xs(i)); i += 1 }
      set
    }
  }

  /** Degree invariant over ALL nodes (fixes the reference's dead 10-node
    * healthCheck, vamana.h:705-720). */
  def healthCheck(index: LocalIndex): Boolean =
    index.graph.forall(_.length <= index.params.maxDegree)
}
