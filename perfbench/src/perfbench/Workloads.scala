package perfbench

import scala.util.Random

/** The shape of one workload: its corpus, the serving path it drives, and
  * the batch sizes of its search and update rounds. Every size is fixed
  * here; only the seed varies between runs. */
final case class Workload(
    name: String,
    corpus: Corpus,
    n: Int,
    serving: String,
    shards: Int,
    nprobe: Int,
    searchBatch: Int,
    poolSize: Int,
    insertBatch: Int,
    deleteBatch: Int,
    updateQueries: Int,
    searchShare: Double,
    minSearchRounds: Int,
    minUpdateRounds: Int,
    maxWarmupRounds: Int)

object Workloads {
  val Dim = 64
  val K = 10

  /** The corpus does not depend on --seed. On the clustered corpus, the
    * k-means shard layout and the default prune rule make recall depend on
    * the corpus draw itself: over ten corpus seeds it ranged 0.76-0.96,
    * far more than the run-to-run change a bound has to resolve. */
  val CorpusSeed = 1L

  /** Uniform [-1,1]^64: the reference's own benchmark distribution
    * (main.cpp). The broadcast path's kernel does almost all of the work. */
  val broadcastUniform = Workload(
    name = "broadcast-uniform", corpus = Uniform, n = 5000, serving = "broadcast",
    shards = 1, nprobe = 1, searchBatch = 1000, poolSize = 1000,
    insertBatch = 250, deleteBatch = 250, updateQueries = 200,
    searchShare = 0.5, minSearchRounds = 8, minUpdateRounds = 3, maxWarmupRounds = 16)

  /** The same corpus over 8 hash shards, served in calls of 50 queries:
    * every call pays Spark jobs, shard deserialisation and two shuffles
    * against little kernel work. Runnable by hand; BENCHMARK.json leaves it
    * out because its runs would not fit the benchmark's time budget (see
    * README.md). */
  val fanoutSmallBatches = Workload(
    name = "fanout-small-batches", corpus = Uniform, n = 5000, serving = "fanout",
    shards = 8, nprobe = 8, searchBatch = 50, poolSize = 1000,
    insertBatch = 50, deleteBatch = 50, updateQueries = 50,
    searchShare = 0.7, minSearchRounds = 6, minUpdateRounds = 3, maxWarmupRounds = 12)

  /** A 32-cluster Gaussian mixture over k-means routed shards; search calls
    * alternate raw-vector routed search and PQ-guided routed search, and
    * the update rounds are write-heavy. Default params keep the default
    * prune rule, whose recall loss on clustered data this workload shows. */
  val routedClusteredPq = Workload(
    name = "routed-clustered-pq", corpus = Clustered(clusters = 32, sigma = 0.3f), n = 5000,
    serving = "routed", shards = 8, nprobe = 2, searchBatch = 200, poolSize = 1000,
    insertBatch = 200, deleteBatch = 200, updateQueries = 100,
    searchShare = 0.7, minSearchRounds = 5, minUpdateRounds = 3, maxWarmupRounds = 8)

  val all: Seq[Workload] = Seq(broadcastUniform, fanoutSmallBatches, routedClusteredPq)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))
}

sealed trait Corpus
case object Uniform extends Corpus
final case class Clustered(clusters: Int, sigma: Float) extends Corpus

/** Seeded vector source. Each stream (corpus, queries, inserts) gets its
  * own generator so a change to one batch size leaves the other streams'
  * vectors unchanged. Clustered centres are the same for every seed, so
  * queries and inserts of any seed come from the corpus's clusters. */
final class VectorGen(corpus: Corpus, dim: Int, seed: Long, stream: Int) {
  private val rng = new Random(seed * 1000003L + stream)
  private val centres: Array[Array[Float]] = corpus match {
    case Uniform => Array.empty
    case Clustered(c, _) =>
      val r = new Random(7919L)
      Array.fill(c)(Array.fill(dim)(r.nextFloat() * 2 - 1))
  }

  def next(): Array[Float] = corpus match {
    case Uniform => Array.fill(dim)(rng.nextFloat() * 2 - 1)
    case Clustered(_, sigma) =>
      val c = centres(rng.nextInt(centres.length))
      Array.tabulate(dim)(i => c(i) + sigma * rng.nextGaussian().toFloat)
  }

  def take(count: Int): Array[Array[Float]] = Array.fill(count)(next())
}
