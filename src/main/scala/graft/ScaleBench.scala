package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Knn
import graft.vamana._

/** 10×-and-beyond scale evidence for the sharded ANN design. The reference
  * benches 10k points in one process (main.cpp:33-36); this drives the
  * DISTRIBUTED build/serve path (`VamanaFanout.fit` → `FanoutModel.search`)
  * at n=100k+ synthetic points and reports, per shard count: build
  * wall-time, 100-query search latency, and recall@10 against exact kNN —
  * the concrete proof that the shard fanout (not just the plan shapes)
  * scales. The corpus is generated DISTRIBUTED (seeded per-id RNG inside
  * mapPartitions — never materialized on the driver), exactly how a 100 TB
  * corpus would enter the fit.
  *
  * Usage: runMain graft.ScaleBench [n] [dim] [shardList] [cpus]
  * e.g.   runMain graft.ScaleBench 100000 64 4,8,16 32
  * Prints one JSON line per shard count; recorded in BASELINE_REPRO.md.
  */
object ScaleBench {

  /** Deterministic corpus: vector j of point id = seeded by id alone, so
    * the data is identical for any partitioning/parallelism. */
  def syntheticPoints(spark: SparkSession, n: Long, dim: Int): DataFrame = {
    import spark.implicits._
    spark.range(n)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val rng = new Random(id * 0x9e3779b97f4a7c15L + 42L)
          (id, Array.fill(dim)(rng.nextFloat() * 2 - 1))
        }
      }
      .toDF("vec_id", "embedding")
  }

  /** Stored vectors 0..nQ-1 perturbed by seeded noise — answerable but not
    * trivially identical to a stored point. */
  def perturbedQueries(spark: SparkSession, pts: DataFrame, nQ: Int): DataFrame = {
    import spark.implicits._
    pts.where(col("vec_id") < nQ)
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val rng = new Random(777 + id)
        (id, v.map(x => x + (rng.nextFloat() - 0.5f) * 0.05f))
      }
      .toDF("query_id", "query_vec")
  }

  /** Nearest-rank percentile (rounded to 0.1) over an ASCENDING-sorted
    * sample — the tail-latency order statistic the serving rows report. */
  private[graft] def percentile(sortedAsc: Seq[Double], p: Double): Double =
    math.rint(sortedAsc(math.min(sortedAsc.length - 1,
      math.max(0, math.ceil(p * sortedAsc.length).toInt - 1))) * 10) / 10

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val shardCounts = args.lift(2).map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(4, 8, 16))
    val cpus = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)).getOrElse(32)
    // "tailonly": build + top-k serve + tail-latency distribution only —
    // re-measuring serving latency at a big n without re-paying the PQ /
    // range / merge / matryoshka stages of the full sweep.
    // "routed": the clustered (SPANN-style) layout instead — per shard
    // count, fit VamanaRouted and report batched/tail latency + recall at
    // an nprobe ladder, the hash-fanout tail row's counterpart.
    val tailOnly = args.lift(4).exists(_.equalsIgnoreCase("tailonly"))
    val routedMode = args.lift(4).exists(_.equalsIgnoreCase("routed"))
    val k = 10
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pts = syntheticPoints(spark, n, dim).repartition(cpus).cache()
    pts.count()
    val queries = perturbedQueries(spark, pts, 100).cache()
    queries.count()
    val truth = Knn.knnExact(pts, queries, k).cache()
    truth.count()
    val params = VamanaParams(dim = dim, maxDegree = 32, beamWidth = 64,
      alpha = 1.2f, efSearch = 128)

    if (routedMode) {
      for (s <- shardCounts) {
        val t0 = System.nanoTime()
        val rm = VamanaRouted.fit(pts, params, numShards = s)
        val buildSec = (System.nanoTime() - t0) / 1e9
        val repl = rm.describeRouting()
          .agg(sum(col("n_points"))).head().getLong(0).toDouble / n
        val ladder = (Seq(2, 4, 8).filter(_ < s) :+ s).distinct
        for (nprobe <- ladder) {
          val t1 = System.nanoTime()
          val got = rm.searchRouted(queries, k, nprobe).cache()
          got.count()
          val batchSec = (System.nanoTime() - t1) / 1e9
          val recall = Knn.recallAt(k, got, truth)
          got.unpersist()
          val perQueryMs = (0 until 100).map { qid =>
            val q1 = queries.where(col("query_id") === qid)
            val tq = System.nanoTime()
            rm.searchRouted(q1, k, nprobe).count()
            (System.nanoTime() - tq) / 1e6
          }.sorted
          println(
            s"""{"routed_n":$n,"dim":$dim,"shards":$s,"nprobe":$nprobe,"cpus":$cpus,""" +
            s""""build_sec":${math.rint(buildSec * 100) / 100},""" +
            s""""replication":${math.rint(repl * 1000) / 1000},""" +
            s""""search_100q_sec":${math.rint(batchSec * 100) / 100},""" +
            s""""recall_at_10":${math.rint(recall * 1e4) / 1e4},""" +
            s""""tail_p50_ms":${percentile(perQueryMs, 0.50)},""" +
            s""""tail_p95_ms":${percentile(perQueryMs, 0.95)},""" +
            s""""tail_max_ms":${math.rint(perQueryMs.last * 10) / 10}}""")
        }
        // query-ADAPTIVE routing ladder (SPANN §4.3): each query pays
        // only its boundary ambiguity — report the realized probe
        // distribution next to recall so the fixed-nprobe rows above
        // price what adaptivity buys at the same fitted layout.
        for (eps <- Seq(0.02, 0.05, 0.1)) {
          val pr = rm.describeAdaptiveRouting(queries, eps)
            .agg(avg(col("n_probes")), max(col("n_probes"))).head()
          val (meanP, maxP) = (pr.getDouble(0), pr.getInt(1))
          val t1 = System.nanoTime()
          val got = rm.searchRoutedAdaptive(queries, k, eps).cache()
          got.count()
          val batchSec = (System.nanoTime() - t1) / 1e9
          val recall = Knn.recallAt(k, got, truth)
          got.unpersist()
          val perQueryMs = (0 until 100).map { qid =>
            val q1 = queries.where(col("query_id") === qid)
            val tq = System.nanoTime()
            rm.searchRoutedAdaptive(q1, k, eps).count()
            (System.nanoTime() - tq) / 1e6
          }.sorted
          println(
            s"""{"routed_n":$n,"dim":$dim,"shards":$s,"route_eps":$eps,"cpus":$cpus,""" +
            s""""mean_probes":${math.rint(meanP * 100) / 100},"max_probes":$maxP,""" +
            s""""search_100q_sec":${math.rint(batchSec * 100) / 100},""" +
            s""""recall_at_10":${math.rint(recall * 1e4) / 1e4},""" +
            s""""tail_p50_ms":${percentile(perQueryMs, 0.50)},""" +
            s""""tail_p95_ms":${percentile(perQueryMs, 0.95)},""" +
            s""""tail_max_ms":${math.rint(perQueryMs.last * 10) / 10}}""")
        }
        // RECALL-TARGETED calibration (the INVERSE knob — the question a
        // deployment actually asks: "what band do I run for 0.8 / 0.9?"):
        // bisect the smallest eps reaching each target vs FULL SCATTER at
        // the same beam (routing loss only — beam loss is the kernel's
        // knob), then price the chosen band: realized probe distribution,
        // end-to-end recall vs exact (includes beam loss, the number the
        // eps→recall ladder above reports), and per-request tail.
        for (target <- Seq(0.8, 0.9)) {
          val t1 = System.nanoTime()
          val cal = rm.calibrateEps(queries, k, target)
          val calSec = (System.nanoTime() - t1) / 1e9
          val got = rm.searchRoutedAdaptive(queries, k, cal.eps).cache()
          got.count()
          val recallVsExact = Knn.recallAt(k, got, truth)
          got.unpersist()
          val perQueryMs = (0 until 100).map { qid =>
            val q1 = queries.where(col("query_id") === qid)
            val tq = System.nanoTime()
            rm.searchRoutedAdaptive(q1, k, cal.eps).count()
            (System.nanoTime() - tq) / 1e6
          }.sorted
          println(
            s"""{"routed_n":$n,"dim":$dim,"shards":$s,"target_recall":$target,"cpus":$cpus,""" +
            s""""calibrated_eps":${math.rint(cal.eps * 1e4) / 1e4},""" +
            s""""target_met":${cal.targetMet},""" +
            s""""recall_vs_scatter":${math.rint(cal.recall * 1e4) / 1e4},""" +
            s""""recall_at_10":${math.rint(recallVsExact * 1e4) / 1e4},""" +
            s""""mean_probes":${math.rint(cal.meanProbes * 100) / 100},""" +
            s""""p95_probes":${cal.p95Probes},""" +
            s""""calibrate_sec":${math.rint(calSec * 100) / 100},""" +
            s""""tail_p50_ms":${percentile(perQueryMs, 0.50)},""" +
            s""""tail_p95_ms":${percentile(perQueryMs, 0.95)}}""")
        }
        rm.unpersist()
      }
      spark.stop(); return
    }

    for (s <- shardCounts) {
      val t0 = System.nanoTime()
      val fm = VamanaFanout.fit(pts, params, numShards = s)
      val buildSec = (System.nanoTime() - t0) / 1e9 // fit materializes the shard cache
      val t1 = System.nanoTime()
      val got = fm.search(queries, k).cache()
      got.count()
      val searchSec = (System.nanoTime() - t1) / 1e9
      val recall = Knn.recallAt(k, got, truth)
      got.unpersist()
      // Serving TAIL latency: the batched ms/query above amortizes job
      // scheduling and shard work across 100 queries, but a deployment is
      // judged on per-REQUEST latency — and the per-shard scatter-gather
      // makes the tail (the slowest shard of the slowest request) the
      // interesting number. Time each query as its own search call and
      // report the order statistics.
      val perQueryMs = (0 until 100).map { qid =>
        val q1 = queries.where(col("query_id") === qid)
        val tq = System.nanoTime()
        fm.search(q1, k).count()
        (System.nanoTime() - tq) / 1e6
      }.sorted
      val (p50, p95, pMax) = (percentile(perQueryMs, 0.50),
        percentile(perQueryMs, 0.95), math.rint(perQueryMs.last * 10) / 10)
      if (tailOnly) {
        fm.unpersist()
        println(
          s"""{"n":$n,"dim":$dim,"shards":$s,"cpus":$cpus,"R":32,"L":64,"ef":128,""" +
          s""""build_sec":${math.rint(buildSec * 100) / 100},""" +
          s""""search_100q_sec":${math.rint(searchSec * 100) / 100},""" +
          s""""recall_at_10":${math.rint(recall * 1e4) / 1e4},""" +
          s""""tail_p50_ms":$p50,"tail_p95_ms":$p95,"tail_max_ms":$pMax}""")
      } else {
      // PQ-guided serving over the SAME fitted shards: traversal on m-byte
      // per-shard codes (DiskANN §3), exact rerank — the serving-memory
      // story at scale. The first call trains+encodes per shard AND runs a
      // full search pass, so it is reported as pq_first_call_sec (total,
      // not train+encode alone — subtract pq_search_100q_sec for the
      // one-time prepare cost); the second call serves from the memo.
      val pqTag = s"scalebench_n${n}_s$s"
      val t2 = System.nanoTime()
      VamanaPq.searchFanoutModel(fm, queries, pqTag, k, fullBeam = false).count()
      val pqPrepSec = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val pqGot = VamanaPq.searchFanoutModel(fm, queries, pqTag, k, fullBeam = false).cache()
      pqGot.count()
      val pqSearchSec = (System.nanoTime() - t3) / 1e9
      val pqRecall = Knn.recallAt(k, pqGot, truth)
      pqGot.unpersist()
      val mem = VamanaPq.fanoutCodeMemoryModel(fm)
        .agg(sum(col("raw_vector_bytes")), sum(col("pq_code_bytes"))).collect().head
      val (rawB, codeB) = (mem.getLong(0), mem.getLong(1))
      // range (radius) serving over the same fitted shards: radius derived
      // from the data (median rank-5 exact distance across the queries →
      // ~5-point balls), truth via one more brute-force scan, completeness
      // = |ann ∩ truth| / |truth| — the set-valued serving contract at the
      // same n the top-k numbers carry.
      val r5 = truth.where(col("rank") === 5).select(col("dist"))
        .collect().map(_.getDouble(0)).sorted
      val radiusSq = r5(r5.length / 2)
      val rangeTruth = {
        import spark.implicits._
        val bcQ = spark.sparkContext.broadcast(
          queries.select(col("query_id").cast("long"), col("query_vec").cast("array<float>"))
            .as[(Long, Array[Float])].collect())
        pts.select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
          .as[(Long, Array[Float])].flatMap { case (id, v) =>
          bcQ.value.iterator.flatMap { case (qid, qv) =>
            val d = VamanaKernel.l2sq(v, qv)
            if (d <= radiusSq) Iterator.single((qid, id)) else Iterator.empty
          }
        }.toDF("query_id", "id").cache()
      }
      val truthCount = rangeTruth.count()
      val t4 = System.nanoTime()
      val rGot = fm.rangeSearch(queries, radiusSq).cache()
      val gotCount = rGot.count()
      val rangeSec = (System.nanoTime() - t4) / 1e9
      val hit = rGot.select(col("query_id"), col("id"))
        .join(rangeTruth, Seq("query_id", "id")).count()
      val rangeCompleteness = if (truthCount == 0) 1.0 else hit.toDouble / truthCount
      rGot.unpersist(); rangeTruth.unpersist()
      fm.unpersist()
      println(
        s"""{"n":$n,"dim":$dim,"shards":$s,"cpus":$cpus,"R":32,"L":64,"ef":128,""" +
        s""""build_sec":${math.rint(buildSec * 100) / 100},""" +
        s""""search_100q_sec":${math.rint(searchSec * 100) / 100},""" +
        s""""recall_at_10":${math.rint(recall * 1e4) / 1e4},""" +
        s""""pq_first_call_sec":${math.rint(pqPrepSec * 100) / 100},""" +
        s""""pq_search_100q_sec":${math.rint(pqSearchSec * 100) / 100},""" +
        s""""pq_recall_at_10":${math.rint(pqRecall * 1e4) / 1e4},""" +
        s""""raw_vector_bytes":$rawB,"pq_code_bytes":$codeB,""" +
        s""""range_radius_sq":${math.rint(radiusSq * 1e4) / 1e4},""" +
        s""""range_truth_rows":$truthCount,"range_result_rows":$gotCount,""" +
        s""""range_100q_sec":${math.rint(rangeSec * 100) / 100},""" +
        s""""range_completeness":${math.rint(rangeCompleteness * 1e4) / 1e4},""" +
        s""""tail_p50_ms":$p50,"tail_p95_ms":$p95,"tail_max_ms":$pMax}""")
      }
    }
    if (tailOnly) { spark.stop(); return }
    // Index MERGE at the same n: two INDEPENDENT fits (even/odd id halves
    // — two daily builds) fold into one serving model. Fanout merge is a
    // zero-build shard re-key + union (asserted via buildCount), so the
    // merge cost is metadata plus one distributed disjointness semi-join;
    // default-beam recall over the UNION is the serving check (full-beam
    // exactness is the spec/gate's theorem territory).
    {
      val s = shardCounts.head
      val fa = VamanaFanout.fit(pts.where(col("vec_id") % 2 === 0), params, numShards = s)
      val fb = VamanaFanout.fit(pts.where(col("vec_id") % 2 === 1), params, numShards = s)
      val builds0 = VamanaKernel.buildCount.get()
      val t6 = System.nanoTime()
      val fm = fa.merge(fb)
      val mergeSec = (System.nanoTime() - t6) / 1e9
      val zeroBuilds = VamanaKernel.buildCount.get() == builds0
      val t7 = System.nanoTime()
      val got = fm.search(queries, k).cache()
      got.count()
      val mSearchSec = (System.nanoTime() - t7) / 1e9
      val mRecall = Knn.recallAt(k, got, truth)
      got.unpersist(); fm.unpersist(); fa.unpersist(); fb.unpersist()
      println(
        s"""{"merge_n":$n,"dim":$dim,"shards_each":$s,"merge_sec":${math.rint(mergeSec * 100) / 100},""" +
        s""""zero_builds":$zeroBuilds,"search_100q_sec":${math.rint(mSearchSec * 100) / 100},""" +
        s""""recall_at_10":${math.rint(mRecall * 1e4) / 1e4}}""")
    }
    // Matryoshka truncated-prefix serving at the same n (shard-free): the
    // MRL-profile view (w_j = exp(-j/12)) of the synthetic corpus —
    // exactness vs brute-force weighted kNN is the theorem check, the
    // measured numbers are wall-time and the fetch ledger (how few full
    // vectors an exact top-k actually reads when energy is compacted).
    if (dim == graft.operators.Similarity.MrlWeights.length) {
      import graft.operators.Similarity
      val we = pts.select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"),
          typedLit(Similarity.MrlWeights.toSeq), (x, y) => x * y)
          .cast("array<float>").as("wv")).cache()
      we.count()
      val tag = s"scalebench_mat_n$n"
      val t5 = System.nanoTime()
      val res = Similarity.matryoshkaSearchOf(spark, we, tag, 100, k).cache()
      val resRows = res.count()
      val matSec = (System.nanoTime() - t5) / 1e9
      val wq = we.where(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("wv").as("query_vec"))
      val wTruth = Knn.knnExact(
        we.select(col("vec_id"), col("wv").as("embedding")), wq, k)
      val matHits = res.select(col("query_id"), col("id"))
        .join(wTruth.select(col("query_id"), col("id")), Seq("query_id", "id")).count()
      val ledger = Similarity.matryoshkaGateOf(spark, we, tag, 100, k)
        .agg(min(col("n_required")), max(col("n_required")),
          avg(col("fetch_frac"))).collect().head
      println(
        s"""{"matryoshka_n":$n,"dim":$dim,"prefix":16,"k":$k,"queries":100,""" +
        s""""search_sec":${math.rint(matSec * 100) / 100},""" +
        s""""result_rows":$resRows,"exact_hits":$matHits,""" +
        s""""n_required_min":${ledger.getLong(0)},"n_required_max":${ledger.getLong(1)},""" +
        s""""fetch_frac_avg":${math.rint(ledger.getDouble(2) * 1e6) / 1e6}}""")
      res.unpersist(); we.unpersist()
      graft.core.Memo.release(Similarity)
    }
    spark.stop()
  }
}
