package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.vamana._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** One query batch: its frame and its vectors by query id. */
final case class QueryBatch(df: DataFrame, vecs: Map[Long, Array[Float]]) {
  def size: Int = vecs.size
}

/** Drives one workload through set-up, warm-up, timed search rounds and
  * update rounds, with one client in a closed loop, and prints one result
  * line: `PERFBENCH_RESULT {json}`.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --work-dir DIR (saved indexes, deleted at exit) --out-dir DIR (trace);
  * or --archive DIR for the class-data archive run of the build. */
object PerfBench {

  private final class Run(val w: Workload, val seed: Long, val seconds: Double,
      val tracer: Tracer, val spark: SparkSession, val threads: Int) {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def error(msg: String): Unit = {
      if (errors.length < 20) errors += msg
      System.err.println(s"[perfbench] CHECK FAILED: $msg")
    }

    /** One operation against the program: counted, and on failure counted
      * as failed with its result absent. */
    def op[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(tracer(name)(body))
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] operation $name failed: $e")
          None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val threads = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val exitCode =
      try {
        val workDir = new File(opts.getOrElse("archive", opt("work-dir")))
        val spark = session(threads, workDir)
        try {
          if (opts.contains("archive")) trainArchive(spark, workDir)
          else {
            val w = Workloads.byName(opt("workload"))
            val seed = opt("seed").toLong
            log(s"${w.name} seed=$seed: Spark session up")
            val run = new Run(w, seed, opt("seconds").toDouble, new Tracer(opt("trace") == "1"),
              spark, threads)
            val json = execute(run, workDir, new File(opt("out-dir")), jvmStartMs)
            println(s"PERFBENCH_RESULT $json")
          }
          0
        } finally {
          VamanaPq.clearCaches()
          spark.stop()
        }
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      }
    log(s"exit $exitCode")
    System.exit(exitCode)
  }

  private def session(threads: Int, workDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One short pass over every serving path on a small corpus: a
    * class-data archive recorded from this JVM then holds the classes a
    * benchmark run loads. */
  private def trainArchive(spark: SparkSession, workDir: File): Unit = {
    import spark.implicits._
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    for (w <- Workloads.all) {
      val gen = new VectorGen(w.corpus, Workloads.Dim, 1L, 0)
      val pts = gen.take(600)
      val df = pts.indices.map(i => (i.toLong, pts(i))).toDF("vec_id", "embedding")
      val q = pts.take(5).indices.map(i => (i.toLong, pts(i))).toDF("query_id", "query_vec")
      val dir = new File(workDir, w.name).getAbsolutePath
      val fitted = Server.fit(spark, w, df, "archive")
      fitted.save(dir)
      val loaded = Server.load(spark, w, dir, "archive")
      loaded.paths.foreach(p => loaded.search(p, q))
      val more = gen.take(20)
      val grown = loaded.insert(more.indices.map(j => (600L + j, more(j))).toDF("vec_id", "embedding"))
      val shrunk = grown.delete(Array(0L, 1L))
      shrunk.paths.foreach(p => shrunk.search(p, q))
      shrunk.liveCountError(618)
      shrunk match {
        case Fanout(m) => VamanaPq.searchFanoutModel(m, q, "archive", Workloads.K, fullBeam = false).collect()
        case _ =>
      }
      Seq(fitted, loaded, grown, shrunk).foreach(_.unpersist())
    }
    counters.snapshot(spark.sparkContext)
  }

  /** Queries per call of the traced-mode PQ probe on hash-fanout models. */
  private val PqProbeBatch = 100

  /** Share of --seconds the warm-up may take at most. */
  private val WarmupShare = 0.6

  private def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%6.1fs $msg")

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  private def execute(run: Run, workDir: File, outDir: File, jvmStartMs: Long): String = {
    import run._
    import spark.implicits._
    val pool = Executors.newFixedThreadPool(threads)
    try {
      // ---- 1. inputs. The corpus is the same in every run; the seed draws
      // the queries, the inserted vectors and the deleted ids.
      val corpus = new VectorGen(w.corpus, Workloads.Dim, Workloads.CorpusSeed, 0).take(w.n)
      val store = new PointStore(corpus)
      val queryGen = new VectorGen(w.corpus, Workloads.Dim, seed, 1)
      val insertGen = new VectorGen(w.corpus, Workloads.Dim, seed, 2)
      val deleteRng = new Random(seed * 31 + 3)
      val corpusDf = corpus.indices.map(i => (i.toLong, corpus(i))).toDF("vec_id", "embedding")
      var nextQid = 0L
      def batchOf(vs: Array[Array[Float]]): QueryBatch = {
        val ids = vs.indices.map(_ + nextQid).toArray
        nextQid += vs.length
        QueryBatch(ids.zip(vs).toSeq.toDF("query_id", "query_vec"), ids.zip(vs).toMap)
      }
      // exact answers over the live set as it is when this is called
      val truth = mutable.HashMap.empty[Long, Array[(Long, Double)]]
      def solve(b: QueryBatch): QueryBatch = {
        val qids = b.vecs.keys.toArray
        truth ++= qids.zip(Exact.topKBatch(qids.map(b.vecs), store, Workloads.K, pool))
        b
      }
      val poolVecs = queryGen.take(w.poolSize)
      val batches = poolVecs.grouped(w.searchBatch).map(batchOf).toArray
      val pqKey = s"perfbench-$seed"

      // ---- 2. set-up, timed from the JVM's start: Spark session, corpus
      // frame, fit, save, load and the first cold batch
      val counters = new SparkCounters
      if (tracer.enabled) spark.sparkContext.addSparkListener(counters)
      val indexDir = new File(workDir, "index").getAbsolutePath
      val fitCounters0 = if (tracer.enabled) counters.snapshot(spark.sparkContext) else null
      val t0 = System.nanoTime()
      val fitted = op("serving.fit")(Server.fit(spark, w, corpusDf, pqKey)).getOrElse(
        throw new IllegalStateException("fit failed"))
      val fitS = secsSince(t0)
      val fitShuffle =
        if (tracer.enabled) counters.snapshot(spark.sparkContext)(3) - fitCounters0(3) else 0.0
      op("serving.save")(fitted.save(indexDir)).getOrElse(throw new IllegalStateException("save failed"))
      var server = op("serving.load")(Server.load(spark, w, indexDir, pqKey)).getOrElse(
        throw new IllegalStateException("load failed"))
      var cursor = 0
      def nextBatch(): QueryBatch = { val b = batches(cursor % batches.length); cursor += 1; b }
      val coldBatches = server.paths.map(_ => nextBatch())
      val cold = server.paths.zip(coldBatches).map { case (p, b) => op(s"$p.search")(server.search(p, b.df)) }
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      metric("setup_s", setupS, "s")
      log(f"set-up ${setupS}%.2fs from JVM start; fit ${fitS}%.2fs, fit to first answer ${secsSince(t0)}%.2fs")

      // ---- 3. checks of the set-up: cold answers, checker self-test,
      // saved-vs-loaded answers, exact full-beam search, live count
      batches.foreach(solve)
      val probe = solve(batchOf(poolVecs.take(20)))
      def checkAnswer(what: String, hits: Array[Hit], b: QueryBatch): Unit =
        Checker.check(hits, b.vecs, Workloads.K, store.isLive, store.liveCount, store.vec)
          .foreach(e => error(s"$what: $e"))
      def recallOf(hits: Array[Hit], b: QueryBatch): Seq[Double] = {
        val byQ = hits.groupBy(_.qid)
        b.vecs.keys.toSeq.map(q => Exact.recall(byQ.getOrElse(q, Array.empty[Hit]).map(_.id), truth(q)))
      }
      cold.zip(coldBatches).foreach { case (h, b) => h.foreach(checkAnswer("cold batch", _, b)) }
      cold.head.foreach { h =>
        Checker.selfTest(h, coldBatches.head.vecs, Workloads.K, store.isLive, store.liveCount, store.vec)
          .foreach(e => error(s"checker self-test: $e"))
      }
      for (p <- server.paths) {
        val a = op(s"$p.search")(fitted.search(p, probe.df))
        val b = op(s"$p.search")(server.search(p, probe.df))
        for (x <- a; y <- b)
          if (x.sortBy(h => (h.qid, h.rank)).toSeq != y.sortBy(h => (h.qid, h.rank)).toSeq)
            error(s"loaded model answers the probe batch differently from the saved one ($p)")
      }
      server match {
        case Broadcast(_, m) =>
          val idx = m.index
          probe.vecs.toSeq.sortBy(_._1).take(20).foreach { case (qid, q) =>
            val (got, _, _) = VamanaKernel.searchCounted(idx, q, Workloads.K, beamOverride = idx.size)
            Checker.checkExactList(got, truth(qid), q, store.vec)
              .foreach(e => error(s"full-beam kernel search, query $qid: $e"))
          }
        case _ =>
      }
      server.liveCountError(store.liveCount).foreach(e => error(s"after load: $e"))
      if (fitted ne server) fitted.unpersist()
      metric("index_mb", dirBytes(new File(indexDir)) / 1e6, "MB")
      log("set-up checked")

      // ---- 4. warm-up until the per-round rate stops rising, then timed rounds
      val recalls = mutable.ArrayBuffer.empty[Double]
      val pqRecalls = mutable.ArrayBuffer.empty[Double]
      val callMs = mutable.ArrayBuffer.empty[Double]
      /** One round: a call per search path. Returns queries per second of
        * call time net of steal; with `record`, checks and scores the answers. */
      def searchRound(record: Boolean): Double = {
        var queries = 0
        var netS = 0.0
        for (p <- server.paths) {
          val b = nextBatch()
          var answer: Option[Array[Hit]] = None
          val (dt, net) = Clock.time { answer = op(s"$p.search")(server.search(p, b.df)) }
          netS += net
          answer.foreach { hits =>
            queries += b.size
            if (record) {
              if (p == "serving") callMs += dt * 1e3
              checkAnswer("search round", hits, b)
              val r = recallOf(hits, b)
              recalls ++= r
              if (p == "pq") pqRecalls ++= r
            }
          }
        }
        queries / netS
      }
      val warm = mutable.ArrayBuffer.empty[Double]
      val w0 = System.nanoTime()
      def rising: Boolean = warm.length < 4 || {
        val n = warm.length
        warm(n - 1) + warm(n - 2) > 1.05 * (warm(n - 3) + warm(n - 4))
      }
      while (warm.length < w.maxWarmupRounds && rising && secsSince(w0) < seconds * WarmupShare)
        warm += searchRound(record = false)
      log(s"warm-up rounds ${warm.length}: " + warm.map(q => f"$q%.0f").mkString(" "))

      val cpu = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val rates = mutable.ArrayBuffer.empty[Double]
      // traced mode alternates traced and plain rounds: the plain ones give
      // the tracing overhead, and only the traced ones feed the counters
      val plainRates = mutable.ArrayBuffer.empty[Double]
      val spark0 = Array.fill(7)(0.0)
      var tracedQueries = 0
      var cpuNs = 0L
      val s0 = System.nanoTime()
      var round = 0
      while (rates.length < w.minSearchRounds || secsSince(s0) < seconds * w.searchShare) {
        if (tracer.enabled && round % 2 == 1) {
          plainRates += tracer.paused(searchRound(record = true))
        } else {
          val before = if (tracer.enabled) counters.snapshot(spark.sparkContext) else null
          val c0 = cpu.getProcessCpuTime
          rates += searchRound(record = true)
          cpuNs += cpu.getProcessCpuTime - c0
          tracedQueries += server.paths.length * w.searchBatch
          if (tracer.enabled) {
            val after = counters.snapshot(spark.sparkContext)
            for (i <- spark0.indices) spark0(i) += after(i) - before(i)
          }
        }
        round += 1
      }
      metric("search_qps", Stats.median(rates.toSeq), "queries/s")
      metric("recall_at_10", Stats.mean(recalls.toSeq), "fraction")
      log(s"search rounds ${rates.length}: " + rates.map(q => f"$q%.0f").mkString(" "))

      if (tracer.enabled) {
        val calls = rates.length * server.paths.length
        Seq("jobs", "stages", "tasks", "shuffle_bytes", "task_run_ms", "task_cpu_ms",
          "task_deser_ms").zip(spark0).foreach { case (n, v) =>
          val unit = if (n.endsWith("_ms")) "ms" else if (n == "shuffle_bytes") "bytes" else "count"
          metric(s"spark.${n}_per_call", v / calls, unit)
        }
        metric("spark.fit_shuffle_bytes", fitShuffle, "bytes")
        metric("jvm.cpu_ms_per_query", cpuNs / 1e6 / tracedQueries, "ms")
        metric("trace.overhead_frac", Stats.median(plainRates.toSeq) / Stats.median(rates.toSeq) - 1, "fraction")
        val oneQuery = batchOf(poolVecs.take(1))
        val oneMs = (0 until 6).flatMap { _ =>
          server.paths.flatMap { p =>
            val c0 = System.nanoTime()
            op(s"$p.search")(server.search(p, oneQuery.df)).map(_ => secsSince(c0) * 1e3)
          }
        }
        metric("serving.one_query_call_ms", Stats.median(oneMs), "ms")
        System.gc()
        System.gc()
        val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        metric("jvm.heap_after_gc_mb", heap / 1e6, "MB")
      }

      // ---- 5. update rounds: insert a batch, delete a batch, answer a batch
      val pps = mutable.ArrayBuffer.empty[Double]
      var updNetS = 0.0
      val updRecalls = mutable.ArrayBuffer.empty[Double]
      val u0 = System.nanoTime()
      var updateRound = 0
      // the first round warms the insert and delete paths and is not timed
      while (pps.length < w.minUpdateRounds || secsSince(u0) < seconds * (1 - w.searchShare)) {
        val newVecs = insertGen.take(w.insertBatch)
        val newIds = (0 until w.insertBatch).map(_ + store.nextId).toArray
        val newDf = newIds.zip(newVecs).toSeq.toDF("vec_id", "embedding")
        var inserted: Option[Server] = None
        val (_, insNet) = Clock.time { inserted = op("serving.insert")(server.insert(newDf)) }
        inserted.foreach { s =>
          store.add(newVecs)
          s.liveCountError(store.liveCount).foreach(e => error(s"after insert: $e"))
          server.unpersist()
          server = s
        }
        val victims = deleteRng.shuffle(store.liveIds.toSeq).take(w.deleteBatch).toArray
        var deleted: Option[Server] = None
        val (_, delNet) = Clock.time { deleted = op("serving.delete")(server.delete(victims)) }
        deleted.foreach { s =>
          store.remove(victims)
          s.liveCountError(store.liveCount).foreach(e => error(s"after delete: $e"))
          server.unpersist()
          server = s
        }
        if (inserted.isDefined && deleted.isDefined && updateRound > 0) {
          pps += (w.insertBatch + w.deleteBatch) / (insNet + delNet)
          updNetS += insNet + delNet
        }
        updateRound += 1
        val qs = queryGen.take(w.updateQueries)
        val per = qs.length / server.paths.length
        server.paths.zipWithIndex.foreach { case (p, i) =>
          val b = solve(batchOf(qs.slice(i * per, (i + 1) * per)))
          op(s"$p.search")(server.search(p, b.df)).foreach { hits =>
            checkAnswer("update round", hits, b)
            updRecalls ++= recallOf(hits, b)
          }
        }
      }
      metric("update_pps", pps.length * (w.insertBatch + w.deleteBatch) / updNetS, "points/s")
      metric("jvm.gc_ms", ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.toDouble).sum, "ms")
      metric("updated_recall_at_10", Stats.mean(updRecalls.toSeq), "fraction")
      log(s"update rounds ${pps.length}: " + pps.map(q => f"$q%.0f").mkString(" "))

      // ---- 6. traced mode: layer metrics from spans, the model and the kernel
      if (tracer.enabled) {
        spark.sparkContext.removeSparkListener(counters)
        val sizes = server.shardSizes.map(_.toDouble)
        metric("serving.fit_s", fitS, "s")
        metric("serving.save_s", tracer.durationsMs("serving.save").head / 1e3, "s")
        metric("serving.load_s", tracer.durationsMs("serving.load").head / 1e3, "s")
        metric("serving.search_call_ms", Stats.median(callMs.toSeq), "ms")
        metric("serving.insert_call_ms", Stats.median(tracer.durationsMs("serving.insert")), "ms")
        metric("serving.delete_call_ms", Stats.median(tracer.durationsMs("serving.delete")), "ms")
        metric("serving.replication", sizes.sum / store.liveCount, "ratio")
        metric("serving.shard_skew", sizes.max / Stats.mean(sizes.toSeq), "ratio")
        val pqQueries = solve(batchOf(queryGen.take(6 * PqProbeBatch)))
        pqLayer(run, server, pqRecalls.toSeq, pqQueries, q => truth(q))
        val served = server match { case Broadcast(_, m) => Some(m.index); case _ => None }
        KernelProbe.run(corpus, served, poolVecs, insertGen.take(KernelProbe.Updates), threads, tracer)
          .foreach { case (n, v, u) => metric(n, v, u) }
        outDir.mkdirs()
        val selfMs = tracer.selfMs.toSeq.sortBy(_._1)
          .map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")
        val traceJson = s"""{"workload":"${w.name}","seed":$seed,"self_ms":$selfMs,""" +
          s""""metrics":${metricsJson(metrics)},"spans":${tracer.toJson}}"""
        Files.write(Paths.get(outDir.getPath, s"trace-${w.name}-$seed.json"),
          traceJson.getBytes(StandardCharsets.UTF_8))
      }
      server.unpersist()

      val wanted = if (tracer.enabled) Names.perLayer else Names.endToEnd
      val missing = wanted.filterNot(metrics.contains)
      require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
      val out = mutable.LinkedHashMap.from(wanted.map(n => n -> metrics(n)))
      s"""{"correct":${errors.isEmpty},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":${metricsJson(out)}}"""
    } finally {
      pool.shutdownNow()
    }
  }

  /** PQ-guided search: on the routed workload these are its own `pq`
    * calls; the hash-fanout workload measures the fanout PQ path on its
    * served model, and the broadcast workload on an 8-shard fanout fit of
    * its live points, since a broadcast model has no PQ serving path. */
  private def pqLayer(run: Run, server: Server, routedRecalls: Seq[Double], queries: QueryBatch,
      truth: Long => Array[(Long, Double)]): Unit = {
    import run._
    server match {
      case _: Routed =>
        val calls = tracer.durationsMs("pq.search")
        metric("pq.cold_call_s", calls.head / 1e3, "s")
        metric("pq.search_call_ms", Stats.median(calls.drop(1)), "ms")
        metric("pq.recall_at_10", Stats.mean(routedRecalls), "fraction")
      case _ =>
        val fm = server match {
          case Fanout(m) => m
          case b: Broadcast =>
            val idx = b.model.index
            VamanaFanout.fit(spark.createDataFrame(idx.ids.toSeq.zip(idx.points.toSeq))
              .toDF("vec_id", "embedding"), Server.Params, 8)
        }
        val key = s"perfbench-pq-$seed"
        val recalls = mutable.ArrayBuffer.empty[Double]
        val ids = queries.vecs.keys.toArray.sorted
        val times = ids.grouped(PqProbeBatch).toSeq.map { part =>
          val df = queries.df.where(org.apache.spark.sql.functions.col("query_id").isin(part.toSeq: _*))
          val c0 = System.nanoTime()
          op("pq.search")(Server.hits(VamanaPq.searchFanoutModel(fm, df, key, Workloads.K,
            fullBeam = false))).foreach { hits =>
            val byQ = hits.groupBy(_.qid)
            part.foreach { qid =>
              recalls += Exact.recall(byQ.getOrElse(qid, Array.empty[Hit]).map(_.id), truth(qid))
            }
          }
          secsSince(c0)
        }
        metric("pq.cold_call_s", times.head, "s")
        metric("pq.search_call_ms", Stats.median(times.drop(1)) * 1e3, "ms")
        metric("pq.recall_at_10", Stats.mean(recalls.toSeq), "fraction")
        if (!server.isInstanceOf[Fanout]) fm.unpersist() // the broadcast workload's own fit
    }
  }

  private def metricsJson(m: collection.Map[String, (Double, String)]): String =
    m.map { case (n, (v, u)) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
}

/** The metric names the result line carries, by mode. */
object Names {
  val endToEnd: Seq[String] = Seq(
    "setup_s", "search_qps", "recall_at_10", "update_pps", "updated_recall_at_10", "index_mb")
  val perLayer: Seq[String] = Seq(
    "kernel.build_s", "kernel.build_speedup", "kernel.search_us", "kernel.search_comps",
    "kernel.search_hops", "kernel.l2sq_ns", "kernel.prune_us", "kernel.insert_us",
    "kernel.delete_us", "kernel.reachable_frac",
    "serving.fit_s", "serving.save_s", "serving.load_s", "serving.search_call_ms",
    "serving.one_query_call_ms", "serving.insert_call_ms", "serving.delete_call_ms",
    "serving.replication", "serving.shard_skew",
    "pq.cold_call_s", "pq.search_call_ms", "pq.recall_at_10",
    "spark.jobs_per_call", "spark.stages_per_call", "spark.tasks_per_call",
    "spark.shuffle_bytes_per_call", "spark.task_run_ms_per_call", "spark.task_cpu_ms_per_call",
    "spark.task_deser_ms_per_call", "spark.fit_shuffle_bytes",
    "jvm.cpu_ms_per_query", "jvm.gc_ms", "jvm.heap_after_gc_mb", "trace.overhead_frac")
}
