package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate's moving parts, tested off-JVM-noise: the
  * previous-round BENCH_FULL.json parse (if it silently broke, the gate
  * would report an empty diff forever) and the 2x-AND-0.5s flag rule. */
class BenchGateSpec extends AnyFunSuite {

  private val sample =
    """{"metric":"total","value":97.37,"unit":"sec","queries":{"q1":0.312,""" +
    """"substring_dedup":5.9898,"vamana_search":0.1053},""" +
    """"storage_mb_after":{"q1":42.0},"regressions":{},"sf":"/x","iters":3}"""

  test("parsePrevQueries extracts exactly the queries block") {
    val m = Bench.parsePrevQueries(sample)
    assert(m == Map("q1" -> 0.312, "substring_dedup" -> 5.9898,
      "vamana_search" -> 0.1053))
  }

  test("parsePrevQueries handles scientific-notation medians") {
    // Scala renders doubles below 1e-3 as "1.0E-4"; truncating the exponent
    // would read a 10000x-inflated baseline and fabricate/suppress flags.
    val m = Bench.parsePrevQueries(
      """{"queries":{"fast":1.0E-4,"slow":2.5e+1,"neg":3.1E-2,"mid":0.5}}""")
    assert(m == Map("fast" -> 1.0e-4, "slow" -> 25.0, "neg" -> 0.031, "mid" -> 0.5))
  }

  test("parsePrevQueries is empty on garbage, missing block, and empty file") {
    assert(Bench.parsePrevQueries("").isEmpty)
    assert(Bench.parsePrevQueries("not json at all").isEmpty)
    assert(Bench.parsePrevQueries("""{"metric":"total","value":1.0}""").isEmpty)
  }

  test("regression rule: both thresholds must trip (2x AND 0.5s absolute)") {
    val prev = Map("a" -> 1.0, "b" -> 0.1, "c" -> 2.0, "d" -> 1.0)
    val cur = Seq(
      "a" -> 2.6,  // 2.6x and +1.6s -> flagged
      "b" -> 0.45, // 4.5x but +0.35s -> noise, not flagged
      "c" -> 3.5,  // +1.5s but 1.75x -> not flagged
      "e" -> 99.0) // new query, no baseline -> not flagged
    assert(Bench.regressionsOf(prev, cur) == Seq(("a", 1.0, 2.6)))
  }

  test("tail-latency percentile is nearest-rank over the sorted sample") {
    val s100 = (1 to 100).map(_.toDouble)
    assert(ScaleBench.percentile(s100, 0.50) == 50.0)
    assert(ScaleBench.percentile(s100, 0.95) == 95.0)
    assert(ScaleBench.percentile(s100, 1.00) == 100.0)
    assert(ScaleBench.percentile(Seq(7.26), 0.95) == 7.3) // rounds to 0.1
    assert(ScaleBench.percentile(Seq(1.0, 2.0), 0.01) == 1.0) // clamps low
  }

  test("early-round regression is caught via the committed-snapshot baseline") {
    // Round-15 sequence: committed BENCH_FULL has dedup_minhash at 0.726s;
    // a mid-round run regresses it to 1.2s and OVERWRITES the file; the
    // end-of-round run lands at 1.277s. Diffing prev-run only sees
    // 1.2 -> 1.277 (no flag); the min-merged baseline keeps 0.726 and flags.
    val committed = Map("dedup_minhash" -> 0.726)
    val prevRun = Map("dedup_minhash" -> 1.2)
    val cur = Seq("dedup_minhash" -> 1.277)
    assert(Bench.regressionsOf(prevRun, cur).isEmpty) // the blind spot
    val merged = Bench.baselineOf(Seq(prevRun, committed))
    assert(merged == Map("dedup_minhash" -> 0.726))
    // 1.277 < 2 * 0.726 — the hard 2x rule alone still misses a 1.76x creep;
    // the softer drift tier (1.5x AND 0.4s vs COMMITTED only) catches it
    assert(Bench.regressionsOf(committed, cur, ratio = 1.5, abs = 0.4)
      == Seq(("dedup_minhash", 0.726, 1.277)))
    // and the hard tier still fires on a clean 2x against the merged baseline
    assert(Bench.regressionsOf(merged, Seq("dedup_minhash" -> 1.5))
      == Seq(("dedup_minhash", 0.726, 1.5)))
  }

  test("baselineOf merges per-query minima across sources") {
    val a = Map("x" -> 1.0, "y" -> 0.2)
    val b = Map("x" -> 0.4, "z" -> 3.0)
    assert(Bench.baselineOf(Seq(a, b)) == Map("x" -> 0.4, "y" -> 0.2, "z" -> 3.0))
    assert(Bench.baselineOf(Seq(Map.empty, a)) == a) // missing source is a no-op
    assert(Bench.baselineOf(Nil).isEmpty)
  }

  test("committedQueries reads HEAD's BENCH_FULL.json and degrades to empty") {
    // the real repo has a committed BENCH_FULL.json — the parse must yield
    // the same keys the live file has (both written by the same code)
    val fromGit = Bench.committedQueries("/root/repo/BENCH_FULL.json")
    assert(fromGit.nonEmpty && fromGit.values.forall(_ >= 0))
    // untracked path -> empty, never a throw
    assert(Bench.committedQueries("/tmp/definitely_not_tracked.json").isEmpty)
  }

  test("committedQueries resolves repo-relative paths for NESTED bench files") {
    // HEAD:<bare file name> only works at the repo root; a benchOut nested
    // below it needs the rev-parse --show-prefix resolution (a wrong path
    // silently degrades the committed baseline to empty — the failure
    // mode this pins)
    val dir = java.nio.file.Files.createTempDirectory("graft_benchgit_").toFile
    def git(args: String*): Int =
      new ProcessBuilder(("git" +: "-C" +: dir.getAbsolutePath +: args): _*)
        .start().waitFor()
    try {
      git("init", "-q")
      git("config", "user.email", "bench@test")
      git("config", "user.name", "bench test")
      val nested = new java.io.File(dir, "sub/deep")
      assert(nested.mkdirs())
      val f = new java.io.File(nested, "BENCH_FULL.json")
      java.nio.file.Files.write(f.toPath,
        """{"metric":"total","queries":{"q1":1.5,"q2":0.25}}""".getBytes)
      git("add", ".")
      git("commit", "-q", "-m", "nested bench fixture")
      assert(Bench.committedQueries(f.getAbsolutePath) == Map("q1" -> 1.5, "q2" -> 0.25))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("round-13's substring_dedup regression would have been flagged") {
    val prev = Bench.parsePrevQueries(
      """{"queries":{"substring_dedup":0.8469,"winnow_overlap":1.4416}}""")
    val flagged = Bench.regressionsOf(prev,
      Seq("substring_dedup" -> 5.9898, "winnow_overlap" -> 3.7426))
    assert(flagged.map(_._1) == Seq("substring_dedup", "winnow_overlap"))
  }

  test("a query that throws is reported failed, not timed") {
    var calls = 0
    val boom = Bench.timeMedian(3) { () =>
      calls += 1
      throw new IllegalStateException("query failed on purpose")
    }
    assert(boom == Left("java.lang.IllegalStateException: query failed on purpose"))
    assert(calls == 1, "the failing warm-up ends the query")
    // a failure in a later timed run fails the query too
    var n = 0
    assert(Bench.timeMedian(3) { () => n += 1; if (n == 3) sys.error("third run") }.isLeft)
    val ok = Bench.timeMedian(3)(() => Thread.sleep(2))
    assert(ok.exists(_ >= 0.002))
    assert(Bench.jsonStrings(Seq("q\"1" -> "java.lang.RuntimeException: a\\b\nc")) ==
      "{\"q\\\"1\":\"java.lang.RuntimeException: a\\\\b\\u000ac\"}")
  }

  test("only a run on every host CPU writes the unsuffixed BENCH_FULL.json") {
    assert(Bench.outputPaths("/r/BENCH_FULL.json", "32", 32) ==
      Seq("/r/BENCH_FULL.json", "/r/BENCH_FULL_c32.json"))
    assert(Bench.outputPaths("/r/BENCH_FULL.json", "8", 32) == Seq("/r/BENCH_FULL_c8.json"))
    assert(Bench.outputPaths("/r.d/out", "4", 4) == Seq("/r.d/out", "/r.d/out_c4"))
  }
}
