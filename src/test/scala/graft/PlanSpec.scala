package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators._

/** Physical-plan shape assertions — the properties that make these operators
  * survive a 1000-executor scale-up: predicate pushdown to parquet, column
  * pruning, broadcast of the small join side. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.01"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q6 filter predicates are pushed down to the parquet scan") {
    spark.sparkContext.setLogLevel("WARN")
    val p = plan(Relational.filteredRevenue(spark, dir))
    assert(p.contains("PushedFilters: [") && p.contains("l_discount"),
      s"expected l_discount pushdown in:\n$p")
  }

  test("nano-timestamp date predicate pushes down to the scan (q1 shipdate)") {
    val p = plan(Relational.pricingSummary(spark, dir))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"expected l_shipdate pushdown in:\n$p")
  }

  test("q1 scan is pruned to the referenced lineitem columns") {
    val p = plan(Relational.pricingSummary(spark, dir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      s"scan reads unneeded columns: $readSchema")
    assert(readSchema.contains("l_quantity"))
  }

  test("knnExact broadcasts the query side (no corpus shuffle before scoring)") {
    val emb = Tables.embeddings(spark, dir)
    val p = plan(Knn.knnExact(emb, Knn.queriesFromPoints(emb, 10), 10))
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected broadcast join in:\n$p")
  }

  test("region revenue broadcasts the dimension tables") {
    val p = plan(Relational.regionRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join in:\n$p")
  }

  test("knnExactAgg matches knnExact exactly and partially aggregates before the shuffle") {
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val win = Knn.knnExact(emb, q, 10).collect().map(_.toSeq).toSeq
    val agg = Knn.knnExactAgg(emb, q, 10).collect().map(_.toSeq).toSeq
    assert(win == agg, "heap aggregate must reproduce the window top-k exactly")
    val p = plan(Knn.knnExactAgg(emb, q, 10))
    assert(p.contains("Aggregate") && p.toLowerCase.contains("partial"),
      s"expected partial aggregation in:\n$p")
  }

  test("dedup ngram jaccard contains no cartesian/broadcast-nested-loop join") {
    val p = plan(Dedup.dedupNgramJaccard(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"text dedup must never be all-pairs:\n$p")
  }

  test("q21 collapses to ONE lineitem scan + one order-key shuffle (no nested loop)") {
    val df = Relational.soleFailedSupplier(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q21 must stay equi-keyed:\n$p")
    // the r6 semi/anti formulation scanned lineitem twice and shuffled it
    // three times; the per-order collect_set form reads it exactly once
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1,
      s"expected exactly one lineitem scan in:\n$p")
    assert(p.contains("collect_set"), s"expected per-order set aggregation in:\n$p")
  }

  test("range join buckets the BETWEEN predicate into an equi-join (no nested loop)") {
    val df = Temporal.sessionRangeJoin(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"granule bucketing must make the interval join keyed:\n$p")
    // and it must agree with the brute-force inequality join
    import org.apache.spark.sql.functions.{col, unix_micros}
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val gap = Temporal.RangeGapUs
    val intervals = ev.filter(_._4 != "error").groupBy(_._2).flatMap { case (uid, evs) =>
      val sorted = evs.sortBy(e => (e._3, e._1))
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var sid = 0L
      for (e <- sorted) {
        if (sessions.isEmpty || e._3 - sessions.last._3 > gap) {
          sid += 1; sessions += ((sid, e._3, e._3))
        } else {
          val l = sessions.last; sessions(sessions.length - 1) = (l._1, l._2, e._3)
        }
      }
      sessions.map { case (s, a, b) => (uid, s, a, b) }
    }.toSeq
    val expected = (for {
      (eid, uid, us, tpe) <- ev if tpe == "error"
      (iuid, sid, a, b) <- intervals if iuid == uid && us >= a && us <= b
    } yield (eid, uid, sid, us - a)).toSet
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"range join mismatch: ${(expected diff got).take(3)} missing, " +
      s"${(got diff expected).take(3)} extra")
    assert(got.nonEmpty, "fixture must contain contained probes")
  }

  test("bucketed join shuffles NEITHER side (bucketBy pre-pays the exchange)") {
    Formats.withBucketedJoin(spark, dir, 8) { joined =>
      import org.apache.spark.sql.functions.{col, count, lit}
      val p = plan(joined.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
      assert(p.contains("SortMergeJoin"), s"expected sort-merge join in:\n$p")
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed scan must satisfy the join's distribution without a shuffle:\n$p")
      assert(p.contains("Bucketed: true"), s"scan must actually read bucketed:\n$p")
    }
  }

  test("z-ordered box scan pushes BOTH dimension predicates to the parquet reader") {
    Formats.withZorderedLineitem(spark, dir) { box =>
      val p = plan(box)
      assert(p.contains("PushedFilters: [") && p.contains("l_partkey") && p.contains("l_suppkey"),
        s"expected both box predicates pushed to the z-layout scan:\n$p")
      // the box over the clustered layout must see exactly the original's rows
      import org.apache.spark.sql.functions.col
      val expected = Tables.lineitem(spark, dir)
        .where(col("l_partkey") >= 100 && col("l_partkey") < 200 &&
          col("l_suppkey") >= 10 && col("l_suppkey") < 60).count()
      assert(box.count() == expected, "z-ordered box must cover the original rows exactly")
    }
  }

  test("date-partitioned events scan prunes to the filtered week's directories") {
    Formats.withPartitionedEvents(spark, dir) { week =>
      val p = plan(week)
      assert(p.contains("PartitionFilters: [") && p.contains("event_date"),
        s"expected metadata-level partition pruning in:\n$p")
      // the predicate must NOT survive as a post-scan row filter
      assert(!p.linesIterator.exists(l => l.trim.startsWith("+- Filter") && l.contains("event_date")),
        s"partition predicate leaked into a row filter:\n$p")
      // and the pruned read must see exactly the week's rows
      import org.apache.spark.sql.functions.{col, to_date}
      val expected = Tables.events(spark, dir)
        .where(to_date(col("ts")) >= "2024-01-08" && to_date(col("ts")) < "2024-01-15").count()
      assert(week.count() == expected, "pruned scan must cover the full week exactly")
    }
  }

  test("no corpus-derived frame carries a forced broadcast hint (q24, q5)") {
    // an explicit broadcast() hint bypasses AQE's size check, so a hint on
    // a corpus- or sf-proportional frame (q24's per-part aggregate, q5's
    // supplier) OOMs the driver at 100 TB even though it "works" at sf0.1;
    // only constant-cardinality dimensions (nation/region) may be hinted.
    // Identified by output columns: fact/sf-proportional tables use the
    // l_/o_/c_/s_/p_ prefixes, the constant dims n_/r_.
    for (df <- Seq(Relational.smallQuantityRevenue(spark, dir),
        Relational.localSupplierVolume(spark, dir))) {
      val hints = df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      val bad = hints.filter(_.child.output.map(_.name).exists(n =>
        Seq("l_", "o_", "c_", "s_", "p_", "qty_").exists(n.startsWith)))
      assert(bad.isEmpty,
        s"forced broadcast of a corpus/sf-proportional frame:\n${bad.mkString("\n")}")
    }
  }

  test("lm scoring broadcasts its count tables (model side never shuffles the corpus)") {
    val p = plan(TextAnalysis.lmPerplexity(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast model joins in:\n$p")
    assert(!p.contains("CartesianProduct"), s"vocab-size crossJoin must broadcast:\n$p")
    // exactly one shuffle over corpus-sized data: the final groupBy(doc_id)
    // (model-count aggregations shuffle only vocab-bounded rows)
  }

  test("oov and boilerplate broadcast their small lookup sides") {
    val p1 = plan(TextAnalysis.oovRate(spark, dir))
    assert(p1.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p1")
    val p2 = plan(TextAnalysis.boilerplateScore(spark, dir))
    assert(p2.contains("BroadcastHashJoin"), s"hot-shingle join must broadcast:\n$p2")
  }

  test("bm25 broadcasts the query-term stats and ranks through a group-limited window") {
    val p = plan(TextAnalysis.bm25Retrieval(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"query-term model join must broadcast:\n$p")
    // the rank is a row_number ≤ k window — bounded ONLY because Spark
    // plants a WindowGroupLimit below the exchange (k rows per partition
    // per qid cross the shuffle, the TopKAggregator-heap shape). A plain
    // Window without the group limit would serialize a query's whole
    // corpus posting list through one task at scale, so pin the limit.
    assert(p.contains("WindowGroupLimit"),
      s"ranking must be a group-limited window (bounded pre-shuffle):\n$p")
  }

  test("sparse serving broadcasts the query dictionary; every window is keyed; ranks are heap-aggregated") {
    graft.core.Memo.release(SparseRetrieval) // force the un-cached end-to-end plan
    val p = plan(SparseRetrieval.sparseTopk(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"query dictionary must broadcast:\n$p")
    // the ONLY window is the encode's per-doc pruning — keyed by doc_id, a
    // hash shuffle; an unkeyed window (or a per-qid rank window) would
    // serialize the corpus through one task at scale
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, s"expected the doc-keyed pruning window:\n$p")
    assert(winLines.forall(_.contains("doc_id")), s"every window must be doc-keyed:\n$p")
  }

  test("dsir broadcasts the bucket model; the dup-span frame join stays a shuffle join") {
    val p1 = plan(CorpusPipeline.dsirWeight(spark, dir))
    assert(p1.contains("BroadcastHashJoin"), s"1024-row model must broadcast:\n$p1")
    // substring_dedup's duplicated-hash set is corpus-proportional: a
    // broadcast hint there would be the q24 bug; the semi-join must be
    // free to shuffle (AQE may still pick broadcast at toy sizes — assert
    // only that no EXPLICIT hint forces it)
    val hints = Dedup.substringDedup(spark, dir).queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"no forced broadcast of corpus-derived frames:\n$hints")
  }

  test("substring dedup scans the corpus exactly once (single explode, no self-join)") {
    // The stride-1 window explode is the operator's dominant cost; the
    // round-13 regression (0.85s -> 5.99s at sf0.1) was this plan exploding
    // the corpus three times. The df count comes from a window over the
    // (doc, hash) pre-aggregate, so the whole operator is one scan.
    val p = plan(Dedup.substringDedup(spark, dir))
    val scans = p.linesIterator.count(l => l.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly one parquet scan, got $scans:\n$p")
    val explodes = p.linesIterator.count(l => l.contains("Generate explode"))
    assert(explodes == 1, s"expected exactly one explode, got $explodes:\n$p")
    assert(!p.contains("Join"), s"no self-join in the single-scan plan:\n$p")
  }

  test("mixture sampling and pii redaction are scan-shaped (no join, no pre-sort shuffle)") {
    val p1 = plan(CorpusPipeline.sampleMixture(spark, dir))
    assert(!p1.contains("Join"), s"rate must come from an expression, not a join:\n$p1")
    val p2 = plan(TextAnalysis.piiRedact(spark, dir))
    assert(!p2.contains("Join") && !p2.contains("HashAggregate"),
      s"redaction is a pure narrow pass:\n$p2")
  }

  test("line dedup is a pure map pass; corpus stats exchanges one row per task") {
    // drop the output orderBy (presentation only) before asserting: the
    // operator's claim is that the WORK is exchange-free
    val body = Dedup.lineDedupIntraOf(Tables.documents(spark, dir), 8)
      .queryExecution.executedPlan.toString
      .linesIterator.dropWhile(l => l.contains("Sort") || l.contains("Exchange range"))
      .mkString("\n")
    val p1 = plan(Dedup.lineDedupIntraOf(Tables.documents(spark, dir), 8).limit(1))
    assert(!body.contains("Exchange hashpartitioning") && !p1.contains("Join"),
      s"chunk/dedup/reassemble must be narrow expressions:\n$body")
    val p2 = plan(CorpusPipeline.corpusStats(spark, dir))
    assert(p2.contains("partial"), // map-side combine before the single-row exchange
      s"data card must partially aggregate:\n$p2")
    assert(!p2.contains("Join"), s"data card is one scan:\n$p2")
  }

  test("soft-weight sample takes its global top-n distributed, not via a rank window") {
    val p = plan(Dedup.softWeightSample(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-n must plan as per-partition heaps + driver merge:\n$p")
    // the only Window allowed is the n-row rank assignment AFTER the limit
    val preLimit = p.linesIterator.dropWhile(l => !l.contains("TakeOrderedAndProject"))
      .mkString("\n")
    assert(!preLimit.contains("Window"),
      s"no corpus-wide window below the top-n:\n$p")
  }

  test("winnow row-form fingerprinting is shuffle-free up to the output sort") {
    // the window-function form pays a per-doc hashpartitioning exchange, a
    // rightmost-tie self-join, and a groupBy; the per-row HOF form must be
    // one narrow projection per doc — only the presentation orderBy sorts
    val body = Dedup.winnowRowFingerprint(spark, dir)
      .queryExecution.executedPlan.toString
      .linesIterator.dropWhile(l => l.contains("Sort") || l.contains("Exchange range"))
      .mkString("\n")
    assert(!body.contains("Exchange hashpartitioning") && !body.contains("Join") &&
      !body.contains("Window"),
      s"row-form winnow must be a narrow expression pass:\n$body")
  }

  test("kmeans assignment is scan-shaped; curated docs ranks without a Window") {
    // the assignment pass must be: parquet scan -> narrow codegen argmin
    // against broadcast centroid literals -> (range exchange only for the
    // presentation sort). Any hash exchange or join would mean the loop
    // shuffles the corpus per iteration — the thing the design forbids.
    val pa = plan(Clustering.kmeansAssign(spark, dir))
    assert(!pa.contains("Exchange hashpartitioning") && !pa.contains("Join"),
      s"kmeans assignment must be a narrow scan pass:\n$pa")
    assert(pa.contains("l2sq_long_native"),
      s"assignment must ride the codegen long kernel:\n$pa")
    // the curated-docs cut must rank via the bounded heap aggregation —
    // a corpus-wide Window rank would serialize per-cluster at 100 TB
    for (df <- Seq(Clustering.clusterCuratedDocs(spark, dir),
        Clustering.clusterBalancedSample(spark, dir))) {
      val pc = plan(df)
      assert(!pc.contains("Window"),
        s"per-cluster rank must use the bounded TopK heap, not a rank window " +
          s"(k reducers would own the corpus):\n$pc")
      assert(pc.contains("partial"),
        s"per-cluster heap must combine map-side:\n$pc")
    }
  }

  test("range search broadcasts the query side; radius filter applies in the scan stage") {
    val p = plan(Similarity.rangeSearchExact(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"queries must broadcast (corpus scanned once, no shuffle before the filter):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the range scan:\n$p")
    assert(p.contains("l2sq_native"), s"radius scoring must ride the codegen kernel:\n$p")
  }

  test("maxsim scoring broadcasts the query side and rides the codegen dot kernel") {
    val p = plan(Similarity.maxSimTopK(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"maxsim queries must broadcast:\n$p")
    assert(p.contains("dot_native"), s"sub-dots must ride the codegen kernel:\n$p")
  }

  test("routed serving plans are shard scatter + merge only — no corpus join, no cartesian") {
    // every routed serving form scatters the bounded query batch to the
    // cached shard kernels (flatMap over the shard dataset) and merges;
    // a BroadcastNestedLoopJoin or CartesianProduct anywhere in these
    // plans would mean the corpus entered a join — the exact shape the
    // clustered layout exists to avoid. (The routed GATES additionally
    // embed knn-exact oracles whose BNLJ broadcasts the 10-query batch,
    // which is the correct direction and asserted by the knnExact test.)
    import graft.vamana.VamanaOps
    val emb = Tables.embeddings(spark, dir)
    val q = Knn.queriesFromPoints(emb, 10)
    val m = VamanaOps.routedModel(spark, dir)
    for ((name, df) <- Seq(
        "searchRouted" -> m.searchRouted(q, 10, nprobe = 2),
        "searchRoutedAdaptive" -> m.searchRoutedAdaptive(q, 10),
        "searchRoutedFiltered" -> m.searchRoutedFiltered(q, Array(1L, 2L, 3L), 10, 2),
        "rangeSearch" -> m.rangeSearch(q, VamanaOps.RangeRadiusSq))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian over the corpus:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name: serving must scatter to shard kernels, never join the corpus:\n$p")
    }
  }

  test("dataset diff is one full outer join on the id — no window, no extra exchange") {
    val p = plan(CorpusPipeline.datasetDiff(spark, dir))
    assert(p.contains("FullOuter"), s"diff must be a full outer join:\n$p")
    assert(!p.contains("Window"), s"diff needs no rank window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff must stay an equi-join on doc_id:\n$p")
  }
}
