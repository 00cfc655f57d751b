package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.operators.Knn
import graft.vamana._

/** Serving-path guarantees for the beyond-broadcast (fanout) regime: fit
  * builds shard graphs exactly once, searches never rebuild (round 1 rebuilt
  * every shard graph per query batch), and persistence roundtrips. */
class FanoutServingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val params =
    VamanaParams(dim = 64, maxDegree = 32, beamWidth = 64, alpha = 1.2f, efSearch = 128)

  private def queries(n: Int) =
    Knn.queriesFromPoints(Tables.embeddings(spark, dir), n)

  test("fitted fanout model: a second search call runs ZERO graph builds") {
    spark.sparkContext.setLogLevel("WARN")
    val model = VamanaFanout.fit(Tables.embeddings(spark, dir), params, numShards = 3)
    val q = queries(10)
    assert(model.search(q, 10).count() == 100)
    val before = VamanaKernel.buildCount.get()
    assert(model.search(q, 10).count() == 100)
    assert(VamanaKernel.buildCount.get() == before,
      "search must serve from the fitted shard kernels, not rebuild them")
  }

  test("fanout save/load: reloaded model searches identically with zero builds") {
    val model = VamanaFanout.fit(Tables.embeddings(spark, dir), params, numShards = 3)
    val tmp = java.nio.file.Files.createTempDirectory("fanout_model").toString
    model.save(tmp)
    val loaded = FanoutModel.load(spark, tmp)
    val q = queries(10)
    val a = model.search(q, 10).collect().map(_.toSeq).toSeq
    val before = VamanaKernel.buildCount.get()
    val b = loaded.search(q, 10).collect().map(_.toSeq).toSeq
    assert(VamanaKernel.buildCount.get() == before, "load must restore kernels, not rebuild")
    assert(a == b, "persisted shard models must answer exactly like the fitted ones")
  }

  test("fanout filtered search: full beam equals exact filtered kNN; default beam clears the gate") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val model = VamanaFanout.fit(emb, params, numShards = 3)
    // allowed = every third id — mid-selectivity, the filtered-beam band
    val allowedDf = emb.select(col("vec_id")).where(col("vec_id") % 3 === 0)
    val allowed = allowedDf.collect().map(_.getLong(0))
    val q = queries(10)
    val exact = Knn.knnExact(
        emb.join(allowedDf.withColumnRenamed("vec_id", "vec_id"), "vec_id"), q, 10)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = model.searchFiltered(q, allowed, 10, fullBeam = true)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact,
      s"full-beam fanout filtered search must BE exact filtered kNN; " +
        s"missing ${exact -- full}, extra ${full -- exact}")
    // default beam: recall-gated like the unfiltered fanout path
    val got = model.searchFiltered(q, allowed, 10)
    got.collect().foreach(r => assert(allowed.contains(r.getLong(2)),
      s"disallowed id ${r.getLong(2)} leaked through the filter"))
    val truthDf = Knn.knnExact(emb.join(allowedDf, "vec_id"), q, 10)
    val r = Knn.recallAt(10, got, truthDf)
    assert(r >= 0.8, s"filtered fanout recall@10 = $r below the 0.8 gate")
  }

  test("denied-set, allowed-set, and adaptive DataFrame forms agree on complement filters") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val model = VamanaFanout.fit(emb, params, numShards = 3)
    val allIds = emb.select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val denied = allIds.filter(_ % 5 == 0)
    val allowed = allIds.filter(_ % 5 != 0)
    val q = queries(10)
    def resultSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaAllowed = resultSet(model.searchFiltered(q, allowed, 10, fullBeam = true))
    val viaDenied = resultSet(model.searchDenied(q, denied, 10, fullBeam = true))
    assert(viaAllowed == viaDenied,
      "searchDenied(S) must equal searchFiltered(complement of S)")
    val spark2 = spark
    import spark2.implicits._
    val viaAllowedDf = resultSet(model.searchFiltered(
      q, spark.createDataset(allowed.toSeq).toDF("id"), 10, fullBeam = true))
    val viaDeniedDf = resultSet(model.searchDenied(
      q, spark.createDataset(denied.toSeq).toDF("id"), 10, fullBeam = true))
    assert(viaAllowedDf == viaAllowed, "adaptive allowed-DataFrame form diverged from array form")
    assert(viaDeniedDf == viaAllowed, "adaptive denied-DataFrame form diverged from array form")
    assert(model.totalPoints == allIds.length.toLong,
      "totalPoints must count live external ids")
  }

  test("ANN-served hard negatives: every result crosses labels, full beam matches brute force") {
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.col
    val rows = VamanaOps.hardNegativesFanout(spark, dir, fullBeam = true).collect()
    assert(rows.nonEmpty, "mining join returned nothing")
    rows.foreach { r =>
      assert(r.getAs[Long]("qlabel") != r.getAs[Long]("neg_label"),
        s"same-label negative leaked: $r")
    }
    // full-beam exactness: id sets per query equal the brute-force miner's
    val ann = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neg_id"))).toSet
    val exact = graft.operators.Similarity.hardNegatives(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neg_id"))).toSet
    assert(ann == exact, s"full-beam ANN mining diverges: missing ${exact -- ann}, extra ${ann -- exact}")
    // gate query: overlap = min(k, n_other_label) for every query
    val nOther = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byLabel = nOther.groupBy(_._2).view.mapValues(_.length).toMap
    val gate = VamanaOps.hardNegativesFanoutGate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("overlap")).toMap
    nOther.filter(_._1 < 10).foreach { case (qid, lbl) =>
      val expect = math.min(5, nOther.length - byLabel(lbl))
      assert(gate(qid) == expect, s"query $qid overlap ${gate(qid)} != $expect")
    }
  }

  test("degree check aggregates the graph frame of a 3-shard merged fit") {
    val emb = Tables.embeddings(spark, dir)
    val model = VamanaIndexer.fit(emb, params, numShards = 3)
    val row = VamanaOps.degreeCheckOf(spark, model).collect().head
    assert(row.getAs[Long]("n_nodes") == emb.count(), "every node must be checked")
    assert(row.getAs[Int]("max_out_degree") <= params.maxDegree)
    assert(row.getAs[Boolean]("ok"), "merged re-pruned graph must respect R")
  }

  test("reference binary index format: export -> import roundtrips exactly") {
    val model = VamanaIndexer.fit(Tables.embeddings(spark, dir), params)
    val idx = model.index
    val tmp = java.nio.file.Files.createTempDirectory("binio").resolve("index.bin").toString
    VamanaBinaryIO.exportIndex(idx, tmp)
    val imported = VamanaBinaryIO.importIndex(tmp, efSearch = params.efSearch, seed = params.seed)
    assert(imported.size == idx.size)
    assert(imported.medoid == idx.medoid)
    assert(imported.ids.sameElements(idx.ids))
    assert(imported.graph.zip(idx.graph).forall { case (a, b) => a.sameElements(b) })
    assert(imported.points.zip(idx.points).forall { case (a, b) => a.sameElements(b) })
    assert(imported.params == idx.params, "R/L/alpha survive; efSearch supplied (file omits it)")
    val q = queries(5)
    val a = new VamanaModel(idx).search(q, 10).collect().map(_.toSeq).toSeq
    val b = new VamanaModel(imported).search(q, 10).collect().map(_.toSeq).toSeq
    assert(a == b, "imported index must search identically")
  }

  test("filtered ANN search: all results pass the predicate, recall >= 0.5 vs exact") {
    import org.apache.spark.sql.functions.col
    val sf01 = "/root/testdata/sf0.01"
    val got = VamanaOps.vamanaSearchFiltered(spark, sf01)
    val allowed = Tables.documents(spark, sf01).where(col("lang") === "en")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val ids = got.select("id").collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(allowed.contains), "predicate must hold on every hit")
    val emb = Tables.embeddings(spark, sf01)
    val allowedDf = Tables.documents(spark, sf01).where(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val truth = Knn.knnExact(emb.join(allowedDf, "vec_id"), Knn.queriesFromPoints(emb, 10), 10)
    val r = Knn.recallAt(10, got, truth)
    assert(r >= 0.5, s"filtered recall@10 = $r below the over-fetch gate")
  }

  test("adaptive filtered search: graph path holds the gate at 10% selectivity, " +
    "exact fallback is perfect at 1%") {
    import org.apache.spark.sql.functions.col
    val sf01 = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, sf01)
    val q = Knn.queriesFromPoints(emb, 10)
    val m = VamanaOps.model(spark, sf01)
    // 10%: force the graph regime (exactScanMaxAllowed=0) with the factor
    // the adaptive rule derives (ceil(2/0.1) = 20)
    val allowed10 = emb.where(col("vec_id") % 10 === 0).select(col("vec_id").as("id"))
    val got10 = VamanaOps.filteredSearch(spark, m, emb, q, allowed10, k = 10,
      overFetch = 20, exactScanMaxAllowed = 0)
    val truth10 = Knn.knnExact(
      emb.join(allowed10.select(col("id").as("vec_id")), "vec_id"), q, 10)
    val r10 = Knn.recallAt(10, got10, truth10)
    assert(r10 >= 0.8, s"10%-selectivity graph-path recall@10 = $r10 below the 0.8 gate")
    // 1%: the adaptive rule must route to the exact scan (tiny allowed set)
    val allowed1 = emb.where(col("vec_id") % 100 === 0).select(col("vec_id").as("id"))
    val got1 = VamanaOps.filteredSearch(spark, m, emb, q, allowed1, k = 10)
    val truth1 = Knn.knnExact(
      emb.join(allowed1.select(col("id").as("vec_id")), "vec_id"), q, 10)
    assert(got1.collect().map(_.toSeq).toSeq == truth1.collect().map(_.toSeq).toSeq,
      "1%-selectivity must take the exact path and match exact kNN bit-for-bit")
  }

  test("binary export refuses ids beyond u32 instead of writing aliased ids") {
    val p = VamanaParams(dim = 2, maxDegree = 2, beamWidth = 4, alpha = 1.2f, efSearch = 8)
    val idx = new LocalIndex(Array(1L << 33), Array(Array(0f, 0f)),
      Array(Array.empty[Int]), 0, p)
    val out = java.nio.file.Files.createTempDirectory("binio_u32").resolve("i.bin").toString
    assertThrows[IllegalArgumentException](VamanaBinaryIO.exportIndex(idx, out))
  }

  test("incremental insert: inserted points are findable, zero rebuilds, old index intact") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val base = VamanaIndexer.fit(emb.where(col("vec_id") < 450), params)
    val beforeSearch = base.search(queries(10), 10).collect().map(_.toSeq).toSeq
    val builds = VamanaKernel.buildCount.get()
    val inserted = base.insert(emb.where(col("vec_id") >= 450))
    assert(VamanaKernel.buildCount.get() == builds, "insert must never run a full build")
    assert(inserted.index.size == emb.count(), "all points present after insert")
    // the inserted vectors must find themselves at rank 1
    val q = emb.where(col("vec_id") >= 450)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val hits = inserted.search(q, 10)
      .where(col("rank") === 1 && col("query_id") === col("id")).count()
    val nNew = q.count()
    assert(hits == nNew, s"every inserted point must be its own nearest neighbor ($hits/$nNew)")
    // recall on ORIGINAL queries must hold after the insert
    val qs = queries(30).cache()
    val r = Knn.recallAt(10, inserted.search(qs, 10), Knn.knnExact(emb, qs, 10))
    assert(r >= 0.8, s"post-insert recall@10 = $r below the 0.8 gate")
    // copy-on-write: the pre-insert model still answers exactly as before
    assert(base.search(queries(10), 10).collect().map(_.toSeq).toSeq == beforeSearch,
      "insert must not mutate the source index")
    assert(base.index.size == 450)
  }

  test("delete: removed points never surface, survivors stay searchable, source intact") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val base = VamanaIndexer.fit(emb, params)
    val beforeSearch = base.search(queries(10), 10).collect().map(_.toSeq).toSeq
    val builds = VamanaKernel.buildCount.get()
    val deleted = base.delete((0L until 50L).toArray)
    assert(VamanaKernel.buildCount.get() == builds, "delete repairs edges, never rebuilds")
    assert(deleted.index.size == emb.count() - 50)
    val q = emb.where(col("vec_id") >= 50 && col("vec_id") < 80)
      .select((col("vec_id") - 50).as("query_id"), col("embedding").as("query_vec"))
    val got = deleted.search(q, 10)
    assert(got.where(col("id") < 50).count() == 0, "deleted ids must never surface")
    val remaining = emb.where(col("vec_id") >= 50)
    val r = Knn.recallAt(10, got, Knn.knnExact(remaining, q, 10))
    assert(r >= 0.8, s"post-delete recall@10 = $r below the 0.8 gate (hole repair failed?)")
    assert(base.search(queries(10), 10).collect().map(_.toSeq).toSeq == beforeSearch,
      "delete must not mutate the source index")
  }

  test("insert/delete registered queries survive the smoke-scale (50-vector) dataset") {
    // at sf0.001 the old cut arithmetic produced an empty base fit (insert)
    // and deleted the entire corpus (delete)
    assert(VamanaOps.vamanaInsertSearch(spark, dir).count() > 0)
    assert(VamanaOps.vamanaDeleteSearch(spark, dir).count() > 0)
  }

  test("vamana_roundtrip query reports all-green bits") {
    val row = VamanaOps.vamanaRoundtrip(spark, dir).collect().head
    assert(row.getAs[Boolean]("params_match"))
    assert(row.getAs[Boolean]("point_lookup_match"))
    assert(row.getAs[Boolean]("search_identical"))
  }

  test("rebalance: splits land within 2x of mean; full-beam exactness, PQ memo, and routing survive") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val model = VamanaFanout.fit(emb, params, numShards = 3)
    // a run of inserted batches (fresh ids, hash-routed like production)
    val ins = emb.where(col("vec_id") < 200)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val grown = model.insert(ins)
    val q = queries(10)
    val key = "rebalance_spec_" + System.nanoTime()
    // populate the per-shard PQ memo under this key BEFORE the rebalance
    val pqBefore = VamanaPq.searchFanoutModel(grown, q, key, 10, fullBeam = true)
      .collect().map(_.toSeq).toSeq
    val nBefore = grown.shardSizes
    // hash routing keeps natural skew small, so force the split machinery
    // with the tightest legal threshold: anything above the mean splits
    val reb = grown.rebalance(maxRatio = 1.0, maxPasses = 2)
    val sizes = reb.shardSizes
    assert(sizes.length > nBefore.length, "no shard split — rebalance fixture vacuous")
    val mean = sizes.map(_.toDouble).sum / sizes.length
    assert(sizes.max <= 2.0 * mean, s"max shard ${sizes.max} > 2x mean $mean")
    assert(reb.totalPoints == grown.totalPoints, "rebalance changed the membership union")
    // exactness theorem: full-beam fanout over the rebalanced layout is exact kNN
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(ins)
    val exact = Knn.knnExact(corpus, q, 10).select("query_id", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = reb.withFullBeamShards().search(q, 10).select("query_id", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"missing ${exact -- full}, extra ${full -- exact}")
    // SAME memo key: the membership fingerprint must force a re-encode for
    // the split shards (original id now holds half the points; the fresh id
    // is a cache miss) — full-beam PQ answers stay bit-identical
    val pqAfter = VamanaPq.searchFanoutModel(reb, q, key, 10, fullBeam = true)
      .collect().map(_.toSeq).toSeq
    assert(pqAfter == pqBefore, "PQ serving diverged after rebalance — stale code memo")
    // insert routing still lands on live rows (fit-key space unchanged)
    val more = emb.where(col("vec_id") < 50)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    assert(reb.insert(more).totalPoints == reb.totalPoints + 50)
  }

  test("fanout merge: shard union serves exactly; duplicate ids rejected; sources intact") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val a = VamanaFanout.fit(emb.where(col("vec_id") % 2 === 0), params, numShards = 3)
    val b = VamanaFanout.fit(emb.where(col("vec_id") % 2 === 1), params, numShards = 2)
    val beforeBuilds = VamanaKernel.buildCount.get()
    val m = a.merge(b)
    assert(VamanaKernel.buildCount.get() == beforeBuilds,
      "fanout merge must be a shard re-key + union — zero kernel builds")
    assert(m.totalPoints == a.totalPoints + b.totalPoints, "merge changed the membership union")
    assert(m.shardSizes.length == a.shardSizes.length + b.shardSizes.length)
    // exactness theorem: full-beam fanout over the merged layout = exact kNN over the union
    val q = queries(10)
    val exact = Knn.knnExact(emb, q, 10).select("query_id", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = m.withFullBeamShards().search(q, 10).select("query_id", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"missing ${exact -- full}, extra ${full -- exact}")
    // both inputs keep serving (copy-on-write at the dataset level)
    assert(a.search(q, 5).count() == 50 && b.search(q, 5).count() == 50)
    // overlapping id sets must be rejected, not silently double-served
    intercept[IllegalArgumentException] { a.merge(a) }
    // mixed-metric merge must be rejected: a cosine fit stores normalized
    // kernel-space points, so the union would serve the other side's
    // differently-transformed points against this model's query prep
    val cos = VamanaFanout.fit(
      emb.where(col("vec_id") % 2 === 1)
        .select((col("vec_id") + 400000L).as("vec_id"), col("embedding")),
      params.copy(metric = "cos"), numShards = 2)
    val ex = intercept[IllegalArgumentException] { a.merge(cos) }
    assert(ex.getMessage.contains("metric mismatch"), ex.getMessage)
    // insert routing still lands in the fitted key space
    val more = emb.where(col("vec_id") < 50)
      .select((col("vec_id") + 300000L).as("vec_id"), col("embedding"))
    assert(m.insert(more).totalPoints == m.totalPoints + 50)
    // the re-keyed shard layout survives persistence
    val dir2 = java.nio.file.Files.createTempDirectory("graft_merge_save_").toString
    try {
      m.save(dir2)
      val back = FanoutModel.load(spark, dir2)
      assert(back.totalPoints == m.totalPoints, "save/load after merge lost members")
      val reGot = back.withFullBeamShards().search(q, 10).select("query_id", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(reGot == exact, "reloaded merged model lost full-beam exactness")
    } finally {
      scala.reflect.io.Directory(new java.io.File(dir2)).deleteRecursively()
    }
  }

  test("range search: fanout union at full beam equals the exact range set") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val q = queries(10)
    val exact = graft.operators.Similarity.rangeSearchExact(spark, dir)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "radius fixture must produce in-range points")
    val fanout = VamanaFanout.fit(emb, params, numShards = 3).withFullBeamShards()
      .rangeSearch(q, 1.5)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fanout == exact,
      s"fanout full-beam range union must be exact (${fanout.size} vs ${exact.size})")
    // default-beam broadcast escalation on the same fixture: complete here
    val bcast = VamanaOps.vamanaRangeSearch(spark, dir)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bcast == exact, "escalating-beam broadcast range must match exact at this scale")
  }

  test("routed (clustered) layout: deterministic fit, bounded replication, full-probe exactness, routed recall") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val q = queries(10)
    // deterministic: two independent fits produce identical centroids
    val m1 = VamanaRouted.fit(emb, params, numShards = 4)
    val m2 = VamanaRouted.fit(emb, params, numShards = 4)
    assert(m1.centroids.length == 4)
    assert(m1.centroids.zip(m2.centroids).forall { case (a, b) => a.sameElements(b) },
      "routed fit must be deterministic (seeded sample + seeded k-means)")
    // ε-closure replication is bounded by 2x and covers every point >= once
    val sizes = m1.describeRouting().collect().map(_.getLong(1))
    val total = sizes.sum
    assert(total >= n && total <= 2 * n,
      s"closure replication out of bounds: $total assignments for $n points")
    // full probe + full beam == exact kNN (the gate's theorem)
    val exact = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = m1.withFullBeamShards().search(q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "full-probe full-beam routed merge must equal exact kNN")
    // routed at nprobe=2 of 4: every query answered with k rows, recall
    // clears the e2e floor — probing half the shards must still serve
    val routed = m1.searchRouted(q, 10, nprobe = 2)
    assert(routed.groupBy(col("query_id")).count().collect()
      .forall(_.getLong(1) == 10), "every query must return k rows at nprobe=2")
    val hit = routed.select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(exact).size
    assert(hit >= (exact.size * 0.8).toInt,
      s"routed recall ${hit.toDouble / exact.size} below the 0.8 floor")
    // nprobe=s routed equals the full-probe search entry point
    val viaSearch = m1.search(q, 10).collect().map(_.toSeq).toSeq
    val viaRouted = m1.searchRouted(q, 10, nprobe = 4).collect().map(_.toSeq).toSeq
    assert(viaSearch == viaRouted, "search must be searchRouted at full nprobe")
    // PQ-scored routed serving: full probe + full beam (ADC traversal,
    // exact rerank) must ALSO be exact kNN — the memory-bounded twin
    val pqFull = VamanaPq.searchRoutedModel(m1, q, "spec:routedpq", 10,
        nprobe = 4, fullBeam = true)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pqFull == exact, "full-probe full-beam PQ-routed merge must equal exact kNN")
    // the PQ × adaptive cell: an all-covering band IS the full probe
    val pqAdaptive = VamanaPq.searchRoutedModel(m1, q, "spec:routedpq", 10,
        nprobe = 4, fullBeam = true, routeEps = Some(1e9))
      .collect().map(_.toSeq).toSeq
    val pqFixed = VamanaPq.searchRoutedModel(m1, q, "spec:routedpq", 10,
        nprobe = 4, fullBeam = true)
      .collect().map(_.toSeq).toSeq
    assert(pqAdaptive == pqFixed,
      "an all-covering adaptive band must equal the fixed full probe on ADC scores")
    m1.unpersist(); m2.unpersist()
    // kmeans unit facts: k > sample size clamps; empty sample refuses
    assert(VamanaRouted.kmeans(Array(Array(1f, 2f)), k = 5, iters = 3).length == 1)
    assertThrows[IllegalArgumentException](
      VamanaRouted.kmeans(Array.empty[Array[Float]], 2, 2))
  }

  test("routed insert/delete: fit-rule routing, zero rebuilds, no ghosts, exactness preserved") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val base = VamanaRouted.fit(emb.where(col("vec_id") < n - 20), params, numShards = 4)
    val batch = emb.where(col("vec_id") >= n - 20)
    // INSERT: copy-on-write kernel inserts only — zero graph builds
    val builds0 = VamanaKernel.buildCount.get()
    val grown = base.insert(batch)
    assert(VamanaKernel.buildCount.get() == builds0,
      "insert must extend fitted shard graphs, not rebuild them")
    // every inserted point finds ITSELF at full probe + full beam
    val selfQ = batch.select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val self = grown.withFullBeamShards().search(selfQ, 1)
      .where(col("rank") === 1).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(self.length == 20 && self.forall { case (q, id) => q == id },
      "an inserted point must be its own nearest neighbor")
    // the union model stays EXACT at full probe + full beam
    val q = queries(10)
    val exactAll = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotAll = grown.withFullBeamShards().search(q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotAll == exactAll, "post-insert full-probe full-beam must equal exact kNN")
    // the base model is independently intact (copy-on-write)
    assert(base.describeRouting().agg(org.apache.spark.sql.functions.sum(col("n_points")))
      .head().getLong(0) <= 2 * (n - 20))
    // DELETE: removed ids never surface; survivors stay exact
    val delIds = (0L until 20L).toArray
    val shrunk = grown.delete(delIds)
    val ghost = shrunk.withFullBeamShards().search(q, 10)
      .where(col("id").isInCollection(delIds.toSeq)).count()
    assert(ghost == 0, "deleted ids surfaced in search results")
    val exactSurv = Knn.knnExact(emb.where(col("vec_id") >= 20), q, 10)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSurv = shrunk.withFullBeamShards().search(q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotSurv == exactSurv, "post-delete full-probe full-beam must equal exact kNN over survivors")
    base.unpersist(); grown.unpersist(); shrunk.unpersist()
  }

  test("routed rebalance: skewed-insert shard splits, refreshed routing table, exactness preserved") {
    import org.apache.spark.sql.functions.{col, lit, transform => atransform}
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val base = VamanaRouted.fit(emb, params, numShards = 4)
    // routed skew is STRUCTURAL: near-copies of ONE hot vector all route to
    // its centroid. 600 copies of v0, each scaled by a distinct factor so
    // vectors (and distances) stay unique — one shard balloons, the rest
    // don't move, which is exactly the drift insert() cannot fix alone.
    val v0 = emb.where(col("vec_id") === 0).select(col("embedding"))
    val hot = spark.range(600).crossJoin(v0).select(
      (col("id") + 100000L).as("vec_id"),
      atransform(col("embedding"),
        x => x * (lit(1.0f) + col("id").cast("float") * lit(1e-5f))).as("embedding"))
    val grown = base.insert(hot)
    val nBefore = grown.shardSizes
    val meanBefore = nBefore.map(_.toDouble).sum / nBefore.length
    assert(nBefore.max > 1.5 * meanBefore,
      s"fixture vacuous: no skew (max ${nBefore.max}, mean $meanBefore)")
    val builds0 = VamanaKernel.buildCount.get()
    val reb = grown.rebalance(maxRatio = 1.5, maxPasses = 3)
    val sizes = reb.shardSizes
    assert(sizes.length > nBefore.length, "no shard split — rebalance fixture vacuous")
    // untouched shards' kernels pass through: exactly 2 builds per split
    assert(VamanaKernel.buildCount.get() - builds0 == 2L * (sizes.length - nBefore.length),
      "rebalance must rebuild ONLY the split halves")
    val mean = sizes.map(_.toDouble).sum / sizes.length
    assert(sizes.max <= 2.0 * mean, s"max shard ${sizes.max} > 2x mean $mean")
    assert(reb.totalPoints == grown.totalPoints, "rebalance changed the membership union")
    // a GENEROUS pass budget must converge to the REQUESTED ratio — the
    // maxPasses=3 run above may legally stop one pass short (the gate's
    // 2x bound prices that headroom); this pins the converged contract
    val reb10 = grown.rebalance(maxRatio = 1.5, maxPasses = 10)
    val s10 = reb10.shardSizes
    val m10 = s10.map(_.toDouble).sum / s10.length
    assert(s10.max <= 1.5 * m10,
      s"10-pass rebalance left max ${s10.max} above 1.5x mean $m10")
    if (reb10 ne grown) reb10.unpersist()
    // the ROUTED twist vs hash-fanout rebalance: fresh shards are first-class
    // routing targets — the table grew with the layout
    assert(reb.numShards == sizes.length,
      s"routing table (${reb.numShards}) out of sync with shard rows (${sizes.length})")
    // exactness theorem survives: full probe + full beam == exact kNN over the union
    val q = queries(10)
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(hot)
    val exact = Knn.knnExact(corpus, q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = reb.withFullBeamShards().search(q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"missing ${exact -- full}, extra ${full -- exact}")
    // ball-pruned range search recomputes radii against the refreshed table
    // and stays lossless: pruned + full-beam == the full-scatter range scan
    // over the union corpus (hash fanout at full beam — the exact regime)
    val rq = queries(5)
    val radiusSq = VamanaOps.RangeRadiusSq
    val exactRange = VamanaFanout.fit(corpus, params, numShards = 3)
      .withFullBeamShards().rangeSearch(rq, radiusSq)
      .collect().map(_.toSeq).toSeq
    val prunedRange = reb.withFullBeamShards().rangeSearch(rq, radiusSq)
      .collect().map(_.toSeq).toSeq
    assert(prunedRange == exactRange,
      "ball-pruned routed range after rebalance must equal the exact range scan")
    // inserts keep routing — into the REFRESHED table (every batch point
    // lands in >= 1 live shard, bounded by the closure's maxReplicas)
    val more = emb.where(col("vec_id") < 5).select(
      (col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    val after = reb.insert(more)
    val delta = after.totalPoints - reb.totalPoints
    assert(delta >= 5 && delta <= 5L * reb.maxReplicas,
      s"post-rebalance insert added $delta rows for 5 points")
    // PQ serving composes with the rebalance under the SAME memo key: the
    // membership fingerprint must re-encode the split shards (the original
    // id holds different points now; the fresh id is a cache miss) and the
    // full-probe + full-beam PQ merge must still equal exact kNN
    val pqKey = "routed_rebalance_spec_" + System.nanoTime()
    VamanaPq.searchRoutedModel(grown, q, pqKey, 10,
      nprobe = grown.numShards, fullBeam = true).count() // warm the memo pre-split
    val pqAfter = VamanaPq.searchRoutedModel(reb, q, pqKey, 10,
        nprobe = reb.numShards, fullBeam = true)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pqAfter == exact,
      s"PQ-routed serving diverged after rebalance — stale code memo: " +
        s"missing ${exact -- pqAfter}, extra ${pqAfter -- exact}")
    // the GROWN routing table roundtrips: a rebalanced model's checkpoint
    // carries the fresh slots and answers identically after reload
    val path = java.nio.file.Files.createTempDirectory("routed_reb_ckpt").toString
    reb.save(path)
    val back = RoutedFanoutModel.load(spark, path)
    assert(back.numShards == reb.numShards, "fresh centroid slots lost in save/load")
    val wantR = reb.searchRouted(q, 10, nprobe = 2).collect().map(_.toSeq).toSeq
    val gotR = back.searchRouted(q, 10, nprobe = 2).collect().map(_.toSeq).toSeq
    assert(gotR == wantR, "reloaded rebalanced model must answer identically")
    back.unpersist()
    base.unpersist(); grown.unpersist(); reb.unpersist(); after.unpersist()
  }

  test("routed save/load: reloaded model routes and searches identically with zero builds") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val q = queries(10)
    val m = VamanaRouted.fit(emb, params, numShards = 4)
    val want = m.searchRouted(q, 10, nprobe = 2).collect().map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("routed_ckpt").toString
    try {
      m.save(path)
      val before = VamanaKernel.buildCount.get()
      val back = RoutedFanoutModel.load(spark, path)
      assert(VamanaKernel.buildCount.get() == before,
        "load must rebuild kernels from persisted adjacency, not re-run graph builds")
      assert(back.numShards == m.numShards)
      assert(back.centroids.zip(m.centroids).forall { case (a, b) => a.sameElements(b) },
        "routing table must roundtrip bit-exactly")
      val got = back.searchRouted(q, 10, nprobe = 2).collect().map(_.toSeq).toSeq
      assert(got == want, "reloaded routed model must answer identically")
      back.unpersist()
      // the closure rule is part of the checkpoint — a reloaded model
      // inserts by the rule it was FITTED with, not a caller-supplied one
      assert(back.closureEps == m.closureEps && back.maxReplicas == m.maxReplicas,
        "closure rule must roundtrip with the model")
    } finally {
      m.unpersist()
      scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    }
  }

  test("adaptive routing: endpoints exact, probes bounded, recall >= nprobe=1, full-band = full probe") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val q = queries(10)
    val m = VamanaRouted.fit(emb, params, numShards = 4)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // endpoint 1: routeEps = 0 degenerates to fixed nprobe = 1
    assert(pairs(m.searchRoutedAdaptive(q, 10, routeEps = 0.0)) ==
      pairs(m.searchRouted(q, 10, nprobe = 1)),
      "zero band must route exactly like nprobe=1")
    // endpoint 2: an unbounded band is the full probe (== search())
    assert(m.searchRoutedAdaptive(q, 10, routeEps = 1e9).collect().map(_.toSeq).toSeq ==
      m.search(q, 10).collect().map(_.toSeq).toSeq,
      "an all-covering band must equal the full-probe search")
    // probe counts live in [1, s]; maxProbe caps them
    val stats = m.describeAdaptiveRouting(q, routeEps = 1e9, maxProbe = 2)
      .collect().map(_.getInt(1))
    assert(stats.length == 10 && stats.forall(p => p >= 1 && p <= 2),
      "maxProbe must cap the adaptive fan-out")
    // monotone band: a wider band can only add probed shards, so recall
    // at the default band dominates the nprobe=1 endpoint
    val exact = pairs(Knn.knnExact(emb, q, 10))
    val r1 = pairs(m.searchRouted(q, 10, nprobe = 1)).intersect(exact).size
    val rA = pairs(m.searchRoutedAdaptive(q, 10)).intersect(exact).size
    assert(rA >= r1, "adaptive recall must dominate its nprobe=1 endpoint")
    m.unpersist()
  }

  test("closure multi-assignment (maxReplicas=3): bounded replication, exactness, rule persisted") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val q = queries(10)
    // a wide band with 3 replicas: every point lands in >= 1 and <= 3 shards
    val m = VamanaRouted.fit(emb, params, numShards = 4, closureEps = 0.6, maxReplicas = 3)
    val total = m.describeRouting().agg(org.apache.spark.sql.functions.sum(col("n_points")))
      .head().getLong(0)
    assert(total >= n && total <= 3 * n,
      s"maxReplicas=3 replication out of bounds: $total assignments for $n points")
    // the exactness theorem is replication-independent: full probe + full
    // beam over ANY >= 1-cover is exact kNN
    val exact = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = m.withFullBeamShards().search(q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "full-probe full-beam must stay exact under multi-assignment")
    // wider closure can only help low-nprobe recall vs the default fit
    val d = VamanaRouted.fit(emb, params, numShards = 4)
    def recallAt1(mm: RoutedFanoutModel): Int =
      mm.searchRouted(q, 10, nprobe = 1).select(col("query_id"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet.intersect(exact).size
    assert(recallAt1(m) >= recallAt1(d),
      "3-replica closure must not lose nprobe=1 recall vs the 2-replica default")
    // insert with NO rule argument routes by the fitted (0.6, 3) rule:
    // a boundary-ish point may land in up to 3 shards
    val roundtrip = java.nio.file.Files.createTempDirectory("routed_m3").toString
    try {
      m.save(roundtrip)
      val back = RoutedFanoutModel.load(spark, roundtrip)
      assert(back.closureEps == 0.6 && back.maxReplicas == 3,
        "the (eps, maxReplicas) closure rule must persist")
      back.unpersist()
    } finally {
      scala.reflect.io.Directory(new java.io.File(roundtrip)).deleteRecursively()
    }
    m.unpersist(); d.unpersist()
  }

  test("routed filtered search: full beam exact over allowed set, results always pass the predicate") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val q = queries(10)
    val m = VamanaRouted.fit(emb, params, numShards = 4)
    // allowed = every third id — mid-selectivity, same fixture shape as
    // the fanout filtered spec so the two layouts are comparable
    val allowedIds = (0L until n).filter(_ % 3 == 0).toArray
    val allowedSet = allowedIds.toSet
    // full probe + full beam == exact filtered kNN (the gate's theorem)
    val full = m.searchRoutedFiltered(q, allowedIds, 10, nprobe = 4, fullBeam = true)
    val fullRows = full.select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fullRows.forall { case (_, id) => allowedSet.contains(id) },
      "a filtered result must satisfy the predicate")
    val exact = graft.operators.Knn.knnExact(
        emb.where(col("vec_id") % 3 === 0), q, 10)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fullRows.toSet == exact,
      "full-probe full-beam routed filtered merge must equal exact filtered kNN")
    // deployed config: every query still returns k allowed rows at nprobe=2
    val routed = m.searchRoutedFiltered(q, allowedIds, 10, nprobe = 2)
    val counts = routed.groupBy(col("query_id")).count().collect().map(_.getLong(1))
    assert(counts.length == 10 && counts.forall(_ == 10),
      "every query must return k rows at nprobe=2")
    assert(routed.select(col("id")).collect().map(_.getLong(0)).forall(allowedSet.contains),
      "nprobe=2 filtered results must satisfy the predicate")
    m.unpersist()
  }

  test("routed range search: ball pruning is lossless AND actually prunes") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val q = queries(10)
    val m = VamanaRouted.fit(emb, params, numShards = 4).withFullBeamShards()
    val radiusSq = VamanaOps.RangeRadiusSq
    // lossless: pruned + full-beam equals the full-probe fanout range set
    val fanout = VamanaFanout.fit(emb, params, numShards = 3).withFullBeamShards()
    val want = fanout.rangeSearch(q, radiusSq).collect().map(_.toSeq).toSeq
    val got = m.rangeSearch(q, radiusSq).collect().map(_.toSeq).toSeq
    assert(got == want, "ball-pruned routed range must equal the exact range scan")
    // the prune bound is tight enough to bite somewhere: with a radius far
    // below the inter-centroid scale at least one query must skip a shard
    val probes = m.describeRangeRouting(q, radiusSq = 1e-4).collect().map(_.getInt(1))
    assert(probes.length == 10 && probes.forall(p => p >= 0 && p <= 4))
    assert(probes.exists(_ < 4),
      s"a tiny query ball must prune at least one shard somewhere: ${probes.mkString(",")}")
    // and a huge radius probes everything — the bound is an intersection
    // test, not a heuristic
    val all = m.describeRangeRouting(q, radiusSq = 1e9).collect().map(_.getInt(1))
    assert(all.forall(_ == 4), "an all-covering query ball must probe every shard")
    m.unpersist(); fanout.unpersist()
  }

  test("vamana_routed_adaptive_gate reports all-green bits at smoke scale") {
    val row = VamanaOps.vamanaRoutedAdaptiveGate(spark, dir).head()
    assert(row.getAs[Long]("n_queries") == 10)
    assert(row.getAs[Boolean]("recall_ok"), "adaptive recall below floor")
    assert(row.getAs[Boolean]("probes_saved"), "adaptive routing did not prune any probe")
    assert(row.getAs[Boolean]("bounded_ok"), "probe counts out of range or endpoint broken")
  }

  test("routed merge: zero builds, concatenated routing table, union serves exactly") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val a = VamanaRouted.fit(emb.where(col("vec_id") % 2 === 0), params, numShards = 3)
    val b = VamanaRouted.fit(emb.where(col("vec_id") % 2 === 1), params, numShards = 2)
    val beforeBuilds = VamanaKernel.buildCount.get()
    val m = a.merge(b)
    assert(VamanaKernel.buildCount.get() == beforeBuilds,
      "routed merge must be a shard re-key + union — zero kernel builds")
    assert(m.numShards == a.numShards + b.numShards,
      "routing tables must concatenate — both fits' clusters stay routable")
    assert(m.totalPoints == a.totalPoints + b.totalPoints, "merge changed the membership union")
    // exactness theorem: union of the two closure covers is a cover of the union
    val q = queries(10)
    val exact = Knn.knnExact(emb, q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = m.withFullBeamShards().search(q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"missing ${exact -- full}, extra ${full -- exact}")
    // low-nprobe routing is geometry-correct ACROSS the concatenated table:
    // a query probes whichever fit's centroids are actually nearest, so
    // deployed-config recall clears the same floor as a single fit
    val routed = m.searchRouted(q, 10, nprobe = 2).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = routed.count(exact.contains)
    assert(hit.toDouble / exact.size >= 0.8,
      s"merged routed recall ${hit.toDouble / exact.size} below the 0.8 floor")
    // duplicate ids rejected; sources intact
    intercept[IllegalArgumentException] { a.merge(a) }
    assert(a.totalPoints + b.totalPoints == m.totalPoints)
    // mismatched closure rules rejected: the merged model routes future
    // inserts under ONE rule, so silently adopting this side's would
    // replicate the other fit's region under parameters it never validated
    val wider = VamanaRouted.fit(emb.where(col("vec_id") % 2 === 1)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")),
      params, numShards = 2, closureEps = 0.5)
    val exMismatch = intercept[IllegalArgumentException] { a.merge(wider) }
    assert(exMismatch.getMessage.contains("closure-rule mismatch"))
    wider.unpersist()
    // inserts route into the merged table under THIS model's closure rule
    val more = emb.where(col("vec_id") < 5).select(
      (col("vec_id") + 800000L).as("vec_id"), col("embedding"))
    val grown = m.insert(more)
    assert(grown.totalPoints >= m.totalPoints + 5 &&
      grown.totalPoints <= m.totalPoints + 5L * m.maxReplicas)
    a.unpersist(); b.unpersist(); m.unpersist(); grown.unpersist()
  }

  test("fanout searchStats: totals bound the critical path; full-beam total = corpus size") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val m = VamanaFanout.fit(emb, params, numShards = 4)
    val q = queries(10)
    val deflt = m.searchStats(q, 10).collect()
    assert(deflt.length == 10)
    deflt.foreach { r =>
      assert(r.getAs[Long]("total_hops") <= r.getAs[Long]("total_comps"))
      assert(r.getAs[Long]("max_shard_hops") <= r.getAs[Long]("max_shard_comps"))
      assert(r.getAs[Long]("max_shard_comps") <= r.getAs[Long]("total_comps"))
      val tc = r.getAs[Long]("total_comps")
      assert(tc >= 10 && tc <= n, s"total comps $tc out of [k, n=$n]")
    }
    // hash sharding partitions the corpus, and full beam scores each
    // shard's whole point set — so the per-query total is EXACTLY n
    val full = m.searchStats(q, 10, fullBeam = true).collect()
    full.foreach { r =>
      assert(r.getAs[Long]("total_comps") == n,
        "full-beam total comps must equal the corpus size on a hash layout")
    }
    m.unpersist()
  }

  test("calibrateEps: bisected band meets the target, is monotone, and prices its probes") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val m = VamanaRouted.fit(emb, params, numShards = 4)
    val q = queries(10)
    val cal = m.calibrateEps(q, 10, targetRecall = 0.9)
    assert(cal.targetMet, "uncapped bisection must always land (full probe = recall 1.0)")
    assert(cal.recall >= 0.9, s"calibrated recall ${cal.recall} below the requested 0.9")
    assert(cal.eps >= 0.0 && cal.eps <= 1.0)
    assert(cal.nQueries == 10)
    assert(cal.meanProbes >= 1.0 && cal.meanProbes <= m.numShards)
    assert(cal.p95Probes >= 1 && cal.p95Probes <= m.numShards)
    // the superset/monotonicity premise bisection rests on, measured: a
    // half-band probes a subset per query, so its recall can't exceed
    val fullRows = m.searchRouted(q, 10, nprobe = m.numShards)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def rec(eps: Double): Double = {
      val got = m.searchRoutedAdaptive(q, 10, eps).select(col("query_id"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(fullRows.contains).toDouble / fullRows.size
    }
    assert(rec(cal.eps / 2) <= rec(cal.eps) + 1e-9, "recall must be monotone in the band")
    // a probe CAP that forbids the needed fanout reports targetMet=false
    // honestly instead of looping or lying
    val capped = m.calibrateEps(q, 10, targetRecall = 1.0, maxProbe = 1)
    assert(capped.meanProbes <= 1.0 + 1e-9)
    if (!capped.targetMet) assert(capped.recall < 1.0)
    m.unpersist()
  }

  test("insert autoMaintain: hot batch splits inside the insert path, calm batch doesn't") {
    import org.apache.spark.sql.functions.{col, lit, transform => atransform}
    val emb = Tables.embeddings(spark, dir)
    val base = VamanaRouted.fit(emb, params, numShards = 4)
    // calm batch well under the ratio: maintain must be a no-op — no split,
    // no kernel builds beyond the batch's own shard-local inserts (zero:
    // kernel insert is copy-on-write, not a build)
    val calm = emb.where(col("vec_id") < 4)
      .select((col("vec_id") + 300000L).as("vec_id"), col("embedding"))
    val builds0 = VamanaKernel.buildCount.get()
    val g1 = base.insert(calm, autoMaintain = true, maintainRatio = 2.0)
    assert(g1.numShards == base.numShards, "a calm batch must not split")
    assert(VamanaKernel.buildCount.get() == builds0, "calm maintain must build nothing")
    // hot batch (the rebalance spec's structural-skew fixture): the split
    // now happens INSIDE the insert path — no human reads describeRouting
    val v0 = emb.where(col("vec_id") === 0).select(col("embedding"))
    val hot = spark.range(600).crossJoin(v0).select(
      (col("id") + 200000L).as("vec_id"),
      atransform(col("embedding"),
        x => x * (lit(1.0f) + col("id").cast("float") * lit(1e-5f))).as("embedding"))
    val b1 = VamanaKernel.buildCount.get()
    val g2 = g1.insert(hot, autoMaintain = true, maintainRatio = 1.5, maintainPasses = 3)
    val splits = g2.numShards - g1.numShards
    assert(splits >= 1, "hot batch crossed the ratio but nothing split")
    assert(VamanaKernel.buildCount.get() - b1 == 2L * splits,
      "auto-maintain must rebuild ONLY the split halves")
    assert(g2.numShards == g2.shardSizes.length,
      "routing table out of sync with shard rows after in-path split")
    // exactness invariant survives the in-path split: full probe + full
    // beam over the maintained layout == exact kNN over base ∪ batches
    val q = queries(10)
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(calm).unionByName(hot)
    val exact = Knn.knnExact(corpus, q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = g2.withFullBeamShards().search(q, 10).select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"missing ${exact -- full}, extra ${full -- exact}")
    base.unpersist(); g1.unpersist(); g2.unpersist()
  }

  test("vamana_routed_merge_gate reports all-green bits at smoke scale") {
    val row = VamanaOps.vamanaRoutedMergeGate(spark, dir).head()
    assert(row.getAs[Long]("n_queries") == 10)
    assert(row.getAs[Boolean]("overlap_exact_ok"),
      "full-probe full-beam over the merged routed layout diverged from exact kNN")
    assert(row.getAs[Boolean]("zero_builds"), "routed merge ran kernel builds")
    assert(row.getAs[Boolean]("table_synced"), "routing table out of sync after merge")
  }

  test("vamana_routed_rebalance_gate reports all-green bits at smoke scale") {
    val row = VamanaOps.vamanaRoutedRebalanceGate(spark, dir).head()
    assert(row.getAs[Long]("n_queries") == 10)
    assert(row.getAs[Boolean]("split_happened"), "skew fixture did not split — gate vacuous")
    assert(row.getAs[Boolean]("sizes_ok"), "post-rebalance shard sizes exceed 2x mean")
    assert(row.getAs[Boolean]("table_synced"), "routing table out of sync with shard rows")
    assert(row.getAs[Boolean]("overlap_exact_ok"),
      "full-probe full-beam after rebalance diverged from exact kNN")
  }
}
