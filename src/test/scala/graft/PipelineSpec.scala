package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** LLM-pipeline operator behavior beyond the oracle hash-match: recall of
  * the approximate (LSH/IVF) paths vs their exact twins, containment of
  * MinHash results in exact Jaccard results, stub-decoder plumbing. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.01"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("pipeline_web: every stage bites and every survivor passes every stage") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, dir)
    val n = docs.count()
    val out = CorpusPipeline.pipelineWeb(spark, dir).collect().map(_.getLong(0)).toSet
    // stage sets recomputed from the single ops
    val urlKept = docs.select(col("doc_id"),
        CorpusPipeline.canonicalizeUrl(CorpusPipeline.syntheticUrl(col("doc_id"))).as("curl"))
      .groupBy("curl").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val clean = CorpusPipeline.decontaminate(spark, dir)
      .where(col("contaminated") === 0).collect().map(_.getLong(0)).toSet
    assert(out.subsetOf(urlKept), "a kept doc is not a canonical-URL survivor")
    assert(out.subsetOf(clean), "a kept doc is contaminated or out of the train bucket")
    // each stage genuinely removes docs on this corpus
    assert(urlKept.size < n, "URL dedup removed nothing")
    assert(clean.size < urlKept.size || (urlKept -- clean).nonEmpty,
      "decontam+bench-slice removed nothing")
    assert(out.size < (urlKept intersect clean).size, "temperature sampling removed nothing")
    assert(out.nonEmpty)
  }

  test("sample_temperature: flattens the language head, boosts the tail, lands near target size") {
    val out = CorpusPipeline.sampleTemperature(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byLang = out.groupBy(_._2).map { case (l, rs) => (l, rs.head._3, rs.head._4) }.toSeq
    // q ∝ √p: a bigger language must get a strictly smaller keep rate
    byLang.combinations(2).foreach { case Seq((la, na, ra), (lb, nb, rb)) =>
      if (na > nb) assert(ra < rb, s"$la (n=$na) rate $ra !< $lb (n=$nb) rate $rb")
      if (na < nb) assert(ra > rb, s"$la (n=$na) rate $ra !> $lb (n=$nb) rate $rb")
    case _ => ()
    }
    assert(byLang.forall(_._3 <= 1000000L))
    // kept mass lands near the M = N/2 target (hash sampling is unbiased)
    val n = graft.core.Tables.documents(spark, dir).count()
    assert(math.abs(out.length - n / 2.0) < 0.1 * n,
      s"kept ${out.length} docs vs target ${n / 2}")
    // pure function of (doc_id, lang stats): rerun is bit-identical
    val again = CorpusPipeline.sampleTemperature(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == again.toSeq)
  }

  test("benchmark_decontam: non-vacuous flags, short docs trivially clean, hits bounded") {
    import org.apache.spark.sql.functions._
    val out = CorpusPipeline.decontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // covers exactly the train bucket (md5 id-hash < 90) — no benchmark doc leaks in
    val trainIds = graft.core.Tables.documents(spark, dir)
      .where(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100 < 90)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet == trainIds)
    out.foreach { case (id, nGrams, nHits, flag) =>
      assert(nHits <= nGrams, s"doc $id: hits $nHits > grams $nGrams")
      assert((flag == 1) == (nHits > 0))
    }
    // the planted near-dup clusters straddle the id-hash boundary → real contamination
    assert(out.exists(_._4 == 1), "no contaminated train doc — fixture gone vacuous")
    assert(out.count(_._4 == 1) < out.length / 10, "contamination should be the rare case")
    // a doc under n tokens has no n-grams and must survive clean
    val shortDocs = graft.core.Tables.documents(spark, dir)
      .where(size(split(lower(col("text")), "\\s+")) < CorpusPipeline.DecontamN)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    out.filter(r => shortDocs.contains(r._1)).foreach { case (id, nGrams, nHits, flag) =>
      assert(nGrams == 0 && nHits == 0 && flag == 0, s"short doc $id not trivially clean")
    }
  }

  test("rag_rerank: pairwise MaxSim head genuinely reorders the MMR context set") {
    val rr = TextAnalysis.ragRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(rr.nonEmpty && rr.length % 5 == 0, s"expected k=5 rows per query, got ${rr.length}")
    rr.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      // contiguous ranks, non-increasing pairwise score
      assert(byRank.map(_._2).toSeq == (1L to rows.length))
      byRank.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 >= b._4, s"query $q: ce_score not non-increasing")
      case _ => ()
      }
      // a rerank permutes the context set: distinct ids, and the carried
      // mmr_rank column is exactly {1..k} (no member swapped in or out)
      assert(byRank.map(_._3).distinct.length == byRank.length)
      assert(byRank.map(_._5).sorted.toSeq == (1L to rows.length))
    }
    // the head must REORDER somewhere, or the composition is vacuous
    assert(rr.exists { case (_, ceRank, _, _, mmrRank) => ceRank != mmrRank },
      "ce_rank == mmr_rank everywhere — reranker is a no-op on this fixture")
  }

  test("canonicalizeUrl: adversarial URL forms land on their canonical spelling") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // every rule at once: case, default port, ./ segments, tracking params, fragment
      ("HTTPS://WWW.Example.COM:443/./a/./b?utm_source=x&id=9&gclid=z#frag",
        "https://www.example.com/a/b?id=9"),
      // non-default port survives
      ("http://example.com:8080/x", "http://example.com:8080/x"),
      // http default port dropped
      ("http://Example.com:80/x", "http://example.com/x"),
      // empty path → /
      ("https://example.com", "https://example.com/"),
      // query of only tracking params loses its '?'
      ("https://example.com?utm_campaign=c", "https://example.com/"),
      // path case is PRESERVED (RFC 3986: only scheme+host are case-insensitive)
      ("https://example.com/CaseSensitive/Path", "https://example.com/CaseSensitive/Path"),
      // consecutive ./ segments resolve (two replace passes cover /././)
      ("https://example.com/././x", "https://example.com/x"),
      ("https://example.com/a/./b/./c", "https://example.com/a/b/c"),
      // surviving params keep their original order
      ("https://example.com/s?b=2&utm_medium=m&a=1", "https://example.com/s?b=2&a=1"),
      // trailing empty query
      ("https://example.com/p?", "https://example.com/p"),
      // fragment-only difference collapses
      ("https://example.com/p#sec1", "https://example.com/p"))
    val got = cases.map(_._1).toDF("raw")
      .select(col("raw"), CorpusPipeline.canonicalizeUrl(col("raw")).as("curl"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (raw, want) =>
      assert(got(raw) == want, s"canonicalize('$raw') = '${got(raw)}', want '$want'")
    }
    // the registered query: every host resolves 8 spellings down to its
    // canonical pages, so n_dup > 0 wherever a host holds ≥2 raw URLs
    val q = CorpusPipeline.urlCanonicalDedup(spark, dir).collect()
    assert(q.nonEmpty && q.forall(_.getLong(1) >= q.head.getLong(2)))
    assert(q.exists(r => r.getLong(3) > 0), "fixture produced no URL dups — vacuous")
  }

  test("mmrSelect terminates when every candidate scores NaN (zero-norm vectors)") {
    import spark.implicits._
    // zero vectors → rel and pairwise sim are NaN → no greedy pick is ever
    // made; the loop must break, not spin on the -1 sentinel forever.
    val z = Array(0f, 0f)
    val allNaN = Seq((1L, 10L, Double.NaN, z), (1L, 11L, Double.NaN, z))
      .toDF("query_id", "id", "rel", "vec")
    assert(Similarity.mmrSelect(allNaN, k = 2).count() == 0)
    // a mixed group still picks the scorable candidate and then stops
    val v = Array(1f, 0f)
    val mixed = Seq((1L, 10L, 0.9, v), (1L, 11L, Double.NaN, z))
      .toDF("query_id", "id", "rel", "vec")
    val picks = Similarity.mmrSelect(mixed, k = 2).collect()
    assert(picks.length == 1 && picks.head.getLong(2) == 10L)
  }

  test("mmr rerank: rank-1 is the top-relevance hit, then diversity beats pure top-k") {
    val mmr = Similarity.mmrRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(mmr.nonEmpty && mmr.length % 5 == 0, s"expected k=5 rows per query, got ${mmr.length}")
    val byQ = mmr.groupBy(_._1)
    val emb = graft.core.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
    def maxPairSim(ids: Seq[Long]): Double =
      (for (i <- ids.indices; j <- i + 1 until ids.length)
        yield cos(emb(ids(i)), emb(ids(j)))).max
    var diversityWins = 0
    for ((qid, rows) <- byQ) {
      val sorted = rows.sortBy(_._2)
      // rank 1 must be the max-relevance candidate (score_1 = λ·rel)
      assert(sorted.head._4 == rows.map(_._4).max,
        s"q$qid rank-1 is not the relevance argmax")
      // rel of later picks never exceeds rank-1's (candidates were top-20 by rel)
      assert(sorted.tail.forall(_._4 <= sorted.head._4), s"q$qid rel ordering broken")
      // diversity: the MMR set's max pairwise sim <= the pure top-5-by-rel set's
      val q = emb(qid)
      val topByRel = emb.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(v, q)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val mmrIds = sorted.map(_._3).toSeq
      if (mmrIds.toSet != topByRel.toSet) {
        assert(maxPairSim(mmrIds) <= maxPairSim(topByRel) + 1e-12,
          s"q$qid MMR set is LESS diverse than pure top-k")
        diversityWins += 1
      }
    }
    assert(diversityWins > 0,
      "MMR never diverged from pure top-k — the diversity term is dead at this threshold")
  }

  test("minhash pairs are a subset of exact ngram-jaccard pairs, recall >= 0.8") {
    spark.sparkContext.setLogLevel("WARN")
    val exact = pairSet(Dedup.dedupNgramJaccard(spark, dir))
    val mh = pairSet(Dedup.dedupMinhash(spark, dir))
    assert(exact.nonEmpty, "fixture must contain planted near-dups")
    assert(mh.subsetOf(exact), "minhash verifies with the same jaccard threshold -> subset")
    assert(mh.size.toDouble / exact.size >= 0.8, s"minhash recall ${mh.size}/${exact.size}")
  }

  test("hash-checked gates (lsh cosine/l2, ivf, pq) all emit TRUE flags") {
    val gates = Seq(
      "lsh_cosine_gate" -> Similarity.lshCosineGate(spark, dir),
      "lsh_l2_gate" -> Similarity.lshL2Gate(spark, dir),
      "ivf_gate" -> Similarity.ivfGate(spark, dir),
      "pq_gate" -> Quantization.pqGate(spark, dir),
      "semdedup_gate" -> Similarity.semdedupGate(spark, dir),
      "maxsim_rerank_gate" -> graft.vamana.VamanaOps.maxsimRerankGate(spark, dir),
      "bitext_ann_gate" -> graft.vamana.VamanaOps.bitextAnnGate(spark, dir),
      "mmr_ann_gate" -> graft.vamana.VamanaOps.mmrAnnGate(spark, dir),
      "vamana_merge_gate" -> graft.vamana.VamanaOps.vamanaMergeGate(spark, dir))
    gates.foreach { case (name, df) =>
      val rows = df.collect()
      assert(rows.length == 1, s"$name: gate must be one row")
      val r = rows.head
      df.schema.fields.filter(_.dataType.typeName == "boolean").foreach { f =>
        assert(r.getAs[Boolean](f.name), s"$name: flag ${f.name} is false")
      }
      // the count column must be non-trivial (the oracle recomputes it)
      val countCol = df.schema.fields.find(_.dataType.typeName == "long").get.name
      assert(r.getAs[Long](countCol) > 0, s"$name: empty exact baseline")
    }
  }

  test("lsh cosine pairs recall >= 0.5 vs exact all-pairs (threshold 0.4)") {
    val exact = pairSet(Dedup.dedupEmbeddingCosine(spark, dir))
    val lsh = pairSet(Similarity.lshCosinePairs(spark, dir))
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "lsh verifies with exact cosine -> subset")
    assert(lsh.size.toDouble / exact.size >= 0.5, s"lsh recall ${lsh.size}/${exact.size}")
  }

  test("text_sim_topk: contiguous ranks, non-increasing jaccard, no self-matches") {
    val rows = Dedup.textSimTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "query fixture must retrieve matches")
    assert(rows.forall { case (q, _, m, _) => q != m }, "a query must not match itself")
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"ranks not contiguous for $q")
      assert(sorted.sliding(2).forall(p => p.length < 2 || p(0)._4 >= p(1)._4),
        s"jaccard must be non-increasing down the ranks for $q")
    }
  }

  test("shard manifest partitions the corpus exactly once") {
    val rows = CorpusPipeline.shardManifest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._1).forall(s => s >= 0 && s < 16), "shard ids in range")
    assert(rows.map(_._2).sum == 500, "every doc lands in exactly one shard")
  }

  test("semdedup pairs are exact-verified (subset), recall >= 0.6, survivors consistent") {
    val exact = pairSet(Dedup.dedupEmbeddingCosine(spark, dir))
    val sem = pairSet(Similarity.semdedupPairs(spark, dir))
    assert(exact.nonEmpty)
    assert(sem.subsetOf(exact), "semdedup verifies with exact cosine -> subset")
    // measured 0.73 at sf0.01 (nCells=8, nAssign=2); 0.6 is the spec's
    // tighter bound above the gate's 0.5 catastrophic floor
    assert(sem.size.toDouble / exact.size >= 0.6, s"semdedup recall ${sem.size}/${exact.size}")
    val surv = Similarity.semdedupSurvivors(spark, dir)
      .select("doc_id", "canonical_id", "is_survivor").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(surv.length == 500, "every embedding row must appear exactly once")
    assert(surv.forall { case (id, canon, s) => canon <= id && (s == 1) == (canon == id) },
      "canonical = component min; survivor iff self-canonical")
  }

  test("semdedup hot-cell sub-clustering bounds candidate groups, keeps twin recall") {
    import spark.implicits._
    // 2600 tiny-norm vectors share one coarse L2 cell (directions random,
    // so only the 100 planted twin pairs clear cos >= 0.95); 400 big-norm
    // vectors spread across the others. maxCellSize=500 forces the blob
    // cell through the second-level quantizer.
    val rng = new scala.util.Random(7)
    def dir8() = Array.fill(8)(rng.nextGaussian().toFloat)
    def scaled(v: Array[Float], s: Float) = v.map(_ * s)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var id = 0L
    while (id < 2600L) {
      val d = dir8()
      if (id < 200) { // twins 2i/2i+1: same direction, slightly different norm
        rows += ((id, scaled(d, 0.10f))); rows += ((id + 1, scaled(d, 0.101f)))
        id += 2
      } else { rows += ((id, scaled(d, 0.10f))); id += 1 }
    }
    while (id < 3000L) { rows += ((id, scaled(dir8(), 10f))); id += 1 }
    val emb = rows.toSeq.toDF("vec_id", "embedding")
    val keyed = Similarity.semdedupKeys(spark, emb, nCells = 8, nAssign = 2, maxCellSize = 500L)
    val maxGroup = keyed.groupBy("cell").count().agg(org.apache.spark.sql.functions.max("count"))
      .head().getLong(0)
    assert(maxGroup <= 1500, s"hot cell must split into bounded sub-cells, max group $maxGroup")
    assert(keyed.select("cell").distinct().count() > 8,
      "second-level keys must actually appear for the hot cell")
    val sem = Similarity.semdedupPairsOf(spark, emb, threshold = 0.95,
        nCells = 8, nAssign = 2, maxCellSize = 500L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet {
      val e = emb.select(col("vec_id"), col("embedding"),
        graft.functions.NativeVectorFunctions.normNative(spark, col("embedding")).as("nrm"))
      e.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
        .crossJoin(e.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb")))
        .where(col("id_a") < col("id_b"))
        .where(graft.functions.NativeVectorFunctions.dotNative(spark, col("va"), col("vb"))
          / (col("na") * col("nb")) >= 0.95)
        .select(col("id_a"), col("id_b"))
    }
    val twins = (0L until 200L by 2).map(i => (i, i + 1)).toSet
    assert(twins.subsetOf(exact), "planted twins must clear the exact threshold")
    assert(sem.subsetOf(exact), "sub-clustered pairs stay exact-verified")
    val hit = twins.count(sem.contains).toDouble / twins.size
    assert(hit >= 0.9, s"twin recall through the sub-clustered cell must hold, got $hit")
  }

  test("prototype pruning drops the most central members of a cell, keeps the rest") {
    import spark.implicits._
    // blob member i sits at distance ~ i*eps from the shared center, so
    // the per-cell prune must claim (mostly) the low-i members; 20 far
    // outliers land elsewhere and are irrelevant to the blob cell's order
    val rng = new scala.util.Random(11)
    val center = Array.fill(8)(1.0f)
    val rows = (0 until 480).map { i =>
      val noise = Array.fill(8)(rng.nextGaussian().toFloat)
      val n = math.sqrt(noise.map(x => x * x.toDouble).sum).toFloat
      (i.toLong, center.zip(noise).map { case (c, x) => c + x / n * 0.001f * (i + 1) })
    } ++ (480 until 500).map(i => (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat * 10f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.prototypePruneOf(spark, emb, pruneFrac = 0.25, nCells = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.length == 500, "every vector appears exactly once")
    val blobCell = out.find(_._1 == 0L).get._2
    val blob = out.filter(_._2 == blobCell)
    val (dropped, kept) = blob.partition(_._4 == 0)
    assert(dropped.length == math.floor(blob.length * 0.25).toInt,
      s"exact per-cell prune count (got ${dropped.length} of ${blob.length})")
    assert(dropped.map(_._3).max <= kept.map(_._3).min,
      "pruned set must be a distance-prefix of the cell")
    val meanDroppedId = dropped.map(_._1).sum.toDouble / dropped.length
    val meanKeptId = kept.filter(_._1 < 480).map(_._1).sum.toDouble /
      kept.count(_._1 < 480)
    assert(meanDroppedId < meanKeptId,
      s"centrality must drive the prune (dropped mean id $meanDroppedId vs kept $meanKeptId)")
  }

  test("medoid: algebraic one-pass form matches the pairwise cross-join sum") {
    import org.apache.spark.sql.functions._
    import graft.functions.NativeVectorFunctions.{l2sqNative => l2n}
    val e = graft.core.Tables.embeddings(spark, dir)
    // the shipped algebraic form (n·‖a‖² − 2·a·S + T)
    val fast = operators.Knn.medoidExact(e).collect().head
    // the literal pairwise definition it replaced (the oracle's own shape)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    val slow = a.crossJoin(b)
      .groupBy(col("id_a"))
      .agg(sum(l2n(spark, col("vec_a"), col("vec_b"))).as("total_dist"))
      .orderBy(col("total_dist").asc, col("id_a").asc)
      .limit(1)
      .select(col("id_a").as("medoid_id"), round(col("total_dist"), 2).as("total_dist"))
      .collect().head
    assert(fast.getLong(0) == slow.getLong(0), s"medoid id drift: $fast vs $slow")
    assert(math.abs(fast.getDouble(1) - slow.getDouble(1)) <= 0.01,
      s"medoid total drift: $fast vs $slow")
  }

  test("ivf search recall@5 >= 0.6 vs exact L2 top-5") {
    val ivf = Similarity.ivfSearch(spark, dir)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = {
      import org.apache.spark.sql.functions._
      val e = graft.core.Tables.embeddings(spark, dir)
      operators.Knn.knnExact(e, operators.Knn.queriesFromPoints(e, 10), 5)
        .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"ivf recall $recall")
  }

  test("simhash: precise near-exact dups, complete pigeonhole join, wide key space") {
    // 64-bit hamming<=3 is the near-exact-duplicate operating point: every
    // emitted pair must be a genuine strong near-dup (precision — the
    // pre-round-6 16-bit space emitted ~1.3k birthday-collision pairs here)
    val sim = pairSet(Dedup.dedupSimhash(spark, dir))
    val strongPairs = pairSet(Dedup.dedupNgramJaccard(spark, dir, threshold = 0.9))
    assert(sim.nonEmpty, "fixture has near-exact dup pairs")
    assert(sim.subsetOf(strongPairs),
      s"simhash emitted false positives: ${sim -- strongPairs}")
    // completeness: the 4x16-bit pigeonhole equi-join finds EVERY hamming<=3
    // pair (brute force over the collected signatures is the ground truth)
    val sigs = Dedup.simhashSignatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(sim == brute, "pigeonhole candidates must equal brute-force hamming<=3")
    // the candidate join key space must be wide: >64 distinct (chunk,piece)
    // keys (the old scheme's hard ceiling) and ~4 keys per non-dup doc
    import org.apache.spark.sql.functions._
    val keyed = Dedup.simhashSignatures(spark, dir)
      .select(explode(sequence(lit(0), lit(3))).as("chunk"), col("sig"))
      .select(col("chunk"), expr("shiftright(sig, chunk * 16) & 65535").as("piece"))
    val distinctKeys = keyed.distinct().count()
    assert(distinctKeys > 64 && distinctKeys > sigs.length.toLong,
      s"expected a wide bucket-key space, got $distinctKeys distinct keys for ${sigs.length} docs")
  }

  test("simhash representative early-out: an identical cluster yields exactly its hamming-0 pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 500 identical docs: the chunk join sees ONE representative signature
    // (4 keyed rows, not 2000); the m^2/2 output pairs come from the
    // direct same-signature join and all carry hamming 0
    val docs = (0L until 500L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog repeatedly")) :+
      ((9000L, "entirely different content about query engines and columnar formats"))
    val frame = DedupScaleBench.shingledOf(docs.toDF("doc_id", "text"))
    val out = Dedup.dedupSimhashFrame(spark, frame).cache()
    assert(out.where(col("hamming") === 0).count() == 500L * 499 / 2)
    assert(out.where(col("hamming") =!= 0).count() == 0,
      "the unrelated doc must not pair with the cluster")
    out.unpersist()
  }

  test("minhash hot-bucket cap: a planted 1.2k-identical cluster emits no quadratic burst") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft_hotbucket_").toFile
    try {
      // 1200 identical docs share all 4 band signatures, so every one of
      // their buckets holds 1200 > MaxBandBucket members — without the cap
      // the self-join would materialize ~2.9M candidate rows before
      // verification. The two identical docs planted alongside share
      // buckets of size 2 and must still pair up.
      val cluster = (0L until 1200L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog again and again"))
      val pair = Seq(
        (5000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (5001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      (cluster ++ pair).toDF("doc_id", "text")
        .write.parquet(new java.io.File(tmp, "documents.parquet").toString)
      val pairs = Dedup.dedupMinhash(spark, tmp.toString)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((5000L, 5001L)),
        s"cap must drop all cluster buckets and keep the small-bucket pair, got $pairs")
      // the boilerplate trade is recall-only: raising the cap above the
      // cluster size restores its (genuinely duplicate) pairs
      val uncapped = Dedup.dedupMinhash(spark, tmp.toString, maxBucket = 1500)
        .where(col("id_a") === 0L).count()
      assert(uncapped == 1199L, s"uncapped cluster must pair doc 0 with all 1199 twins")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(tmp)
    }
  }

  test("dedup survivors: distributed label propagation agrees with driver union-find") {
    val driverPath = Dedup.dedupSurvivors(spark, dir).collect().map(_.toSeq).toSet
    val distPath = Dedup.dedupSurvivors(spark, dir, driverCcMaxPairs = 0).collect().map(_.toSeq).toSet
    assert(driverPath == distPath, "both CC implementations must produce identical labels")
    assert(driverPath.nonEmpty)
  }

  test("distributed CC converges on a path graph of diameter > 20 (the old round cap)") {
    import spark.implicits._
    // path 0-1-2-...-60 (diameter 60) plus a disjoint pair {100,101}: the
    // pre-fix 20-round min-label loop would leave the chain's tail labeled
    // wrong; pointer-jumping must resolve every node to the component min.
    val pathPairs = (0L until 60L).map(i => (i, i + 1)) :+ (100L, 101L)
    val pairFrame = pathPairs.toDF("id_a", "id_b")
    val universe = ((0L to 61L) ++ Seq(100L, 101L, 200L)).toDF("doc_id")
    val out = Dedup.survivorsOf(spark, pairFrame, universe, driverCcMaxPairs = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 60L).foreach(i => assert(out(i) == 0L, s"node $i labeled ${out(i)}"))
    assert(out(100L) == 100L && out(101L) == 100L)
    assert(out(200L) == 200L, "untouched doc keeps itself")
  }

  test("distributed CC agrees with driver union-find on seeded random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(4711)
    for (trial <- 0 until 3) {
      val n = 40 + trial * 20
      val pairs = (for {
        a <- 0L until n
        b <- (a + 1) until n
        if rng.nextDouble() < 0.04
      } yield (a, b)).toDF("id_a", "id_b")
      val universe = (0L until n).toDF("doc_id")
      val viaDriver = Dedup.survivorsOf(spark, pairs, universe, driverCcMaxPairs = Long.MaxValue)
        .collect().map(_.toSeq).toSet
      val viaDist = Dedup.survivorsOf(spark, pairs, universe, driverCcMaxPairs = 0)
        .collect().map(_.toSeq).toSet
      assert(viaDriver == viaDist, s"trial $trial (n=$n): CC paths disagree")
    }
  }

  test("pixel decode property: PNG roundtrip of random images reproduces exact channel stats") {
    import spark.implicits._
    val rng = new scala.util.Random(2024)
    val imgs = (1L to 5L).map { id =>
      val w = 3 + rng.nextInt(6); val h = 3 + rng.nextInt(6)
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val pix = Array.fill(w * h)((rng.nextInt(256), rng.nextInt(256), rng.nextInt(256)))
      for ((c, i) <- pix.zipWithIndex)
        img.setRGB(i % w, i / w, (c._1 << 16) | (c._2 << 8) | c._3)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val n = pix.length
      def stat(f: ((Int, Int, Int)) => Int): (Double, Double) = {
        val s = pix.map(c => f(c).toLong).sum
        val q = pix.map(c => f(c).toLong * f(c)).sum
        val m = s.toDouble / n
        (math.floor(m * 1e4 + 0.5) / 1e4,
          math.floor(math.sqrt(q.toDouble / n - m * m) * 1e4 + 0.5) / 1e4)
      }
      (id, bos.toByteArray, stat(_._1), stat(_._2), stat(_._3))
    }
    val rows = Multimodal.imageStatsOf(
        imgs.map(t => (t._1, t._2)).toDF("doc_id", "payload"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for ((id, _, r, g, b) <- imgs) {
      val row = rows(id)
      assert((row.getAs[Double]("mean_r"), row.getAs[Double]("sd_r")) == r, s"img $id red")
      assert((row.getAs[Double]("mean_g"), row.getAs[Double]("sd_g")) == g, s"img $id green")
      assert((row.getAs[Double]("mean_b"), row.getAs[Double]("sd_b")) == b, s"img $id blue")
    }
  }

  test("pq ADC search recall@10 >= 0.5 vs exact kNN; codes are m-ary") {
    val pq = Quantization.pqSearch(spark, dir)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = {
      val e = graft.core.Tables.embeddings(spark, dir)
      operators.Knn.knnExact(e, operators.Knn.queriesFromPoints(e, 10), 10)
        .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val recall = (pq intersect brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"pq recall $recall")
    val codes = Quantization.pqQuantize(spark, dir).head().getString(1).split(",")
    assert(codes.length == 16 && codes.forall(c => c.toInt >= 0 && c.toInt < 32))
  }

  test("media feature stub pipeline: one row per doc, n_bytes == n_chars (ascii corpus)") {
    val feats = Multimodal.mediaFeatures(spark, dir)
    val docs = graft.core.Tables.documents(spark, dir)
    assert(feats.count() == docs.count())
    val joined = feats.join(docs, "doc_id")
      .where(org.apache.spark.sql.functions.col("n_bytes") =!=
        org.apache.spark.sql.functions.col("n_chars"))
    assert(joined.count() == 0, "utf-8 byte count must equal char count on ascii text")
    assert(feats.select("media_type").distinct().collect().map(_.getString(0)).toSet == Set("raw"),
      "utf-8 text payloads carry no media magic")
  }

  test("media decoder parses WAV/PPM/BMP/JPEG/PNG headers for real; corrupt sizes terminate") {
    import spark.implicits._
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def be16(v: Int) = Array[Byte](((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Int) = Array[Byte](
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val wav = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(44100 * 4) ++ le16(4) ++ le16(16)
    val ppm = "P6\n# a comment\n640 480\n255\n".getBytes ++ Array[Byte](0, 1, 2)
    val bmp = "BM".getBytes ++ le32(70) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(320) ++ le32(200) // BITMAPINFOHEADER: width@18 height@22
    // SOI + APP0 (16-byte segment) + SOF0 carrying height=123 width=456
    val jpg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++ Array.fill[Byte](14)(0) ++
      Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(17) ++ Array[Byte](8) ++
      be16(123) ++ be16(456) ++ Array[Byte](3)
    // signature + IHDR (width=800 height=600)
    val png = Array[Byte](0x89.toByte) ++ "PNG".getBytes ++
      Array[Byte](0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(800) ++ be32(600) ++ Array.fill[Byte](5)(0)
    // adversarial RIFF: a chunk size whose low bits would make the old Int
    // arithmetic stop advancing (0xFFFFFFF8) — must terminate, not spin
    val corruptWav = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32(0xFFFFFFF8) ++ Array.fill[Byte](8)(0)
    // minimal ISO-BMFF: ftyp box + moov containing an mvhd v0 with
    // timescale=90000 duration=4500 (box = [be32 size][fourcc][body])
    val mvhd = be32(8 + 4 + 16 + 8) ++ "mvhd".getBytes ++
      Array.fill[Byte](4)(0) ++ be32(0) ++ be32(0) ++ be32(90000) ++ be32(4500) ++
      Array.fill[Byte](8)(0)
    val mp4 = be32(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32(512) ++
      be32(8 + mvhd.length) ++ "moov".getBytes ++ mvhd
    // adversarial mp4: moov child with size 0 — must end the walk, not spin
    val corruptMp4 = be32(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32(512) ++
      be32(16) ++ "moov".getBytes ++ be32(0) ++ "free".getBytes
    val df = Seq((1L, wav), (2L, ppm), (3L, bmp), (4L, jpg), (5L, "plain".getBytes),
      (6L, png), (7L, corruptWav), (8L, mp4), (9L, corruptMp4))
      .toDF("doc_id", "payload")
    val rows = Multimodal.mediaFeaturesOf(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("media_type"), r.getAs[Long]("dim1"), r.getAs[Long]("dim2")))).toMap
    assert(rows(1L) == (("wav", 44100L, 2L)))
    assert(rows(2L) == (("ppm", 640L, 480L)))
    assert(rows(3L) == (("bmp", 320L, 200L)))
    assert(rows(4L) == (("jpeg", 456L, 123L)))
    assert(rows(5L)._1 == "raw")
    assert(rows(6L) == (("png", 800L, 600L)))
    assert(rows(7L)._1 == "raw", "corrupt RIFF chunk size must fall through to raw, not hang")
    assert(rows(8L) == (("mp4", 90000L, 4500L)), "mvhd timescale/duration from the moov walk")
    assert(rows(9L)._1 == "raw", "zero-size moov child must end the walk, not spin")
  }

  test("hostile headers reject cleanly: 2^31 mp4 child, negative bmp offset, ppm overflow, non-pcm wav") {
    import spark.implicits._
    def be32(v: Int) = Array[Byte](
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // moov child declaring size 0x80000010: Int arithmetic would wrap the
    // cursor negative and crash; must end the walk as raw instead
    val evilMp4 = be32(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32(512) ++
      be32(24) ++ "moov".getBytes ++ be32(0x80000010) ++ "free".getBytes ++ Array.fill[Byte](8)(0)
    val evilMp4Features = Multimodal.mediaFeaturesOf(
      Seq((1L, evilMp4)).toDF("doc_id", "payload")).collect()
    assert(evilMp4Features(0).getAs[String]("media_type") == "raw")
    // BMP with pixel-data offset 0x80000000 (negative as Int): decodePixels
    // must return None, not index payload(-2^31)
    val evilBmp = "BM".getBytes ++ le32(70) ++ le32(0) ++ le32(0x80000000) ++
      le32(40) ++ le32(1) ++ le32(1) ++ le16(1) ++ le16(24) ++ le32(0) ++ Array.fill[Byte](20)(0)
    // PPM whose w*h overflows Long past the bounds check
    val evilPpm = "P6\n3037000500 3037000500\n255\n".getBytes ++ Array.fill[Byte](8)(1)
    val imgRows = Multimodal.imageStatsOf(
      Seq((1L, evilBmp), (2L, evilPpm)).toDF("doc_id", "payload")).collect()
    assert(imgRows.isEmpty, s"hostile image headers must be dropped, got ${imgRows.toSeq}")
    // WAV declaring 16-bit samples but a compressed (non-PCM) format tag
    val nonPcm = {
      val bb = java.nio.ByteBuffer.allocate(52).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(44).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(85).putShort(1) // 85 = MP3
        .putInt(16000).putInt(32000).putShort(2).putShort(16)
      bb.put("data".getBytes).putInt(8).putLong(0L)
      bb.array()
    }
    val audioRows = Multimodal.audioStatsOf(
      Seq((1L, nonPcm)).toDF("doc_id", "payload")).collect()
    assert(audioRows.isEmpty, "compressed bytes must not be summed as PCM samples")
  }

  test("scala minhash band twin is bit-identical to the SQL pipeline on every doc") {
    import org.apache.spark.sql.functions.col
    val sqlBands = Dedup.minhashBandsDF(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val scalaBands = docs.flatMap { case (id, text) =>
      Dedup.minhashBandsOf(text).map { case (b, sig) => (id, b, sig) }
    }.toSet
    assert(scalaBands == sqlBands,
      s"examples only in scala: ${(scalaBands diff sqlBands).take(2)}, " +
        s"only in sql: ${(sqlBands diff scalaBands).take(2)}")
    assert(sqlBands.nonEmpty)
  }

  test("asof join agrees with a brute-force point-in-time lookup on every purchase") {
    import org.apache.spark.sql.functions.col
    val ev = graft.core.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val clicksByUser = ev.filter(_._4 == "click")
      .groupBy(_._2).view.mapValues(_.map(e => (e._3, e._5)).sortBy(_._1)).toMap
    val expected = ev.filter(_._4 == "purchase").map { case (eid, uid, us, _, _) =>
      val prior = clicksByUser.getOrElse(uid, Array.empty[(Long, Double)])
        .filter(_._1 <= us)
      if (prior.isEmpty) eid -> None
      else {
        val lastTs = prior.last._1
        // right side pre-aggregates max(value) per (user, ts)
        eid -> Some((prior.filter(_._1 == lastTs).map(_._2).max, us - lastTs))
      }
    }.toMap
    val got = operators.Temporal.asofJoin(spark, dir).collect().map { r =>
      r.getAs[Long]("event_id") ->
        (if (r.isNullAt(3)) None
         else Some((r.getAs[Double]("asof_value"), r.getAs[Long]("micros_since_match"))))
    }.toMap
    assert(got.keySet == expected.keySet, "one output row per purchase")
    val diffs = expected.collect { case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"asof mismatches: ${diffs.take(3).toList}")
    assert(expected.values.exists(_.isDefined) && expected.values.exists(_.isEmpty),
      "fixture must exercise both matched and unmatched purchases")
  }

  test("generic asofJoinFrames works over custom key/ts/value columns and payloads") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val readings = Seq( // sensor calibration history: one row per (sensor, ts)
      (7L, ts(0), 1.0), (7L, ts(10), 2.0), (9L, ts(5), 9.0))
      .toDF("sensor_id", "ts", "cal")
    val probes = Seq( // measurements carrying a payload column
      (100L, 7L, ts(4), "a"), (101L, 7L, ts(10), "b"),
      (102L, 7L, ts(99), "c"), (103L, 8L, ts(1), "d"))
      .toDF("m_id", "sensor_id", "ts", "tag")
    val got = operators.Temporal.asofJoinFrames(probes, readings,
        keyCol = "sensor_id", tsCol = "ts", valueCol = "cal")
      .collect().map(r => r.getAs[Long]("m_id") ->
        ((Option(r.getAs[java.lang.Double]("cal")).map(_.toDouble),
          Option(r.getAs[java.lang.Long]("micros_since_match")).map(_.toLong),
          r.getAs[String]("tag")))).toMap
    assert(got(100L) == ((Some(1.0), Some(4L * 60000000L), "a")), s"got ${got(100L)}")
    assert(got(101L) == ((Some(2.0), Some(0L), "b")), "same-instant reading counts as prior")
    assert(got(102L) == ((Some(2.0), Some(89L * 60000000L), "c")))
    assert(got(103L) == ((None, None, "d")), "sensor with no history stays null")
  }

  test("asofJoinFrames rejects payload columns that collide with its output/internal names") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val right = Seq((7L, ts(0), 1.0)).toDF("sensor_id", "ts", "cal")
    val badLeft = Seq((100L, 7L, ts(4), 0.5)).toDF("m_id", "sensor_id", "ts", "cal")
    val e = intercept[IllegalArgumentException] {
      operators.Temporal.asofJoinFrames(badLeft, right,
        keyCol = "sensor_id", tsCol = "ts", valueCol = "cal")
    }
    assert(e.getMessage.contains("cal"), s"error must name the clash: ${e.getMessage}")
    val badTag = Seq((100L, 7L, ts(4), 1)).toDF("m_id", "sensor_id", "ts", "__tag")
    intercept[IllegalArgumentException] {
      operators.Temporal.asofJoinFrames(badTag, right,
        keyCol = "sensor_id", tsCol = "ts", valueCol = "cal")
    }
  }

  test("stratified sample: exactly min(perLang, stratum size) docs per lang, deterministic") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, dir)
    val sizes = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = CorpusPipeline.sampleStratified(spark, dir, perLang = 50).collect()
    val byLang = got.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    for ((lang, n) <- sizes)
      assert(byLang.getOrElse(lang, 0) == math.min(50L, n).toInt, s"stratum $lang")
    val again = CorpusPipeline.sampleStratified(spark, dir, perLang = 50).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "pure function of ids")
  }

  test("repetition score: bounded, consistent with distinct/total ngram counts") {
    val rows = TextAnalysis.repetitionScore(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tot, dis, rep) = (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_distinct"),
        r.getAs[Double]("repetition"))
      assert(dis >= 1 && dis <= tot)
      assert(rep >= 0.0 && rep < 1.0)
      assert(math.abs(rep - (1.0 - dis.toDouble / tot)) < 1e-3)
    }
    assert(rows.exists(_.getAs[Double]("repetition") > 0.0),
      "word-soup corpus must contain repeated trigrams")
  }

  test("ngram jaccard df cutoff: a boilerplate shingle shared by half the corpus is dropped") {
    import spark.implicits._
    // 40 docs all share the "hot" shingle; docs 0/1 also share 3 rare ones.
    // Without the cutoff the hot shingle alone contributes C(40,2)=780
    // joined rows; with maxDf=10 only the rare-shingle pair survives.
    val docs = (0L until 40L).map { i =>
      val own = Seq(s"unique $i a", s"unique $i b")
      val rare = if (i <= 1) Seq("shared rare one", "shared rare two", "shared rare three") else Nil
      (i, (Seq("hot boilerplate shingle") ++ rare ++ own).toArray)
    }.toDF("doc_id", "sh")
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.2, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 0.3333)),
      s"expected exactly the rare-shingle pair (3 shared, 6+6-3 union), got ${pairs.toSeq}")
  }

  test("lsh L2 pairs: subset of the exact threshold join with pair recall >= 0.9") {
    val exact = pairSet(Similarity.similarityJoinExact(spark, dir))
    val lsh = pairSet(Similarity.lshL2Pairs(spark, dir))
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "lsh verifies with the exact distance -> subset")
    assert(lsh.size.toDouble / exact.size >= 0.9, s"l2 lsh recall ${lsh.size}/${exact.size}")
  }

  test("lsh cosine pairs adapts to a non-64-dim embedding table") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    // 20 base 16-dim vectors plus a near-duplicate of each -> 20 planted pairs
    val base = (0L until 20L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
    val dups = base.map { case (i, v) => (i + 100L, v.map(x => x + 0.01f * rng.nextGaussian().toFloat)) }
    val tmp = java.nio.file.Files.createTempDirectory("lsh_dim").toString
    (base ++ dups).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val pairs = pairSet(Similarity.lshCosinePairs(spark, tmp, threshold = 0.99))
    val planted = base.map { case (i, _) => (i, i + 100L) }.toSet
    val found = planted.count(pairs.contains).toDouble / planted.size
    assert(found >= 0.5, s"found only $found of planted near-dups at dim=16")
  }

  test("hash sampling is deterministic and lands near the expected rate") {
    val a = CorpusPipeline.sampleByHash(spark, dir).collect().map(_.getLong(0)).toSeq
    val b = CorpusPipeline.sampleByHash(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(a == b, "identical runs must select identical docs")
    val total = graft.core.Tables.documents(spark, dir).count().toDouble
    val rate = a.size / total
    assert(rate > 0.04 && rate < 0.20, s"rate $rate far from 26/256")
  }

  test("clean corpus output is contained in each of its three filters") {
    val cleaned = CorpusPipeline.cleanCorpus(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(cleaned.nonEmpty)
    assert(cleaned.values.forall(_ >= 0.5), "quality floor")
    val en = TextAnalysis.langId(spark, dir).where("pred_lang = 'en'")
      .collect().map(_.getLong(0)).toSet
    val survivors = Dedup.dedupExact(spark, dir).collect().map(_.getLong(0)).toSet
    assert(cleaned.keySet.subsetOf(en), "language filter")
    assert(cleaned.keySet.subsetOf(survivors), "exact-dedup survivorship")
  }

  test("pixel decode: PPM/BMP byte paths and PNG imageio path agree on a known image") {
    import spark.implicits._
    // 2x2 image with known channel stats: pixels (R,G,B) =
    // (10,20,30) (40,50,60) (70,80,90) (100,110,120)
    val pix = Array(
      (10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120))
    val meanR = (10 + 40 + 70 + 100) / 4.0
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for ((c, i) <- pix.zipWithIndex)
      img.setRGB(i % 2, i / 2, (c._1 << 16) | (c._2 << 8) | c._3)
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val ppm = "P6\n2 2\n255\n".getBytes("US-ASCII") ++
      pix.flatMap(c => Array(c._1.toByte, c._2.toByte, c._3.toByte))
    val frame = Seq((1L, ppm), (2L, enc("png")), (3L, enc("bmp")),
      (4L, "not an image".getBytes)).toDF("doc_id", "payload")
    val rows = Multimodal.imageStatsOf(frame).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("media_type"), r.getAs[Long]("width"), r.getAs[Long]("height"),
          r.getAs[Double]("mean_r"), r.getAs[Double]("mean_g")))).toMap
    assert(!rows.contains(4L), "non-image payloads are dropped")
    assert(rows(1L) == (("ppm", 2L, 2L, meanR, meanR + 10)))
    assert(rows(2L) == (("png", 2L, 2L, meanR, meanR + 10)), "PNG decode is lossless")
    assert(rows(3L) == (("bmp", 2L, 2L, meanR, meanR + 10)), "BMP byte-path decode")
    // JPEG is lossy: stats must exist and be within a loose band
    val jpg = Seq((5L, enc("jpg"))).toDF("doc_id", "payload")
    val j = Multimodal.imageStatsOf(jpg).collect()
    assert(j.length == 1 && j(0).getAs[String]("media_type") == "jpeg")
    assert(math.abs(j(0).getAs[Double]("mean_r") - meanR) < 40.0)
  }

  test("thumbnail resize: nearest-neighbor mapping on a real 2D gradient image") {
    // 16x4 P6 where pixel (y,x) = (x*16, y*60, 7): resize to 8x8 must pick
    // source (floor(i*4/8), floor(j*16/8)) — checkable in closed form
    val w = 16; val h = 4
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val body = Array.tabulate(w * h * 3) { idx =>
      val p = idx / 3; val c = idx % 3
      val y = p / w; val x = p % w
      (c match { case 0 => x * 16; case 1 => y * 60; case 2 => 7 }).toByte
    }
    val payload = header ++ body
    val Some((gw, gh, thumb)) = Multimodal.thumbnailOf(payload, 8, 8)
    assert(gw == w && gh == h)
    val got = thumb.split(",").map(_.toInt).toSeq
    val expected = (for (i <- 0 until 8; j <- 0 until 8; c <- 0 until 3) yield {
      val sy = i / 2; val sx = j * 2
      c match { case 0 => sx * 16; case 1 => sy * 60; case 2 => 7 }
    }).toSeq
    assert(got == expected, "nearest-neighbor sampling must hit floor-mapped source pixels")
    // and the registered query emits 192 ints per doc over the corpus
    val rows = Multimodal.imageThumbnail(spark, dir).limit(5).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vals = r.getAs[String]("thumb").split(",")
      assert(vals.length == 192 && vals.forall(v => v.toInt >= 0 && v.toInt <= 255))
    }
  }

  test("wav sample decode: signed 16-bit PCM, stereo channels, and non-wav rejection") {
    import spark.implicits._
    // samples: +1000, -1000, +32767, -32768 → sum = -1, exact stats known
    val samples = Array[Short](1000, -1000, 32767, -32768)
    val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + samples.length * 2).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2) // stereo
      .putInt(8000).putInt(8000 * 4).putShort(4).putShort(16)
    bb.put("data".getBytes).putInt(samples.length * 2)
    samples.foreach(bb.putShort)
    val frame = Seq((1L, bb.array()), (2L, "not audio".getBytes)).toDF("doc_id", "payload")
    val rows = Multimodal.audioStatsOf(frame).collect()
    assert(rows.length == 1, "non-wav payloads are dropped")
    val r = rows(0)
    assert(r.getAs[Long]("sample_rate") == 8000L && r.getAs[Long]("n_channels") == 2L)
    assert(r.getAs[Long]("n_samples") == 4L)
    val mean = (1000.0 - 1000.0 + 32767.0 - 32768.0) / 4
    assert(r.getAs[Double]("mean_amp") == math.floor(mean * 1e4 + 0.5) / 1e4,
      s"signed decode must be exact: ${r.getAs[Double]("mean_amp")}")
  }

  test("gzip roundtrip: integrity holds on every doc and text compresses") {
    val rows = Multimodal.gzipRoundtrip(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("roundtrip_ok")), "gunzip(gzip(x)) must equal x")
    val avgRatio = rows.map(_.getAs[Double]("ratio")).sum / rows.length
    assert(avgRatio < 1.0, s"natural-language payloads must compress, got $avgRatio")
  }

  test("incremental dedup agrees with batch exact dedup on the overlap") {
    import org.apache.spark.sql.functions.col
    val inc = Dedup.dedupIncremental(spark, dir, batchStart = 400)
    val dups = inc.where(col("is_dup") === 1).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of")))
    dups.foreach { case (_, dupOf) => assert(dupOf >= 0 && dupOf < 400, "dup_of must be a corpus id") }
    val n = inc.count()
    val expected = graft.core.Tables.documents(spark, dir).where(col("doc_id") >= 400).count()
    assert(n == expected, "one row per new-batch doc, dup or not")
  }

  test("lm scoring: common bigrams beat rare ones; ppl = exp(-avg_logp)") {
    val rows = TextAnalysis.lmPerplexity(spark, dir).collect()
    assert(rows.length > 400, "nearly every doc has >= 2 tokens")
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_logp")
      assert(avg < 0.0, s"doc ${r.getLong(0)}: smoothed log-prob must be negative")
      val ppl = r.getAs[Double]("ppl")
      assert(math.abs(ppl - math.rint(math.exp(-avg) * 1e4) / 1e4) < 1e-9)
      assert(ppl > 1.0 && ppl < 1e6, s"doc ${r.getLong(0)}: ppl $ppl out of range")
    }
  }

  test("oov rate: rare tokens are flagged, frequent-only docs score zero") {
    val rows = TextAnalysis.oovRate(spark, dir).collect()
    assert(rows.length == 500)
    val rates = rows.map(_.getAs[Double]("oov_rate"))
    assert(rates.forall(r => r >= 0.0 && r <= 1.0))
    // the sf0.01 corpus has a rare token (count < 100) -> someone scores > 0
    assert(rates.exists(_ > 0.0), "fixture contains at least one OOV token")
    assert(rates.exists(_ == 0.0), "most docs are all-frequent tokens")
  }

  test("boilerplate score: hot-shingle ratio bounded and non-trivial") {
    val rows = TextAnalysis.boilerplateScore(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_shingles")
      val b = r.getAs[Long]("n_boiler")
      assert(b >= 0 && b <= n, s"doc ${r.getLong(0)}: boiler count out of bounds")
    }
    assert(rows.exists(_.getAs[Long]("n_boiler") > 0),
      "fixture's planted near-dups share hot shingles")
  }

  test("mixture sampling: per-source keep rate tracks the target, deterministic") {
    val rows = CorpusPipeline.sampleMixture(spark, dir).collect()
    val total = graft.core.Tables.documents(spark, dir).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    total.foreach { case (src, n) =>
      val rate = Seq(0.1, 0.3, 0.6, 1.0)(src.filter(_.isDigit).toInt % 4)
      val k = kept.getOrElse(src, 0).toDouble
      // ~25 docs/source at sf0.01: binomial noise is wide, so just bound it
      assert(math.abs(k / n - rate) < 0.35, s"$src: kept ${k.toInt}/$n target $rate")
      if (rate == 1.0) assert(k == n, s"$src: rate-1.0 source must keep everything")
    }
    val again = CorpusPipeline.sampleMixture(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq,
      "hash sampling is a pure function of the id")
  }

  test("pii redaction: planted email+phone found and replaced in every doc") {
    val rows = TextAnalysis.piiRedact(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1L, s"doc ${r.getLong(0)}: email not found")
      assert(r.getAs[Long]("n_phones") == 1L, s"doc ${r.getLong(0)}: phone not found")
    }
    // independent reconstruction: redacting the planted spans must leave
    // exactly text + " contact <EMAIL> or call <PHONE>" — i.e. every
    // id-dependent character is gone from the hashed output
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    val expected = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(col("text"), lit(" contact <EMAIL> or call <PHONE>"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[String]("redacted_hash") == expected(r.getLong(0)),
        s"doc ${r.getLong(0)}: redacted text diverges from the expected normal form")
    }
  }

  test("dedup cluster stats: histogram masses sum to the corpus size") {
    val rows = Dedup.dedupClusterStats(spark, dir).collect()
    val mass = rows.map(r => r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters")).sum
    assert(mass == 500L, s"histogram covers every doc exactly once (got $mass)")
    assert(rows.exists(r => r.getAs[Long]("cluster_size") > 1), "planted dups form clusters")
  }

  test("source overlap: pairs ordered, shared bounded by the smaller set") {
    val rows = Dedup.sourceOverlap(spark, dir).collect()
    assert(rows.nonEmpty, "the synthetic sources share vocabulary-driven shingles")
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b, s"pair ($a,$b) must be emitted once, ordered")
      val shared = r.getAs[Long]("n_shared")
      val cap = math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(shared >= 1 && shared <= cap, s"($a,$b): shared $shared vs cap $cap")
      val c = r.getAs[Double]("containment")
      assert(c > 0.0 && c <= 1.0)
    }
  }

  test("quality deciles: 10 bands covering the corpus with monotone boundaries") {
    val rows = TextAnalysis.qualityDeciles(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (0L to 9L),
      "every decile band must be populated at 500 docs")
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 500L)
    rows.foreach { r =>
      assert(r.getAs[Double]("min_q") <= r.getAs[Double]("avg_q") &&
        r.getAs[Double]("avg_q") <= r.getAs[Double]("max_q"))
    }
    val bounds = rows.map(r => (r.getAs[Double]("min_q"), r.getAs[Double]("max_q")))
    bounds.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi <= lo2, "decile ranges must not overlap (ranked partition)")
    }
  }

  test("ngram novelty: earliest doc owns its shingles; dup-chain members lose theirs") {
    val rows = Dedup.ngramNovelty(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_shingles"); val nov = r.getAs[Long]("n_novel")
      assert(nov >= 0 && nov <= n)
    }
    // doc 0 can only share shingles with LATER docs -> fully novel
    val d0 = rows.find(_.getLong(0) == 0L).get
    assert(d0.getAs[Long]("n_novel") == d0.getAs[Long]("n_shingles"))
    // the planted near-dups guarantee someone is NOT fully novel
    assert(rows.exists(r => r.getAs[Long]("n_novel") < r.getAs[Long]("n_shingles")))
  }

  test("token entropy: bounded by ln(n_distinct), low for repetitive docs") {
    val rows = TextAnalysis.tokenEntropy(spark, dir).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val ent = r.getAs[Long]("entropy_unats").toDouble / 1e6
      val cap = math.log(r.getAs[Long]("n_distinct").toDouble)
      assert(ent >= 0.0 && ent <= cap + 1e-3,
        s"doc ${r.getLong(0)}: entropy $ent above uniform cap $cap")
    }
  }

  test("pipeline_full composes clean, mixture, and packing exactly") {
    val full = CorpusPipeline.pipelineFull(spark, dir).collect()
    assert(full.nonEmpty)
    val cleanIds = CorpusPipeline.cleanCorpus(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val mixIds = CorpusPipeline.sampleMixture(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val fullIds = full.map(_.getLong(0)).toSet
    assert(fullIds == (cleanIds intersect mixIds),
      "survivors must be exactly the clean docs the mixture keeps")
    // packing invariant: offsets are a contiguous token stream in id order
    val byId = full.sortBy(_.getLong(0))
    byId.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("start_offset") ==
        a.getAs[Long]("start_offset") + a.getAs[Long]("n_tokens"))
    }
  }

  test("cdc chunking: chunks tile each doc; boundaries are content-local") {
    val rows = TextAnalysis.docChunksCdc(spark, dir).collect()
    val docs = graft.core.Tables.documents(spark, dir)
      .selectExpr("doc_id", "size(split(lower(text), '\\\\s+')) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (id, cs) =>
      assert(cs.map(_.getAs[Long]("n_tokens")).sum == docs(id),
        s"doc $id: chunks must tile the token stream exactly")
      assert(cs.map(_.getAs[Long]("chunk_id")).sorted.toSeq ==
        (0L until cs.length).toSeq, s"doc $id: chunk ids must be dense")
    }
    val meanLen = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble / rows.length
    assert(meanLen > 8 && meanLen < 32,
      s"mean chunk length $meanLen should sit near the modulus (16)")
    // content-local boundaries: the SAME token always opens/closes chunks
    // identically, so two docs sharing a long span share interior chunk
    // hashes — planted near-dups guarantee at least one collision
    val hashes = rows.map(_.getAs[String]("chunk_hash"))
    assert(hashes.distinct.length < hashes.length,
      "shared spans across near-dup docs must produce shared chunk hashes")
  }

  test("cdc chunking: a prefix edit disturbs only chunks before the next boundary") {
    import spark.implicits._
    // the guarantee fixed-stride chunking cannot give: boundaries are a
    // pure function of LOCAL content, so inserting tokens at the front
    // must leave every chunk after the first surviving boundary
    // hash-identical. (If an inserted token happens to be a boundary the
    // head splits differently, but the tail-subset property still holds.)
    val base = (0 until 200).map(i => s"tok$i").mkString(" ")
    val edited = "inserted prefix words here " + base
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_")
    try {
      Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
        .write.parquet(s"$tmp/documents.parquet")
      val rows = TextAnalysis.docChunksCdc(spark, tmp.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[String]("chunk_hash")))
      val h1 = rows.filter(_._1 == 1L).sortBy(_._2).map(_._3)
      val h2 = rows.filter(_._1 == 2L).map(_._3).toSet
      assert(h1.length >= 3, s"fixture must produce several chunks, got ${h1.length}")
      assert(h1.drop(1).forall(h2.contains),
        "every chunk after the first boundary must survive the prefix edit")
      assert(!h2.contains(h1.head) || h1.drop(1).forall(h2.contains),
        "only the head chunk may differ")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmp)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
    }
  }

  test("bm25: ranks dense, scores non-increasing, every hit contains a query term") {
    val rows = TextAnalysis.bm25Retrieval(spark, dir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == TextAnalysis.Bm25Queries.map(_._1).toSet,
      "every registered query must return hits on the fixture corpus")
    val texts = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split("\\s+").toSet).toMap
    byQ.foreach { case (qid, hits) =>
      val sorted = hits.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"query $qid: ranks must be dense from 1")
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $qid: scores must be non-increasing down the ranking")
      assert(scores.forall(_ > 0.0), s"query $qid: BM25 of a matched doc is positive")
      val terms = TextAnalysis.Bm25Queries.toMap.apply(qid).toSet
      sorted.foreach { r =>
        assert(texts(r.getAs[Long]("doc_id")).intersect(terms).nonEmpty,
          s"query $qid: hit ${r.getAs[Long]("doc_id")} contains no query term")
      }
    }
  }

  test("bm25 prf: dense positive rankings that actually diverge from the unexpanded pass") {
    val prf = TextAnalysis.bm25Prf(spark, dir).collect()
    val plain = TextAnalysis.bm25Retrieval(spark, dir).collect()
    def byQ(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(
        _.sortBy(_.getLong(1)).map(_.getAs[Long]("doc_id")).toSeq).toMap
    val p = byQ(prf)
    val o = byQ(plain)
    assert(p.keySet == TextAnalysis.Bm25Queries.map(_._1).toSet,
      "every query must survive expansion")
    prf.groupBy(_.getLong(0)).foreach { case (qid, hits) =>
      val sorted = hits.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"query $qid: ranks dense from 1")
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b } &&
        scores.forall(_ > 0.0), s"query $qid: scores positive non-increasing")
    }
    assert(p.keys.exists(q => p(q) != o(q)),
      "expansion never changed any ranking — PRF is vacuous on this corpus")
  }

  test("rag retrieval: rank-1 is the hybrid winner; MMR diversifies at least one query") {
    val rag = TextAnalysis.ragRetrieval(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(
        _.sortBy(_.getLong(1)).map(_.getAs[Long]("id")).toSeq).toMap
    val hyb = TextAnalysis.hybridRetrieval(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(
        _.sortBy(_.getLong(1)).map(_.getAs[Long]("doc_id")).toSeq).toMap
    assert(rag.keySet == hyb.keySet, "every hybrid query must survive the MMR stage")
    rag.keys.foreach { q =>
      assert(rag(q).head == hyb(q).head,
        s"q$q: MMR rank-1 must be the fusion winner (rel=1 dominates an empty penalty)")
      assert(rag(q).toSet.subsetOf(hyb(q).take(10).toSet),
        s"q$q: MMR picks must come from the hybrid shortlist")
    }
    assert(rag.keys.exists(q => rag(q) != hyb(q).take(rag(q).length)),
      "MMR never reordered any query - diversity stage is vacuous")
  }

  test("substring dedup: planted shared span is counted, unique doc scores zero") {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"copy$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ssd_")
    try {
      Seq(
        (1L, s"alpha beta gamma delta $shared"),
        (2L, s"$shared epsilon zeta eta theta"),
        (3L, "iota kappa lambda mu nu xi omicron pi rho sigma tau"))
        .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val rows = Dedup.substringDedup(spark, tmp.toString).collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("n_windows"),
          r.getAs[Long]("n_dup_windows"), r.getAs[Double]("dup_fraction"))).toMap
      // the 12-token shared span yields 12-8+1 = 5 identical windows in both docs
      assert(rows(1L)._2 == 5, s"doc 1: ${rows(1L)._2} dup windows, want 5")
      assert(rows(2L)._2 == 5, s"doc 2: ${rows(2L)._2} dup windows, want 5")
      assert(rows(3L)._2 == 0, "unique doc must have zero duplicated windows")
      rows.foreach { case (id, (nw, nd, fr)) =>
        assert(nd <= nw && math.abs(fr - math.rint(nd.toDouble / nw * 1e4) / 1e4) < 1e-9,
          s"doc $id: fraction must be nd/nw rounded")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmp)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
    }
  }

  test("line dedup: repeated in-doc chunk dropped once, first occurrence kept in order") {
    import spark.implicits._
    val a = (0 until 8).map(i => s"a$i").mkString(" ") // chunk A
    val b = (0 until 8).map(i => s"b$i").mkString(" ") // chunk B
    val tmp = java.nio.file.Files.createTempDirectory("graft_ld_")
    try {
      Seq(
        (1L, s"$a $b $a"),          // A B A -> A B (3 chunks, 2 kept)
        (2L, s"$a $b tail1 tail2"), // distinct + short tail chunk: all kept
        (3L, s"$a $a $a"))          // A A A -> A
        .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val rows = Dedup.lineDedupIntra(spark, tmp.toString).collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("n_chunks"),
          r.getAs[Long]("n_kept"), r.getAs[String]("clean_md5"))).toMap
      assert(rows(1L)._1 == 3 && rows(1L)._2 == 2, s"doc 1: ${rows(1L)}")
      assert(rows(2L)._1 == 3 && rows(2L)._2 == 3, s"doc 2: ${rows(2L)}")
      assert(rows(3L)._1 == 3 && rows(3L)._2 == 1, s"doc 3: ${rows(3L)}")
      def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(rows(1L)._3 == md5s(s"$a $b"), "doc 1 must reassemble to A B")
      assert(rows(2L)._3 == md5s(s"$a $b tail1 tail2"),
        "doc 2 keeps the short trailing chunk verbatim")
      assert(rows(3L)._3 == md5s(a), "doc 3 collapses to the single chunk")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmp)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
    }
  }

  test("bpe merges: planted corpus learns the textbook merge sequence") {
    import spark.implicits._
    // word freqs: aaab x2, ab x1.
    //   r1: (a,a)=4 beats (a,b)=3 -> "aa";  aaab=[aa,a,b], ab=[a,b]
    //   r2: (a,b)=3 beats (aa,a)=2 -> "ab"; aaab=[aa,ab], ab=[ab]
    //   r3: (aa,ab)=2 -> "aaab"
    val docs = Seq("aaab aaab ab").toDF("text")
    val m = TextAnalysis.bpeMergesOf(spark, docs, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1L, "a", "a", 4L), (2L, "a", "b", 3L), (3L, "aa", "ab", 2L)),
      s"got ${m.toSeq}")
  }

  test("bpe encode: merged words collapse to single tokens; coverage is total") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_")
    try {
      Seq((1L, "aaab aaab ab"), (2L, "aaab xy"))
        .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      // 3 merges suffice to fuse aaab and ab entirely (see merges spec);
      // xy never wins a merge at these counts so it stays 2 subtokens
      val rows = TextAnalysis.bpeEncode(spark, tmp.toString, k = 3).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows(1L) == ((3L, 3L)), s"doc 1: ${rows(1L)}")
      assert(rows(2L) == ((2L, 3L)), s"doc 2: ${rows(2L)}") // aaab=1 + xy=2
      // the beyond-broadcast (open-vocabulary) join path is row-identical
      val shuffled = TextAnalysis.bpeEncode(spark, tmp.toString, k = 3,
        broadcastVocab = false).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(shuffled == rows, "broadcast and shuffle-join vocab paths must agree")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmp)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
    }
  }

  test("image ahash: identical payloads collide, count is the bucket size") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ah_")
    try {
      // doc 3's text yields a different luminance PATTERN (ramp), so its
      // hash must differ from the flat-ish word docs
      Seq((1L, "spark table join merge window batch"),
        (2L, "spark table join merge window batch"),
        (3L, "aaaaaaaaaaaazzzzzzzzzzzzaaaaaaaaaaaazzzzzzzzzzzz"))
        .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val rows = Multimodal.imageAhash(spark, tmp.toString).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getBoolean(3))).toMap
      assert(rows(1L)._1 == rows(2L)._1 && rows(1L)._2 == 2 && rows(1L)._3,
        s"identical payloads must share a bucket: ${rows(1L)} vs ${rows(2L)}")
      assert(rows(3L)._1 != rows(1L)._1 && rows(3L)._2 == 1 && !rows(3L)._3,
        s"distinct pattern must be alone: ${rows(3L)}")
      assert(rows.values.forall(_._1.length == 64), "64-bit signatures")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmp)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
    }
  }

  test("image ahash: fused kernel bit-matches the expression form over varied texts") {
    import spark.implicits._
    // the batch kernel (ahashOfText inside mapPartitions) must stay
    // bit-identical to the expression derivation the STREAMING path serves
    // (thumbnailsWithTs + withAhash) — varied lengths, ramps, repeats,
    // and non-multiple-of-24 tails exercise the resample offsets
    val rnd = new scala.util.Random(42)
    val texts = (0 until 40).map { i =>
      val n = 24 + rnd.nextInt(400)
      new String(Array.fill(n)((32 + rnd.nextInt(95)).toChar))
    } ++ Seq("a" * 24, "az" * 100, ('a' to 'z').mkString * 5)
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .withColumn("ts", org.apache.spark.sql.functions.lit(null).cast("timestamp"))
    val viaExpr = Multimodal.withAhash(Multimodal.thumbnailsWithTs(docs))
      .select("doc_id", "ahash").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaKernel = texts.zipWithIndex
      .map { case (t, i) => i.toLong -> Multimodal.ahashOfText(t) }.toMap
    assert(viaExpr == viaKernel, "kernel/expression aHash drift")
  }

  test("media neardup: planted Hamming 1-3 neighbors recovered; complete vs brute force") {
    import spark.implicits._
    def bits(v: Long, n: Int): String =
      (n - 1 to 0 by -1).map(i => if (((v >> i) & 1L) == 1L) '1' else '0').mkString
    val base = 0x5A5A5A5A5A5A5A5AL
    // planted: 2 = base^bit0 (d=1), 3 = base^bits{10,30,50} (d=3), 4 = d=5 (out),
    // 5 = exact copy of base (d=0), 6 = unrelated
    val sigs = Seq(
      1L -> bits(base, 64),
      2L -> bits(base ^ 1L, 64),
      3L -> bits(base ^ (1L << 10) ^ (1L << 30) ^ (1L << 50), 64),
      4L -> bits(base ^ 0x1FL, 64),
      5L -> bits(base, 64),
      6L -> bits(0x123456789ABCDEF0L, 64)).toDF("doc_id", "bits")
    val got = Multimodal.bitstringNearDupPairs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.contains((1L, 2L, 1L)), s"distance-1 neighbor missed: $got")
    assert(got.contains((1L, 3L, 3L)), s"distance-3 neighbor missed: $got")
    assert(got.contains((1L, 5L, 0L)), s"exact pair missed: $got")
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L), s"distance-5 leaked: $got")
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L), s"unrelated leaked: $got")
    // completeness on a deterministic pseudo-random corpus, incl. short
    // (< 4 bit) and mixed-length signatures the quarter-chunk join can't see
    val rng = new scala.util.Random(7)
    val rand = (1 to 60).map(i => i.toLong ->
      (if (i <= 12) bits(rng.nextInt(8), 3) else bits(rng.nextLong() & 0xFFFL, 12)))
    val randDf = rand.toDF("doc_id", "bits")
    val gotR = Multimodal.bitstringNearDupPairs(randDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = (for {
      (ia, ba) <- rand; (ib, bb) <- rand
      if ia < ib && ba.length == bb.length
      d = ba.zip(bb).count { case (x, y) => x != y }
      if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(gotR == brute, s"pigeonhole join incomplete: missing ${brute -- gotR}, extra ${gotR -- brute}")
  }

  test("video neardup: exact clips pair at 0; a one-frame rewrite breaks the ball but keeps other frames' bits") {
    import spark.implicits._
    // 4 slices of 120 ASCII chars. Slice 3 of the base doc is half-low/
    // half-high bytes, so its frame hash is a guaranteed mix of 0s and 1s;
    // doc 3 rewrites ONLY that slice to a constant (all-1s frame hash),
    // flipping ~32 bits of one frame — far outside the Hamming<=3 ball —
    // while frames 0-2 stay bit-identical.
    val varied = (0 until 360).map(i => ('a' + i % 26).toChar).mkString
    val base = varied + ("!" * 60 + "~" * 60)
    val docs = Seq(
      (1L, base),
      (2L, base),                    // exact duplicate clip
      (3L, varied + ("z" * 120)))    // one-frame rewrite
    val tmp = java.nio.file.Files.createTempDirectory("graft_vid").toString
    try {
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val sigs = Multimodal.videoSigFrame(spark, tmp)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(sigs.values.forall(_.length == 256), s"expected 4x64-bit signatures: $sigs")
      assert(sigs(1L) == sigs(2L))
      assert(sigs(1L).take(192) == sigs(3L).take(192),
        "untouched frames must keep their bits")
      val frame3Dist = sigs(1L).drop(192).zip(sigs(3L).drop(192)).count { case (a, b) => a != b }
      assert(frame3Dist > 3, s"rewritten frame should flip many bits, got $frame3Dist")
      val pairs = Multimodal.videoNearDup(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pairs == Set((1L, 2L, 0L)), s"expected only the exact pair: $pairs")
    } finally {
      scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("audio neardup: planted Hamming 1-3 envelope neighbors recovered, width fixed at 64") {
    import spark.implicits._
    // 64 windows of 4 chars (= 2 samples each): a 'zzzz' window's mean sits
    // above the corpus mean, an 'aaaa' window's below, so window j's
    // fingerprint bit IS the chosen pattern bit — flipping w windows plants
    // an exact Hamming-w neighbor.
    def doc(pattern: Int => Boolean): String =
      (0 until 64).map(j => if (pattern(j)) "zzzz" else "aaaa").mkString
    val base: Int => Boolean = j => j % 2 == 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_and_")
    try {
      Seq(
        1L -> doc(base),
        2L -> doc(j => if (j == 0) !base(j) else base(j)), // d=1
        3L -> doc(j => if (j == 10 || j == 30 || j == 50) !base(j) else base(j)), // d=3
        4L -> doc(j => if (j < 5) !base(j) else base(j)), // d=5 -> out
        5L -> doc(base), // exact copy -> d=0
        6L -> "short unrelated text" // different duration/envelope
      ).toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val fps = Multimodal.audioFingerprint(spark, tmp.toString).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(fps.values.forall(_.length == 64), s"fixed 64-bit width: $fps")
      val got = Multimodal.audioNearDup(spark, tmp.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got.contains((1L, 2L, 1L)), s"distance-1 neighbor missed: $got")
      assert(got.contains((1L, 3L, 3L)), s"distance-3 neighbor missed: $got")
      assert(got.contains((1L, 5L, 0L)), s"exact pair missed: $got")
      assert(!got.exists(p => p._1 == 4L || p._2 == 4L), s"distance-5 leaked: $got")
      assert(!got.exists(p => p._1 == 6L || p._2 == 6L), s"unrelated leaked: $got")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmp)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.sortBy(-_.getNameCount)
        .foreach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
    }
  }

  test("media neardup survivors: labels are a valid min-label CC of the union pair graph") {
    val pairs = (Multimodal.imageNearDup(spark, dir).collect() ++
      Multimodal.audioNearDup(spark, dir).collect())
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Multimodal.mediaNearDupSurvivors(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val lab = labels.map(t => t._1 -> t._2).toMap
    val nDocs = graft.core.Tables.documents(spark, dir).count()
    assert(labels.length == nDocs, "every doc labeled exactly once")
    pairs.foreach { case (a, b) =>
      assert(lab(a) == lab(b), s"pair ($a,$b) split across clusters: ${lab(a)} vs ${lab(b)}")
    }
    labels.foreach { case (id, c, surv) =>
      assert(c <= id, s"min-label violated: doc $id labeled $c")
      assert(lab(c) == c, s"canonical $c of $id is not its own canonical")
      assert((surv == 1) == (id == c), s"is_survivor inconsistent for $id")
    }
    // the histogram twin partitions the corpus
    val hist = Multimodal.mediaNearDupClusterStats(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(hist.map(h => h._1 * h._2).sum == nDocs, s"histogram mass mismatch: ${hist.toSeq}")
  }

  test("audio fingerprint: signed PCM windows split around the mean exactly") {
    // 128 signed samples through the real RIFF walk: first half -1000, second
    // half +1000 -> total 0, so bits are the window-sum signs (>= 0 wins)
    val bb = java.nio.ByteBuffer.allocate(256).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 128).foreach(i => bb.putShort(if (i < 64) (-1000).toShort else 1000.toShort))
    val afp = Multimodal.afpOfWav(Multimodal.synthWav(bb.array()))
    assert(afp.contains("0" * 32 + "1" * 32), s"got $afp")
  }

  test("dsir: target-language docs outscore the rest; weights are finite and doc-complete") {
    val langs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = CorpusPipeline.dsirWeight(spark, dir).collect()
    assert(rows.length == langs.size, "every doc with features gets a weight")
    val (en, rest) = rows.partition(r => langs(r.getLong(0)) == "en")
    assert(en.nonEmpty && rest.nonEmpty, "fixture must contain en and non-en docs")
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Double]("logw")).sum / rs.length
    // the entire point of the method: importance under the en target model
    // must separate en docs from the rest on average
    assert(mean(en) > mean(rest) + 0.5,
      s"mean logw en=${mean(en)} vs rest=${mean(rest)} — no separation")
    rows.foreach { r =>
      assert(!r.getAs[Double]("logw").isNaN && !r.getAs[Double]("logw").isInfinite)
      assert(r.getAs[Long]("n_feats") > 0)
    }
  }

  test("pagerank: mass conserved under damping, every source ranked, order deterministic") {
    val rows = Dedup.sourcePagerank(spark, dir).collect()
    val nSources = graft.core.Tables.documents(spark, dir)
      .select(col("source")).distinct().count()
    assert(rows.length == nSources, "every source gets a rank, connected or not")
    val ranks = rows.map(_.getAs[Long]("rank_e12"))
    assert(ranks.forall(_ > 0), "teleport floor keeps every rank positive")
    // floor division only LOSES mass: the total stays under the scale but
    // must retain most of it (the overlap graph here has no dangling nodes)
    assert(ranks.sum <= Dedup.PagerankScale, s"mass ${ranks.sum} exceeds the scale")
    assert(ranks.sum > Dedup.PagerankScale * 9 / 10, s"mass ${ranks.sum} leaked too far")
    // the ordering is a real signal, not uniform: top beats bottom clearly
    assert(ranks.head > ranks.last, "ranks are uniform — the graph carried no signal")
    // bit-determinism under a different partitioning of the same data
    val again = Dedup.sourcePagerank(spark, dir).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getString(0), r.getLong(1))).toSeq, "rerun diverged")
  }

  test("pagerank: driver fast path bit-agrees with the distributed path") {
    import spark.implicits._
    // planted skewed graph: binary-tree backbone + varied weights, symmetrized
    val nodes = (0 until 30).map(i => s"s$i").toDF("source")
    val half = (1 until 30).map(i => (s"s$i", s"s${i / 2}", (i % 5 + 1).toLong))
    val edges = (half ++ half.map { case (s, d, w) => (d, s, w) })
      .toDF("src", "dst", "w")
    val viaDriver = Dedup.pagerankIterate(spark, nodes, edges, iters = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaCluster = Dedup.pagerankIterate(spark, nodes, edges, iters = 10,
        allowDriver = false)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaDriver == viaCluster, "driver and distributed fixpoints diverged")
  }

  test("cms: estimates never undercount, and exact when no bucket collides") {
    val rows = TextAnalysis.cmsHeavyHitters(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (exact, est) = (r.getAs[Long]("exact_cnt"), r.getAs[Long]("cms_cnt"))
      assert(r.getAs[Boolean]("never_underestimates"), s"${r.getString(0)} undercounted")
      assert(est >= exact, s"${r.getString(0)}: est $est < exact $exact")
      // 4 rows x 1024 buckets over this vocab: expected overcount per cell
      // is well under the heavy hitters' own counts — a colliding hash
      // family (or a broken bucket expression) trips this immediately
      assert(est - exact <= exact, s"${r.getString(0)}: overcount ${est - exact} > exact $exact")
    }
  }

  test("domain cap: no source exceeds the cap; survivors are hash-chosen, not id-ordered") {
    val cap = 20
    val rows = CorpusPipeline.domainCap(spark, dir, cap).collect()
    val bySource = rows.groupBy(_.getString(1))
    bySource.foreach { case (src, rs) =>
      assert(rs.length <= cap, s"$src kept ${rs.length} > $cap")
    }
    // hash order, not id order: at least one source must keep a doc whose
    // id exceeds some dropped doc's id (id-ordered truncation would not)
    val total = graft.core.Tables.documents(spark, dir).count()
    assert(rows.length < total, "cap must actually drop docs at this sf")
    val keptIds = rows.map(_.getLong(0)).toSet
    assert(keptIds.max > total / 2, "suspiciously id-truncated survivor set")
  }

  test("epoch upsample: copy counts follow the mixture bucket; shuffle keys are unique") {
    val rows = CorpusPipeline.epochUpsample(spark, dir).collect()
    val perDoc = rows.groupBy(_.getLong(0))
    perDoc.foreach { case (_, rs) =>
      val n = rs.head.getAs[Long]("n_copies")
      assert(n >= 1 && n <= 4, s"n_copies $n outside the 4-bucket config")
      assert(rs.length == n, s"emitted ${rs.length} copies, declared $n")
      assert(rs.map(_.getAs[Long]("copy_idx")).sorted.toSeq == (1L to n), "copy_idx not 1..n")
    }
    val keys = rows.map(_.getAs[String]("shuffle_key"))
    assert(keys.distinct.length == keys.length, "shuffle keys collide across copies")
  }

  test("hard negatives: every mined negative crosses labels and none beats the unfiltered top-1") {
    val negs = Similarity.hardNegatives(spark, dir).collect()
    assert(negs.nonEmpty)
    negs.foreach { r =>
      assert(r.getAs[Long]("qlabel") != r.getAs[Long]("neg_label"),
        s"query ${r.getLong(0)}: negative shares the label")
    }
    // the unfiltered top-1 cosine bounds every filtered candidate from above
    val top1 = Similarity.bruteCosineTopK(spark, dir).collect()
      .filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getLong(0) -> r.getAs[Double]("cos")).toMap
    negs.foreach { r =>
      assert(r.getAs[Double]("cos") <= top1(r.getLong(0)) + 1e-9,
        s"query ${r.getLong(0)}: filtered cosine beats the unfiltered best")
    }
  }

  test("gopher rules: integer-exact flags, pass is the conjunction, wc discriminates") {
    val df = TextAnalysis.gopherRules(spark, dir).collect()
    assert(df.length == 500)
    val wc = df.map(_.getAs[Boolean]("wc_ok"))
    assert(wc.exists(identity) && wc.exists(!_), "wc_ok must discriminate on this corpus")
    df.foreach { r =>
      val conj = Seq("wc_ok", "wlen_ok", "symbol_ok", "bullet_ok", "ellipsis_ok",
        "alpha_ok", "stop_ok").forall(r.getAs[Boolean])
      assert(r.getAs[Boolean]("gopher_pass") == conj, s"doc ${r.getLong(0)}: pass != conjunction")
    }
    // the corpus-matched stopword rule holds for the word-salad fixture
    assert(df.count(_.getAs[Boolean]("stop_ok")) > 0)
  }

  test("bloom dedup: one-sided error — no true dup escapes; membership flags are consistent") {
    val rows = Dedup.bloomDedup(spark, dir).collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("no_miss"), s"doc ${r.getLong(0)}: Bloom missed a true dup")
      if (r.getAs[Int]("is_dup") == 1)
        assert(r.getAs[Boolean]("bloom_maybe"), s"doc ${r.getLong(0)}: dup not flagged maybe")
      assert(r.getAs[Boolean]("false_positive") ==
        (r.getAs[Boolean]("bloom_maybe") && r.getAs[Int]("is_dup") == 0))
    }
  }

  test("vamana pq gate: full-beam PQ traversal + exact rerank is exact; default beam clears floor") {
    val g = graft.vamana.VamanaPq.gate(spark, dir).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Boolean]("overlap_exact_ok"),
      "full-beam PQ-guided pool + exact rerank must equal exact kNN (greedySearchScored theorem)")
    assert(g(0).getAs[Boolean]("recall_ok"), "default-beam PQ guidance under the recall floor")
  }

  test("vamana pq fanout: per-shard PQ traversal merges to exact kNN at full beam; codes are m bytes/vector") {
    val g = graft.vamana.VamanaPq.gateFanout(spark, dir).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Boolean]("overlap_exact_ok"),
      "full-beam per-shard PQ pool + exact rerank must merge to exact kNN (1-of-s shard membership)")
    assert(g(0).getAs[Boolean]("recall_ok"), "default-beam fanout PQ guidance under the recall floor")
    val mem = graft.vamana.VamanaPq.fanoutCodeMemory(spark, dir).collect()
    assert(mem.nonEmpty)
    mem.foreach { r =>
      val n = r.getAs[Long]("n_points")
      assert(r.getAs[Long]("pq_code_bytes") == n * 16, "code ledger must be m bytes/vector")
      assert(r.getAs[Long]("raw_vector_bytes") == n * 64 * 4)
    }
  }

  test("winnowing theorem on planted copies: shared runs >= k+w-1 tokens share fingerprints") {
    import spark.implicits._
    // planted corpus: two unrelated docs, an exact copy of doc 1, and a
    // doc embedding an 8-token (= k+w-1) run from doc 2 inside fresh text
    val run = "alpha bravo charlie delta echo foxtrot golf hotel"
    val d1 = "the quick brown fox jumps over the lazy sleeping dog tonight again"
    val d2 = s"unrelated prefix words here $run and some unrelated suffix words"
    val d3 = s"completely different framing text $run closing with other unseen tokens"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d1),
      (5L, "nothing in common with anything else whatsoever in this corpus today"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("winnow_corpus").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    try {
      val overlap = Dedup.winnowOverlap(spark, tmp, minShared = 1)
        .select(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(overlap.contains((1L, 4L)), s"exact copy must share fingerprints: $overlap")
      assert(overlap.contains((2L, 3L)),
        s"the k+w-1-token shared run must yield >= 1 shared fingerprint (theorem): $overlap")
      assert(!overlap.contains((1L, 5L)) && !overlap.contains((1L, 2L)),
        s"unrelated docs must not collide: $overlap")
      // density sanity: expected selected fraction ~= 2/(w+1) of grams
      val fp = Dedup.winnowFingerprint(spark, tmp).collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_grams"), r.getAs[Long]("n_fp")))
        .toMap
      assert(fp.keySet == Set(1L, 2L, 3L, 4L, 5L))
      fp.values.foreach { case (m, nfp) =>
        assert(nfp >= 1 && nfp <= m, s"fingerprint count $nfp out of range for $m grams")
      }
      assert(fp(1L) == fp(4L), "identical docs must produce identical summaries")
    } finally {
      graft.GraftCaches.clearAll()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("matryoshka pruned search is EXACT and the fetch ledger shows real pruning") {
    // exactness theorem: the escalating lower-bound scan equals the full
    // weighted kNN (the oracle states the same; this asserts it in-JVM)
    val got = Similarity.matryoshkaSearch(spark, dir)
      .select(col("query_id"), col("rank"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.size == 100)
    assert((0L until 10L).forall(q => got.contains((q, 1L, q))),
      "self-inclusive fixture: each query's rank-1 must be itself (dist 0)")
    val g = Similarity.matryoshkaGate(spark, dir).collect()
    assert(g.length == 10, "every query must surface a ledger row")
    val fracs = g.map(_.getAs[Double]("fetch_frac"))
    assert(fracs.max <= 0.25,
      s"the MRL-weighted prefix must prune hard (worst fetch_frac ${fracs.max})")
  }

  test("maxsim score dominates the aligned full-vector dot on every returned pair") {
    // Σ_i max_j ⟨q_i, d_j⟩ ≥ Σ_i ⟨q_i, d_i⟩ = ⟨q, d⟩ — the late-interaction
    // relaxation can only raise a pair's score above its single-vector dot.
    val e = graft.core.Tables.embeddings(spark, dir)
    val withDot = Similarity.maxSimTopK(spark, dir)
      .join(e.select(col("vec_id").as("id"), col("embedding").as("dv")), "id")
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .withColumn("dot",
        graft.functions.NativeVectorFunctions.dotNative(spark, col("qv"), col("dv")))
    assert(withDot.count() == 50)
    assert(withDot.where(col("score") < col("dot") - 1e-3).count() == 0,
      "maxsim must never score below the aligned dot product")
  }

  test("all registered queries execute and agree with declared column names at sf0.001") {
    val smokeDir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, smokeDir)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
