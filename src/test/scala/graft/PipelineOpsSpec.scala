package graft

import org.apache.spark.sql.functions.{col, posexplode}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}

/** Property checks for the round-7 pipeline additions: train/eval
  * decontamination, stratified hash sampling, int8 quantization.
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("crossNgramOverlap flags planted contamination with exact counts") {
    import spark.implicits._
    // eval doc 100: 10 words → 3 distinct 8-grams
    val evalDocs = Seq(
      (100L, "a b c d e f g h i j"),
      (101L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // one 8-word window ("a b c d e f g h") matches eval 100
      (1L, "x y z a b c d e f g h q"),
      // exact copy of eval 100 → all 3 grams shared
      (2L, "a b c d e f g h i j"),
      (3L, "totally different words everywhere nothing matches at all ok fine")
    ).toDF("doc_id", "text")

    val res = Dedup.crossNgramOverlap(corpus, evalDocs, "doc_id", "text",
      shingleK = 8)
      .collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("eval_id")) ->
        (r.getAs[Long]("n_shared"), r.getAs[Double]("eval_frac")))
      .toMap
    assert(res.keySet == Set((1L, 100L), (2L, 100L)), s"got $res")
    assert(res((1L, 100L)) == (1L, 0.3333))
    assert(res((2L, 100L)) == (3L, 1.0))

    val strict = Dedup.crossNgramOverlap(corpus, evalDocs, "doc_id", "text",
      shingleK = 8, minShared = 2)
      .collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(strict == Set(2L))
  }

  test("crossNgramOverlap short docs fall back to whole-text shingle") {
    import spark.implicits._
    val evalDocs = Seq((10L, "short eval doc")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "short eval doc"), // identical short text → matches
      (2L, "short eval")      // different short text → no match
    ).toDF("doc_id", "text")
    val res = Dedup.crossNgramOverlap(corpus, evalDocs, "doc_id", "text",
      shingleK = 8)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Double]("eval_frac")))
    assert(res.toSeq == Seq((1L, 1.0)))
  }

  test("stratifiedHashSample: rates, nesting, determinism, default") {
    import spark.implicits._
    val docs = (0L until 1000L)
      .map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")

    def ids(rates: Map[String, Double], default: Double = 1.0): Set[Long] =
      Sampling.stratifiedHashSample(docs, "doc_id", "lang", rates, default)
        .collect().map(_.getAs[Long]("doc_id")).toSet

    // rate 1.0 keeps the whole stratum; rate 0.0 keeps none of it
    val all = ids(Map("en" -> 1.0, "zh" -> 1.0))
    assert(all.size == 1000)
    val noEn = ids(Map("en" -> 0.0))
    assert(noEn.forall(_ % 2 == 1) && noEn.size == 500)

    // nested samples: the 0.25 en-sample is a subset of the 0.5 one,
    // and both are within 4 sigma of the expected size
    val en25 = ids(Map("en" -> 0.25, "zh" -> 0.0))
    val en50 = ids(Map("en" -> 0.5, "zh" -> 0.0))
    assert(en25.subsetOf(en50), "hash samples must nest across rates")
    assert(en25.size > 85 && en25.size < 165, s"en25=${en25.size}")
    assert(en50.size > 205 && en50.size < 295, s"en50=${en50.size}")

    // determinism: same inputs, same membership
    assert(ids(Map("en" -> 0.25, "zh" -> 0.0)) == en25)

    // strata not in the map use the default rate
    assert(ids(Map("en" -> 0.0), default = 1.0)
      .forall(_ % 2 == 1))
    assert(ids(Map.empty, default = 0.0).isEmpty)
  }

  test("tokenChunks: boundaries, overlap, partial tail, zero-shuffle plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // n=10 > cs: 3 chunks at stride 4
      (2L, "a b c"),                                  // n < cs: one whole chunk
      (3L, (1 to 8).map(i => s"u$i").mkString(" "))   // n == cs: exactly one chunk
    ).toDF("doc_id", "text")
    val chunks = graft.operators.Packing
      .tokenChunks(docs, "doc_id", "text", chunkSize = 8, stride = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
      .toSet
    assert(chunks == Set(
      // doc 1: last = ceil((10-8)/4) = 1 → chunks at 1 and 5
      (1L, 0, 1, 8, "t1 t2 t3 t4 t5 t6 t7 t8"),
      (1L, 1, 5, 6, "t5 t6 t7 t8 t9 t10"), // overlapping, partial tail
      (2L, 0, 1, 3, "a b c"),
      (3L, 0, 1, 8, (1 to 8).map(i => s"u$i").mkString(" "))
    ), s"got $chunks")
    // stride > chunkSize (gapped sampling): no phantom chunk past
    // the end — a 19-token doc at cs=8, stride=10 holds starts 1 and
    // 11 only (the uncapped ceil((19-8)/10) = 2 would emit an empty
    // chunk at start 21 with a negative token count)
    val gapped = graft.operators.Packing
      .tokenChunks(Seq((9L, (1 to 19).map(i => s"g$i").mkString(" ")))
        .toDF("doc_id", "text"), "doc_id", "text", chunkSize = 8, stride = 10)
      .collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(gapped == Set((0, 1, 8), (1, 11, 8)), s"got $gapped")
    // chunking is a projection + Generate — nothing shuffles
    val plan = graft.operators.Packing
      .tokenChunks(docs, "doc_id", "text", 8, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("redactPii: typed placeholders, pre-redaction counts, clean text untouched, scan-only plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "write to alice.smith+x@corp-mail.co.uk or bob@x.io today"),
      (2L, "server 192.168.0.1 and 10.0.0.255 up; build 1.2.3 is not an ip"),
      (3L, "acct 123456789 ref 00987654321x but 12345678 is too short"),
      (4L, "nothing sensitive here at all"),
      (5L, "mixed a@b.co 8.8.8.8 999999999")
    ).toDF("doc_id", "text")
    val res = TextAnalysis.redactPii(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(res(1L) == (("write to <EMAIL> or <EMAIL> today", 2, 0, 0)))
    assert(res(2L) == (("server <IP> and <IP> up; build 1.2.3 is not an ip", 0, 2, 0)))
    assert(res(3L) == (("acct <NUM> ref <NUM>x but 12345678 is too short", 0, 0, 2)))
    assert(res(4L) == (("nothing sensitive here at all", 0, 0, 0)))
    assert(res(5L) == (("mixed <EMAIL> <IP> <NUM>", 1, 1, 1)))
    // a digit run INSIDE an email counts as that email, not
    // additionally as a digit run (counts are taken on the text with
    // earlier patterns already redacted)
    val nested = TextAnalysis.redactPii(
      Seq((9L, "contact 123456789@bank.com now")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head
    assert(nested.getString(1) == "contact <EMAIL> now")
    assert((nested.getInt(2), nested.getInt(3), nested.getInt(4)) == ((1, 0, 0)),
      s"nested digit run must not double-count: $nested")
    // a pure scan projection — nothing shuffles
    val plan = TextAnalysis.redactPii(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"redaction must not shuffle:\n$plan")
  }

  test("shuffleShard: partition of the corpus, contiguous positions, seed-keyed determinism") {
    import spark.implicits._
    val docs = (0L until 400L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    def run(seed: String): Map[Long, (Int, Int)] =
      Sampling.shuffleShard(docs, "doc_id", numShards = 8, seed = seed)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2))))
        .toMap
    val a = run("epoch0")
    // every doc lands in exactly one shard, shards in range
    assert(a.size == 400)
    assert(a.values.forall { case (s, _) => s >= 0 && s < 8 })
    // positions are contiguous 1..n within each shard
    a.values.groupBy(_._1).foreach { case (s, g) =>
      val ps = g.map(_._2).toSeq.sorted
      assert(ps == (1 to ps.size), s"shard $s positions not contiguous: $ps")
    }
    // same seed → identical assignment; different seed → reshuffled
    assert(run("epoch0") == a, "must be deterministic")
    val b = run("epoch1")
    assert(b != a, "a different seed must reshuffle")
    // partition-count invariance: the rank is a pure function of the
    // corpus + seed, not of the physical layout (the d32 discipline's
    // defining property)
    for (parts <- Seq(1, 3, 32)) {
      val c = Sampling.shuffleShard(docs, "doc_id", numShards = 8,
        seed = "epoch0", partitions = parts)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2))))
        .toMap
      assert(c == a, s"partitions=$parts changed the assignment")
    }
  }

  test("budgetSelect: prefix cut in priority order, no knapsack back-fill, partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Seq(
      // (id, n_tokens, priority)
      (1L, "t1 t2 t3 t4", 50L),   // kept: off 0, 4 tokens
      (2L, "t1 t2 t3", 40L),      // kept: off 4, total 7
      (3L, "t1 t2 t3 t4 t5", 30L),// off 7, 7+5 > 8 → dropped
      (4L, "t1", 20L)             // fits (7+1=8) but AFTER the cut → dropped
    ).toDF("doc_id", "text", "pri")
    def run(parts: Int): Map[Long, (Long, Long)] =
      graft.operators.Packing.budgetSelect(docs, "doc_id",
        org.apache.spark.sql.functions.size(
          graft.operators.Dedup.tokens(col("text"))).cast("long"),
        col("pri"), budget = 8L, partitions = parts)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    val res = run(4)
    // doc 4 would fit the remaining budget but sits past the cut —
    // prefix semantics keep the priority line auditable
    assert(res == Map(1L -> ((4L, 0L)), 2L -> ((3L, 4L))), s"got $res")
    assert(run(1) == res && run(7) == res,
      "budget cut must not depend on partitioning")
    // a budget below the top-priority doc keeps nothing
    assert(run(4).nonEmpty)
    val none = graft.operators.Packing.budgetSelect(docs, "doc_id",
      org.apache.spark.sql.functions.size(
        graft.operators.Dedup.tokens(col("text"))).cast("long"),
      col("pri"), budget = 3L, partitions = 4).count()
    assert(none == 0)
  }

  test("capPerStratum: cap respected, deterministic, nested across caps") {
    import spark.implicits._
    val docs = (0L until 300L)
      .map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    def kept(cap: Int): Set[Long] =
      Sampling.capPerStratum(docs, "doc_id", "source", cap)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    val k5 = kept(5)
    assert(k5.size == 15) // 3 strata × 5
    assert(kept(5) == k5, "must be deterministic")
    assert(k5.subsetOf(kept(20)), "smaller caps must nest in larger")
    // a cap above every stratum size keeps everything
    assert(kept(100).size == 300)
    // null ids would tie on both sort keys (run-dependent kept set)
    // and null strata have no group — both are dropped
    val withNulls = Seq(
      (Some(1L), Some("s")), (None, Some("s")), (Some(2L), None)
    ).toDF("doc_id", "source")
    val cleaned = Sampling.capPerStratum(withNulls, "doc_id", "source", 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(cleaned == Set(1L), s"got $cleaned")
  }

  test("capPerStratum prefilter: exact-identical kept set; monster stratum filtered before the exchange") {
    import spark.implicits._
    // one monster stratum (10k rows) dwarfing two normal ones — the
    // shape where ranking the whole stratum in one task hurts
    val docs = ((0L until 10000L).map(i => (i, "monster")) ++
      (20000L until 20100L).map(i => (i, "small_a")) ++
      (30000L until 30050L).map(i => (i, "small_b")))
      .toDF("doc_id", "source")
    for (cap <- Seq(7, 60)) {
      val exact = Sampling.capPerStratum(docs, "doc_id", "source", cap)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      val two = Sampling.capPerStratum(docs, "doc_id", "source", cap,
        prefilter = true)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(two == exact,
        s"cap=$cap: prefiltered kept set diverged (${two.size} vs ${exact.size})")
    }
    // a cap above a small stratum's size keeps the whole stratum —
    // the min(cap, n) guard must not fire on fully-kept strata
    val all = Sampling.capPerStratum(docs, "doc_id", "source", 80,
      prefilter = true).collect()
      .groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(all == Map("monster" -> 80, "small_a" -> 80, "small_b" -> 50),
      s"got $all")
    // the md5-prefix pre-filter must sit below the exchange (a scan
    // filter), so the monster stratum never reaches the rank sort.
    // Parquet round-trip: against a LocalRelation the optimizer
    // folds the filter into the relation itself and there is no
    // Filter node to pin.
    val dir = java.nio.file.Files.createTempDirectory("capstrata").toString
    docs.write.mode("overwrite").parquet(dir)
    val plan = Sampling.capPerStratum(spark.read.parquet(dir),
      "doc_id", "source", 7, prefilter = true)
      .queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toVector
    val exchangeAt = lines.indexWhere(_.contains("Exchange"))
    val filterAt = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("substring"))
    assert(exchangeAt >= 0 && filterAt > exchangeAt,
      s"prefilter not below the exchange:\n${plan.take(3000)}")
  }

  test("PQ encode and ADC tables compile under whole-stage codegen: pqTopK, buildAnnIndex, annTopKAgainstIndex") {
    // a failed compile must surface instead of silently falling back
    // to the interpreted path (set for this test only)
    val key = "spark.sql.codegen.fallback"
    spark.conf.set(key, "false")
    try {
      val emb = spark.read
        .parquet(s"${TestSpark.sf}/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 20)
      assert(Similarity.pqTopK(queries, emb, "vec_id", "embedding",
        k = 10, m = 16, ksub = 32).count() > 0)
      Similarity.buildAnnIndex(emb, "vec_id", "embedding", "t_pq_codegen",
        nlist = 4, m = 16, ksub = 32, numBuckets = 2)
      assert(spark.table("t_pq_codegen_vectors").count() == emb.count())
      assert(Similarity.annTopKAgainstIndex(queries, "vec_id", "embedding",
        name = "t_pq_codegen", k = 5, nprobe = 2).count() > 0)
    } finally spark.conf.unset(key)
  }

  test("pqTopK: exact on a corpus of codebook vectors; deterministic; sane recall vs brute force") {
    import spark.implicits._
    import graft.operators.Similarity
    // 8 int-valued vectors, dim 8, m=4 (dsub=2), all subvectors
    // distinct within each subspace: with ksub=8 the sample IS the
    // corpus, every vector encodes to itself, and the ADC score is
    // the EXACT squared L2 distance — top-k must equal brute force.
    val rnd = new scala.util.Random(7)
    val vecs: Seq[(Long, Array[Float])] = {
      def gen(): Seq[Array[Float]] =
        (0 until 8).map(_ => Array.fill(8)((rnd.nextInt(11) - 5).toFloat))
      var v = gen()
      while ((0 until 4).exists(j =>
        v.map(_.slice(j * 2, j * 2 + 2).toSeq).distinct.size < 8)) v = gen()
      v.zipWithIndex.map { case (a, i) => (i.toLong, a) }
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df, df, "vec_id", "embedding", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val exp = (for ((qid, qv) <- vecs) yield {
      vecs.filter(_._1 != qid)
        .map { case (nid, nv) =>
          val d2 = qv.zip(nv).map { case (a, b) =>
            (a - b).toDouble * (a - b) }.sum
          (nid, d2)
        }
        .sortBy { case (nid, d2) => (d2, nid) }
        .take(3).zipWithIndex
        .map { case ((nid, d2), i) => (qid, i + 1, nid, d2) }
    }).flatten.toSet
    assert(got == exp,
      s"ADC on a self-codebook corpus must be exact:\nonly-got=${got -- exp}\nonly-exp=${exp -- got}")

    // real embeddings: deterministic across runs, and the code
    // approximation keeps a sane overlap with EXACT L2 search (PQ
    // approximates squared L2 — cosine brute force is a different
    // metric on unnormalized vectors and not the right reference)
    val emb = spark.read
      .parquet(s"${TestSpark.sf}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def run() = Similarity.pqTopK(queries, emb, "vec_id", "embedding",
      k = 10, m = 16, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val a = run()
    assert(a == run(), "pqTopK must be deterministic")
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val exactL2 = all.filter(_._1 < 20).flatMap { case (qid, qv) =>
      all.filter(_._1 != qid)
        .map { case (nid, nv) =>
          (nid, qv.zip(nv).map { case (x, y) =>
            (x - y).toDouble * (x - y) }.sum)
        }
        .sortBy { case (nid, d2) => (d2, nid) }
        .take(10).map { case (nid, _) => (qid, nid) }
    }.toSet
    val pqPairs = a.map { case (q, _, n) => (q, n) }
    val recall = pqPairs.count(exactL2.contains).toDouble / exactL2.size
    info(f"pq recall@10 vs exact L2: $recall%.2f")
    assert(recall >= 0.3,
      f"PQ recall collapsed: $recall%.2f — codes carry no signal")

    // shortlist + exact re-rank recovers most of what coarse codes
    // lose — the production serving composition
    val refined = Similarity.pqTopKRefined(queries, emb, "vec_id",
      "embedding", k = 10, m = 16, ksub = 32, shortlistFactor = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val refRecall = refined.count(exactL2.contains).toDouble / exactL2.size
    info(f"pq+rerank recall@10 vs exact L2: $refRecall%.2f")
    assert(refRecall >= recall && refRecall >= 0.6,
      f"re-ranked recall did not recover: $refRecall%.2f (codes-only $recall%.2f)")

    // the full stack: cell pruning on top of codes+re-rank. Probing
    // 4 of 16 cells scans ~1/4 of the corpus; refined cell centroids
    // must hold recall well above the scan fraction (0.40 sampled →
    // 0.62 with the fixed-point Lloyd loop on), and the whole thing
    // is deterministic
    val ivfpq = Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding",
      k = 10, nlist = 16, nprobe = 4, m = 16, ksub = 32,
      shortlistFactor = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpqRecall = ivfpq.count(exactL2.contains).toDouble / exactL2.size
    info(f"ivf-pq recall@10 vs exact L2: $ivfpqRecall%.2f")
    assert(ivfpqRecall >= 0.5, f"IVF-PQ recall collapsed: $ivfpqRecall%.2f")
    val ivfpq2 = Similarity.ivfPqTopK(queries, emb, "vec_id", "embedding",
      k = 10, nlist = 16, nprobe = 4, m = 16, ksub = 32,
      shortlistFactor = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivfpq2 == ivfpq, "ivfPqTopK must be deterministic")
  }

  test("temperatureSample: T=1 natural mix, T=0 equalizes, nesting across T, scan-filter plan") {
    import spark.implicits._
    // 800 en vs 200 zh — the skew temperature flattening acts on
    val docs = (0L until 1000L)
      .map(i => (i, if (i % 5 == 4) "zh" else "en"))
      .toDF("doc_id", "lang")

    def ids(t: Double): Set[Long] =
      Sampling.temperatureSample(docs, "doc_id", "lang", t)
        .collect().map(_.getAs[Long]("doc_id")).toSet

    // T=1: rates all (min/n)^0 = 1 — the natural mix, untouched
    assert(ids(1.0).size == 1000)
    // T=0: every stratum samples at rate n_min/n_i — en's expected
    // size equals zh's 200 (hash noise within 4 sigma); zh (the min
    // stratum) is kept whole at every temperature
    val t0 = ids(0.0)
    val t0en = t0.count(_ % 5 != 4)
    assert(t0.count(_ % 5 == 4) == 200, "min stratum must be kept whole")
    assert(t0en > 150 && t0en < 250, s"T=0 en kept $t0en, expected ~200")
    // rates grow with T, and md5-prefix selection nests: cooler
    // samples are subsets of hotter ones
    val t5 = ids(0.5)
    assert(t0.subsetOf(t5) && t5.subsetOf(ids(1.0)),
      "temperature samples must nest")
    // the sampling pass itself is a pure scan filter (the count
    // aggregate is a separate bounded job, thresholds are literals)
    val plan = Sampling.temperatureSample(docs, "doc_id", "lang", 0.5)
      .queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"),
      s"temperature sampling must not shuffle:\n$plan")
  }

  test("stratifiedHashSample plans as a pure scan filter — zero exchanges") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, "en")).toDF("doc_id", "lang")
    val plan = Sampling.stratifiedHashSample(docs, "doc_id", "lang",
      Map("en" -> 0.5)).queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"),
      s"sampling must not shuffle:\n$plan")
  }

  test("topKByCos aggregate: exact order, ties by id asc, merge path") {
    import spark.implicits._
    // 1000 candidates for one query across 8 partitions — forces the
    // partial-update + merge path; cos = id % 10 makes 100-way ties
    val df = (0L until 1000L).map(i => (1L, i, (i % 10).toDouble))
      .toDF("query_id", "neighbor_id", "cos").repartition(8)
    val top = df.groupBy(col("query_id"))
      .agg(VectorFunctions.topKByCos(col("neighbor_id"), col("cos"), 5)
        .as("top"))
      .select(posexplode(col("top")))
      .collect()
      .map(r => (r.getAs[Int]("pos"),
        r.getStruct(1).getLong(0), r.getStruct(1).getDouble(1)))
      .sortBy(_._1)
    // all survivors have cos 9.0; ties broken by ascending id
    assert(top.toSeq == Seq((0, 9L, 9.0), (1, 19L, 9.0), (2, 29L, 9.0),
      (3, 39L, 9.0), (4, 49L, 9.0)), s"got ${top.toSeq}")
  }

  test("ANN paths rank via the partial top-k aggregate, not a window") {
    import spark.implicits._
    val emb = (0L until 64L)
      .map(i => (i, Seq.tabulate(8)(j => (i * 31 + j).toFloat % 7 - 3)))
      .toDF("vec_id", "embedding")
    for (df <- Seq(
      Similarity.lshTopK(emb.filter(col("vec_id") < 4), emb,
        "vec_id", "embedding", k = 5, bits = 4),
      Similarity.ivfTopK(emb.filter(col("vec_id") < 4), emb,
        "vec_id", "embedding", k = 5, nlist = 4, nprobe = 2),
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 4), emb,
        "vec_id", "embedding", k = 5))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("topkbycos"), s"no topk agg:\n$plan")
      assert(!plan.contains("Window"), s"window survived:\n$plan")
    }
  }

  test("quantize/signature kernels are bit-identical to the HOF formulations on real vectors") {
    import org.apache.spark.sql.functions._
    // the d34/d35 vector prep was rewritten from interpreted HOFs to
    // codegen'd kernels; both must stay bit-equal to the HOF
    // arithmetic the DuckDB oracle re-derives
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    val kernel = emb.select(col("vec_id"),
      graft.functions.SketchFunctions.quantizeInt8Floats(col("embedding"))
        .as("qv"))
    val hof = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .select(col("vec_id"),
        expr("transform(q, x -> cast(x as float))").as("qv"))
    assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty,
      "kernel quantization diverged from the HOF projection")

    val bits = 4
    val planes = (0 until bits)
      .map(p => (0 until 64).map(j => Similarity.md5Hyperplane(p, j))
        .mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val hofSig = expr(
      s"""aggregate(
         |  transform(sequence(0, ${bits - 1}), p ->
         |    IF(aggregate(
         |         zip_with(qv, element_at($planes, cast(p + 1 as int)),
         |           (v, h) -> cast(v as double) * h),
         |         cast(0.0 as double), (s, x) -> s + x) >= 0,
         |       shiftleft(1L, p), 0L)),
         |  0L, (s, x) -> s | x)""".stripMargin)
    val sigs = kernel.select(
      graft.functions.SketchFunctions.md5PlaneSig(col("qv"), bits, 64)
        .as("k"),
      hofSig.as("h"))
    assert(sigs.filter(col("k") =!= col("h")).isEmpty,
      "kernel signature diverged from the HOF formulation")
  }

  test("quantizeInt8: roundtrip error <= scale/2, max hits 127, zero vector") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(3.0f, 2.9999f, -3.0f)),
      (3L, Seq(0.0f, 0.0f)), // zero vector
      (4L, Seq(1e-8f, -1e-8f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_dims"), r.getAs[Double]("scale"),
          r.getAs[scala.collection.Seq[Long]]("q")))
      .toMap

    val orig = Map(
      1L -> Seq(0.5, -1.0, 0.25, 0.0), 2L -> Seq(3.0, 2.9999f.toDouble, -3.0),
      3L -> Seq(0.0, 0.0), 4L -> Seq(1e-8f.toDouble, -1e-8f.toDouble))
    rows.foreach { case (id, (nDims, scale, q)) =>
      val v = orig(id)
      assert(nDims == v.size)
      assert(q.forall(x => x >= -127 && x <= 127), s"vec $id out of range: $q")
      if (v.exists(_ != 0.0)) {
        assert(q.map(math.abs).max == 127L,
          s"vec $id: the max-|v| element must quantize to +-127, got $q")
        v.zip(q).foreach { case (x, qi) =>
          assert(math.abs(qi * scale - x) <= scale / 2 + 1e-12,
            s"vec $id: dequant error for $x -> $qi at scale $scale")
        }
      } else {
        assert(scale == 0.0 && q.forall(_ == 0L))
      }
    }
  }

  test("sequencePack: contiguous offsets, straddling bins, partition-count invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic token counts 1..40; hash order scrambles doc order
    val docs = (0L until 40L).map(i => (i, ("w " * (i.toInt + 1)).trim))
      .toDF("doc_id", "text")
    def pack(parts: Int) = graft.operators.Packing.sequencePack(
      docs, "doc_id",
      tokens = size(split(col("text"), " ")),
      orderCol = md5(col("doc_id").cast("string")),
      capacity = 64L, partitions = parts)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    val base = pack(4).sortBy(_._3)
    // token counts correct, offsets are the exclusive cumsum in hash order
    assert(base.map(_._2).sum == (1 to 40).sum)
    base.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + a._2, s"offset gap between $a and $b")
    }
    assert(base.head._3 == 0L)
    // bin arithmetic: start/end consistent with capacity 64
    base.foreach { case (_, n, off, bs, be) =>
      assert(bs == off / 64 && be == (off + math.max(n, 1) - 1) / 64)
      assert(be >= bs)
    }
    // some document must straddle a bin boundary at these sizes
    assert(base.exists { case (_, _, _, bs, be) => be > bs })

    // the two-phase prefix sum is partitioning-independent
    assert(pack(1).sortBy(_._1).toSeq == base.sortBy(_._1).toSeq)
    assert(pack(11).sortBy(_._1).toSeq == base.sortBy(_._1).toSeq)
  }

  test("binManifest: segments partition each document and tile each bin; zero-token rows keep provenance") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = ((0L until 40L).map(i => (i, ("w " * (i.toInt + 1)).trim)) :+
      (99L, "")) // 0-token doc: must appear with seg_len 0
      .toDF("doc_id", "text")
    val cap = 64L
    val packed = graft.operators.Packing.sequencePack(docs, "doc_id",
      tokens = when(length(trim(col("text"))) === 0, 0)
        .otherwise(size(split(trim(col("text")), " "))),
      orderCol = md5(col("doc_id").cast("string")), capacity = cap)
      .localCheckpoint(true)
    val man = graft.operators.Packing.binManifest(packed, "doc_id", cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byDoc = man.groupBy(_._2)
    val toks = packed.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per doc: segments reassemble [0, n) contiguously by doc_off
    toks.foreach { case (id, n) =>
      val segs = byDoc(id).sortBy(_._5)
      assert(segs.head._5 == 0L, s"doc $id first segment not at 0")
      segs.sliding(2).foreach {
        case Array(a, b) => assert(b._5 == a._5 + a._4,
          s"doc $id segments not contiguous: $a $b")
        case _ => ()
      }
      assert(segs.map(_._4).sum == n, s"doc $id segments != n_tokens")
    }
    // zero-token doc: exactly one row, seg_len 0
    assert(byDoc(99L).length == 1 && byDoc(99L).head._4 == 0L)
    // per bin: non-empty segments tile [0, occupied) contiguously
    man.groupBy(_._1).foreach { case (bin, rows) =>
      val segs = rows.filter(_._4 > 0).sortBy(_._3)
      if (segs.nonEmpty) {
        assert(segs.head._3 == 0L, s"bin $bin does not start at 0")
        segs.sliding(2).foreach {
          case Array(a, b) => assert(b._3 == a._3 + a._4,
            s"bin $bin has a gap: $a $b")
          case _ => ()
        }
        assert(segs.map(_._4).sum <= cap, s"bin $bin overflows")
      }
    }
    // total mass conserved
    assert(man.map(_._4).sum == toks.values.sum)
  }

  test("binTokens: bins hold exactly capacity ids except the tail; manifest slices reassemble every doc; partition-invariant; boundary zero-doc yields an empty bin") {
    import spark.implicits._
    import graft.operators.Packing
    val docs = Seq(
      (1L, Seq(1, 2, 3)),
      (2L, Seq(4, 5, 6, 7)),
      (3L, Seq.empty[Int]),
      (4L, Seq(8, 9, 10, 11, 12, 13, 14)),
      (5L, Seq(15, 16))
    ).toDF("doc_id", "ids")
    def run(parts: Int): Map[Long, List[Int]] =
      Packing.binTokens(docs, "doc_id", col("ids"), col("doc_id"),
        capacity = 5L, partitions = parts)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val got = run(4)
    // doc order 1..5 → token stream 1..16 → bins of 5
    assert(got == Map(0L -> List(1, 2, 3, 4, 5), 1L -> List(6, 7, 8, 9, 10),
      2L -> List(11, 12, 13, 14, 15), 3L -> List(16)), got.toString)
    // every bin but the tail is exactly capacity
    val tail = got.keys.max
    got.foreach { case (b, ids) =>
      if (b != tail) assert(ids.size == 5, s"bin $b not full: $ids") }
    // partition invariance (the two-phase prefix sum contract)
    assert(run(1) == got && run(7) == got)
    // the manifest's segments reassemble each document's id sequence
    val packed = Packing.sequencePack(docs, "doc_id",
      org.apache.spark.sql.functions.size(col("ids")).cast("long"),
      col("doc_id"), 5L)
    val man = Packing.binManifest(packed, "doc_id", 5L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getLong(4),  // doc_off
        r.getAs[Long]("bin"), r.getAs[Long]("seg_start"),
        r.getAs[Long]("seg_len")))
    val byDoc = man.groupBy(_._1)
    val orig = Map(1L -> List(1, 2, 3), 2L -> List(4, 5, 6, 7),
      3L -> Nil, 4L -> List(8, 9, 10, 11, 12, 13, 14),
      5L -> List(15, 16))
    orig.foreach { case (id, ids) =>
      val re = byDoc(id).sortBy(_._2).flatMap { case (_, _, bin, ss, sl) =>
        got(bin).slice(ss.toInt, (ss + sl).toInt)
      }.toList
      assert(re == ids, s"doc $id reassembly: $re != $ids")
    }
    // a zero-token doc landing exactly on a capacity boundary at the
    // corpus tail legitimately opens an EMPTY final bin
    val edge = Seq((1L, Seq(1, 2, 3, 4, 5)), (2L, Seq.empty[Int]))
      .toDF("doc_id", "ids")
    val gotEdge = Packing.binTokens(edge, "doc_id", col("ids"),
      col("doc_id"), capacity = 5L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(gotEdge == Map(0L -> List(1, 2, 3, 4, 5), 1L -> Nil),
      gotEdge.toString)
  }

  test("epochShards: shard hashes invariant to partitioning and rerun; totals conserve; seed reshuffles") {
    import spark.implicits._
    import graft.operators.Packing
    // 9 docs × 3-7 ids → several bins at capacity 5, spread over 3
    // shards so ordering inside a shard matters
    val docs = (1L to 9L).map(i =>
      (i, (1 to (3 + (i % 5)).toInt).map(j => (i * 100 + j).toInt)))
      .toDF("doc_id", "ids")
    def run(parts: Int, seed: String = "s1",
        df: org.apache.spark.sql.DataFrame = docs) =
      Packing.epochShards(df, "doc_id", col("ids"), col("doc_id"),
        capacity = 5L, numShards = 3, seed = seed, partitions = parts)
        .collect()
        .map(r => r.getAs[Int]("shard") ->
          ((r.getAs[Long]("n_bins"), r.getAs[Long]("n_tokens"),
            r.getAs[String]("shard_md5")))).toMap
    val got = run(4)
    // partition- and rerun-invariance: the artifact a trainer checks
    // must not depend on cluster layout (both prefix sums are pinned
    // two-phase, both hashes fold in deterministic order)
    assert(run(1) == got && run(7) == got && run(4) == got)
    // ...nor on the INPUT's partitioning
    assert(run(4, df = docs.repartition(5)) == got)
    // totals conserve: every token lands in exactly one shard, every
    // bin in exactly one shard
    val totalTokens = (1L to 9L).map(i => 3 + (i % 5)).sum
    assert(got.values.map(_._2).sum == totalTokens)
    assert(got.values.map(_._1).sum == (totalTokens + 4) / 5)
    // a different seed is a genuinely different training order
    assert(run(4, seed = "s2") != got)
  }

  test("unigramLogProb matches a first-principles recomputation and ranks rarity") {
    import spark.implicits._
    val corpus = Map(
      1L -> "the the the the",
      2L -> "the the cat",
      3L -> "the zyx",
      4L -> "the the the")
    val docs = corpus.toSeq.toDF("doc_id", "text")
    val res = graft.operators.TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val all = corpus.values.flatMap(_.split(" ")).toSeq
    val freq = all.groupBy(identity).map { case (t, xs) => t -> xs.size }
    val tot = all.size.toDouble
    corpus.foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val exp = BigDecimal(toks.map(t => math.log(freq(t) / tot)).sum / toks.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(res(id)._1 == toks.size, s"doc $id token count")
      assert(math.abs(res(id)._2 - exp) < 1e-9, s"doc $id: ${res(id)._2} vs $exp")
    }
    // the all-common doc outscores the doc with a hapax token
    assert(res(1L)._2 > res(3L)._2)
  }

  test("trigramLogProb: every stupid-backoff tier fires on a hand-computed corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // train = doc 1 only: tokens [a b c a b c] → trigram counts
    // c3: (a,b,c)=2, (b,c,a)=1, (c,a,b)=1; N=4, V=3 (distinct c's:
    // c, a, b); c2ctx(a,b)=2, (b,c)=1, (c,a)=1; c2bc(b,c)=2,
    // (c,a)=1, (a,b)=1; c1ctx(b)=2, (c)=1, (a)=1; c1(c)=2, (a)=1,
    // (b)=1.
    val docs = Seq(
      (1L, "a b c a b c"),   // train; all trigrams seen → tier 1
      (200L, "a b c d"),     // (a,b,c) tier 1; (b,c,d) unseen even
                             //   as bigram (c,d) → tier 3 add-one
      (201L, "x b c"),       // (x,b,c): no c3, but c2bc(b,c)=2 →
                             //   tier 2
      (202L, "a b")          // < 3 tokens → absent
    ).toDF("doc_id", "text")
    val res = graft.operators.TextAnalysis.trigramLogProb(
      docs, "doc_id", "text", trainFilter = col("doc_id") < 100L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(res.keySet == Set(1L, 200L, 201L), s"got ${res.keySet}")
    def r4(x: Double): Double = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: s = [2/2, 1/1, 1/1, 2/2] → ln 1 = 0 each
    assert(res(1L) == ((4L, 0.0)), s"doc 1: ${res(1L)}")
    // doc 200: ln(2/2)=0 and tier-3 ln(0.4·0.4·(0+1)/(4+3))
    val tier3 = math.log(0.4 * 0.4 * ((0.0 + 1.0) / (4.0 + 3.0)))
    assert(res(200L)._1 == 2L)
    assert(math.abs(res(200L)._2 - r4((0.0 + tier3) / 2)) < 1e-9,
      s"doc 200: ${res(200L)._2}")
    // doc 201: tier-2 ln(0.4·(2/2))
    assert(res(201L) == ((1L, r4(math.log(0.4 * (2.0 / 2.0))))),
      s"doc 201: ${res(201L)}")
  }

  test("exactSample: exact k, nested across budgets, seed-dependent, partition-invariant") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"row$i")).toDF("doc_id", "v")
    def ids(k: Int, seed: String, parts: Int) =
      Sampling.exactSample(docs.repartition(parts), "doc_id", k, seed)
        .collect().map(_.getLong(0)).toSet
    val s40 = ids(40, "s1", 4)
    assert(s40.size == 40)
    // nested: the smaller budget is a subset of the larger
    assert(ids(10, "s1", 4).subsetOf(s40))
    // deterministic across partitionings
    assert(ids(40, "s1", 11) == s40)
    // a different seed draws a different sample
    assert(ids(40, "s2", 4) != s40)
    // all columns ride through
    assert(Sampling.exactSample(docs, "doc_id", 5, "s1")
      .columns.toSeq == Seq("doc_id", "v"))
    intercept[IllegalArgumentException] {
      Sampling.exactSample(docs, "doc_id", 0)
    }
  }

  test("lengthHistogram: integer power-of-two buckets, exact lo/hi, zero-token bucket") {
    import spark.implicits._
    import graft.operators.Packing
    val docs = Seq(
      (1L, 0L),   // bucket 0
      (2L, 1L),   // bucket 1 [1,1]
      (3L, 7L),   // bucket 3 [4,7]
      (4L, 8L),   // bucket 4 [8,15] — the exact power-of-two edge
      (5L, 8L),
      (6L, 1023L) // bucket 10 [512,1023]
    ).toDF("doc_id", "n")
    val res = Packing.lengthHistogram(docs, "doc_id", col("n"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(res == Map(
      0L -> ((0L, 0L, 1L, 0L)),
      1L -> ((1L, 1L, 1L, 1L)),
      3L -> ((4L, 7L, 1L, 7L)),
      4L -> ((8L, 15L, 2L, 16L)),
      10L -> ((512L, 1023L, 1L, 1023L))), res.toString)
  }
}
