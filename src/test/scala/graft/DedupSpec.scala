package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** Property checks for the sketch-based dedup operators (the parts no
  * SQL oracle can express): planted duplicates must be found, and
  * non-duplicates must not drown them out.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs() = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight"
    val nearDup = base.replace("tonight", "today") // 1-word change
    val other = "completely different content about spark clusters shuffling massive parquet files across executor nodes"
    Seq(
      (0L, base), (1L, nearDup), (2L, other),
      (3L, base), // exact dup of 0
      (4L, "tiny doc"), (5L, other.replace("massive", "huge"))
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val res = Dedup.exact(docs(), "doc_id", "text")
    val dupGroups = res.filter(res("n_copies") > 1).collect()
    assert(dupGroups.length == 1)
    assert(dupGroups.head.getAs[Long]("keeper_id") == 0L)
    assert(dupGroups.head.getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH finds planted near-dups, not unrelated pairs") {
    // 16 bands × 2 rows: s-curve midpoint (1/16)^(1/2) = 0.25, so
    // pairs at jaccard >= 0.5 are caught with probability ~1
    val pairs = Dedup.minhashPairs(docs(), "doc_id", "text",
      shingleK = 3, numPerms = 32, bands = 16, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(pairs.contains((0L, 1L)), s"missed near-dup, got $pairs")
    assert(pairs.contains((0L, 3L)), s"missed exact dup, got $pairs")
    assert(pairs.contains((2L, 5L)), s"missed near-dup, got $pairs")
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) },
      s"tiny unrelated doc paired: $pairs")
  }

  test("simhash: identical texts 0 distance, near-dups close, unrelated far") {
    import spark.implicits._
    // simhash needs long documents: a near-dup means a *proportionally*
    // small edit, so plant one word changed out of ~100
    val long0 = Seq.fill(5)(
      "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight").mkString(" ")
    val longDocs = Seq(
      (0L, long0),
      (1L, long0.replaceFirst("tonight", "today")),
      (2L, Seq.fill(5)("completely different content about spark clusters shuffling massive parquet files across executor nodes").mkString(" ")),
      (3L, long0)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(longDocs, "doc_id", "text", maxDist = 16)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Int]("hamming"))).toMap
    assert(pairs((0L, 3L)) == 0, s"exact dup hamming != 0: $pairs")
    assert(pairs.get((0L, 1L)).exists(_ <= 16), s"near-dup too far: $pairs")
    assert(!pairs.contains((0L, 2L)), s"unrelated pair matched: $pairs")
  }

  test("simhashPairs recall is complete up to maxDist (brute-force cross-check)") {
    import org.apache.spark.sql.functions._
    // every candidate pair the chunk join can possibly miss is caught
    // by comparing against the exact all-pairs hamming computation
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text"))
    val sims = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for (maxDist <- Seq(3, 8, 16)) {
      val expected = (for {
        (ia, sa) <- sims; (ib, sb) <- sims if ia < ib
        if java.lang.Long.bitCount(sa ^ sb) <= maxDist
      } yield (ia, ib)).toSet
      val got = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = maxDist)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(got == expected,
        s"maxDist=$maxDist: missed=${expected -- got} extra=${got -- expected}")
    }
  }

  test("simhashPairs splits oversized buckets without losing recall") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted mega-bucket: >50% of docs share a long common prefix, so
    // their simhashes agree on most chunks and they all land in the
    // same primary buckets — with bucketCap=8 every one of those
    // buckets must take the secondary-split path, and the pair set
    // must still equal the brute-force answer (pigeonhole over the
    // rotated chunking keeps recall complete).
    val prefix = Seq.fill(30)(
      "shared boilerplate header text that dominates the document body entirely").mkString(" ")
    val rnd = new scala.util.Random(7)
    val docs = (0 until 120).map { i =>
      val tail =
        if (i < 70) s"unique tail ${rnd.nextLong()} ${rnd.nextLong()}"
        else Seq.fill(40)(s"w${rnd.nextInt(500)}").mkString(" ")
      val body = if (i < 70) s"$prefix $tail" else tail
      (i.toLong, body)
    }.toDF("doc_id", "text")
    val sims = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for (maxDist <- Seq(4, 10)) {
      val expected = (for {
        (ia, sa) <- sims; (ib, sb) <- sims if ia < ib
        if java.lang.Long.bitCount(sa ^ sb) <= maxDist
      } yield (ia, ib)).toSet
      val got = Dedup.simhashPairs(docs, "doc_id", "text",
        maxDist = maxDist, bucketCap = 8)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(got == expected,
        s"maxDist=$maxDist cap=8: missed=${expected -- got} extra=${got -- expected}")
    }
  }

  test("simhashPairs fails loudly when a SECONDARY bucket overflows its cap") {
    import spark.implicits._
    // permutations of one word set: simhash is a bag-of-tokens vote,
    // so all 40 docs share ONE simhash — the rotation has no fresh
    // bits to split on, every secondary bucket holds all 40 members,
    // and with secondaryCap below that the engine must error clearly
    // rather than silently run the quadratic loop one level down
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val rnd = new scala.util.Random(11)
    val docs = (0 until 40).map { i =>
      (i.toLong, rnd.shuffle(words).mkString(" "))
    }.toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3,
        bucketCap = 8, secondaryCap = 16).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("exact-dedup")),
      s"error chain lacked the descriptive bucket-cap message: $ex")
    // the same corpus passes once identical-simhash floods are allowed
    val ok = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3,
      bucketCap = 8, secondaryCap = 64).collect()
    assert(ok.length == 40 * 39 / 2, s"got ${ok.length}")
  }

  test("simhashPairs excludes docs with null text or null id") {
    import spark.implicits._
    // null text → null simhash; previously these paired pairwise at
    // hamming 0 through getLong-as-0, silently deleting them downstream
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "some real document text here"),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[String]),
      (java.lang.Long.valueOf(3L), null.asInstanceOf[String]),
      (null.asInstanceOf[java.lang.Long], "another doc")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 16).collect()
    assert(pairs.isEmpty, pairs.mkString(","))
  }

  test("components dictionary-encodes string ids; dropNearDuplicates keeps one per cluster") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pairs = Seq(("u-b", "u-a"), ("u-b", "u-c"), ("x-1", "x-2"))
      .toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("component")).toMap
    assert(comp.keySet == Set("u-a", "u-b", "u-c", "x-1", "x-2"), comp.toString)
    // one shared label per cluster, label is itself a member
    assert(Set(comp("u-a"), comp("u-b"), comp("u-c")).size == 1, comp.toString)
    assert(Set("u-a", "u-b", "u-c").contains(comp("u-a")), comp.toString)
    assert(comp("x-1") == comp("x-2") && Set("x-1", "x-2").contains(comp("x-1")),
      comp.toString)

    val docs = Seq("u-a", "u-b", "u-c", "x-1", "x-2", "lone")
      .map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
      .collect().map(_.getAs[String]("doc_id")).toSet
    assert(kept.size == 3 && kept.contains("lone"), kept.toString)
    assert(kept.intersect(Set("u-a", "u-b", "u-c")).size == 1, kept.toString)
    assert(kept.intersect(Set("x-1", "x-2")).size == 1, kept.toString)
  }

  test("components groups transitive near-dups; dropNearDuplicates keeps min id") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // chain 1-2-3 plus pair 10-11: transitivity must merge the chain
    // even though (1,3) is not a pair itself
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L),
      comp.toString)

    val docs = Seq(1L, 2L, 3L, 5L, 10L, 11L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // one survivor per cluster + untouched singleton 5
    assert(kept == Set(1L, 5L, 10L), kept.toString)
  }

  test("pointer jumping: a long path graph converges within maxIter rounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // path 0-1-2-…-1023, edges scattered by id_a so phase-1
    // partition-local contraction cannot shortcut it (consecutive
    // edges land in different partitions): the contracted graph keeps
    // a diameter in the hundreds, so plain min-label propagation
    // would need that many rounds — far beyond maxIter = 20. The
    // pointer-jumping step (label := label[label]) halves the chain
    // every round and converges in ~log2(1024) = 10.
    // smallGraph = 0 forces the iterative path: at the default
    // threshold this graph would take the single-task union-find
    // collapse and never exercise the rounds this test pins.
    val n = 1024
    val pairs = spark.range(n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      .repartition(32, pmod(col("id_a"), lit(32)))
    val comp = Dedup.components(pairs, maxIter = 20, smallGraph = 0L).collect()
    assert(comp.length == n)
    assert(comp.forall(_.getAs[Long]("component") == 0L),
      comp.filter(_.getAs[Long]("component") != 0L).take(5).mkString(","))
  }

  test("small-graph collapse and iterative rounds agree on a random graph") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 500 random edges over 300 nodes: many multi-node components of
    // varied shapes. The default path (single-task union-find over the
    // contracted stars) and the forced iterative path must label every
    // node identically — the collapse is an optimization, not a
    // semantic fork.
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 500)
      .map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
      .repartition(16, pmod(col("id_a"), lit(16)))
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    val fast = labelMap(Dedup.components(pairs))
    val slow = labelMap(Dedup.components(pairs, maxIter = 40, smallGraph = 0L))
    assert(fast == slow,
      s"paths disagree on ${fast.toSet.diff(slow.toSet).take(5)}")
  }

  test("reliable mode labels the forced-path 1024-node graph identically") {
    import org.apache.spark.sql.functions._
    // executor-churn escape hatch: reliable = true swaps every
    // localCheckpoint pin (dict, per-round jump, final labels) for a
    // reliable checkpoint. Same path graph as the pointer-jumping
    // test, smallGraph = 0 so ALL the iterative-path pins execute in
    // reliable mode, and both modes must agree label-for-label.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val n = 1024
      val pairs = spark.range(n - 1)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        .repartition(32, pmod(col("id_a"), lit(32)))
      def labelMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
      val rel = labelMap(
        Dedup.components(pairs, maxIter = 20, smallGraph = 0L, reliable = true))
      val loc = labelMap(
        Dedup.components(pairs, maxIter = 20, smallGraph = 0L))
      assert(rel.size == n && rel.values.forall(_ == 0L),
        rel.filter(_._2 != 0L).take(5).toString)
      assert(rel == loc)
      // the small-graph collapse pin runs reliable too
      val small = labelMap(Dedup.components(pairs, reliable = true))
      assert(small == rel)
      // and the dictionary-encode pin (non-integral ids)
      import spark.implicits._
      val sdict = Dedup.components(
        Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b"),
        reliable = true)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // string representatives are dict-order-dependent; pin the GROUPS
      val groups = sdict.groupBy(_._2).values.map(_.keySet).toSet
      assert(groups == Set(Set("a", "b", "c"), Set("x", "y")), sdict.toString)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir.toFile)
    }
  }

  test("components handles negative ids and the Long.MinValue sentinel key") {
    import spark.implicits._
    // The union-find map stores longs in open-addressed slots with
    // Long.MinValue as the empty sentinel, handled out of band — a
    // corpus whose ids include Long.MinValue itself, negatives, and
    // mixed signs must still label every node with its component min.
    val pairs = Seq(
      (Long.MinValue, -7L), (-7L, -3L),      // chain through the sentinel id
      (-100L, 100L),                         // mixed-sign pair
      (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comp == Map(
      Long.MinValue -> Long.MinValue, -7L -> Long.MinValue, -3L -> Long.MinValue,
      -100L -> -100L, 100L -> -100L,
      5L -> 5L, 6L -> 5L), comp.toString)
  }

  test("end-to-end near-dedup: minhash pairs → components → surviving corpus") {
    val d = docs()
    val pairs = Dedup.minhashPairs(d, "doc_id", "text",
      shingleK = 3, numPerms = 32, bands = 16, threshold = 0.5)
    val kept = Dedup.dropNearDuplicates(d, "doc_id", pairs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // docs 0,1,3 are one near-dup group (keeper 0); 2,5 another
    // (keeper 2); 4 is a singleton
    assert(kept == Set(0L, 2L, 4L), kept.toString)
  }

  test("degenerate inputs: empty pairs, single doc, maxDist=0") {
    import spark.implicits._
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.components(emptyPairs).collect().isEmpty)
    val d = docs()
    assert(Dedup.dropNearDuplicates(d, "doc_id", emptyPairs).count() == d.count())

    val single = Seq((7L, "only document")).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(single, "doc_id", "text", maxDist = 16)
      .collect().isEmpty)

    // maxDist=0: exactly the identical-simhash pairs (docs 0 and 3)
    val zero = Dedup.simhashPairs(d, "doc_id", "text", maxDist = 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(zero == Set((0L, 3L)), zero.toString)
  }

  test("unblocked ngram jaccard (minhash-band fallback) recovers the blocked pairs") {
    import org.apache.spark.sql.functions._
    // same corpus, no blocking key: the fallback's candidates must
    // recover every pair the exhaustive-within-block form finds
    // (single block == exhaustive truth for this corpus)
    val withBlock = docs().withColumn("blk", lit(1))
    val blocked = Dedup.ngramJaccardPairs(withBlock, "doc_id", "text",
      blockCols = Seq(col("blk")), shingleK = 3, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val unblocked = Dedup.ngramJaccardPairs(docs(), "doc_id", "text",
      blockCols = Nil, shingleK = 3, threshold = 0.5,
      numPerms = 32, bands = 16)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(blocked.subsetOf(unblocked),
      s"fallback missed ${blocked -- unblocked}; got $unblocked")
    // and verification still rejects unrelated docs
    assert(!unblocked.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("ngram jaccard verification join scores planted pairs high") {
    import org.apache.spark.sql.functions._
    val withBlock = docs().withColumn("blk", lit(1))
    val pairs = Dedup.ngramJaccardPairs(withBlock, "doc_id", "text",
      blockCols = Seq(col("blk")), shingleK = 3, threshold = 0.5)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(pairs((0L, 3L)) == 1.0)
    assert(pairs((0L, 1L)) > 0.7)
    assert(!pairs.contains((0L, 2L)))
  }

  test("blockCap: oversized blocks fall back to band sub-bucketing without losing planted pairs") {
    import org.apache.spark.sql.functions._
    // one block holding the whole corpus, cap forced below its
    // occupancy: candidates must come from minhash-band sub-buckets
    // (the scale guard — the sf1 probe measured quadratic candidate
    // growth on coarse natural keys), and the planted pairs must
    // still verify identically to the exhaustive form
    val withBlock = docs().withColumn("blk", lit(1))
    val exhaustive = Dedup.ngramJaccardPairs(withBlock, "doc_id", "text",
      blockCols = Seq(col("blk")), shingleK = 3, threshold = 0.5)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    val capped = Dedup.ngramJaccardPairs(withBlock, "doc_id", "text",
      blockCols = Seq(col("blk")), shingleK = 3, threshold = 0.5,
      blockCap = 2)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    // 32 bands × 1 row: miss probability at j >= 0.5 is (1-j)^32 —
    // the planted pairs are caught deterministically given the fixed
    // xxhash signatures, with identical verified jaccard
    assert(capped == exhaustive,
      s"capped=$capped exhaustive=$exhaustive")
  }

  test("md5 oracle twins find planted near-dups through the shared machinery") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then runs far away into the deep dark forest tonight"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("forest", "meadow")),          // near-dup of 1
      (3L, "completely unrelated words about database query planners and storage engines and shuffles"),
      (4L, base)                                       // exact dup of 1
    ).toDF("doc_id", "text")

    val sim = Dedup.md5SimhashPairs(docs, "doc_id", "text", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.contains((1L, 4L)), s"exact dup must pair at hamming 0: $sim")
    assert(sim.contains((1L, 2L)) && sim.contains((2L, 4L)),
      s"one-word swap must stay within hamming 8: $sim")
    assert(!sim.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $sim")

    val mh = Dedup.md5MinhashPairs(docs, "doc_id", "text",
      shingleK = 3, numPerms = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((1L, 2L), (1L, 4L), (2L, 4L)), s"got $mh")

    // the twin signature is deterministic across evaluations
    val sigs = Dedup.md5Simhash60(docs, "doc_id", "text")
    assert(sigs.collect().toSeq.sortBy(_.getLong(0)) ==
      sigs.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("Md5SimHash60 kernel equals the explode→sum aggregate formulation") {
    // the d29 signature was rewritten from a 60-way explode→sum vote
    // aggregate into one codegen'd kernel pass; the two must stay
    // bit-identical on REAL corpus text (the aggregate form is the
    // executable spec of the DuckDB oracle's arithmetic)
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val kernel = Dedup.md5Simhash60(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val tok = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(Dedup.tokens(col("text"))).as("t"))
      .select(col("doc_id"), Dedup.md5Hash60(col("t")).as("h"))
    val bitSums = (0 until 60).map(i =>
      sum(shiftrightunsigned(col("h"), i).bitwiseAND(lit(1L))).as(s"b$i"))
    val agg = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sig = (0 until 60).map(i =>
      when(col(s"b$i") * 2 >= col("n"), shiftleft(lit(1L), i))
        .otherwise(lit(0L))).reduce(_ + _)
    val reference = agg.select(col("doc_id"), sig.as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(kernel.size == reference.size && kernel.size > 0)
    val diff = kernel.collect {
      case (id, s) if reference(id) != s => (id, s, reference(id)) }
    assert(diff.isEmpty, s"signatures diverge: ${diff.take(5)}")
  }

  test("crossDocSpans reports planted shared paragraphs as merged maximal spans") {
    import spark.implicits._
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet" // 10 tokens
    val shared2 = "kilo lima mike november oscar papa quebec romeo sierra tango"  // 10 tokens
    val noise1 = "one two three four five six seven eight nine ten eleven twelve"  // 12 tokens
    val noise2 = "red orange yellow green blue indigo violet umber crimson teal olive maroon"
    val docs = Seq(
      // doc 1: shared at positions 3..12, then >8 unique tokens, then shared2
      (1L, s"preamble words ahead $shared $noise1 $shared2"),
      // doc 2: shared at positions 1..10
      (2L, s"$shared trailing unrelated content here"),
      // doc 3: holds shared2 only
      (3L, s"$noise2 $shared2 closing words"),
      // doc 4: unrelated
      (4L, "nothing here repeats across any document in this corpus at all honestly"),
      // doc 5: shorter than k tokens — can't hold a k-token span
      (5L, "alpha bravo charlie delta")
    ).toDF("doc_id", "text")

    val spans = Dedup.crossDocSpans(docs, "doc_id", "text", k = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet

    // 10-token shared block = 3 overlapping 8-grams merged into ONE span
    assert(spans == Set(
      (1L, 4, 13, 3L),   // shared after a 3-token preamble
      (1L, 26, 35, 3L),  // shared2 after 12 noise tokens (pos 14..25)
      (2L, 1, 10, 3L),   // shared at the very front
      (3L, 13, 22, 3L)   // shared2 after 12 noise tokens
    ), s"got $spans")
  }

  test("crossDocSpans merges adjacent islands and keeps within-doc-only repeats out") {
    import spark.implicits._
    val block = "w1 w2 w3 w4 w5 w6 w7 w8" // exactly k=8 tokens
    val docs = Seq(
      // doc 1 holds block TWICE back to back: hits at pos 1 and 9 —
      // gap == k merges them into one contiguous 16-token span
      (1L, s"$block $block"),
      (2L, s"$block unrelated tail content beyond"),
      // doc 3: a WITHIN-doc-only repeated block (no other doc holds
      // it) must not be reported — the operator is cross-doc
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z1 z2 z3 z4 z5 z6 z7 z8")
    ).toDF("doc_id", "text")

    val spans = Dedup.crossDocSpans(docs, "doc_id", "text", k = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(spans == Set(
      (1L, 1, 16, 2L), // two adjacent hits, one merged span
      (2L, 1, 8, 1L)
    ), s"got $spans")
  }

  test("dedupAgainst screens a batch against the corpus in both signature modes") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearA = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val corpus = Seq(
      (1L, textA),
      (2L, "completely different corpus content about distributed query engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, textA), // exact duplicate of corpus doc 1 → dropped
      (11L, nearA), // near-duplicate (1-token delta, jaccard >> 0.5) → dropped
      (12L, "a genuinely novel batch document that matches nothing at all here")
    ).toDF("doc_id", "text")

    for (md5Sig <- Seq(false, true)) {
      val survivors = Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
        md5Sig = md5Sig)
        .collect().map(_.getLong(0)).toSet
      assert(survivors == Set(12L), s"md5Sig=$md5Sig got $survivors")
    }

    // an empty corpus drops nothing
    val none = Dedup.dedupAgainst(batch, corpus.filter("doc_id < 0"),
      "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(none == Set(10L, 11L, 12L))
  }

  test("cutCrossDocSpans keeps the min-doc holder intact and cuts every other holder") {
    import spark.implicits._
    val shared = "Alpha Bravo Charlie Delta Echo Foxtrot Golf Hotel" // 8 tokens, mixed case
    val docs = Seq(
      // doc 1 is the min holder: keeps everything (original case)
      (1L, s"$shared plus unique trailing words here"),
      // doc 2: the shared block is cut, unique tail survives
      (2L, s"$shared different unique tail"),
      // doc 3: ENTIRELY the shared block → cleaned to empty string
      (3L, shared),
      // doc 4: unrelated, untouched (but whitespace-canonicalized)
      (4L, "  totally   unrelated words that repeat nowhere else at all  ")
    ).toDF("doc_id", "text")

    val out = Dedup.cutCrossDocSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> s"$shared plus unique trailing words here",
      2L -> "different unique tail",
      3L -> "",
      4L -> "totally unrelated words that repeat nowhere else at all"
    ), s"got $out")
  }

  test("gramProfile counts intra-doc duplicate grams and cross-doc grams from one pass") {
    import spark.implicits._
    val block = "w1 w2 w3 w4 w5 w6 w7 w8" // exactly k=8 tokens
    val docs = Seq(
      // doc 1: block twice (all 9 grams of the 16-token doc that
      // equal another occurrence: gram@1 == gram@9; the 7 straddling
      // grams are unique) + cross-doc (doc 2 holds block too)
      (1L, s"$block $block"),
      (2L, s"$block unrelated tail content beyond"),
      // doc 3: intra-doc repeat ONLY — dup_frac > 0, cross-doc 0
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z1 z2 z3 z4 z5 z6 z7 z8"),
      // doc 4: too short for any 8-gram — absent from the profile
      (4L, "alpha bravo charlie")
    ).toDF("doc_id", "text")

    val prof = Dedup.gramProfile(docs, "doc_id", "text", k = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // doc 1: 9 grams, grams at pos 1 and 9 are the duplicated pair
    //   (2/9 = 0.2222); cross-doc grams: pos 1 and 9 (both == doc 2's
    //   gram@1) = 2
    // doc 2: 5 grams, none intra-duplicated; gram@1 cross-doc = 1
    // doc 3: 9 grams, pos 1 and 9 duplicated intra-doc; zero cross-doc
    assert(prof == Set(
      (1L, 9L, 0.2222, 2L),
      (2L, 5L, 0.0, 1L),
      (3L, 9L, 0.2222, 0L)
    ), s"got $prof")
  }

  test("d46 screen: a batch too big to broadcast rides bucketed SMJ index reads, zero Exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // the steady-state production shape: batches grow past
    // autoBroadcastJoinThreshold, AQE can no longer demote the index
    // joins to broadcasts, and the screen must fall back to
    // sort-merge/shuffled-hash joins where the single-column
    // bucketing of _bands/_docs/_ch satisfies the join clustering —
    // the index sides read their buckets with NO Exchange (only the
    // unbucketed batch side may shuffle).
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated corpus content about spark planning details today ok"),
      (3L, "a third corpus document with its own words entirely")
    ).toDF("doc_id", "text")
    // the batch must itself exceed the 1 KB threshold, or Spark just
    // broadcasts the BATCH into the bucketed scans (fine, but not the
    // fallback under test): 500 distinct docs + one exact and one
    // near dup of the corpus
    val batch = (Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "completely unrelated corpus content about spark planning details today no")
    ) ++ (0 until 500).map(i =>
      (100L + i, s"document number $i carries payload ${i * 7} and token$i plus ${i * 13} extra"))
    ).toDF("doc_id", "text")
    val name = "t_idx_smj"
    Dedup.buildDedupIndex(corpus, "doc_id", "text", name)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    try {
      val df = Dedup.dedupAgainstIndex(batch, "doc_id", "text", name)
      val plan = df.queryExecution.executedPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
        case j: ShuffledHashJoinExec => j
      }
      // a join child is an INDEX side iff every leaf under it is a
      // bucketed file scan (the batch side bottoms out in the local
      // relation); each such side must be exchange-free
      val indexSides = joins.flatMap(_.children).filter { side =>
        val leaves = side.collectLeaves()
        leaves.nonEmpty && leaves.forall {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.bucketSpec.isDefined
          case _ => false
        }
      }
      assert(indexSides.size >= 3,
        s"expected _bands/_docs/_ch to SMJ off bucketed reads:\n${plan.toString.take(4000)}")
      indexSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeLike => e }.isEmpty,
          s"bucketed index side reshuffled:\n${side.toString.take(2000)}")
      }
      // semantics unchanged under the forced fallback: both dups
      // screened, every fresh doc survives
      assert(df.collect().map(_.getLong(0)).toSet ==
        (0 until 500).map(100L + _).toSet)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("sim-index screen: big batches ride bucketed index reads, zero Exchange on the index side") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // same production posture as the d46 SMJ fallback: once the batch
    // outgrows autoBroadcastJoinThreshold, the chunk_hash join must
    // ride the single-column bucketing of <name>_chunks — the index
    // side reads its buckets with NO Exchange
    val name = "t_sim_smj"
    val corpusSigs = (0 until 50).map(i => (i.toLong, i * 0x9E3779B97F4A7C15L))
    Dedup.buildSimIndex(corpusSigs.toDF("doc_id", "sim"), name,
      maxDist = 2, numBuckets = 2)
    val batch = ((0 until 600).map(i =>
      (1000L + i, i * 0x9E3779B97F4A7C15L + 0x5555555555555555L)) :+
      (2000L, corpusSigs(7)._2)) // one exact dup → screened
      .toDF("doc_id", "sim")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    try {
      val df = Dedup.screenAgainstSimIndex(batch, name)
      val plan = df.queryExecution.executedPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
        case j: ShuffledHashJoinExec => j
      }
      val indexSides = joins.flatMap(_.children).filter { side =>
        val leaves = side.collectLeaves()
        leaves.nonEmpty && leaves.forall {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.bucketSpec.isDefined
          case _ => false
        }
      }
      assert(indexSides.nonEmpty,
        s"expected the chunks join to read bucketed:\n${plan.toString.take(3000)}")
      indexSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeLike => e }.isEmpty,
          s"bucketed chunk side reshuffled:\n${side.toString.take(2000)}")
      }
      val kept = df.collect().map(_.getLong(0)).toSet
      assert(kept == (0 until 600).map(1000L + _).toSet, s"got ${kept.size}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("dedupAgainstIndex == dedupAgainst in both signature modes; append screens the next batch") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated corpus content about spark planning details today ok"),
      (3L, "a third corpus document with its own words entirely")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // exact copy of corpus 1 → exact screen drops it
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      // near-dup of corpus 2 (last word changed: 7 of 9 union
      // shingles shared, j = 0.78) → jaccard screen drops it
      (11L, "completely unrelated corpus content about spark planning details today no"),
      // genuinely new → survives
      (12L, "fresh never before seen material all new tokens here now")
    ).toDF("doc_id", "text")

    for (md5Sig <- Seq(false, true)) {
      val name = s"t_idx_$md5Sig"
      Dedup.buildDedupIndex(corpus, "doc_id", "text", name, md5Sig = md5Sig)
      val direct = Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
        md5Sig = md5Sig).collect().map(_.getLong(0)).toSet
      val indexed = Dedup.dedupAgainstIndex(batch, "doc_id", "text", name)
        .collect().map(_.getLong(0)).toSet
      assert(indexed == direct, s"md5Sig=$md5Sig: $indexed vs $direct")
      assert(indexed == Set(12L), s"md5Sig=$md5Sig kept $indexed")

      // fold the survivors in; the next batch duplicating them must
      // now be screened out by the UPDATED index
      Dedup.appendToDedupIndex(
        batch.filter($"doc_id" === 12L), "doc_id", "text", name)
      val batch2 = Seq(
        // exact copy of the appended survivor
        (20L, "fresh never before seen material all new tokens here now"),
        // near-dup of it (last word changed, j = 0.78)
        (21L, "fresh never before seen material all new tokens here later"),
        (22L, "and one more genuinely novel document sails right through")
      ).toDF("doc_id", "text")
      val kept2 = Dedup.dedupAgainstIndex(batch2, "doc_id", "text", name)
        .collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(22L), s"md5Sig=$md5Sig second batch kept $kept2")
    }

    // after appends, compaction shrinks per-bucket files, dedups the
    // accreted content hashes, and the screen's verdicts are
    // untouched
    val cName = "t_idx_compact"
    Dedup.buildDedupIndex(corpus, "doc_id", "text", cName, numBuckets = 2)
    Dedup.appendToDedupIndex(
      Seq((40L, "appended doc number one with some words in it"))
        .toDF("doc_id", "text"), "doc_id", "text", cName)
    Dedup.appendToDedupIndex(
      Seq((41L, "appended doc number two with other words in it"))
        .toDF("doc_id", "text"), "doc_id", "text", cName)
    def bandFiles(): Int = {
      // resolve the table's LIVE location from the catalog — the
      // generation-location swap moves it on every compaction
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(
            s"${cName}_bands")).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_"))
    }
    val before = bandFiles()
    val probe2 = Seq(
      (50L, "appended doc number one with some words in it"), // dup of 40
      (51L, "never seen anywhere fresh probe content entirely new")
    ).toDF("doc_id", "text")
    val preCompact = Dedup.dedupAgainstIndex(probe2, "doc_id", "text", cName)
      .collect().map(_.getLong(0)).toSet
    Dedup.compactDedupIndex(spark, cName)
    val after = bandFiles()
    assert(after < before, s"compaction must shrink files: $before -> $after")
    val postCompact = Dedup.dedupAgainstIndex(probe2, "doc_id", "text", cName)
      .collect().map(_.getLong(0)).toSet
    assert(postCompact == preCompact && postCompact == Set(51L),
      s"compaction changed verdicts: $preCompact -> $postCompact")

    // a NULL-ID corpus row still contributes its content hash (the
    // exact screen is about content; dedupAgainst's corpusHashes
    // filters only null text, and the index must agree)
    val nullIdCorpus = Seq(
      (Some(1L), "a plain corpus doc with several distinct words inside"),
      (None, "content owned by a row whose id never materialized sadly")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (30L, "content owned by a row whose id never materialized sadly"),
      (31L, "a completely new probe document with fresh content words")
    ).toDF("doc_id", "text")
    Dedup.buildDedupIndex(nullIdCorpus, "doc_id", "text", "t_idx_nullid")
    val directKept = Dedup.dedupAgainst(probe, nullIdCorpus, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val indexKept = Dedup.dedupAgainstIndex(probe, "doc_id", "text",
      "t_idx_nullid").collect().map(_.getLong(0)).toSet
    assert(indexKept == directKept && indexKept == Set(31L),
      s"null-id corpus content must screen exactly: $indexKept vs $directKept")
  }

  test("decontaminate: planted leak flagged with positional counts, clean and short docs report 0") {
    import spark.implicits._
    val block = "q1 q2 q3 q4 q5 q6 q7 q8" // one 8-gram
    val holdout = Seq(
      (100L, s"$block tail1 tail2"),
      (101L, "h1 h2 h3 h4 h5 h6 h7 h8 h9")
    ).toDF("doc_id", "text")
    val train = Seq(
      // holds the holdout block TWICE → 2 shared positions
      (1L, s"lead $block mid $block"),
      // verbatim copy of holdout 101 → all 2 of its grams shared
      (2L, "h1 h2 h3 h4 h5 h6 h7 h8 h9"),
      // clean doc → 0, still reported
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      // shorter than k → no grams, still reported as 0
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val res = graft.operators.Dedup
      .decontaminate(train, holdout, "doc_id", "text", k = 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(res == Map(
      1L -> ((2L, true)),
      2L -> ((2L, true)),
      3L -> ((0L, false)),
      4L -> ((0L, false))
    ), s"got $res")
  }

  test("crossDocSpans matches a plain-Scala brute-force reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026)
    val k = 4
    // reference: recompute cross-doc repeated k-gram positions and
    // merge islands exactly as specified, in plain Scala
    def refSpans(corpus: Seq[(Long, String)]): Set[(Long, Int, Int, Long)] = {
      val toks = corpus.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").toSeq
      }
      val grams = toks.flatMap { case (id, ws) =>
        ws.sliding(k).zipWithIndex.filter(_._1.size == k)
          .map { case (g, i) => (id, i + 1, g.mkString(" ")) }
      }
      val byGram = grams.groupBy(_._3)
      val cross = byGram.filter(_._2.map(_._1).distinct.size >= 2).keySet
      val hits = grams.filter(g => cross(g._3))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      hits.flatMap { case (id, ps) =>
        // islands: break where gap > k
        val islands = ps.foldLeft(List.empty[List[Int]]) {
          case (acc, p) => acc match {
            case (h :: t) :: rest if p - (h :: t).max <= k =>
              (p :: h :: t) :: rest
            case _ => List(p) :: acc
          }
        }
        islands.map(is =>
          (id, is.min, is.max + (k - 1), is.size.toLong))
      }.toSet
    }
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "ii", "jj", "kk", "ll", "mm", "nn")
    val shared = Vector.fill(3)(
      Vector.fill(k + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    for (trial <- 1 to 5) {
      val corpus = (0L until 12L).map { id =>
        val body = Vector.fill(6 + rnd.nextInt(20))(
          // mostly-random tokens with doc-salted spice so random
          // cross-doc repeats are rare but possible
          if (rnd.nextBoolean()) vocab(rnd.nextInt(vocab.size))
          else s"u${id}x${rnd.nextInt(50)}")
        // plant 0-2 shared blocks at random offsets
        val planted = (0 until rnd.nextInt(3)).foldLeft(body) {
          case (acc, _) =>
            val at = rnd.nextInt(acc.size + 1)
            val blk = shared(rnd.nextInt(shared.size)).split(" ").toVector
            acc.take(at) ++ blk ++ acc.drop(at)
        }
        id -> planted.mkString(" ")
      }
      val got = Dedup.crossDocSpans(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSet
      val exp = refSpans(corpus)
      assert(got == exp,
        s"trial $trial: engine ${got.size} vs reference ${exp.size}\n" +
          s"only-engine=${got -- exp}\nonly-ref=${exp -- got}")
    }
  }

  test("dedupWithinBatch: min-id keep-one per exact/near family; null text passes; transitive families collapse") {
    import spark.implicits._
    val name = "t_within_idx"
    Dedup.buildDedupIndex(
      Seq((1L, "whatever corpus content seeds the meta table parameters here"))
        .toDF("doc_id", "text"),
      "doc_id", "text", name)
    val batch = Seq(
      // exact family: min id 30 wins regardless of row order
      (Some(31L), Some("identical batch payload repeated across several rows right here")),
      (Some(30L), Some("identical batch payload repeated across several rows right here")),
      // transitive near family: 40~41 and 41~42 chain, 40 kept
      (Some(40L), Some("a chained near duplicate document varying only its last token alpha")),
      (Some(41L), Some("a chained near duplicate document varying only its last token beta")),
      (Some(42L), Some("a chained near duplicate document varying only its last token gamma")),
      // unique survivor
      (Some(50L), Some("entirely unrelated content with none of those words at all")),
      // null text: no content, nothing to duplicate — both pass
      (Some(60L), None),
      (Some(61L), None)
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupWithinBatch(batch, "doc_id", "text", name)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(30L, 40L, 50L, 60L, 61L), s"got $kept")
    // deterministic under reordering
    val kept2 = Dedup.dedupWithinBatch(batch.orderBy(col("doc_id").desc),
      "doc_id", "text", name)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept2 == kept, s"order-dependent kept set: $kept2")
    // null-id contract: a row with no id never survives keep-one
    // (a keeper must be appendable to the index, which requires an
    // id); a real-id twin in the same family wins, and an id-less
    // family leaves no keeper at all. Null-text rows still pass even
    // with a null id.
    val withNullIds = Seq(
      (Some(70L), Some("payload shared by a real id row and an id-less row")),
      (Option.empty[Long], Some("payload shared by a real id row and an id-less row")),
      (Option.empty[Long], Some("an id-less family with no real id twin anywhere")),
      (Option.empty[Long], Option.empty[String])
    ).toDF("doc_id", "text")
    val kept3 = Dedup.dedupWithinBatch(withNullIds, "doc_id", "text", name)
      .collect().map(r => Option(r.getAs[java.lang.Long]("doc_id"))
        .map(_.longValue) -> Option(r.getAs[String]("text")).isEmpty).toSet
    assert(kept3 == Set(Some(70L) -> false, None -> true), s"got $kept3")
  }

  /** A faithful process-restart: a brand-new SparkSession (hence a
    * brand-new SharedState and a brand-new in-memory catalog that has
    * forgotten every managed table) over the SAME SparkContext and the
    * SAME warehouse directory, whose parquet files survived. */
  private def restartedSession(): org.apache.spark.sql.SparkSession = {
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        old.conf.get("spark.sql.warehouse.dir"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def restoreSession(): Unit = {
    org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("sim index: hamming screen at maxDist, append folds in, replay self-suppresses, restart re-opens") {
    import spark.implicits._
    val name = "t_sim_idx"
    def flip(s: Long, bits: Int*): Long = bits.foldLeft(s)((a, b) => a ^ (1L << b))
    val s1 = 0x0123456789ABCDEFL
    val s2 = 0x7EDCBA9876543210L
    Dedup.buildSimIndex(Seq((1L, s1), (2L, s2)).toDF("doc_id", "sim"),
      name, maxDist = 2, numBuckets = 2)
    val batch = Seq(
      (10L, s1),                 // exact dup of 1 → screened
      (11L, flip(s1, 3, 40)),    // hamming 2 of 1 → screened
      (12L, flip(s2, 1, 17, 63)),// hamming 3 of 2 → survives
      (13L, 0x5A5A5A5A5A5A5A5AL) // unrelated → survives
    ).toDF("doc_id", "sim")
    val kept = Dedup.screenAgainstSimIndex(batch, name)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L, 13L), s"got $kept")
    // fold the survivors in: the next batch screens against them
    Dedup.appendToSimIndex(
      batch.filter($"doc_id".isin(12L, 13L)), name)
    val batch2 = Seq(
      (20L, flip(0x5A5A5A5A5A5A5A5AL, 8)), // hamming 1 of 13 → screened
      (21L, flip(s1, 3, 40)),              // replay of 11's sig... indexed? 11 was NOT ingested
      (22L, flip(s2, 1, 17, 63))           // exact replay of 12 → screened
    ).toDF("doc_id", "sim")
    val kept2 = Dedup.screenAgainstSimIndex(batch2, name)
      .collect().map(_.getLong(0)).toSet
    // 21 carries 11's sig: 11 never landed (screened in batch 1), and
    // its sig is hamming 2 from INDEXED s1 — still screened, same
    // verdict as before: the screen is stable across batches
    assert(kept2 == Set.empty, s"got $kept2")
    // restart: the bucketed chunk table outlives the catalog
    val s2s = restartedSession()
    try {
      assert(!s2s.catalog.tableExists(s"${name}_chunks"))
      Dedup.openSimIndex(s2s, name)
      import s2s.implicits._
      val keptR = Dedup.screenAgainstSimIndex(
        Seq((30L, s1), (31L, flip(s2, 1, 17, 63)), (32L, -1L))
          .toDF("doc_id", "sim"), name)
        .collect().map(_.getLong(0)).toSet
      assert(keptR == Set(32L), s"restart screen drifted: $keptR")
    } finally restoreSession()
  }

  test("sim index video side: a re-encoded twin screens per-frame; fold path, replay, retirement, restart intact") {
    import spark.implicits._
    import graft.operators.Multimodal
    val name = "t_sim_vidx"
    // base index over plain doc-level sigs — the exact-fold path the
    // video side must not disturb
    val s1 = 0x0123456789ABCDEFL
    Dedup.buildSimIndex(Seq((1L, s1)).toDF("doc_id", "sim"),
      name, maxDist = 2, numBuckets = 2)
    // corpus: two lossless-PNG AVIs, frame sigs through the real
    // demux+decode path, folded into the index's video-frame side
    val corpus = Seq(2L, 5L).map(id =>
      Multimodal.MediaRow(id, "video", Multimodal.pngVideoPayload(id))).toDS()
    val corpusSigs = Multimodal.videoFrameDHashSigs(spark, corpus)
      .localCheckpoint(true)
    Dedup.appendVideoFramesToSimIndex(corpusSigs, name)
    // batch: the four verdicts that define the contract
    val trunc = Multimodal.muxAvi(
      Multimodal.videoFrames(2L, "png").dropRight(1), 20, 20, 7,
      codec = "png ")
    val batch = Seq(
      // RE-ENCODED twin of 2: perturbed pixels, different bytes,
      // different frame hashes (probed: >=1 frame differs, all within
      // hamming 2) — the exact fold would MISS it; per-frame must not
      Multimodal.MediaRow(102L, "video",
        Multimodal.reencodedPngVideoPayload(2L)),
      // remuxed twin of 5: hamming 0 per frame → screens
      Multimodal.MediaRow(205L, "video",
        Multimodal.remuxedPngVideoPayload(5L)),
      // genuinely different content → survives
      Multimodal.MediaRow(300L, "video", Multimodal.pngVideoPayload(11L)),
      // truncated copy of 2: every present frame matches but the
      // frame COUNTS differ → a different video under the d63
      // contract → survives
      Multimodal.MediaRow(400L, "video", trunc)).toDS()
    val batchSigs = Multimodal.videoFrameDHashSigs(spark, batch)
      .localCheckpoint(true)
    def screen(): Set[Long] =
      Dedup.screenVideosAgainstSimIndex(batchSigs, name)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(screen() == Set(300L, 400L), s"got ${screen()}")
    // the survivors' frame rows are shape-preserving (feedable back
    // into appendVideoFramesToSimIndex)
    assert(Dedup.screenVideosAgainstSimIndex(batchSigs, name).columns
      .toSeq == Seq("doc_id", "frame_idx", "sim"))
    // exact-fold path untouched: doc-level screen ignores _vchunks
    val baseKept = Dedup.screenAgainstSimIndex(
      Seq((50L, s1), (51L, 0x5A5A5A5A5A5A5A5AL)).toDF("doc_id", "sim"),
      name).collect().map(_.getLong(0)).toSet
    assert(baseKept == Set(51L), s"base screen drifted: $baseKept")
    // replayed append (duplicate index rows) must not flip verdicts
    Dedup.appendVideoFramesToSimIndex(corpusSigs, name)
    assert(screen() == Set(300L, 400L),
      s"replayed append flipped a verdict: ${screen()}")
    // retirement removes video 2's whole frame footprint: its
    // re-encode now lands; 5's remux still screens
    Dedup.retireFromSimIndex(Seq(Tuple1(2L)).toDF("doc_id"), "doc_id", name)
    assert(screen() == Set(102L, 300L, 400L),
      s"retirement incomplete: ${screen()}")
    // restart: openSimIndex re-registers the optional video tables
    val s2s = restartedSession()
    try {
      assert(!s2s.catalog.tableExists(s"${name}_vchunks"))
      Dedup.openSimIndex(s2s, name)
      assert(s2s.catalog.tableExists(s"${name}_vchunks") &&
        s2s.catalog.tableExists(s"${name}_vframes"))
      val replayRows = {
        import s2s.implicits._
        Seq(Multimodal.MediaRow(500L, "video",
          Multimodal.remuxedPngVideoPayload(5L))).toDS()
      }
      val keptR = Dedup.screenVideosAgainstSimIndex(
        Multimodal.videoFrameDHashSigs(s2s, replayRows), name)
        .select("doc_id").distinct().count()
      assert(keptR == 0L, "re-opened video side must still screen")
    } finally restoreSession()
  }

  test("dedupReport: hand-built pairs yield the exact histogram; accounting identities hold") {
    import spark.implicits._
    // clusters: {1,2,3} (transitive via 1-2, 2-3), {4,5}; singletons 6,7
    val universe = (1L to 7L).map(i => (i, s"t$i")).toDF("doc_id", "txt")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.dedupReport(universe, "doc_id", pairs)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      3L -> (1L, 3L, 2L),
      2L -> (1L, 2L, 1L),
      1L -> (2L, 2L, 0L)), s"got $got")
    // identities: sum n_docs == |universe|, sum n_dropped == what
    // keep-one deletes
    assert(got.values.map(_._2).sum == 7L)
    val dropped = universe.count() -
      Dedup.dropNearDuplicates(universe, "doc_id", pairs).count()
    assert(got.values.map(_._3).sum == dropped)
    // empty pair set: one singleton row covering everything
    val none = Dedup.dedupReport(universe, "doc_id",
      pairs.filter(org.apache.spark.sql.functions.lit(false))).collect()
    assert(none.length == 1 &&
      none.head.getLong(0) == 1L && none.head.getLong(1) == 7L)
  }

  test("sim index rebuild resets the optional video-frame side (no stale evidence, no leftover-location crash)") {
    import spark.implicits._
    import graft.operators.Multimodal
    val name = "t_sim_vrebuild"
    Dedup.buildSimIndex(Seq((1L, 7L)).toDF("doc_id", "sim"),
      name, maxDist = 2, numBuckets = 2)
    val corpus = Seq(Multimodal.MediaRow(2L, "video",
      Multimodal.pngVideoPayload(2L))).toDS()
    Dedup.appendVideoFramesToSimIndex(
      Multimodal.videoFrameDHashSigs(spark, corpus), name)
    val remux = Multimodal.videoFrameDHashSigs(spark,
      Seq(Multimodal.MediaRow(102L, "video",
        Multimodal.remuxedPngVideoPayload(2L))).toDS())
      .localCheckpoint(true)
    assert(Dedup.screenVideosAgainstSimIndex(remux, name)
      .select("doc_id").distinct().count() == 0L)
    // REBUILD under the same name: the frame side must reset — a
    // lazy-created append table survives every overwrite path, so
    // without the explicit drop the rebuilt index would screen
    // against the DEAD index's evidence (and a fresh session would
    // crash on the leftover directory instead)
    Dedup.buildSimIndex(Seq((1L, 7L)).toDF("doc_id", "sim"),
      name, maxDist = 2, numBuckets = 2)
    assert(!spark.catalog.tableExists(s"${name}_vchunks"),
      "rebuild must drop the stale frame side")
    assert(Dedup.screenVideosAgainstSimIndex(remux, name)
      .select("doc_id").distinct().count() == 1L,
      "a rebuilt index must not screen against dead evidence")
    // and the lazy create works again on the cleared location
    Dedup.appendVideoFramesToSimIndex(
      Multimodal.videoFrameDHashSigs(spark, corpus), name)
    assert(Dedup.screenVideosAgainstSimIndex(remux, name)
      .select("doc_id").distinct().count() == 0L)
  }

  test("video screen: a crash between the append's two writes (chunks landed, frame counts missing) degrades to pass-everything, and the next append heals it") {
    import spark.implicits._
    import graft.operators.Multimodal
    val name = "t_sim_vcrash"
    Dedup.buildSimIndex(Seq((1L, 7L)).toDF("doc_id", "sim"),
      name, maxDist = 2, numBuckets = 2)
    val corpus = Seq(Multimodal.MediaRow(2L, "video",
      Multimodal.pngVideoPayload(2L))).toDS()
    val corpusSigs = Multimodal.videoFrameDHashSigs(spark, corpus)
      .localCheckpoint(true)
    Dedup.appendVideoFramesToSimIndex(corpusSigs, name)
    val remux = Multimodal.videoFrameDHashSigs(spark,
      Seq(Multimodal.MediaRow(102L, "video",
        Multimodal.remuxedPngVideoPayload(2L))).toDS())
      .localCheckpoint(true)
    assert(Dedup.screenVideosAgainstSimIndex(remux, name)
      .select("doc_id").distinct().count() == 0L)
    // simulate the crash window: _vchunks persisted, _vframes not —
    // the screen must degrade to pass-everything (recoverable
    // duplicates), NOT throw on the missing frame-count side and
    // wedge every later replay
    spark.sql(s"DROP TABLE ${name}_vframes")
    assert(Dedup.screenVideosAgainstSimIndex(remux, name)
      .select("doc_id").distinct().count() > 0L,
      "partial index state must pass-everything, not screen or throw")
    // the replayed append recreates the frame side; screening resumes
    Dedup.appendVideoFramesToSimIndex(corpusSigs, name)
    assert(Dedup.screenVideosAgainstSimIndex(remux, name)
      .select("doc_id").distinct().count() == 0L,
      "replayed append must heal the partial state")
  }

  test("video composite key: negative doc_id raises instead of silently mis-keying the persisted index") {
    import spark.implicits._
    val name = "t_sim_vneg"
    Dedup.buildSimIndex(Seq((1L, 7L)).toDF("doc_id", "sim"),
      name, maxDist = 2, numBuckets = 2)
    val bad = Seq((-2L, 0, 7L)).toDF("doc_id", "frame_idx", "sim")
    val e = intercept[Exception] {
      Dedup.appendVideoFramesToSimIndex(bad, name)
    }
    assert(e.getMessage.contains("negative doc_id"), e.getMessage)
  }

  test("sim index retirement: the retired doc's whole screening footprint vanishes") {
    import spark.implicits._
    val name = "t_sim_retire"
    def flip(s: Long, bits: Int*): Long = bits.foldLeft(s)((a, b) => a ^ (1L << b))
    val s1 = 0x0123456789ABCDEFL
    val s2 = 0x7EDCBA9876543210L
    Dedup.buildSimIndex(Seq((1L, s1), (2L, s2)).toDF("doc_id", "sim"),
      name, maxDist = 2, numBuckets = 2)
    def kept(rows: Seq[(Long, Long)]): Set[Long] =
      Dedup.screenAgainstSimIndex(rows.toDF("doc_id", "sim"), name)
        .collect().map(_.getLong(0)).toSet
    assert(kept(Seq((10L, s1), (11L, flip(s1, 3)))).isEmpty)
    Dedup.retireFromSimIndex(Seq(Tuple1(1L)).toDF("doc_id"), "doc_id", name)
    // exact AND near copies of the retired sig now land; doc 2's
    // footprint is untouched
    assert(kept(Seq((10L, s1), (11L, flip(s1, 3)))) == Set(10L, 11L))
    assert(kept(Seq((12L, flip(s2, 5)))).isEmpty,
      "retirement must not touch other docs' chunks")
  }

  test("index survives a restart: openDedupIndex re-registers; screen, append, compact still work") {
    import spark.implicits._
    val name = "t_idx_restart"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated corpus content about spark planning details today ok")
    ).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus, "doc_id", "text", name, numBuckets = 2)
    val probe = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "fresh never before seen material all new tokens here now")
    ).toDF("doc_id", "text")
    val before = Dedup.dedupAgainstIndex(probe, "doc_id", "text", name)
      .collect().map(_.getLong(0)).toSet
    assert(before == Set(11L))

    val s2 = restartedSession()
    try {
      assert(!s2.catalog.tableExists(s"${name}_bands"),
        "restart simulation failed: catalog still knows the index")
      Dedup.openDedupIndex(s2, name)
      import s2.implicits.{localSeqToDatasetHolder => h2}
      val probe2 = h2(Seq(
        (10L, "the quick brown fox jumps over the lazy dog tonight"),
        (11L, "fresh never before seen material all new tokens here now")))
        .toDF("doc_id", "text")
      val after = Dedup.dedupAgainstIndex(probe2, "doc_id", "text", name)
        .collect().map(_.getLong(0)).toSet
      assert(after == before, s"re-opened screen diverged: $after vs $before")
      // the re-opened index is fully live: append survivors, compact
      // (the swap must handle the now-external live tables), screen
      Dedup.appendToDedupIndex(probe2.filter(col("doc_id") === 11L),
        "doc_id", "text", name)
      Dedup.compactDedupIndex(s2, name)
      val probe3 = h2(Seq(
        (20L, "fresh never before seen material all new tokens here now"),
        (21L, "still more genuinely novel content sails right through here")))
        .toDF("doc_id", "text")
      val kept3 = Dedup.dedupAgainstIndex(probe3, "doc_id", "text", name)
        .collect().map(_.getLong(0)).toSet
      assert(kept3 == Set(21L), s"post-restart append+compact broke: $kept3")
    } finally restoreSession()
  }

  test("index retirement: near-dup evidence removed; content hashes per flag; survives restart") {
    import spark.implicits._
    val name = "t_idx_retire"
    val kept = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated corpus content about spark planning details today ok")
    )
    Dedup.buildDedupIndex(kept.toDF("doc_id", "text"), "doc_id", "text",
      name, numBuckets = 2)
    def screen(rows: Seq[(Long, String)]): Set[Long] =
      Dedup.dedupAgainstIndex(rows.toDF("doc_id", "text"),
        "doc_id", "text", name).collect().map(_.getLong(0)).toSet
    val near = (50L, "the quick brown fox jumps over the lazy dog right now")
    val exact = (51L, kept.head._2)
    // both suppressed while doc 1 is indexed
    assert(screen(Seq(near, exact)).isEmpty)

    // retire doc 1 WITHOUT content-hash removal: near-dup evidence
    // (bands + shingle set) is gone, so the near copy lands; the
    // byte-identical copy still screens on the retained content hash
    Dedup.retireFromDedupIndex(Seq(kept.head).toDF("doc_id", "text"),
      "doc_id", "text", name)
    assert(screen(Seq(near)) == Set(50L),
      "retired doc's near-dup evidence must be gone")
    assert(screen(Seq(exact)).isEmpty,
      "content hash must be RETAINED without the flag")
    // doc 2's rows are untouched
    assert(screen(Seq((60L,
      "completely unrelated corpus content about spark planning details right here ok"))).isEmpty)

    // retire WITH dropContentHashes: identical content ingests fresh
    Dedup.retireFromDedupIndex(Seq(kept.head).toDF("doc_id", "text"),
      "doc_id", "text", name, dropContentHashes = true)
    assert(screen(Seq(exact)) == Set(51L),
      "dropped content hash must re-admit identical content")

    // the rewrite rides the compact swap: a fresh session re-opens
    // the retired index and sees the same screens
    val s2 = restartedSession()
    try {
      Dedup.openDedupIndex(s2, name)
      import s2.implicits.{localSeqToDatasetHolder => h2}
      val again = Dedup.dedupAgainstIndex(
        h2(Seq(near, exact)).toDF("doc_id", "text"),
        "doc_id", "text", name).collect().map(_.getLong(0)).toSet
      assert(again == Set(near._1, exact._1),
        s"retirement did not survive the restart: $again")
    } finally restoreSession()
  }

  test("compaction crash inside the drop→rename window recovers across a restart") {
    import spark.implicits._
    val name = "t_idx_crash"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated corpus content about spark planning details today ok")
    ).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus, "doc_id", "text", name, numBuckets = 2)
    val probe = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "fresh never before seen material all new tokens here now")
    ).toDF("doc_id", "text")
    val expected = Dedup.dedupAgainstIndex(probe, "doc_id", "text", name)
      .collect().map(_.getLong(0)).toSet

    val bands = s"${name}_bands"
    // CROSS-RESTART crash state: live directory gone, staging
    // directory complete, durable marker present — and the catalog
    // empty, because the process died. Fabricate it at the filesystem
    // level, then re-open in a fresh session.
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(wh, bands)
    val stage = new org.apache.hadoop.fs.Path(wh, s"${bands}__compact_tmp")
    val marker = new org.apache.hadoop.fs.Path(wh, s"${bands}__swap_pending")
    val s2 = restartedSession()
    try {
      fs.rename(live, stage)
      fs.create(marker, true).close()
      Dedup.openDedupIndex(s2, name) // finishes the swap, re-registers
      assert(!fs.exists(marker), "marker must be cleared after recovery")
      assert(fs.exists(live) && !fs.exists(stage),
        "staging directory must have become the live directory")
      import s2.implicits.{localSeqToDatasetHolder => h2}
      val probe2 = h2(Seq(
        (10L, "the quick brown fox jumps over the lazy dog tonight"),
        (11L, "fresh never before seen material all new tokens here now")))
        .toDF("doc_id", "text")
      val after = Dedup.dedupAgainstIndex(probe2, "doc_id", "text", name)
        .collect().map(_.getLong(0)).toSet
      assert(after == expected, s"cross-restart recovery broke: $after")
    } finally restoreSession()
  }

  // ------------------------------------------- index stats (r15)

  test("dedupIndexStats: hand counts on a tiny index; append moves the report") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),      // exact dup of 0
      (2L, "epsilon zeta eta theta iota")
    ).toDF("doc_id", "text")
    val name = "t_idx_stats"
    Dedup.buildDedupIndex(corpus, "doc_id", "text", name,
      shingleK = 3, numPerms = 32, bands = 16, md5Sig = true)
    val r = Dedup.dedupIndexStats(spark, name).head()
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_content_hashes") == 2L, "exact dups collapse in _ch")
    assert(r.getAs[Long]("n_band_rows") == 3L * 16)
    // docs 0 and 1 share every band (identical sigs); doc 2 shares
    // none of theirs unless a band collides — distinct bands is
    // between 16 (total collapse) and 32 (no cross-doc collision)
    val nb = r.getAs[Long]("n_distinct_bands")
    assert(nb >= 16L && nb <= 32L, s"n_distinct_bands=$nb")
    assert(r.getAs[Long]("max_band_occ") >= 2L, "dup pair shares bands")
    // append one novel doc: rows grow by one doc's worth
    Dedup.appendToDedupIndex(
      Seq((3L, "totally new words appear here now")).toDF("doc_id", "text"),
      "doc_id", "text", name)
    val r2 = Dedup.dedupIndexStats(spark, name).head()
    assert(r2.getAs[Long]("n_docs") == 4L)
    assert(r2.getAs[Long]("n_band_rows") == 4L * 16)
    assert(r2.getAs[Long]("n_content_hashes") == 3L)
  }

  test("simIndexStats and urlIndexStats: exact arithmetic on tiny indexes") {
    import spark.implicits._
    val sigs = Seq((0L, 0L), (1L, 0L), (2L, -1L))
      .toDF("doc_id", "sim")
    Dedup.buildSimIndex(sigs, "t_sim_stats", maxDist = 2)
    val s = Dedup.simIndexStats(spark, "t_sim_stats").head()
    assert(s.getAs[Long]("n_sigs") == 3L)
    assert(s.getAs[Long]("n_chunk_rows") == 9L)
    // sigs 0 and 0 share all 3 chunk values; -1 shares none → 6
    assert(s.getAs[Long]("n_distinct_chunks") == 6L)
    assert(s.getAs[Long]("max_chunk_occ") == 2L)

    val docs = Seq(
      (0L, "https://a.example.com/x?utm_source=f"),
      (1L, "https://A.EXAMPLE.com/x"),          // canon-equal to 0
      (2L, "https://b.example.com/y")
    ).toDF("doc_id", "url")
    Dedup.buildUrlIndex(docs, "url", "t_url_stats")
    val u = Dedup.urlIndexStats(spark, "t_url_stats").head()
    assert(u.getAs[Long]("n_urls") == 2L)
  }

  // ------------------------------------------------ lineDedup (r15)

  private def lineRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Int]("n_lines"), r.getAs[Int]("n_removed"),
        r.getAs[String]("clean_text")))).toMap

  test("lineDedup: min-(doc,pos) keeper, cross-doc and keeper-doc repeats cut, case-fold match") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta\nCOMMON Line\ngamma delta\ncommon line"),
      (1L, "other text\ncommon line\nmore stuff\ncommon   line"),
      (2L, "unique only\nlines here")
    ).toDF("doc_id", "text")
    val res = lineRows(Dedup.lineDedup(docs, "doc_id", "text"))
    // keeper: doc 0 pos 2 (min doc, min pos). doc 0's pos-4 repeat
    // and doc 1's pos-2 repeat are cut; doc 1 pos 4 differs (inner
    // whitespace is part of the normalized line) and survives.
    assert(res(0L) == ((4, 1, "alpha beta\nCOMMON Line\ngamma delta")))
    assert(res(1L) == ((4, 1, "other text\nmore stuff\ncommon   line")))
    assert(res(2L) == ((2, 0, "unique only\nlines here")))
  }

  test("lineDedup: intra-doc-only repeats survive; minDocs raises the bar") {
    import spark.implicits._
    val docs = Seq(
      (0L, "repeat me\nrepeat me\nrepeat me"), // one doc only
      (1L, "shared line\nown text"),
      (2L, "shared line\nother text")
    ).toDF("doc_id", "text")
    val res2 = lineRows(Dedup.lineDedup(docs, "doc_id", "text"))
    assert(res2(0L)._2 == 0, "intra-doc repeats are not corpus dups")
    assert(res2(1L) == ((2, 0, "shared line\nown text")))
    assert(res2(2L) == ((2, 1, "other text")))
    // minDocs = 3: the 2-doc shared line now survives everywhere
    val res3 = lineRows(Dedup.lineDedup(docs, "doc_id", "text", minDocs = 3))
    assert(res3(2L) == ((2, 0, "shared line\nother text")))
  }

  test("lineDedup: blank lines are structural — never deduped, always kept; trailing newline round-trips") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a\n\nb\n"),   // blank line + trailing newline
      (1L, "c\n\nd\n")    // same blank pattern, different content
    ).toDF("doc_id", "text")
    val res = lineRows(Dedup.lineDedup(docs, "doc_id", "text"))
    assert(res(0L) == ((4, 0, "a\n\nb\n")))
    assert(res(1L) == ((4, 0, "c\n\nd\n")))
  }

  test("lineDedup: a fully-removed document becomes the empty string") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the banner"),
      (1L, "the banner"),
      (2L, "the banner\nthe banner")
    ).toDF("doc_id", "text")
    val res = lineRows(Dedup.lineDedup(docs, "doc_id", "text"))
    assert(res(0L) == ((1, 0, "the banner")), "keeper holds")
    assert(res(1L) == ((1, 1, "")))
    assert(res(2L) == ((2, 2, "")))
  }

  test("gramSupportHistogram: distinct-doc support, in-doc repeats count once, short-doc whole gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),     // 2-grams: "a b", "b c"
      (2L, "a b d"),     // "a b", "b d"
      (3L, "a b c"),     // "a b", "b c"
      (4L, "x"),         // shorter than k → holds NO gram (wordGrams)
      (5L, "x"),
      (6L, "a b a b")    // "a b" twice in-doc → counts ONCE; "b a" once
    ).toDF("doc_id", "text")
    val res = Dedup.gramSupportHistogram(docs, "doc_id", "text",
      k = 2, minDocs = 2)
      .collect().map(r => r.getAs[Long]("n_docs") ->
        r.getAs[Long]("n_grams")).toMap
    // support: "a b" → 4 docs, "b c" → 2; "b d"/"b a" singletons are
    // below minDocs; the short docs contribute nothing
    assert(res == Map(2L -> 1L, 4L -> 1L), s"got $res")
    // raising minDocs drops the 2-doc grams
    val hi = Dedup.gramSupportHistogram(docs, "doc_id", "text",
      k = 2, minDocs = 3)
      .collect().map(r => r.getAs[Long]("n_docs") ->
        r.getAs[Long]("n_grams")).toMap
    assert(hi == Map(4L -> 1L), s"got $hi")
    intercept[IllegalArgumentException] {
      Dedup.gramSupportHistogram(docs, "doc_id", "text", k = 2,
        minDocs = 1)
    }
  }

  test("candidateJaccardHistogram: exact dups in bin 20, a near pair at its integer bin, disjoint docs uncandidated") {
    import spark.implicits._
    val tenA = (1 to 10).map(i => s"alpha$i").mkString(" ")
    val tenB = (1 to 10).map(i => s"beta$i").mkString(" ")
    // twelve words; the twin changes ONLY the last word, so of the 10
    // 3-shingles exactly one differs: |∩| = 9, |∪| = 11,
    // bin = (20·9) div 11 = 16
    val near1 = (1 to 12).map(i => s"gamma$i").mkString(" ")
    val near2 = (1 to 11).map(i => s"gamma$i").mkString(" ") + " delta"
    val docs = Seq(
      (1L, tenA), (2L, tenA),           // exact pair → j = 1 → bin 20
      (3L, tenB), (4L, tenB), (5L, tenB), // 3 exact pairs → bin 20
      (6L, near1), (7L, near2),         // near pair → bin 16
      (8L, (1 to 10).map(i => s"omega$i").mkString(" ")) // disjoint
    ).toDF("doc_id", "text")
    val res = Dedup.candidateJaccardHistogram(docs, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("bin") ->
        (r.getAs[Double]("j_lo"), r.getAs[Long]("n_pairs"))).toMap
    // word-disjoint docs share no shingle, hence (for these fixed
    // strings) no band — the only candidates are the planted pairs
    assert(res == Map(20L -> ((1.0, 4L)), 16L -> ((0.8, 1L))),
      s"got $res")
  }
}
