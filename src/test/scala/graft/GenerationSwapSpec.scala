package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Retrieval}
import graft.sources.Bucketing

/** Scan-time snapshot isolation for maintained tables: a reader that
  * resolved a table BEFORE a maintenance swap must not die mid-scan
  * when the swap replaces the files. Every replace through
  * writeBucketed/writeTable/compactBucketed is a generation-LOCATION
  * swap (build the next generation in its own directory, one catalog
  * alter re-points the entry's location, schema and bucket spec, the
  * replaced generation survives one further rewrite), so the table
  * name is never absent and no live scan's files are deleted under
  * it, whatever the new shape. These specs drive the contract through
  * the real index-family verbs — serve loops racing compactions. */
class GenerationSwapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"doc number $i")).toDF("k", "s")
  }

  private def otherSession(): org.apache.spark.sql.SparkSession = {
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        spark.conf.get("spark.sql.warehouse.dir"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def use(s: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.SparkSession.setDefaultSession(s)
    org.apache.spark.sql.SparkSession.setActiveSession(s)
  }

  private def assertNoShuffle(df: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val s = df.sparkSession
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.groupBy(col("k")).agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"generation swap lost the bucket layout:\n$plan")
    } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("writeBucketed replace: pinned reader keeps its snapshot, name never absent") {
    Bucketing.writeBucketed(docs(8), "gs_tbl", "k", 2)
    val pinned = spark.table("gs_tbl")
    assert(pinned.count() == 8)
    // same shape → generation swap, NOT drop-and-recreate
    Bucketing.writeBucketed(docs(3), "gs_tbl", "k", 2)
    assert(spark.table("gs_tbl").count() == 3,
      "new readers must see the new generation")
    assert(pinned.count() == 8,
      "a reader pinned before the swap must keep its snapshot")
    // the ONE-rewrite grace: after a second swap the pinned
    // generation retires (the disclosed reader contract)
    Bucketing.writeBucketed(docs(5), "gs_tbl", "k", 2)
    assert(spark.table("gs_tbl").count() == 5)
    // bucket layout survives the swaps: per-key agg plans no shuffle
    import org.apache.spark.sql.functions._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = spark.table("gs_tbl").groupBy(col("k"))
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"generation swap lost the bucket layout:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // a re-SHAPE (different schema) still replaces wholesale
    import spark.implicits._
    Bucketing.writeBucketed(
      (1 to 4).map(i => (i.toLong, i * 2L)).toDF("k", "v2"), "gs_tbl",
      "k", 2)
    assert(spark.table("gs_tbl").columns.toSeq == Seq("k", "v2"))
    Bucketing.dropTableAndDir(spark, "gs_tbl")
  }

  test("serve-during-compact: dedup screens stay green while the index swaps generations") {
    import spark.implicits._
    val name = "gs_dedup"
    val corpus = (1 to 40).map(i =>
      (i.toLong, s"corpus document number $i carrying words alpha beta gamma $i"))
      .toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus, "doc_id", "text", name, numBuckets = 2)
    // fragment the index so compaction has real work
    (41 to 44).foreach { i =>
      Dedup.appendToDedupIndex(
        Seq((i.toLong, s"appended document number $i with fresh words delta $i"))
          .toDF("doc_id", "text"), "doc_id", "text", name)
    }
    val probe = Seq(
      (100L, "corpus document number 7 carrying words alpha beta gamma 7"), // dup
      (101L, "entirely novel probe content nothing like the corpus rows")
    ).toDF("doc_id", "text")
    val expected = Set(101L)
    assert(Dedup.dedupAgainstIndex(probe, "doc_id", "text", name)
      .collect().map(_.getLong(0)).toSet == expected)

    // readers hammer the serve path WHILE the compaction swaps all
    // three family tables — with the generation swap no read can see
    // a missing table or a deleted file
    @volatile var readerErr: Option[Throwable] = None
    @volatile var stop = false
    var greens = 0
    val reader = new Thread(() => {
      try {
        while (!stop) {
          val got = Dedup.dedupAgainstIndex(probe, "doc_id", "text", name)
            .collect().map(_.getLong(0)).toSet
          assert(got == expected, s"mid-compact verdict drifted: $got")
          greens += 1
        }
      } catch { case e: Throwable => readerErr = Some(e) }
    })
    reader.start()
    try Dedup.compactDedupIndex(spark, name)
    finally { stop = true; reader.join(60000) }
    assert(readerErr.isEmpty, s"reader failed during compact: $readerErr")
    assert(greens >= 1, "the reader loop never completed a read")
    // and the post-compact state still serves
    assert(Dedup.dedupAgainstIndex(probe, "doc_id", "text", name)
      .collect().map(_.getLong(0)).toSet == expected)
  }

  test("serve-during-compact: BM25 serves stay green while the index swaps generations") {
    import spark.implicits._
    val name = "gs_bm25"
    val corpus = (1 to 30).map(i =>
      (i.toLong, s"document $i about spark planning and shuffles topic$i"))
      .toDF("doc_id", "text")
    Retrieval.buildBm25Index(corpus, "doc_id", "text", name, numBuckets = 2)
    (31 to 33).foreach { i =>
      Retrieval.appendToBm25Index(
        Seq((i.toLong, s"appended document $i mentioning catalyst optimizer"))
          .toDF("doc_id", "text"), "doc_id", "text", name)
    }
    def serve(): Seq[Long] =
      Retrieval.bm25TopKAgainstIndex(spark, name,
        Seq("catalyst", "optimizer"), topK = 3)
        .collect().map(_.getLong(0)).toSeq
    val expected = serve()
    assert(expected.nonEmpty)

    @volatile var readerErr: Option[Throwable] = None
    @volatile var stop = false
    var greens = 0
    val reader = new Thread(() => {
      try {
        while (!stop) {
          val got = serve()
          assert(got == expected, s"mid-compact ranking drifted: $got")
          greens += 1
        }
      } catch { case e: Throwable => readerErr = Some(e) }
    })
    reader.start()
    try Retrieval.compactBm25Index(spark, name)
    finally { stop = true; reader.join(60000) }
    assert(readerErr.isEmpty, s"reader failed during compact: $readerErr")
    assert(greens >= 1)
    assert(serve() == expected)
  }

  test("appends after a generation swap land in the LIVE generation") {
    import spark.implicits._
    Bucketing.writeBucketed(docs(4), "gs_app", "k", 2)
    Bucketing.compactBucketed()(spark, "gs_app", "k", 2) // → gen 1
    Bucketing.appendBucketed(
      (5 to 6).map(i => (i.toLong, s"doc number $i")).toDF("k", "s"),
      "gs_app", "k", 2)
    assert(spark.table("gs_app").count() == 6,
      "append after swap lost rows")
    // and the next compact folds the appended files into gen 2
    Bucketing.compactBucketed()(spark, "gs_app", "k", 2)
    assert(spark.table("gs_app").count() == 6)
    Bucketing.dropTableAndDir(spark, "gs_app")
  }

  test("restart after generation swaps: registerExisting resolves the pointer") {
    Bucketing.writeBucketed(docs(6), "gs_restart", "k", 2)
    Bucketing.compactBucketed()(spark, "gs_restart", "k", 2) // → gen 1
    val s2 = {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
          spark.conf.get("spark.sql.warehouse.dir"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }
    try {
      assert(!s2.catalog.tableExists("gs_restart"),
        "restart simulation failed")
      assert(Bucketing.registerExisting(s2, "gs_restart", Some(("k", 2))),
        "registerExisting must resolve the generation pointer")
      assert(s2.table("gs_restart").count() == 6)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("a cross-session reader re-opening after swaps re-aligns to the live generation") {
    Bucketing.writeBucketed(docs(5), "gs_xs", "k", 2)
    Bucketing.compactBucketed()(spark, "gs_xs", "k", 2) // gen 1
    val s2 = {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
          spark.conf.get("spark.sql.warehouse.dir"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }
    try {
      // the OTHER session opens the table (resolves gen 1)…
      assert(Bucketing.registerExisting(s2, "gs_xs", Some(("k", 2))))
      assert(s2.table("gs_xs").count() == 5)
      // …the writer session swaps TWICE, retiring gen 1 under it
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      Bucketing.compactBucketed()(spark, "gs_xs", "k", 2) // gen 2
      Bucketing.compactBucketed()(spark, "gs_xs", "k", 2) // gen 3; 1 dies
      // …and the reader's RE-OPEN realigns to the live generation
      // instead of scanning the deleted one forever
      org.apache.spark.sql.SparkSession.setDefaultSession(s2)
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      assert(Bucketing.registerExisting(s2, "gs_xs", Some(("k", 2))))
      assert(s2.table("gs_xs").count() == 5,
        "cross-session re-open must re-point to the live generation")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("a pinned reader survives re-shapes by writeBucketed and compactBucketed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Bucketing.writeBucketed(docs(8), "gs_shape", "k", 2)
    val pinned = spark.table("gs_shape")
    assert(pinned.count() == 8)
    // re-shape through writeBucketed: a new column AND a new bucket count
    Bucketing.writeBucketed(
      (1 to 4).map(i => (i.toLong, s"doc number $i", i * 2L))
        .toDF("k", "s", "v"), "gs_shape", "k", 4)
    assert(pinned.count() == 8,
      "a reader pinned before a re-shape must keep its snapshot")
    assert(pinned.columns.toSeq == Seq("k", "s"))
    val reshaped = spark.table("gs_shape")
    assert(reshaped.columns.toSeq == Seq("k", "s", "v"))
    assert(reshaped.count() == 4)
    assertNoShuffle(reshaped)
    // re-shape through a schema-changing compaction transform
    Bucketing.compactBucketed(
      _.withColumn("w", col("v") + 1L).drop("s"))(spark, "gs_shape", "k", 4)
    assert(reshaped.count() == 4,
      "a reader pinned before a re-shaping compaction must keep its snapshot")
    val compacted = spark.table("gs_shape")
    assert(compacted.columns.toSeq == Seq("k", "v", "w"))
    assert(compacted.agg(sum(col("w"))).head().getLong(0) == 24L)
    assertNoShuffle(compacted)
    // neither re-shape staged anything beside the generations
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val staged = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(wh).map(_.getPath.getName)
      .filter(n => n.startsWith("gs_shape") &&
        (n.contains("__swap_pending") || n.contains("__compact_tmp")))
    assert(staged.isEmpty, s"staged swap leftovers: ${staged.toSeq}")
    Bucketing.dropTableAndDir(spark, "gs_shape")
  }

  test("a cross-session re-open after re-shapes reads the new schema and rows") {
    import spark.implicits._
    Bucketing.writeBucketed(docs(5), "gs_xshape", "k", 2)
    Bucketing.compactBucketed()(spark, "gs_xshape", "k", 2) // gen 1
    val s2 = otherSession()
    try {
      // the OTHER session opens the table (resolves gen 1)…
      assert(Bucketing.registerExisting(s2, "gs_xshape", Some(("k", 2))))
      assert(s2.table("gs_xshape").count() == 5)
      // …the writer session re-shapes it TWICE, retiring gen 1
      use(spark)
      Bucketing.writeBucketed(
        (1 to 3).map(i => (i.toLong, i * 2L)).toDF("k", "v2"),
        "gs_xshape", "k", 4)
      Bucketing.writeBucketed(
        (1 to 3).map(i => (i.toLong, i * 2L, i * 3L)).toDF("k", "v2", "v3"),
        "gs_xshape", "k", 4)
      // …and the reader's re-open picks up the writer's shape and rows
      use(s2)
      assert(Bucketing.registerExisting(s2, "gs_xshape", Some(("k", 4))))
      val t = s2.table("gs_xshape")
      assert(t.columns.toSeq == Seq("k", "v2", "v3"))
      assert(t.orderBy("k").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq((1L, 2L, 3L), (2L, 4L, 6L), (3L, 6L, 9L)))
      assertNoShuffle(t)
    } finally use(spark)
    Bucketing.dropTableAndDir(spark, "gs_xshape")
  }

  test("a crash between pointer create and sweep still resolves to max") {
    Bucketing.writeBucketed(docs(3), "gs_ptrs", "k", 2)
    Bucketing.compactBucketed()(spark, "gs_ptrs", "k", 2) // gen 1
    Bucketing.compactBucketed()(spark, "gs_ptrs", "k", 2) // gen 2
    // simulate the crash window: the OLD pointer resurfaces beside
    // the new one (a flip died between create and sweep)
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val straggler = new org.apache.hadoop.fs.Path(wh, "gs_ptrs__gptr_1")
    fs.create(straggler, true).close()
    assert(Bucketing.generationOf(spark, "gs_ptrs") == 2L,
      "two pointers on disk must resolve to the max generation")
    // the next swap sweeps the straggler
    Bucketing.compactBucketed()(spark, "gs_ptrs", "k", 2) // gen 3
    assert(!fs.exists(straggler))
    assert(Bucketing.generationOf(spark, "gs_ptrs") == 3L)
    assert(spark.table("gs_ptrs").count() == 3)
    Bucketing.dropTableAndDir(spark, "gs_ptrs")
  }

  test("readGeneration: grace generation readable, retired fails loudly naming live") {
    Bucketing.writeBucketed(docs(4), "gs_tt", "k", 2) // gen 0 (legacy dir)
    Bucketing.writeBucketed(docs(6), "gs_tt", "k", 2) // swap → gen 1
    assert(spark.table("gs_tt").count() == 6)
    assert(Bucketing.readGeneration(spark, "gs_tt", 1L).count() == 6)
    // the replaced generation has its one-rewrite grace: auditable
    assert(Bucketing.readGeneration(spark, "gs_tt", 0L).count() == 4,
      "the grace generation must stay time-travel readable")
    Bucketing.writeBucketed(docs(8), "gs_tt", "k", 2) // gen 2; gen 0 dies
    val e = intercept[IllegalArgumentException] {
      Bucketing.readGeneration(spark, "gs_tt", 0L)
    }
    assert(e.getMessage.contains("retired") &&
      e.getMessage.contains("live generation is 2"), e.getMessage)
    assert(Bucketing.readGeneration(spark, "gs_tt", 1L).count() == 6)
    Bucketing.dropTableAndDir(spark, "gs_tt")
  }

  test("vacuumGenerations reclaims crashed-swap orphans, live and grace intact") {
    Bucketing.writeBucketed(docs(5), "gs_vac", "k", 2)
    Bucketing.compactBucketed()(spark, "gs_vac", "k", 2) // gen 1 live
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    // plant the crash shape nothing else reclaims: a COMPLETE build
    // above the live pointer (death between stage-write and flip, at
    // a number a later swap will not reuse)
    docs(2).write.mode("overwrite").parquet(s"$wh/gs_vac__g3")
    assert(Bucketing.vacuumGenerations(spark, "gs_vac") == 1)
    assert(!new java.io.File(s"$wh/gs_vac__g3").exists())
    assert(spark.table("gs_vac").count() == 5, "live table must be intact")
    assert(Bucketing.readGeneration(spark, "gs_vac", 0L).count() == 5,
      "the grace generation must survive a vacuum")
    // below-floor leftover (a crashed retire's stranded gap): gen 1
    // live after two more swaps → plant __g1-era junk and re-vacuum
    Bucketing.compactBucketed()(spark, "gs_vac", "k", 2) // gen 2
    Bucketing.compactBucketed()(spark, "gs_vac", "k", 2) // gen 3
    docs(1).write.mode("overwrite").parquet(s"$wh/gs_vac__g1")
    assert(Bucketing.vacuumGenerations(spark, "gs_vac") == 1)
    assert(spark.table("gs_vac").count() == 5)
    assert(Bucketing.vacuumGenerations(spark, "gs_vac") == 0)
    Bucketing.dropTableAndDir(spark, "gs_vac")
  }

  test("a crash between pointer flip and ALTER never retires the served generation") {
    Bucketing.writeBucketed(docs(4), "gs_ptr", "k", 2)
    Bucketing.compactBucketed()(spark, "gs_ptr", "k", 2) // gen 1 (catalog + pointer)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate the crash: generation 2 fully built, pointer flipped
    // to 2, death BEFORE the ALTER — catalog still serves gen 1
    docs(9).write.mode("overwrite").format("parquet")
      .bucketBy(2, "k").sortBy("k")
      .option("path", s"$wh/gs_ptr__g2").saveAsTable("gs_ptr__crashstage")
    spark.sql("DROP TABLE `gs_ptr__crashstage`") // external: files stand
    fs.create(new org.apache.hadoop.fs.Path(wh, "gs_ptr__gptr_2"),
      false).close()
    fs.delete(new org.apache.hadoop.fs.Path(wh, "gs_ptr__gptr_1"), false)
    val pinned = spark.table("gs_ptr") // resolves gen 1, the served one
    assert(pinned.count() == 4)
    // the next swap derives its retire floor from the CATALOG's
    // pre-ALTER location (gen 1), not the pointer (2): gen 1 keeps
    // its promised grace, only gen 0 retires
    Bucketing.compactBucketed()(spark, "gs_ptr", "k", 2) // builds gen 3
    assert(spark.table("gs_ptr").count() == 4)
    assert(pinned.count() == 4,
      "the served generation lost its one-rewrite grace to a " +
        "pointer-derived retire floor")
    Bucketing.dropTableAndDir(spark, "gs_ptr")
  }

  test("a crash between stage-write and pointer flip is cleaned by the next swap") {
    Bucketing.writeBucketed(docs(7), "gs_crash", "k", 2)
    Bucketing.compactBucketed()(spark, "gs_crash", "k", 2) // live gen 1
    // fabricate the crash state: generation-2 staging fully written
    // and registered, pointer NOT flipped (death mid-verb)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    docs(2).write.mode("overwrite").format("parquet")
      .bucketBy(2, "k").sortBy("k")
      .option("path", s"$wh/gs_crash__g2")
      .saveAsTable("gs_crash__gen_stage")
    // live readers are untouched by the leftover…
    assert(spark.table("gs_crash").count() == 7)
    // …and the next swap cleans it and lands its own generation 2
    Bucketing.compactBucketed()(spark, "gs_crash", "k", 2)
    assert(spark.table("gs_crash").count() == 7)
    assert(!spark.catalog.tableExists("gs_crash__gen_stage"))
  }
}
