package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, IndexFamily, Retrieval, Similarity}
import graft.sources.Bucketing

/** Conformance of every [[IndexFamily]] descriptor with what its
  * family actually writes: after build, append, compact and retire,
  * the warehouse holds exactly the declared tables, and a fresh
  * session's open serves the same stats. Then the staged-promotion
  * crash windows, once per promotion verb: a stage left before the
  * marker is dropped by the next verb, one left after the marker
  * rolls forward across a reopen. */
class IndexFamilySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def inFreshSession[T](body: SparkSession => T): T = {
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        old.conf.get("spark.sql.warehouse.dir"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try body(s2)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  /** The table names behind `<name>_*` warehouse directories
    * (generation directories `<table>__g<N>` fold into their table). */
  private def tableDirs(name: String): Set[String] = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(wh).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"${name.toLowerCase}_"))
      .map(_.replaceAll("__g\\d+$", "")).toSet
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toSet

  private def texts(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong,
      s"document $i talks about topic ${i % 5} and subject ${i % 3} here"))
      .toDF("doc_id", "text")
  }

  private def sigs(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, i.toLong * 0x9E3779B97F4A7C15L)).toDF("doc_id", "sim")
  }

  private def vecs(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong,
      Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "qv")
  }

  private def urls(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"https://example.com/page$i?utm_source=feed"))
      .toDF("doc_id", "url")
  }

  /** One family's lifecycle drive: build, append, retire, stats. */
  private case class Drive(fam: IndexFamily, name: String,
      build: () => Unit, append: () => Unit, retire: () => Unit,
      stats: SparkSession => DataFrame)

  private def drives: Seq[Drive] = Seq(
    Drive(IndexFamily.dedup, "ifs_dedup",
      () => Dedup.buildDedupIndex(texts(1 to 12), "doc_id", "text",
        "ifs_dedup", numPerms = 16, bands = 8, md5Sig = true,
        numBuckets = 2),
      () => Dedup.appendToDedupIndex(texts(13 to 16), "doc_id", "text",
        "ifs_dedup"),
      () => Dedup.retireFromDedupIndex(texts(2 to 3), "doc_id", "text",
        "ifs_dedup"),
      s => Dedup.dedupIndexStats(s, "ifs_dedup")),
    Drive(IndexFamily.sim, "ifs_sim",
      () => Dedup.buildSimIndex(sigs(1 to 12), "ifs_sim", maxDist = 2,
        numBuckets = 2),
      () => {
        Dedup.appendToSimIndex(sigs(13 to 16), "ifs_sim")
        // the optional video-frame side
        Dedup.appendVideoFramesToSimIndex(sigs(1 to 3)
          .select(col("doc_id"), explode(sequence(lit(0), lit(1)))
            .as("frame_idx"), col("sim")), "ifs_sim")
      },
      () => Dedup.retireFromSimIndex(sigs(2 to 3), "doc_id", "ifs_sim"),
      s => Dedup.simIndexStats(s, "ifs_sim")),
    Drive(IndexFamily.url, "ifs_url",
      () => Dedup.buildUrlIndex(urls(1 to 12), "url", "ifs_url",
        numBuckets = 2),
      () => Dedup.appendToUrlIndex(urls(13 to 16), "url", "ifs_url"),
      () => Dedup.retireFromUrlIndex(urls(2 to 3), "url", "ifs_url"),
      s => Dedup.urlIndexStats(s, "ifs_url")),
    Drive(IndexFamily.ann, "ifs_ann",
      () => Similarity.buildAnnIndex(vecs(1 to 24), "vec_id", "qv",
        "ifs_ann", nlist = 4, m = 2, ksub = 4, md5Sig = true,
        numBuckets = 2),
      () => Similarity.appendToAnnIndex(vecs(25 to 30), "vec_id", "qv",
        "ifs_ann"),
      () => Similarity.retireFromAnnIndex(vecs(2 to 3), "vec_id",
        "ifs_ann"),
      s => Similarity.annIndexStats(s, "ifs_ann")),
    Drive(IndexFamily.bm25, "ifs_bm25",
      () => Retrieval.buildBm25Index(texts(1 to 12), "doc_id", "text",
        "ifs_bm25", numBuckets = 2),
      () => Retrieval.appendToBm25Index(texts(13 to 16), "doc_id", "text",
        "ifs_bm25"),
      () => Retrieval.retireFromBm25Index(texts(2 to 3), "doc_id",
        "ifs_bm25"),
      s => Retrieval.bm25IndexStats(s, "ifs_bm25")))

  test("every family writes exactly its declared tables and reopens to the same stats") {
    assert(drives.map(_.fam.label).sorted ==
      IndexFamily.all.map(_.label).sorted, "a family has no drive here")
    drives.foreach { d =>
      d.build()
      d.append()
      IndexFamily.compact(spark, d.fam, d.name)
      d.retire()
      val declared = (d.fam.tables.map(t => s"${d.name}${t.suffix}") :+
        s"${d.name}_meta").toSet
      assert(tableDirs(d.name) == declared,
        s"${d.fam.label}: warehouse tables differ from the descriptor")
      val before = rowsOf(d.stats(spark))
      inFreshSession { s2 =>
        assert(!s2.catalog.tableExists(s"${d.name}_meta"))
        IndexFamily.open(s2, d.fam, d.name)
        assert(rowsOf(d.stats(s2)) == before,
          s"${d.fam.label}: stats changed across the reopen")
      }
    }
  }

  /** One promotion verb: `build(name, alt)` builds an index (`alt`
    * at another geometry), `run` is the verb, `stages` what it
    * stages, `check(s, name, src)` that `name` now holds what the
    * `src` index's tables were staged from. */
  private case class Promo(verb: String, fam: IndexFamily,
      build: (String, Boolean) => Unit, run: String => Unit,
      stages: Seq[String], check: (SparkSession, String, String) => Unit)

  private def same(suffixes: String*)(s: SparkSession, name: String,
      src: String): Unit = suffixes.foreach { x =>
    assert(rowsOf(s.table(s"$name$x")) == rowsOf(s.table(s"$src$x")),
      s"$name$x was not promoted from the stage")
  }

  private def promos: Seq[Promo] = Seq(
    Promo("reband", IndexFamily.dedup,
      (n, alt) => Dedup.buildDedupIndex(texts(1 to 12), "doc_id", "text",
        n, numPerms = 32, bands = if (alt) 8 else 16, md5Sig = true,
        numBuckets = 2),
      n => Dedup.rebandDedupIndex(spark, n, bands = 4, numPerms = 32),
      Seq("_bands", "_meta"), same("_bands", "_meta")),
    Promo("rechunk", IndexFamily.sim,
      (n, alt) => Dedup.buildSimIndex(sigs(1 to 12), n,
        maxDist = if (alt) 1 else 3, numBuckets = 2),
      n => Dedup.rechunkSimIndex(spark, n, maxDist = 2),
      Seq("_chunks", "_meta"), same("_chunks", "_meta")),
    Promo("rebalance", IndexFamily.ann,
      (n, alt) => Similarity.buildAnnIndex(vecs(1 to 24), "vec_id", "qv",
        n, nlist = 4, m = 2, ksub = 4, md5Sig = !alt, numBuckets = 2),
      n => Similarity.rebalanceAnnIndex(spark, n),
      Seq("_cents"), (s, n, src) => {
        same("_cents")(s, n, src)
        // cells reassigned against the staged centroids, codes kept
        assert(rowsOf(s.table(s"${n}_vectors").select("vec_id", "cell_id"))
          == rowsOf(s.table(s"${src}_vectors").select("vec_id", "cell_id")))
      }),
    Promo("rebuild", IndexFamily.ann,
      (n, alt) => Similarity.buildAnnIndex(vecs(1 to 24), "vec_id", "qv",
        n, nlist = 4, m = 2, ksub = 4, md5Sig = !alt, numBuckets = 2),
      n => Similarity.rebuildAnnIndex(spark, n),
      // cells AND codes re-derive against the staged centroids and book
      Seq("_cents", "_book"), same("_cents", "_book", "_vectors")))

  /** Copies the `src` index's tables into `name`'s stages. */
  private def stageFrom(p: Promo, name: String, src: String): Unit =
    p.stages.foreach { x =>
      val stage = IndexFamily.stageName(name, x)
      if (x == "_meta") Bucketing.writeTable(spark.table(s"$src$x"), stage)
      else p.fam.table(x).bucketCol match {
        case Some(c) => Bucketing.writeBucketed(spark.table(s"$src$x"),
          stage, c, 2)
        case None => Bucketing.writeTable(spark.table(s"$src$x"), stage)
      }
    }

  private def stagesGone(s: SparkSession, p: Promo, name: String): Unit = {
    p.stages.foreach(x => assert(
      !s.catalog.tableExists(IndexFamily.stageName(name, x))))
    assert(!tableDirs(name).exists(_.endsWith("_stage")),
      s"stage directories left behind: ${tableDirs(name)}")
    assert(!Bucketing.markerExists(s, p.fam.promotion.get.marker(name)))
  }

  test("staged promotions: a pre-marker stage drops; a post-marker stage rolls forward across a reopen") {
    promos.foreach { p =>
      val name = s"ifs_${p.verb}"
      val src = s"ifs_${p.verb}_src"
      p.build(name, false)
      p.build(src, true)
      // window 1: death before the marker — the verb's entry recovery
      // drops the leftover stage, then the verb itself runs
      stageFrom(p, name, src)
      p.run(name)
      stagesGone(spark, p, name)
      val first = s"$name${p.stages.head}"
      assert(rowsOf(spark.table(first)) !=
        rowsOf(spark.table(s"$src${p.stages.head}")),
        s"$first took the pre-marker stage")
      // window 2: death after the marker — the staged state is the
      // truth; a fresh session's open() promotes it
      p.build(name, false)
      stageFrom(p, name, src)
      Bucketing.createMarker(spark, p.fam.promotion.get.marker(name))
      inFreshSession { s2 =>
        IndexFamily.open(s2, p.fam, name)
        IndexFamily.open(s2, p.fam, src)
        stagesGone(s2, p, name)
        p.check(s2, name, src)
      }
    }
  }
}
