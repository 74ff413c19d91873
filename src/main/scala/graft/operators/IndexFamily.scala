package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._

import graft.sources.Bucketing

/** One persistent index family, declared once. The five families
  * (dedup, sim, url, ann, bm25) differ in their math and in WHICH
  * tables they keep, not in how those tables are opened, compacted,
  * retired, merged, reconciled or promoted from a stage: those verbs
  * are written once, in the companion, over a descriptor, and each
  * family's public verb delegates to them. A descriptor is a static
  * value — suffixes, column names, message text and hooks into the
  * family's code — holding no DataFrame and no session.
  *
  * @param label     the `family` column of [[OpsCard]]
  * @param title     the infix of the verb names (`compactDedupIndex`),
  *                  which are also the lease labels
  * @param noun      how [[IndexFamily.open]]'s messages name an index
  * @param tables    every table besides `<name>_meta`
  * @param itemTable the table with a row per indexed item ([[OpsCard]]'s
  *                  `n_items`, the merge disjointness gate, reconcile's
  *                  seen ids), keyed by `itemId`; `itemsRepeat` when it
  *                  holds several rows per item (sim's chunks)
  * @param disjointShards merge refuses sources sharing an item (false
  *                  for the url frontier, a set)
  * @param geometry  the `_meta` columns merge sources must agree on;
  *                  `geometryRefusal` renders the disagreement and
  *                  `overlapHarm` what a shared item would do
  * @param promotion the staged multi-table promotion, if any
  * @param readMeta  the `_meta` row, validated and completed with
  *                  format defaults
  * @param landedKey the landed frame's comparable key ([[OpsCard]])
  * @param mergeGate a further merge precondition (ann: one codebook)
  * @param mergeMeta writes the merged `_meta` (default: the first
  *                  source's row at the target's bucket count)
  * @param retirePost runs after retire's anti-joins (bm25: stats repair)
  */
final case class IndexFamily(
    label: String,
    title: String,
    noun: String,
    tables: Seq[IndexFamily.Table],
    itemTable: String,
    itemId: String,
    itemsRepeat: Boolean = false,
    disjointShards: Boolean = true,
    geometry: Seq[String] = Nil,
    geometryRefusal: String => String = g =>
      s"sources carry different geometries $g",
    overlapHarm: String = "",
    promotion: Option[IndexFamily.Promotion] = None,
    readMeta: (SparkSession, String) => Row =
      (spark, name) => spark.table(s"${name}_meta").head(),
    landedKey: String => Column = col,
    mergeGate: (SparkSession, Seq[String]) => Unit = (_, _) => (),
    mergeMeta: Option[(SparkSession, String, Row, Int) => Unit] = None,
    retirePost: (SparkSession, String) => Unit = (_, _) => ()) {

  def table(suffix: String): IndexFamily.Table = tables.find(_.suffix == suffix)
    .getOrElse(throw new IllegalArgumentException(s"$label has no $suffix"))
}

object IndexFamily {

  /** How compaction and merge combine one table's rows. */
  sealed trait Combine
  object Combine {
    /** Kept as they are; a merge unions the sources. */
    case object AsIs extends Combine
    /** A set: compaction re-distincts; a merge unions, repartitions on
      * the bucket column and distincts. The repartition is
      * load-bearing: a union of co-bucketed scans reports a
      * partitioning that satisfies the distinct's clustering while
      * the same row lives in one partition PER CHILD, so without a
      * real exchange a row survives once per source. */
    case object Distinct extends Combine
    /** Trained state all sources share: a merge copies the first's. */
    case object First extends Combine
    /** A merge runs the family's function over the sources and their
      * `_meta` rows; compaction keeps the rows as they are. */
    final case class Merge(
        rows: (SparkSession, Seq[String], Seq[Row]) => DataFrame)
      extends Combine
  }

  /** Table `<name><suffix>`. `itemKey` is the SQL expression mapping a
    * row to the item id retire removes (None: not keyed by item). An
    * optional table may be absent, and every verb then skips it. */
  final case class Table(suffix: String, bucketCol: Option[String],
      required: Boolean = true, combine: Combine = Combine.AsIs,
      itemKey: Option[String] = None)

  /** A staged promotion: its verbs stage `stages` (suffixes, `_meta`
    * when the geometry changes) under `<name><suffix>_stage`, and
    * `rewrite` rewrites a live table from the stages while they
    * promote. `__<verb>_pending` is its durable marker. */
  final case class Promotion(verb: String, stages: Seq[String],
      rewrite: Option[(SparkSession, String, Int) => Unit] = None) {
    def marker(name: String): String = s"${name.toLowerCase}__${verb}_pending"
    def pending: String = s"${verb}_pending"
  }

  private def bucketed(suffix: String, bucketCol: String,
      required: Boolean = true, combine: Combine = Combine.AsIs,
      itemKey: String = null): Table =
    Table(suffix, Some(bucketCol), required, combine, Option(itemKey))

  val dedup: IndexFamily = IndexFamily("dedup", "Dedup", "dedup index",
    Seq(bucketed("_bands", "band_hash", itemKey = "doc_id"),
      bucketed("_docs", "doc_id", itemKey = "doc_id"),
      // ownerless content hashes: retireFromDedupIndex's own branch
      bucketed("_ch", "ch", combine = Combine.Distinct)),
    "_docs", "doc_id",
    geometry = Seq("shingle_k", "num_perms", "bands", "md5_sig", "tokenizer"),
    geometryRefusal = g => "sources carry different sketch geometries / " +
      s"families $g — merged band rows would mean two things; reband or " +
      "rebuild the odd one out first",
    overlapHarm = "their band rows would double",
    promotion = Some(Promotion("reband", Seq("_bands", "_meta"))),
    readMeta = (spark, name) => Dedup.dedupMetaRow(spark, name))

  val sim: IndexFamily = IndexFamily("sim", "Sim", "signature index",
    Seq(bucketed("_chunks", "chunk_hash", itemKey = "doc_id"),
      // the video-frame side, created by the first frame append
      bucketed("_vchunks", "chunk_hash", required = false,
        combine = Combine.Distinct,
        itemKey = s"doc_id div ${Multimodal.MaxSampledFrames}"),
      bucketed("_vframes", "vid", required = false,
        combine = Combine.Distinct, itemKey = "vid")),
    "_chunks", "doc_id", itemsRepeat = true,
    geometry = Seq("max_dist"),
    geometryRefusal = g => "sources carry different hamming geometries " +
      s"(maxDist $g) — merged chunk rows would mean two things; " +
      "rechunkSimIndex the odd one out first",
    overlapHarm = "their chunk rows would double",
    promotion = Some(Promotion("rechunk", Seq("_chunks", "_vchunks", "_meta"))))

  val url: IndexFamily = IndexFamily("url", "Url", "url index",
    Seq(bucketed("_url", "uh", combine = Combine.Distinct, itemKey = "uh")),
    "_url", "uh", disjointShards = false,
    landedKey = c => md5(TextAnalysis.canonicalizeUrl(col(c))))

  val ann: IndexFamily = IndexFamily("ann", "Ann", "ANN index",
    Seq(bucketed("_vectors", "cell_id", itemKey = "vec_id"),
      Table("_cents", None, combine = Combine.First),
      Table("_book", None, combine = Combine.First)),
    "_vectors", "vec_id",
    geometry = Seq("nlist", "m", "ksub", "md5_sig"),
    geometryRefusal = g => s"sources carry different geometries $g — " +
      "rebuild one index over the union instead",
    overlapHarm = "the merged index would serve them twice",
    // a rebalance stages `_cents`, a rebuild `_cents` and `_book`
    promotion = Some(Promotion("rebalance", Seq("_cents", "_book"),
      Some((spark, name, nb) => Similarity.reassignVectors(spark, name, nb)))),
    mergeGate = (spark, sources) => Similarity.requireOneCodebook(spark, sources))

  val bm25: IndexFamily = IndexFamily("bm25", "Bm25", "BM25 index",
    Seq(bucketed("_postings", "term", itemKey = "doc_id"),
      bucketed("_df", "term", combine = Combine.Merge((spark, sources, _) =>
        Retrieval.summedDf(sources.map(s => spark.table(s"${s}_df"))))),
      bucketed("_docs", "doc_id", itemKey = "doc_id"),
      // indexes persisted before the doc-keyed projection lack it
      bucketed("_postings_bydoc", "doc_id", required = false,
        combine = Combine.Merge(Retrieval.mergedByDoc), itemKey = "doc_id")),
    "_docs", "doc_id",
    geometry = Seq("tokenizer"),
    geometryRefusal = g => "sources were built with different tokenizer " +
      s"families $g — merged postings would mean two things; rebuild the " +
      "odd one out first",
    overlapHarm = "merging would double their postings",
    readMeta = (spark, name) => Retrieval.bm25MetaRow(spark, name),
    mergeMeta = Some((spark, target, first, nb) => Retrieval.writeBm25Meta(
      spark, target, nb, first.getAs[String]("tokenizer"))),
    retirePost = (spark, name) => Retrieval.repairBm25Stats(spark, name))

  /** The registry, in [[OpsCard]]'s documented order. */
  val all: Seq[IndexFamily] = Seq(dedup, ann, sim, bm25, url)

  def named(label: String, op: String): IndexFamily =
    all.find(_.label == label).getOrElse(throw new IllegalArgumentException(
      s"$op: unknown family '$label' — one of ${all.map(_.label).mkString("/")}"))

  private[graft] def stageName(name: String, suffix: String): String =
    s"$name${suffix}_stage"

  private[operators] def numBuckets(spark: SparkSession, fam: IndexFamily,
      name: String): Int =
    fam.readMeta(spark, name).getAs[Int]("num_buckets")

  /** Writes a one-row `_meta` (or `_meta` stage) table. */
  private[operators] def writeMeta(spark: SparkSession, row: Row,
      table: String): Unit =
    Bucketing.writeTable(spark.createDataFrame(
      java.util.Collections.singletonList(row), row.schema), table)

  private def specOf(fam: IndexFamily, suffix: String,
      nb: Int): Option[(String, Int)] =
    if (suffix == "_meta") None else fam.table(suffix).bucketCol.map((_, nb))

  private def write(df: DataFrame, table: String,
      spec: Option[(String, Int)]): Unit = spec match {
    case Some((c, n)) => Bucketing.writeBucketed(df, table, c, n)
    case None => Bucketing.writeTable(df, table)
  }

  /** `<name><suffix>` if it exists: known to the catalog, or registered
    * now from its warehouse directory. */
  private[operators] def tableIfPresent(spark: SparkSession,
      fam: IndexFamily, name: String, suffix: String,
      nb: Int): Option[DataFrame] = {
    val t = s"$name$suffix"
    if (spark.catalog.tableExists(t) ||
        Bucketing.registerExisting(spark, t, specOf(fam, suffix, nb)))
      Some(spark.table(t))
    else None
  }

  private def present(spark: SparkSession, fam: IndexFamily, name: String,
      t: Table, nb: Int): Boolean =
    t.required || tableIfPresent(spark, fam, name, t.suffix, nb).isDefined

  private def registerTables(spark: SparkSession, fam: IndexFamily,
      name: String, nb: Int, strict: Boolean): Unit =
    fam.tables.foreach { t =>
      val found = Bucketing.registerExisting(spark, s"$name${t.suffix}",
        t.bucketCol.map((_, nb)))
      if (strict && t.required) require(found,
        s"${fam.noun} '$name' is missing its $name${t.suffix} table")
    }

  /** Re-opens an index in a FRESH session: the default in-memory
    * catalog forgets every managed table on restart, but the bucketed
    * parquet directories persist. An interrupted promotion finishes
    * first; then `_meta` (whose `num_buckets` gives the bucket specs)
    * and every declared table re-register, each at its live
    * generation ([[graft.sources.Bucketing.registerExisting]]).
    * Idempotent. */
  def open(spark: SparkSession, fam: IndexFamily, name: String): Unit = {
    finishPromotion(spark, fam, name)
    require(Bucketing.registerExisting(spark, s"${name}_meta", None),
      s"no persisted ${fam.noun} named '$name' in the warehouse")
    registerTables(spark, fam, name, numBuckets(spark, fam, name),
      strict = true)
  }

  /** Rewrites every bucketed table (the optional ones when present) to
    * one file per bucket through its [[Combine]] — each append adds a
    * file per bucket, so after K appends every scan opens K× the
    * files. Each rewrite is a [[graft.sources.Bucketing
    * .compactBucketed]] generation swap: the live table re-points only
    * after its compacted copy fully exists, and a reader pinned
    * before keeps scanning the old files. */
  def compact(spark: SparkSession, fam: IndexFamily, name: String): Unit =
    Bucketing.withIndexLease(spark, name, s"compact${fam.title}Index") {
      val nb = numBuckets(spark, fam, name)
      for (t <- fam.tables; c <- t.bucketCol if present(spark, fam, name, t, nb))
        Bucketing.compactBucketed(kept(t))(spark, s"$name${t.suffix}", c, nb)
    }

  private def kept(t: Table): DataFrame => DataFrame =
    if (t.combine == Combine.Distinct) _.distinct() else identity

  /** Takedown: each item-keyed table loses the rows whose key is among
    * `key`'s non-null values over `frame` — one anti-join against the
    * broadcast distinct ids (takedown-sized, not corpus-sized) in
    * [[compact]]'s crash-safe rewrite — then the family's post-step
    * runs. */
  def retire(fam: IndexFamily, frame: DataFrame, key: Column,
      name: String): Unit = {
    val spark = frame.sparkSession
    Bucketing.withIndexLease(spark, name, s"retireFrom${fam.title}Index") {
      val nb = numBuckets(spark, fam, name)
      val ids = frame.filter(key.isNotNull).select(key.as("__rid")).distinct()
      for (t <- fam.tables; k <- t.itemKey; c <- t.bucketCol
           if present(spark, fam, name, t, nb))
        Bucketing.compactBucketed(df => kept(t)(df.join(broadcast(ids),
          expr(k) === col("__rid"), "left_anti")))(
          spark, s"$name${t.suffix}", c, nb)
      fam.retirePost(spark, name)
    }
  }

  /** Heals an index against the LANDED items: landed rows whose `key`
    * has no item row (a crashed fold-in, an index enabled after the
    * corpus landed, an abandoned stream's last window) are pinned,
    * counted and handed to the family's `append`. Returns the count;
    * a second run finds nothing. The pin is an eager localCheckpoint
    * because the append mutates the table the anti-join reads. COST:
    * one landed scan against the narrow item-id projection — a repair
    * verb, not a per-batch one. */
  def reconcile(fam: IndexFamily, landed: DataFrame, key: Column,
      name: String)(append: DataFrame => Unit): Long = {
    val spark = landed.sparkSession
    Bucketing.withIndexLease(spark, name, s"reconcile${fam.title}Index") {
      val ids = spark.table(s"$name${fam.itemTable}").select(col(fam.itemId))
      val seen = (if (fam.itemsRepeat) ids.distinct() else ids)
        .select(col(fam.itemId).as("__seen_id"))
      val missing = landed.join(seen, key === col("__seen_id"), "left_anti")
        .localCheckpoint(true)
      val n = missing.count()
      if (n > 0) append(missing)
      n
    }
  }

  /** Merges index SHARDS into `target` — the Lucene segment-merge
    * shape: build small indexes near the data, consolidate off the hot
    * path. Holds EVERY participant's lease, so no append can land
    * between the read passes, and reads inside them (a check before
    * could be overtaken by a concurrent rebuild): the sources' `_meta`
    * rows, concurrently, must agree on the geometry; the family's gate
    * must pass; for id-disjoint families one count-vs-distinct
    * aggregate over the unioned, repartitioned item ids (the
    * [[Combine.Distinct]] guard) must find no shared id. The declared
    * tables then write concurrently through their [[Combine]]s — an
    * optional one from the sources that carry it, the target's own
    * dropped first — and `_meta` LAST, the table existence readers key
    * on. A crash leaves a partial TARGET only; a re-run overwrites it. */
  def merge(spark: SparkSession, fam: IndexFamily, target: String,
      sources: Seq[String], numBuckets: Int): Unit = {
    val verb = s"merge${fam.title}Indexes"
    require(sources.size >= 2,
      s"$verb: need at least 2 sources, got ${sources.size}")
    Bucketing.withIndexLeases(spark, target +: sources, verb) {
      val metas = new Array[Row](sources.size)
      graft.Par.run(sources.indices.map(i => () =>
        metas(i) = fam.readMeta(spark, sources(i))): _*)
      val geoms = metas.toSeq.map(m => fam.geometry.map(m.getAs[Any](_)))
        .distinct
      require(geoms.size == 1, s"$verb: " + fam.geometryRefusal(geoms.map(g =>
        if (g.size == 1) g.head.toString else g.mkString("(", ",", ")"))
        .mkString("[", ", ", "]")))
      fam.mergeGate(spark, sources)
      if (fam.disjointShards) {
        val ids = sources.map { s =>
          val d = spark.table(s"$s${fam.itemTable}").select(col(fam.itemId))
          if (fam.itemsRepeat) d.distinct() else d
        }.reduce(_ unionByName _)
        val chk = ids.repartition(col(fam.itemId)).agg(count(lit(1)),
          countDistinct(col(fam.itemId))).head()
        require(chk.getLong(0) == chk.getLong(1),
          s"$verb: sources share ${chk.getLong(0) - chk.getLong(1)} " +
            s"${fam.itemId.stripSuffix("_id")} id(s) — ${fam.overlapHarm}; " +
            "retire the duplicates from one source first")
      }
      fam.tables.filter(t => !t.required &&
        !t.combine.isInstanceOf[Combine.Merge]).foreach(t =>
        Bucketing.dropTableAndDir(spark, s"$target${t.suffix}"))
      val merged = fam.tables.flatMap(t =>
        mergedRows(spark, fam, t, sources, metas).map(t -> _))
      graft.Par.run(merged.map { case (t, df) => () =>
        write(df, s"$target${t.suffix}", t.bucketCol.map((_, numBuckets)))
      }: _*)
      val first = metas.head
      fam.mergeMeta match {
        case Some(f) => f(spark, target, first, numBuckets)
        case None => writeMeta(spark, new GenericRowWithSchema(
          first.schema.fieldNames.map(f =>
            if (f == "num_buckets") numBuckets else first.getAs[Any](f)),
          first.schema), s"${target}_meta")
      }
    }
  }

  private def mergedRows(spark: SparkSession, fam: IndexFamily, t: Table,
      sources: Seq[String], metas: Seq[Row]): Option[DataFrame] =
    t.combine match {
      case Combine.Merge(rows) => Some(rows(spark, sources, metas))
      case Combine.First => Some(spark.table(s"${sources.head}${t.suffix}"))
      case c =>
        sources.zip(metas).collect {
          case (s, m) if present(spark, fam, s, t, m.getAs[Int]("num_buckets")) =>
            spark.table(s"$s${t.suffix}")
        }.reduceOption(_ unionByName _).map(all =>
          if (c != Combine.Distinct) all
          else all.repartition(col(t.bucketCol.get)).distinct())
    }

  /** The staged-promotion protocol, for verbs that must change several
    * tables TOGETHER (band rows are only interpretable through their
    * `_meta`, cell assignments only through their centroids). Under
    * the lease: an interrupted promotion finishes first; `stage` writes
    * the new state under the `<name><suffix>_stage` tables; a durable
    * filesystem marker declares the stage the truth; every present
    * stage promotes over its live table (plain overwrites, re-runnable
    * from the intact stage) alongside the family's rewrite; the marker,
    * then the stages, clear. A death before the marker leaves the live
    * index untouched, and the next verb or [[open]] drops the stage; a
    * death after it rolls FORWARD there, so a fresh session is one
    * open() from consistent. */
  def promote(spark: SparkSession, fam: IndexFamily, name: String,
      verb: String)(stage: => Unit): Unit =
    Bucketing.withIndexLease(spark, name, verb) {
      val p = fam.promotion.get
      finishPromotion(spark, fam, name)
      stage
      Bucketing.createMarker(spark, p.marker(name))
      completePromotion(spark, fam, p, name)
    }

  private def finishPromotion(spark: SparkSession, fam: IndexFamily,
      name: String): Unit = fam.promotion.foreach { p =>
    if (Bucketing.markerExists(spark, p.marker(name)))
      completePromotion(spark, fam, p, name)
    else p.stages.foreach(s => Bucketing.dropTableAndDir(spark, stageName(name, s)))
  }

  /** The roll-forward tail (the marker is set, so the stages are
    * complete): every output is a pure function of the stages, which
    * survive until everything has landed, so a death anywhere inside
    * re-runs safely. */
  private def completePromotion(spark: SparkSession, fam: IndexFamily,
      p: Promotion, name: String): Unit = {
    val metaStage = stageName(name, "_meta")
    val meta = if (p.stages.contains("_meta") &&
      Bucketing.registerExisting(spark, metaStage, None)) metaStage
      else s"${name}_meta"
    Bucketing.registerExisting(spark, s"${name}_meta", None)
    val nb = spark.table(meta).head().getAs[Int]("num_buckets")
    registerTables(spark, fam, name, nb, strict = false)
    val staged = p.stages.filter(s => Bucketing.registerExisting(spark,
      stageName(name, s), specOf(fam, s, nb)))
    graft.Par.run(staged.map(s => () => write(spark.table(stageName(name, s)),
      s"$name$s", specOf(fam, s, nb))) ++
      p.rewrite.map(f => () => f(spark, name, nb)): _*)
    Bucketing.deleteMarker(spark, p.marker(name))
    p.stages.foreach(s => Bucketing.dropTableAndDir(spark, stageName(name, s)))
  }
}
