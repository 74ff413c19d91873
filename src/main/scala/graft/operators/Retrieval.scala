package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions
import graft.sources.Bucketing

/** Ranked keyword retrieval over the document corpus — the curation
  * pipeline's "find everything about X" primitive (targeted corpus
  * exploration, retrieval-backed decontamination, eval-set mining).
  * The reference's query surface is equality/IN filters pushed to a
  * SQL engine (AthenaEventQuery.java:161-198); ranked retrieval is
  * the same "query the corpus declaratively" capability lifted to
  * relevance scoring, re-expressed as Spark aggregates.
  *
  * Everything is count arithmetic + ln, so the whole operator is
  * oracle-checked: DuckDB re-derives term frequencies, document
  * frequencies, idf and the rounded BM25 sum from raw text.
  */
object Retrieval {

  /** The two retrieval tokenizer FAMILIES. A tokenizer is index
    * state, not a per-call preference: postings built under one
    * family are unfindable under another (the normalized term
    * `spark` never matches the whitespace token `"spark."`), so the
    * family is recorded in the index `_meta` (the dedup index's
    * md5_sig precedent) and every serving verb refuses loudly on a
    * mismatch rather than silently scoring zero.
    *
    *   - `"ws"` — bare case-folded whitespace split ([[Dedup.tokens]]),
    *     the historical default; right for pre-tokenized or
    *     machine-generated corpora where punctuation IS signal.
    *   - `"norm"` — `"ws"` plus boundary normalization: leading and
    *     trailing non-alphanumeric runs are stripped from each token
    *     and emptied tokens drop, so `"(spark)."`, `"spark,"` and
    *     `spark` are ONE term — what a user querying real prose
    *     expects. INTRA-word punctuation is deliberately kept
    *     (`don't`, `3.2`, `state-of-the-art` stay single terms:
    *     stripping interior marks would glue or split real
    *     vocabulary both ways, and the boundary-only rule is the
    *     reversible one). The character class is ASCII `[a-z0-9]`
    *     after case-folding — a non-ASCII LETTER at a token boundary
    *     is stripped too, which is wrong for multilingual text and
    *     exactly why the family below exists.
    *   - `"uni"` — `"norm"` with the Unicode character classes
    *     `\p{L}\p{N}` in place of ASCII: `«über»` normalizes to
    *     `über`, not `ber`. Java regex and DuckDB's RE2 agree on
    *     these classes, so the family stays oracle-reproducible. */
  val TokenizerFamilies: Seq[String] = Dedup.TokenizerFamilies

  private def boundaryClass(family: String): String =
    Dedup.boundaryClass(family)

  /** The token array of `text` under a tokenizer family — ONE
    * definition (now housed in [[Dedup.tokensFor]], shared with the
    * dedup family's shingles) so a family can never mean two
    * things across surfaces. */
  def tokensFor(family: String, text: Column): Column =
    Dedup.tokensFor(family, text)

  /** Fail-loud guard every term-taking entry point runs: corpus
    * tokens are case-folded by both families, and under `norm` a
    * query term carrying boundary punctuation could never match a
    * stored term — both are caller bugs better surfaced than
    * silently scored as zero matches. */
  private def requireQueryTerms(op: String, tokenizer: String,
      terms: Seq[String]): Unit = {
    require(TokenizerFamilies.contains(tokenizer),
      s"$op: unknown tokenizer family '$tokenizer' — one of " +
        s"$TokenizerFamilies")
    terms.find(t => t != t.toLowerCase).foreach(t =>
      throw new IllegalArgumentException(
        s"$op: query term '$t' is not lowercase — corpus tokens are " +
          "case-folded; lowercase the query"))
    if (tokenizer == "norm" || tokenizer == "uni")
      terms.find(t => t != t.replaceAll(boundaryClass(tokenizer), ""))
        .foreach(t => throw new IllegalArgumentException(
          s"$op: query term '$t' carries boundary punctuation the " +
            s"'$tokenizer' tokenizer strips from the corpus — " +
            "normalize the query term"))
  }

  /** (num_buckets, tokenizer) from a BM25 index's `_meta`. An index
    * whose meta predates the tokenizer-family format can only have
    * been built with the then-unchanged whitespace tokenizer, so a
    * missing field reads as `ws` — the same migration treatment as
    * the dedup side's `indexMeta` (one rule for both families; a
    * forced rebuild here would be pure cost, not safety). */
  private def bm25Meta(spark: SparkSession,
      name: String): (Int, String) = {
    val row = bm25MetaRow(spark, name)
    (row.getAs[Int]("num_buckets"), row.getAs[String]("tokenizer"))
  }

  /** The `_meta` row with the format default filled in: the
    * descriptor's meta reader ([[IndexFamily.bm25]]). */
  private[operators] def bm25MetaRow(spark: SparkSession, name: String): Row = {
    val row = spark.table(s"${name}_meta").head()
    if (row.schema.fieldNames.contains("tokenizer")) row
    else new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      row.toSeq.toArray :+ "ws",
      row.schema.add("tokenizer", org.apache.spark.sql.types.StringType))
  }

  /** The serving-side half of the family contract: the caller says
    * which family its terms are in; the index says which family its
    * postings are in; a mismatch is a wrong-answer class (silent
    * zero-match), so it throws instead of returning. */
  private def requireFamily(op: String, name: String,
      indexFamily: String, queryFamily: String): Unit =
    require(indexFamily == queryFamily,
      s"$op: index '$name' was built with tokenizer family " +
        s"'$indexFamily' but the query terms are declared " +
        s"'$queryFamily' — matching across families silently finds " +
        "nothing; re-tokenize the query or rebuild the index")

  /** Okapi BM25 top-k (Robertson et al., TREC-3; the +1 idf form
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` so scores are always
    * positive):
    *
    *   score(d, Q) = Σ_{t ∈ Q} idf(t) · tf · (k1 + 1)
    *                          / (tf + k1 · (1 − b + b · dl/avgdl))
    *
    * Scale shape: the corpus is NEVER inverted wholesale — the
    * query-term `isin` filter sits directly on the exploded token
    * stream, map-side BELOW the first exchange, so only postings of
    * the |Q| query terms ever shuffle (at 100 TB that is the
    * difference between a full-corpus index build and a scan that
    * ships a few million narrow rows). The per-document length rides
    * the exploded rows (`dl` is carried through the explode and
    * folded with max()), so no corpus-sized doc-length join exists.
    * df/N/avgdl derive from the (doc, term) aggregate and one
    * one-row corpus aggregate (broadcast) — the d53 "c1 from c2"
    * discipline. The final top-k is `orderBy.limit`, which Spark
    * plans as TakeOrderedAndProject: per-partition heaps + one
    * driver merge of k rows, never a global sort.
    *
    * Returns (doc_id, n_terms, bm25), score rounded to 4 decimals
    * (§6 rule), ordered by (bm25 desc, doc_id) with doc_id as the
    * deterministic tiebreak at the cut. Documents matching no query
    * term score 0 and are absent. Null-id/text rows are dropped.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms,
      s"queryTerms must be distinct, got $queryTerms")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // a mixed-case (or, under norm, punctuation-carrying) query term
    // would silently score zero matches, so fail loud rather than
    // normalize (a caller passing 'Spark' should KNOW matching is
    // case-folded, not discover it from a quiet rescore)
    requireQueryTerms("bm25TopK", tokenizer, queryTerms)
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val toks = live.select(col(idCol).as("doc_id"),
      tokensFor(tokenizer, col(textCol)).as("tk"))
    // one-row corpus stats (N docs, total token mass), broadcast
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("tk")).cast("long")).as("sum_dl"))
    // postings of the query terms ONLY: the isin filter is a
    // codegen'd scan filter under the Generate, ahead of the
    // (doc_id, term) exchange
    val tf = toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // document frequencies from the (doc, term) aggregate — |Q|-sized
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    tf.join(broadcast(dfT), Seq("term"))
      .join(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(bm25Weight(k1, b)), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Per-query BM25 ranked lists — [[bm25TopK]] generalized to a
    * BATCH of queries (one row per query: id + terms array): the
    * lexical leg of hybrid retrieval, and the shape of
    * retrieval-backed eval-set mining (hundreds of benchmark
    * questions against the corpus in one pass).
    *
    * Scale shape — the [[bm25TopK]] discipline with the query table
    * as the front-door SMALL side (an eval set or probe batch: MBs
    * against a 100 TB corpus; the caller owns that contract, as in
    * [[Dedup.decontaminate]]'s holdout): the query table broadcasts
    * twice — its distinct terms as the left-semi screen under the
    * corpus Generate (only query-term postings ever shuffle), and
    * the (query, term) pairs to expand per-query scores after the
    * (doc, term) aggregate. Per-query top-k rides the bounded-k
    * [[graft.functions.VectorFunctions.topKByCos]] heap aggregate
    * (per-group state is k entries however many docs match), never
    * a corpus-wide rank window.
    *
    * Returns (query_id, rank, doc_id, bm25): rank 1-based by
    * (bm25 desc, doc_id), bm25 rounded to 4 decimals BEFORE ranking
    * (§6 — both engines rank identical doubles). `excludeSelf`
    * drops doc_id == query_id before ranking, for probe-by-example
    * batches drawn from the corpus itself (the dense leg's q != c
    * convention). Documents matching no term of a query are absent
    * from that query's list. */
  def bm25PerQueryRanks(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termsCol: String,
      topK: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false,
      tokenizer: String = "ws"): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    requireQueryTerms("bm25PerQueryRanks", tokenizer, Nil)
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val toks = live.select(col(idCol).as("doc_id"),
      tokensFor(tokenizer, col(textCol)).as("tk"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("tk")).cast("long")).as("sum_dl"))
    val qt = queries
      .filter(col(queryIdCol).isNotNull && col(termsCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        explode(col(termsCol)).as("term"))
      .distinct()
    val termSet = qt.select(col("term")).distinct()
    val tf = toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .join(broadcast(termSet), Seq("term"), "left_semi")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val perQuery = tf.join(broadcast(dfT), Seq("term"))
      .join(broadcast(stats))
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(bm25Weight(k1, b)), 4).as("bm25"))
    val screened =
      if (excludeSelf) perQuery.filter(col("doc_id") =!= col("query_id"))
      else perQuery
    screened.groupBy(col("query_id"))
      .agg(graft.functions.VectorFunctions.topKByCos(
        col("doc_id").cast("long"), col("bm25"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("doc_id"), col("col.cos").as("bm25"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    * of two ranked lists — the standard lexical+dense hybrid:
    * score(q, d) = Σ_list 1/(k0 + rank_list(q, d)), a list where d
    * is absent contributing 0. Rank-based fusion needs no score
    * calibration between legs (BM25 sums and cosines are not
    * comparable; their RANKS are), which is why RRF is the default
    * fusion in production retrieval stacks.
    *
    * Inputs carry (query_id, rank, doc_id); both lists are already
    * top-k-bounded per query, so the single full-outer
    * SHUFFLE_HASH equi-join on (query_id, doc_id) moves at most
    * k_A + k_B narrow rows per query, and the fused top-k rides the
    * bounded [[graft.functions.VectorFunctions.topKByCos]] heap.
    * Returns (query_id, rank, doc_id, rrf): rank by (rrf desc,
    * doc_id) over raw doubles (1/(k0+r) is the same IEEE value in
    * every engine — no rounding ambiguity), rrf rounded to 6
    * decimals for display AFTER ranking. */
  def rrfFuse(listA: DataFrame, listB: DataFrame, k0: Int = 60,
      topK: Int = 10): DataFrame = rrfFuseAll(Seq(listA, listB), k0, topK)

  /** [[rrfFuse]] generalized to N ranked systems — Cormack et al.'s
    * fusion is defined over any system count, and production stacks
    * routinely fuse three or more (lexical, dense, a static quality
    * or link-authority prior, a recency leg …). Each list carries
    * (query_id, rank, doc_id) and is top-k-bounded per query, so the
    * fold of full-outer SHUFFLE_HASH equi-joins moves at most Σ k_i
    * narrow rows per query; the rrf sum is a FIXED left-associated
    * expression over the lists in argument order — N inexact doubles
    * summed in one deterministic order, so both engines rank
    * identical values (a groupBy-sum over a union would add in
    * partition order, ULP-unstable at ties). Absent docs contribute
    * 0 per list; the fused top-k rides the bounded heap. Returns
    * (query_id, rank, doc_id, rrf), rrf rounded to 6 decimals AFTER
    * ranking. */
  def rrfFuseAll(lists: Seq[DataFrame], k0: Int = 60,
      topK: Int = 10): DataFrame = {
    require(lists.size >= 2, s"need >= 2 lists, got ${lists.size}")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val prepped = lists.zipWithIndex.map { case (l, i) =>
      l.select(col("query_id"), col("doc_id"), col("rank").as(s"__r$i"))
    }
    val joined = prepped.reduce((a, b) =>
      a.join(b.hint("SHUFFLE_HASH"), Seq("query_id", "doc_id"),
        "full_outer"))
    val rrf = lists.indices
      .map(i => coalesce(lit(1.0) / (lit(k0) + col(s"__r$i")), lit(0.0)))
      .reduce(_ + _)
    joined.select(col("query_id"), col("doc_id"), rrf.as("rrf"))
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorFunctions.topKByCos(
        col("doc_id").cast("long"), col("rrf"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("doc_id"),
        round(col("col.cos"), 6).as("rrf"))
  }

  /** The Okapi weight shared by every BM25 path — ONE expression
    * definition the fresh-scan operators ([[bm25TopK]],
    * [[bm25PerQueryRanks]]), the index-serving operators
    * ([[bm25TopKAgainstIndex]], [[bm25RanksAgainstIndex]]) and the
    * positional paths ([[scorePhrase]]) all CALL, so the paths
    * cannot drift arithmetically: the indexed path's whole
    * correctness claim is bit-equality of the rounded score, and
    * that only holds if every path evaluates the identical
    * expression tree over identical (tf, dl, df_t, n_docs, sum_dl)
    * longs — structural sharing, not textual duplication. */
  private def bm25Weight(k1: Double, b: Double): Column = {
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df_t").cast("double") + 0.5) /
        (col("df_t").cast("double") + 0.5))
    idf * (col("tf").cast("double") * (k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
  }

  /** Builds the PERSISTENT BM25 index — the lexical sibling of
    * [[graft.operators.Dedup.buildDedupIndex]] and
    * [[graft.operators.Similarity.buildAnnIndex]], closing the last
    * operator family that rescanned the corpus per query batch:
    * [[bm25TopK]]/[[bm25PerQueryRanks]] re-tokenize the corpus and
    * re-derive tf/df/avgdl for EVERY query batch — at 100 TB that is
    * a full corpus read per eval-set probe, the exact cost the D45
    * index-once pattern exists to kill. The index stores, once, the
    * three projections a BM25 score ever reads, as bucketed managed
    * tables:
    *
    *   - `<name>_postings` (term, doc_id, tf, dl), bucketed by term —
    *     the serving scan. A query batch's term list becomes an IN
    *     filter on the bucket column, so the scan prunes to the
    *     buckets holding query-term postings (SelectedBucketsCount in
    *     the plan) and reads none of the rest. dl rides denormalized
    *     on every posting (the fresh path carries it through the
    *     explode the same way) so serving needs no doc-length join;
    *   - `<name>_df` (term, df_t), bucketed by term — vocabulary-
    *     sized; the query-term slice broadcasts;
    *   - `<name>_docs` (doc_id, dl), bucketed by doc_id — per-doc
    *     lengths, the retire/append bookkeeping side (serving never
    *     reads it);
    *   - `<name>_meta` — one row (n_docs, sum_dl, num_buckets): the
    *     corpus stats every score shares, and the bucket count the
    *     maintenance verbs read back.
    *
    * Raw text never enters the index. The postings build is a pure
    * scan projection — per-doc (term, tf) entries come from the
    * [[graft.functions.SketchFunctions.termCounts]] kernel (tf is a
    * per-document statistic; the explode→groupBy formulation pays a
    * corpus-wide exchange whose merge step is a no-op), so the only
    * redistribution in the whole build is the bucketed writes'
    * term/doc clustering. Tokenization is [[tokensFor]] at the
    * `tokenizer` FAMILY recorded in `_meta` — serving verbs check
    * their declared family against it and refuse on mismatch, so
    * index and query tokenization can never disagree silently.
    *
    * Reference anchor: the reference's query surface pushes filters
    * to an external engine per query (AthenaEventQuery.java:161-198);
    * a persistent inverted index is that "query the corpus without
    * rescanning it" capability re-expressed for ranked retrieval. */
  /** Per-document (doc_id, dl, ents) rows — the ONE tokenize pass
    * build and append both project their tables from: `dl` is the
    * family's token count, `ents` the positional (term, positions)
    * entries. Shared so the `_docs` and `_postings` derivations can
    * never disagree about what a document's tokens were. */
  private def bm25DocRows(docs: DataFrame, idCol: String,
      textCol: String, tokenizer: String): DataFrame =
    docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        tokensFor(tokenizer, col(textCol)).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        SketchFunctions.termPositions(col("tk")).as("ents"))

  /** The postings projection of [[bm25DocRows]] rows: one (term,
    * doc_id, tf, dl, positions) row per distinct (doc, term).
    * Positions are 1-based ascending; tf is their count. Storage
    * cost, disclosed: ~one int per corpus token — the standard
    * positional-index price, and the column PRUNES AWAY at every
    * pure-BM25 serving scan. */
  private def bm25Postings(docRows: DataFrame): DataFrame = docRows
    .select(col("doc_id"), col("dl"), explode(col("ents")).as("e"))
    .select(col("e.term").as("term"), col("doc_id"),
      size(col("e.positions")).cast("long").as("tf"), col("dl"),
      col("e.positions").as("positions"))

  /** The DOC-KEYED narrow projection of the postings — (doc_id, term,
    * tf) bucketed by doc_id. Exists for exactly one serve shape: PRF
    * term mining filters postings by the feedback DOC ids, and the
    * term-bucketed `_postings` table cannot prune that (one full
    * narrow scan per query, the r19 disclosed PRF latency floor). A
    * doc-bucketed copy makes the mining pass bucket-pruned like every
    * other indexed serve. Storage, disclosed: a second (doc_id, term,
    * tf) copy of the postings — no positions, no dl, ~the cheap half
    * of the positional index. Derived data: always re-derivable from
    * `_postings` ([[reconcileBm25Index]] does, closing the crash
    * window between the two appends). */
  private[operators] def byDocProjection(post: DataFrame): DataFrame =
    post.select(col("doc_id"), col("term"), col("tf"))

  /** The `_postings_bydoc` table if this index has one — indexes
    * persisted before the projection existed legitimately lack it
    * (their PRF mining falls back to the full-scan path, disclosed),
    * and every build/append/merge since maintains it. */
  private[operators] def byDocTable(spark: SparkSession, name: String,
      numBuckets: Int): Option[DataFrame] =
    IndexFamily.tableIfPresent(spark, IndexFamily.bm25, name,
      "_postings_bydoc", numBuckets)

  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
      name: String, numBuckets: Int = 8,
      tokenizer: String = "ws"): Unit = {
    require(TokenizerFamilies.contains(tokenizer),
      s"buildBm25Index: unknown tokenizer family '$tokenizer' — one " +
        s"of $TokenizerFamilies")
    val spark = docs.sparkSession
    Bucketing.withIndexLease(spark, name, "buildBm25Index") {
    val rows = bm25DocRows(docs, idCol, textCol, tokenizer)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the two writes off the cached sig pass are INDEPENDENT tables —
    // overlapped (graft.Par, guide §2.6) so the second is not serial
    // behind the first's commit/DDL driver gap. _docs from the
    // per-doc rows, NOT a fold over postings: under the norm family a
    // document can tokenize to ZERO terms (all punctuation), and it
    // must still hold a _docs row — that row is what makes a replayed
    // append self-suppress at [[screenNewForBm25Index]] and keeps
    // n_docs honest.
    try graft.Par.run(
      () => Bucketing.writeBucketed(bm25Postings(rows),
        s"${name}_postings", "term", numBuckets),
      () => Bucketing.writeBucketed(rows.select(col("doc_id"), col("dl")),
        s"${name}_docs", "doc_id", numBuckets))
    finally rows.unpersist()
    // bydoc and df both derive from the postings TABLE just written,
    // not a re-run of the corpus explode+aggregate (one-derivation
    // rule): narrow pruned columnar scans instead of corpus-sized
    // passes — df is the same derivation [[repairBm25Stats]] uses, so
    // build-time and repaired stats are one code path. Independent
    // target tables → overlapped.
    graft.Par.run(
      () => Bucketing.writeBucketed(
        byDocProjection(spark.table(s"${name}_postings")),
        s"${name}_postings_bydoc", "doc_id", numBuckets),
      () => Bucketing.writeBucketed(
        spark.table(s"${name}_postings").groupBy(col("term"))
          .agg(count(lit(1)).as("df_t")),
        s"${name}_df", "term", numBuckets))
    writeBm25Meta(spark, name, numBuckets, tokenizer)
    }
  }

  /** (n_docs, sum_dl) recomputed from the `_docs` table — the single
    * source every maintenance verb re-derives `_meta` from, so the
    * stats can never drift from the doc set they describe. */
  private[operators] def writeBm25Meta(spark: SparkSession, name: String,
      numBuckets: Int, tokenizer: String): Unit =
    // ONE Spark job: the aggregate row is written directly with the
    // literals appended — the previous head()-then-re-create shape
    // paid a second driver round trip per build/append for the same
    // bytes (same column names, same types: long, long, int, string)
    Bucketing.writeTable(
      spark.table(s"${name}_docs")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
        .select(col("n_docs"), col("sum_dl"),
          lit(numBuckets).as("num_buckets"),
          lit(tokenizer).as("tokenizer")),
      s"${name}_meta")

  /** Folds a batch of NEW documents into a [[buildBm25Index]] index:
    * appends their postings and doc lengths as per-bucket files (no
    * rewrite of existing data), then refreshes the two derived
    * statistics tables — `_df` through [[Bucketing.compactBucketed]]'s
    * generation swap (union-sum with the batch's term counts:
    * vocabulary-sized work, never corpus-sized), `_meta` by
    * re-aggregating `_docs`. Caller contract, as with
    * [[graft.operators.Similarity.appendToAnnIndex]]: doc ids must be
    * NEW — the upstream dedup screen owns that guarantee; appending
    * an existing id would double its postings silently (detecting it
    * here would cost a full `_docs` scan per append, the re-scan tax
    * the index exists to avoid).
    *
    * Crash windows — the four table updates are ordered docs →
    * postings → df → meta, and the ORDER is load-bearing twice:
    * `_docs` lands FIRST because it is the idempotence key — the
    * streaming compositions replay a crashed batch through
    * [[screenNewForBm25Index]], which anti-joins on `_docs` ids, so
    * once `_docs` holds the batch the replay self-suppresses and can
    * never double-append postings (postings-first had the inverse
    * window: docs absent, replay re-appends, tf rows silently double
    * and every score inflates undetectably). The residual windows
    * are both REPAIRABLE: a death between `_docs` and `_postings`
    * leaves landed docs with no postings — a hole
    * [[reconcileBm25Index]] detects (docs with dl > 0 absent from
    * postings) and heals from the landed corpus; a death after
    * `_postings` leaves conservative (slightly stale) df/avgdl over
    * complete postings — [[repairBm25Stats]] re-derives both. */
  def appendToBm25Index(batch: DataFrame, idCol: String, textCol: String,
      name: String): Unit = {
    val spark = batch.sparkSession
    Bucketing.withIndexLease(spark, name, "appendToBm25Index") {
    val (numBuckets, tokenizer) = bm25Meta(spark, name)
    // eager localCheckpoint, NOT persist: the caller's batch plan may
    // reference this index's own tables (the [[screenNewForBm25Index]]
    // anti-join in the streaming composition), and the `_docs` append
    // below INVALIDATES any cache built over them — a lazily
    // re-evaluated plan would then anti-join against the mutated
    // table, see its own rows as already-indexed, and silently feed
    // an EMPTY frame to the postings/df/meta writes. The checkpoint
    // truncates lineage, so the pinned rows are immune to the
    // mutation.
    val rows = bm25DocRows(batch, idCol, textCol, tokenizer)
      .localCheckpoint(true)
    Bucketing.appendBucketed(rows.select(col("doc_id"), col("dl")),
      s"${name}_docs", "doc_id", numBuckets)
    val post = bm25Postings(rows)
    Bucketing.appendBucketed(post, s"${name}_postings", "term", numBuckets)
    // the doc-keyed projection rides every append; a death between the
    // two posting appends leaves it stale-conservative (mining misses
    // the batch's terms, never invents any) — reconcileBm25Index
    // re-derives it from _postings wholesale. GUARDED on the table
    // already existing: on a pre-projection index a bare append would
    // CREATE a bydoc holding only this batch, which mining would then
    // trust as the whole corpus — the index stays pre-projection
    // (full-scan mining fallback) until a rebuild or reconcile derives
    // the complete projection
    if (byDocTable(spark, name, numBuckets).isDefined)
      Bucketing.appendBucketed(byDocProjection(post),
        s"${name}_postings_bydoc", "doc_id", numBuckets)
    // the old bucketed scan and the batch's shuffle output may report
    // the SAME term-hash partitioning (numBuckets == shuffle
    // partitions), so the sum is [[summedDf]]'s repartitioned one
    // (vocabulary-sized exchange, noise-level cost)
    Bucketing.compactBucketed(old => summedDf(Seq(old,
      post.groupBy(col("term")).agg(count(lit(1)).as("df_t")))))(
      spark, s"${name}_df", "term", numBuckets)
    writeBm25Meta(spark, name, numBuckets, tokenizer)
    }
  }

  /** [[IndexFamily.compact]] for a BM25 index: the bucketed tables
    * rewrite to one file per bucket (each [[appendToBm25Index]] adds
    * a file per bucket; after K batches every serving scan opens K×
    * the files). `_df`/`_meta` are value-unchanged by compaction. */
  def compactBm25Index(spark: SparkSession, name: String): Unit =
    IndexFamily.compact(spark, IndexFamily.bm25, name)

  /** The ids of `batch` rows NOT yet in the index — the idempotence
    * screen a streaming composition runs before
    * [[appendToBm25Index]] (appending an existing id doubles its
    * postings silently; the anti-join against the narrow `_docs`
    * projection makes a replayed append a no-op instead). Batch-
    * sized work: the batch broadcasts into the anti-join when small;
    * `_docs` is a two-column bucketed scan. */
  def screenNewForBm25Index(batch: DataFrame, idCol: String,
      name: String): DataFrame = {
    val spark = batch.sparkSession
    batch.join(
      spark.table(s"${name}_docs").select(col("doc_id").as("__bm_id")),
      col(idCol) === col("__bm_id"), "left_anti")
  }

  /** Reconciles a BM25 index against the LANDED corpus — the repair
    * verb for every window redelivery does NOT heal. In the streaming
    * compositions ([[graft.streaming.StreamingIngest
    * .toScreenedDocIngest]]/`toPipelineIngest` with `bm25IndexName`)
    * the dedup fold-in runs AFTER the BM25 append, so a crash between
    * the sink append and the BM25 append replays past the dedup
    * screen and the BM25 append completes on its own — redelivery
    * heals that window. What redelivery CANNOT heal, and this verb
    * exists for:
    *
    *   - enabling `bm25IndexName` on an already-landed corpus (the
    *     backfill case — nothing will ever redeliver those docs);
    *   - a terminally abandoned stream (its last crash window never
    *     replays);
    *   - a death INSIDE [[appendToBm25Index]] between the `_docs`
    *     and `_postings` appends: the replay self-suppresses at
    *     [[screenNewForBm25Index]] (by design — that is what makes
    *     double-append impossible), leaving docs with dl > 0 and no
    *     postings.
    *
    * Two passes, both idempotent (a second run finds nothing):
    * (1) landed docs absent from `_docs` entirely append through the
    * normal verb ([[IndexFamily.reconcile]]); (2) `_docs` rows with
    * dl > 0 but no postings row (the dl > 0 guard keeps zero-token
    * norm-family docs from re-flagging forever — they legitimately
    * have no postings) get
    * their postings re-derived from the landed text, then df/meta
    * re-derive via [[repairBm25Stats]]. COST, disclosed: one scan of
    * the landed corpus against the narrow `_docs` projection plus
    * one doc_id-distinct pass over `_postings` — a repair verb to
    * run after a crash or on a schedule, not per batch. Returns the
    * number of documents healed across both passes. */
  def reconcileBm25Index(landed: DataFrame, idCol: String,
      textCol: String, name: String): Long = {
    val spark = landed.sparkSession
    Bucketing.withIndexLease(spark, name, "reconcileBm25Index") {
    val (numBuckets, tokenizer) = bm25Meta(spark, name)
    val live = landed.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val nMissing = IndexFamily.reconcile(IndexFamily.bm25, live, col(idCol),
      name)(appendToBm25Index(_, idCol, textCol, name))
    // pass 2 reads the post-pass-1 tables fresh: pass 1's appends
    // carry complete postings, so they can never surface as holes
    val holeIds = spark.table(s"${name}_docs")
      .filter(col("dl") > 0)
      .select(col("doc_id"))
      .join(spark.table(s"${name}_postings").select(col("doc_id"))
        .distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("__hole_id"))
    val holes = live
      .join(holeIds, col(idCol) === col("__hole_id"), "left_semi")
      .localCheckpoint(true)
    val nHoles = holes.count()
    if (nHoles > 0) {
      // postings ONLY — these docs' _docs rows already exist; a
      // second _docs append would double n_docs/sum_dl
      Bucketing.appendBucketed(
        bm25Postings(bm25DocRows(holes, idCol, textCol, tokenizer)
          .localCheckpoint(true)),
        s"${name}_postings", "term", numBuckets)
      repairBm25Stats(spark, name)
    }
    // the doc-keyed projection re-derives WHOLESALE whenever holes
    // were healed (a hole doc's bydoc rows may or may not have landed
    // before the crash — a blind append would double the ones that
    // did) and whenever the index PREDATES the projection (reconcile
    // is the upgrade verb that makes PRF mining bucket-pruned on an
    // old index). One postings scan, the reconcile-verb cost class.
    if (nHoles > 0 || byDocTable(spark, name, numBuckets).isEmpty)
      Bucketing.writeBucketed(
        byDocProjection(spark.table(s"${name}_postings")),
        s"${name}_postings_bydoc", "doc_id", numBuckets)
    nMissing + nHoles
    }
  }

  /** Rebuilds the index's derived statistics (`_df`, `_meta`) from
    * its own postings/docs tables — the recovery verb for a death
    * inside [[appendToBm25Index]]'s df/meta window, and the honest
    * answer to "are the stats still true?": df re-derives as one
    * term-keyed aggregate over postings (already bucketed by term, so
    * zero exchange below the write), meta from `_docs`. */
  def repairBm25Stats(spark: SparkSession, name: String): Unit =
    Bucketing.withIndexLease(spark, name, "repairBm25Stats") {
      val (numBuckets, tokenizer) = bm25Meta(spark, name)
      Bucketing.compactBucketed(_ =>
        spark.table(s"${name}_postings").groupBy(col("term"))
          .agg(count(lit(1)).as("df_t")))(
        spark, s"${name}_df", "term", numBuckets)
      writeBm25Meta(spark, name, numBuckets, tokenizer)
    }

  /** Takedown for the BM25 index ([[IndexFamily.retire]]): removes
    * the ids' rows from `_postings`, `_docs` and `_postings_bydoc`
    * in crash-safe compact-with-filter rewrites, then re-derives
    * `_df` from the surviving postings (a term whose last document
    * retires disappears — the rebuilt index equals a fresh build
    * over the survivors, no tombstones) and `_meta` from the
    * surviving docs ([[repairBm25Stats]]). */
  def retireFromBm25Index(ids: DataFrame, idCol: String,
      name: String): Unit =
    IndexFamily.retire(IndexFamily.bm25, ids, col(idCol), name)

  /** [[IndexFamily.open]] for a persisted BM25 index; the doc-keyed
    * projection is optional (indexes persisted before it existed
    * lack it, and their PRF mining falls back to the full-scan
    * path). */
  def openBm25Index(spark: SparkSession, name: String): Unit =
    IndexFamily.open(spark, IndexFamily.bm25, name)

  /** MERGES source BM25 indexes into one `target` index
    * ([[IndexFamily.merge]]). All sources must share one tokenizer
    * family (meta state, refused loudly on mismatch) and DISJOINT
    * doc-id sets (a silent overlap would double the overlapped docs'
    * postings and quietly inflate every score, exactly the
    * wrong-answer class worth one id-column scan).
    *
    * Scale shape: postings and docs merge as pure UNIONS re-bucketed
    * once (the write-side shuffle every build pays); `_df` merges as
    * the SUM of the sources' vocabulary-sized df tables
    * ([[summedDf]]) — never a postings re-scan; the doc-keyed
    * projection from each source's own ([[mergedByDoc]]); `_meta`
    * re-derives from the merged `_docs` (the one-source-of-stats
    * rule shared with repairBm25Stats). */
  def mergeBm25Indexes(spark: SparkSession, target: String,
      sources: Seq[String], numBuckets: Int = 8): Unit =
    IndexFamily.merge(spark, IndexFamily.bm25, target, sources, numBuckets)

  /** The per-term sum of `_df` rows — the merged `_df`, and an
    * append's refreshed one. The explicit repartition is
    * LOAD-BEARING: a union of co-bucketed scans reports a term-hash
    * partitioning that satisfies the aggregation's clustering
    * requirement, but the same term lives in one partition PER CHILD
    * — without a real exchange the final aggregate emits one row per
    * source (observed on Spark 4.1.2: HashAggregate directly over
    * Union, no Exchange). */
  private[operators] def summedDf(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_ unionByName _).repartition(col("term"))
      .groupBy(col("term")).agg(sum(col("df_t")).as("df_t"))

  /** The merged doc-keyed projection: each source's own bydoc table
    * when it has one, derived from its postings otherwise
    * (pre-projection shards stay mergeable) — a union re-bucketed
    * once, the postings merge's shape. */
  private[operators] def mergedByDoc(spark: SparkSession,
      sources: Seq[String], metas: Seq[Row]): DataFrame =
    sources.zip(metas).map { case (s, m) =>
      byDocTable(spark, s, m.getAs[Int]("num_buckets")).getOrElse(
        byDocProjection(spark.table(s"${s}_postings")))
    }.reduce(_ unionByName _)

  /** BM25 with PSEUDO-RELEVANCE-FEEDBACK query expansion (RM3-lite,
    * Lavrenko & Croft's relevance-model shape without the term
    * re-weighting — expansion terms join the query unweighted, the
    * deterministic simplification disclosed so the oracle and the
    * engine agree on one arithmetic): run the base query, take the
    * top `fbDocs` documents, mine their `fbTerms` strongest terms
    * (total tf across the feedback docs, desc, term-asc tie-break,
    * original query terms excluded), re-run with the expanded term
    * set. The classic recall lever when queries are short and
    * vocabulary mismatch is the loss mode.
    *
    * Scale shape: pass 1 is [[bm25TopK]]'s term-filtered scan; the
    * feedback-term mining is one corpus token stream semi-joined to
    * fbDocs ids (narrow, broadcast-shaped) aggregated per term; the
    * fbTerms literals are a BOUNDED driver pull (the centroid-pull
    * class — fbTerms strings, never corpus rows); pass 2 is the same
    * term-filtered scan at |Q| + fbTerms terms. */
  /** The PRF term-mining pass shared by [[bm25PrfTopK]] and
    * [[bm25PrfBlendedTopK]]: the `fbTerms` strongest non-query terms
    * of the base run's top `fbDocs` documents (total tf, desc,
    * term-asc tie-break) — a BOUNDED driver pull of fbTerms strings
    * (the centroid-pull class). */
  private def minePrfTerms(docs: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], fbDocs: Int,
      fbTerms: Int, k1: Double, b: Double,
      tokenizer: String): Seq[String] = {
    // fbTerms == 0 means "no expansion": the mined set is provably
    // empty, so skip the whole pass-1 scan + mining collect instead
    // of paying a corpus scan for a no-op
    if (fbTerms == 0) return Seq.empty
    val fb = bm25TopK(docs, idCol, textCol, queryTerms, topK = fbDocs,
      k1 = k1, b = b, tokenizer = tokenizer)
      .select(col("doc_id"))
    docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(tokensFor(tokenizer, col(textCol))).as("term"))
      .join(broadcast(fb), Seq("doc_id"), "left_semi")
      .filter(!col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term"))
      .limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
  }

  def bm25PrfTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int, fbDocs: Int = 3,
      fbTerms: Int = 5, k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws"): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0,
      s"need fbDocs >= 1, fbTerms >= 0, got $fbDocs/$fbTerms")
    requireQueryTerms("bm25PrfTopK", tokenizer, queryTerms)
    val mined = minePrfTerms(docs, idCol, textCol, queryTerms,
      fbDocs, fbTerms, k1, b, tokenizer)
    bm25TopK(docs, idCol, textCol, (queryTerms ++ mined).distinct,
      topK = topK, k1 = k1, b = b, tokenizer = tokenizer)
  }

  /** Per-document RAW (unrounded) BM25 sums over a term set — the
    * blended PRF's inputs; rounding happens ONCE, after the blend,
    * so both engines rank one identical double. */
  private def bm25RawScores(docs: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], k1: Double, b: Double,
      tokenizer: String, out: String): DataFrame = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val toks = live.select(col(idCol).as("doc_id"),
      tokensFor(tokenizer, col(textCol)).as("tk"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("tk")).cast("long")).as("sum_dl"))
    val tf = toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    tf.join(broadcast(dfT), Seq("term"))
      .join(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum(bm25Weight(k1, b)).as(out))
  }

  /** PRF with the RM3-style INTERPOLATION [[bm25PrfTopK]] discloses
    * skipping: score(d) = λ·bm25(d, Q) + (1−λ)·bm25(d, E), where E
    * is the mined expansion set — the original query keeps majority
    * weight instead of being diluted by its own expansion (the
    * classic PRF failure on drifting feedback). Both legs score as
    * plain Okapi sums (raw, unrounded), the blend rounds ONCE to 4
    * decimals, rank by (score desc, doc_id), top-k. A document
    * matching only one leg keeps that leg's contribution (the other
    * coalesces to 0). Same scale shape as [[bm25PrfTopK]]: two
    * term-filtered scans + one fbTerms-bounded driver pull; the
    * blend is a doc-keyed full-outer join of two top-heavy score
    * sets, SHUFFLE_HASH-hinted. */
  def bm25PrfBlendedTopK(docs: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], topK: Int,
      lambda: Double = 0.6, fbDocs: Int = 3, fbTerms: Int = 5,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws"): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0,
      s"need fbDocs >= 1, fbTerms >= 0, got $fbDocs/$fbTerms")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    requireQueryTerms("bm25PrfBlendedTopK", tokenizer, queryTerms)
    val mined = minePrfTerms(docs, idCol, textCol, queryTerms,
      fbDocs, fbTerms, k1, b, tokenizer)
    val base = bm25RawScores(docs, idCol, textCol, queryTerms,
      k1, b, tokenizer, "__sb")
    if (mined.isEmpty)
      // nothing mined (fbTerms = 0 or a degenerate corpus): the
      // blend degenerates to λ·base — still ranked and rounded the
      // same way
      return base.select(col("doc_id"),
        round(lit(lambda) * col("__sb"), 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(topK)
    val exp = bm25RawScores(docs, idCol, textCol, mined,
      k1, b, tokenizer, "__se")
    base.join(exp.hint("SHUFFLE_HASH"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(lit(lambda) * coalesce(col("__sb"), lit(0.0))
          + lit(1.0 - lambda) * coalesce(col("__se"), lit(0.0)), 4)
          .as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** The mining AGGREGATE over an explicit feedback-id set — split
    * out so the plan-shape spec can pin the scan it takes: on an
    * index with the `_postings_bydoc` projection the ids are an IN
    * filter on the bucket column (doc_id), so the scan BUCKET-PRUNES
    * to the feedback docs' buckets and `_postings` appears nowhere in
    * the plan — PRF mining serves like every other indexed verb. The
    * planner's DisableUnnecessaryBucketedScan rule turns the scan's
    * bucketed OUTPUT off (the term-keyed aggregate does not use it),
    * but Spark (SPARK-32985) still prunes the files to the selected
    * buckets in the non-bucketed read. The fallback for
    * pre-projection indexes is the r19 shape, disclosed: one full
    * narrow scan of `_postings` semi-joined to the ids. */
  private[graft] def minePrfCandidatesFromIndex(spark: SparkSession,
      name: String, fbIds: Seq[Any],
      queryTerms: Seq[String], numBuckets: Int): DataFrame = {
    val byDoc = byDocTable(spark, name, numBuckets) match {
      case Some(t) => t.filter(col("doc_id").isin(fbIds: _*))
      case None =>
        import spark.implicits._
        val fb = fbIds.map(_.toString).toDF("__fb_id")
        spark.table(s"${name}_postings")
          .join(broadcast(fb),
            col("doc_id").cast("string") === col("__fb_id"), "left_semi")
    }
    byDoc
      .filter(!col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(sum(col("tf")).as("tf"))
      .orderBy(col("tf").desc, col("term"))
  }

  /** The PRF term-mining pass served from a persistent
    * [[buildBm25Index]] index — [[minePrfTerms]] with the corpus
    * tokenize DELETED: the postings already store (doc_id, term, tf).
    * Two bounded driver pulls (the centroid-pull class): the fbDocs
    * feedback ids from pass 1, then the fbTerms mined strings; in
    * between, [[minePrfCandidatesFromIndex]]'s bucket-pruned scan of
    * the doc-keyed projection. */
  private def minePrfTermsFromIndex(spark: SparkSession, name: String,
      queryTerms: Seq[String], fbDocs: Int, fbTerms: Int,
      k1: Double, b: Double, tokenizer: String,
      numBuckets: Int): Seq[String] = {
    if (fbTerms == 0) return Seq.empty
    val fbIds = bm25TopKFromIndex(spark, name, queryTerms,
      topK = fbDocs, k1 = k1, b = b, tokenizer = tokenizer)
      .select(col("doc_id"))
      .collect().map(_.get(0)).toSeq // bounded: fbDocs rows
    if (fbIds.isEmpty) return Seq.empty
    minePrfCandidatesFromIndex(spark, name, fbIds, queryTerms, numBuckets)
      .limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
  }

  /** [[bm25PrfTopK]] served from a persistent index — both scored
    * passes AND the term mining ride the stored postings (the
    * d112/d148 twin discipline: same contract, same rounding,
    * bit-equal results, corpus appears nowhere in the plan). */
  def bm25PrfAgainstIndex(spark: SparkSession, name: String,
      queryTerms: Seq[String], topK: Int, fbDocs: Int = 3,
      fbTerms: Int = 5, k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws"): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0,
      s"need fbDocs >= 1, fbTerms >= 0, got $fbDocs/$fbTerms")
    requireQueryTerms("bm25PrfAgainstIndex", tokenizer, queryTerms)
    // ONE `_meta` head serves the family check, the mining's bucket
    // count and both scored passes (was 4 driver actions per serve)
    val (numBuckets, fam) = bm25Meta(spark, name)
    requireFamily("bm25PrfAgainstIndex", name, fam, tokenizer)
    val mined = minePrfTermsFromIndex(spark, name, queryTerms,
      fbDocs, fbTerms, k1, b, tokenizer, numBuckets)
    bm25TopKFromIndex(spark, name, (queryTerms ++ mined).distinct,
      topK = topK, k1 = k1, b = b, tokenizer = tokenizer)
  }

  /** [[bm25RawScores]]' indexed face: per-document raw (unrounded)
    * BM25 sums over a term set from the stored postings — the
    * blended PRF's inputs, bucket-pruned to the term set. */
  private def bm25RawScoresFromIndex(spark: SparkSession, name: String,
      terms: Seq[String], k1: Double, b: Double,
      out: String): DataFrame = {
    val post = spark.table(s"${name}_postings")
      .filter(col("term").isin(terms: _*))
    val dfT = spark.table(s"${name}_df")
      .filter(col("term").isin(terms: _*))
    val stats = spark.table(s"${name}_meta")
      .select(col("n_docs"), col("sum_dl"))
    post.join(broadcast(dfT), Seq("term"))
      .join(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum(bm25Weight(k1, b)).as(out))
  }

  /** [[bm25PrfBlendedTopK]] served from a persistent index — the
    * RM3 interpolation with every pass on the stored postings: both
    * raw score legs are bucket-pruned term scans, the mining is
    * [[minePrfTermsFromIndex]], the blend rounds ONCE after the
    * λ-weighted sum exactly like the fresh path. */
  def bm25PrfBlendedAgainstIndex(spark: SparkSession, name: String,
      queryTerms: Seq[String], topK: Int, lambda: Double = 0.6,
      fbDocs: Int = 3, fbTerms: Int = 5, k1: Double = 1.2,
      b: Double = 0.75, tokenizer: String = "ws"): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0,
      s"need fbDocs >= 1, fbTerms >= 0, got $fbDocs/$fbTerms")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    requireQueryTerms("bm25PrfBlendedAgainstIndex", tokenizer, queryTerms)
    // ONE `_meta` head for the family check AND the mining pass
    val (numBuckets, fam) = bm25Meta(spark, name)
    requireFamily("bm25PrfBlendedAgainstIndex", name, fam, tokenizer)
    val mined = minePrfTermsFromIndex(spark, name, queryTerms,
      fbDocs, fbTerms, k1, b, tokenizer, numBuckets)
    val base = bm25RawScoresFromIndex(spark, name, queryTerms,
      k1, b, "__sb")
    if (mined.isEmpty)
      return base.select(col("doc_id"),
        round(lit(lambda) * col("__sb"), 4).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(topK)
    val exp = bm25RawScoresFromIndex(spark, name, mined, k1, b, "__se")
    base.join(exp.hint("SHUFFLE_HASH"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(lit(lambda) * coalesce(col("__sb"), lit(0.0))
          + lit(1.0 - lambda) * coalesce(col("__se"), lit(0.0)), 4)
          .as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Query-likelihood retrieval with DIRICHLET smoothing (Zhai &
    * Lafferty, SIGIR 2001 — the other canonical ranking model
    * production engines ship beside Okapi; Lucene's
    * LMDirichletSimilarity): rank-equivalent decomposed form over
    * candidate documents (≥ 1 matching term — the engine convention;
    * a no-match document's score is pure length prior and is not a
    * retrieval result):
    *
    *   score(d, Q) = Σ_{t ∈ d∩Q} ln(1 + tf / (μ · p(t|C)))
    *                 + |Q| · ln(μ / (dl + μ))
    *
    * with p(t|C) = cf_t / total_tokens the collection LM. The second
    * term is the document-length prior applied once per query term
    * (including UNMATCHED ones — that is what makes the form
    * rank-equivalent to the full product).
    *
    * Scale shape: [[bm25TopK]]'s — the query-term isin filter sits
    * on the exploded token stream below the first exchange, cf_t is
    * a per-term aggregate over exactly those rows, total tokens one
    * broadcast row; top-k is TakeOrderedAndProject. Returns (doc_id,
    * n_terms, ql) with ql rounded to 4 AFTER summing (§6), ordered
    * (ql desc, doc_id). */
  def lmDirichletTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int, mu: Double = 2000.0,
      tokenizer: String = "ws"): DataFrame = {
    require(topK >= 1 && mu > 0, s"need topK >= 1, mu > 0, got $topK/$mu")
    requireQueryTerms("lmDirichletTopK", tokenizer, queryTerms)
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val toks = live.select(col(idCol).as("doc_id"),
      tokensFor(tokenizer, col(textCol)).as("tk"))
    val stats = toks.agg(
      sum(size(col("tk")).cast("long")).as("total_tokens"))
    val tf = toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf_t"))
    scoreLmDirichlet(tf, cf, stats, queryTerms.distinct.size, mu)
      .orderBy(col("ql").desc, col("doc_id"))
      .limit(topK)
  }

  /** The Dirichlet arithmetic shared VERBATIM by the fresh scan and
    * the indexed serve, so the two paths cannot drift (the
    * bm25Weight discipline). `tf` carries (doc_id, term, tf, dl);
    * `cf` (term, cf_t); `stats` one row (total_tokens). */
  private def scoreLmDirichlet(tf: DataFrame, cf: DataFrame,
      stats: DataFrame, nQueryTerms: Int, mu: Double): DataFrame =
    tf.join(broadcast(cf), Seq("term"))
      .join(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        round(
          sum(log(lit(1.0) + col("tf").cast("double")
            / (lit(mu) * (col("cf_t").cast("double")
              / col("total_tokens").cast("double")))))
            + lit(nQueryTerms.toDouble)
            * log(lit(mu) / (max(col("dl")).cast("double") + lit(mu))),
          4).as("ql"))

  /** [[lmDirichletTopK]] served from a persistent [[buildBm25Index]]
    * index — the positional/BM25 index already stores everything the
    * Dirichlet model needs (per-(doc, term) tf + dl in postings;
    * total tokens in meta), so one index serves BOTH ranking models:
    * cf_t derives from the query terms' postings alone (a pruned
    * bucket read + a |Q|-row aggregate — collection frequencies are
    * per-term sums over exactly the rows already fetched). Identical
    * arithmetic by construction ([[scoreLmDirichlet]] shared). */
  def lmDirichletAgainstIndex(spark: SparkSession, name: String,
      queryTerms: Seq[String], topK: Int, mu: Double = 2000.0,
      tokenizer: String = "ws"): DataFrame = {
    require(topK >= 1 && mu > 0, s"need topK >= 1, mu > 0, got $topK/$mu")
    requireQueryTerms("lmDirichletAgainstIndex", tokenizer, queryTerms)
    requireFamily("lmDirichletAgainstIndex", name,
      bm25Meta(spark, name)._2, tokenizer)
    val post = spark.table(s"${name}_postings")
      .filter(col("term").isin(queryTerms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val cf = post.groupBy(col("term")).agg(sum(col("tf")).as("cf_t"))
    val stats = spark.table(s"${name}_meta")
      .select(col("sum_dl").as("total_tokens"))
    scoreLmDirichlet(post, cf, stats, queryTerms.distinct.size, mu)
      .orderBy(col("ql").desc, col("doc_id"))
      .limit(topK)
  }

  /** The batch (query-set) face of Dirichlet QL — [[bm25PerQueryRanks]]'
    * shape with [[lmDirichletTopK]]'s arithmetic: per query, the
    * matched-term sum + |Q_q|·ln(μ/(dl+μ)) with |Q_q| the QUERY'S OWN
    * distinct-term count (per-row, where the single-query form takes a
    * scalar), rounded to 4 before ranking, per-query top-k on the
    * bounded heap. Feeds [[retrievalQualityCard]]'s `lm_dirichlet`
    * arm. Scale shape: one corpus token pass semi-join-filtered to
    * the batch vocabulary; cf_t and the stats ride the same filtered
    * frame; the heap bounds the output at topK×|Q| rows. */
  def lmDirichletPerQueryRanks(docs: DataFrame, idCol: String,
      textCol: String, queries: DataFrame, queryIdCol: String,
      termsCol: String, topK: Int, mu: Double = 2000.0,
      excludeSelf: Boolean = false,
      tokenizer: String = "ws"): DataFrame = {
    require(topK >= 1 && mu > 0, s"need topK >= 1, mu > 0, got $topK/$mu")
    requireQueryTerms("lmDirichletPerQueryRanks", tokenizer, Nil)
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val toks = live.select(col(idCol).as("doc_id"),
      tokensFor(tokenizer, col(textCol)).as("tk"))
    val stats = toks.agg(
      sum(size(col("tk")).cast("long")).as("total_tokens"))
    val qt = queries
      .filter(col(queryIdCol).isNotNull && col(termsCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        explode(col(termsCol)).as("term"))
      .distinct()
    val nq = qt.groupBy(col("query_id")).agg(count(lit(1)).as("__nq"))
    val termSet = qt.select(col("term")).distinct()
    val tf = toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .join(broadcast(termSet), Seq("term"), "left_semi")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf_t"))
    val perQuery = tf.join(broadcast(cf), Seq("term"))
      .join(broadcast(stats))
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(log(lit(1.0) + col("tf").cast("double")
        / (lit(mu) * (col("cf_t").cast("double")
          / col("total_tokens").cast("double"))))).as("__sm"),
        max(col("dl")).as("__dl"))
      .join(broadcast(nq), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(col("__sm") + col("__nq").cast("double")
          * log(lit(mu) / (col("__dl").cast("double") + lit(mu))), 4)
          .as("ql"))
    val screened =
      if (excludeSelf) perQuery.filter(col("doc_id") =!= col("query_id"))
      else perQuery
    screened.groupBy(col("query_id"))
      .agg(graft.functions.VectorFunctions.topKByCos(
        col("doc_id").cast("long"), col("ql"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("doc_id"), col("col.cos").as("ql"))
  }

  /** [[lmDirichletPerQueryRanks]] served from a persistent
    * [[buildBm25Index]] index — the batch face of the one-index-two-
    * ranking-models story ([[lmDirichletAgainstIndex]]'s contract at
    * [[bm25RanksAgainstIndex]]'s shape): the query batch's distinct
    * terms pull to the driver (bounded by `maxQueryTerms`, the
    * probed-cell discipline) and push as an IN literal on the bucket
    * column; tf/dl come from the pruned postings, cf_t is a per-term
    * sum over exactly those rows, total tokens one broadcast meta
    * row; per-query |Q| and the heap top-k are the fresh path
    * verbatim. */
  def lmDirichletRanksAgainstIndex(spark: SparkSession, name: String,
      queries: DataFrame, queryIdCol: String, termsCol: String,
      topK: Int, mu: Double = 2000.0,
      excludeSelf: Boolean = false,
      maxQueryTerms: Int = 65536,
      tokenizer: String = "ws"): DataFrame = {
    require(topK >= 1 && mu > 0, s"need topK >= 1, mu > 0, got $topK/$mu")
    requireQueryTerms("lmDirichletRanksAgainstIndex", tokenizer, Nil)
    requireFamily("lmDirichletRanksAgainstIndex", name,
      bm25Meta(spark, name)._2, tokenizer)
    val qt = queries
      .filter(col(queryIdCol).isNotNull && col(termsCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        explode(col(termsCol)).as("term"))
      .distinct()
    val termRows = qt.select(col("term")).distinct()
      .limit(maxQueryTerms + 1).collect()
    require(termRows.length <= maxQueryTerms,
      s"lmDirichletRanksAgainstIndex('$name'): query batch carries " +
        s"more than $maxQueryTerms distinct terms — split it or raise " +
        "maxQueryTerms")
    val termLits = termRows.map(_.getString(0)).toSeq
    requireQueryTerms("lmDirichletRanksAgainstIndex", tokenizer, termLits)
    if (termLits.isEmpty)
      return qt.select(col("query_id")).limit(0)
        .crossJoin(spark.table(s"${name}_postings")
          .select(col("doc_id").cast("long").as("doc_id")).limit(0))
        .select(col("query_id"), lit(0).cast("int").as("rank"),
          col("doc_id"), lit(0.0).as("ql"))
    val nq = qt.groupBy(col("query_id")).agg(count(lit(1)).as("__nq"))
    val post = spark.table(s"${name}_postings")
      .filter(col("term").isin(termLits: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val cf = post.groupBy(col("term")).agg(sum(col("tf")).as("cf_t"))
    val stats = spark.table(s"${name}_meta")
      .select(col("sum_dl").as("total_tokens"))
    val perQuery = post.join(broadcast(cf), Seq("term"))
      .join(broadcast(stats))
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(log(lit(1.0) + col("tf").cast("double")
        / (lit(mu) * (col("cf_t").cast("double")
          / col("total_tokens").cast("double"))))).as("__sm"),
        max(col("dl")).as("__dl"))
      .join(broadcast(nq), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(col("__sm") + col("__nq").cast("double")
          * log(lit(mu) / (col("__dl").cast("double") + lit(mu))), 4)
          .as("ql"))
    val screened =
      if (excludeSelf) perQuery.filter(col("doc_id") =!= col("query_id"))
      else perQuery
    screened.groupBy(col("query_id"))
      .agg(graft.functions.VectorFunctions.topKByCos(
        col("doc_id").cast("long"), col("ql"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("doc_id"), col("col.cos").as("ql"))
  }

  /** VOCABULARY-DRIFT card for a BM25 index vs an INCOMING batch —
    * the retrieval sibling of [[Similarity.annIngestDriftCard]] and
    * the lexical ops number a crawl team watches: how much of what
    * is arriving is NEW to the index's vocabulary? A spiking
    * new-term share is a source change, a language shift, or spam —
    * and the signal that df statistics (hence every idf) are about
    * to move. One row: (n_batch_docs, n_batch_terms, n_new_terms,
    * new_term_share, n_batch_tokens, n_oov_tokens, oov_token_share),
    * shares rounded to 4. Terms tokenize under the INDEX's own
    * family (meta state — the card can never measure a different
    * vocabulary than the index stores).
    *
    * Scale shape: one batch token pass (map-side) into a distinct
    * term set; newness is one anti-join against the bucketed
    * vocabulary-sized `_df` (the index side never shuffles); token
    * OOV mass rides the same join back onto the term counts. Nothing
    * index-corpus-sized moves. */
  def bm25IngestDriftCard(spark: SparkSession, name: String,
      batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (_, tokenizer) = bm25Meta(spark, name)
    val live = batch
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val termCounts = live
      .select(explode(tokensFor(tokenizer, col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__n"))
      .join(spark.table(s"${name}_df")
        .select(col("term"), lit(1).as("__known")),
        Seq("term"), "left")
    val docsN = live.agg(count(lit(1)).as("n_batch_docs"))
    termCounts
      .agg(count(lit(1)).as("n_batch_terms"),
        sum(when(col("__known").isNull, 1L).otherwise(0L))
          .as("n_new_terms"),
        coalesce(sum(col("__n")), lit(0L)).as("n_batch_tokens"),
        coalesce(sum(when(col("__known").isNull, col("__n"))
          .otherwise(0L)), lit(0L)).as("n_oov_tokens"))
      .crossJoin(broadcast(docsN))
      .select(col("n_batch_docs"), col("n_batch_terms"),
        col("n_new_terms"),
        round(when(col("n_batch_terms") > 0,
          col("n_new_terms").cast("double")
            / col("n_batch_terms").cast("double")).otherwise(0.0), 4)
          .as("new_term_share"),
        col("n_batch_tokens"), col("n_oov_tokens"),
        round(when(col("n_batch_tokens") > 0,
          col("n_oov_tokens").cast("double")
            / col("n_batch_tokens").cast("double")).otherwise(0.0), 4)
          .as("oov_token_share"))
  }

  /** Ops observability for the BM25 index — the one-row corpus card
    * (n_docs, n_terms, n_postings, sum_dl, avgdl) that answers "what
    * does this index hold and is it still sized right": three
    * single-row aggregates over the index's own tables (each a
    * count/sum with map-side partials — no corpus-keyed exchange
    * anywhere) crossed broadcast-small. avgdl rounded to 4 decimals
    * (§6 rule). */
  def bm25IndexStats(spark: SparkSession, name: String): DataFrame = {
    val nTerms = spark.table(s"${name}_df")
      .agg(count(lit(1)).as("n_terms"))
    val nPost = spark.table(s"${name}_postings")
      .agg(count(lit(1)).as("n_postings"))
    spark.table(s"${name}_meta")
      .crossJoin(broadcast(nTerms))
      .crossJoin(broadcast(nPost))
      .select(col("n_docs"), col("n_terms"), col("n_postings"),
        col("sum_dl"),
        round(col("sum_dl").cast("double") / col("n_docs").cast("double"),
          4).as("avgdl"))
  }

  /** [[bm25TopK]] served from a [[buildBm25Index]] index WITHOUT
    * touching the corpus — same contract, same rounding, bit-equal
    * scores (the d58 twin discipline: the d112 oracle is the
    * fresh-scan SQL verbatim). Per-batch cost: a bucket-pruned
    * postings scan of the |Q| query terms' buckets + two broadcast
    * joins + the TakeOrderedAndProject top-k. The corpus table
    * appears nowhere in this plan. */
  def bm25TopKAgainstIndex(spark: SparkSession, name: String,
      queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws"): DataFrame = {
    // cheap argument checks BEFORE the meta head, preserving the
    // original failure order on bad arguments
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms,
      s"queryTerms must be distinct, got $queryTerms")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    requireQueryTerms("bm25TopKAgainstIndex", tokenizer, queryTerms)
    requireFamily("bm25TopKAgainstIndex", name,
      bm25Meta(spark, name)._2, tokenizer)
    bm25TopKFromIndex(spark, name, queryTerms, topK, k1, b, tokenizer)
  }

  /** [[bm25TopKAgainstIndex]] with the family check already paid —
    * the PRF loop's internal passes ride this so one `_meta` head
    * serves the whole serve instead of one per pass. */
  private def bm25TopKFromIndex(spark: SparkSession, name: String,
      queryTerms: Seq[String], topK: Int,
      k1: Double, b: Double, tokenizer: String): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms,
      s"queryTerms must be distinct, got $queryTerms")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    requireQueryTerms("bm25TopKAgainstIndex", tokenizer, queryTerms)
    val post = spark.table(s"${name}_postings")
      .filter(col("term").isin(queryTerms: _*))
    val dfT = spark.table(s"${name}_df")
      .filter(col("term").isin(queryTerms: _*))
    val stats = spark.table(s"${name}_meta")
      .select(col("n_docs"), col("sum_dl"))
    post.join(broadcast(dfT), Seq("term"))
      .join(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(bm25Weight(k1, b)), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** [[bm25PerQueryRanks]] served from a [[buildBm25Index]] index —
    * the batch front door of hybrid retrieval with the corpus rescan
    * deleted. The query batch's distinct terms are pulled to the
    * driver (BOUNDED: an eval set's vocabulary — `maxQueryTerms`
    * guards the pull, the [[graft.operators.Similarity
    * .annTopKAgainstIndex]] probed-cell discipline) and pushed as an
    * IN literal on the bucket column, so the postings scan prunes to
    * the query terms' buckets instead of left-semi-scanning
    * everything. Everything downstream is the fresh path verbatim:
    * same weight expression, same rounding-before-rank, same bounded
    * top-k heap, same excludeSelf convention. */
  def bm25RanksAgainstIndex(spark: SparkSession, name: String,
      queries: DataFrame, queryIdCol: String, termsCol: String,
      topK: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false,
      maxQueryTerms: Int = 65536,
      tokenizer: String = "ws"): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    requireQueryTerms("bm25RanksAgainstIndex", tokenizer, Nil)
    requireFamily("bm25RanksAgainstIndex", name,
      bm25Meta(spark, name)._2, tokenizer)
    val qt = queries
      .filter(col(queryIdCol).isNotNull && col(termsCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        explode(col(termsCol)).as("term"))
      .distinct()
    val termRows = qt.select(col("term")).distinct()
      .limit(maxQueryTerms + 1).collect()
    require(termRows.length <= maxQueryTerms,
      s"bm25RanksAgainstIndex('$name'): query batch carries more than " +
        s"$maxQueryTerms distinct terms — not an eval-set-sized batch; " +
        "split it or raise maxQueryTerms")
    val termLits = termRows.map(_.getString(0)).toSeq
    // the per-query terms live in the DataFrame, not an argument
    // list, so the lowercase/boundary-punctuation guard runs over
    // the COLLECTED literals — a mixed-case term under norm/uni
    // would otherwise silently score zero matches, the exact
    // wrong-answer class the guard exists to refuse
    requireQueryTerms("bm25RanksAgainstIndex", tokenizer, termLits)
    if (termLits.isEmpty)
      // empty frame derived from the REAL plans on both sides so
      // query_id keeps the caller's type and doc_id derives from the
      // index's postings through the SAME cast the non-empty path
      // applies — hardcoded lits would force types a caller unioning
      // the empty-batch edge with the normal path only hits here
      return qt.select(col("query_id")).limit(0)
        .crossJoin(spark.table(s"${name}_postings")
          .select(col("doc_id").cast("long").as("doc_id")).limit(0))
        .select(col("query_id"), lit(0).cast("int").as("rank"),
          col("doc_id"), lit(0.0).as("bm25"))
    val post = spark.table(s"${name}_postings")
      .filter(col("term").isin(termLits: _*))
    val dfT = spark.table(s"${name}_df")
      .filter(col("term").isin(termLits: _*))
    val stats = spark.table(s"${name}_meta")
      .select(col("n_docs"), col("sum_dl"))
    val perQuery = post.join(broadcast(dfT), Seq("term"))
      .join(broadcast(stats))
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(bm25Weight(k1, b)), 4).as("bm25"))
    val screened =
      if (excludeSelf) perQuery.filter(col("doc_id") =!= col("query_id"))
      else perQuery
    screened.groupBy(col("query_id"))
      .agg(graft.functions.VectorFunctions.topKByCos(
        col("doc_id").cast("long"), col("bm25"), topK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("doc_id"), col("col.cos").as("bm25"))
  }

  private def requirePhrase(op: String, phrase: Seq[String],
      tokenizer: String): Unit = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    requireQueryTerms(op, tokenizer, phrase)
  }

  /** Per-slot position-list join shared by the phrase and proximity
    * paths: slot 0 anchors; each later slot joins its postings on
    * doc_id (repeated terms reuse the same rows). Input `pos`:
    * (doc_id, dl, term, positions) rows for the distinct query terms
    * only; output carries (doc_id, dl, __p0..__pN). An inner join
    * per slot — a document missing ANY term can match neither a
    * phrase nor an all-terms window, so it drops before the
    * occurrence arithmetic. */
  private def joinTermPositions(pos: DataFrame,
      terms: Seq[String]): DataFrame = {
    val slot0 = pos.filter(col("term") === terms.head)
      .select(col("doc_id"), col("dl"), col("positions").as("__p0"))
    terms.zipWithIndex.tail.foldLeft(slot0) {
      case (acc, (t, i)) =>
        acc.join(pos.filter(col("term") === t)
          .select(col("doc_id"), col("positions").as(s"__p$i")),
          Seq("doc_id"))
    }
  }

  /** Shared single-pseudo-term scoring tail of the positional
    * operators — ONE definition so each operator's fresh and indexed
    * paths are bit-equal by construction (the bm25Weight argument).
    * Input `matched`: (doc_id, dl, tf) rows with tf the occurrence
    * count; the pseudo-term scores with df = matched doc count
    * (derived per query — a positional pattern's df is
    * query-specific by nature, never stored) and the ordinary corpus
    * stats. `scored` is evaluated twice (df aggregate + scoring) —
    * both narrow (doc_id, dl, tf) passes over the matched docs only,
    * the [[bm25TopK]] recompute posture. */
  private def scorePseudoTerm(matched: DataFrame, stats: DataFrame,
      tfName: String, topK: Int, k1: Double, b: Double): DataFrame = {
    val scored = matched.filter(col("tf") > 0)
    val dfp = scored.agg(count(lit(1)).as("df_t"))
    scored.join(broadcast(dfp))
      .join(broadcast(stats))
      .select(col("doc_id"), col("tf").as(tfName),
        round(bm25Weight(k1, b), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Phrase occurrences = the intersection of slot-shifted position
    * arrays (a phrase occurs at p iff term_i sits at p+i for every
    * slot) — array HOFs, zero explodes. */
  private def scorePhrase(pos: DataFrame, stats: DataFrame,
      phrase: Seq[String], topK: Int, k1: Double, b: Double): DataFrame = {
    val joined = joinTermPositions(pos, phrase)
    val inter = phrase.indices.tail.foldLeft(col("__p0")) { (acc, i) =>
      array_intersect(acc, transform(col(s"__p$i"), x => x - i))
    }
    scorePseudoTerm(
      joined.select(col("doc_id"), col("dl"),
        size(inter).cast("long").as("tf")),
      stats, "phrase_tf", topK, k1, b)
  }

  /** Proximity occurrences = anchor positions of the FIRST term such
    * that every other term has an occurrence within `window` tokens
    * — unordered (|q − p| <= window: "all terms near each other",
    * the looser contamination-hunt primitive) or ORDERED
    * (p < q <= p + window: every other term AFTER the anchor within
    * the window — the directional middle ground between d124's bag
    * and d118's exact sequence; a quote whose interior words were
    * edited still matches ordered-proximity but not the phrase).
    * Anchoring on one designated term makes tf well-defined and
    * engine-reproducible: counting all satisfying TUPLES would
    * explode combinatorially and counting distinct windows is
    * ambiguous at overlaps. Pure array HOFs (filter + exists), zero
    * explodes. */
  private def scoreProximity(pos: DataFrame, stats: DataFrame,
      terms: Seq[String], window: Int, topK: Int, k1: Double,
      b: Double, ordered: Boolean): DataFrame = {
    val joined = joinTermPositions(pos, terms)
    val anchors = filter(col("__p0"), p =>
      terms.indices.tail
        .map(i => exists(col(s"__p$i"), q =>
          if (ordered) q > p && q <= p + window
          else abs(q - p) <= window))
        .reduce(_ && _))
    scorePseudoTerm(
      joined.select(col("doc_id"), col("dl"),
        size(anchors).cast("long").as("tf")),
      stats, "prox_tf", topK, k1, b)
  }

  /** Exact-PHRASE BM25 top-k over a fresh corpus scan — "find every
    * document containing this exact word sequence, best first": the
    * targeted-exploration / contamination-hunt primitive where bag-
    * of-words matching is too loose (a benchmark question leaks as a
    * SEQUENCE, not a term set). Occurrences are counted by
    * intersecting slot-shifted per-term position lists (a phrase
    * occurs at p iff term_i sits at p+i for every slot), then the
    * phrase scores as one pseudo-term under the standard Okapi
    * weight. Returns (doc_id, phrase_tf, bm25), score rounded to 4
    * decimals, ordered (bm25 desc, doc_id), top-k via
    * TakeOrderedAndProject. A one-word phrase degenerates to
    * [[bm25TopK]] on that term, as it should. */
  /** The (pos, stats) pair of a fresh positional scan: per-doc
    * positional rows for `terms` only (the isin filter sits under
    * the Generate, so only the query terms' rows ever leave the
    * scan) plus the one-row corpus stats. Shared by the fresh phrase
    * and proximity paths. */
  private def freshPositions(docs: DataFrame, idCol: String,
      textCol: String, tokenizer: String,
      terms: Seq[String]): (DataFrame, DataFrame) = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val toks = live.select(col(idCol).as("doc_id"),
      tokensFor(tokenizer, col(textCol)).as("tk"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("tk")).cast("long")).as("sum_dl"))
    val pos = toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(SketchFunctions.termPositions(col("tk"))).as("e"))
      .filter(col("e.term").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("e.term").as("term"),
        col("e.positions").as("positions"))
    (pos, stats)
  }

  /** The positional rows + stats of an INDEX serve: only the query
    * terms' bucket-pruned postings and the one-row `_meta`. */
  private def indexPositions(spark: SparkSession, name: String,
      terms: Seq[String]): (DataFrame, DataFrame) = {
    val pos = spark.table(s"${name}_postings")
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("term"), col("positions"))
    val stats = spark.table(s"${name}_meta")
      .select(col("n_docs"), col("sum_dl"))
    (pos, stats)
  }

  def bm25PhraseTopK(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws"): DataFrame = {
    requirePhrase("bm25PhraseTopK", phrase, tokenizer)
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val (pos, stats) = freshPositions(docs, idCol, textCol, tokenizer,
      phrase.distinct)
    scorePhrase(pos, stats, phrase, topK, k1, b)
  }

  /** [[bm25PhraseTopK]] served from a [[buildBm25Index]] index — the
    * positional payoff: phrase search over 100 TB without
    * re-tokenizing anything, reading only the phrase terms' buckets
    * (the postings carry positions precisely for this). Bit-equal to
    * the fresh scan (shared [[scorePhrase]] tail; the d119 oracle is
    * the fresh path's SQL verbatim). */
  def bm25PhraseAgainstIndex(spark: SparkSession, name: String,
      phrase: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws"): DataFrame = {
    requirePhrase("bm25PhraseAgainstIndex", phrase, tokenizer)
    require(topK >= 1, s"topK must be >= 1, got $topK")
    requireFamily("bm25PhraseAgainstIndex", name,
      bm25Meta(spark, name)._2, tokenizer)
    val (pos, stats) = indexPositions(spark, name, phrase.distinct)
    scorePhrase(pos, stats, phrase, topK, k1, b)
  }

  private def requireProximity(op: String, terms: Seq[String],
      window: Int, tokenizer: String): Unit = {
    require(terms.size >= 2,
      s"$op: need >= 2 terms (one term has no proximity), got $terms")
    require(terms.distinct == terms,
      s"$op: terms must be distinct, got $terms")
    require(window >= 1, s"$op: window must be >= 1, got $window")
    requireQueryTerms(op, tokenizer, terms)
  }

  /** PROXIMITY BM25 top-k over a fresh corpus scan — "find documents
    * where all these terms occur within `window` tokens of each
    * other, best first": the looser half of positional retrieval
    * ([[bm25PhraseTopK]] demands the exact sequence; a paraphrased
    * benchmark leak or a co-mention survives word reordering, and
    * this catches it). An occurrence is an anchor position of
    * `terms.head` with every other term within ±`window` tokens
    * ([[scoreProximity]]); occurrences score as ONE pseudo-term
    * under the standard Okapi weight. Returns (doc_id, prox_tf,
    * bm25), score rounded to 4 decimals, ordered (bm25 desc,
    * doc_id), top-k via TakeOrderedAndProject. */
  def bm25ProximityTopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], window: Int, topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws", ordered: Boolean = false): DataFrame = {
    requireProximity("bm25ProximityTopK", terms, window, tokenizer)
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val (pos, stats) = freshPositions(docs, idCol, textCol, tokenizer,
      terms)
    scoreProximity(pos, stats, terms, window, topK, k1, b, ordered)
  }

  /** [[bm25ProximityTopK]] served from a [[buildBm25Index]] index —
    * same positional postings the phrase path reads, same pruned
    * scan of only the query terms' buckets, bit-equal to the fresh
    * scan (shared [[scoreProximity]] tail; the d124 oracle is the
    * fresh path's SQL verbatim). */
  def bm25ProximityAgainstIndex(spark: SparkSession, name: String,
      terms: Seq[String], window: Int, topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws", ordered: Boolean = false): DataFrame = {
    requireProximity("bm25ProximityAgainstIndex", terms, window,
      tokenizer)
    require(topK >= 1, s"topK must be >= 1, got $topK")
    requireFamily("bm25ProximityAgainstIndex", name,
      bm25Meta(spark, name)._2, tokenizer)
    val (pos, stats) = indexPositions(spark, name, terms)
    scoreProximity(pos, stats, terms, window, topK, k1, b, ordered)
  }

  /** Match EXPLANATION for a BM25 result — the positional backing of
    * snippet/highlight generation, and the "WHY did this doc rank"
    * answer an operator debugging a retrieval stack asks first: for
    * each of the query's top-k documents, every query term's
    * occurrence positions (1-based token offsets, straight from the
    * positional postings — the corpus is never re-tokenized).
    * Returns (doc_id, bm25, term, pos), one row per occurrence;
    * terms a document lacks contribute no rows. Per-batch cost: the
    * top-k serve + ONE more bucket-pruned read of the same query
    * terms' postings joined on the k doc ids — the explanation is
    * k·|Q| narrow rows, never a corpus pass. */
  def matchPositionsAgainstIndex(spark: SparkSession, name: String,
      queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws"): DataFrame = {
    val top = bm25TopKAgainstIndex(spark, name, queryTerms, topK,
      k1, b, tokenizer).select(col("doc_id"), col("bm25"))
    val pos = spark.table(s"${name}_postings")
      .filter(col("term").isin(queryTerms: _*))
      .select(col("doc_id"), col("term"), col("positions"))
    top.join(pos.hint("SHUFFLE_HASH"), Seq("doc_id"))
      .select(col("doc_id"), col("bm25"), col("term"),
        explode(col("positions")).as("pos"))
  }

  /** SNIPPET WINDOW selection — [[matchPositionsAgainstIndex]]'s
    * positions composed into the span a result page actually shows:
    * for each of the query's top-k documents, the best window of
    * `window` tokens, where best = most DISTINCT query terms
    * covered, then most total occurrences, then earliest start (all
    * three deterministic, so both engines pick one window). Windows
    * are anchored at term occurrences — the optimal window can
    * always be slid left until its first hit is at its left edge,
    * so anchoring at hits loses nothing.
    *
    * Returns one row per top-k doc: (doc_id, bm25, win_start,
    * win_end, n_terms, n_hits), win_* 1-based inclusive token
    * offsets — the caller slices its own stored text (the index
    * stores positions, not text; that projection stays prunable).
    *
    * Scale shape: everything after the serve is k·|Q|-bounded — the
    * positions read is one more bucket-pruned postings scan joined
    * on k doc ids; the anchor×hit window join is per-doc quadratic
    * in the doc's QUERY-TERM occurrence count (tens, not doc
    * length), never a corpus pass; the per-doc argmax is a bounded
    * aggregate via max_by over a struct ordering, not a rank
    * window. */
  def snippetWindowsAgainstIndex(spark: SparkSession, name: String,
      queryTerms: Seq[String], topK: Int, window: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tokenizer: String = "ws"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val hits = matchPositionsAgainstIndex(spark, name, queryTerms,
      topK, k1, b, tokenizer)
      .localCheckpoint(true) // anchors AND members read it (k·|Q| rows)
    val anchors = hits.select(col("doc_id"), col("bm25"),
      col("pos").as("a"))
    val scored = anchors
      .join(hits.select(col("doc_id"), col("term"), col("pos"))
        .hint("SHUFFLE_HASH"), Seq("doc_id"))
      .filter(col("pos") >= col("a") &&
        col("pos") < col("a") + lit(window))
      .groupBy(col("doc_id"), col("bm25"), col("a"))
      .agg(countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_hits"))
    // per-doc argmax by (n_terms desc, n_hits desc, a asc): encode
    // the preference as one orderable struct and take max_by
    scored.groupBy(col("doc_id"), col("bm25"))
      .agg(expr(
        "max_by(struct(a, n_terms, n_hits), " +
          "struct(n_terms, n_hits, -a))").as("w"))
      .select(col("doc_id"), col("bm25"),
        col("w.a").as("win_start"),
        (col("w.a") + lit(window - 1)).as("win_end"),
        col("w.n_terms"), col("w.n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Ranked-retrieval EVAL metrics — the scorer behind every
    * retrieval decision this engine's other operators set up (which
    * tokenizer family, how much shortlist, which fusion): given a
    * RUN (query_id, rank, doc_id — any ranked list: BM25, dense,
    * fused) and QRELS (query_id, doc_id, grade — graded relevance,
    * grade > 0 relevant), one row per query:
    *
    *   - `rr` — 1/rank of the first relevant doc anywhere in the
    *     run's list (the run is already top-k-bounded by its
    *     producer); 0 when none retrieved. Mean over queries is MRR.
    *   - `dcg` / `ndcg` — Σ grade/log2(rank+1) over relevant
    *     retrieved docs at rank <= k (Järvelin & Kekäläinen's
    *     graded form with linear gain), normalized by the ideal DCG
    *     of the query's own grades sorted descending, truncated at
    *     k. log2 is spelled ln(x)/ln(2) so both engines evaluate the
    *     identical expression tree.
    *   - `recall_at_k` — relevant retrieved at rank <= k over the
    *     query's total relevant count.
    *
    * Queries in the run with no relevant docs in qrels score 0
    * across the board (an eval harness must surface them, not drop
    * them). All metrics rounded to 4 decimals (§6).
    *
    * Scale shape: the run is top-k-bounded per query and qrels is an
    * eval set — one SHUFFLE_HASH equi-join on (query_id, doc_id),
    * one per-query bounded aggregate each side; the ideal-DCG side
    * sorts each query's own grade list (bounded by its qrels count)
    * with array HOFs. Nothing corpus-sized anywhere. */
  def rankedEval(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ln2 = log(lit(2.0))
    // defensive dedup on BOTH inputs: a duplicated (query_id, doc_id)
    // pair would multiply through the hits join and push dcg /
    // recall_at_k past their bounds — a ranked list keeps its best
    // (min) rank, judgments keep their highest grade
    val runD = run
      .groupBy(col("query_id"), col("doc_id"))
      .agg(min(col("rank")).as("rank"))
    val rel = qrels
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("grade")).cast("double").as("grade"))
      .filter(col("grade") > 0)
    // ideal side: each query's own grades, sorted desc, truncated at
    // k, discounted by position
    val ideal = rel.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"),
        slice(sort_array(collect_list(col("grade")), asc = false),
          1, k).as("__g"))
      .select(col("query_id"), col("n_rel"),
        aggregate(
          zip_with(col("__g"),
            sequence(lit(2), size(col("__g")) + 1),
            (g, pos) => g / (log(pos.cast("double")) / ln2)),
          lit(0.0), (acc, x) => acc + x).as("idcg"))
    val hits = runD
      .join(rel.hint("SHUFFLE_HASH"), Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg((lit(1.0) / min(col("rank"))).as("rr"),
        sum(when(col("rank") <= k,
          col("grade") / (log((col("rank") + 1).cast("double")) / ln2))
          .otherwise(0.0)).as("dcg"),
        sum(when(col("rank") <= k, 1L).otherwise(0L)).as("hits_at_k"))
    // base = run queries ∪ GRADED-relevant judged queries: a query
    // whose producer returned nothing must SCORE 0, not vanish —
    // dropping it would inflate every downstream mean. The judged
    // side unions `rel` (grade > 0), NOT raw qrels: trec_eval
    // convention — a query judged only with grade-0 rows and absent
    // from the run has no relevant documents to find and must not
    // deflate the means with an unearnable all-zero row
    runD.select(col("query_id"))
      .union(rel.select(col("query_id")))
      .distinct()
      .join(broadcast(ideal), Seq("query_id"), "left")
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), lit(k).as("k"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        round(coalesce(col("rr"), lit(0.0)), 4).as("rr"),
        round(coalesce(col("dcg"), lit(0.0)), 4).as("dcg"),
        round(when(coalesce(col("idcg"), lit(0.0)) > 0.0,
          coalesce(col("dcg"), lit(0.0)) / col("idcg"))
          .otherwise(0.0), 4).as("ndcg"),
        round(when(coalesce(col("n_rel"), lit(0L)) > 0,
          coalesce(col("hits_at_k"), lit(0L)).cast("double") /
            col("n_rel").cast("double"))
          .otherwise(0.0), 4).as("recall_at_k"))
  }

  /** Retrieval-quality DECISION CARD — the artifact that turns
    * [[rankedEval]]'s metrics into the choice an operator actually
    * makes (the d116 reband sweep / d117-d123 recall sweeps'
    * discipline, applied to retrieval): ONE qrels set, one probe
    * batch, and a row of mean metrics per ARM —
    *
    *   - `bm25_ws` / `bm25_norm` / `bm25_uni`: the same probe texts
    *     tokenized by each tokenizer family, run through the same
    *     BM25 (query-by-example, self excluded) — "which family
    *     should this corpus's index be built with" as a measured
    *     number instead of a judgment call;
    *   - `dense` (when a dense run is supplied): the embedding leg
    *     alone;
    *   - `hybrid_rrf`: the `hybridLex` family's lexical leg RRF-fused
    *     with the dense leg — "is fusion worth it HERE".
    *
    * Output: (arm, k, n_queries, mrr, mean_ndcg, mean_recall), means
    * of the per-query [[rankedEval]] rows (already rounded to 4
    * decimals each; the means rounded again — both engines average
    * identical doubles), ordered by arm.
    *
    * Scale shape: everything is EVAL-sized — probes and qrels are
    * operator-curated sets, each lexical arm is one term-filtered
    * corpus scan (the [[bm25PerQueryRanks]] shape: only the probe
    * terms' postings ever shuffle), the eval joins are top-k × |Q|
    * rows. Arms run as independent narrow plans; nothing
    * corpus-sized is ever collected or re-joined across arms. */
  def retrievalQualityCard(docs: DataFrame, idCol: String,
      textCol: String, probes: DataFrame, queryIdCol: String,
      qtextCol: String, qrels: DataFrame, k: Int, topK: Int = 20,
      k1: Double = 1.2, b: Double = 0.75,
      denseRun: Option[DataFrame] = None,
      hybridLex: String = "norm",
      indexedArms: Map[String, String] = Map.empty,
      lmMu: Option[Double] = None): DataFrame = {
    require(k >= 1 && topK >= k,
      s"need topK >= k >= 1, got k=$k topK=$topK")
    val probeQ = probes.select(col(queryIdCol).as("query_id"),
      col(qtextCol).as("qtext"))
    // `indexedArms` maps a tokenizer family to a PERSISTENT BM25
    // index name built at that family: that arm serves through the
    // index (bm25RanksAgainstIndex — bit-equal to the fresh scan,
    // the d112 twin proof) instead of rescanning the corpus — the
    // production posture once the card is run repeatedly
    def lexRun(fam: String): DataFrame = {
      val q = probeQ.select(col("query_id"),
        tokensFor(fam, col("qtext")).as("terms"))
      indexedArms.get(fam) match {
        case Some(idx) =>
          bm25RanksAgainstIndex(docs.sparkSession, idx, q, "query_id",
            "terms", topK = topK, k1 = k1, b = b,
            excludeSelf = true, tokenizer = fam)
            .select(col("query_id"), col("rank"), col("doc_id"))
        case None =>
          bm25PerQueryRanks(docs, idCol, textCol, q,
            "query_id", "terms", topK = topK, k1 = k1, b = b,
            excludeSelf = true, tokenizer = fam)
            .select(col("query_id"), col("rank"), col("doc_id"))
      }
    }
    // Every producer run is MATERIALIZED once (eager localCheckpoint,
    // guide §3.3) and the materializations OVERLAP (graft.Par, guide
    // §2.6): the runs are top-k × |probes| rows — eval-sized — but
    // each fed several arms (the hybridLex run its own arm AND the
    // fusion leg; the dense run three arms; the LM run two), and
    // qrels feeds every arm's rankedEval, so the un-pinned plan
    // re-ran each producer per consuming arm. Identical rows, same
    // arms, same oracle SQL.
    val qrelsP = qrels.localCheckpoint(true)
    val lexRuns = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    var denseP: Option[DataFrame] = None
    var lmP: Option[DataFrame] = None
    graft.Par.run(
      Dedup.TokenizerFamilies.map(f => () => {
        lexRuns.put(f, lexRun(f).localCheckpoint(true)); ()
      }) ++
        denseRun.toSeq.map(dr => () => {
          denseP = Some(dr
            .select(col("query_id"), col("rank"), col("doc_id"))
            .localCheckpoint(true)); ()
        }) ++
        lmMu.toSeq.map(mu => () => {
          // `lmMu` adds the OTHER ranking model as a measured arm:
          // `lm_dirichlet` is the hybridLex-family Dirichlet QL run
          // (the card answers "BM25 or LM?" with a number); it
          // serves from the hybridLex family's persistent index when
          // one is supplied — the same twin discipline as the
          // lexical arms (one index, two ranking models)
          val q = probeQ.select(col("query_id"),
            tokensFor(hybridLex, col("qtext")).as("terms"))
          lmP = Some((indexedArms.get(hybridLex) match {
            case Some(idx) =>
              lmDirichletRanksAgainstIndex(docs.sparkSession, idx, q,
                "query_id", "terms", topK = topK, mu = mu,
                excludeSelf = true, tokenizer = hybridLex)
                .select(col("query_id"), col("rank"), col("doc_id"))
            case None =>
              lmDirichletPerQueryRanks(docs, idCol, textCol, q,
                "query_id", "terms", topK = topK, mu = mu,
                excludeSelf = true, tokenizer = hybridLex)
                .select(col("query_id"), col("rank"), col("doc_id"))
          }).localCheckpoint(true)); ()
        }): _*)
    val arms: Seq[(String, DataFrame)] =
      Dedup.TokenizerFamilies.map(f => (s"bm25_$f", lexRuns.get(f))) ++
        denseP.toSeq.flatMap { d =>
          Seq(("dense", d),
            ("hybrid_rrf", rrfFuse(lexRuns.get(hybridLex), d, k0 = 60,
              topK = topK)
              .select(col("query_id"), col("rank"), col("doc_id")))) ++
            lmP.toSeq.map(lm => ("hybrid_rrf_lm",
              rrfFuse(lm, d, k0 = 60, topK = topK)
                .select(col("query_id"), col("rank"), col("doc_id"))))
        } ++
        lmP.toSeq.map(lm => ("lm_dirichlet", lm))
    arms.map { case (name, run) =>
      rankedEval(run, qrelsP, k)
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("rr")), 4).as("mrr"),
          round(avg(col("ndcg")), 4).as("mean_ndcg"),
          round(avg(col("recall_at_k")), 4).as("mean_recall"))
        .select(lit(name).as("arm"), lit(k).as("k"),
          col("n_queries"), col("mrr"), col("mean_ndcg"),
          col("mean_recall"))
    }.reduce(_ unionByName _).orderBy(col("arm"))
  }

  /** Per-document TF-IDF keyword extraction — the tagging pass that
    * labels every document with its most distinctive terms (topical
    * routing, cluster naming, index-card metadata): score(d, t) =
    * tf · ln(N/df), each document's topK terms by (score desc, term)
    * with the tie-break making the output deterministic.
    *
    * Scale shape: ONE term-keyed exchange serves the whole plan —
    * the (doc, term) tf aggregate, the df aggregate AND the tf×df
    * join all run on it without re-shuffling, because a partitioning
    * on `term` satisfies every downstream clustering ({term} ⊆
    * {doc, term}); N is a one-row broadcast. The per-doc top-k is a
    * doc-keyed aggregate whose collect_list is bounded by the
    * document's own distinct-term count (the d41 per-doc-array
    * bound), sliced after an array_sort — never a corpus-wide rank
    * window. Returns (doc_id, rank, term, score), score rounded to
    * 4 decimals BEFORE ranking (§6 rule — both engines rank the
    * identical doubles). Null id/text rows are dropped. */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val nDocs = live.agg(count(lit(1)).as("n_docs"))
    val keyed = live
      .select(col(idCol).as("doc_id"),
        explode(Dedup.tokens(col(textCol))).as("term"))
      .repartition(col("term"))
    val tf = keyed.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val scored = tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df_t").cast("double")),
          4).as("score"))
    scored.groupBy(col("doc_id"))
      .agg(slice(array_sort(collect_list(struct(
        (-col("score")).as("ns"), col("term"), col("score")))),
        1, topK).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).as("rank"),
        col("col.term").as("term"), col("col.score").as("score"))
  }
}
