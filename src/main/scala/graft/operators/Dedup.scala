package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions
import graft.sources.Bucketing

/** Deduplication operators for large-scale text corpora.
  *
  * Sketches (minhash/simhash/winnow) are native Catalyst expressions
  * (graft.functions.SketchFunctions) — single tight loops per row,
  * not interpreted per-element lambdas. Candidate generation is
  * always *equi-join keyed* (hash bucket, LSH band, simhash chunk) so
  * the shuffle scales linearly in corpus size: no O(n²) comparison
  * ever happens except inside a bucket.
  *
  * Scale posture (100 TB): the explode(bands) → band-join stage
  * carries only (band key, doc id) — candidate pairs then re-join
  * the shingle sets by id, so the wide array payload crosses the
  * network once per doc, not once per band. Skewed buckets (e.g.
  * boilerplate dups) are handled by AQE skew-join splitting.
  */
object Dedup {

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** The retrieval/dedup tokenizer FAMILIES — ONE home for the
    * definition both surfaces share (the BM25 index and the dedup
    * index record the family in their `_meta` and refuse
    * cross-family use; see [[graft.operators.Retrieval]] for the
    * full family rationale): `ws` bare case-folded whitespace split;
    * `norm` strips leading/trailing ASCII `[^a-z0-9]` runs per token
    * and drops emptied tokens; `uni` the same with Unicode
    * `\p{L}\p{N}` classes. */
  val TokenizerFamilies: Seq[String] = Seq("ws", "norm", "uni")

  private[operators] def boundaryClass(family: String): String =
    family match {
      case "norm" => "^[^a-z0-9]+|[^a-z0-9]+$"
      case "uni"  => "^[^\\p{L}\\p{N}]+|[^\\p{L}\\p{N}]+$"
    }

  /** The token array of `text` under a tokenizer family — shared by
    * every fresh scan, every BM25 index write and every shingle
    * derivation, so a family can never mean two things. */
  def tokensFor(family: String, text: Column): Column = family match {
    case "ws" => tokens(text)
    case "norm" | "uni" =>
      filter(
        transform(tokens(text),
          t => regexp_replace(t, boundaryClass(family), "")),
        t => length(t) > 0)
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer family '$other' — one of $TokenizerFamilies")
  }

  /** Adds `out` = distinct word k-shingles of `textCol`; documents
    * shorter than k words get their whole text as a single shingle.
    * Native one-pass expression (the HOF slice-per-window form was
    * interpreted and re-evaluated the token split per shingle).
    * `tokenizer` picks the family the words come from — on real
    * punctuation-bearing text the `ws` family makes `fox!` and `fox`
    * different shingle words, so a trivially re-punctuated near-dup
    * shares NO shingles and sails through the screen; the normalized
    * families close that hole (the D93 argument applied to dedup). */
  def withShingles(df: DataFrame, textCol: String, k: Int,
      out: String = "sh", tokenizer: String = "ws"): DataFrame =
    df.withColumn(out,
      SketchFunctions.wordShingles(tokensFor(tokenizer, col(textCol)), k))

  /** Sorted distinct per-shingle hashes of a string-array column —
    * the compact set representation the Jaccard merge-join verifies
    * against. Jaccard is basis-invariant (any injective-enough
    * per-element hash preserves intersections), so the basis follows
    * the signature family: xxhash64 for the production path, and
    * [[md5Hash60]] wherever the hash set is STORED as a dedup
    * index's `_docs` column — the md5 basis is the sufficient
    * statistic [[rebandDedupIndex]] re-derives signatures from
    * (md5Minhash30 is universal-hash mins over md5Hash60 low bits,
    * so a stored md5 set re-bands at ANY (bands, numPerms); an
    * xxhash64 set cannot — [[graft.functions.SketchKernels
    * .minhash64]] seeds each permutation over raw shingle bytes). */
  private def hashedSet(sh: Column, md5Basis: Boolean = false): Column =
    sort_array(array_distinct(transform(sh,
      s => if (md5Basis) md5Hash60(s) else xxhash64(s))))

  /** Exact dedup: group by content hash, keep the smallest id.
    * Returns (content_hash, keeper_id, n_copies). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** MinHash + LSH near-dup pairs.
    *
    * shingle → minhash(numPerms) → band (bands × rowsPerBand) →
    * equi-join on (band_id, band_hash) over (key, id) rows only →
    * candidate id pairs → re-join hashed shingle sets by id → true
    * Jaccard via a sorted-merge expression → pairs >= threshold.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, each pair once.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numPerms: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      tokenizer: String = "ws"): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands

    // NOTE: the shingle pipeline is evaluated once per consuming
    // branch (banding, verification) — deriving the signature from
    // pre-hashed longs was measured SLOWER because it drags the
    // sort/distinct set construction into the banding branch too.
    val withSets = withShingles(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__graft_text")),
      "__graft_text", shingleK, "sh", tokenizer)
      .select(col("doc_id"), col("sh"))
    val withSig = withSets
      .withColumn("sig", SketchFunctions.minhash64(col("sh"), numPerms))
    bandPairsFromSigs(withSig, r, bands, threshold)
  }

  /** The LSH banding + verification machinery of [[minhashPairs]],
    * over precomputed `(doc_id, sh, sig)` rows — `sig` is any minhash
    * signature array whose band-slice equality marks a candidate.
    * Split out so the oracle twin ([[md5MinhashPairs]]) can drive the
    * IDENTICAL candidate-generation and verification pipeline with an
    * engine-reproducible signature. */
  private[graft] def bandPairsFromSigs(withSig: DataFrame, r: Int,
      bands: Int, threshold: Double): DataFrame = {
    // narrow banding rows: (band_id, band_hash, doc_id, sz) — no
    // arrays. sz (the shingle-set cardinality, free: shingles are
    // already distinct) rides along to power the size-ratio
    // pre-filter below.
    val banded = withSig.select(col("doc_id"), size(col("sh")).as("sz"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + 1, lit(r))))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")

    // Size-ratio pre-filter: jaccard(A,B) >= t requires
    // |A∩B| >= t·|A∪B| >= t·max(|A|,|B|), and |A∩B| <= min(|A|,|B|),
    // so min >= t·max is NECESSARY — pruning on it loses no true
    // pair. At low thresholds the band join's candidate set is wide
    // by design (r=1 catches j=t with p≈1, and with it a sea of
    // low-j junk); this kills the junk on two ints per pair BEFORE
    // the distinct and the wide hashed-set verification joins.
    // Explicit shuffle below the two alias branches → identical
    // Exchange subtrees → ReuseExchange materializes the
    // scan+shingle+minhash+band pipeline ONCE for the self-join (the
    // join-induced exchanges above per-side Projects do not reuse).
    val bandKeyed = banded.repartition(col("band_id"), col("band_hash"))
    val candidates = bandKeyed.as("a")
      .join(bandKeyed.as("b"), Seq("band_id", "band_hash"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        least(col("a.sz"), col("b.sz")).cast("double") >=
          lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

    // verification: re-join the hashed sets by id, sorted-merge
    // Jaccard. NO forced co-partitioning here (measured): candidate
    // sets are usually small enough that AQE broadcast-joins them
    // into unshuffled set scans — forcing a doc_id shuffle would move
    // the wide hashed-set arrays to save a second (cheaper) shingle
    // pass. Column pruning drops `sig` from this branch.
    val sets = withSig.select(col("doc_id"), hashedSet(col("sh")).as("shh"))
    candidates
      .join(sets.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("shh", "shh_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("shh", "shh_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        SketchFunctions.jaccardSorted(col("shh_a"), col("shh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over lowercased word tokens (native expression;
    * bit-compatible with the seed-42 xxhash64 vote formulation). */
  def simhash(text: Column): Column =
    SketchFunctions.simhash64(tokens(text))

  /** SimHash near-dup pairs with hamming distance <= maxDist.
    *
    * Candidate generation: split the 64-bit simhash into maxDist + 1
    * chunks (widths as equal as 64 allows); by pigeonhole any pair
    * with hamming <= maxDist differs in at most maxDist chunks, so it
    * shares at least one identical chunk. Full recall at any
    * maxDist <= 63; the cost is chunk width 64/(maxDist+1), so large
    * maxDist means short chunks and more random bucket collisions —
    * the standard multi-index hamming-search tradeoff.
    *
    * Within a (chunk_id, chunk_value) bucket, pairs are enumerated by
    * a lazy Generator over the collected members (tight popcount
    * loop), NOT an equi-self-join: simhash bits of natural text are
    * biased, so bucket sizes skew hard and the join form grinds
    * Σ|bucket|² rows of join machinery in few tasks. Only surviving
    * pairs materialize. Exact-dedup identical texts first (see
    * [[exact]]) so identical-doc floods collapse to one member.
    *
    * Skew guard: simhash bit bias can funnel a large corpus fraction
    * into ONE (chunk_id, chunk_val) bucket (41 % of docs at sf0.1),
    * which would mean a single-task B²/2 popcount loop and a
    * collect_list that has to fit one executor. Buckets above
    * `bucketCap` members are therefore re-keyed by a SECOND
    * maxDist+1-way chunking of the bit-ROTATED simhash: a pair with
    * hamming <= maxDist has its <= maxDist differing bits spread over
    * any fixed n-way partition of the 64 bits, so by the same
    * pigeonhole it shares at least one rotated chunk — recall stays
    * complete, while the rotation (half a chunk width) makes the
    * secondary boundaries straddle the primary ones so the split has
    * fresh bits to discriminate on. One split level with a documented
    * cap: a secondary bucket is ~|bucket|/2^w of the primary, so the
    * residual quadratic term drops by orders of magnitude. A
    * pathological corpus where a SECONDARY bucket still exceeds
    * `secondaryCap` members (a flood of near-identical sketches — the
    * rotation has no fresh bits left to split on) fails LOUDLY with a
    * descriptive error instead of silently re-creating the quadratic
    * single-task loop one level down; exact-dedup identical texts
    * first, or raise `secondaryCap` to knowingly accept the cost.
    *
    * Null semantics: docs with null id or null text (null simhash)
    * are excluded — they can't meaningfully pair.
    * Returns (id_a, id_b, hamming).
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      bucketCap: Int = 4096,
      secondaryCap: Int = 1 << 16): DataFrame = {
    val idT = docs.schema(idCol).dataType
    require(isIntegral(idT),
      s"simhashPairs requires an integral id column, got ${idT.simpleString}")
    val withSim = docs.select(col(idCol).cast("long").as("doc_id"),
      simhash(col(textCol)).as("sim"))
      .filter(col("doc_id").isNotNull && col("sim").isNotNull)
    simhashPairsFromSigs(withSim, maxDist, bucketCap, secondaryCap)
      .select(col("id_a").cast(idT).as("id_a"),
        col("id_b").cast(idT).as("id_b"), col("hamming"))
  }

  /** The chunk-bucket + skew-guard + popcount machinery of
    * [[simhashPairs]], over precomputed `(doc_id: long, sim: long)`
    * signature rows. Split out so the oracle twin
    * ([[md5SimhashPairs]]) can drive the IDENTICAL candidate
    * pipeline with an engine-reproducible signature. Returns
    * (id_a, id_b, hamming) with long ids. */
  /** The pigeonhole chunk columns of a 64-bit signature at `maxDist`:
    * maxDist+1 chunks (two sigs within hamming maxDist share at
    * least one chunk verbatim), the first 64 % n chunks taking the
    * extra bit. Shared by [[simhashPairsFromSigs]] (in-corpus
    * pairing) and the persistent signature index below (batch
    * screening), so the two candidate generators cannot drift. */
  private def simChunkCols(word: Column, maxDist: Int): Seq[Column] = {
    val n = maxDist + 1
    val widths = Array.tabulate(n)(i => 64 / n + (if (i < 64 % n) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    offsets.zip(widths).map { case (off, w) =>
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(word, off).bitwiseAND(lit(mask))
    }.toIndexedSeq
  }

  private[graft] def simhashPairsFromSigs(
      withSim: DataFrame,
      maxDist: Int,
      bucketCap: Int = 4096,
      secondaryCap: Int = 1 << 16): DataFrame = {
    // guards live HERE, below every caller (production simhashPairs
    // AND the md5 oracle twin): maxDist > 63 would make zero-width
    // chunks (mask 0) that silently funnel the whole corpus into one
    // bucket
    require(maxDist >= 0 && maxDist <= 63,
      s"maxDist must be in [0, 63], got $maxDist")
    require(bucketCap >= 2, s"bucketCap must be >= 2, got $bucketCap")
    require(secondaryCap >= bucketCap,
      s"secondaryCap ($secondaryCap) must be >= bucketCap ($bucketCap)")
    // maxDist+1 chunks; the first 64 % n chunks take the extra bit
    val n = maxDist + 1
    val widths = Array.tabulate(n)(i => 64 / n + (if (i < 64 % n) 1 else 0))
    def chunksOf(word: Column): Seq[Column] = simChunkCols(word, maxDist)
    val chunked = withSim.select(col("doc_id"), col("sim"),
      posexplode(array(chunksOf(col("sim")): _*)))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "chunk_val")

    // per-bucket sizes, equi-joined back so oversized buckets can
    // take the split path. ONE explicit shuffle on the bucket key
    // below both consumers: the count and the join then share the
    // same Exchange subtree (guaranteed ReuseExchange — the implicit
    // exchanges would differ, the count's carrying a partial
    // aggregate below it), so the scan+sketch+explode pipeline runs
    // once, and everything downstream (count, join, both
    // collect_list groupBys) rides the same partitioning with zero
    // further exchanges.
    val keyed = chunked.repartition(col("chunk_id"), col("chunk_val"))
    val sizes = keyed.groupBy(col("chunk_id"), col("chunk_val"))
      .agg(count(lit(1)).as("bucket_n"))
    val withN = keyed.join(sizes, Seq("chunk_id", "chunk_val"))

    val smallPairs = withN.filter(col("bucket_n") <= bucketCap)
      .groupBy(col("chunk_id"), col("chunk_val"))
      .agg(collect_list(struct(col("doc_id"), col("sim"))).as("members"))
      .select(SketchFunctions.hammingPairs(col("members"), maxDist))

    // oversized buckets: sub-bucket by chunks of the rotated simhash
    val rot = math.max(widths(0) / 2, 1)
    val rotated = shiftrightunsigned(col("sim"), rot)
      .bitwiseOR(shiftleft(col("sim"), 64 - rot))
    val bigPairs = withN.filter(col("bucket_n") > bucketCap)
      .select(col("chunk_id"), col("chunk_val"), col("doc_id"), col("sim"),
        posexplode(array(chunksOf(rotated): _*)))
      .withColumnRenamed("pos", "sec_id")
      .withColumnRenamed("col", "sec_val")
      .groupBy(col("chunk_id"), col("chunk_val"), col("sec_id"), col("sec_val"))
      .agg(collect_list(struct(col("doc_id"), col("sim"))).as("members"))
      .select(SketchFunctions.hammingPairs(col("members"), maxDist,
        memberCap = secondaryCap))

    smallPairs.unionAll(bigPairs)
      .distinct()
  }

  // ---------------------------------------------------------------
  // Oracle twins: the same candidate-generation machinery fed with
  // ENGINE-REPRODUCIBLE signatures, so an external SQL engine
  // (DuckDB, the driver's oracle) can recompute the signatures from
  // raw text and re-derive the exact pair sets — converting the
  // bucketing/banding machinery (the part most likely to silently
  // lose recall) from "property-spec says so" to hash-matched.
  // The production paths keep the faster native XXH64 sketches; the
  // twins exist for verification, not throughput.
  // ---------------------------------------------------------------

  /** Engine-independent 60-bit string hash: the integer value of the
    * first 15 hex chars of md5 — reproducible in any engine with an
    * md5 function (DuckDB: `('0x'||substr(md5(s),1,15))::BIGINT`).
    * 60 bits keeps every downstream product/sum inside a signed 64-bit
    * range in both engines. Always >= 0. */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Prime modulus + deterministic universal-hash constants for the
    * md5-minhash twin: m_j = min over shingles of (a_j·h + b_j) mod p
    * with h the low 30 bits of [[md5Hash60]] (so a_j·h < 2^60 — exact
    * in BIGINT arithmetic in both engines). Delegates to the kernel's
    * single source ([[graft.functions.SketchKernels]]) so the DuckDB
    * oracle SQL is generated from the SAME constants the codegen'd
    * signature pass reads. */
  private[graft] val mhPrime = graft.functions.SketchKernels.mhPrime
  private[graft] def mhA(j: Int): Long = graft.functions.SketchKernels.mhA(j)
  private[graft] def mhB(j: Int): Long = graft.functions.SketchKernels.mhB(j)

  /** Engine-reproducible 60-bit SimHash: one [[md5Hash60]] per
    * lowercased whitespace token (with multiplicity, like the
    * production sketch — a distinct-token vote degenerates into a
    * stopword-dominated signature whose pair set explodes), majority
    * vote per bit (bit i set iff 2·ones_i >= n). ONE codegen'd
    * kernel pass per document (Md5SimHash60) — the previous
    * explode → 60-way sum aggregate formulation computed the same
    * bits through a full token-keyed aggregate and was d29's whole
    * bench cost (measured ~2.2 s at sf0.1; DedupSpec pins the two
    * formulations equal). Returns (doc_id: long, sim: long);
    * null-text docs absent. */
  def md5Simhash60(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // same id guard as the production path: a non-numeric id column
    // would cast to null doc_ids instead of erroring
    val idT = docs.schema(idCol).dataType
    require(isIntegral(idT),
      s"md5Simhash60 requires an integral id column, got ${idT.simpleString}")
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.SketchFunctions.md5Simhash60(tokens(col(textCol)))
          .as("sim"))
  }

  /** Oracle twin of [[simhashPairs]]: the identical chunk-bucket +
    * popcount machinery fed by [[md5Simhash60]] signatures, so DuckDB
    * can recompute the signatures from raw text and brute-force the
    * complete pair set with `bit_count(xor(a, b)) <= maxDist` — a
    * hash-matched recall check on the pigeonhole bucketing. */
  def md5SimhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 8): DataFrame =
    simhashPairsFromSigs(md5Simhash60(docs, idCol, textCol), maxDist)

  /** Oracle twin of [[minhashPairs]]: the identical banding +
    * size-ratio + verification machinery fed by an md5-based
    * universal-hash minhash signature ([[mhA]]/[[mhB]] over the low
    * 30 bits of [[md5Hash60]] per shingle), so DuckDB can recompute
    * the signatures from raw text and re-derive the exact candidate
    * (band-slice equality) and verified pair sets. */
  def md5MinhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numPerms: Int = 32,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    // ONE codegen'd kernel pass per doc (Md5MinHash30) — the previous
    // explode → numPerms-way min aggregate computed the same mins
    // through a doc-keyed exchange, then joined the signatures back
    // to the shingle sets and needed a localCheckpoint to stop the
    // plan re-deriving scan+shingles+mins per consuming branch. The
    // kernel computes sig NEXT TO sh in one projection, so the twin
    // now has the production path's exact shape (ReuseExchange
    // applies again) with no checkpoint. The empty-shingle filter
    // reproduces the aggregate form's inner-join drop.
    val withSig = withShingles(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__graft_text")),
      "__graft_text", shingleK, "sh")
      .select(col("doc_id"), col("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", SketchFunctions.md5Minhash30(col("sh"), numPerms))
    bandPairsFromSigs(withSig, numPerms / bands, bands, threshold)
  }

  /** Candidate-pair Jaccard HISTOGRAM — the threshold-sensitivity
    * report behind choosing the near-dup τ (every published dedup
    * pipeline states a Jaccard cutoff; this is the evidence for it):
    * for EVERY LSH band candidate (no size-ratio prefilter, no
    * threshold — sub-τ mass is exactly what the report must show),
    * the exact shingle-set Jaccard bucketed into 21 width-0.05 bins.
    * The bin cut is pure INTEGER arithmetic — (20·|∩|) div |∪| — so
    * no float boundary exists for the two engines to disagree on
    * (bin 20 is exactly j = 1.0, the exact-duplicate mass). Reading
    * the report: mass just under a candidate τ warns the cut is
    * inside a dense region; a bimodal shape (junk low, near-dups
    * high) confirms a stable τ anywhere in the gap.
    *
    * Uses the md5-derived signature ([[md5MinhashPairs]]'s kernel) so
    * the WHOLE report is oracle-checkable; the set intersection runs
    * over xxhash64-hashed shingles while the oracle recounts the
    * strings, so the no-collision premise is verified at every gate
    * SF (the d97 discipline).
    *
    * Scale: the band equi-join is the one candidate generator (equi
    * keys, never a cross join); WITHOUT the size-ratio prefilter the
    * candidate set is deliberately wider than the dedup path's — this
    * is a sampled-or-scheduled REPORT, not the per-ingest screen, and
    * at 100 TB it runs on a hash slice (compose with hashSample). */
  def candidateJaccardHistogram(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numPerms: Int = 32,
      bands: Int = 16): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands
    val withSig = withShingles(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__graft_text")),
      "__graft_text", shingleK, "sh")
      .select(col("doc_id"), col("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", SketchFunctions.md5Minhash30(col("sh"), numPerms))
    val banded = withSig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + 1, lit(r))))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
    val bandKeyed = banded.repartition(col("band_id"), col("band_hash"))
    val candidates = bandKeyed.as("a")
      .join(bandKeyed.as("b"), Seq("band_id", "band_hash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sets = withSig.select(col("doc_id"), hashedSet(col("sh")).as("shh"))
    candidates
      .join(sets.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("shh", "shh_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("shh", "shh_b"), Seq("id_b"))
      .select(size(array_intersect(col("shh_a"), col("shh_b")))
        .cast("long").as("__i"),
        (size(col("shh_a")) + size(col("shh_b"))).cast("long").as("__ab"))
      .select(expr("(20 * __i) div (__ab - __i)").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("bin"), round(col("bin") * 0.05, 2).as("j_lo"),
        col("n_pairs"))
  }

  /** Incremental (batch-vs-corpus) dedup — the ingestion-time
    * pattern a 100 TB pipeline actually runs: a NEW batch arrives
    * and must be screened against the EXISTING corpus, exactly
    * (content hash) and nearly (banded minhash candidates verified
    * at word-shingle Jaccard >= threshold), WITHOUT ever pairing the
    * corpus against itself. Returns the SURVIVING batch rows, all
    * original columns intact.
    *
    * Scale shape: the corpus contributes (a) one distinct content-
    * hash column for the exact anti-join and (b) narrow
    * (band_id, band_hash, doc_id, sz) rows for the candidate
    * equi-join — it is NEVER self-joined and its wide text/shingle
    * arrays never cross the band shuffle. The batch side is
    * typically orders of magnitude smaller, so AQE broadcasts its
    * bands and hash sets; candidates are bounded by band-bucket
    * co-occupancy (the [[minhashPairs]] argument), and the same
    * size-ratio necessary-condition prunes junk before the
    * verification joins. Null-text batch rows survive both screens
    * (no content, nothing to duplicate).
    *
    * `md5Sig = true` switches the signature to [[graft.functions
    * .Md5MinHash30]] (the d30 twin arithmetic) so the WHOLE screen —
    * candidates, verification, survivors — is engine-reproducible
    * and oracle-checked (the d40 entry); production keeps the
    * default XXH64 [[graft.functions.MinHash64]] signature. */
  /** (doc_id, sh, sig) signature rows shared by [[dedupAgainst]] and
    * the [[buildDedupIndex]]/[[dedupAgainstIndex]] pair — the md5Sig
    * switch picks the engine-reproducible twin arithmetic. */
  private[graft] def screenSigs(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numPerms: Int,
      md5Sig: Boolean, tokenizer: String = "ws"): DataFrame = {
    val s = withShingles(
      df.select(col(idCol).as("doc_id"), col(textCol).as("__graft_text")),
      "__graft_text", shingleK, "sh", tokenizer)
      .select(col("doc_id"), col("sh"))
      .filter(size(col("sh")) > 0)
    if (md5Sig)
      s.withColumn("sig", SketchFunctions.md5Minhash30(col("sh"), numPerms))
    else
      s.withColumn("sig", SketchFunctions.minhash64(col("sh"), numPerms))
  }

  /** Narrow (doc_id, sz, band_id, band_hash) rows from signature
    * rows — the only corpus-derived rows a band screen ever
    * shuffles or stores. */
  private[graft] def screenBandRows(withSig: DataFrame, bands: Int,
      r: Int): DataFrame =
    bandRowsFromSig(
      withSig.select(col("doc_id"), size(col("sh")).as("sz"), col("sig")),
      bands, r)

  /** The band-row derivation itself, over (doc_id, sz, sig) rows —
    * ONE definition of the band fold (xxhash64 seeded by the band
    * index over the signature slice) shared by the fresh screen path
    * and [[rebandDedupIndex]]'s index-local rebuild, so the two can
    * never drift. */
  private def bandRowsFromSig(sigRows: DataFrame, bands: Int,
      r: Int): DataFrame = sigRows
    .select(col("doc_id"), col("sz"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + 1, lit(r))))))
    .withColumnRenamed("pos", "band_id")
    .withColumnRenamed("col", "band_hash")

  def dedupAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numPerms: Int = 32,
      bands: Int = 16,
      threshold: Double = 0.5,
      md5Sig: Boolean = false,
      tokenizer: String = "ws"): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands
    def sigs(df: DataFrame): DataFrame =
      screenSigs(df, idCol, textCol, shingleK, numPerms, md5Sig, tokenizer)
    def bandRows(withSig: DataFrame): DataFrame =
      screenBandRows(withSig, bands, r)

    val bSig = sigs(batch)
    val cSig = sigs(corpus)
    val candidates = bandRows(bSig).as("a")
      .join(bandRows(cSig).as("b"), Seq("band_id", "band_hash"))
      .filter(least(col("a.sz"), col("b.sz")).cast("double") >=
        lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val nearFlagged = candidates
      .join(bSig.select(col("doc_id").as("batch_id"),
        hashedSet(col("sh")).as("shh_a")), Seq("batch_id"))
      .join(cSig.select(col("doc_id").as("corpus_id"),
        hashedSet(col("sh")).as("shh_b")), Seq("corpus_id"))
      .filter(SketchFunctions.jaccardSorted(col("shh_a"), col("shh_b")) >=
        threshold)
      .select(col("batch_id"))
      .distinct()

    val corpusHashes = corpus.filter(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("__ch")).distinct()
    batch
      .join(corpusHashes, md5(col(textCol)) === col("__ch"), "left_anti")
      .join(nearFlagged, col(idCol) === col("batch_id"), "left_anti")
  }

  /** Builds the PERSISTENT dedup index under [[dedupAgainstIndex]] —
    * the production form of [[dedupAgainst]] at 100 TB, where
    * re-deriving the corpus's signatures for every arriving batch is
    * the cost that kills you: a 100 TB corpus is re-read and
    * re-minhashed per ingest otherwise. The index stores, ONCE, the
    * three narrow corpus projections a screen ever touches, as
    * bucketed managed tables:
    *
    *   - `<name>_bands` (doc_id, sz, band_id, band_hash), bucketed
    *     by band_hash — the candidate equi-join side. The screen
    *     joins on band_hash ALONE (the band index is folded into the
    *     hash), so this single-column bucketing satisfies the join's
    *     clustering exactly and the index side never re-shuffles;
    *   - `<name>_docs` (doc_id, sz, shh), bucketed by doc_id — the
    *     hashed shingle sets candidate verification re-joins;
    *   - `<name>_ch` (ch), bucketed by ch — distinct content hashes
    *     for the exact anti-join;
    *   - `<name>_meta` — one row holding (shingle_k, num_perms,
    *     bands, md5_sig, num_buckets): the screen and the append
    *     path read their parameters from HERE, so index and screen
    *     arithmetic cannot drift.
    *
    * Text never enters the index: at ~1 KB/doc average the band+set
    * index is orders of magnitude smaller than the corpus, and the
    * per-batch screen reads it instead of the corpus. Appends add
    * per-bucket files ([[graft.sources.Bucketing.appendBucketed]]),
    * never rewrite. Bucketing keeps the screen's index sides
    * exchange-free even when the arriving batch is too large to
    * broadcast (the co-located-join argument of B18). */
  def buildDedupIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      shingleK: Int = 3,
      numPerms: Int = 32,
      bands: Int = 16,
      md5Sig: Boolean = false,
      numBuckets: Int = 8,
      tokenizer: String = "ws"): Unit = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    require(TokenizerFamilies.contains(tokenizer),
      s"buildDedupIndex: unknown tokenizer family '$tokenizer' — one " +
        s"of $TokenizerFamilies")
    Bucketing.withIndexLease(corpus.sparkSession, name,
      "buildDedupIndex") {
    // _bands/_docs need ids (candidates carry corpus ids; a null id
    // can never equi-join back, matching dedupAgainst's observable
    // near-screen). _ch deliberately keeps null-id rows: the exact
    // screen is about CONTENT, and dedupAgainst's corpusHashes
    // filters only null text — the indexed screen must agree.
    val live = corpus.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    // one cached sig pass feeds both bucketed writes — re-minhashing
    // the corpus for the second write would double the build's
    // dominant cost (the _ch scan below is a single pruned text
    // column, cheap by comparison)
    val sig = screenSigs(live, idCol, textCol, shingleK, numPerms,
      md5Sig, tokenizer)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // three INDEPENDENT target tables (bands/docs off the cached sig
    // pass, ch its own pruned text-column scan) — overlapped
    // (graft.Par, guide §2.6) instead of serial behind each other's
    // commit/DDL driver gaps. The stored set's hash basis follows the
    // signature family (see hashedSet): under md5Sig the _docs column
    // doubles as the sufficient statistic rebandDedupIndex re-derives
    // signatures from, corpus-free.
    try graft.Par.run(
      () => Bucketing.writeBucketed(
        screenBandRows(sig, bands, numPerms / bands),
        s"${name}_bands", "band_hash", numBuckets),
      () => Bucketing.writeBucketed(
        sig.select(col("doc_id"), size(col("sh")).as("sz"),
          hashedSet(col("sh"), md5Sig).as("shh")),
        s"${name}_docs", "doc_id", numBuckets),
      () => Bucketing.writeBucketed(
        corpus.filter(col(textCol).isNotNull)
          .select(md5(col(textCol)).as("ch")).distinct(),
        s"${name}_ch", "ch", numBuckets))
    finally sig.unpersist()
    IndexFamily.writeMeta(corpus.sparkSession, metaRow(shingleK, numPerms,
      bands, md5Sig, numBuckets, tokenizer), s"${name}_meta")
    }
  }

  private val MetaSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "shingle_k INT, num_perms INT, bands INT, md5_sig BOOLEAN, " +
      "shh_basis STRING, num_buckets INT, tokenizer STRING")

  /** A dedup index's `_meta` row in the current format. */
  private def metaRow(shingleK: Int, numPerms: Int, bands: Int,
      md5Sig: Boolean, numBuckets: Int, tokenizer: String): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array(shingleK, numPerms, bands, md5Sig, shhBasisOf(md5Sig),
        numBuckets, tokenizer), MetaSchema)

  /** [[indexMeta]] as a current-format row: the descriptor's meta
    * reader ([[IndexFamily.dedup]]). */
  private[operators] def dedupMetaRow(spark: org.apache.spark.sql.SparkSession,
      name: String): Row = {
    val (k, p, b, m, nb, t) = indexMeta(spark, name)
    metaRow(k, p, b, m, nb, t)
  }

  /** The per-shingle hash basis the index's stored `_docs.shh` sets
    * use — a FORMAT fact recorded in `_meta`, because the basis of
    * md5Sig indexes changed once (xxhash64 → md5Hash60, when the
    * stored set became [[rebandDedupIndex]]'s sufficient statistic):
    * screening a batch hashed in one basis against sets stored in
    * the other makes every Jaccard intersection ~empty, so near-dups
    * silently PASS the screen — a wrong-answer class that must fail
    * loudly instead ([[indexMeta]] refuses). */
  private def shhBasisOf(md5Sig: Boolean): String =
    if (md5Sig) "md5h60" else "xxh64"

  private def indexMeta(spark: org.apache.spark.sql.SparkSession,
      name: String): (Int, Int, Int, Boolean, Int, String) = {
    val m = spark.table(s"${name}_meta").head()
    val md5Sig = m.getAs[Boolean]("md5_sig")
    // pre-family metas tokenized with the only family that existed:
    // ws — unlike the shh basis (which silently corrupts), the read
    // is unambiguous, so no forced rebuild
    val tokenizer =
      if (m.schema.fieldNames.contains("tokenizer"))
        m.getAs[String]("tokenizer")
      else "ws"
    // Format guard: a pre-basis-field md5Sig index stored xxhash64
    // sets, which this code would screen against md5Hash60 batch
    // hashes — duplicates would silently pass. Refuse and direct the
    // operator to rebuild. (A basis-less xxh64 index is fine: that
    // family's basis never changed.)
    val recorded =
      if (m.schema.fieldNames.contains("shh_basis"))
        m.getAs[String]("shh_basis")
      else if (md5Sig)
        throw new IllegalArgumentException(
          s"dedup index '$name' predates the shh_basis format: its " +
            "md5Sig _docs sets were stored under the old xxhash64 " +
            "basis, which this version's md5Hash60 batch hashing " +
            "cannot screen against (near-dups would silently pass) — " +
            "rebuild with buildDedupIndex")
      else "xxh64"
    require(recorded == shhBasisOf(md5Sig),
      s"dedup index '$name' records shh_basis '$recorded' but its " +
        s"signature family expects '${shhBasisOf(md5Sig)}' — the " +
        "stored sets and this version's batch hashing disagree; " +
        "rebuild with buildDedupIndex")
    (m.getAs[Int]("shingle_k"), m.getAs[Int]("num_perms"),
      m.getAs[Int]("bands"), md5Sig, m.getAs[Int]("num_buckets"),
      tokenizer)
  }

  /** Screens `batch` against a [[buildDedupIndex]] index — the
    * semantics of [[dedupAgainst]] (exact content-hash anti-join +
    * banded-minhash candidates verified at shingle-Jaccard >=
    * `threshold`; returns surviving batch rows, columns intact)
    * WITHOUT touching the corpus: signatures, band rows, shingle
    * sets and content hashes all come from the index tables, so the
    * per-batch cost is (batch scan + sig) + three narrow index
    * joins. Sketch parameters are read from `<name>_meta`, never
    * passed — index and screen cannot disagree.
    *
    * The screen does NOT mutate the index: call
    * [[appendToDedupIndex]] with the survivors you actually ingest
    * (the caller decides what "ingest" means — e.g. after further
    * filters) to fold them in for the next batch. */
  def dedupAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      threshold: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    val (shingleK, numPerms, bands, md5Sig, _, tokenizer) =
      indexMeta(spark, name)
    val bSig = screenSigs(batch, idCol, textCol, shingleK, numPerms,
      md5Sig, tokenizer)
    // join on band_hash ALONE: the band index is already folded into
    // the hash (screenBandRows seeds xxhash64 with it), so equality
    // on band_hash implies same-band equality up to a 2^-64 collision
    // whose only effect is one extra candidate for the exact-Jaccard
    // verification to reject. The payoff is that the index side's
    // single-column band_hash bucketing now genuinely satisfies the
    // join's clustering — a (band_id, band_hash) key required a
    // two-column distribution the bucketing could not provide, so
    // the index silently re-shuffled whenever the batch was too
    // large for AQE to broadcast.
    val candidates = screenBandRows(bSig, bands, numPerms / bands)
      .drop("band_id").as("a")
      .join(spark.table(s"${name}_bands").as("b"), Seq("band_hash"))
      .filter(least(col("a.sz"), col("b.sz")).cast("double") >=
        lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val nearFlagged = candidates
      .join(bSig.select(col("doc_id").as("batch_id"),
        hashedSet(col("sh"), md5Sig).as("shh_a")), Seq("batch_id"))
      .join(spark.table(s"${name}_docs")
        .select(col("doc_id").as("corpus_id"), col("shh").as("shh_b")),
        Seq("corpus_id"))
      .filter(SketchFunctions.jaccardSorted(col("shh_a"), col("shh_b")) >=
        threshold)
      .select(col("batch_id"))
      .distinct()
    batch
      .join(spark.table(s"${name}_ch"),
        md5(col(textCol)) === col("ch"), "left_anti")
      .join(nearFlagged, col(idCol) === col("batch_id"), "left_anti")
  }

  /** Folds newly ingested documents into an existing index:
    * appends their band rows, hashed shingle sets and content
    * hashes as new per-bucket files (existing files are never
    * rewritten). Parameters come from `<name>_meta`. Call with the
    * rows actually ingested — typically [[dedupAgainstIndex]]'s
    * survivors — so the next batch screens against them. */
  def appendToDedupIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      name: String): Unit = {
    val spark = docs.sparkSession
    Bucketing.withIndexLease(spark, name, "appendToDedupIndex") {
    val (shingleK, numPerms, bands, md5Sig, numBuckets, tokenizer) =
      indexMeta(spark, name)
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val sig = screenSigs(live, idCol, textCol, shingleK, numPerms,
      md5Sig, tokenizer)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `_docs` is the append's COMMIT RECORD: reconcile finds missing
    // docs by `_docs` ids, so every other table must land BEFORE it —
    // a death leaving bands/ch without docs heals by re-append
    // (duplicate band/ch rows are existential-screen-tolerated),
    // while docs without bands would be an unhealable near-dup hole.
    // `_bands` and `_ch` are mutually independent, so they overlap
    // (guide §2.6); the old bands→docs→ch order even left ch AFTER
    // the commit record — this is strictly safer AND one latency
    // shorter. `_ch` does not read `sig`, so the pinned pass is
    // materialized by the bands write alone (no duplicate compute).
    try {
      graft.Par.run(
        () => Bucketing.appendBucketed(
          screenBandRows(sig, bands, numPerms / bands),
          s"${name}_bands", "band_hash", numBuckets),
        () => Bucketing.appendBucketed(
          docs.filter(col(textCol).isNotNull)
            .select(md5(col(textCol)).as("ch")).distinct(),
          s"${name}_ch", "ch", numBuckets))
      Bucketing.appendBucketed(
        sig.select(col("doc_id"), size(col("sh")).as("sz"),
          hashedSet(col("sh"), md5Sig).as("shh")),
        s"${name}_docs", "doc_id", numBuckets)
    } finally sig.unpersist()
    }
  }

  /** Reconciles a dedup index against the LANDED corpus
    * ([[IndexFamily.reconcile]]): landed docs absent from `_docs`
    * fold in through [[appendToDedupIndex]]. Replay-safety note:
    * the append writes bands and ch before docs, and unlike BM25
    * postings that order is SAFE under re-append of a partially
    * appended doc — the screen's semantics are EXISTENTIAL (a
    * duplicate band/ch row can only re-produce the same candidate,
    * which the verification re-rejects or re-confirms identically),
    * so the one residual window (death before docs) heals right here
    * by re-running. */
  def reconcileDedupIndex(landed: DataFrame, idCol: String,
      textCol: String, name: String): Long =
    IndexFamily.reconcile(IndexFamily.dedup,
      landed.filter(col(idCol).isNotNull && col(textCol).isNotNull),
      col(idCol), name)(appendToDedupIndex(_, idCol, textCol, name))

  /** Keep-one dedup WITHIN one batch, with the SAME sketch
    * arithmetic as a [[buildDedupIndex]] index (parameters read from
    * `<name>_meta`): [[dedupAgainstIndex]] screens a batch against
    * the corpus but never against itself, so a micro-batch carrying
    * its own duplicates would land every copy. This closes that gap:
    *
    *   1. exact: one row per content hash survives — deterministic
    *      (smallest non-null id wins; a row with a NULL id never
    *      survives keep-one, since a keeper must be appendable to
    *      the index and [[appendToDedupIndex]] drops id-less rows);
    *      null-TEXT rows all pass (no content, nothing to
    *      duplicate — the [[dedupAgainst]] convention);
    *   2. near: banded-minhash pairs among the exact survivors
    *      (the [[minhashPairs]] machinery at the index's
    *      shingleK/numPerms/bands), verified at shingle-Jaccard >=
    *      `threshold`, transitive families collapsed via
    *      [[components]], the min-id root kept.
    *
    * Batch-sized work only: the corpus/index is never touched.
    * Returns surviving batch rows, columns intact. */
  def dedupWithinBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      threshold: Double = 0.5): DataFrame = {
    val (shingleK, numPerms, bands, md5Sig, _, tokenizer) =
      indexMeta(batch.sparkSession, name)
    // Keep-one per content hash as a narrow HASH AGGREGATE +
    // SHUFFLE_HASH semi-join back (the d4/d33 house recipe), never
    // `row_number() OVER (PARTITION BY ch)`: WindowExec funnels a
    // mega-family of identical texts (full rows) into one
    // un-splittable task, while the keeper aggregate ships only
    // (ch, id) rows — Catalyst column-prunes the branch — and its
    // map-side partial collapses each family to <=1 narrow row per
    // input partition before the shuffle, so skew dies at the map
    // stage. min() ignores null ids, so a null id never beats a real
    // one; a row needs a NON-NULL id to survive keep-one at all (a
    // keeper's job is to feed [[appendToDedupIndex]], which drops
    // id-less rows anyway). Null-TEXT rows all pass, unioned back
    // untouched — the [[dedupAgainst]] convention. Caller contract:
    // ids are unique within a batch (the C10 ingest's redelivery
    // dedup guarantees it); rows duplicating the keeper's (ch, id)
    // would all survive.
    val hashed = batch.withColumn("__graft_ch", md5(col(textCol)))
    val keepers = hashed
      .filter(col("__graft_ch").isNotNull && col(idCol).isNotNull)
      .groupBy(col("__graft_ch").as("__graft_kch"))
      .agg(min(col(idCol)).as("__graft_kid"))
    val exactKept = hashed
      .join(keepers.hint("SHUFFLE_HASH"),
        col("__graft_ch") === col("__graft_kch") &&
          col(idCol) === col("__graft_kid"),
        "left_semi")
      .drop("__graft_ch")
      .unionByName(
        hashed.filter(col("__graft_ch").isNull).drop("__graft_ch"))
    val sigs = screenSigs(exactKept, idCol, textCol, shingleK, numPerms,
      md5Sig, tokenizer)
    val pairs = bandPairsFromSigs(sigs, numPerms / bands, bands, threshold)
      .select(col("id_a"), col("id_b"))
    dropNearDuplicates(exactKept, idCol, pairs)
  }

  /** [[IndexFamily.compact]] for a [[buildDedupIndex]] index: `_bands`
    * and `_docs` rewrite to one file per bucket, and `_ch` also sheds
    * the duplicates per-batch appends leave (each append is
    * batch-distinct, not globally distinct — harmless for anti-join
    * semantics). */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    IndexFamily.compact(spark, IndexFamily.dedup, name)

  /** Merge disjoint dedup-index SHARDS into one ([[IndexFamily.merge]]):
    * band rows and doc sets union re-bucketed once (per-doc rows — no
    * merge arithmetic); `_ch` unions DEDUPED (exact content
    * legitimately repeats across shards). Refuses different sketch
    * geometries / tokenizer families / hash bases (merged band rows
    * would mean two things — reband or rebuild the odd one out
    * first) and overlapping doc ids (their bands would double). */
  def mergeDedupIndexes(spark: org.apache.spark.sql.SparkSession,
      target: String, sources: Seq[String], numBuckets: Int = 8): Unit =
    IndexFamily.merge(spark, IndexFamily.dedup, target, sources, numBuckets)

  /** INGEST-DRIFT card for a dedup index vs an INCOMING batch — the
    * MinHash sibling of [[graft.operators.Retrieval
    * .bm25IngestDriftCard]] and the reband/ingest decision input an
    * operator reads BEFORE a large append: how much of the arriving
    * batch's candidate space is NEW to the index? A high new-band
    * share means novel content (little dedup benefit, band buckets
    * about to grow); a LOW share means a mirror flood (the screen is
    * about to do heavy work) — and the exact-hash share splits the
    * two (mirrors are old hashes, novelty is new ones). One row:
    * (n_batch_docs, n_batch_bands, n_new_bands, new_band_share,
    * n_batch_hashes, n_new_hashes, new_hash_share), shares rounded
    * to 4. Sketch parameters come from `_meta` — the card can never
    * measure a different geometry than the index stores.
    *
    * Scale shape: one batch sig/band pass (batch-sized); novelty is
    * the index's narrow band_hash / ch columns SEMI-JOINED to the
    * BROADCAST batch key sets (the index side never shuffles and
    * only batch-bounded rows survive the scan); the card is five
    * one-row aggregates cross-joined. Nothing corpus-sized moves. */
  def dedupIngestDriftCard(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (shingleK, numPerms, bands, md5Sig, _, tokenizer) =
      indexMeta(spark, name)
    val live = batch
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val bandKeys = screenBandRows(
      screenSigs(live, idCol, textCol, shingleK, numPerms, md5Sig,
        tokenizer), bands, numPerms / bands)
      .select(col("band_hash")).distinct()
    val hashKeys = live.select(md5(col(textCol)).as("ch")).distinct()
    val nDocs = live.agg(count(lit(1)).as("n_batch_docs"))
    val nBands = bandKeys.agg(count(lit(1)).as("n_batch_bands"))
    val nKnownBands = spark.table(s"${name}_bands")
      .select(col("band_hash"))
      .join(broadcast(bandKeys), Seq("band_hash"), "left_semi")
      .distinct()
      .agg(count(lit(1)).as("n_known_bands"))
    val nHashes = hashKeys.agg(count(lit(1)).as("n_batch_hashes"))
    val nKnownHashes = spark.table(s"${name}_ch")
      .join(broadcast(hashKeys), Seq("ch"), "left_semi")
      .distinct() // appends can re-land a hash; the count is of the SET
      .agg(count(lit(1)).as("n_known_hashes"))
    nDocs.crossJoin(broadcast(nBands))
      .crossJoin(broadcast(nKnownBands))
      .crossJoin(broadcast(nHashes))
      .crossJoin(broadcast(nKnownHashes))
      .select(col("n_batch_docs"), col("n_batch_bands"),
        (col("n_batch_bands") - col("n_known_bands")).as("n_new_bands"),
        round(when(col("n_batch_bands") > 0,
          (col("n_batch_bands") - col("n_known_bands")).cast("double")
            / col("n_batch_bands").cast("double")).otherwise(0.0), 4)
          .as("new_band_share"),
        col("n_batch_hashes"),
        (col("n_batch_hashes") - col("n_known_hashes")).as("n_new_hashes"),
        round(when(col("n_batch_hashes") > 0,
          (col("n_batch_hashes") - col("n_known_hashes")).cast("double")
            / col("n_batch_hashes").cast("double")).otherwise(0.0), 4)
          .as("new_hash_share"))
  }

  /** Merge URL-frontier SHARDS ([[IndexFamily.merge]]): canonical-URL
    * keys union DEDUPED — two shards remembering one URL is the
    * normal case, not an error, since the frontier is a set. */
  def mergeUrlIndexes(spark: org.apache.spark.sql.SparkSession,
      target: String, sources: Seq[String], numBuckets: Int = 8): Unit =
    IndexFamily.merge(spark, IndexFamily.url, target, sources, numBuckets)

  /** INGEST-DRIFT card for a perceptual SIGNATURE index vs an
    * incoming batch of sigs — [[dedupIngestDriftCard]]'s sibling for
    * the media family and the last family's decision feed: how much
    * of what is arriving is NEW to the signature space? Exact-sig
    * novelty splits re-encodes/remuxes (same 64-bit sig → known)
    * from genuinely new footage; CHUNK-key novelty measures the
    * candidate space the pigeonhole screen is about to join through
    * (low new-chunk share with high sig novelty = near-dup families
    * of indexed content arriving — heavy verify work ahead; high
    * both = novel media). One row: (n_batch_sigs,
    * n_batch_distinct_sigs, n_new_sigs, new_sig_share,
    * n_batch_chunks, n_new_chunks, new_chunk_share), shares over the
    * distinct sets, rounded to 4. Chunk geometry comes from `_meta`.
    *
    * Scale shape: one batch-sized chunk pass; novelty via the
    * index's narrow chunk_hash / sim columns SEMI-joined to the
    * broadcast batch key sets (the index side never shuffles);
    * five one-row aggregates cross-joined. */
  def simIngestDriftCard(spark: org.apache.spark.sql.SparkSession,
      name: String, batchSigs: DataFrame): DataFrame = {
    val (maxDist, _) = simIndexMeta(spark, name)
    val live = batchSigs
      .filter(col("doc_id").isNotNull && col("sim").isNotNull)
    val chunkKeys = simChunkRows(live, maxDist)
      .select(col("chunk_hash")).distinct()
    val sigKeys = live.select(col("sim")).distinct()
    val nRows = live.agg(count(lit(1)).as("n_batch_sigs"))
    val nSigs = sigKeys.agg(count(lit(1)).as("n_batch_distinct_sigs"))
    val nChunks = chunkKeys.agg(count(lit(1)).as("n_batch_chunks"))
    val nKnownSigs = spark.table(s"${name}_chunks")
      .select(col("sim"))
      .join(broadcast(sigKeys), Seq("sim"), "left_semi")
      .distinct() // chunk rows repeat each sig maxDist+1 times
      .agg(count(lit(1)).as("n_known_sigs"))
    val nKnownChunks = spark.table(s"${name}_chunks")
      .select(col("chunk_hash"))
      .join(broadcast(chunkKeys), Seq("chunk_hash"), "left_semi")
      .distinct()
      .agg(count(lit(1)).as("n_known_chunks"))
    nRows.crossJoin(broadcast(nSigs))
      .crossJoin(broadcast(nChunks))
      .crossJoin(broadcast(nKnownSigs))
      .crossJoin(broadcast(nKnownChunks))
      .select(col("n_batch_sigs"), col("n_batch_distinct_sigs"),
        (col("n_batch_distinct_sigs") - col("n_known_sigs"))
          .as("n_new_sigs"),
        round(when(col("n_batch_distinct_sigs") > 0,
          (col("n_batch_distinct_sigs") - col("n_known_sigs"))
            .cast("double")
            / col("n_batch_distinct_sigs").cast("double"))
          .otherwise(0.0), 4).as("new_sig_share"),
        col("n_batch_chunks"),
        (col("n_batch_chunks") - col("n_known_chunks"))
          .as("n_new_chunks"),
        round(when(col("n_batch_chunks") > 0,
          (col("n_batch_chunks") - col("n_known_chunks")).cast("double")
            / col("n_batch_chunks").cast("double")).otherwise(0.0), 4)
          .as("new_chunk_share"))
  }

  /** Merge perceptual SIGNATURE-index shards ([[IndexFamily.merge]]):
    * chunk rows union re-bucketed once (doc-disjoint shards → no
    * merge arithmetic); the OPTIONAL video evidence sides
    * (`_vchunks`/`_vframes`) union DEDUPED from whichever sources
    * carry them — evidence is a SET, and the video screen is
    * dup-tolerant by contract. Refuses different hamming geometries
    * (maxDist is the chunk fold's shape — merged chunk rows would
    * mean two things; rechunk first) and overlapping doc ids. */
  def mergeSimIndexes(spark: org.apache.spark.sql.SparkSession,
      target: String, sources: Seq[String], numBuckets: Int = 8): Unit =
    IndexFamily.merge(spark, IndexFamily.sim, target, sources, numBuckets)

  /** RE-BAND actuator for a [[buildDedupIndex]] index — the verb
    * behind [[dedupIndexStats]]'s band histogram (stats with no
    * actuator is half a lifecycle, the [[graft.operators.Similarity
    * .rebalanceAnnIndex]] argument): changes the LSH geometry
    * (bands × rows-per-band sets the candidate threshold t ≈
    * (1/b)^(1/r)) of an EXISTING index WITHOUT touching the corpus.
    * The stored `_docs` hashed shingle sets are the sufficient
    * statistic: under the md5 signature family the per-shingle
    * md5Hash60 values re-derive the minhash at ANY (bands, numPerms)
    * ([[graft.functions.SketchFunctions.md5Minhash30FromHashes]] —
    * value-identical to a fresh build's signatures, so a rebanded
    * index screens BIT-EQUAL to one built at the new parameters; the
    * d113 oracle is that equality verbatim). The production xxhash64
    * family is NOT re-derivable (its kernel seeds each permutation
    * over raw shingle bytes), so a non-md5 index fails loudly here —
    * its re-band is a corpus rebuild, honestly priced.
    *
    * Scale shape: one scan of `_docs` (doc-bucketed, narrow) → one
    * signature projection (pure kernel, zero exchanges) → band rows
    * → one bucketed write. The corpus, at 10,000× the index's size,
    * is never read.
    *
    * Crash safety — `_bands` and `_meta` must change TOGETHER (the
    * band rows are only interpretable through meta's bands/numPerms),
    * so both stage and promote through [[IndexFamily.promote]]'s
    * stage→marker→promote→clear protocol; [[IndexFamily.open]] rolls
    * an interruption forward past the marker or drops it before. */
  def rebandDedupIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, bands: Int, numPerms: Int): Unit =
    IndexFamily.promote(spark, IndexFamily.dedup, name, "rebandDedupIndex") {
    val (shingleK, _, _, md5Sig, numBuckets, tokenizer) =
      indexMeta(spark, name)
    require(md5Sig,
      s"rebandDedupIndex('$name'): only md5Sig indexes re-band " +
        "index-locally — the xxhash64 signature family seeds each " +
        "permutation over raw shingle bytes, so new signatures need " +
        "the corpus; rebuild with buildDedupIndex instead")
    require(numPerms % bands == 0,
      s"numPerms ($numPerms) must divide into bands ($bands)")
    val r = numPerms / bands
    val sigRows = spark.table(s"${name}_docs")
      .select(col("doc_id"), col("sz"),
        SketchFunctions.md5Minhash30FromHashes(col("shh"), numPerms)
          .as("sig"))
    // the two stage writes are independent (pre-marker leftovers are
    // simply dropped) — overlapped (guide §2.6)
    graft.Par.run(
      () => Bucketing.writeBucketed(bandRowsFromSig(sigRows, bands, r),
        IndexFamily.stageName(name, "_bands"), "band_hash", numBuckets),
      () => IndexFamily.writeMeta(spark, metaRow(shingleK, numPerms, bands,
        md5Sig, numBuckets, tokenizer), IndexFamily.stageName(name, "_meta")))
    }

  /** The DECISION input between [[dedupIndexStats]] (what the index
    * is) and [[rebandDedupIndex]] (the actuator): for each candidate
    * band partition of the index's own permutations, the candidate-
    * pair volume the band screen WOULD generate — the screen's
    * dominant cost, and the number an operator weighs against the
    * geometry's implied jaccard threshold (t ≈ (1/bands)^(rows/1))
    * before committing to a re-band. Computed from the index alone:
    * signatures re-derive from the stored `_docs` hashed shingle
    * sets (the [[rebandDedupIndex]] sufficient-statistic argument,
    * so md5Sig indexes only), each geometry pays one narrow
    * aggregate over the re-derived band rows, and the corpus is
    * never read. Returns one row per geometry: (bands,
    * rows_per_band, n_buckets, candidate_pairs, max_band_occ) —
    * candidate_pairs = Σ_bucket n·(n−1)/2 (the within-bucket pair
    * enumeration a screen joins), max_band_occ the skew signal (a
    * mega-bucket is the candidate join's straggler). Bucket
    * identity is the band-fold hash, the [[dedupIndexStats]]
    * no-collision premise. */
  def rebandSweep(spark: org.apache.spark.sql.SparkSession,
      name: String, bandsChoices: Seq[Int]): DataFrame = {
    require(bandsChoices.nonEmpty, "bandsChoices must be non-empty")
    val (_, numPerms, _, md5Sig, _, _) = indexMeta(spark, name)
    require(md5Sig,
      s"rebandSweep('$name'): only md5Sig indexes re-derive " +
        "signatures index-locally (the rebandDedupIndex argument)")
    bandsChoices.foreach(b => require(b >= 1 && numPerms % b == 0,
      s"bands $b must divide numPerms $numPerms"))
    // one signature pass, pinned: every geometry re-aggregates it
    val sig = spark.table(s"${name}_docs")
      .select(col("doc_id"), col("sz"),
        SketchFunctions.md5Minhash30FromHashes(col("shh"), numPerms)
          .as("sig"))
      .localCheckpoint()
    bandsChoices.map { b =>
      val r = numPerms / b
      bandRowsFromSig(sig, b, r)
        .groupBy(col("band_hash")).agg(count(lit(1)).as("__n"))
        .agg(count(lit(1)).as("n_buckets"),
          coalesce(sum(expr("__n * (__n - 1) DIV 2")), lit(0L))
            .as("candidate_pairs"),
          coalesce(max(col("__n")), lit(0L)).as("max_band_occ"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_buckets"), col("candidate_pairs"), col("max_band_occ"))
    }.reduce(_ unionByName _)
  }

  /** RETIREMENT — the lifecycle verb the other five (build, append,
    * compact, open, screen) leave open, and at 100 TB a mandatory
    * one: a takedown/right-to-be-forgotten request must remove a
    * document's near-dup EVIDENCE (its band rows and shingle-set
    * row) from the persistent index without a corpus rebuild:
    * [[IndexFamily.retire]] over `_bands` and `_docs`, whose
    * compact-with-filter generation swap leaves the live generation
    * serving after a crash anywhere inside, exactly like an
    * interrupted compaction.
    *
    * CONTENT hashes are a separate decision, so they take the
    * removed docs' TEXTS and a flag: with `dropContentHashes =
    * false` (default) the `_ch` row stays and future byte-identical
    * content keeps screening out — the usual dedup posture (the
    * content was seen; a re-crawl of it is still a duplicate). With
    * `true`, the texts' md5 rows are removed and identical content
    * can be ingested fresh — the takedown-then-relicense posture.
    * The caller must know which contract it wants; there is no
    * middle ground because the index stores DISTINCT hashes, not
    * per-doc ownership (by design — see [[buildDedupIndex]]).
    *
    * SHARED-HASH COLLATERAL of `dropContentHashes = true`: if a
    * removed doc's text is byte-identical to a RETAINED doc's, the
    * one `_ch` row they shared is still removed — a later re-crawl
    * of the retained doc's text passes the exact screen and is
    * caught only by the minhash band path (which misses degenerate
    * texts shorter than the shingle size). This cannot be fixed
    * index-side: `_ch` has no ownership column, and `_docs` carries
    * no row at all for shingle-less texts, so "is this hash still
    * owned by a survivor" is unanswerable from the index alone. A
    * caller who needs exclusivity must pre-filter its removal set
    * against the surviving corpus (anti-join removal texts' md5
    * against survivors' md5) BEFORE calling — that join belongs to
    * whoever still has the corpus, which the index deliberately
    * does not.
    *
    * `docs` needs (idCol) always and (textCol) only when dropping
    * content hashes. Null ids are ignored (they were never indexed
    * under an id). The removed-id set is broadcast into the
    * anti-joins — retirement batches are takedown-sized, not
    * corpus-sized; the bucketed tables rewrite partition-local with
    * their clustering intact. */
  def retireFromDedupIndex(docs: DataFrame, idCol: String,
      textCol: String, name: String,
      dropContentHashes: Boolean = false): Unit =
    Bucketing.withIndexLease(docs.sparkSession, name,
      "retireFromDedupIndex") {
      IndexFamily.retire(IndexFamily.dedup, docs, col(idCol).cast("long"),
        name)
      if (dropContentHashes) {
        val hashes = docs
          .filter(col(idCol).isNotNull && col(textCol).isNotNull)
          .select(md5(col(textCol)).as("__rch")).distinct()
        Bucketing.compactBucketed(
          _.join(broadcast(hashes), col("ch") === col("__rch"),
            "left_anti").distinct())(docs.sparkSession, s"${name}_ch", "ch",
          IndexFamily.numBuckets(docs.sparkSession, IndexFamily.dedup, name))
      }
    }

  /** [[IndexFamily.open]] for a [[buildDedupIndex]] index. */
  def openDedupIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    IndexFamily.open(spark, IndexFamily.dedup, name)

  /** Occupancy/cardinality report for a [[buildDedupIndex]] index —
    * the dedup family's counterpart of
    * [[graft.operators.Similarity.annIndexStats]] (every index
    * family carries a stats verb beside its build/append/compact/
    * retire/open lifecycle; stats drive the compact/rebuild
    * decision). One row: `n_docs` (signature rows), `n_content_
    * hashes` (exact-screen keys), `n_band_rows` / `n_distinct_bands`
    * / `max_band_occ` (the band-bucket histogram's mass, support and
    * hot bucket — a mega-bucket is every screen join's straggler and
    * the signal to re-band or salt).
    *
    * Scale shape: the occupancy aggregate groups by the table's OWN
    * bucket key, so the bucketed scan satisfies the clustering and
    * the only exchanges are three one-row aggregate gathers. Note
    * `n_distinct_bands` counts distinct stored `band_hash` values —
    * band vectors folded through xxhash64 at build time; the count
    * equals the distinct-band-vector count unless a 64-bit fold
    * collision exists in the data (deterministic for a fixed corpus;
    * the d97 oracle verifies no-collision holds at every gate SF). */
  def dedupIndexStats(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame = {
    val occ = spark.table(s"${name}_bands")
      .groupBy(col("band_hash")).agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n")).as("n_band_rows"),
        count(lit(1)).as("n_distinct_bands"),
        max(col("__n")).as("max_band_occ"))
    spark.table(s"${name}_docs").agg(count(lit(1)).as("n_docs"))
      .crossJoin(spark.table(s"${name}_ch")
        .agg(count(lit(1)).as("n_content_hashes")))
      .crossJoin(occ)
  }

  // ---------------------------------------------------------------
  // Persistent PERCEPTUAL SIGNATURE index — the D35 index-once
  // pattern for 64-bit hamming signatures (image dHash, audio
  // fingerprints, any (doc_id, sim) producer): at 100 TB the media
  // corpus cannot be re-decoded or re-chunked per arriving batch, so
  // the pigeonhole chunk rows are built ONCE as a bucketed table and
  // each batch pays batch-decode + ONE narrow equi-join. The chunk
  // key is folded to a single hash (chunk_hash = xxhash64(chunk_id,
  // chunk_val)) for exactly the reason the dedup index folds band_id
  // into band_hash: a two-column join key could never satisfy the
  // single-column bucket clustering, so the index side would
  // silently re-shuffle. A fold collision's only cost is one extra
  // candidate for the exact bit_count verification to reject.
  // ---------------------------------------------------------------

  private def simChunkRows(sigs: DataFrame, maxDist: Int): DataFrame = {
    val chunks = simChunkCols(col("sim"), maxDist)
    sigs.select(col("doc_id"), col("sim"),
      posexplode(array(chunks: _*)))
      .select(col("doc_id"), col("sim"),
        xxhash64(col("pos"), col("col")).as("chunk_hash"))
  }

  private def simIndexMeta(spark: org.apache.spark.sql.SparkSession,
      name: String): (Int, Int) = {
    val m = spark.table(s"${name}_meta").head()
    (m.getAs[Int]("max_dist"), m.getAs[Int]("num_buckets"))
  }

  private def writeSimMeta(spark: org.apache.spark.sql.SparkSession,
      maxDist: Int, numBuckets: Int, table: String): Unit = {
    import spark.implicits._
    Bucketing.writeTable(
      Seq((maxDist, numBuckets)).toDF("max_dist", "num_buckets"), table)
  }

  /** Builds a persistent signature index over `(doc_id: long,
    * sim: long)` rows — pigeonhole chunk rows bucketed by chunk_hash
    * plus a meta table the screen and append paths read `maxDist`
    * from, so index and screen arithmetic cannot drift. */
  def buildSimIndex(
      sigs: DataFrame,
      name: String,
      maxDist: Int = 2,
      numBuckets: Int = 8): Unit = {
    require(maxDist >= 0 && maxDist <= 63,
      s"maxDist must be in [0, 63], got $maxDist")
    val spark = sigs.sparkSession
    Bucketing.withIndexLease(spark, name, "buildSimIndex") {
    val live = sigs.filter(col("doc_id").isNotNull && col("sim").isNotNull)
    Bucketing.writeBucketed(simChunkRows(live, maxDist),
      s"${name}_chunks", "chunk_hash", numBuckets)
    // a REBUILD must reset the optional video-frame side too: those
    // tables are append-created, so no overwrite path clears them,
    // and stale evidence (same-name index from a prior build or a
    // dead session's directory) would either screen against a dead
    // corpus or fail the next lazy create on the leftover location
    Bucketing.dropTableAndDir(spark, s"${name}_vchunks")
    Bucketing.dropTableAndDir(spark, s"${name}_vframes")
    writeSimMeta(spark, maxDist, numBuckets, s"${name}_meta")
    }
  }

  /** Screens batch signatures against a [[buildSimIndex]] index:
    * returns the batch rows whose sig is NOT within hamming
    * `maxDist` (from the index meta) of any indexed sig. Candidates
    * come from the chunk_hash equi-join alone — the bucketed index
    * side never shuffles — and are verified with the exact
    * `bit_count(xor)` popcount, so a chunk-fold collision can only
    * add a rejected candidate, never a wrong verdict. A replayed
    * batch whose sigs are already indexed matches itself at hamming
    * 0 and fully self-suppresses — the C13 idempotence contract. */
  def screenAgainstSimIndex(batchSigs: DataFrame, name: String): DataFrame = {
    val spark = batchSigs.sparkSession
    val (maxDist, _) = simIndexMeta(spark, name)
    val live = batchSigs
      .filter(col("doc_id").isNotNull && col("sim").isNotNull)
    val flagged = simChunkRows(live, maxDist).as("a")
      .join(spark.table(s"${name}_chunks").as("b"), Seq("chunk_hash"))
      .filter(bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= maxDist)
      .select(col("a.doc_id").as("doc_id"))
      .distinct()
    live.join(flagged.hint("SHUFFLE_HASH"), Seq("doc_id"), "left_anti")
  }

  /** Folds newly ingested signatures into a [[buildSimIndex]] index
    * as new per-bucket files (existing files never rewritten). Call
    * with the rows actually ingested — typically
    * [[screenAgainstSimIndex]]'s survivors. */
  def appendToSimIndex(sigs: DataFrame, name: String): Unit = {
    val spark = sigs.sparkSession
    Bucketing.withIndexLease(spark, name, "appendToSimIndex") {
      val (maxDist, numBuckets) = simIndexMeta(spark, name)
      Bucketing.appendBucketed(
        simChunkRows(sigs.filter(col("doc_id").isNotNull &&
          col("sim").isNotNull), maxDist),
        s"${name}_chunks", "chunk_hash", numBuckets)
    }
  }

  /** Reconciles a signature index against the LANDED signature set
    * ([[IndexFamily.reconcile]]): landed (doc_id, sim) rows whose
    * doc_id holds no chunk rows append through the normal verb. The
    * caller passes SIGNATURES (the cheap, already-decoded
    * projection), never media payloads: reconciliation must not
    * become a re-decode. */
  def reconcileSimIndex(landedSigs: DataFrame, name: String): Long =
    IndexFamily.reconcile(IndexFamily.sim,
      landedSigs.filter(col("doc_id").isNotNull && col("sim").isNotNull),
      col("doc_id"), name)(appendToSimIndex(_, name))

  /** [[IndexFamily.compact]] for a signature index. The optional
    * video-frame tables compact too when present — with distinct(),
    * since a replayed [[appendVideoFramesToSimIndex]] legally lands
    * duplicate rows the screen tolerates but a compaction should
    * shed. */
  def compactSimIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    IndexFamily.compact(spark, IndexFamily.sim, name)

  // ---------------------------------------------------------------
  // Per-frame NEAR video screening for the signature index. A video
  // in the base index is one EXACT frame-hash fold (toMediaIngest's
  // sig): a remuxed/retimed copy folds identically and screens, but
  // a RE-ENCODED copy — same content, slightly different pixels —
  // perturbs every frame hash and slips the fold. These verbs add
  // frame-level evidence: per-frame dHashes keyed doc_id·1024 +
  // frame_idx ride the SAME pigeonhole chunk machinery, and the
  // screen renders the d63 video verdict (same frame count, every
  // aligned frame within maxDist) from the chunk matches. The frame
  // rows live in a SEPARATE table pair, deliberately: in the shared
  // _chunks table a PLAIN doc's id aliases some video's composite
  // key (doc 2048 == video 2, frame 0), and a chance sig match
  // would credit that video's aligned-frame tally — a wrong verdict
  // the exact popcount verification could never catch, because the
  // aliasing is in the KEY, not the signature. `<name>_vchunks`
  // carries the chunk rows, `<name>_vframes` the per-video frame
  // counts the all-frames-must-match verdict needs.
  // ---------------------------------------------------------------

  private def videoCompositeKey(frameSigs: DataFrame): DataFrame = {
    val M = Multimodal.MaxSampledFrames
    frameSigs.select(
      (when(col("doc_id") < 0,
        raise_error(lit("video sim index: negative doc_id — the " +
          "div/% decomposition in the screen truncates (not floors), " +
          "so a negative id would mis-key persisted chunk rows")))
        .otherwise(col("doc_id")) * M +
        when(col("frame_idx") >= M || col("frame_idx") < 0,
          raise_error(lit(s"video sim index: frame_idx outside [0, $M) " +
            "(raise the sampling interval for longer footage)")))
          .otherwise(col("frame_idx"))).as("doc_id"),
      col("sim"))
  }

  /** Folds per-frame video signatures ((doc_id, frame_idx, sim) rows
    * — [[graft.operators.Multimodal.videoFrameDHashSigs]]'s shape)
    * into a [[buildSimIndex]] index's video-frame side. Lazily
    * creates the `_vchunks`/`_vframes` tables on first call; both
    * reads of `frameSigs` are append writes over the same immutable
    * input, so pinning is the CALLER's call (pass localCheckpoint'd
    * sigs when the upstream is a decode pipeline). */
  def appendVideoFramesToSimIndex(frameSigs: DataFrame,
      name: String): Unit = {
    val spark = frameSigs.sparkSession
    Bucketing.withIndexLease(spark, name,
      "appendVideoFramesToSimIndex") {
      val (maxDist, numBuckets) = simIndexMeta(spark, name)
      val live = frameSigs.filter(col("doc_id").isNotNull &&
        col("frame_idx").isNotNull && col("sim").isNotNull)
      Bucketing.appendBucketed(
        simChunkRows(videoCompositeKey(live), maxDist),
        s"${name}_vchunks", "chunk_hash", numBuckets)
      Bucketing.appendBucketed(
        live.groupBy(col("doc_id").as("vid")).agg(count(lit(1)).as("nf")),
        s"${name}_vframes", "vid", numBuckets)
    }
  }

  /** Screens batch videos (per-frame sig rows) against the index's
    * video-frame side: a batch video is flagged iff some indexed
    * video has the SAME frame count and EVERY aligned frame within
    * hamming maxDist — [[graft.operators.Multimodal
    * .videoNearDupPairs]]'s contract, rendered from one chunk_hash
    * equi-join (the bucketed index side never shuffles) plus one
    * (batch_vid, corpus_vid) tally aggregate. Returns the surviving
    * FRAME rows, shape-preserving, so survivors feed
    * [[appendVideoFramesToSimIndex]] directly. Duplicate index rows
    * from a replayed append cannot flip a verdict (frame matches
    * are distinct-ed before the tally). Before any frames are
    * indexed the screen passes everything — there is no evidence to
    * match against; likewise when a crash between the append's two
    * writes left `_vchunks` without `_vframes`, the screen degrades
    * to pass-everything (the family's recoverable-duplicate posture)
    * instead of throwing forever on the missing frame-count side. */
  def screenVideosAgainstSimIndex(batchFrameSigs: DataFrame,
      name: String): DataFrame = {
    val spark = batchFrameSigs.sparkSession
    val (maxDist, _) = simIndexMeta(spark, name)
    val live = batchFrameSigs.filter(col("doc_id").isNotNull &&
      col("frame_idx").isNotNull && col("sim").isNotNull)
    if (!spark.catalog.tableExists(s"${name}_vchunks") ||
      !spark.catalog.tableExists(s"${name}_vframes")) return live
    val M = Multimodal.MaxSampledFrames
    val matches = simChunkRows(videoCompositeKey(live), maxDist).as("a")
      .join(spark.table(s"${name}_vchunks").as("b"), Seq("chunk_hash"))
      .filter(bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= maxDist)
      .select(expr(s"a.doc_id div $M").as("bvid"),
        expr(s"a.doc_id % $M").as("bfi"),
        expr(s"b.doc_id div $M").as("cvid"),
        expr(s"b.doc_id % $M").as("cfi"))
      .filter(col("bfi") === col("cfi"))
      .select(col("bvid"), col("cvid"), col("bfi")).distinct()
    val tallies = matches.groupBy(col("bvid"), col("cvid"))
      .agg(count(lit(1)).as("n"))
    val bCounts = live.groupBy(col("doc_id").as("bvid"))
      .agg(count(lit(1)).as("nfb"))
    val flagged = tallies
      .join(spark.table(s"${name}_vframes").select(col("vid").as("cvid"),
        col("nf").as("nfc")).distinct(), Seq("cvid"))
      .join(bCounts.hint("SHUFFLE_HASH"), Seq("bvid"))
      .filter(col("n") === col("nfb") && col("n") === col("nfc"))
      .select(col("bvid")).distinct()
    live.join(flagged.hint("SHUFFLE_HASH"),
      col("doc_id") === col("bvid"), "left_anti")
  }

  /** RE-CHUNK actuator for the signature index — the [[
    * rebandDedupIndex]] symmetry for the perceptual family, closing
    * the last geometry frozen at build: `maxDist` fixes the
    * pigeonhole chunk count (maxDist+1 chunks guarantee a candidate
    * for any signature within maxDist), and loosening or tightening
    * it previously meant re-decoding the whole media corpus. It
    * never has to: every stored chunk row CARRIES its signature, so
    * the distinct (doc_id, sim) pairs are the index's own sufficient
    * statistic — re-chunking is one distinct-projection + one chunk
    * re-derivation per side, corpus (and decoder) never touched. A
    * rechunked index screens BIT-EQUAL to one built fresh at the new
    * maxDist (the d120 oracle is that equality, via d67's screen SQL
    * verbatim). The video-frame side re-chunks too when present
    * (frame chunks use the same maxDist); `_vframes` is geometry-
    * independent and stays.
    *
    * Crash safety: `_chunks`(+`_vchunks`)+`_meta` stage and promote
    * through [[IndexFamily.promote]]; [[IndexFamily.open]] finishes
    * an interruption in either direction. As a side effect the
    * distinct() absorbs any duplicate rows a replayed append
    * accreted (the compact verb's posture). */
  def rechunkSimIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, maxDist: Int): Unit =
    IndexFamily.promote(spark, IndexFamily.sim, name, "rechunkSimIndex") {
    require(maxDist >= 0 && maxDist <= 63,
      s"maxDist must be in [0, 63], got $maxDist")
    val (_, numBuckets) = simIndexMeta(spark, name)
    val sigs = spark.table(s"${name}_chunks")
      .select(col("doc_id"), col("sim")).distinct()
    // the stage writes are independent (pre-marker leftovers are
    // simply dropped) — overlapped (guide §2.6)
    graft.Par.run(
      () => Bucketing.writeBucketed(simChunkRows(sigs, maxDist),
        IndexFamily.stageName(name, "_chunks"), "chunk_hash", numBuckets),
      () => if (spark.catalog.tableExists(s"${name}_vchunks")) {
        val vsigs = spark.table(s"${name}_vchunks")
          .select(col("doc_id"), col("sim")).distinct()
        Bucketing.writeBucketed(simChunkRows(vsigs, maxDist),
          IndexFamily.stageName(name, "_vchunks"), "chunk_hash", numBuckets)
      },
      () => writeSimMeta(spark, maxDist, numBuckets,
        IndexFamily.stageName(name, "_meta")))
    }

  /** Retirement for the signature index ([[IndexFamily.retire]]) —
    * [[retireFromDedupIndex]]'s takedown verb without its
    * content-hash ambiguity: every chunk row carries its doc_id (and
    * every video-frame row its vid), so removing the ids removes the
    * document's entire screening footprint. */
  def retireFromSimIndex(ids: DataFrame, idCol: String,
      name: String): Unit =
    IndexFamily.retire(IndexFamily.sim, ids, col(idCol).cast("long"), name)

  /** [[IndexFamily.open]] for a [[buildSimIndex]] index; the optional
    * video-frame side re-registers when present. */
  def openSimIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    IndexFamily.open(spark, IndexFamily.sim, name)

  /** Occupancy/cardinality report for a [[buildSimIndex]] index —
    * the signature family's [[dedupIndexStats]]: one row with
    * `n_sigs` (indexed signatures — exact arithmetic
    * n_chunk_rows / (maxDist + 1), every sig contributes exactly its
    * pigeonhole chunk count), `n_chunk_rows` / `n_distinct_chunks` /
    * `max_chunk_occ` (the chunk-bucket histogram; a mega-bucket —
    * one chunk value shared by a huge near-family — is the screen
    * join's straggler signal). Groups by the table's own bucket key:
    * zero exchanges below the one-row gather. The xxhash64-fold
    * caveat of [[dedupIndexStats]] applies to `n_distinct_chunks`
    * identically. */
  def simIndexStats(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame = {
    val (maxDist, _) = simIndexMeta(spark, name)
    spark.table(s"${name}_chunks")
      .groupBy(col("chunk_hash")).agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n")).as("n_chunk_rows"),
        count(lit(1)).as("n_distinct_chunks"),
        max(col("__n")).as("max_chunk_occ"))
      .select((col("n_chunk_rows") / (maxDist + 1)).cast("long").as("n_sigs"),
        col("n_chunk_rows"), col("n_distinct_chunks"),
        col("max_chunk_occ"))
  }

  // ---------------------------------------------------------------
  // Persistent URL FRONTIER index — the fourth index family. The
  // production pipeline order is URL-screen → extract → gate →
  // content-dedup (the CCNet/RefinedWeb first pass: most re-crawls
  // are the SAME url under tracking params, and dropping them by key
  // costs one narrow equi-join instead of an extract + sketch pass).
  // One table, `<name>_url (uh)`, bucketed by uh =
  // md5(canonicalizeUrl(url)) — the canonical key IS the content
  // hash here (the d71 insight), so the family is `_ch`'s machinery
  // verbatim: distinct hashes, no ownership, append-only with
  // crash-safe compaction, and the same takedown contract.
  // ---------------------------------------------------------------

  private def urlKeys(docs: DataFrame, urlCol: String): DataFrame =
    docs.filter(col(urlCol).isNotNull)
      .select(md5(TextAnalysis.canonicalizeUrl(col(urlCol))).as("uh"))
      .distinct()

  /** Builds a persistent canonical-URL key set over `docs(urlCol)`.
    * Null-URL rows contribute nothing (a frontier key is the URL;
    * there is nothing to remember without one). */
  def buildUrlIndex(docs: DataFrame, urlCol: String, name: String,
      numBuckets: Int = 8): Unit = {
    val spark = docs.sparkSession
    Bucketing.withIndexLease(spark, name, "buildUrlIndex") {
      Bucketing.writeBucketed(urlKeys(docs, urlCol),
        s"${name}_url", "uh", numBuckets)
      import spark.implicits._
      Bucketing.writeTable(Seq(numBuckets).toDF("num_buckets"),
        s"${name}_meta")
    }
  }

  /** Screens `batch` against a [[buildUrlIndex]] frontier: returns
    * the rows whose canonical URL has never been seen. One narrow
    * md5-key anti-join — the bucketed index side never shuffles.
    * Null-URL rows are dropped at the door, [[graft.streaming
    * .StreamingIngest.toAnnIngest]]'s id-less-row contract: a row
    * the frontier cannot key can neither be screened nor make its
    * own replay idempotent, and passing it through silently would
    * turn the screen into a sieve. */
  def screenAgainstUrlIndex(batch: DataFrame, urlCol: String,
      name: String): DataFrame = {
    val spark = batch.sparkSession
    batch.filter(col(urlCol).isNotNull)
      .join(spark.table(s"${name}_url"),
        md5(TextAnalysis.canonicalizeUrl(col(urlCol))) === col("uh"),
        "left_anti")
  }

  /** Folds newly admitted URLs into the frontier as new per-bucket
    * files. Call with the rows that actually ENTERED the pipeline —
    * the frontier remembers fetched-and-processed URLs, not just
    * content survivors (a content-duplicate page's URL was still
    * seen; re-crawling it buys nothing). */
  def appendToUrlIndex(docs: DataFrame, urlCol: String,
      name: String): Unit =
    Bucketing.withIndexLease(docs.sparkSession, name,
      "appendToUrlIndex") {
      Bucketing.appendBucketed(urlKeys(docs, urlCol), s"${name}_url", "uh",
        IndexFamily.numBuckets(docs.sparkSession, IndexFamily.url, name))
    }

  /** Reconciles a url frontier against the LANDED rows
    * ([[IndexFamily.reconcile]]): landed canonical keys absent from
    * `_url` append as new per-bucket files, count surfaced (distinct
    * missing keys). */
  def reconcileUrlIndex(landed: DataFrame, urlCol: String,
      name: String): Long =
    IndexFamily.reconcile(IndexFamily.url, urlKeys(landed, urlCol),
      col("uh"), name)(missing => Bucketing.appendBucketed(missing,
      s"${name}_url", "uh",
      IndexFamily.numBuckets(landed.sparkSession, IndexFamily.url, name)))

  /** [[IndexFamily.compact]] for a url frontier, deduplicating the
    * appended key files. */
  def compactUrlIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    IndexFamily.compact(spark, IndexFamily.url, name)

  /** Takedown verb ([[IndexFamily.retire]]): removes the given URLs'
    * canonical keys so they can be re-crawled fresh. Keys are
    * DISTINCT with no ownership (same layout as `_ch`), but unlike
    * content hashes a canonical URL is its own identity — no
    * shared-key collateral exists. */
  def retireFromUrlIndex(docs: DataFrame, urlCol: String,
      name: String): Unit =
    IndexFamily.retire(IndexFamily.url, docs,
      md5(TextAnalysis.canonicalizeUrl(col(urlCol))), name)

  /** [[IndexFamily.open]] for a [[buildUrlIndex]] frontier. */
  def openUrlIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    IndexFamily.open(spark, IndexFamily.url, name)

  /** Cardinality report for a [[buildUrlIndex]] frontier — the
    * family's [[dedupIndexStats]]. The frontier is a distinct key
    * set (one md5 per canonical URL, no ownership, no occupancy),
    * so the report is the one number a crawl scheduler reads:
    * `n_urls`, the frontier's size. A single count over the bucketed
    * scan. */
  def urlIndexStats(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame =
    spark.table(s"${name}_url").agg(count(lit(1)).as("n_urls"))

  /** The shared positional gram pipeline under [[crossDocSpans]] and
    * [[gramProfile]]: one scan — tokenize, [[graft.functions
    * .WordGrams]] emits every k-token gram in positional order (one
    * kernel pass), posexplode, [[md5Hash60]] each gram. Only the
    * narrow (doc_id, pos: 1-based, h) rows ever reach a shuffle; the
    * wide gram strings live and die inside the scan stage. The hash
    * is md5, so every consumer is engine-reproducible end to end
    * (DuckDB recomputes each gram hash from raw text). */
  def gramHashes(docs: DataFrame, idCol: String, textCol: String,
      k: Int, tokenizer: String = "ws"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.SketchFunctions.wordGrams(
          tokensFor(tokenizer, col(textCol)), k)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        md5Hash60(col("col")).as("h"))
  }

  /** Repeated-gram SUPPORT histogram — the memorization-risk report
    * of the dedup literature (Lee et al. 2107.06499 count duplicated
    * substrings; Carlini et al. 2202.07646 measure that extraction
    * probability grows with a sequence's duplication count): for
    * k-token grams present in >= `minDocs` DISTINCT documents, the
    * distribution of that support — one (n_docs, n_grams) row per
    * support level, "how many distinct k-grams appear in exactly N
    * documents". The tail of this histogram is what span-level
    * dedup (D25) cuts; published beside the cluster-size report card
    * (D63) it quantifies the residual memorization surface, in pure
    * integer counts (the d78 rounding lesson). Grams are
    * [[md5Hash60]]-keyed, so the oracle's string-keyed recount
    * verifies the no-collision premise at every gate SF (the d97
    * discipline).
    *
    * Scale shape — three aggregates, each orders of magnitude
    * smaller than the last, no windows, no joins: distinct
    * (h, doc_id) rides ONE composite-keyed hash aggregate (the
    * composite key is NOT skewed — a mega-gram spreads across its
    * documents — and map-side partials collapse in-doc repeats
    * before the exchange); per-hash support is a plain count over
    * distinct pairs (h-keyed, streaming — the zipf-head gram is one
    * GROUP, never one task's sorted row set); the histogram groups
    * the vocabulary-sized support table by count. */
  def gramSupportHistogram(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val perDoc = gramHashes(docs, idCol, textCol, k)
      .groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("__occ"))
    val support = perDoc.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    support.groupBy(col("n_docs"))
      .agg(count(lit(1)).as("n_grams"))
  }

  /** The de-skewed cross-doc gram machinery shared by [[gramProfile]],
    * [[crossDocSpans]] and [[cutCrossDocSpans]]: ONE explicit
    * gram-hash shuffle below every consumer (`repartition(h)` — the
    * [[bandPairsFromSigs]]/[[simhashPairsFromSigs]] ReuseExchange
    * pattern, so the scan+tokenize+gram+md5 pipeline materializes
    * once), plus a per-hash min/max doc-id AGGREGATE on that
    * partitioning.
    *
    * Why an aggregate + join-back and not `min/max OVER (PARTITION BY
    * h)` (the round-9 form): a window function must SORT its task's
    * rows by the partition key and BUFFER each key's entire row group
    * (WindowExec's spillable row array) before emitting — and neither
    * partial aggregation nor AQE's skew-split applies to a Window
    * node, so a boilerplate mega-gram (a license header repeated in
    * 10^8 documents of a 100 TB corpus) lands its whole row set in
    * one sorting, spilling task. The aggregate form streams those
    * same rows through a hash aggregate (one entry per hash — no
    * sort, no row buffer, no spill) and the flag comes back via a
    * SHUFFLE_HASH-hinted join that builds on the per-hash STATS side
    * (distinct hashes, bounded per partition) and STREAMS the
    * instance side — the hot key costs two linear streaming passes
    * with O(distinct-keys) memory instead of a sort+buffer+spill
    * straggler. (Measured honestly: AQE's skew-split does NOT fire
    * here either — the build child is an aggregate over the reused
    * stage, not a bare shuffle read, so OptimizeSkewedJoin's pattern
    * doesn't match even at a 64 KB skew threshold. Neither form is
    * AQE-splittable; the aggregate form just makes the hot-key task
    * linear and memory-light where the window's was sort+spill.)
    * Returns (keyed, stats): `keyed` the h-partitioned gram rows,
    * `stats` one (h, __mn, __mx) row per hash on the same
    * partitioning (zero additional exchanges). */
  private def gramKeyedStats(grams: DataFrame): (DataFrame, DataFrame) = {
    val keyed = grams.repartition(col("h"))
    // `when(pos >= 1, doc_id)` is exactly doc_id (pos is 1-based, so
    // the guard always holds), but the pos REFERENCE is load-bearing:
    // it keeps the stats subtree's column set identical to the
    // instance subtree's. With min(doc_id) alone, column pruning
    // narrows the stats branch BELOW the explicit repartition, the
    // two Exchange subtrees stop matching canonically, and
    // ReuseExchange dies — observed in the physical plan as a second
    // Generate, i.e. the whole scan+tokenize+gram+md5 pipeline
    // running twice. Two rejected pinning forms: min(struct(doc_id,
    // pos)) falls off HashAggregate onto SortAggregate (struct
    // buffer), whose per-partition sort re-creates the very hot-key
    // sort this shape exists to avoid; doc_id + pos*0 gets
    // constant-folded back to bare doc_id. The always-true non-literal
    // guard survives the optimizer and keeps the aggregate a
    // streaming hash aggregate.
    val stats = keyed.groupBy(col("h"))
      .agg(min(when(col("pos") >= 1, col("doc_id"))).as("__mn"),
        max(col("doc_id")).as("__mx"))
    (keyed, stats)
  }

  /** Composed per-document gram profile — the Gopher-style duplicate
    * n-gram fraction (intra-doc repetition at span granularity, the
    * k-gram sharpening of d15's distinct-token signal) AND the
    * cross-doc repeated-gram count (the [[crossDocSpans]] candidate
    * signal) from ONE shared gram pass:
    *
    *   - one [[gramHashes]] scan (shared machinery, one Generate);
    *   - ONE gram-keyed exchange (explicit, so ReuseExchange
    *     materializes the gram pipeline once) feeding BOTH
    *     aggregates: per-(h, doc_id) instance counts and per-hash
    *     min/max doc ids — HashPartitioning(h) satisfies the
    *     (h, doc_id) clustering, so neither adds an exchange;
    *   - the SHUFFLE_HASH LEFT join marks cross-doc membership on
    *     the same partitioning (no exchange, no sort — see
    *     [[gramKeyedStats]] for why aggregate+join beats the window
    *     form on a hot gram). The build side is the FILTERED
    *     cross-doc hash set — the boilerplate sliver — not one row
    *     per distinct gram: joining the full stats table was
    *     measured ~1.4× slower at sf0.1, the build-map cost for
    *     millions of singleton hashes the profile never reads;
    *   - ONE doc-keyed exchange for the final per-doc aggregate,
    *     over rows already collapsed to distinct (h, doc_id).
    *
    * The composition argument made concrete: when a curation pipeline
    * wants both repetition scoring and substring-dedup candidates,
    * they ride a single corpus pass instead of two (the D13-style
    * composed-pipeline shape).
    *
    * Returns (doc_id, n_grams, dup_gram_frac, n_crossdoc_grams);
    * documents shorter than k tokens hold no k-gram and are absent.
    */
  def gramProfile(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    // the profile never reads gram positions, so the exchange carries
    // only (doc_id, h) — narrower than the spans pipeline's — and both
    // consumers reference exactly those two columns, so the pruned
    // branches stay canonically identical and ReuseExchange holds
    // explicit isNotNull on h (always true — md5 of a non-null gram):
    // the LEFT join below makes the optimizer infer it on the BUILD
    // branch only (null keys can't match, left rows survive anyway),
    // which would de-canonicalize the two exchange subtrees and kill
    // ReuseExchange; stating it on the shared pipeline keeps both
    // branches identical
    val keyed = gramHashes(docs, idCol, textCol, k)
      .select(col("doc_id"), col("h"))
      .filter(col("h").isNotNull)
      .repartition(col("h"))
    val crossdoc = keyed.groupBy(col("h"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("h"), lit(1).as("__cd"))
    // instance counts collapse to distinct (h, doc_id) BEFORE the
    // join and the doc exchange: the per-doc sums below are exact
    // integer reconstructions of the instance-level aggregates
    val perDoc = keyed.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("__c"))
    perDoc.join(crossdoc.hint("SHUFFLE_HASH"), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("n_grams"),
        round(sum(when(col("__c") > 1, col("__c")).otherwise(0L)) /
          sum(col("__c")).cast("double"), 4).as("dup_gram_frac"),
        sum(when(col("__cd").isNotNull, col("__c")).otherwise(0L))
          .as("n_crossdoc_grams"))
  }

  /** Exact substring-level dedup — the third standard LLM-corpus
    * dedup mode alongside exact-doc ([[exact]]) and near-doc
    * ([[minhashPairs]]/[[simhashPairs]]): find maximal spans of >= k
    * consecutive whitespace tokens repeated ACROSS documents
    * (boilerplate headers, license blocks, quoted chunks that
    * doc-level Jaccard misses because the containing documents
    * differ). The "deduplicating training data" pass: a downstream
    * cleaner can cut the reported spans from all-but-one holder.
    *
    * Spark shape — two keyed exchanges and one exchange-free
    * semi-join:
    *   1. One scan: tokenize, [[graft.functions.WordGrams]] emits
    *      every k-token gram in positional order (one kernel pass),
    *      posexplode, [[md5Hash60]] each gram — only the narrow
    *      (doc_id, pos, h) rows ever reach a shuffle; the wide gram
    *      strings live and die inside the scan stage.
    *   2. ONE gram-keyed exchange ([[gramKeyedStats]]): a gram is
    *      cross-doc repeated iff min(doc_id) != max(doc_id) over its
    *      hash, computed as a streaming hash AGGREGATE on the
    *      explicit h-partitioning and married back by an
    *      exchange-free SHUFFLE_HASH left-semi join (build = the
    *      filtered per-hash stats, stream = the instance rows).
    *      ReuseExchange keeps the gram pipeline one corpus pass, and
    *      a boilerplate mega-gram streams through agg + probe instead
    *      of sort-buffering one window task — see [[gramKeyedStats]].
    *   3. ONE doc-keyed exchange: gaps-and-islands — positions p, q
    *      (q > p) belong to one span iff q - p <= k (their k-token
    *      windows overlap or touch), so a break opens where
    *      pos - lag(pos) > k; a running sum of breaks numbers the
    *      islands, and the final groupBy reuses the doc partitioning
    *      (no further exchange).
    *
    * The gram hash is [[md5Hash60]], so the ENTIRE operator — not a
    * twin — is engine-reproducible and oracle-checked the d31 way
    * (DuckDB recomputes every gram hash from raw text).
    *
    * Returns (doc_id, span_start, span_end, n_grams): 1-based
    * inclusive token positions, span_end - span_start + 1 >= k;
    * n_grams = number of cross-doc k-grams merged into the span.
    */
  def crossDocSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val (keyed, stats) = gramKeyedStats(gramHashes(docs, idCol, textCol, k))
    // inner join against the filtered one-row-per-hash stats, not a
    // left-semi: PushDownLeftSemiAntiJoin pushes a semi join BELOW
    // the explicit repartition, which splits the reused exchange
    // (the instance side's shuffle becomes a fresh
    // ENSURE_REQUIREMENTS exchange that no longer canonically
    // matches the stats side's). Multiplicity is 1 either way.
    val crossdoc = stats.filter(col("__mn") =!= col("__mx")).select(col("h"))
    val hits = keyed
      .join(crossdoc.hint("SHUFFLE_HASH"), Seq("h"))
      .select(col("doc_id"), col("pos"))
    mergeIslands(hits, k)
  }

  /** The gaps-and-islands merge shared by [[crossDocSpans]] and
    * [[cutCrossDocSpans]]: gram hit positions p, q (q > p) belong to
    * one span iff q - p <= k (their k-token windows overlap or
    * touch), so a break opens where pos - lag(pos) > k; a running sum
    * of breaks numbers the islands, and the final groupBy reuses the
    * doc partitioning (ONE doc-keyed exchange total). Returns
    * (doc_id, span_start, span_end, n_grams), 1-based inclusive. */
  private def mergeIslands(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = hits
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > k, 1).otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"))
  }

  /** The cleaning half of substring-level dedup ("deduplicating
    * training data" keep-one): rewrite each document with its
    * cross-doc repeated spans REMOVED unless this document is the
    * span's canonical keeper. Keeper policy is per gram hash: the
    * smallest doc_id holding a gram keeps it; every other holder's
    * covered token positions are cut. Deterministic, join-order
    * independent, and composable with [[crossDocSpans]] (same gram
    * machinery, same islands merge).
    *
    * Shape: the [[gramHashes]] scan + ONE gram-keyed exchange (the
    * [[gramKeyedStats]] aggregate + exchange-free SHUFFLE_HASH
    * join-back) + ONE doc-keyed islands merge as in
    * [[crossDocSpans]], then the reconstruct join: the
    * per-doc cut list (collect_list on the islands' doc partitioning,
    * no extra exchange) joins back to a SECOND narrow scan of the
    * corpus holding the original-case token array, and a codegen-free
    * filter HOF drops covered positions (tokens × spans per doc —
    * spans per doc are few). Token positions are computed on the
    * LOWERCASED tokenization but applied to the original-case split:
    * lower() never changes whitespace, so the two align 1:1.
    *
    * Returns (doc_id, clean_text): whitespace-canonical (tokens
    * re-joined with single spaces), original case; a fully-covered
    * document becomes the empty string. Intra-document repeats inside
    * the keeper stay (keep-one is across documents; pair with
    * [[gramProfile]]'s dup_gram_frac for intra-doc policy). */
  def cutCrossDocSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val (keyed, stats) = gramKeyedStats(gramHashes(docs, idCol, textCol, k))
    // inner join (not semi): the keeper rule needs __mn per row.
    // The build side carries only (h, __mn) — __mx's job ends at the
    // cross-doc filter, and the build map is per-task memory.
    val cutHits = keyed
      .join(stats.filter(col("__mn") =!= col("__mx"))
        .select(col("h"), col("__mn")).hint("SHUFFLE_HASH"),
        Seq("h"))
      .filter(col("doc_id") =!= col("__mn"))
      .select(col("doc_id"), col("pos"))
    val cuts = mergeIslands(cutHits, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__cuts"))
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("__w"))
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(
          when(col("__cuts").isNull, col("__w"))
            .otherwise(filter(col("__w"), (w, i) =>
              !exists(col("__cuts"), c =>
                (i + 1) >= c.getField("span_start") &&
                  (i + 1) <= c.getField("span_end")))),
          " ").as("clean_text"))
  }

  /** Corpus-wide LINE-level dedup — the C4/RefinedWeb line discipline
    * (C4 discards every occurrence-after-the-first of any line
    * repeated across the corpus; RefinedWeb's line-wise dedup is the
    * same pass at line granularity): a line whose normalized form
    * (trim + lowercase) appears in at least `minDocs` DISTINCT
    * documents keeps exactly ONE occurrence — the minimal (doc_id,
    * pos) — and every other occurrence corpus-wide is removed,
    * including later repeats inside the keeper document itself.
    * Blank-normalized lines (structural whitespace) never
    * participate and are always kept. This is the boilerplate killer
    * document-level dedup (D1) and span-level dedup (D25) both miss
    * at their granularity: navigation bars, cookie banners and
    * license lines that repeat verbatim across otherwise-distinct
    * pages (reference scope: xgp/keycloak-event-stream has no
    * corpus-cleaning surface; this is engine-own pipeline ground).
    *
    * Shape — r15's two-level aggregate revision, after the sfmega
    * hot-line probe caught the r14 form (one h-keyed exchange of the
    * FULL line stream, consumed twice) losing 2× to even the window
    * form: the hot task there both read the mega-line's whole row
    * set twice AND built the h-partition's per-(h, doc) hash map
    * alone. Now the full stream is aggregated FIRST on the COMPOSITE
    * (h, doc_id) key — unskewed by construction (a boilerplate
    * mega-line spreads across its documents), map-side partials
    * collapse in-doc repeats, and min/count keep the buffer on
    * HashAggregate's primitive fast path — so the only h-clustered
    * data is the collapsed PAIRS table (h, doc, min-pos, count): one
    * explicit `repartition(h)` on it is reused by both the per-hash
    * keeper aggregate (count + min + min_by(min-pos, doc_id) — a
    * min(struct) would fall to SortAggregate; an explicit keeper
    * equi-join gets re-keyed by the optimizer onto (h, doc),
    * re-shuffling both sides) and the removal probe join, an
    * exchange-free SHUFFLE_HASH build on the duplicated-hash SLIVER.
    * The hot h still lands one partition there, but as collapsed
    * per-doc rows streamed by aggregate and probe — never a sorted
    * window buffer, never a single-task hash map of the whole
    * stream. The rebuild is [[cutCrossDocSpans]]'s reconstruct join
    * with hash-keyed removal entries instead of position lists: each
    * affected doc gets its removed-line (hash, keeper-pos) structs
    * via ONE doc-keyed exchange of the sliver, and a filter HOF
    * re-hashes each line ONCE (transform to (line, hash) structs
    * first, so the hash is not recomputed per removal entry) and
    * drops every occurrence except the keeper's — the document is
    * never exploded a second time.
    *
    * The line hash is [[md5Hash60]] over the normalized line, so the
    * whole operator is oracle-reproducible (DuckDB re-derives every
    * line hash, the keeper choice and the reassembled text).
    *
    * Returns (doc_id, n_lines, n_removed, clean_text): one row per
    * non-null input doc; `clean_text` re-joins kept lines with "\n"
    * in original order (original case — normalization exists only
    * for matching); a document whose every line is removed becomes
    * the empty string. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val lines = live
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n", -1)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        md5Hash60(trim(lower(col("col")))).as("h"),
        (length(trim(col("col"))) > 0).as("__nb"))
    // Level 1: full-stream collapse on the UNSKEWED composite key.
    // Map-side partials fold in-doc repeats before the exchange; the
    // min-only buffer stays on HashAggregate's primitive fast path.
    // Deliberately NO occurrence count here: count(c) on the
    // non-nullable output gets rewritten to count(1) by the
    // optimizer, which prunes the column from ONE consumer branch
    // below the shared h repartition and kills the ReuseExchange
    // (observed; the removed COUNT is instead derived in the rebuild
    // as size(original) - size(kept) — already-computed arrays).
    val pairs = lines.filter(col("__nb"))
      .groupBy(col("h"), col("doc_id"))
      .agg(min(col("pos")).as("__mnpos"))
      .repartition(col("h"))
    // Level 2: per-hash stats over the collapsed pairs, riding the
    // ONE explicit h exchange. doc_id is unique within the group, so
    // min_by is deterministic.
    val keeper = pairs.groupBy(col("h"))
      .agg(count(lit(1)).as("__nd"),
        min(col("doc_id")).as("__mn"),
        min_by(col("__mnpos"), col("doc_id")).as("__kpos"))
      .filter(col("__nd") >= minDocs)
      .select(col("h").as("__dh"), col("__mn"), col("__kpos"))
    // One removal ENTRY per (duplicated hash, doc): the keeper doc
    // keeps its first occurrence (k = keeper pos), every other doc
    // removes all occurrences (k = null). The coalesce's fallback
    // never fires — on the keeper row __kpos IS that row's __mnpos
    // by construction — it is here so this branch consumes the SAME
    // pairs columns {h, doc_id, __mnpos} as the keeper aggregate:
    // column pruning would otherwise project __mnpos away below the
    // shared h repartition and kill the ReuseExchange (the d33
    // discipline).
    val hits = pairs
      .join(keeper.hint("SHUFFLE_HASH"), col("h") === col("__dh"))
      .select(col("doc_id"),
        struct(col("h").as("h"),
          when(col("doc_id") === col("__mn"),
            coalesce(col("__kpos"), col("__mnpos"))).as("k"))
          .as("__e"))
    val rm = hits.groupBy(col("doc_id"))
      .agg(collect_list(col("__e")).as("__rm"))
    // Rebuild: hash each line ONCE (transform to (line, hash)
    // structs, so exists() does not recompute md5 per removal
    // entry), drop occurrences per the entries, re-join original
    // case/order. The kept array materializes in its OWN projection
    // (CollapseProject keeps non-cheap expressions referenced twice
    // out of line), so n_removed's size() does not re-run the HOF
    // chain.
    val withH = transform(col("__ls"), ln =>
      struct(ln.as("l"), md5Hash60(trim(lower(ln))).as("hh")))
    val keptLines = transform(
      filter(withH, (e, i) =>
        !exists(col("__rm"), x =>
          x.getField("h") === e.getField("hh") &&
            (x.getField("k").isNull || x.getField("k") =!= i + 1))),
      e => e.getField("l"))
    live
      .select(col(idCol).as("doc_id"), split(col(textCol), "\n", -1).as("__ls"))
      .join(rm.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("__ls"),
        when(col("__rm").isNull, col("__ls")).otherwise(keptLines)
          .as("__kept"))
      .select(col("doc_id"),
        size(col("__ls")).as("n_lines"),
        (size(col("__ls")) - size(col("__kept"))).as("n_removed"),
        array_join(col("__kept"), "\n").as("clean_text"))
  }

  /** Benchmark decontamination — the eval-overlap screen every
    * training-data pipeline runs before a model train: flag (and let
    * the caller drop) training documents that share any k-token gram
    * with a held-out evaluation/benchmark set, so test questions do
    * not leak into the training corpus (the GPT-3/PaLM 13-gram
    * overlap check; k is the knob).
    *
    * Spark shape — the asymmetric-cardinality join done right:
    *   1. The holdout side (benchmarks are MBs against a 100 TB
    *      corpus) reduces to its DISTINCT gram-hash set via one
    *      [[gramHashes]] pass, and is broadcast — the corpus-side
    *      screen is then map-side, no corpus shuffle to pair up.
    *   2. The training corpus runs the SAME [[gramHashes]] scan; a
    *      broadcast LEFT SEMI join keeps only gram rows whose hash
    *      appears in the holdout set, so the only exchange in the
    *      operator (the per-doc count aggregate) carries matching
    *      grams alone — at a sane contamination rate, a sliver of
    *      the corpus.
    *   3. A left join back to the doc ids (broadcast-sized per
    *      partition after aggregation) closes the report: every
    *      training doc appears, contaminated or not.
    *
    * The gram hash is [[md5Hash60]], so the ENTIRE screen is
    * engine-reproducible and oracle-checked (DuckDB re-derives the
    * holdout gram set and the per-doc overlap counts from raw text).
    *
    * Returns (doc_id, shared_grams, contaminated): one row per
    * non-null training doc; shared_grams counts the doc's k-gram
    * positions whose gram occurs anywhere in the holdout;
    * documents shorter than k tokens hold no gram and report 0. */
  def decontaminate(train: DataFrame, holdout: DataFrame,
      idCol: String, textCol: String, k: Int = 8,
      tokenizer: String = "ws"): DataFrame = {
    // the contamination screen matches SEQUENCES, where punctuation
    // blindness bites hardest: a benchmark question quoted with a
    // trailing "?" glued to its last word shares NO ws k-grams with
    // the clean holdout — the normalized families close that hole
    // (the D93/D101 argument; both sides MUST use one family, which
    // is why it is one parameter for the pair)
    val holdGrams = gramHashes(holdout, idCol, textCol, k, tokenizer)
      .select(col("h")).distinct()
    val shared = gramHashes(train, idCol, textCol, k, tokenizer)
      .join(broadcast(holdGrams), Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_grams"))
    train
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"),
        (coalesce(col("shared_grams"), lit(0L)) > 0L).as("contaminated"))
  }

  /** Connected components over verified near-dup pairs: the step that
    * turns pairwise matches into dedup GROUPS (a near-dup cluster is
    * the transitive closure of its pairs). Two phases:
    *
    * 1. Partition-local contraction: a union-find (union by min id,
    *    path compression) over whatever edges landed in each partition
    *    via `mapPartitions`, emitting one star edge (node → local min)
    *    per node. Connectivity is preserved — any original edge links
    *    its endpoints through their local stars — and the graph
    *    shrinks from |E| edges to |V| star edges. When the pair set is
    *    small (AQE coalesces the verification join's output to one
    *    partition) this single task already solves the whole graph.
    * 2. If the contracted star graph is small (≤ `smallGraph` edges,
    *    default [[defaultSmallGraphEdges]]), one single-task
    *    union-find pass over all stars solves it exactly in one job.
    *    Otherwise: min-label propagation with pointer jumping
    *    (label := label[label]) — fixpoint in O(log diameter) rounds,
    *    one action per round (the previous label rides through the
    *    aggregate, so no second join is needed to count changes).
    *
    * Returns (id, component), one row per id that appears in any
    * pair; all members of a cluster share one component value, which
    * is itself a member id (the min id when ids are integral).
    *
    * Ids of any type are accepted: integral ids run the long-keyed
    * propagation directly; anything else (strings, UUIDs, …) is
    * dictionary-encoded to dense longs first and decoded on the way
    * out, so the hot loop never carries wide keys.
    *
    * Fault-tolerance: every intermediate pin below defaults to
    * `localCheckpoint` (executor-local blocks, lineage truncated — an
    * executor lost mid-run fails the job unrecoverably; fine for
    * local mode and dedicated clusters). On a cluster with
    * preemption/dynamic-allocation churn pass `reliable = true` to
    * pin via RELIABLE checkpoints instead (survive executor loss;
    * requires `sparkContext.setCheckpointDir` on a shared filesystem
    * and pays one distributed write per pin of a narrow two-long
    * projection). Same contract as [[Packing.sequencePack]].
    */
  def components(pairs: DataFrame, maxIter: Int = 20,
      smallGraph: Long = defaultSmallGraphEdges,
      reliable: Boolean = false): DataFrame = {
    val idT = pairs.schema("id_a").dataType
    if (isIntegral(idT)) {
      componentsLong(pairs.select(
        col("id_a").cast("long"), col("id_b").cast("long")), maxIter, smallGraph,
        reliable)
        .select(col("id").cast(idT).as("id"),
          col("component").cast(idT).as("component"))
    } else {
      // dictionary-encode: one dense long per distinct id. The dict is
      // pinned because monotonically_increasing_id is only stable
      // within one materialization — encode and decode must see the
      // same assignment.
      val dict = pin(pairs.select(col("id_a").as("orig"))
        .unionAll(pairs.select(col("id_b").as("orig")))
        .distinct()
        .withColumn("nid", monotonically_increasing_id()), reliable)
      val enc = pairs
        .join(dict.select(col("orig").as("id_a"), col("nid").as("na")), Seq("id_a"))
        .join(dict.select(col("orig").as("id_b"), col("nid").as("nb")), Seq("id_b"))
        .select(col("na").as("id_a"), col("nb").as("id_b"))
      componentsLong(enc, maxIter, smallGraph, reliable)
        .join(dict.select(col("nid").as("id"), col("orig").as("__oid")), Seq("id"))
        .join(dict.select(col("nid").as("component"), col("orig").as("__ocomp")),
          Seq("component"))
        .select(col("__oid").as("id"), col("__ocomp").as("component"))
    }
  }

  /** The components() pin: localCheckpoint by default, reliable
    * checkpoint on request (see the fault-tolerance note above). */
  private def pin(df: DataFrame, reliable: Boolean,
      eager: Boolean = true): DataFrame =
    if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)

  /** Minimal primitive long→long open-addressing map (power-of-two
    * capacity, linear probing, grow at 50 % load) for the union-find
    * hot loop: two `long[]` cost ≤ 32 B per entry at the load ceiling
    * — versus ~50-60 B per entry of boxed Node objects in a
    * `java.util.HashMap[Long, Long]` — with zero per-op boxing.
    * `Long.MinValue` is the empty-slot sentinel, handled as an
    * out-of-band key so every long id is storable. */
  private final class LongLongMap(initialCapacity: Int = 1 << 10) {
    private val EMPTY = Long.MinValue
    private var cap = {
      var c = 16; while (c < initialCapacity) c <<= 1; c
    }
    private var mask = cap - 1
    private var keys = {
      val a = new Array[Long](cap); java.util.Arrays.fill(a, EMPTY); a
    }
    private var vals = new Array[Long](cap)
    private var n = 0
    private var hasEmptyKey = false
    private var emptyVal = 0L

    /** Slot holding `k`, or the empty slot where it would go. */
    private def slot(k: Long): Int = {
      var h = k * 0x9E3779B97F4A7C15L // splitmix64-style spread of sequential ids
      h ^= h >>> 32
      var i = (h & mask).toInt
      while (keys(i) != EMPTY && keys(i) != k) i = (i + 1) & mask
      i
    }
    def contains(k: Long): Boolean =
      if (k == EMPTY) hasEmptyKey else keys(slot(k)) == k
    /** Value for a key the caller knows is present. */
    def get(k: Long): Long =
      if (k == EMPTY) emptyVal else vals(slot(k))
    def put(k: Long, v: Long): Unit = {
      if (k == EMPTY) {
        if (!hasEmptyKey) { hasEmptyKey = true; n += 1 }
        emptyVal = v
      } else {
        val i = slot(k)
        if (keys(i) == k) vals(i) = v
        else {
          keys(i) = k; vals(i) = v; n += 1
          if ((n.toLong << 1) > cap) grow()
        }
      }
    }
    /** Lazy key iterator. Safe to `put` existing keys (path
      * compression) while iterating — updates touch vals only, slots
      * never move once no new keys are inserted. */
    def keysIterator: Iterator[Long] = {
      val base = Iterator.range(0, cap).filter(i => keys(i) != EMPTY).map(i => keys(i))
      if (hasEmptyKey) Iterator.single(EMPTY) ++ base else base
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); java.util.Arrays.fill(keys, EMPTY)
      vals = new Array[Long](cap)
      var i = 0
      while (i < ok.length) {
        if (ok(i) != EMPTY) { val s = slot(ok(i)); keys(s) = ok(i); vals(s) = ov(i) }
        i += 1
      }
    }
  }

  /** Union-find (union by min id, path compression) over one
    * partition's edges, emitting one (node, local root) star edge per
    * node seen. Roots are always member ids (the local min), so the
    * output of one pass is itself a valid edge set for another.
    * Output is emitted lazily straight off the map's slots — no
    * second materialized copy of the partition's nodes. */
  private def unionFind(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new LongLongMap()
    def find(x0: Long): Long = {
      var r = x0
      while (parent.get(r) != r) r = parent.get(r)
      var c = x0 // path compression
      while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    it.foreach { case (a, b) =>
      if (!parent.contains(a)) parent.put(a, a)
      if (!parent.contains(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      // union by min id keeps every root = min of its local set
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    parent.keysIterator.map(k => (k, find(k)))
  }

  /** Default for `smallGraph` below: star graphs at or below this many
    * edges after phase-1 contraction collapse in ONE single-task
    * union-find pass instead of iterating distributed label rounds.
    * Honest JVM accounting: the task's map is [[LongLongMap]] — two
    * `long[]` at ≤ 50 % load, ≤ 32 B per node — and 4M star edges
    * carry at most 8M distinct nodes → ≤ 256 MB in one task
    * (typically half that, since phase 1 emits one star edge per
    * node), well below executor memory. Phase 1 has already
    * contracted |E| edges down to one star edge per (node,
    * partition), so even a 100 TB corpus whose near-dup graph has
    * millions of matched nodes takes this path; only tens of millions
    * of distinct matched nodes and up fall through to the O(log d)
    * iterative rounds. */
  val defaultSmallGraphEdges: Long = 4L << 20

  private def componentsLong(pairsLong: DataFrame, maxIter: Int,
      smallGraph: Long, reliable: Boolean): DataFrame = {
    val spark = pairsLong.sparkSession
    import spark.implicits._

    // Phase 1: per-partition union-find → (node, local min) stars.
    val stars = pairsLong
      .as[(Long, Long)]
      .mapPartitions(unionFind _)
      .toDF("id", "component")

    // Route on the RAW star count (one row per node per partition —
    // an upper bound on the distinct star count, so the routing is
    // conservative): union-find is insensitive to duplicate edges, so
    // the small-graph path needs no distinct() shuffle at all — at
    // bench scale that shuffle's 32-task scheduling floor was the
    // single biggest cost of a components() call on a tiny graph.
    val stars0 = stars.cache()
    val nStars = stars0.count()

    // Small-graph collapse: one union-find task over ALL star edges
    // solves the whole graph exactly (stars are themselves edges:
    // node → local min, a member id), replacing per-round join jobs
    // whose scheduling floor dominates at this size. Identical output
    // to the fixpoint: root = component min, one row per node.
    if (nStars <= smallGraph) {
      val out = pin(stars0.as[(Long, Long)]
        .coalesce(1)
        .mapPartitions(unionFind _)
        .toDF("id", "component"), reliable)
      stars0.unpersist()
      return out
    }

    // Phase 2: min-label fixpoint over the (symmetrized) star edges.
    // Here the distinct() pays for itself: it shrinks every join of
    // the iterative rounds below.
    val init = stars0.distinct().cache()
    var labels = init
    val half = labels.filter(col("id") =!= col("component"))
      .select(col("id").as("src"), col("component").as("dst"))
    val edges = half
      .unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    var changed = 1L
    var iter = 0
    var prev: DataFrame = null
    while (changed > 0 && iter < maxIter) {
      val prop = edges.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("component"),
          lit(null).cast("long").as("old"))
        .unionAll(labels.select(col("id"), col("component"),
          col("component").as("old")))
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"), min(col("old")).as("old"))
        .cache()
      // pointer jumping: component := component's component. Labels
      // only ever decrease toward the true component min, and every
      // label value is itself a node id with a label row, so the jump
      // halves the remaining pointer-chain length — with the
      // neighbor-min step above, fixpoint lands in O(log diameter)
      // rounds instead of O(diameter) (at fixpoint the jump is the
      // identity: label(label(x)) = label(min) = min).
      //
      // checkpoint, not cache: the jump self-joins prop with
      // itself, so a lineage-preserving plan doubles every round
      // (exponential tree, OOM just STRINGIFYING it by round ~10);
      // checkpointing pins the round's result as a fresh scan and
      // keeps the plan constant-size across rounds. Lazy (eager=false)
      // so the changed-count action below materializes it — one job
      // per round, not a checkpoint job plus a count job.
      val jumped = pin(prop
        .join(prop.select(col("id").as("component"), col("component").as("jcomp")),
          Seq("component"), "left")
        .select(col("id"),
          coalesce(col("jcomp"), col("component")).as("component"), col("old")),
        reliable, eager = false)
      changed = jumped.filter(col("component") < col("old")).count()
      prop.unpersist()
      if (prev != null) prev.unpersist()
      prev = jumped
      labels = jumped.select(col("id"), col("component"))
      iter += 1
    }
    // pin the result, then release every cached frame it was built
    // from (the final `prop` used to stay cached for the session —
    // one leaked dataset per components() call)
    val out = pin(labels.select(col("id"), col("component")), reliable)
    edges.unpersist()
    if (prev != null) prev.unpersist()
    init.unpersist()
    stars0.unpersist()
    out
  }

  /** End of the near-dup pipeline: drop every document whose cluster
    * label names another member — one survivor (the component
    * representative: the min id for integral ids) per near-dup group,
    * all singletons kept. `pairs` is any (id_a, id_b) frame from the
    * verification joins above. */
  def dropNearDuplicates(docs: DataFrame, idCol: String,
      pairs: DataFrame, reliable: Boolean = false): DataFrame = {
    val losers = components(pairs, reliable = reliable)
      .filter(col("component") =!= col("id"))
      .select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Duplication REPORT CARD — the number a curation run publishes
    * next to its keep-one decision: close `pairs` into connected
    * components and report the cluster-size histogram, one row per
    * size — (cluster_size, n_clusters, n_docs, n_dropped) — plus
    * the singleton row (cluster_size = 1, everything in `universe`
    * that joined no cluster, n_dropped = 0). Σ n_docs over all rows
    * = |universe|, Σ n_dropped = what keep-one would delete — the
    * corpus's dup rate in pure integer counts (rates divide
    * offline; integer-only output is the d78 lesson about
    * cross-engine rounding).
    *
    * Scale shape: the same O(log d) component machinery as
    * [[dropNearDuplicates]], then TWO tiny hash aggregates (per
    * component, then per size — both bounded by cluster counts, not
    * corpus rows) and two single-number driver pulls for the
    * singleton arithmetic. Every pair generator in this file feeds
    * it unchanged. Null-id universe rows are ignored. */
  def dedupReport(universe: DataFrame, idCol: String,
      pairs: DataFrame, reliable: Boolean = false): DataFrame = {
    val spark = universe.sparkSession
    import spark.implicits._
    val comp = components(pairs, reliable = reliable)
      .localCheckpoint(true) // histogram + the clustered count below
    val hist = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("n_clusters") * col("cluster_size")).as("n_docs"),
        (col("n_clusters") * (col("cluster_size") - 1)).as("n_dropped"))
    // ONE driver action for both scalars (universe size + clustered
    // count): a tagged union into a two-row aggregate, instead of
    // two separate count() jobs
    val cnt = universe.filter(col(idCol).isNotNull)
      .select(col(idCol)).distinct().select(lit("u").as("__s"))
      .unionAll(comp.select(lit("c").as("__s")))
      .groupBy(col("__s")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val singles = cnt.getOrElse("u", 0L) - cnt.getOrElse("c", 0L)
    hist.unionAll(
      Seq((1L, singles, singles, 0L))
        .toDF("cluster_size", "n_clusters", "n_docs", "n_dropped"))
  }

  /** Train/eval contamination check: word k-gram overlap between
    * every corpus document and every eval/benchmark document — the
    * standard train-test decontamination pass of an LLM data
    * pipeline. A corpus document sharing >= `minShared` distinct
    * k-grams with an eval document is flagged, with the shared
    * fraction of the eval document's k-gram set reported (the usual
    * contamination score).
    *
    * Scale shape: both sides explode to narrow (gram_hash, id) rows
    * — the wide text never crosses the network — and equi-join on
    * the 8-byte hash. The eval side is a benchmark suite (tiny vs
    * the corpus), so stats/AQE broadcast it into an unshuffled scan
    * of the corpus side: one map-only pass over 100 TB, zero corpus
    * shuffle; only the per-pair counts aggregate. As in the
    * verification joins above, only the hashed set representation is
    * compared — a count perturbed by an xxhash64 collision has
    * probability ~2^-64.
    *
    * Returns (corpus_id, eval_id, n_shared, eval_frac), one row per
    * contaminated pair.
    */
  def crossNgramOverlap(
      corpus: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 8,
      minShared: Int = 1): DataFrame = {
    def grams(df: DataFrame, outId: String) =
      withShingles(df.select(col(idCol).as(outId),
        col(textCol).as("__graft_text")), "__graft_text", shingleK, "sh")
        .select(col(outId), size(col("sh")).as(s"${outId}_sz"),
          explode(col("sh")).as("g"))
        .select(col(outId), col(s"${outId}_sz"), xxhash64(col("g")).as("gh"))
    grams(corpus, "corpus_id").drop("corpus_id_sz")
      .join(grams(evalDocs, "eval_id"), Seq("gh"))
      // eval_id_sz is functionally dependent on eval_id; grouping by
      // it avoids a first() aggregate
      .groupBy(col("corpus_id"), col("eval_id"), col("eval_id_sz"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("corpus_id"), col("eval_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("eval_id_sz"), 4)
          .as("eval_frac"))
  }

  /** N-gram Jaccard verification join over blocked candidate pairs:
    * blocks by (lang, length bucket) to bound the pair count, then
    * verifies true word-k-gram Jaccard on hashed shingle sets with
    * the sorted-merge expression. Returns pairs >= threshold.
    *
    * With NO natural blocking key (`blockCols` empty) an unblocked
    * self-join would be the full n²/2 cross product — instead the
    * candidate set falls back to minhash-band buckets ([[minhashPairs]]
    * — same verification, same (id_a, id_b, jaccard) contract, LSH
    * recall instead of exhaustive-within-block). Pick `bands`/
    * `numPerms` for the threshold: catch probability at similarity j
    * is 1-(1-j^(numPerms/bands))^bands, so low thresholds want few
    * rows per band (e.g. 32 bands × 1 row catches j=0.2 with p≈0.999).
    *
    * Block-occupancy guard (`blockCap`): within-block candidates are
    * quadratic in block occupancy, and a coarse natural key's
    * occupancy grows LINEARLY with the corpus — the sf0.1→sf1
    * scaling probe measured (lang, len-bucket) candidates at 588k →
    * 59M (exactly 100× at 10× data); at 100 TB that's the operator's
    * death. Blocks at or under the cap keep exhaustive all-pairs
    * semantics (recall 1 within block); blocks OVER it generate
    * candidates by minhash-band sub-bucketing inside the block
    * instead (the same signature/banding machinery as
    * [[minhashPairs]], recall as above — 32×1 bands catch j=0.2 with
    * p≈0.999). Verification is unchanged either way. The per-block
    * occupancy count is a streaming hash AGGREGATE (partial combine,
    * skew-immune) joined back with a SHUFFLE_HASH build on the tiny
    * one-row-per-block count table — NOT `count OVER (PARTITION BY
    * block)`: a window cannot partial-aggregate and must buffer a hot
    * block's WIDE rows (full shingle arrays) in a single task, and
    * AQE cannot skew-split a Window node, so a coarse natural block
    * would straggler at 100 TB (the d33/d36/d37 de-skew discipline
    * applies verbatim here). Catalyst column-prunes the count branch
    * all the way to a narrow (blockCols-only) second parquet scan —
    * deliberately kept: counting occupancy from ~16 bytes/row of
    * columnar input is far cheaper than re-reading the wide
    * shingle-array shuffle files.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[Column],
      shingleK: Int = 3,
      threshold: Double = 0.2,
      numPerms: Int = 32,
      bands: Int = 32,
      blockCap: Int = 4096): DataFrame = {
    if (blockCols.isEmpty)
      return minhashPairs(docs, idCol, textCol, shingleK, numPerms, bands,
        threshold)
    require(numPerms % bands == 0, "numPerms must divide into bands")
    require(blockCap >= 2, s"blockCap must be >= 2, got $blockCap")
    val r = numPerms / bands
    // sh rides the block exchange (the verification branch needs the
    // hashed set anyway); the minhash signature for the oversized-
    // block fallback is computed LAZILY after the occupancy window —
    // a `when` with no otherwise evaluates the kernel only on rows of
    // blocks over the cap, so the common all-bounded case pays
    // nothing for the guard
    val base = withShingles(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("__graft_text"),
        struct(blockCols: _*).as("block")),
      "__graft_text", shingleK, "sh")
      .select(col("doc_id"), col("block"), hashedSet(col("sh")).as("shh"),
        col("sh"))
    // One explicit shuffle on the block key BELOW the per-side alias
    // projects: the two join inputs then share an identical Exchange
    // subtree, so ReuseExchange materializes the shingle+hash
    // pipeline ONCE and the second side reads the shuffle files —
    // without it, the self-join scans and re-hashes the whole corpus
    // twice (the dominant cost of this operator at scale).
    val keyed = base.repartition(col("block"))
    // Occupancy: narrow-key hash aggregate + SHUFFLE_HASH join-back
    // that builds on the one-row-per-block count side (see class doc:
    // Catalyst prunes this branch to a narrow blockCols-only scan).
    val occ = keyed.groupBy(col("block")).agg(count(lit(1)).as("__m"))
    // sub-bucket key: a constant for bounded blocks (exhaustive
    // within block), one row per band for oversized ones (band
    // equality marks a candidate; the signature and the transform
    // only evaluate on oversized rows)
    val sub = keyed
      .join(occ.hint("SHUFFLE_HASH"), Seq("block"))
      .withColumn("__sig", when(col("__m") > blockCap,
        SketchFunctions.minhash64(col("sh"), numPerms)))
      .select(col("block"), col("doc_id"), col("shh"),
        explode(when(col("__m") <= blockCap,
          array(struct(lit(-1).as("sub_id"), lit(0L).as("sub_hash"))))
          .otherwise(transform(sequence(lit(0), lit(bands - 1)),
            b => struct(b.cast("int").as("sub_id"),
              xxhash64(b, slice(col("__sig"), b * r + 1, lit(r)))
                .as("sub_hash"))))).as("sub"))
      .select(col("block"), col("sub.sub_id").as("sub_id"),
        col("sub.sub_hash").as("sub_hash"), col("doc_id"), col("shh"))
    val a = sub.select(col("block"), col("sub_id"), col("sub_hash"),
      col("doc_id").as("id_a"), col("shh").as("shh_a"))
    val b = sub.select(col("block"), col("sub_id"), col("sub_hash"),
      col("doc_id").as("id_b"), col("shh").as("shh_b"))
    a.join(b, Seq("block", "sub_id", "sub_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        SketchFunctions.jaccardSorted(col("shh_a"), col("shh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }
}
