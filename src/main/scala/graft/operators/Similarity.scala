package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SketchFunctions, VectorFunctions}
import graft.functions.VectorFunctions.{vecDot, vecNorm}

/** Similarity search over an embedding column (Array[Float]).
  *
  * - [[cosine]]: double-precision cosine via [[graft.functions.FloatVecDot]],
  *   a codegen'd Catalyst expression (a tight primitive loop; the
  *   higher-order-function formulation is interpreted per element and
  *   ~100× slower — measured, not guessed).
  * - [[cosinePairs]] / [[bruteForceTopK]]: the exact baselines. Norms
  *   are computed once per vector before the pair join, so each pair
  *   costs exactly one dot product.
  * - [[lshTopK]]: the scale path — random-hyperplane signatures
  *   bucket the corpus; each query multi-probes its bucket and all
  *   1-bit-flip neighbors (equi-join on signature), cutting the
  *   scanned fraction to ~(bits+1)/2^bits at some recall cost.
  *   Hyperplanes are derived from xxhash64, so the operator is
  *   deterministic with no driver-side randomness or plane matrix.
  *
  * Scale posture (100 TB): pair generation is always an equi-join
  * (LSH bucket) or a broadcast of the small query set — the corpus
  * side never shuffles more than once, and never self-crosses except
  * in the explicitly-exact baselines.
  */
object Similarity {

  /** Double-precision cosine similarity of two float-array columns.
    * Left-to-right accumulation — bit-identical to the DuckDB
    * oracle's list arithmetic. */
  def cosine(a: Column, b: Column): Column =
    vecDot(a, b) / (vecNorm(a) * vecNorm(b))

  /** All pairs (id_a < id_b) with cosine >= threshold — the exact
    * O(n²) baseline (for modest n or as LSH ground truth). */
  def cosinePairs(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val withNorm = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"),
      vecNorm(col(vecCol)).as("nrm"))
    val a = withNorm.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = withNorm.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (vecDot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Exact all-pairs cosine, block-decomposed — same results as
    * [[cosinePairs]] (bit-equal cosines), restructured for scale.
    *
    * Vectors are grouped into id-range blocks of `blockSize`; every
    * block pair (upper triangle incl. diagonal) is joined and a
    * native kernel ([[graft.functions.BlockCosPairs]]) computes the
    * whole B×B tile in one tight primitive loop, unpacking each
    * block's vectors once per tile instead of once per pair. The
    * shuffle/materialization cost drops from n²·dim (row-per-pair
    * join) to n²·dim/B, and the tile kernel is where a real
    * deployment would drop in a BLAS GEMM. Dot count is unchanged —
    * exact all-pairs is inherently O(n²); this bounds the data
    * movement around it. */
  def cosinePairsBlocked(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      blockSize: Int = 256): DataFrame = {
    val blocked = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        vecNorm(col(vecCol)).as("nrm"))
      .withColumn("blk", expr(s"id DIV $blockSize"))
      .groupBy(col("blk"))
      .agg(sort_array(collect_list(struct(col("id"), col("v"), col("nrm"))))
        .as("rows"))
    blocked.as("a").join(blocked.as("b"), col("a.blk") <= col("b.blk"))
      .select(explode(graft.functions.VectorFunctions.blockCosPairs(
        col("a.rows"), col("b.rows"), col("a.blk") === col("b.blk"),
        threshold)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.cos").as("cos"))
  }

  /** Exact top-k neighbors for each query vector (excluding self),
    * block-decomposed: the corpus is grouped into id-range blocks and
    * each (corpus block × query block) tile runs the
    * [[graft.functions.BlockTopK]] kernel — vectors unpacked once per
    * tile, tight primitive dot loops, and only the BLOCK-LOCAL top-k
    * survives the tile. The final top-k aggregate then ranks nBlocks·k
    * candidate rows per query instead of the whole corpus, which is
    * what makes the exact scan viable when the corpus side is large:
    * a row-per-pair join would materialize n·q scored rows through
    * the shuffle; this materializes q·k per corpus block. Results are
    * identical (same left-to-right double dots, same
    * (cos desc, neighbor_id asc) order — block-local pruning keeps a
    * superset of the global top-k). Queries are broadcast; the corpus
    * is scanned once, partitioned. */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      blockSize: Int = 256): DataFrame = {
    val c = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        vecNorm(col(vecCol)).as("nrm"))
      .withColumn("blk", expr(s"id DIV $blockSize"))
      .groupBy(col("blk"))
      .agg(sort_array(collect_list(struct(col("id"), col("v"), col("nrm"))))
        .as("crows"))
    val q = queries
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        vecNorm(col(vecCol)).as("nrm"))
      .withColumn("qblk", expr(s"id DIV $blockSize"))
      .groupBy(col("qblk"))
      .agg(sort_array(collect_list(struct(col("id"), col("v"), col("nrm"))))
        .as("qrows"))
    val candidates = c.join(broadcast(q))
      .select(explode(graft.functions.VectorFunctions.blockTopK(
        col("crows"), col("qrows"), k)).as("p"))
      .select(col("p.query_id").as("query_id"),
        col("p.neighbor_id").as("neighbor_id"), col("p.cos").as("cos"))
    rankTopK(candidates, k)
  }

  /** Global (rank, neighbor_id, cos) per query from scored candidate
    * rows via the [[graft.functions.TopKByCos]] partial aggregate —
    * the shuffle carries at most k rows per (query, map partition),
    * where the `row_number` window this replaces moved EVERY scored
    * candidate of a query into one task (a corpus-fraction-sized sort
    * at 100 TB). Same (cos desc, neighbor_id asc) order, identical
    * output. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(VectorFunctions.topKByCos(
        col("neighbor_id").cast("long"), col("cos"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("neighbor_id"), col("col.cos").as("cos"))

  /** ANN top-k: corpus bucketed by LSH signature; each query
    * multi-probes its own bucket plus every 1-bit-flip neighbor
    * (bits+1 probes) via equi-join, exact cosine re-rank inside the
    * probed buckets. Multi-probe expands only the (small) query side
    * — the corpus keeps exactly one row per vector. Recall < 1 by
    * construction; spec checks recall vs brute force. */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8): DataFrame =
    lshTopKWithSig(queries, corpus, idCol, vecCol, k, bits,
      signatureExpr(vecCol, bits))

  /** Oracle twin of [[lshTopK]]: the IDENTICAL probe/bucket/re-rank
    * machinery driven by an engine-reproducible signature — integer
    * hyperplanes (md5 nibble − 8, one per (plane, dim)) over int8-
    * QUANTIZED vectors, so bucket assignment and candidate cosines
    * are exact integer arithmetic DuckDB reproduces bit-for-bit (a
    * float-hyperplane signature has sign-boundary flakiness no
    * rounding can fix). Callers pass the quantized vectors cast to
    * float (values ≤ 127, exact); see the d34 entry. */
  def md5LshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      bits: Int = 4): DataFrame =
    lshTopKWithSig(queries, corpus, idCol, vecCol, k, bits,
      md5SignatureExpr(vecCol, bits, dim))

  /** Plane p's component for dim j in the oracle-twin signature:
    * (first md5 nibble of "p:j") − 8 ∈ [−8, 7]. Public arithmetic an
    * external engine recomputes from its own md5. */
  private[graft] def md5Hyperplane(p: Int, j: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$j".getBytes("UTF-8"))
    ((d(0) >> 4) & 0xF) - 8
  }

  /** Integer-hyperplane signature over integer-valued vectors of
    * exactly `dim` components — one codegen'd kernel pass
    * ([[graft.functions.Md5PlaneSig]], per-JVM cached plane matrix
    * from [[md5Hyperplane]]'s arithmetic). History: an in-lambda md5
    * form measured 5× slower than a literal plane matrix; the
    * literal-matrix nested-HOF form computed the right bits but
    * stayed interpreted per element. Every product and sum is exact
    * in double in all three forms, so the sign test is
    * engine-independent and the kernel is bit-identical. */
  private def md5SignatureExpr(vecCol: String, bits: Int, dim: Int): Column =
    SketchFunctions.md5PlaneSig(col(vecCol), bits, dim)

  /** The probe/bucket/re-rank machinery of [[lshTopK]] with a
    * caller-supplied signature column, shared by the production
    * XXH64-hyperplane path and the md5 oracle twin. */
  private def lshTopKWithSig(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      sig: Column): DataFrame = {
    val probes = expr(
      s"""explode(concat(array(sig),
         |  transform(sequence(0, ${bits - 1}),
         |    b -> sig ^ shiftleft(cast(1 as bigint), b))))""".stripMargin)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      vecNorm(col(vecCol)).as("qn"), sig.as("sig"))
      .select(col("query_id"), col("qv"), col("qn"), probes.as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      vecNorm(col(vecCol)).as("cn"), sig.as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vecDot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) ANN top-k — the clustered scale path.
    *
    * "Training": `nlist` centroids are sampled deterministically from
    * the corpus (the nlist smallest ids in xxhash64 order — one scan,
    * no count pass), then optionally refined with `refineIters`
    * spherical-k-means (Lloyd) steps.
    * Means are accumulated in FIXED-POINT (value·2²⁴ summed as long),
    * so the result is exactly deterministic regardless of partition
    * merge order — double summation would leak partition ordering
    * into the centroids.
    *
    * Cell assignment (corpus, queries, and each Lloyd batch) is a
    * pure PROJECTION, not a join: centroids live driver-side (≤nlist
    * rows), so each row's nearest cells come from `array_min` /
    * `sort_array` over an nlist-element literal array of
    * struct(-cosine, cell_id) — the same argmax, with no ×nlist row
    * expansion and no per-id window shuffle+sort. At 100 TB the
    * corpus-assignment scan is the dominant pass; keeping it narrow
    * (map-only) means the only shuffles left are the final top-k
    * re-rank and the tiny per-iteration cell-mean aggregations.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      refineIters: Int = 2,
      refineSampleMod: Long = 4): DataFrame =
    ivfTopKWithSampler(queries, corpus, idCol, vecCol, k, nlist, nprobe,
      refineIters, refineSampleMod, xxhash64(col(idCol).cast("long")))

  /** Oracle twin of [[ivfTopK]]: the IDENTICAL sample → literal-
    * centroid cell-assignment projection → nprobe equi-join → top-k
    * re-rank machinery, with two engine-reproducible substitutions —
    * centroids sampled by md5 order instead of XXH64, and no Lloyd
    * refinement (float centroid means reintroduce the sign/boundary
    * problem). Feed int8-QUANTIZED vectors (as in [[md5LshTopK]])
    * and every cell argmax, probe set, and rank is exact integer
    * arithmetic DuckDB reproduces bit-for-bit. */
  def md5IvfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4): DataFrame =
    ivfTopKWithSampler(queries, corpus, idCol, vecCol, k, nlist, nprobe,
      refineIters = 0, refineSampleMod = 4,
      Dedup.md5Hash60(col(idCol).cast("long").cast("string")))

  /** Driver-side norm, same left-to-right double accumulation as
    * vecNorm (= sqrt(FloatVecDot(v, v))) so literal-centroid cosines
    * are bit-equal to what the join formulation computed. */
  private def normOf(v: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** nlist struct(-cos, cell_id) entries against the literal
    * centroids; array_min / sort_array over them is argmax by cosine
    * with ties broken by cell_id asc (struct ordering), matching the
    * window formulation's (desc cosine, asc cell_id). */
  // Zero-norm guard: 0/0 cosine is NaN, and Spark's ordering puts
  // NaN ABOVE every real number (NaN >= t is true), so an unguarded
  // zero-norm vector would win every comparison — spurious cell
  // ties here, spurious "duplicate" pairs in [[semanticDedup]].
  // Convention: a zero-norm operand contributes cosine 0.0 (no
  // similarity evidence), mirrored in the d57 oracle SQL.
  private def cellStructs(cents: Seq[(Long, Seq[Float])],
      vec: Column, vnorm: Column): Seq[Column] =
    cents.map { case (cid, cv) =>
      val cn = normOf(cv)
      val ns =
        if (cn == 0.0) lit(0.0)
        else when(vnorm > 0,
          -(vecDot(vec, typedLit(cv)) / (vnorm * lit(cn))))
          .otherwise(lit(0.0))
      struct(ns.as("ns"), lit(cid).as("cell_id"))
    }

  private def ivfTopKWithSampler(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int,
      refineIters: Int,
      refineSampleMod: Long,
      sampleOrd: Column): DataFrame = {
    // Deterministic uniform sample in ONE corpus scan: the nlist
    // smallest ids by `sampleOrd` (TakeOrderedAndProject — per-
    // partition top-nlist, driver merge). The previous
    // count-then-every-n/nlist-th-id formulation scanned the corpus
    // twice before training ever started.
    val sampled = corpus
      .select(col(idCol).cast("long").as("cell_id"), col(vecCol).as("cvec"),
        sampleOrd.as("__ord"))
      .orderBy(col("__ord"), col("cell_id"))
      .limit(nlist)
      .drop("__ord")

    // MINI-BATCH Lloyd refinement: each iteration assigns a
    // deterministic 1/refineSampleMod slice of the corpus (rotated by
    // iteration number, so successive steps see different batches) to
    // its argmax-cosine cell via the literal-centroid projection, then
    // cell means become the next centroids — the mini-batch k-means
    // trade: near-identical centroid quality for a fraction of the
    // full-corpus scans Lloyd would pay per iteration. Means are
    // accumulated in FIXED-POINT (value·2²⁴ summed as long) so the
    // result is exactly deterministic regardless of partition merge
    // order. The ≤nlist centroid rows live driver-side between
    // iterations (bounded by nlist, never corpus size — and each
    // iteration's plan starts from literals, free of the previous
    // one's lineage); cells a batch leaves empty keep their previous
    // centroid instead of vanishing.
    val Scale = (1L << 24).toDouble
    var rows: Map[Long, Seq[Float]] = sampled.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    if (refineIters > 0) {
      val training = corpus
        .select(col(idCol).cast("long").as("__tid"), col(vecCol).as("__tv"))
        .withColumn("__tn", vecNorm(col("__tv")))
      for (it <- 1 to refineIters) {
        val batch = training
          .filter(pmod(col("__tid") + it, lit(refineSampleMod)) === 0)
        val assigned = batch
          .withColumn("cell_id",
            array_min(array(
              cellStructs(rows.toSeq.sortBy(_._1), col("__tv"), col("__tn")): _*))
              .getField("cell_id"))
          .select(col("cell_id"), col("__tv"))
        val refined = assigned
          .select(col("cell_id"), posexplode(col("__tv")))
          .groupBy(col("cell_id"), col("pos"))
          .agg(sum(round(col("col") * Scale).cast("long")).as("s"),
            count(lit(1)).as("c"))
          .withColumn("m", (col("s").cast("double") / col("c") / Scale).cast("float"))
          .groupBy(col("cell_id"))
          .agg(expr("transform(sort_array(collect_list(struct(pos, m))), x -> x.m)")
            .as("cvec"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1))
        rows = rows ++ refined
      }
    }
    val centroidRows = rows.toSeq.sortBy(_._1)

    // Nearest `keep` cells as a projection over the literal centroid
    // array — map-only on the (possibly 100 TB) input side.
    def assign(df: DataFrame, vec: String, nrm: String, keep: Int): DataFrame =
      if (keep == 1)
        df.withColumn("cell_id",
          array_min(array(cellStructs(centroidRows, col(vec), col(nrm)): _*))
            .getField("cell_id"))
      else
        df.withColumn("__probe",
            explode(slice(
              sort_array(array(cellStructs(centroidRows, col(vec), col(nrm)): _*)),
              1, keep)))
          .withColumn("cell_id", col("__probe").getField("cell_id"))
          .drop("__probe")

    val corpusCells = assign(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        vecNorm(col(vecCol)).as("cn")), "cv", "cn", 1)
    val queryProbes = assign(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        vecNorm(col(vecCol)).as("qn")), "qv", "qn", nprobe)

    val scored = corpusCells.join(broadcast(queryProbes), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vecDot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Product-quantization (PQ) ADC top-k — the compression half of
    * the standard 100 TB ANN stack (IVF prunes candidates, PQ makes
    * each candidate 8–16 BYTES instead of a float vector): the
    * vector splits into `m` subvectors of dim/m components, each
    * subvector is replaced by the index of its nearest subspace
    * centroid (squared L2, ties to the smaller index), and queries
    * rank candidates by the ADC score Σ_j lut[j][code_j] — a
    * per-query lookup table of exact query-to-centroid distances, m
    * primitive lookups per scored pair ([[graft.functions.PqAdc]],
    * codegen'd).
    *
    * Codebooks start as `ksub` corpus vectors sampled
    * deterministically (the ksub smallest by xxhash64(id), code
    * index = id-ascending position — the one-scan IVF sampling
    * discipline), subspace j's centroid c being sample c's j-th
    * slice, then refine with `refineIters` per-subspace mini-batch
    * k-means steps (every subspace trains in the SAME pass: one
    * batch scan emits (subspace, code, component) rows, fixed-point
    * means — value·2²⁴ summed as long — keep the result exactly
    * deterministic regardless of partition merge order, empty cells
    * keep their previous centroid, and the driver pull is bounded by
    * m·ksub·dsub, never batch size). The engine-reproducible twin
    * ([[md5PqTopK]]) runs refinement-free — float centroid means
    * reintroduce the sign/boundary problem exact integer arithmetic
    * exists to avoid.
    *
    * Scale shape: codebooks are literals (m·ksub·dsub floats), so
    * ENCODE is a map-only projection — the corpus never shuffles and
    * its vectors never leave the scan stage; only (id, m codes) rows
    * materialize. The ADC scan broadcasts the query side (codes ×
    * queries, each pair m lookups) and the global rank rides the
    * same partial top-k aggregate as every ANN path (at most k rows
    * per query per map partition cross the shuffle — never a
    * corpus-sized sort). Compose with [[ivfTopK]]'s cell assignment
    * upstream when a full scan of codes is still too much.
    *
    * Returns (query_id, rank, neighbor_id, dist2): approximate
    * squared L2, rank 1..k by (dist2 asc, neighbor_id asc), self
    * excluded. */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 4,
      ksub: Int = 8,
      refineIters: Int = 2,
      refineSampleMod: Long = 4): DataFrame =
    pqTopKWithSampler(queries, corpus, idCol, vecCol, k, m, ksub,
      refineIters, refineSampleMod, xxhash64(col(idCol).cast("long")))

  /** Oracle twin of [[pqTopK]]: the IDENTICAL sample → literal-
    * codebook encode projection → ADC scan → top-k machinery, with
    * md5-order sampling. Feed int8-QUANTIZED vectors (as in
    * [[md5LshTopK]]): every centroid component, code argmin and ADC
    * sum is then exact integer arithmetic (diffs <= 254, squares
    * <= 64516, <= dim of them — exact in double), so DuckDB
    * re-derives codebooks, codes and the full ranking bit-for-bit
    * from the raw parquet. */
  def md5PqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 4,
      ksub: Int = 8): DataFrame =
    pqTopKWithSampler(queries, corpus, idCol, vecCol, k, m, ksub,
      refineIters = 0, refineSampleMod = 4,
      Dedup.md5Hash60(col(idCol).cast("long").cast("string")))

  /** A trained PQ codebook as column-expression factories: `cents`
    * holds kEff full-dim vectors whose j-th dsub-slice is subspace
    * j's centroid. Both projections embed the book as a literal, so
    * encode and LUT construction are map-only, one native kernel per
    * row ([[graft.functions.PqEncode]], [[graft.functions.PqLut]]). */
  private case class PqBook(cents: IndexedSeq[IndexedSeq[Float]],
      m: Int, dsub: Int) {
    def subCent(c: Int, j: Int): Seq[Float] =
      cents(c).slice(j * dsub, (j + 1) * dsub)
    private def literal = cents.map(_.toArray).toArray
    def codesOf(vv: Column): Column = VectorFunctions.pqEncode(vv, literal, m, dsub)
    // per-query ADC table: lut[j][c] = exact squared L2 between the
    // query's j-th subvector and subspace j's centroid c
    def lutOf(qv: Column): Column = VectorFunctions.pqLut(qv, literal, m, dsub)
  }

  /** Samples and (optionally) refines a [[PqBook]] — see [[pqTopK]]
    * for the discipline. Driver pulls bounded by ksub resp.
    * m·ksub·dsub, never corpus size. */
  private def trainPqBook(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      refineIters: Int,
      refineSampleMod: Long,
      sampleOrd: Column): PqBook = {
    require(m >= 1 && ksub >= 1, s"m and ksub must be >= 1, got $m/$ksub")
    val sampled = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"),
        sampleOrd.as("__ord"))
      .orderBy(col("__ord"), col("cid"))
      .limit(ksub)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(sampled.nonEmpty, "trainPqBook: empty corpus")
    val dim = sampled.head._2.size
    require(dim % m == 0, s"PQ: dim $dim must split into m=$m subvectors")
    val dsub = dim / m
    var book = PqBook(sampled.toIndexedSeq.map(_._2.toIndexedSeq), m, dsub)

    // mini-batch per-subspace k-means: ALL subspaces refine in one
    // batch pass — posexplode the batch's codes to (j, code), slice
    // the subvector, posexplode its components, fixed-point means
    // per (j, code, component). Deterministic (long sums), bounded
    // driver pull (m·ksub·dsub rows), empty cells keep their
    // previous centroid.
    val Scale = (1L << 24).toDouble
    if (refineIters > 0) {
      val training = corpus
        .select(col(idCol).cast("long").as("__tid"), col(vecCol).as("__tv"))
      for (it <- 1 to refineIters) {
        val refined = training
          .filter(pmod(col("__tid") + it, lit(refineSampleMod)) === 0)
          .select(col("__tv"), posexplode(book.codesOf(col("__tv"))))
          .withColumnRenamed("pos", "j").withColumnRenamed("col", "code")
          .select(col("j"), col("code"),
            posexplode(slice(col("__tv"), col("j") * dsub + 1, lit(dsub))))
          .groupBy(col("j"), col("code"), col("pos"))
          .agg(sum(round(col("col") * Scale).cast("long")).as("s"),
            count(lit(1)).as("c"))
          .select(col("j"), col("code"), col("pos"),
            (col("s").cast("double") / col("c") / Scale).cast("float").as("m"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
        book = book.copy(cents = book.cents.indices.map { c =>
          (0 until m).flatMap { j =>
            refined.get((j, c)) match {
              case Some(rows) =>
                rows.sortBy(_.getInt(2)).map(_.getFloat(3)).toIndexedSeq
              case None => book.subCent(c, j).toIndexedSeq // empty cell
            }
          }.toIndexedSeq
        })
      }
    }
    book
  }

  private def pqTopKWithSampler(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int,
      ksub: Int,
      refineIters: Int,
      refineSampleMod: Long,
      sampleOrd: Column): DataFrame = {
    val book = trainPqBook(corpus, idCol, vecCol, m, ksub, refineIters,
      refineSampleMod, sampleOrd)
    // the repartition is an EVALUATION BARRIER, not a distribution
    // need: without it the encode projection collapses into the
    // broadcast join and re-runs per (corpus × query) PAIR instead of
    // per corpus row (measured 7.8 → 1.3 s at sf0.1×50 queries); the
    // exchange ships only (id, m codes) and pins encode map-side
    val enc = corpus.select(col(idCol).as("neighbor_id"),
      book.codesOf(col(vecCol)).as("codes"))
      .repartition(col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"),
      book.lutOf(col(vecCol)).as("lut"))
    val scored = enc.join(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-VectorFunctions.pqAdc(col("codes"), col("lut"))).as("cos"))
    // rankTopK orders by (cos desc, id asc) == (dist2 asc, id asc)
    rankTopK(scored, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("cos")).as("dist2"))
  }

  /** PQ shortlist + exact re-rank — the standard recall-recovery
    * composition: [[pqTopK]] scans CODES to shortlist
    * `k · shortlistFactor` candidates per query (m byte-lookups per
    * pair — the cheap pass), then only the shortlist's true vectors
    * are fetched by id and re-ranked by exact squared L2. At 100 TB
    * the expensive exact pass touches q·k·factor vectors instead of
    * the corpus; the id-join is the narrow row fetch every ANN
    * serving stack performs. Returns (query_id, rank, neighbor_id,
    * dist2) with EXACT distances, rank by (dist2 asc, id asc). */
  def pqTopKRefined(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 4,
      ksub: Int = 8,
      shortlistFactor: Int = 5,
      refineIters: Int = 2,
      refineSampleMod: Long = 4): DataFrame =
    refineShortlist(
      pqTopK(queries, corpus, idCol, vecCol, k * shortlistFactor, m, ksub,
        refineIters, refineSampleMod),
      queries, corpus, idCol, vecCol, k)

  /** Oracle twin of [[pqTopKRefined]]: [[md5PqTopK]]'s shortlist +
    * the same exact-L2 re-rank. Feed int8-quantized vectors and the
    * ENTIRE pipeline — codebooks, codes, ADC shortlist, exact
    * re-rank — is integer arithmetic DuckDB re-derives bit-for-bit. */
  def md5PqTopKRefined(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 4,
      ksub: Int = 8,
      shortlistFactor: Int = 5): DataFrame =
    refineShortlist(
      md5PqTopK(queries, corpus, idCol, vecCol, k * shortlistFactor, m, ksub),
      queries, corpus, idCol, vecCol, k)

  /** IVF-PQ: the full 100 TB ANN stack in one operator — the IVF
    * coarse quantizer PRUNES (corpus assigned to its nearest of
    * `nlist` cells by squared L2; queries probe their `nprobe`
    * nearest), PQ codes make each surviving candidate `m` BYTES to
    * score ([[graft.functions.PqAdc]] over the per-query table), and
    * the exact re-rank touches only the `k · shortlistFactor`
    * shortlisted vectors. The corpus side is ONE map-only projection
    * emitting (id, cell_id, codes) — vectors never leave the scan —
    * and the ADC join is an equi-join on cell_id against the
    * broadcast probe set, never a full scan of codes. Cell centroids
    * and codebooks are both deterministically sampled from one
    * ordered stream (first nlist resp. first ksub — the IVF
    * discipline); codebooks then refine with the per-subspace
    * mini-batch k-means of [[pqTopK]] and cell centroids with the
    * same fixed-point Lloyd loop under the L2 metric. Codes quantize
    * RAW vectors, not residuals — the residual refinement drops into
    * [[PqBook]] without touching this shape.
    *
    * Returns (query_id, rank, neighbor_id, dist2): exact squared L2
    * over the shortlist, rank by (dist2 asc, id asc), self excluded;
    * recall < 1 from both cell pruning and code coarseness (spec
    * measures both layers). */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 4,
      ksub: Int = 8,
      shortlistFactor: Int = 5,
      refineIters: Int = 2,
      refineSampleMod: Long = 4): DataFrame =
    ivfPqWithSampler(queries, corpus, idCol, vecCol, k, nlist, nprobe, m,
      ksub, shortlistFactor, refineIters, refineSampleMod,
      cellRefineIters = refineIters,
      xxhash64(col(idCol).cast("long")))

  /** Oracle twin of [[ivfPqTopK]]: md5-order sampling, no codebook
    * refinement, int8-quantized inputs — cells, codes, ADC
    * shortlist and exact re-rank are ALL exact integer arithmetic,
    * DuckDB-re-derivable bit-for-bit. */
  def md5IvfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 4,
      ksub: Int = 8,
      shortlistFactor: Int = 5): DataFrame =
    ivfPqWithSampler(queries, corpus, idCol, vecCol, k, nlist, nprobe, m,
      ksub, shortlistFactor, refineIters = 0, refineSampleMod = 4,
      cellRefineIters = 0,
      Dedup.md5Hash60(col(idCol).cast("long").cast("string")))

  /** argmin of (||c||² − 2·v·c) over literal L2 cell centroids ==
    * the L2-nearest cell; ties to the smaller cell id (struct
    * ordering). */
  private def l2CellStructs(cents: IndexedSeq[(Long, IndexedSeq[Float])],
      vv: Column): Seq[Column] = {
    def cellN2(c: Int): Double = {
      val s = cents(c)._2; var acc = 0.0; var i = 0
      while (i < s.length) { acc += s(i).toDouble * s(i).toDouble; i += 1 }
      acc
    }
    cents.indices.map { c =>
      struct(
        (lit(cellN2(c)) -
          lit(2.0) * vecDot(vv, typedLit(cents(c)._2.toSeq))).as("d"),
        lit(cents(c)._1).as("cell_id"))
    }
  }

  /** L2 cell centroids: the nlist smallest ids by `sampleOrd` (one
    * corpus scan), then `cellRefineIters` mini-batch Lloyd steps in
    * the fixed-point discipline — deterministic long-sum means,
    * driver pull bounded by nlist·dim, empty cells keep their
    * previous centroid. Twins run 0 iterations (float means break
    * exact-integer reproducibility). */
  private def trainL2CellCents(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      cellRefineIters: Int,
      refineSampleMod: Long,
      sampleOrd: Column): IndexedSeq[(Long, IndexedSeq[Float])] = {
    var cellCents = corpus
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cvec"),
        sampleOrd.as("__ord"))
      .orderBy(col("__ord"), col("cid"))
      .limit(nlist)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    require(cellCents.nonEmpty, "trainL2CellCents: empty corpus")
    if (cellRefineIters > 0) {
      val Scale = (1L << 24).toDouble
      val training = corpus
        .select(col(idCol).cast("long").as("__tid"), col(vecCol).as("__tv"))
      for (it <- 1 to cellRefineIters) {
        val refined = training
          .filter(pmod(col("__tid") + it, lit(refineSampleMod)) === 0)
          .select(col("__tv"),
            array_min(array(l2CellStructs(cellCents, col("__tv")): _*))
              .getField("cell_id").as("cell_id"))
          .select(col("cell_id"), posexplode(col("__tv")))
          .groupBy(col("cell_id"), col("pos"))
          .agg(sum(round(col("col") * Scale).cast("long")).as("s"),
            count(lit(1)).as("c"))
          .select(col("cell_id"), col("pos"),
            (col("s").cast("double") / col("c") / Scale).cast("float").as("m"))
          .collect()
          .groupBy(_.getLong(0))
        cellCents = cellCents.map { case (cid, prev) =>
          refined.get(cid) match {
            case Some(rows) =>
              cid -> rows.sortBy(_.getInt(1)).map(_.getFloat(2)).toIndexedSeq
            case None => cid -> prev
          }
        }
      }
    }
    cellCents
  }

  private def ivfPqWithSampler(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int,
      m: Int,
      ksub: Int,
      shortlistFactor: Int,
      refineIters: Int,
      refineSampleMod: Long,
      cellRefineIters: Int,
      sampleOrd: Column): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist, got $nprobe/$nlist")
    // the two trainings read the same corpus but share no state —
    // overlapped (graft.Par, guide §2.6), the buildAnnIndex shape
    var cellCents: IndexedSeq[(Long, IndexedSeq[Float])] = null
    var book: PqBook = null
    graft.Par.run(
      () => cellCents = trainL2CellCents(corpus, idCol, vecCol, nlist,
        cellRefineIters, refineSampleMod, sampleOrd),
      () => book = trainPqBook(corpus, idCol, vecCol, m, ksub,
        refineIters, refineSampleMod, sampleOrd))
    def cellStructs(vv: Column): Seq[Column] = l2CellStructs(cellCents, vv)

    // ONE corpus projection: nearest cell + PQ codes, map-only. The
    // repartition is the evaluation barrier of [[pqTopKWithSampler]]:
    // without it the cell+encode projection collapses into the join
    // and re-runs per candidate pair; the exchange ships only
    // (id, cell, m codes) and doubles as the join's co-partitioning.
    val enc = corpus.select(col(idCol).as("neighbor_id"),
      array_min(array(cellStructs(col(vecCol)): _*))
        .getField("cell_id").as("cell_id"),
      book.codesOf(col(vecCol)).as("codes"))
      .repartition(col("cell_id"))
    val q = queries
      .select(col(idCol).as("query_id"), book.lutOf(col(vecCol)).as("lut"),
        explode(slice(sort_array(array(cellStructs(col(vecCol)): _*)),
          1, nprobe)).as("__probe"))
      .select(col("query_id"), col("lut"),
        col("__probe").getField("cell_id").as("cell_id"))
    val scored = enc.join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-VectorFunctions.pqAdc(col("codes"), col("lut"))).as("cos"))
    refineShortlist(
      rankTopK(scored, k * shortlistFactor)
        .select(col("query_id"), col("neighbor_id")),
      queries, corpus, idCol, vecCol, k)
  }

  /** The per-row RESIDUAL of `vv` against its (runtime) cell's
    * centroid — a literal-cents CASE over zip_with subtractions, so
    * encode stays a map-only projection exactly like the raw path.
    * nlist branches of dim-width literals: bulky codegen, bounded by
    * config, never data. */
  /** The trained centroids as a broadcastable (cell_id, __cent)
    * frame — the PRODUCTION residual form: residual = row vector
    * minus the centroid JOINED in on cell_id. The first cut of this
    * inlined the centroids as an nlist-branch literal CASE
    * expression, fine at twin scale (nlist=16) but a codegen killer
    * at production nlist×dim (thousands of branches each carrying a
    * dim-length literal array in the generated code); the join form
    * keeps the plan size constant and the subtraction inside
    * whole-stage codegen. Same values, same coercions — residual
    * arithmetic is bit-identical to the literal form. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      cellCents: IndexedSeq[(Long, IndexedSeq[Float])]): DataFrame = {
    import spark.implicits._
    cellCents.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cell_id", "__cent")
  }

  /** residual column given a joined-in `__cent` centroid array. */
  private def residualCol(vv: Column): Column =
    zip_with(vv, col("__cent"), (a, b) => a - b)

  /** RESIDUAL-encoded IVF-PQ, md5 twin — the refinement the raw-code
    * family's scaladoc promised ("the residual refinement drops into
    * PqBook without touching this shape"), landed as an OPT-IN twin
    * beside the raw-code operators rather than a rewiring of them:
    * production IVFPQ (FAISS's default) quantizes each vector's
    * RESIDUAL against its cell centroid, because residuals
    * concentrate near zero and the codebook's k centroids spend
    * their resolution on the distribution that actually reaches
    * them — raw-vector codes waste resolution re-describing the
    * cell structure the coarse quantizer already captured.
    *
    * Same md5-deterministic sampling as [[md5IvfPqTopK]] (cells =
    * first nlist by md5 order, book = first ksub RESIDUALS by md5
    * order, zero refinement iterations), so with int8-quantized
    * inputs the ENTIRE pipeline — cell assignment, residuals, book,
    * codes, per-(query, cell) residual LUTs, ADC, exact re-rank —
    * is integer arithmetic an oracle re-derives bit for bit
    * (centroids are exact corpus vectors, so residuals stay
    * integral). The ADC differs from the raw path in ONE structural
    * way: the LUT is per (query, PROBED CELL) — the query's residual
    * changes with the cell — which costs |queries|·nprobe LUT rows
    * instead of |queries| (each m·ksub doubles; broadcast-small) and
    * is exactly how production residual IVFPQ serves. Candidate
    * codes join per probed cell, and a candidate's encode cell
    * always equals the probe cell in that join, so code and LUT
    * agree on the residual basis by construction.
    *
    * Returns (query_id, rank, neighbor_id, dist2): exact squared L2
    * over the shortlist, rank by (dist2 asc, id asc), self
    * excluded — the [[ivfPqTopK]] contract. */
  def md5IvfPqResidualTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 4,
      ksub: Int = 8,
      shortlistFactor: Int = 5): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe <= nlist, got $nprobe/$nlist")
    val md5Ord = (c: Column) => Dedup.md5Hash60(c.cast("long").cast("string"))
    val cellCents = trainL2CellCents(corpus, idCol, vecCol, nlist,
      cellRefineIters = 0, refineSampleMod = 4, md5Ord(col(idCol)))
    def cellStructs(vv: Column): Seq[Column] = l2CellStructs(cellCents, vv)

    val cents = broadcast(centroidFrame(corpus.sparkSession, cellCents))
    // one corpus projection: cell + residual (map-only — the
    // centroid join is broadcast, so no exchange joins the pass)
    val withRes = corpus
      .select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("__v"),
        array_min(array(cellStructs(col(vecCol)): _*))
          .getField("cell_id").as("cell_id"))
      .join(cents, Seq("cell_id"))
      .withColumn("__rv", residualCol(col("__v")))
      .drop("__cent")

    // the book trains on RESIDUALS (first ksub by md5 of the id)
    val book = trainPqBook(
      withRes.select(col("neighbor_id").as("rid"), col("__rv").as("rv")),
      "rid", "rv", m, ksub, refineIters = 0, refineSampleMod = 4,
      md5Ord(col("rid")))

    val enc = withRes
      .select(col("neighbor_id"), col("cell_id"),
        book.codesOf(col("__rv")).as("codes"))
      .repartition(col("cell_id"))
    // per (query, probed cell): the query's RESIDUAL lut for that cell
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(slice(sort_array(array(cellStructs(col(vecCol)): _*)),
          1, nprobe)).as("__probe"))
      .select(col("query_id"), col("__qv"),
        col("__probe").getField("cell_id").as("cell_id"))
      .join(cents, Seq("cell_id"))
      .select(col("query_id"), col("cell_id"),
        book.lutOf(residualCol(col("__qv"))).as("lut"))
    val scored = enc.join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-VectorFunctions.pqAdc(col("codes"), col("lut"))).as("cos"))
    refineShortlist(
      rankTopK(scored, k * shortlistFactor)
        .select(col("query_id"), col("neighbor_id")),
      queries, corpus, idCol, vecCol, k)
  }

  private def refineShortlist(
      shortlist: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = shortlist.select(col("query_id"), col("neighbor_id"))
      .join(cv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-(vecDot(col("__qv"), col("__qv"))
          - lit(2.0) * vecDot(col("__qv"), col("__cv"))
          + vecDot(col("__cv"), col("__cv")))).as("cos"))
    rankTopK(scored, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("cos")).as("dist2"))
  }

  /** Symmetric int8 quantization of an embedding column — the
    * compression pass before shipping vectors to an ANN index or a
    * training job (4x smaller than float32; integer dot products).
    * Per-vector scale = max|v| / 127; q_i = round-half-up(v_i /
    * scale), which lands in [-127, 127]; all-zero vectors quantize
    * to all-zero with scale 0. round-half-up is spelled
    * floor(x + 0.5) so the tie behavior is engine-independent.
    *
    * Scale shape: a pure projection (codegen HOFs over the array) —
    * zero shuffle, map-only at 100 TB.
    *
    * Returns (id, n_dims, scale, q).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__mx", array_max(transform(col("__v"), x => abs(x))))
      .select(col(idCol), size(col("__v")).cast("long").as("n_dims"),
        (col("__mx") / 127.0).as("scale"),
        when(col("__mx") === 0.0, transform(col("__v"), _ => lit(0L)))
          .otherwise(transform(col("__v"),
            x => floor(x / (col("__mx") / 127.0) + 0.5))).as("q"))

  /** SemDeDup (Abbas et al., arXiv:2303.09540): embedding-space
    * semantic deduplication — cluster the corpus into IVF cells,
    * then inside each cell drop every vector that has a
    * strictly-smaller-id neighbor at cosine >= `threshold`. This is
    * the pipeline step that removes SEMANTIC near-duplicates (same
    * content re-rendered/paraphrased) that text-level MinHash/SimHash
    * cannot see.
    *
    * Policy notes (part of the contract):
    *   - min-id-wins, per PAIR, not a transitive closure: SemDeDup's
    *     own procedure is within-cluster pairwise thresholding with
    *     one kept representative; min-id makes the kept set
    *     deterministic and auditable (A<B<C chained near-dups keep A
    *     only — B is dropped by A, C by whichever of A/B clears the
    *     threshold — matching the paper's "keep one per group"
    *     intent without a components pass; compose with
    *     [[Dedup.components]] when the exact closure is wanted).
    *   - pairs are generated WITHIN cells only — a cross-cell
    *     near-dup straddling a centroid boundary is missed; that
    *     recall trade is the SemDeDup design (the paper's k-means
    *     clustering has the identical property).
    *
    * Scale shape: centroid sampling is ONE corpus scan
    * (TakeOrderedAndProject, ≤nlist rows to the driver); cell
    * assignment is a map-only literal-centroid projection (the
    * [[ivfTopK]] machinery — the corpus never shuffles to meet the
    * centroids); the within-cell self-join rides ONE cell_id
    * exchange that ReuseExchange shares across both sides, with
    * per-cell work bounded by (corpus/nlist)²·dim — size nlist ~
    * corpus/5k at 100 TB exactly as an IVF index would; the drop
    * list aggregates to ≤ one row per dropped id and joins back
    * SHUFFLE_HASH on the id key. No windows, no driver-side pair
    * loops.
    *
    * `md5Sig = true` swaps the centroid sample order to the
    * engine-reproducible md5 twin (feed int8-QUANTIZED vectors and
    * every cell argmax and cosine is exact integer arithmetic a SQL
    * oracle re-derives bit-for-bit — the d35/d50 discipline).
    *
    * SIZING `nlist` (a formula, not an example): within-cell pair
    * work is ~(corpus/nlist)² per cell, so
    *   nlist ≈ corpus_rows / target_cell_rows
    * with target_cell_rows ~5k–50k for a dedup pass (a 50k cell is
    * ~1.25G cosines — minutes of one executor's work; a 1M cell is
    * ~500G — a straggler that never finishes). The default 16 is an
    * ORACLE-SCALE default, guarded: the operator counts the corpus
    * (one column-pruned scan, cheap beside the centroid sample) and
    * RAISES when mean cell size exceeds `maxMeanCellRows` (default
    * 2²² ≈ 4.2M — already past any sane cell) rather than launching
    * a quadratic job that cannot finish; pass a right-sized nlist,
    * or raise `maxMeanCellRows` to explicitly own the cost.
    *
    * Returns (vec_id, cell_id, keep, dropped_by): every input row,
    * keep = no smaller-id in-cell neighbor at >= threshold,
    * dropped_by = the SMALLEST such neighbor id (null when kept). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16,
      md5Sig: Boolean = false,
      maxMeanCellRows: Long = 1L << 22): DataFrame = {
    val sampleOrd =
      if (md5Sig) Dedup.md5Hash60(col(idCol).cast("long").cast("string"))
      else xxhash64(col(idCol).cast("long"))
    // the sizing count and the centroid sample are independent
    // bounded pulls — overlapped (guide §2.6); the quadratic-cost
    // guard still fires before any pair work launches
    var n = 0L
    var centroidRows: Seq[(Long, Seq[Float])] = null
    graft.Par.run(
      () => n = emb.select(col(idCol)).count(),
      () => centroidRows = emb
        .select(col(idCol).cast("long").as("cell_id"),
          col(vecCol).as("cvec"), sampleOrd.as("__ord"))
        .orderBy(col("__ord"), col("cell_id"))
        .limit(nlist)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.sortBy(_._1))
    require(n <= nlist.toLong * maxMeanCellRows,
      s"semanticDedup: $n rows over $nlist cells = mean " +
        s"${n / math.max(nlist, 1)} rows/cell (> $maxMeanCellRows); " +
        "within-cell pair cost is ~(corpus/nlist)^2 per cell — size " +
        "nlist ~ corpus_rows / target_cell_rows (target 5k-50k), or " +
        "raise maxMeanCellRows to own the cost explicitly")
    // a zero-arg array() would fail ANALYSIS with an opaque error —
    // fail loudly with the actual cause instead
    require(centroidRows.nonEmpty, "semanticDedup: empty corpus")
    val assigned = emb
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"),
        vecNorm(col(vecCol)).as("nrm"))
      .withColumn("cell_id",
        array_min(array(cellStructs(centroidRows, col("v"), col("nrm")): _*))
          .getField("cell_id"))
    // ONE explicit cell exchange shared by both self-join sides
    // (ReuseExchange pins the assignment projection single-pass)
    val keyed = assigned.repartition(col("cell_id"))
    val pairs = keyed
      .select(col("cell_id"), col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"))
      .join(keyed.select(col("cell_id"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      // zero-norm guard: NaN >= threshold is TRUE in Spark's
      // ordering, so one all-zero vector (a real artifact of int8
      // quantization) would silently drop, or cause the drop of,
      // every other vector in its cell — contribute 0.0 instead
      .filter(when(col("na") * col("nb") > 0,
        vecDot(col("va"), col("vb")) / (col("na") * col("nb")))
        .otherwise(lit(0.0)) >= threshold)
    val drops = pairs.groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dropped_by"))
    assigned.select(col("vec_id"), col("cell_id"))
      .join(drops.hint("SHUFFLE_HASH"), Seq("vec_id"), "left")
      .withColumn("keep", col("dropped_by").isNull)
  }

  /** Semantic train/eval DECONTAMINATION — the embedding-space
    * sibling of [[graft.operators.Dedup.decontaminate]]: the k-gram
    * screen catches VERBATIM eval leakage, this catches PARAPHRASED
    * or re-rendered leakage the way SemDeDup catches re-rendered
    * duplicates (Abbas et al. 2303.09540's observation applied to
    * the train/test boundary). A corpus document whose embedding
    * lies within cosine >= `threshold` of ANY holdout
    * (eval/benchmark) embedding is flagged, with the smallest
    * matching holdout id reported.
    *
    * Scale shape: IVF cells train on a corpus sample exactly as
    * [[semanticDedup]] (md5Sig = the engine-reproducible twin
    * discipline), BOTH sides assign map-side against the broadcast
    * centroid literals, and the candidate join is (cell_id)-keyed
    * with the HOLDOUT side benchmark-suite-sized — stats/AQE
    * broadcast it, so the corpus side never shuffles for the join:
    * one map-shaped pass over 100 TB, the d43 decontamination
    * posture with embeddings in place of gram hashes. Cell gating
    * trades recall for that shape exactly like d57: a cross-cell
    * paraphrase is missed — disclosed, not hidden; for a final
    * audit pass, a smaller nlist (coarser cells) raises recall at
    * quadratic-in-cell-size cost.
    *
    * SIZING `nlist` (a formula, not an example): candidate work is
    * ~(corpus/nlist)·(holdout in the cell) per cell, so
    *   nlist ≈ corpus_rows / target_cell_rows
    * with target_cell_rows sized so cell_rows × (holdout/nlist)
    * stays a task-sized cosine count (holdouts are benchmark-suite-
    * sized, so targets up to ~1M rows/cell are fine — an order
    * looser than [[semanticDedup]]'s quadratic bound). The default
    * 16 is an oracle-scale default, guarded exactly as there: the
    * corpus is counted and the call RAISES past `maxMeanCellRows`
    * (default 2²² ≈ 4.2M) instead of launching an unfinishable job;
    * pass a right-sized nlist or raise the bound to own the cost.
    *
    * Returns (vec_id, cell_id, keep, matched_eval): every corpus
    * row; keep = no in-cell holdout at >= threshold; matched_eval =
    * the smallest such holdout id (null when kept). The zero-norm
    * guard contributes cos 0.0 (the d57 NaN lesson). */
  def semanticDecontaminate(corpus: DataFrame, holdout: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nlist: Int = 16, md5Sig: Boolean = false,
      maxMeanCellRows: Long = 1L << 22): DataFrame = {
    val sampleOrd =
      if (md5Sig) Dedup.md5Hash60(col(idCol).cast("long").cast("string"))
      else xxhash64(col(idCol).cast("long"))
    // sizing count ∥ centroid sample (the semanticDedup shape); the
    // guard still fires before any candidate work launches
    var n = 0L
    var centroidRows: Seq[(Long, Seq[Float])] = null
    graft.Par.run(
      () => n = corpus.select(col(idCol)).count(),
      () => centroidRows = corpus
        .select(col(idCol).cast("long").as("cell_id"),
          col(vecCol).as("cvec"), sampleOrd.as("__ord"))
        .orderBy(col("__ord"), col("cell_id"))
        .limit(nlist)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.sortBy(_._1))
    require(n <= nlist.toLong * maxMeanCellRows,
      s"semanticDecontaminate: $n corpus rows over $nlist cells = mean " +
        s"${n / math.max(nlist, 1)} rows/cell (> $maxMeanCellRows); " +
        "size nlist ~ corpus_rows / target_cell_rows, or raise " +
        "maxMeanCellRows to own the cost explicitly")
    require(centroidRows.nonEmpty, "semanticDecontaminate: empty corpus")
    def assign(df: DataFrame, outId: String): DataFrame = df
      .select(col(idCol).cast("long").as(outId), col(vecCol).as(s"__v_$outId"),
        vecNorm(col(vecCol)).as(s"__n_$outId"))
      .withColumn("cell_id",
        array_min(array(cellStructs(centroidRows,
          col(s"__v_$outId"), col(s"__n_$outId")): _*))
          .getField("cell_id"))
    val corpusA = assign(corpus, "vec_id")
    val holdoutA = assign(holdout, "hid")
    val flagged = corpusA
      .join(holdoutA, Seq("cell_id"))
      .filter(when(col("__n_vec_id") * col("__n_hid") > 0,
        vecDot(col("__v_vec_id"), col("__v_hid")) /
          (col("__n_vec_id") * col("__n_hid")))
        .otherwise(lit(0.0)) >= threshold)
      .groupBy(col("vec_id"))
      .agg(min(col("hid")).as("matched_eval"))
    corpusA.select(col("vec_id"), col("cell_id"))
      .join(flagged.hint("SHUFFLE_HASH"), Seq("vec_id"), "left")
      .withColumn("keep", col("matched_eval").isNull)
  }

  /** Persistent ANN index — the serving form of [[ivfPqTopK]] (the
    * [[graft.operators.Dedup.buildDedupIndex]] pattern applied to
    * similarity search): at 100 TB you cannot re-assign cells and
    * re-encode PQ codes for the whole corpus per query batch. Build
    * ONCE: cell centroids and PQ codebooks train exactly as in
    * [[ivfPqTopK]], then a single corpus projection materializes
    * (vec_id, cell_id, codes, vec) as a parquet table BUCKETED by
    * cell_id; centroids/codebooks/params land in three small side
    * tables the query path reads back, so index and query arithmetic
    * cannot drift.
    *
    * `md5Sig = true` builds the engine-reproducible twin (md5-order
    * sampling, zero refinement — feed int8-quantized vectors and the
    * whole index is exact integer arithmetic, so querying it is
    * bit-equal to [[md5IvfPqTopK]] run direct: the d46 "screen ==
    * direct" proof shape, for ANN). */
  def buildAnnIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      name: String,
      nlist: Int = 16,
      m: Int = 4,
      ksub: Int = 8,
      refineIters: Int = 2,
      refineSampleMod: Long = 4,
      md5Sig: Boolean = false,
      numBuckets: Int = 8): Unit = {
    val spark = corpus.sparkSession
    graft.sources.Bucketing.withIndexLease(spark, name,
      "buildAnnIndex") {
    val (cellCents, book) = trainAnn(corpus, idCol, vecCol, nlist, m, ksub,
      md5Sig, refineIters, refineSampleMod, withBook = true)
    import spark.implicits._
    // ONE corpus projection — nearest cell + codes + the vector
    // itself (kept for the exact re-rank; readers that only ADC-scan
    // prune it at the scan). The driver-side side tables are
    // independent of it and of each other — overlapped; `_meta` stays
    // LAST, the existence readers key on.
    graft.Par.run((() => graft.sources.Bucketing.writeBucketed(
      annRows(corpus, idCol, vecCol, cellCents, book.get),
      s"${name}_vectors", "cell_id", numBuckets)) +:
      geometryWrites(spark, cellCents, book, s => s"$name$s"): _*)
    graft.sources.Bucketing.writeTable(
      Seq((nlist, m, ksub, md5Sig, numBuckets))
        .toDF("nlist", "m", "ksub", "md5_sig", "num_buckets"),
      s"${name}_meta")
    }
  }

  /** Appends a batch of NEW vectors to a [[buildAnnIndex]] index:
    * encodes them against the index's OWN stored centroids and
    * codebooks (read back from the side tables — the codebooks do
    * not retrain, exactly as a production IVF-PQ index ingests), and
    * appends per-bucket files to the bucketed vectors table (no
    * rewrite of existing data; [[graft.sources.Bucketing
    * .compactBucketed]] folds accreted appends when wanted). */
  def appendToAnnIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      name: String): Unit = {
    val spark = batch.sparkSession
    graft.sources.Bucketing.withIndexLease(spark, name,
      "appendToAnnIndex") {
    // the geometry pulls and the batch-dimension probe are
    // independent — overlapped (guide §2.6)
    var g: AnnGeom = null
    var dims: org.apache.spark.sql.Row = null
    graft.Par.run(
      () => g = annGeom(spark, name),
      () => dims = batch.agg(min(size(col(vecCol))).as("lo"),
        max(size(col(vecCol))).as("hi")).head())
    val numBuckets = g.numBuckets
    val cellCents = g.cellCents
    val book = g.book
    // Fail loudly on a wrong-dimension batch: slice/vecDot over a
    // short array would otherwise encode GARBAGE codes into the
    // index silently. One cheap driver-side probe (the centroids are
    // already collected; the batch head is one row).
    val indexDim = cellCents.head._2.length
    if (!dims.isNullAt(0))
      require(dims.getInt(0) == indexDim && dims.getInt(1) == indexDim,
        s"appendToAnnIndex('$name'): batch vector dims " +
          s"[${dims.getInt(0)}, ${dims.getInt(1)}] != index dim $indexDim")
    graft.sources.Bucketing.appendBucketed(
      annRows(batch, idCol, vecCol, cellCents, book),
      s"${name}_vectors", "cell_id", numBuckets)
    }
  }

  /** An ANN geometry trained over `corpus`: cell centroids and, when
    * `withBook`, the PQ codebook. The two trainings read the same
    * corpus but share no state — overlapped (graft.Par, guide §2.6),
    * so the book's sample jobs back-fill the executors the cell
    * refinement's job tails leave idle. `md5Sig` trains the
    * engine-reproducible twin: md5-order sampling, no refinement. */
  private def trainAnn(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, ksub: Int, md5Sig: Boolean, refineIters: Int,
      refineSampleMod: Long, withBook: Boolean)
      : (IndexedSeq[(Long, IndexedSeq[Float])], Option[PqBook]) = {
    val sampleOrd =
      if (md5Sig) Dedup.md5Hash60(col(idCol).cast("long").cast("string"))
      else xxhash64(col(idCol).cast("long"))
    val iters = if (md5Sig) 0 else refineIters
    var cellCents: IndexedSeq[(Long, IndexedSeq[Float])] = null
    var book: Option[PqBook] = None
    graft.Par.run((() => cellCents = trainL2CellCents(corpus, idCol, vecCol,
      nlist, iters, refineSampleMod, sampleOrd)) +:
      Option.when(withBook)(() => book = Some(trainPqBook(corpus, idCol,
        vecCol, m, ksub, iters, refineSampleMod, sampleOrd))).toSeq: _*)
    (cellCents, book)
  }

  /** The writes of a trained geometry, `table(suffix)` naming the
    * `_cents` (and `_book`) tables — independent, for graft.Par. */
  private def geometryWrites(spark: org.apache.spark.sql.SparkSession,
      cellCents: IndexedSeq[(Long, IndexedSeq[Float])],
      book: Option[PqBook], table: String => String): Seq[() => Unit] = {
    import spark.implicits._
    (() => graft.sources.Bucketing.writeTable(
      cellCents.map { case (cid, v) => (cid, v.toSeq) }
        .toDF("cell_id", "cvec"), table("_cents"))) +:
      book.map(b => () => graft.sources.Bucketing.writeTable(
        b.cents.zipWithIndex.map { case (v, c) => (c, v.toSeq) }
          .toDF("code", "cvec"), table("_book"))).toSeq
  }

  private def nearestCell(cellCents: IndexedSeq[(Long, IndexedSeq[Float])],
      vec: Column): Column =
    array_min(array(l2CellStructs(cellCents, vec): _*)).getField("cell_id")

  /** `_vectors` rows: (vec_id, nearest cell, PQ codes, the vector). */
  private def annRows(df: DataFrame, idCol: String, vecCol: String,
      cellCents: IndexedSeq[(Long, IndexedSeq[Float])],
      book: PqBook): DataFrame =
    df.select(col(idCol).cast("long").as("vec_id"),
      nearestCell(cellCents, col(vecCol)).as("cell_id"),
      book.codesOf(col(vecCol)).as("codes"), col(vecCol).as("vec"))

  /** Opens an EMPTY shard on an existing index's trained geometry —
    * the codebook-sharing half of the shard-merge story: a 100 TB
    * ingest trains centroids + PQ book ONCE, opens shards near the
    * data ([[appendToAnnIndex]] encodes each batch against the
    * shard's — shared — geometry), and [[mergeAnnIndexes]]
    * consolidates off the hot path. The shard copies `_cents`,
    * `_book` and `_meta` verbatim and starts `_vectors` empty. */
  def shardFromAnnIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, shard: String): Unit =
    graft.sources.Bucketing.withIndexLeases(spark, Seq(name, shard),
      "shardFromAnnIndex") {
      val numBuckets = spark.table(s"${name}_meta").head()
        .getAs[Int]("num_buckets")
      // three independent shard writes — overlapped (guide §2.6);
      // `_meta` stays LAST, the existence readers key on
      graft.Par.run(
        () => graft.sources.Bucketing.writeBucketed(
          spark.table(s"${name}_vectors")
            .limit(0),
          s"${shard}_vectors", "cell_id", numBuckets),
        () => graft.sources.Bucketing.writeTable(
          spark.table(s"${name}_cents"),
          s"${shard}_cents"),
        () => graft.sources.Bucketing.writeTable(
          spark.table(s"${name}_book"),
          s"${shard}_book"))
      graft.sources.Bucketing.writeTable(
        spark.table(s"${name}_meta"),
        s"${shard}_meta")
    }

  /** Merge ANN index SHARDS that share ONE trained geometry
    * ([[IndexFamily.merge]]), with the precondition that makes it
    * sound: cell assignments and PQ codes are meaningful only
    * against the codebook that produced them, so the sources'
    * `_cents` AND `_book` must be bit-identical (refused loudly
    * otherwise — there is no way to merge encodings across books;
    * rebuild one index over the union, or re-encode shards from one
    * shared geometry via [[shardFromAnnIndex]]). With one geometry
    * the merge is pure metadata + one union: `_vectors` re-bucketed
    * once, geometry tables copied, ids refused on overlap. */
  def mergeAnnIndexes(spark: org.apache.spark.sql.SparkSession,
      target: String, sources: Seq[String], numBuckets: Int = 8): Unit =
    IndexFamily.merge(spark, IndexFamily.ann, target, sources, numBuckets)

  /** The ann merge gate ([[IndexFamily.ann]]): every source carries
    * the first source's centroids and codebook. The per-source pulls
    * are independent BOUNDED collects (nlist + m·ksub rows — the
    * centroid-pull class), overlapped across sources (guide §2.6). */
  private[operators] def requireOneCodebook(
      spark: org.apache.spark.sql.SparkSession, sources: Seq[String]): Unit = {
    val srcGeoms = new Array[AnnGeom](sources.size)
    graft.Par.run(sources.zipWithIndex.map { case (s, i) => () =>
      srcGeoms(i) = annGeom(spark, s)
    }: _*)
    def geometryOf(i: Int): (Seq[(Long, Seq[Float])], Seq[Seq[Float]]) = (
      srcGeoms(i).cellCents.map { case (c, v) => (c, v: Seq[Float]) }.toSeq,
      srcGeoms(i).bookCents.map(v => v: Seq[Float]).toSeq)
    val baseGeom = geometryOf(0)
    sources.indices.tail.foreach { i =>
      require(geometryOf(i) == baseGeom,
        s"mergeAnnIndexes: '${sources(i)}' was trained with a different " +
          s"codebook than '${sources.head}' — cell assignments and PQ " +
          "codes are not mergeable across books; rebuild one index over " +
          "the union (buildAnnIndex/rebuildAnnIndex), or produce shards " +
          "from one shared geometry with shardFromAnnIndex")
    }
  }

  /** Reconciles an ANN index against the LANDED vector set
    * ([[IndexFamily.reconcile]]): landed vectors whose id holds no
    * `_vectors` row encode through the normal append (against the
    * index's OWN stored centroids and book — reconciliation ingests,
    * it does not retrain; pair with [[rebuildAnnIndex]] when the
    * healed mass is large enough to have drifted the
    * distribution). */
  def reconcileAnnIndex(landed: DataFrame, idCol: String,
      vecCol: String, name: String): Long =
    IndexFamily.reconcile(IndexFamily.ann, landed.filter(col(idCol).isNotNull),
      col(idCol).cast("long"), name)(appendToAnnIndex(_, idCol, vecCol, name))

  /** Ops observability for the ANN index — the occupancy histogram
    * that drives the retrain/re-balance decision (a cell holding 10×
    * its share degrades nprobe recall AND makes its bucket the
    * straggler of every probed scan; an EMPTY cell is a wasted
    * probe): per-cell vector counts over the bucketed table joined
    * against the FULL centroid list, so empty cells surface as
    * zero rows instead of silently missing. One scan that reads
    * ONLY cell_id (codes and vec prune away) + one |nlist|-sized
    * aggregate + one-row total broadcast. Returns
    * (cell_id, n_vecs, share) with share rounded to 4 decimals. */
  def annIndexStats(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame = {
    val counts = spark.table(s"${name}_vectors")
      .groupBy(col("cell_id")).agg(count(lit(1)).as("__n"))
    val total = counts.agg(sum(col("__n")).as("__t"))
    spark.table(s"${name}_cents").select(col("cell_id"))
      .join(broadcast(counts), Seq("cell_id"), "left")
      .crossJoin(broadcast(total))
      .select(col("cell_id"),
        coalesce(col("__n"), lit(0L)).as("n_vecs"),
        round(coalesce(col("__n"), lit(0L)).cast("double") /
          col("__t").cast("double"), 4).as("share"))
  }

  /** INGEST-DRIFT card for an ANN index — [[annIndexStats]]'s
    * occupancy histogram compared against where an INCOMING batch
    * would land, per stored cell: the question an operator asks
    * BEFORE appending a large ingest ("does the index's trained
    * geometry still describe the data that is arriving?"), and the
    * decision input for [[rebalanceAnnIndex]] / [[rebuildAnnIndex]]
    * — the dense sibling of [[Snapshot.vocabDrift]]. A batch whose
    * share mass concentrates in cells the index holds thinly (large
    * positive `share_shift`) will pile appends into straggler cells;
    * a batch avoiding the index's fat cells signals the corpus
    * distribution moved.
    *
    * Returns one row per stored cell: (cell_id, n_index, n_batch,
    * share_index, share_batch, share_shift = batch − index, rounded
    * to 4), every cell present (zeros surface, never vanish),
    * ordered by cell_id.
    *
    * Scale shape: the index side reads ONLY cell_id from the
    * bucketed vectors table (codes/vec prune away) into an
    * nlist-sized aggregate; the batch side is one map-only
    * assignment pass against the broadcast stored centroids (the
    * serve path's own `_cents` pull) into the same nlist-sized
    * aggregate; totals are one-row broadcasts. Nothing corpus-sized
    * moves. */
  def annIngestDriftCard(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val cellCents = centsOf(spark, s"${name}_cents")
    val idx = spark.table(s"${name}_vectors")
      .groupBy(col("cell_id")).agg(count(lit(1)).as("__ni"))
    val bat = batch
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(nearestCell(cellCents, col(vecCol)).as("cell_id"))
      .groupBy(col("cell_id")).agg(count(lit(1)).as("__nb"))
    val ti = idx.agg(coalesce(sum(col("__ni")), lit(0L)).as("__ti"))
    val tb = bat.agg(coalesce(sum(col("__nb")), lit(0L)).as("__tb"))
    def share(n: Column, t: Column): Column =
      round(when(t > 0, n.cast("double") / t.cast("double"))
        .otherwise(0.0), 4)
    spark.table(s"${name}_cents")
      .select(col("cell_id"))
      .join(broadcast(idx), Seq("cell_id"), "left")
      .join(broadcast(bat), Seq("cell_id"), "left")
      .crossJoin(broadcast(ti)).crossJoin(broadcast(tb))
      .select(col("cell_id"),
        coalesce(col("__ni"), lit(0L)).as("n_index"),
        coalesce(col("__nb"), lit(0L)).as("n_batch"),
        share(coalesce(col("__ni"), lit(0L)), col("__ti"))
          .as("share_index"),
        share(coalesce(col("__nb"), lit(0L)), col("__tb"))
          .as("share_batch"),
        round(
          when(col("__tb") > 0,
            coalesce(col("__nb"), lit(0L)).cast("double")
              / col("__tb").cast("double")).otherwise(0.0)
          - when(col("__ti") > 0,
            coalesce(col("__ni"), lit(0L)).cast("double")
              / col("__ti").cast("double")).otherwise(0.0), 4)
          .as("share_shift"))
      .orderBy(col("cell_id"))
  }

  /** Re-balance actuator for the ANN index — the verb behind
    * [[annIndexStats]]'s occupancy histogram (stats with no actuator
    * is half a lifecycle): retrains the cell centroids from the
    * index's CURRENT contents — appends and retirements drift the
    * live corpus away from what the original build trained on, a 10×
    * cell is every probed scan's straggler and an empty cell a
    * wasted probe — then reassigns every stored vector to its new
    * nearest cell and rewrites the bucketed vectors table crash-
    * safe. The PQ codebook deliberately does NOT retrain: codes are
    * a function of (vec, book) alone, independent of cells, so the
    * stored codes stay bit-valid and the rewrite is a pure cell_id
    * reassignment — no decode/re-encode pass over the corpus (a
    * book refresh invalidates every stored code; that is
    * [[rebuildAnnIndex]], not a rebalance). Serving needs no change:
    * the query path reads centroids back from `_cents` per batch.
    *
    * Crash safety — TWO tables must change together, so the new
    * centroids stage under `_cents_stage` and promote through
    * [[IndexFamily.promote]], with [[reassignVectors]] as the
    * promotion's rewrite of `_vectors`. Post-marker recovery ROLLS
    * FORWARD: the rewrite is idempotent (cell_id is recomputed from
    * the stored vec against the staged centroids, so re-running over
    * fully- or partially-rewritten contents yields the same table)
    * and the promotion is a plain overwrite. [[IndexFamily.open]]
    * runs the same recovery, so a process death at ANY point leaves
    * a fresh session one open() from consistent. */
  def rebalanceAnnIndex(spark: org.apache.spark.sql.SparkSession,
      name: String,
      refineIters: Int = 2,
      refineSampleMod: Long = 4): Unit =
    retrainAnn(spark, name, "rebalanceAnnIndex", refineIters,
      refineSampleMod, withBook = false)

  /** Stages a geometry retrained from the index's own `_vectors` —
    * centroids, and the book when `withBook` — and promotes it
    * ([[IndexFamily.promote]]). */
  private def retrainAnn(spark: org.apache.spark.sql.SparkSession,
      name: String, verb: String, refineIters: Int, refineSampleMod: Long,
      withBook: Boolean): Unit =
    IndexFamily.promote(spark, IndexFamily.ann, name, verb) {
      val meta = spark.table(s"${name}_meta").head()
      val (cellCents, book) = trainAnn(spark.table(s"${name}_vectors"),
        "vec_id", "vec", meta.getAs[Int]("nlist"), meta.getAs[Int]("m"),
        meta.getAs[Int]("ksub"), meta.getAs[Boolean]("md5_sig"),
        refineIters, refineSampleMod, withBook)
      graft.Par.run(geometryWrites(spark, cellCents, book,
        IndexFamily.stageName(name, _)): _*)
    }

  /** The ann promotion's rewrite ([[IndexFamily.ann]]): every stored
    * vector reassigned against the staged centroids. A staged BOOK
    * beside them means a rebuild: codes re-encode against it (and it
    * promotes too); without one (a rebalance) codes carry over
    * bit-unchanged. The three bounded pulls (meta head, staged
    * centroids, staged book) overlap (guide §2.6). */
  private[operators] def reassignVectors(
      spark: org.apache.spark.sql.SparkSession, name: String,
      numBuckets: Int): Unit = {
    val bookStage = IndexFamily.stageName(name, "_book")
    var metaRow: org.apache.spark.sql.Row = null
    var cellCents: IndexedSeq[(Long, IndexedSeq[Float])] = null
    var stagedBookCents: Option[IndexedSeq[IndexedSeq[Float]]] = None
    graft.Par.run(
      () => metaRow = spark.table(s"${name}_meta").head(),
      () => cellCents = centsOf(spark, IndexFamily.stageName(name, "_cents")),
      () => stagedBookCents = Option.when(
        spark.catalog.tableExists(bookStage))(bookOf(spark, bookStage)))
    val m = metaRow.getAs[Int]("m")
    val stagedBook: Option[PqBook] =
      stagedBookCents.map(bc => PqBook(bc, m, bc.head.size / m))
    graft.sources.Bucketing.compactBucketed(df => df.select(
      col("vec_id"), nearestCell(cellCents, col("vec")).as("cell_id"),
      stagedBook.map(b => b.codesOf(col("vec")).as("codes"))
        .getOrElse(col("codes")),
      col("vec")))(
      spark, s"${name}_vectors", "cell_id", numBuckets)
  }

  /** Full REBUILD from the index's current contents — the verb
    * [[rebalanceAnnIndex]] deliberately is not: retrains cell
    * centroids AND the PQ codebook from what the index holds NOW,
    * re-encodes every stored vector's codes, reassigns cells, and
    * rewrites crash-safe. Reach for it when the CODES have gone
    * stale — appends encode against the build-time book, and after
    * enough distribution drift the ADC shortlist quality degrades in
    * a way no cell rebalance can fix (the book, not the cells, is
    * the approximation). It costs what a build costs (one full
    * re-encode pass over the index contents — still never touching
    * the source corpus); the rebalance stays the cheap actuator for
    * occupancy-only drift.
    *
    * Proof obligation (the d93 oracle): rebuilding from contents
    * must equal a FRESH build over the same vector set — rebuild
    * erases build-history dependence, so an index built on half the
    * corpus, appended with the rest, then rebuilt serves bit-equal
    * to the direct full-corpus computation (the d58 twin SQL,
    * verbatim).
    *
    * Crash safety: [[rebalanceAnnIndex]]'s promotion with the BOOK
    * staged beside the centroids; post-marker recovery rolls forward
    * (codes and cells are both pure functions of (stored vec, staged
    * tables), so the rewrite is idempotent). [[IndexFamily.open]]
    * finishes either verb's interruption — the stages present record
    * which tables were staged. */
  def rebuildAnnIndex(spark: org.apache.spark.sql.SparkSession,
      name: String,
      refineIters: Int = 2,
      refineSampleMod: Long = 4): Unit =
    retrainAnn(spark, name, "rebuildAnnIndex", refineIters,
      refineSampleMod, withBook = true)

  /** Retirement for the ANN index ([[IndexFamily.retire]]): removes
    * the ids' (cell_id, codes, vec) rows; centroids and codebooks
    * are statistics over the historical corpus and deliberately
    * stay — a takedown removes the DOCUMENT, not the trained
    * quantizer (re-training on retirement would re-encode the entire
    * index for every takedown, the exact cost the index exists to
    * avoid). */
  def retireFromAnnIndex(ids: DataFrame, idCol: String,
      name: String): Unit =
    IndexFamily.retire(IndexFamily.ann, ids, col(idCol).cast("long"), name)

  /** [[IndexFamily.open]] for a persisted ANN index. */
  def openAnnIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    IndexFamily.open(spark, IndexFamily.ann, name)

  /** RECALL sweep for a [[buildAnnIndex]] index — the ops card
    * behind choosing `nprobe` (and the number that tells you when a
    * [[rebalanceAnnIndex]]/[[rebuildAnnIndex]] is due: recall decay
    * at fixed nprobe IS distribution drift): for each probed nprobe,
    * recall@k of [[annTopKAgainstIndex]] against the EXACT top-k
    * ground truth over the index's own contents. Ground truth is the
    * honest cost of a recall eval — |queries| × index rows of
    * distance arithmetic (run it on an eval-sized probe batch, the
    * [[annTopKAgainstIndex]] contract) — computed as a broadcast of
    * the query batch against one pruned (vec_id, vec) scan, folded
    * by the bounded per-query top-k heap; self-matches are excluded
    * on both sides (the serving path's convention). All nprobe arms
    * share ONE truth set and ONE semi-join; recall = hits /
    * (n_queries · k), exact integer counts divided once and rounded
    * to 4 decimals (§6 rule).
    *
    * Returns (nprobe, k, n_queries, hits, recall), one row per
    * probed nprobe — including zero-hit arms (a left join from the
    * nprobe list, so a catastrophic recall reads as 0.0, not as a
    * missing row). */
  def annRecallSweep(spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobes: Seq[Int], shortlistFactor: Int = 5): DataFrame = {
    require(nprobes.nonEmpty && nprobes.distinct == nprobes,
      s"nprobes must be non-empty and distinct, got $nprobes")
    // index artifacts pulled ONCE for all arms (not once per arm),
    // and the probe assignment computed ONCE at the largest arm: an
    // arm's probe set is the `__rank <= nprobe` prefix (slice of a
    // sorted array), so one bounded collect of per-cell minimum
    // probe rank (≤ nlist rows) replaces a distinct-collect per arm —
    // per-arm bucket pruning stays EXACT, zero eager work per arm
    val g = annGeom(spark, name)
    nprobes.foreach(np => require(np >= 1 && np <= g.nlist,
      s"need 1 <= nprobe <= nlist, got $np/${g.nlist}"))
    val qAll = annProbeQ(queries, idCol, vecCol, g, nprobes.max)
    val cellMinRank = qAll.groupBy(col("cell_id"))
      .agg(min(col("__rank")).as("__mr")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    sweepRecallArms(spark, name, queries, idCol, vecCol, k, "nprobe",
      nprobes, np => annRefineFromIndex(spark, name,
        annAdcScored(spark, name,
          qAll.filter(col("__rank") <= np).drop("__rank"),
          cellMinRank.filter(_._2 <= np).map(_._1)),
        queries, idCol, vecCol, k, shortlistFactor))
  }

  /** REFINE-DEPTH sweep for a [[buildAnnIndex]] index — the ops card
    * behind choosing `shortlistFactor`, the OTHER recall lever
    * [[annRecallSweep]] holds fixed: every serve already exact-
    * re-ranks its ADC shortlist against the index's stored vectors
    * (the [[annTopKAgainstIndex]] refine stage — FAISS IndexRefine's
    * shape), but a true neighbor the quantized ADC distance ranks
    * past k·factor never REACHES that re-rank; this is the ADC-
    * truncation cost, and recall it leaves behind is recoverable for
    * shortlist×dim exact work per query — bounded, never a corpus
    * scan. The card prices exactly that trade: same query batch,
    * same FIXED nprobe, one arm per shortlist factor, all arms
    * scored against ONE brute-force ground truth (the
    * [[annRecallSweep]] cost disclosure applies). recall(factor)
    * rising means ADC truncation was binding — spend shortlist;
    * recall(factor) flat means the probe set is binding — spend
    * nprobe (d117's card) or rebalance.
    *
    * Returns (shortlist_factor, k, n_queries, hits, recall), one row
    * per factor including zero-hit arms. */
  def annRefineSweep(spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, shortlistFactors: Seq[Int]): DataFrame = {
    require(shortlistFactors.nonEmpty &&
      shortlistFactors.distinct == shortlistFactors,
      s"shortlistFactors must be non-empty and distinct, got " +
        s"$shortlistFactors")
    require(shortlistFactors.forall(_ >= 1),
      s"shortlistFactors must be >= 1, got $shortlistFactors")
    // all arms share one nprobe, hence ONE probe assignment, ONE
    // probed-cell collect and ONE ADC-scored subtree — an arm is just
    // a different shortlist cut over it (artifacts pulled once, zero
    // eager work per arm)
    val g = annGeom(spark, name)
    require(nprobe >= 1 && nprobe <= g.nlist,
      s"need 1 <= nprobe <= nlist, got $nprobe/${g.nlist}")
    val q = annProbeQ(queries, idCol, vecCol, g, nprobe).drop("__rank")
    val probed = q.select(col("cell_id")).distinct().collect()
      .map(_.getLong(0)).toSeq
    val scored = annAdcScored(spark, name, q, probed)
    sweepRecallArms(spark, name, queries, idCol, vecCol, k,
      "shortlist_factor", shortlistFactors,
      sf => annRefineFromIndex(spark, name, scored, queries, idCol,
        vecCol, k, sf))
  }

  /** Shared sweep machinery of [[annRecallSweep]] and
    * [[annRefineSweep]]: ONE exact ground truth over the index's own
    * contents (broadcast query batch × one pruned (vec_id, vec)
    * scan, folded by the bounded per-query top-k heap, self
    * excluded), one arm of [[annTopKAgainstIndex]] per swept value,
    * ONE semi-join scoring all arms, recall = hits / (n_queries · k)
    * as exact integer counts divided once, rounded to 4 decimals
    * (§6). Zero-hit arms surface as 0.0 rows via the left join from
    * the arm list. */
  private def sweepRecallArms(spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, armCol: String, arms: Seq[Int],
      serve: Int => DataFrame): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qv = queries.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qv"))
    val nq = qv.count() // bounded: an eval-sized probe batch
    require(nq >= 1, s"recall sweep over '$name': empty query batch")
    val contents = spark.table(s"${name}_vectors")
      .select(col("vec_id").as("neighbor_id"), col("vec").as("__cv"))
    val truth = contents
      .join(broadcast(qv), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vecDot(col("__qv"), col("__qv"))
          - lit(2.0) * vecDot(col("__qv"), col("__cv"))
          + vecDot(col("__cv"), col("__cv"))).as("__d2"))
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorFunctions.topKByCos(
        col("neighbor_id"), -col("__d2"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.neighbor_id").as("neighbor_id"))
    val servedAll = arms.map { a =>
      serve(a)
        .select(lit(a).as(armCol), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    val hits = servedAll
      .join(truth.hint("SHUFFLE_HASH"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col(armCol)).agg(count(lit(1)).as("hits"))
    import spark.implicits._
    arms.toDF(armCol)
      .join(broadcast(hits), Seq(armCol), "left")
      .select(col(armCol), lit(k).as("k"), lit(nq).as("n_queries"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          lit(nq * k).cast("double"), 4).as("recall"))
  }

  /** Top-k against a [[buildAnnIndex]] index WITHOUT touching the
    * corpus: centroids/codebooks come back from the side tables
    * (driver pull bounded by nlist·dim + m·ksub·dsub), the query
    * batch probes nprobe cells, and the probed cell set — bounded by
    * |queries|·nprobe — is pushed as an IN filter so the BUCKETED
    * index scan prunes to the probed buckets' files
    * (SelectedBucketsCount in the plan). ADC-scans codes (the vec
    * column is pruned at the scan), then exact-re-ranks a 5k-per-
    * query shortlist against vectors FETCHED FROM THE INDEX. Per-
    * batch cost: query sig + a pruned bucketed scan + two narrow
    * joins — the corpus is never re-encoded.
    *
    * Returns (query_id, rank, neighbor_id, dist2), the
    * [[ivfPqTopK]] contract. */
  def annTopKAgainstIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      name: String,
      k: Int,
      nprobe: Int = 4,
      shortlistFactor: Int = 5): DataFrame = {
    val spark = queries.sparkSession
    val g = annGeom(spark, name)
    require(nprobe >= 1 && nprobe <= g.nlist,
      s"need 1 <= nprobe <= nlist, got $nprobe/${g.nlist}")
    val q = annProbeQ(queries, idCol, vecCol, g, nprobe).drop("__rank")
    // literal probed-cell set (≤ |queries|·nprobe, and ≤ nlist after
    // distinct) → bucket pruning on the index scan
    val probed = q.select(col("cell_id")).distinct().collect()
      .map(_.getLong(0)).toSeq
    annRefineFromIndex(spark, name,
      annAdcScored(spark, name, q, probed),
      queries, idCol, vecCol, k, shortlistFactor)
  }

  /** The per-serve driver-side artifact pulls (`_meta` head, `_cents`
    * and `_book` collects — each bounded: one row, nlist·dim,
    * m·ksub·dsub) are INDEPENDENT reads, so they are overlapped
    * (graft.Par, guide §2.6): one driver latency per serve instead of
    * three serial jobs. */
  private final case class AnnGeom(meta: org.apache.spark.sql.Row,
      cellCents: IndexedSeq[(Long, IndexedSeq[Float])],
      bookCents: IndexedSeq[IndexedSeq[Float]]) {
    def nlist: Int = meta.getAs[Int]("nlist")
    def m: Int = meta.getAs[Int]("m")
    def numBuckets: Int = meta.getAs[Int]("num_buckets")
    lazy val book: PqBook = PqBook(bookCents, m, bookCents.head.size / m)
  }

  private def annGeom(spark: org.apache.spark.sql.SparkSession,
      name: String): AnnGeom = {
    var meta: org.apache.spark.sql.Row = null
    var cc: IndexedSeq[(Long, IndexedSeq[Float])] = null
    var bc: IndexedSeq[IndexedSeq[Float]] = null
    graft.Par.run(
      () => meta = spark.table(s"${name}_meta").head(),
      () => cc = centsOf(spark, s"${name}_cents"),
      () => bc = bookOf(spark, s"${name}_book"))
    AnnGeom(meta, cc, bc)
  }

  /** A `_cents` table's centroids, by cell id (a bounded pull). */
  private def centsOf(spark: org.apache.spark.sql.SparkSession,
      table: String): IndexedSeq[(Long, IndexedSeq[Float])] =
    spark.table(table).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq

  /** A `_book` table's codebook, by code (a bounded pull). */
  private def bookOf(spark: org.apache.spark.sql.SparkSession,
      table: String): IndexedSeq[IndexedSeq[Float]] =
    spark.table(table).collect().sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toIndexedSeq).toIndexedSeq

  /** Probe assignment for one query batch: (query_id, lut, __rank,
    * cell_id) with __rank the 1-based probe order (nearest cell
    * first). Shared by the single serve and the sweeps — a sweep
    * computes this ONCE at its largest arm and derives every arm's
    * probe set by `__rank <= nprobe`, which equals the per-arm
    * prefix slice exactly (slice of a sorted array is a prefix). */
  private def annProbeQ(queries: DataFrame, idCol: String,
      vecCol: String, g: AnnGeom, nprobe: Int): DataFrame =
    queries
      .select(col(idCol).as("query_id"),
        g.book.lutOf(col(vecCol)).as("lut"),
        posexplode(slice(
          sort_array(array(l2CellStructs(g.cellCents, col(vecCol)): _*)),
          1, nprobe)))
      .select(col("query_id"), col("lut"),
        (col("pos") + 1).as("__rank"),
        col("col").getField("cell_id").as("cell_id"))

  /** The ADC scan: probed buckets only (the isin literal prunes the
    * bucketed scan; any superset of the q rows' cells is correct —
    * the cell_id equi-join governs the result). */
  private def annAdcScored(spark: org.apache.spark.sql.SparkSession,
      name: String, q: DataFrame, probed: Seq[Long]): DataFrame =
    spark.table(s"${name}_vectors")
      .filter(col("cell_id").isin(probed: _*))
      .join(broadcast(q.select(col("query_id"), col("lut"),
        col("cell_id"))), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-VectorFunctions.pqAdc(col("codes"), col("lut"))).as("cos"))

  /** Shortlist cut + exact re-rank against the index's own stored
    * vectors — the tail every indexed serve shares. */
  private def annRefineFromIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, scored: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlistFactor: Int): DataFrame =
    refineShortlist(
      rankTopK(scored, k * shortlistFactor)
        .select(col("query_id"), col("neighbor_id")),
      queries,
      spark.table(s"${name}_vectors")
        .select(col("vec_id").as(idCol), col("vec").as(vecCol)),
      idCol, vecCol, k)

  /** RANGE search against a [[buildAnnIndex]] index: every indexed
    * vector within L2 distance² <= `radius2` of each query, EXACT
    * within the `nprobe` probed cells (the IVF recall gate — a
    * neighbor living in an unprobed cell is unseen; the standard IVF
    * contract, disclosed). Unlike the top-k path there is NO ADC
    * shortlist stage: an approximate shortlist cut could drop a true
    * in-range vector, and a range query has no k to size one by —
    * the probed cells' vectors are scored exactly instead. The
    * probed-cell IN literal is pushed into the scan; because the
    * index files are bucketed BY cell_id, each file holds only its
    * bucket's cells and the pushed filter prunes at file/row-group
    * granularity from footer stats. (Catalyst's
    * DisableUnnecessaryBucketedScan drops the bucketed-scan form
    * here — a bare projection has no distribution requirement — so
    * the plan shows PushedFilters rather than SelectedBucketsCount;
    * compose the result into any aggregate/join, the common shape,
    * and the bucket-set pruning re-engages as in the top-k path.)
    * Returns (query_id, neighbor_id, dist2): exact squared L2,
    * self excluded; the empty result is a valid answer (nothing in
    * range among probed cells). */
  def annRangeAgainstIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      name: String,
      radius2: Double,
      nprobe: Int = 4): DataFrame = {
    require(radius2 >= 0, s"radius2 must be >= 0, got $radius2")
    val spark = queries.sparkSession
    // the meta/cents pulls are independent — annGeom overlaps them
    // (the unused book read rides the same pool at no wall cost)
    val g = annGeom(spark, name)
    require(nprobe >= 1 && nprobe <= g.nlist,
      s"need 1 <= nprobe <= nlist, got $nprobe/${g.nlist}")
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(slice(
          sort_array(array(l2CellStructs(g.cellCents, col(vecCol)): _*)),
          1, nprobe)).as("__probe"))
      .select(col("query_id"), col("__qv"),
        col("__probe").getField("cell_id").as("cell_id"))
    val probed = q.select(col("cell_id")).distinct().collect()
      .map(_.getLong(0)).toSeq
    spark.table(s"${name}_vectors")
      .filter(col("cell_id").isin(probed: _*))
      .join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (vecDot(col("__qv"), col("__qv"))
          - lit(2.0) * vecDot(col("__qv"), col("vec"))
          + vecDot(col("vec"), col("vec"))).as("dist2"))
      .filter(col("dist2") <= lit(radius2))
  }

  /** `bits`-bit random-hyperplane signature as a single SQL
    * expression (shift amounts vary per plane, which the DSL lambda
    * can't express — SQL HOFs can). Signature computation is
    * per-vector (O(n), off the pair hot path), so the interpreted
    * HOF cost is acceptable here. */
  private def signatureExpr(vecCol: String, bits: Int): Column = expr(
    s"""aggregate(
       |  transform(sequence(0, ${bits - 1}), p ->
       |    IF(aggregate(
       |         zip_with($vecCol, sequence(0, size($vecCol) - 1),
       |           (v, j) -> cast(v as double) * (cast(xxhash64(p, j) as double) / 9.223372036854776e18)),
       |         cast(0.0 as double), (s, v) -> s + v) >= 0,
       |       shiftleft(1L, p), 0L)),
       |  0L, (s, x) -> s | x)""".stripMargin)
}
