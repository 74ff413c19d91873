package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, OpsCard, Packing, Retrieval, Sampling, Similarity, Snapshot, TextAnalysis}
import graft.sources.Tables

/** D-block: LLM-training-data pipeline operators (SURVEY.md §2
  * D1-D12) over the `documents` / `embeddings` tables.
  *
  * SQL-expressible operators (exact dedup, cosine pairs/top-k,
  * lang-id, quality, token counts, multimodal metadata) carry DuckDB
  * oracles. Hash-sketch internals (minhash/simhash/LSH/winnowing)
  * are engine-specific → rows-only driver check + property specs.
  */
object DBlock {
  type Q = (SparkSession, String) => DataFrame

  /** One-time physical media store: documents' payloads (REAL PNGs
    * and WAVs for image/audio rows) persisted as a binary parquet
    * column, keyed by a source fingerprint so regenerated testdata
    * self-invalidates. The decode entries read from THIS store — the
    * real pipeline shape (ingest media once, decode many), and the
    * proof that opaque media columns round-trip through columnar
    * storage. Metadata-only readers of the same store prune the
    * binary column entirely. */
  private def mediaStore(s: SparkSession, d: String): String = {
    val src = new org.apache.hadoop.fs.Path(d, "documents.parquet")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(src)
    // v4: structured audio samples (envelope × carrier) AND id-keyed
    // image gradients — the r17 probe fixes; the version is part of
    // the key so stores holding old payloads self-invalidate
    val store = "/tmp/graft_media_store_v4_" +
      d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      java.lang.Long.toHexString(st.getLen ^ st.getModificationTime)
    if (!fs.exists(new org.apache.hadoop.fs.Path(store)))
      Multimodal.withMediaPayload(Tables.documents(s, d), "doc_id", "text")
        .write.mode("overwrite").parquet(store)
    store
  }

  private def mediaRows(s: SparkSession, d: String) = {
    import s.implicits._
    s.read.parquet(mediaStore(s, d)).as[Multimodal.MediaRow]
  }

  val queries: Map[String, Q] = Map(
    // D1: exact dedup via content-hash groupBy (scales as one
    // shuffle; the hash key is uniform so no skew).
    "d1_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("content_hash"))),

    // D2: MinHash+LSH near-dup pairs (rows-only + DedupSpec).
    "d2_dedup_minhash" -> ((s, d) =>
      // 16 bands × 2 rows puts the LSH s-curve midpoint at 0.25 —
      // comfortably below the 0.5 verification threshold
      Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numPerms = 32, bands = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // D3: SimHash near-dup pairs (rows-only + DedupSpec).
    "d3_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text", maxDist = 8)
        .orderBy(col("id_a"), col("id_b"))),

    // D4: blocked n-gram Jaccard verification join (oracle-checked:
    // the blocked-pair + true-Jaccard semantics are deterministic —
    // only the set representation is hashed, and a collision
    // perturbing the value has probability ~2^-64).
    "d4_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        blockCols = Seq(col("lang"), expr("n_chars DIV 100").cast("int")),
        shingleK = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // D5: embedding cosine near-dup pairs (exact, oracle-checked) —
    // block-decomposed all-pairs scan; bit-equal to the row-per-pair
    // baseline (SimilaritySpec cross-checks them).
    "d5_embed_neardup" -> ((s, d) =>
      Similarity.cosinePairsBlocked(Tables.embeddings(s, d), "vec_id",
        "embedding", threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b"))),

    // D6: brute-force cosine top-k ANN baseline (oracle-checked).
    "d6_ann_bruteforce" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D7: LSH-bucketed ANN, the scale path (rows-only + SimilaritySpec
    // recall check against D6).
    "d7_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(
        emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding",
        k = 10, bits = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D7b: IVF ANN — the clustered scale path (rows-only +
    // SimilaritySpec recall check).
    "d7b_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(
        emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding",
        k = 10, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D8: language ID — marker-frequency argmax (oracle-checked).
    "d8_lang_id" -> ((s, d) =>
      TextAnalysis.withLangId(
        Tables.documents(s, d).select(col("doc_id"), col("text")), "text")
        .drop("text")
        .orderBy(col("doc_id"))),

    // D9: quality scoring (oracle-checked). The stats struct is
    // materialized once; n_words and the quality blend read fields.
    "d9_quality_score" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("__ts", TextAnalysis.textStats(col("text")))
        .select(col("doc_id"),
          col("__ts.n_words").cast("long").as("n_words"),
          TextAnalysis.qualityFromStats(col("__ts")).as("quality"))
        .orderBy(col("doc_id"))),

    // D10: token counting, whitespace + BPE-ish regex (oracle-checked).
    "d10_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
        .orderBy(col("doc_id"))),

    // D11: winnowing fingerprints (rows-only + TextAnalysisSpec).
    "d11_fingerprint" -> ((s, d) =>
      TextAnalysis.withFingerprints(
        Tables.documents(s, d).select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          array_min(col("fp")).as("fp_min"), array_max(col("fp")).as("fp_max"))
        .orderBy(col("doc_id"))),

    // D13: composed corpus-curation filter — the end-to-end shape a
    // training-data pipeline runs: token bounds + quality + lang-id in
    // one scan with two native text passes (marker counts + stats);
    // the pushed-down filter re-inlines the stats pass, but each
    // evaluation is a single cheap loop, not the ~10 split/replace
    // passes the SQL-arithmetic forms expanded to (oracle-checked).
    "d13_corpus_filter" -> ((s, d) =>
      TextAnalysis.withLangId(
        Tables.documents(s, d).select(col("doc_id"), col("text")), "text")
        .withColumn("__ts", TextAnalysis.textStats(col("text")))
        .select(col("doc_id"),
          col("__ts.n_words").cast("long").as("n_words"),
          TextAnalysis.qualityFromStats(col("__ts")).as("quality"),
          col("lang_pred"))
        .filter(col("n_words").between(20, 200) && col("quality") >= 0.5)
        .orderBy(col("doc_id"))),

    // D14: corpus vocabulary stats — token frequency top-k (explode →
    // partial-agg count → top-k; the first step of tokenizer/BPE
    // training). Oracle-checked.
    "d14_token_freq" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)),

    // D15b: repetition scoring (Gopher-style dedup signal): token
    // duplication fraction per document — high dup_frac is the
    // classic boilerplate/spam marker a curation pipeline filters on
    // (oracle-checked).
    "d15_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          size(array_distinct(col("ws"))).cast("long").as("distinct_tokens"))
        .withColumn("dup_frac",
          round(lit(1.0) - col("distinct_tokens").cast("double") /
            col("n_tokens"), 4))
        .orderBy(col("doc_id"))),

    // D18: deterministic hash sampling — reproducible corpus subsets
    // keyed on md5(doc_id), so the same documents are selected on any
    // cluster, any partitioning, any run (seeded rand() is none of
    // those). The standard way to carve held-out / eval slices from
    // a 100 TB corpus without a shuffle (oracle-checked).
    "d17_hash_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // D19: near-dup GROUPS — connected components over the verified
    // d4 pairs (min-label propagation; transitive closure turns
    // pairwise matches into dedup clusters). Oracle: recursive-CTE
    // closure in DuckDB over the identical pair set.
    "d18_neardup_components" -> ((s, d) =>
      Dedup.components(
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          blockCols = Seq(col("lang"), expr("n_chars DIV 100").cast("int")),
          shingleK = 3, threshold = 0.2))
        .orderBy(col("id"))),

    // D5+D19 composed: the full embedding-dedup pipeline — exact
    // blocked cosine pairs → connected components → keep-one —
    // oracle-checked end to end against a recursive-CTE closure over
    // the same pair predicate (survivor = min id per cluster,
    // singletons untouched).
    "d21_embed_dedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.dropNearDuplicates(emb, "vec_id",
        Similarity.cosinePairsBlocked(emb, "vec_id", "embedding",
          threshold = 0.4))
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // D16: canonicalization for dedup — lowercase, numbers → <num>,
    // emails → <email>, whitespace squashed; the normalize-then-hash
    // front door of every exact-dedup pass (oracle-checked: Spark and
    // DuckDB run the same RE2-compatible regexes).
    "d16_canonicalize" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_nums"),
          regexp_count(col("text"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
            .cast("long").as("n_emails"),
          md5(trim(regexp_replace(regexp_replace(regexp_replace(
            lower(col("text")),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<email>"),
            "[0-9]+", "<num>"),
            "\\s+", " "))).as("canon_hash"))
        .orderBy(col("doc_id"))),

    // D12: multimodal metadata over binary payload columns
    // (oracle-checked; real decode stages are d19/d22/d23/d28).
    "d12_multimodal_meta" -> ((s, d) =>
      Multimodal.metadata(
        Multimodal.withBinaryPayload(Tables.documents(s, d), "doc_id", "text"))
        .orderBy(col("doc_id"))),

    // D4b: n-gram Jaccard with NO blocking key — candidates come from
    // minhash bands instead of an exhaustive within-block join
    // (rows-only: LSH candidate recall is probabilistic; DedupSpec
    // pins that it recovers the blocked d4 pairs).
    "d20_ngram_unblocked" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        blockCols = Nil, shingleK = 3, threshold = 0.2,
        numPerms = 32, bands = 32)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // D8b oracle twin: d20's minhash-band fallback (32 bands of
    // r=1, threshold 0.2) under the d30 md5-signature discipline —
    // DuckDB recomputes every signature from raw text and re-derives
    // the exact candidate and verified pair sets, closing the last
    // twin-less rows-only entry whose arithmetic is SQL-derivable.
    // d20 stays the production entry (XXH64 signatures).
    "d20b_ngram_unblocked_oracle" -> ((s, d) =>
      Dedup.md5MinhashPairs(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numPerms = 32, bands = 32, threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // D15/D19: REAL image decode — payloads are genuine PNGs
    // (Multimodal.imagePayload) and width/height/channels come from
    // javax.imageio reading the actual bytes; the oracle knows only
    // the generator's dimension formulas, so a decoder that doesn't
    // truly parse the PNG header cannot match it.
    // Decode runs against the PHYSICAL media store (binary parquet
    // column), not freshly generated payloads: the measured work is
    // scan + codec, the production decode shape.
    "d19_image_decode" -> ((s, d) =>
      // pre-filter with an untyped Column predicate: audio/video rows
      // are dropped at the scan, BEFORE deserialization — previously
      // every video was demuxed + JPEG-decoded just to be discarded
      Multimodal.decode(s, mediaRows(s, d)
        .filter(col("media_type") === "image"))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"))
        .orderBy(col("doc_id"))),

    // D39: perceptual image near-dedup — dHash64 over REAL decoded
    // PNG pixels (integer luma, 9×8 area-average, gradient-sign
    // bits) fed through the SAME skew-guarded multi-index hamming
    // search text SimHash uses, over a corpus of every image doc
    // plus a planted near-identical twin (one dHash cell brightened:
    // guaranteed hamming <= 2). Rows-only — pixel decode has no SQL
    // oracle; MultimodalSpec pins twin recovery, brightness
    // invariance, and the decode determinism the hash rests on.
    // (The synthetic gradient images also pair naturally at <= 2 —
    // visually-similar fields SHOULD near-dup; deterministic either
    // way.)
    "d52_image_neardup" -> ((s, d) => {
      val media = Multimodal.withPlantedNearDupImages(
        Tables.documents(s, d).filter(col("doc_id").isNotNull), "doc_id")
      Multimodal.imageNearDupPairs(s, media, maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D39b: d52's ORACLE TWIN — the dHash signatures themselves,
    // bit for bit. The planted corpus's pixels are doc_id ARITHMETIC
    // ((id*31 + x*7 + y*131) & 0xFFFFFF, +12-clamped on one dHash
    // cell for the twin), and PNG is lossless, so DuckDB re-derives
    // the integer luma, the 9×8 area-average downscale, and all 64
    // gradient bits straight from the formulas — while Spark goes
    // through the REAL path: PNG encode, ImageIO decode, pixel scan
    // (Multimodal.dHash64). A hash match proves the whole
    // decode+downscale+hash kernel; the pair machinery downstream of
    // these sigs is d29's hash-matched simhashPairsFromSigs path.
    // Signatures ship as two unsigned 32-bit halves — identical
    // two's-complement BIGINT arithmetic on both engines without
    // 1<<63 overflow games.
    "d52b_dhash_bits" -> ((s, d) => {
      val media = Multimodal.withPlantedNearDupImages(
        Tables.documents(s, d).filter(col("doc_id").isNotNull), "doc_id")
      Multimodal.imageDHashSigs(s, media)
        .select(col("doc_id"),
          expr("shiftrightunsigned(sim, 32)").as("sig_hi"),
          (col("sim").bitwiseAND(lit(0xFFFFFFFFL))).as("sig_lo"))
        .orderBy(col("doc_id"))
    }),

    // D48: perceptual VIDEO near-dedup — dHash64 per demuxed MJPEG
    // frame (real RIFF walk + ImageIO decode), videos paired when
    // every aligned frame matches. The planted corpus is every video
    // doc plus a REMUXED twin (identical JPEG bytes, fps+3 container
    // timing — the same-content-different-container duplicate).
    // Rows-only: JPEG's DCT has no SQL oracle; MultimodalSpec pins
    // exact twin recovery at hamming 0 and that a frame-count
    // mismatch never pairs. The per-frame hash kernel is d52b's
    // hash-matched dHash64; the pairing machinery is d29's.
    "d63_video_neardup" -> ((s, d) => {
      val media = Multimodal.withPlantedNearDupVideos(
        Tables.documents(s, d).filter(col("doc_id").isNotNull), "doc_id")
      Multimodal.videoNearDupPairs(s, media, maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D48b: d63's ORACLE TWIN (the d52b discipline lifted to video):
    // the frame pixel formula is doc_id+frame arithmetic and the
    // twin corpus muxes LOSSLESS PNG frames into the same real AVI
    // container, so DuckDB re-derives every per-frame dHash bit —
    // integer luma, 9×8 floor-partition area averages, 64 gradient
    // signs — while Spark runs the REAL path: PNG encode → RIFF mux
    // → demux → ImageIO decode → pixel scan. Erases the d63 family's
    // twin-less rows-only status: the frame-hash kernel and the
    // demux/sampling machinery are now hash-matched end to end.
    "d63b_video_dhash_bits" -> ((s, d) => {
      val media = Multimodal.withPlantedPngVideos(
        Tables.documents(s, d).filter(col("doc_id").isNotNull), "doc_id")
      Multimodal.videoFrameDHashSigs(s, media)
        .select(col("doc_id"), col("frame_idx"),
          expr("shiftrightunsigned(sim, 32)").as("sig_hi"),
          (col("sim").bitwiseAND(lit(0xFFFFFFFFL))).as("sig_lo"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // D49: perceptual AUDIO near-dedup — 64-bit energy-gradient
    // fingerprint over real WAV decode, paired through the hamming
    // machinery. Planted corpus: every audio doc plus a remuxed twin
    // (same PCM under a different declared sample rate). Rows-only
    // like d52/d63; d64b below hash-checks the fingerprint itself.
    "d64_audio_neardup" -> ((s, d) => {
      val media = Multimodal.withPlantedNearDupAudio(
        Tables.documents(s, d).filter(col("doc_id").isNotNull), "doc_id")
      Multimodal.audioNearDupPairs(s, media, maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // D49b: d64's ORACLE TWIN (the d52b discipline) — WAV PCM is
    // lossless and the planted corpus's sample bytes are doc_id
    // arithmetic ((id*31 + i*7) & 0xFF), so DuckDB re-derives every
    // fingerprint bit: signed 16-bit LE reassembly, mean |sample|
    // over the 65 floor-partition frame windows, gradient signs.
    // Spark goes through the REAL path: WAV encode, javax.sound
    // decode, sample scan. Twins fingerprint identically to their
    // src by construction — the remux invariance, oracle-checked.
    "d64b_audio_fp_bits" -> ((s, d) => {
      val media = Multimodal.withPlantedNearDupAudio(
        Tables.documents(s, d).filter(col("doc_id").isNotNull), "doc_id")
      Multimodal.audioFingerprintSigs(s, media)
        .select(col("doc_id"),
          expr("shiftrightunsigned(sim, 32)").as("sig_hi"),
          (col("sim").bitwiseAND(lit(0xFFFFFFFFL))).as("sig_lo"))
        .orderBy(col("doc_id"))
    }),

    // D49b: perceptual AUDIO dedup KEEP-ONE — the d68 composition
    // (sigs → hamming pairs → components → min-id survivors) applied
    // to audio, where the WHOLE pipeline is oracle-checked (the
    // energy-gradient fingerprint is losslessly SQL-derivable,
    // unlike image JPEG): DuckDB re-derives every fingerprint from
    // the planted byte arithmetic, brute-forces the pairs with
    // 64-bit popcounts, closes them with the d27 recursive CTE and
    // applies the keeper rule — candidate recall, closure and keeper
    // choice all hash-matched through REAL WAV encode→decode.
    "d81_audio_dedup" -> ((s, d) => {
      val slice = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull &&
          substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
      val media = Multimodal.withPlantedNearDupAudio(slice, "doc_id")
      val sigs = Multimodal.audioFingerprintSigs(s, media)
        .localCheckpoint(true)
      val pairs = Dedup.simhashPairsFromSigs(sigs, maxDist = 2)
        .select(col("id_a"), col("id_b"))
      Dedup.dropNearDuplicates(sigs, "doc_id", pairs)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // D48 composed: perceptual VIDEO dedup KEEP-ONE — closes the
    // image(d68)/audio(d81)/video symmetry. The d63b lossless
    // PNG-in-AVI corpus plus a REMUXED twin per video (identical PNG
    // frame bytes, fps+3 timing) makes the ENTIRE composition
    // SQL-derivable: DuckDB re-derives every per-frame dHash bit
    // from the pixel formulas (twin rows carry their src's
    // arithmetic — the d81 discipline), brute-forces aligned-frame
    // pairs with 64-bit popcounts, applies the all-frames-must-match
    // video pairing contract, closes pairs with the d27 recursive
    // CTE and keeps min-id survivors — while Spark runs the REAL
    // path: PNG encode → RIFF mux → demux → ImageIO decode → dHash →
    // composite-key hamming pairing → components → keep-one. One
    // decode pass feeds pairing AND the keeper universe
    // (videoNearDupPairsFromSigs over pinned sigs). md5-sliced to
    // 1/16 so the oracle's all-pairs stays trivial.
    "d82_video_dedup" -> ((s, d) => {
      val slice = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull &&
          substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
      val media = Multimodal.withPlantedPngNearDupVideos(slice, "doc_id")
      val sigs = Multimodal.videoFrameDHashSigs(s, media)
        .localCheckpoint(true) // pairing + counts + keeper universe
      val pairs = Multimodal.videoNearDupPairsFromSigs(sigs, maxDist = 2)
        .select(col("id_a"), col("id_b"))
      Dedup.dropNearDuplicates(
        sigs.select(col("doc_id")).distinct(), "doc_id", pairs)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // D59: the EPOCH-ASSEMBLY capstone — the mixing half of the
    // pipeline chained end to end under one per-row hash, the d62/
    // d77 discipline applied to what a training run executes LAST:
    //   1. mixtureEpochs (d76): integer allowances from the mixture
    //      table, whole epochs + remainder prefix per stratum;
    //   2. upsample (d75): the physical copy explosion — one
    //      training INSTANCE per (doc, copy), instance key
    //      doc_id·128 + copy_idx (n_copies <= upsample's
    //      maxRepeats = 100 < 128, so the key cannot collide);
    //   3. shuffleShard (d45): every instance lands a shard and a
    //      deterministic in-shard position — the cross-source
    //      interleave that keeps a training shard from reading one
    //      source for a gigabyte;
    //   4. sequencePack (d32): context bins over the epoch's token
    //      stream in (shard, pos) order — shard streams concatenate
    //      in shard order, bins may straddle both documents and
    //      shard boundaries (ONE epoch-wide address space, the
    //      global re-pack semantics, deliberately unlike the
    //      batch-scoped C12 shards).
    // Every stage is pure integer/md5 arithmetic, so DuckDB
    // re-derives the whole chain: allowances, copies, shard ranks,
    // the (shard, pos)-ordered prefix sum and the bin addresses —
    // one hash over (doc, copy, shard, pos, offsets) pins all four
    // operators' composition, not just each alone.
    "d83_epoch_assembly" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull &&
        col("source").isNotNull && col("text").isNotNull)
      val tk = size(Dedup.tokens(col("text"))).cast("long")
      val total = docs.agg(sum(tk)).head().getLong(0)
      // pinned: feeds the copy explosion AND the token join-back
      val mix = Sampling.mixtureEpochs(docs, "doc_id", "source",
        tokens = tk,
        rawWeight = substring(col("source"), 4, 10).cast("int") % 3 + 1,
        budget = 2L * total, seed = "mix")
        .localCheckpoint(true)
      val inst = Sampling.upsample(mix, "doc_id", repeats = col("n_copies"))
        .select(col("doc_id"), col("copy_idx"),
          (col("doc_id") * 128 + col("copy_idx")).as("inst"))
      val sharded = Sampling.shuffleShard(inst.select(col("inst")),
        "inst", numShards = 4, seed = "asm")
      val staged = sharded
        .join(inst.hint("SHUFFLE_HASH"), Seq("inst"))
        .join(mix.select(col("doc_id"), col("n_tokens"))
          .hint("SHUFFLE_HASH"), Seq("doc_id"))
      val packed = Packing.sequencePack(staged, "inst",
        tokens = col("n_tokens"),
        orderCol = concat(lpad(col("shard").cast("string"), 4, "0"),
          lit("#"), lpad(col("pos").cast("string"), 12, "0")),
        capacity = 2048L)
      packed
        .join(staged.select(col("inst"), col("doc_id"), col("copy_idx"),
          col("shard"), col("pos")).hint("SHUFFLE_HASH"), Seq("inst"))
        .select(col("doc_id"), col("copy_idx"), col("shard"), col("pos"),
          col("n_tokens"), col("start_off"), col("bin_start"),
          col("bin_end"))
        .orderBy(col("doc_id"), col("copy_idx"))
    }),

    // D60 (batch surface): the URL FRONTIER index fully
    // oracle-checked end to end — the md5-lower-half docs' planted
    // urls (d71's planting: every canonicalization rule fires)
    // BUILD the persistent frontier, the upper-half docs screen
    // against it, and a batch row survives iff its CANONICAL url
    // matches no corpus row's. DuckDB re-derives the planting, all
    // five canonicalization rules and the set subtraction — a
    // hash-matched recall check on the frontier key (md5(canon))
    // through the real build→bucketed-write→screen path. Slices are
    // md5-keyed (not parity: plantedUrl's scheme depends on id
    // parity and survives canonicalization, so a parity split would
    // share zero canonical classes and trivially pass everything)
    // and the corpus is deliberately SMALL (1/16) against a half-
    // corpus batch: the planting collapses to ~60 canonical classes,
    // and a half-sized corpus covers them all, which screens the
    // whole batch — a 0-row result proves nothing. The 1/16 corpus
    // leaves classes uncovered, so the oracle pins BOTH verdicts:
    // screened rows (covered classes) and survivors (uncovered).
    "d84_url_screen" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
        .select(col("doc_id"), plantedUrl.as("url"))
      val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      Dedup.buildUrlIndex(docs.filter(h1 === "0"), "url", "d84_url_idx")
      Dedup.screenAgainstUrlIndex(docs.filter(h1 >= "8"), "url", "d84_url_idx")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // D61 (oracle): per-frame NEAR video screening fully
    // oracle-checked through the real codec path — the corpus's
    // lossless-PNG AVIs build the video-frame side of a signature
    // index, and the batch holds FOUR planted variants per corpus
    // video: a REMUXED twin (+10M: identical frame bytes, retimed —
    // screens at hamming 0), a RE-ENCODED twin (+20M: one-dHash-cell
    // +12 clamp per frame, different BYTES and different frame
    // hashes — the case the exact fold misses and this screen
    // exists for), a TRUNCATED copy (+30M: last frame dropped —
    // survives by the frame-count contract) and an UNRELATED video
    // (+40M: different content formula — survives). Every pixel of
    // every variant is doc_id arithmetic (the clamp region is
    // integer floor division), so DuckDB re-derives all frame sigs
    // — including the re-encode's clamped luma — and brute-forces
    // the all-aligned-frames verdict with 64-bit popcounts: recall,
    // the frame-count contract and the survivor set are
    // hash-matched through PNG encode → RIFF mux → demux → ImageIO
    // decode → chunk join → tally.
    "d85_video_index_screen" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull &&
          substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
        .select(col("doc_id").cast("long")).as[Long]
        .filter((id: Long) => math.floorMod(id, 3) == 2)
      val corpus = base.mapPartitions(_.map(id =>
        Multimodal.MediaRow(id, "video", Multimodal.pngVideoPayload(id))))
      val batch = base.mapPartitions(_.flatMap { id =>
        val w = (16 + math.floorMod(id, 8) * 2).toInt
        val h = (16 + math.floorMod(id, 6) * 2).toInt
        val fps = (5 + math.floorMod(id, 5)).toInt
        Iterator(
          Multimodal.MediaRow(id + 10000000L, "video",
            Multimodal.remuxedPngVideoPayload(id)),
          Multimodal.MediaRow(id + 20000000L, "video",
            Multimodal.reencodedPngVideoPayload(id)),
          Multimodal.MediaRow(id + 30000000L, "video",
            Multimodal.muxAvi(
              Multimodal.videoFrames(id, "png").dropRight(1),
              w, h, fps, codec = "png ")),
          Multimodal.MediaRow(id + 40000000L, "video",
            Multimodal.pngVideoPayload(id + 40000000L)))
      })
      Dedup.buildSimIndex(
        Multimodal.mediaSigs(s, corpus).select(col("doc_id"), col("sim")),
        "d85_idx", maxDist = 2)
      // pin the corpus frame sigs before the append: the fold
      // consumes them twice (one write per side table), and without
      // a pin the full PNG demux+decode+dHash pass — the entry's
      // most expensive stage — runs twice (the d82 discipline)
      Dedup.appendVideoFramesToSimIndex(
        Multimodal.videoFrameDHashSigs(s, corpus).localCheckpoint(true),
        "d85_idx")
      Dedup.screenVideosAgainstSimIndex(
        Multimodal.videoFrameDHashSigs(s, batch), "d85_idx")
        .select(col("doc_id"), col("frame_idx"),
          expr("shiftrightunsigned(sim, 32)").as("sig_hi"),
          (col("sim").bitwiseAND(lit(0xFFFFFFFFL))).as("sig_lo"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // D63: the duplication REPORT CARD over the d27 pair predicate —
    // the cluster-size histogram a curation run publishes beside its
    // keep-one: per size, (n_clusters, n_docs, n_dropped), plus the
    // singleton row; Σ n_docs == |corpus|, Σ n_dropped == the dup
    // rate's numerator, all integer counts (the d78 rounding
    // lesson). DuckDB re-derives the pairs, closes them with the
    // d27 recursive CTE and aggregates the same histogram.
    "d86_dedup_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupReport(docs, "doc_id",
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          blockCols = Seq(col("lang"), expr("n_chars DIV 100").cast("int")),
          shingleK = 3, threshold = 0.2))
        .orderBy(col("cluster_size"))
    }),

    // D62 (hash mode): deterministic train/val/test split as a pure
    // scan projection — membership is a function of md5(seed|id)
    // alone, so a document's split survives appends, deletes and
    // re-partitioning (the rolling-ingest contract); proportions
    // hold in expectation. Thresholds quantized to 1/65536ths, the
    // temperatureSample discipline; fully oracle-checked.
    "d87_hash_split" -> ((s, d) =>
      Sampling.hashSplit(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", d8xSplits, seed = "sp")
        .orderBy(col("doc_id"))),

    // D62 (exact mode): per-stratum EXACT counts — rows rank by
    // (md5(seed|id), id) within each stratum and cumulative
    // boundaries floor(cum·n + 0.5) cut the splits, so every
    // stratum contributes its exact share to each split (the
    // eval-set builder's contract; membership depends on the whole
    // stratum, deliberately unlike d87). Ranks ride the
    // shuffleShard two-phase prefix discipline keyed by stratum —
    // no per-stratum window. Fully oracle-checked.
    "d88_stratified_split" -> ((s, d) =>
      Sampling.stratifiedSplit(
        Tables.documents(s, d), "doc_id", "lang", d8xSplits, seed = "sp")
        .orderBy(col("doc_id"))),

    // D65: the per-bin document-boundary MANIFEST over d32's packing
    // — the artifact the trainer's loader consumes (attention resets
    // at document boundaries inside a context bin): one row per
    // (bin, doc) overlap with the bin-local segment and the
    // document-local offset, pure integer arithmetic over the packed
    // table (one Generate, zero shuffles). Fully oracle-checked —
    // DuckDB re-derives the d32 cumsum, the bin spans and every
    // segment quantity.
    "d90_bin_manifest" -> ((s, d) => {
      val packed = Packing.sequencePack(Tables.documents(s, d), "doc_id",
        tokens = TextAnalysis.wsTokenCount(col("text")),
        orderCol = md5(col("doc_id").cast("string")),
        capacity = 2048L)
      Packing.binManifest(packed, "doc_id", 2048L)
        .orderBy(col("bin"), col("doc_id"))
    }),

    // D69: corpus-wide LINE-level dedup — the C4/RefinedWeb line
    // discipline: a normalized line repeated in >= 2 distinct docs
    // keeps exactly its minimal (doc_id, pos) occurrence; every
    // other occurrence corpus-wide is cut and the docs reassemble.
    // The boilerplate killer D1 (whole-doc) and D25 (token-span)
    // both miss at their granularity. Testdata text is single-line
    // token soup, so the entry PLANTS line structure
    // deterministically (the d71 planted-URL precedent): each doc's
    // whitespace tokens wrap into fixed-width 8-token lines joined
    // by '\n' — cross-doc line repetition is then inherent to the
    // shared-vocabulary corpus. Fully oracle-checked: DuckDB replays
    // the wrap, every md5 line hash, the keeper choice and the
    // reassembled text.
    "d94_line_dedup" -> ((s, d) => {
      val w = 8
      val ws = split(trim(col("text")), "\\s+")
      val nl = ceil(size(ws) / lit(w.toDouble)).cast("int")
      val planted = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          array_join(transform(sequence(lit(1), nl), i =>
            array_join(slice(ws, (i - 1) * lit(w) + 1, lit(w)), " ")),
            "\n").as("text"))
      Dedup.lineDedup(planted, "doc_id", "text", minDocs = 2)
        .orderBy(col("doc_id"))
    }),

    // D70: corpus snapshot DIFF — the between-crawls delta that
    // scopes every incremental re-curation: added docs feed the D29
    // incremental dedup, removed docs feed the index retire verbs,
    // changed docs re-score. The entry derives the OLD snapshot
    // deterministically from the corpus (md5(doc_id) slices: 'f'
    // held out of old → added; 'e' content-perturbed in old →
    // changed; 'd' ghost-id twins present only in old → removed;
    // the rest unchanged) so all four verdicts are exercised — the
    // d84 both-verdicts discipline. Fully oracle-checked.
    "d95_corpus_diff" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      val old = base.filter(h1 =!= "f")
        .select(col("doc_id"),
          when(h1 === "e", concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.filter(h1 === "d")
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      Snapshot.corpusDiff(old, base, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // D71: hybrid lexical+dense retrieval — BM25 per-query ranks
    // (the new batch front door) fused with brute-force cosine ranks
    // by reciprocal-rank fusion (Cormack et al. 2009), the standard
    // production hybrid: no score calibration between legs, ranks
    // only. Corpus = documents ⋈ embeddings on the planted
    // doc_id = vec_id alignment; the 5 probe docs query BY EXAMPLE
    // (their own top-3 TF-IDF keywords as the lexical query, their
    // own embedding as the dense query, self excluded on both
    // legs). Fully oracle-checked: DuckDB re-derives the keywords,
    // both legs' ranked lists and the fused RRF ranking.
    "d96_hybrid_topk" -> ((s, d) => {
      // the joined corpus feeds keywords, the index build and both
      // sides of the dense leg — materialize it once per run
      // (guide §3.3), recomputed from parquet every invocation
      val corp = Tables.documents(s, d).join(
        Tables.embeddings(s, d).hint("SHUFFLE_HASH"),
        col("doc_id") === col("vec_id"))
        .localCheckpoint(true)
      val kw = Retrieval.tfidfKeywords(corp, "doc_id", "text", topK = 3)
        .filter(col("doc_id") < 5)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("term"))).as("terms"))
        .select(col("doc_id").as("query_id"), col("terms"))
      // the lexical leg rides the persistent BM25 index (d112's
      // family) instead of rescanning the corpus per batch — the
      // oracle is unchanged because indexed serving is bit-equal to
      // the fresh scan (the Bm25IndexSpec/d112 proof)
      Retrieval.buildBm25Index(corp, "doc_id", "text", name = "d96_idx")
      val lex = Retrieval.bm25RanksAgainstIndex(s, "d96_idx",
        kw, "query_id", "terms", topK = 20, k1 = 1.5, b = 0.75,
        excludeSelf = true)
      val dense = Similarity.bruteForceTopK(
        corp.filter(col("doc_id") < 5), corp, "doc_id", "embedding",
        k = 20)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("doc_id"))
      Retrieval.rrfFuse(
        lex.select(col("query_id"), col("rank"), col("doc_id")),
        dense, k0 = 60, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // D92: THREE-system hybrid retrieval — rrfFuseAll over the
    // production triple: the indexed lexical leg (D85), the dense
    // cosine leg, and a STATIC quality prior (the d9 blend as a
    // query-independent ranked list — the BM25+PageRank-style fusion
    // shape, self dropped per query with GLOBAL rank numbers kept).
    // The N-ary fold keeps the rrf sum a fixed left-associated
    // expression, so both engines rank identical doubles. Fully
    // oracle-checked: DuckDB re-derives keywords, both dynamic legs,
    // the quality prior and the chained full-outer fusion.
    "d121_hybrid3_topk" -> ((s, d) => {
      // one materialized corpus join per run — the d96 rationale
      val corp = Tables.documents(s, d).join(
        Tables.embeddings(s, d).hint("SHUFFLE_HASH"),
        col("doc_id") === col("vec_id"))
        .localCheckpoint(true)
      Retrieval.buildBm25Index(corp, "doc_id", "text", name = "d121_idx")
      val kw = Retrieval.tfidfKeywords(corp, "doc_id", "text", topK = 3)
        .filter(col("doc_id") < 5)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("term"))).as("terms"))
        .select(col("doc_id").as("query_id"), col("terms"))
      val lex = Retrieval.bm25RanksAgainstIndex(s, "d121_idx",
        kw, "query_id", "terms", topK = 20, k1 = 1.5, b = 0.75,
        excludeSelf = true)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val dense = Similarity.bruteForceTopK(
        corp.filter(col("doc_id") < 5), corp, "doc_id", "embedding",
        k = 20)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("doc_id"))
      // static prior: global top-21 by (rounded quality desc, id) —
      // 21 so a self-drop still leaves 20 — broadcast to every
      // query, GLOBAL rank numbers kept after the drop (a static
      // list's ranks mean the same thing to every query)
      val qtop = corp
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .agg(graft.functions.VectorFunctions.topKByCos(
          col("doc_id"), col("q"), 21).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("col.neighbor_id").as("doc_id"))
      val prior = kw.select(col("query_id"))
        .crossJoin(broadcast(qtop))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("rank"), col("doc_id"))
      Retrieval.rrfFuseAll(Seq(lex, dense, prior), k0 = 60, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // D73: INCREMENTAL RE-CURATION capstone — the refresh pipeline a
    // re-crawled corpus actually runs, composing D70 + D35: the
    // snapshot diff SCOPES the work (only added/changed docs pay the
    // screen — at 100 TB the whole point is that unchanged docs pay
    // one narrow fingerprint join and nothing else), the persistent
    // dedup index built from the OLD snapshot screens the work set
    // (a changed doc whose edit is trivial near-matches its own old
    // version and is skipped — the desired behavior for re-crawls),
    // and removed docs become the index retire list. Emits one
    // (doc_id, action) row per work item: 'ingest' (novel, goes in),
    // 'skip_dup' (screened by the old corpus), 'retire' (gone;
    // feed to retireFromDedupIndex). Fully oracle-checked: DuckDB
    // re-derives the snapshot, the work set, the md5-minhash band
    // candidates, the exact-jaccard verdicts and the exact-hash
    // screen — sides keyed by (doc_id, side) because a changed doc
    // legitimately exists on BOTH sides with different text.
    "d100_incremental_curation" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      val old = base.filter(h1 =!= "f")
        .select(col("doc_id"),
          when(h1 === "e", concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.filter(h1 === "d")
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            col("text")))
      val diff = Snapshot.corpusDiff(old, base, "doc_id", "text")
        .localCheckpoint(true) // work set + retire set both read it
      val newWork = base.join(
        diff.filter(col("status").isin("added", "changed"))
          .select(col("doc_id")).hint("SHUFFLE_HASH"),
        Seq("doc_id"), "left_semi")
      Dedup.buildDedupIndex(old, "doc_id", "text", name = "d100_idx",
        md5Sig = true)
      val ingest = Dedup.dedupAgainstIndex(newWork, "doc_id", "text",
        "d100_idx")
        .select(col("doc_id"))
        .localCheckpoint(true) // union arm + skip anti-join both read it
      ingest.select(col("doc_id"), lit("ingest").as("action"))
        .unionByName(newWork.select(col("doc_id"))
          .join(ingest, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit("skip_dup").as("action")))
        .unionByName(diff.filter(col("status") === "removed")
          .select(col("doc_id"), lit("retire").as("action")))
        .orderBy(col("doc_id"), col("action"))
    }),

    // D72: index lifecycle STATS for the dedup / signature / URL
    // families — d79's annIndexStats counterpart, so every index
    // family pairs its actuators with the report that triggers them
    // (compact/re-band/rebalance decisions read occupancy, not
    // vibes). Each occupancy aggregate groups by the table's OWN
    // bucket key: the bucketed scan satisfies the clustering, zero
    // exchanges below the one-row gather. All three are fully
    // oracle-checked — DuckDB re-derives the md5-minhash band
    // vectors (d97), the md5-simhash pigeonhole chunks (d98) and
    // the canonical-URL key set (d99) from raw text and
    // re-aggregates the same histograms, so the no-xxhash-fold-
    // collision premise behind the distinct counts is VERIFIED at
    // every gate SF, not assumed.
    "d97_dedup_index_stats" -> ((s, d) => {
      Dedup.buildDedupIndex(Tables.documents(s, d), "doc_id", "text",
        name = "d97_idx", shingleK = 3, numPerms = 32, bands = 16,
        md5Sig = true)
      Dedup.dedupIndexStats(s, "d97_idx")
    }),

    "d98_sim_index_stats" -> ((s, d) => {
      Dedup.buildSimIndex(
        Dedup.md5Simhash60(Tables.documents(s, d), "doc_id", "text"),
        "d98_idx", maxDist = 2)
      Dedup.simIndexStats(s, "d98_idx")
    }),

    "d99_url_index_stats" -> ((s, d) => {
      Dedup.buildUrlIndex(
        Tables.documents(s, d).filter(col("doc_id").isNotNull)
          .select(col("doc_id"), plantedUrl.as("url")),
        "url", name = "d99_idx")
      Dedup.urlIndexStats(s, "d99_idx")
    }),

    // D84: language-ID confusion matrix — the eval report behind
    // trusting the d8 heuristic as a gate: per (label, predicted)
    // cell, doc count and share of the label's mass (recall on the
    // diagonal, each leak direction off it). One langId scan + one
    // <=|langs|^2-row aggregate. Fully oracle-checked via the d8
    // score/argmax fragments.
    "d111_langid_confusion" -> ((s, d) =>
      TextAnalysis.langIdConfusion(Tables.documents(s, d),
        "doc_id", "text", "lang")
        .orderBy(col("label"), col("predicted"))),

    // D83: sequence-length distribution — the evidence behind the
    // pack capacity: docs bucketed by power-of-two token count
    // (pure integer — length(bin(n)), no float log to disagree at
    // exact powers of two), one row per occupied bucket with exact
    // [lo, hi], doc count and token mass. Mass above the capacity
    // bucket is what sequencePack splits across bins. Fully
    // oracle-checked.
    "d110_length_histogram" -> ((s, d) =>
      Packing.lengthHistogram(
        Tables.documents(s, d).filter(col("text").isNotNull),
        "doc_id",
        tokens = TextAnalysis.wsTokenCount(col("text")))
        .orderBy(col("bucket"))),

    // D82: deterministic EXACT-k sample — the budgeted-count sibling
    // of the d22 rate sampler (a labeling run pins a COUNT, not a
    // fraction): the k smallest md5(seed|id) rows, nested across
    // budgets, TakeOrderedAndProject (per-partition heaps + one
    // k-row merge, never a global sort). Fully oracle-checked.
    "d109_exact_sample" -> ((s, d) =>
      Sampling.exactSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", k = 137, seed = "audit")
        .orderBy(col("doc_id"))),

    // D81: per-DOMAIN corpus report — the evidence a blocklist is
    // curated FROM (web curation decides at host granularity): per
    // URL host, doc count, token/byte mass and mean quality (the d9
    // blend, averaged in exact integer units). A many-docs low-
    // quality host is a d102 blocklist candidate. Planted URLs give
    // five hosts; DuckDB re-derives host, stats and the integer-unit
    // average. Fully oracle-checked.
    "d108_domain_report" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.domainReport(
        Tables.documents(s, d).filter(col("doc_id").isNotNull)
          .select(col("doc_id"), col("text"), plantedUrl.as("url")),
        "doc_id", "url", "text")
        .orderBy(col("host"))
    }),

    // D80: tokenizer FERTILITY per language — the multilingual
    // tokenizer-fit report (fertility = trained-BPE tokens per
    // whitespace word, the XLM-R comparison number; bytes per token,
    // the BLOOM compression view): the d60-trained tokenizer
    // re-applies to the full corpus and per-language INTEGER sums
    // divide once — the language whose text pays more sequence
    // positions per sentence shows up as the high-fertility row.
    // Fully oracle-checked via the shared trained-merge chain.
    "d107_fertility" -> ((s, d) => {
      val merges = trainedMerges(s, d)
      val ts0 = regexp_replace(lower(hex(col("text").cast("binary"))),
        "([0-9a-f]{2})", "|$1|")
      val ts = merges.foldLeft(ts0) { case (acc, (a, b)) =>
        replace(acc, lit(s"|$a||$b|"), lit(s"|$a$b|"))
      }
      TextAnalysis.tokenizerFertility(Tables.documents(s, d),
        "doc_id", "text", "lang",
        tokenCount =
          (length(ts) - length(replace(ts, lit("|"), lit("")))) / 2)
        .orderBy(col("lang"))
    }),

    // D79: candidate-pair Jaccard HISTOGRAM — the threshold-
    // sensitivity report behind the near-dup τ: every LSH band
    // candidate's exact shingle Jaccard bucketed into 21 width-0.05
    // bins by pure INTEGER arithmetic ((20·|∩|) div |∪| — no float
    // boundary for the engines to disagree on; bin 20 is exactly
    // j = 1.0, the exact-duplicate mass). Mass just under a τ warns
    // the cut sits in a dense region; a bimodal shape confirms a
    // stable τ anywhere in the gap. md5-derived signatures so the
    // WHOLE report is oracle-checked — the engine intersects
    // xxhash64-hashed shingles, the oracle recounts the strings, so
    // the no-collision premise is verified per gate SF (the d97
    // discipline). Fully oracle-checked.
    "d106_jaccard_histogram" -> ((s, d) =>
      Dedup.candidateJaccardHistogram(
        Tables.documents(s, d)
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id", "text")
        .orderBy(col("bin"))),

    // D78: classifier CALIBRATION sweep — the reliability diagram +
    // threshold sweep behind choosing the pipeline's quality-gate
    // cutoff (toPipelineIngest's nbThreshold knob): the d73 NB
    // classifier trains on the d60 md5-quarter, scores everything,
    // and the report is computed on the HELD-OUT three quarters
    // (calibration measured on training data flatters the model —
    // the holdout split is the methodology, not a detail). Per
    // probability bin: count, positives, observed rate vs mean
    // predicted p (the calibration gap), plus cumulative
    // precision/recall at each bin threshold. Fully oracle-checked.
    "d105_calibration" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.nbLogOdds(docs, "doc_id", "text",
        label = col("lang") === "en", trainFilter = d60Slice)
      TextAnalysis.calibrationReport(
        scored.filter(!d60Slice)
          .join(docs.select(col("doc_id"), (col("lang") === "en").as("y"))
            .hint("SHUFFLE_HASH"), Seq("doc_id")),
        "log_odds", "y")
        .orderBy(col("bin"))
    }),

    // D77: repeated-gram SUPPORT histogram — the memorization-risk
    // report (Lee et al. 2107.06499; Carlini et al. 2202.07646:
    // extraction probability grows with duplication count): how many
    // distinct 8-grams appear in exactly N documents, N >= 2. The
    // tail is what span dedup (d46) cuts; beside the d86 cluster
    // report it quantifies the residual memorization surface in
    // pure integer counts. The oracle recounts support on the gram
    // STRINGS, so the md5Hash60 no-collision premise is verified at
    // every gate SF (the d97 discipline). Fully oracle-checked.
    "d104_gram_histogram" -> ((s, d) =>
      Dedup.gramSupportHistogram(Tables.documents(s, d), "doc_id",
        "text", k = 8, minDocs = 2)
        .orderBy(col("n_docs"))),

    // D76: vocabulary DRIFT between snapshots — the distribution
    // monitor behind d95's row-level diff (a spam burst or scrape-
    // source change shifts the token distribution even when row
    // churn looks modest; it is also the text-side trigger for the
    // d93 tokenizer/index rebuild). Same derived old snapshot as
    // d95 so the drift is real: removed 'd'-ghost mass, added 'f'
    // mass, ' EDITED' tokens injected on the 'e' slice. Top-50 by
    // the CROSS-MULTIPLIED integer |c_new·N_old − c_old·N_new| —
    // exact, no float ordering at the cut — with smoothed log-ratio
    // shift. Fully oracle-checked.
    "d103_vocab_drift" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      val old = base.filter(h1 =!= "f")
        .select(col("doc_id"),
          when(h1 === "e", concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.filter(h1 === "d")
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            col("text")))
      Snapshot.vocabDrift(old, base, "doc_id", "text", topK = 50)
    }),

    // D75: URL BLOCKLIST gate — the frontier domain filter
    // (RefinedWeb/CCNet convention, classically against the public
    // UT1 category lists): any dot-boundary suffix of the URL host
    // matching a blocklist domain blocks the doc, so `example1.com`
    // blocks every subdomain while `www.example3.com` blocks only
    // that exact host — BOTH match modes exercised on the planted
    // URLs (hosts www.example{0..4}.com → id%5∈{1,3} blocked,
    // suffix-match and exact-match respectively, ~40% block rate at
    // every SF). Suffixes explode map-side, the blocklist
    // broadcasts, only matched rows shuffle before the verdict
    // join-back. Fully oracle-checked.
    "d102_url_blocklist" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.urlBlocklistGate(
        Tables.documents(s, d).filter(col("doc_id").isNotNull)
          .select(col("doc_id"), plantedUrl.as("url")),
        "doc_id", "url",
        d102Blocklist.toDF("domain"), "domain")
        .orderBy(col("doc_id"))
    }),

    // D74: CCNet-style perplexity bucketing (Wenzek et al., LREC
    // 2020) — per LANGUAGE, documents rank by the d33 unigram LM
    // score and cut into head/middle/tail thirds: the quality prior
    // the public data-mixing tables consume ("head" reads like the
    // LM's training set, "tail" like garbage), per-language so a
    // high-resource language's mid-range cannot crowd out a
    // low-resource language's best documents. Ranks ride the d88
    // two-phase machinery (never a per-language window — English IS
    // the zipf-head stratum at 100 TB); the rank key is the NEGATED
    // rounded score (IEEE negation is exact, ≡ ORDER BY score DESC)
    // with the doc_id tiebreak. Fully oracle-checked: DuckDB
    // re-derives the unigram scores, the per-language row_number
    // over the same order and the floor(cum·n + 0.5) boundaries
    // (cum literals interpolated from the ONE Scala computation).
    "d101_ppl_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val scored = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang"))
          .hint("SHUFFLE_HASH"), Seq("doc_id"))
        .localCheckpoint(true) // rank input + score join-back share it
      Sampling.rankBuckets(scored, "doc_id", "lang",
        negate(col("avg_logp")), d101Buckets)
        .join(scored.select(col("doc_id"), col("avg_logp"))
          .hint("SHUFFLE_HASH"), Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // D68: ANN index full REBUILD — the verb the rebalance is not:
    // cells AND the PQ book retrain from the index's current
    // contents and every code re-encodes. The proof obligation is
    // exactly "rebuild erases build history": build on the even
    // half, append the odd half (codes against the even-trained
    // book), REBUILD, query — and the oracle is the d50/d58 direct
    // full-corpus twin SQL, VERBATIM: one string now proving three
    // entries (d50 direct, d58 build-once, d93 rebuild-after-drift).
    "d93_ann_rebuild" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8.filter(col("vec_id") % 2 === 0),
        "vec_id", "qv", name = "d93_idx",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.appendToAnnIndex(q8.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "qv", "d93_idx")
      Similarity.rebuildAnnIndex(s, "d93_idx")
      Similarity.annTopKAgainstIndex(q8.filter(col("vec_id") < 50),
        "vec_id", "qv", name = "d93_idx", k = 10, nprobe = 4,
        shortlistFactor = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D89: ANN RECALL sweep — the ops card behind choosing nprobe
    // (and the drift alarm that schedules d91/d93: recall decay at
    // fixed nprobe IS distribution drift): serve the same query
    // batch at nprobe 1/2/4 against the persistent index, score each
    // arm against the brute-force exact top-10 over the index's own
    // contents, one (nprobe, k, n_queries, hits, recall) row per
    // arm. Fully oracle-checked — DuckDB re-derives the cells, the
    // book, all three served rankings AND the exhaustive ground
    // truth, then counts the same hits; the serve chain is the
    // d50/d58 twin's own CTEs (shared generators, so the recall
    // oracle and the serving oracle cannot drift).
    "d117_ann_recall" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8, "vec_id", "qv", name = "d117_idx",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.annRecallSweep(s, "d117_idx",
        q8.filter(col("vec_id") < 50), "vec_id", "qv",
        k = 10, nprobes = Seq(1, 2, 4), shortlistFactor = 5)
        .orderBy(col("nprobe"))
    }),

    // D102: RESIDUAL-encoded IVFPQ (md5 twin) — production IVFPQ
    // quantizes residuals against the cell centroid (FAISS's
    // default): residuals concentrate near zero, so the codebook
    // spends its k centroids on the distribution that actually
    // reaches it instead of re-describing the cell structure the
    // coarse quantizer already captured. Landed as an OPT-IN twin
    // beside the raw-code family (the PqBook scaladoc's promised
    // refinement), with the one structural serving difference made
    // explicit: the query LUT is per (query, PROBED CELL). With
    // int8 inputs and md5-deterministic sampling the entire pipeline
    // stays exact integer arithmetic — fully oracle-checked.
    "d136_residual_ivfpq" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.md5IvfPqResidualTopK(q8.filter(col("vec_id") < 50), q8,
        "vec_id", "qv", k = 10, nlist = 16, nprobe = 4, m = 4,
        ksub = 8, shortlistFactor = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D95: ANN REFINE-DEPTH sweep — the other recall lever (d117
    // sweeps nprobe at fixed shortlist; this sweeps the ADC
    // shortlist at fixed nprobe): a true neighbor the quantized
    // distance ranks past k·factor never reaches the exact re-rank
    // every serve already runs, and that ADC-truncation loss is
    // recoverable for bounded shortlist×dim work. One ground truth,
    // three arms (factor 1/5/20), one semi-join. Fully oracle-
    // checked: DuckDB re-derives cells, book, all three shortlist
    // cuts, the exact re-ranks AND the brute-force truth.
    "d123_refine_sweep" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8, "vec_id", "qv", name = "d123_idx",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.annRefineSweep(s, "d123_idx",
        q8.filter(col("vec_id") < 50), "vec_id", "qv",
        k = 10, nprobe = 4, shortlistFactors = Seq(1, 5, 20))
        .orderBy(col("shortlist_factor"))
    }),

    // D96: the CORPUS OPS CARD capstone — all five index families'
    // stats verbs composed into the one-row-per-family page an
    // operator reads: (family, n_items, n_buckets, pending_verb,
    // n_landed, drift_vs_landed). The drift column is the alarm that
    // schedules reconcile/rebuild (landed counts vs index counts —
    // what no per-family stats verb can see alone); pending_verb
    // surfaces live leases and interrupted maintenance markers.
    // Fully oracle-checked: DuckDB re-derives every family's item
    // count from the same corpus frames, so a hash match proves the
    // five indexes' CONTENTS mirror what landed, family by family.
    "d125_ops_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      val urls = docs.filter(col("doc_id").isNotNull)
        .select(col("doc_id"), concat(lit("http://ex"),
          (col("doc_id") % 37).cast("string"), lit(".com/")).as("url"))
      // the five family builds are INDEPENDENT (five index names,
      // five leases) — overlapped (graft.Par, guide §2.6) instead of
      // serial behind each other's commit/DDL driver gaps. The sim
      // slot cares about COUNTING and lifecycle state, not signature
      // quality — a pure doc_id-derived signature keeps the capstone
      // free of media decode; its VIDEO evidence side tables
      // (doc_id-derived frame sigs, every fifth doc a 3-frame video)
      // make the card's side_digest_match a REAL internal-consistency
      // check (vchunks' composite keys vs vframes' vid set), not a
      // vacuous null — the append stays ordered AFTER its own
      // family's build inside that family's thunk.
      graft.Par.run(
        () => Dedup.buildDedupIndex(docs, "doc_id", "text",
          name = "d125_dx", md5Sig = true),
        () => Retrieval.buildBm25Index(docs, "doc_id", "text",
          name = "d125_bx"),
        () => Similarity.buildAnnIndex(emb, "vec_id", "qv",
          name = "d125_ax", nlist = 16, m = 4, ksub = 8, md5Sig = true),
        () => {
          Dedup.buildSimIndex(docs.filter(col("doc_id").isNotNull)
            .select(col("doc_id"), xxhash64(col("doc_id")).as("sim")),
            name = "d125_sx", maxDist = 2)
          Dedup.appendVideoFramesToSimIndex(
            docs.filter(col("doc_id").isNotNull && col("doc_id") % 5 === 0)
              .select(col("doc_id"),
                explode(sequence(lit(0), lit(2))).as("frame_idx"))
              .select(col("doc_id"), col("frame_idx"),
                xxhash64(col("doc_id"), col("frame_idx")).as("sim")),
            "d125_sx")
        },
        () => Dedup.buildUrlIndex(urls, "url", name = "d125_ux"))
      // the STORE row (r20): a healthy snapshot event store on the
      // same page — built ONCE per sf dir (deterministic: sorted
      // appends land one file per hour partition, compact folds the
      // two-file partitions, retire+vacuum clear every reclaimable
      // class), measured fresh each run by driver-side manifest
      // reads. doc_id % 48 → hour, so the live-file count the card
      // reports is derivable by the oracle.
      val storePath = "/tmp/graft_d125_store_" + ABlock.storeKey(s, d)
      ABlock.cachedStore(s, storePath) { st =>
        val ev = docs.filter(col("doc_id").isNotNull && col("doc_id") < 96)
          .select(col("doc_id").cast("long").as("id"),
            (lit(1704153600000L) + (col("doc_id") % 48) * 3600000L)
              .cast("long").as("time"))
        graft.sources.SnapshotEventStore.init(s, st)
        graft.sources.SnapshotEventStore.append(
          ev.filter(col("id") % 2 === 0), st, sortWithin = Seq("id"))
        graft.sources.SnapshotEventStore.append(
          ev.filter(col("id") % 2 =!= 0), st, sortWithin = Seq("id"))
        graft.sources.SnapshotEventStore.compact(s, st,
          maxFilesPerPartition = 1)
        graft.sources.SnapshotEventStore.retire(s, st, keepSnapshots = 0)
        graft.sources.SnapshotEventStore.vacuumOrphans(s, st)
        ()
      }
      OpsCard.indexOpsCard(s, Seq(
        OpsCard.Entry("ann", "d125_ax", emb, "vec_id"),
        OpsCard.Entry("bm25", "d125_bx",
          docs.filter(col("text").isNotNull), "doc_id"),
        OpsCard.Entry("dedup", "d125_dx",
          docs.filter(col("text").isNotNull), "doc_id"),
        OpsCard.Entry("sim", "d125_sx", docs, "doc_id"),
        OpsCard.Entry("url", "d125_ux",
          urls.select(col("url")).distinct(), "url")),
        stores = Seq(OpsCard.StoreEntry("d125_st", storePath,
          maxFilesPerPartition = 1)))
    }),

    // D98: RECONCILE verbs for every index family — d125's drift
    // column made actionable everywhere (BM25 already had the verb;
    // these close dedup/ANN/sim/url). Each entry is a twin proof:
    // build the index on a PARTIAL slice, reconcile against the full
    // landed set, then run the family's screen/serve — the oracle is
    // the family's FULL-BUILD SQL verbatim, so a hash match proves
    // reconcile found exactly the missing items and the healed index
    // is indistinguishable from one built whole.
    "d126_dedup_reconcile" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      Dedup.buildDedupIndex(
        docs.filter(!isBatch && col("doc_id") % 2 === 0),
        "doc_id", "text", name = "d126_idx", md5Sig = true)
      Dedup.reconcileDedupIndex(docs.filter(!isBatch), "doc_id", "text",
        "d126_idx")
      Dedup.dedupAgainstIndex(docs.filter(isBatch), "doc_id", "text",
        name = "d126_idx")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // D98 (ANN): the d93 rebuild shape with the append replaced by
    // reconcile — build on evens, reconcile the full set (finding
    // exactly the odds), REBUILD (reconcile ingests against the
    // stored book; equality with a fresh full build needs the
    // retrain, the honest d93 contract), serve. Oracle = the
    // d50/d58/d93 full-corpus twin SQL verbatim.
    "d127_ann_reconcile" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8.filter(col("vec_id") % 2 === 0),
        "vec_id", "qv", name = "d127_idx",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.reconcileAnnIndex(q8, "vec_id", "qv", "d127_idx")
      Similarity.rebuildAnnIndex(s, "d127_idx")
      Similarity.annTopKAgainstIndex(q8.filter(col("vec_id") < 50),
        "vec_id", "qv", name = "d127_idx", k = 10, nprobe = 4,
        shortlistFactor = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D98 (sim): d67's screen with the index built on HALF the
    // corpus sigs and reconciled up to all of them; oracle = d67's
    // screen SQL verbatim.
    "d128_sim_reconcile" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("doc_id") % 3 === 1)
        .select(col("doc_id").cast("long")).as[Long]
      val corpus = base.mapPartitions(_.map(id =>
        Multimodal.MediaRow(id, "audio", Multimodal.audioPayload(id))))
      val batch = base.mapPartitions(_.flatMap(id => Iterator(
        Multimodal.MediaRow(id + Multimodal.PlantedIdOffset, "audio",
          Multimodal.remuxedAudioPayload(id)),
        Multimodal.MediaRow(id + 2 * Multimodal.PlantedIdOffset, "audio",
          Multimodal.unrelatedAudioPayload(id)))))
      // decoded ONCE: build (evens) and reconcile (full) both read
      // the sigs — without the pin each reference re-synthesizes and
      // re-decodes every WAV (the d156 pin discipline)
      val sigs = Multimodal.audioFingerprintSigs(s, corpus)
        .localCheckpoint(true)
      Dedup.buildSimIndex(sigs.filter(col("doc_id") % 2 === 0),
        "d128_idx", maxDist = 2)
      Dedup.reconcileSimIndex(sigs, "d128_idx")
      Dedup.screenAgainstSimIndex(
        Multimodal.audioFingerprintSigs(s, batch), "d128_idx")
        .select(col("doc_id"),
          expr("shiftrightunsigned(sim, 32)").as("sig_hi"),
          (col("sim").bitwiseAND(lit(0xFFFFFFFFL))).as("sig_lo"))
        .orderBy(col("doc_id"))
    }),

    // D98 (url): d84's frontier with the corpus side built on a 1/32
    // slice and reconciled up to the full 1/16; oracle = d84's SQL
    // verbatim.
    "d129_url_reconcile" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
        .select(col("doc_id"), plantedUrl.as("url"))
      val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      Dedup.buildUrlIndex(
        docs.filter(h1 === "0" && col("doc_id") % 2 === 0),
        "url", "d129_url_idx")
      Dedup.reconcileUrlIndex(docs.filter(h1 === "0"), "url",
        "d129_url_idx")
      Dedup.screenAgainstUrlIndex(docs.filter(h1 >= "8"), "url",
        "d129_url_idx")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // D99: RANKED-RETRIEVAL EVAL metrics — the scorer behind every
    // retrieval decision the other operators set up (tokenizer
    // family, shortlist depth, fusion choice): per query, MRR's
    // reciprocal rank, graded DCG@10 / nDCG@10 (linear gain,
    // ln(x)/ln(2) discount so both engines evaluate one expression
    // tree) and recall@10, over a REAL BM25 run (bm25PerQueryRanks,
    // three queries) against qrels PLANTED from doc_id arithmetic
    // (the d44 discipline — relevance needn't be meaningful for the
    // metric arithmetic to be exactly checkable).
    "d131_ranked_eval" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val queries = Seq(
        (1L, Seq("customer", "vector")),
        (2L, Seq("merge", "spark")),
        (3L, Seq("table", "filter"))).toDF("query_id", "terms")
      val run = Retrieval.bm25PerQueryRanks(docs, "doc_id", "text",
        queries, "query_id", "terms", topK = 20, k1 = 1.5, b = 0.75)
      val base = docs.filter(col("doc_id").isNotNull)
      val qrels = Seq(1L, 2L, 3L).map(q =>
        base.filter(col("doc_id") % (5 + q) === q)
          .select(lit(q).as("query_id"), col("doc_id"),
            (lit(1L) + col("doc_id") % 3).as("grade")))
        .reduce(_ unionByName _)
      Retrieval.rankedEval(run, qrels, k = 10)
        .orderBy(col("query_id"))
    }),

    // D67: per-bin token-id MATERIALIZATION — the `.bin` artifact
    // the d90 manifest addresses: concatenate each context bin's
    // document segments (real fixed-BPE ids, the d38/d59 tokenizer)
    // in bin order. The oracle re-derives every token id (the d51
    // merge-chain CTEs + a hex→id vocab VALUES table), replays the
    // d59 prefix sum and the d90 segment arithmetic, reassembles
    // each bin ORDER BY (seg_start, in-doc position) and md5s the
    // comma-joined id string — one drifted id, offset or segment
    // boundary anywhere breaks the hash.
    "d92_bin_tokens" -> ((s, d) => {
      Packing.binTokens(
        Tables.documents(s, d)
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id",
        tokenIds = graft.functions.BpeTokenizer.bpeTokenIds(col("text")),
        orderCol = md5(col("doc_id").cast("string")),
        capacity = 2048L)
        .select(col("bin"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(expr("array_join(cast(token_ids as array<string>), ',')"))
            .as("ids_md5"))
        .orderBy(col("bin"))
    }),

    // D87: EPOCH DELIVERY capstone — the checked artifact a trainer
    // loads, composing the whole packing family under per-shard
    // integrity hashes: real BPE ids (d51) pack into bins (d59/d92),
    // bins shuffle-shard into training order (d45), and each shard
    // publishes (n_bins, n_tokens, shard_md5) with the shard hash
    // folding every bin's content hash in shard order — one drifted
    // id, offset, segment, bin, shard or position anywhere breaks
    // it (the d77 one-hash discipline on the delivery artifact).
    // Fully oracle-checked: DuckDB replays the merge-chain ids, the
    // prefix sums, the segment arithmetic, the md5 shard assignment
    // and the fold.
    "d114_epoch_shards" -> ((s, d) => {
      Packing.epochShards(
        Tables.documents(s, d)
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id",
        tokenIds = graft.functions.BpeTokenizer.bpeTokenIds(col("text")),
        orderCol = md5(col("doc_id").cast("string")),
        capacity = 2048L, numShards = 4, seed = "ep114")
        .orderBy(col("shard"))
    }),

    // D66: ANN index REBALANCE — the actuator behind the d79
    // occupancy stats: build on the even half (book AND cells train
    // on evens), append the odd half (encoded with the even-trained
    // book, assigned to even-trained cells — the occupancy drift a
    // growing index accretes), then retrain cells from the index's
    // CURRENT contents and rewrite assignments crash-safe. The PQ
    // book deliberately does NOT retrain (codes are cell-independent
    // and stay bit-valid). The md5-twin proof: the oracle is the
    // d50/d58 twin SQL with ONE change — the book CTE trains on the
    // build-time subset (WHERE vec_id % 2 = 0) while the cell CTEs
    // train on the full corpus, exactly what rebalance-after-append
    // must produce. Querying the rebalanced index == that direct
    // recomputation, bit for bit.
    "d91_ann_rebalance" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8.filter(col("vec_id") % 2 === 0),
        "vec_id", "qv", name = "d91_idx",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.appendToAnnIndex(q8.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "qv", "d91_idx")
      Similarity.rebalanceAnnIndex(s, "d91_idx")
      Similarity.annTopKAgainstIndex(q8.filter(col("vec_id") < 50),
        "vec_id", "qv", name = "d91_idx", k = 10, nprobe = 4,
        shortlistFactor = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D64: SEMANTIC decontamination — the embedding-space sibling of
    // d43's k-gram screen (verbatim leakage there, paraphrased /
    // re-rendered leakage here): corpus embeddings vs an md5-sliced
    // holdout standing in for the eval suite, IVF-cell-gated exact
    // cosines at the d57 threshold, every cosine exact via the int8
    // twin discipline so the WHOLE screen is oracle-checked —
    // centroid sample, both assignments, candidate pairs and the
    // min-holdout-id verdict.
    "d89_semantic_decontaminate" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      val evalSide = substring(md5(col("vec_id").cast("string")), 1, 1) === "0"
      Similarity.semanticDecontaminate(
        q8.filter(!evalSide), q8.filter(evalSide),
        "vec_id", "qv", threshold = 0.4, nlist = 16, md5Sig = true)
        .select(col("vec_id"), col("cell_id"), col("keep"),
          col("matched_eval"))
        .orderBy(col("vec_id"))
    }),

    // D51: persistent perceptual-signature index + batch screen —
    // the D35 index-once pattern for media sigs, FULLY oracle-checked
    // end to end through real codecs: the corpus's audio fingerprints
    // (real WAV decode) build a bucketed chunk index; the batch is
    // every corpus doc's REMUX twin (identical fingerprint → must
    // screen out at hamming 0) plus an UNRELATED same-format audio
    // (different sample arithmetic → survives unless it accidentally
    // lands within hamming 2, which both engines decide identically).
    // DuckDB re-derives every fingerprint from the d64b byte
    // arithmetic and brute-forces the screen with bit_count(xor) —
    // a hash-matched RECALL check on the pigeonhole chunk machinery,
    // the d29/d30 discipline applied to the index path.
    "d67_sim_index_screen" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("doc_id") % 3 === 1)
        .select(col("doc_id").cast("long")).as[Long]
      val corpus = base.mapPartitions(_.map(id =>
        Multimodal.MediaRow(id, "audio", Multimodal.audioPayload(id))))
      val batch = base.mapPartitions(_.flatMap(id => Iterator(
        Multimodal.MediaRow(id + Multimodal.PlantedIdOffset, "audio",
          Multimodal.remuxedAudioPayload(id)),
        Multimodal.MediaRow(id + 2 * Multimodal.PlantedIdOffset, "audio",
          Multimodal.unrelatedAudioPayload(id)))))
      Dedup.buildSimIndex(
        Multimodal.audioFingerprintSigs(s, corpus), "d67_idx",
        maxDist = 2)
      Dedup.screenAgainstSimIndex(
        Multimodal.audioFingerprintSigs(s, batch), "d67_idx")
        .select(col("doc_id"),
          expr("shiftrightunsigned(sim, 32)").as("sig_hi"),
          (col("sim").bitwiseAND(lit(0xFFFFFFFFL))).as("sig_lo"))
        .orderBy(col("doc_id"))
    }),

    // D91: signature-index RE-CHUNK — the d113 actuator symmetry
    // for the perceptual family: maxDist (the pigeonhole chunk
    // geometry) was frozen at build; rechunkSimIndex re-derives
    // chunk rows from the index's own stored (doc_id, sim) pairs
    // under the stage→marker→promote→clear protocol — the media
    // corpus is never re-decoded. Build at maxDist=1 (a geometry
    // that would MISS hamming-2 remuxes), rechunk to 2, screen d67's
    // exact batch: the oracle is d67's screen SQL VERBATIM, so the
    // hash match proves rechunked == fresh-build-at-new-maxDist.
    "d120_rechunked_sim" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("doc_id") % 3 === 1)
        .select(col("doc_id").cast("long")).as[Long]
      val corpus = base.mapPartitions(_.map(id =>
        Multimodal.MediaRow(id, "audio", Multimodal.audioPayload(id))))
      val batch = base.mapPartitions(_.flatMap(id => Iterator(
        Multimodal.MediaRow(id + Multimodal.PlantedIdOffset, "audio",
          Multimodal.remuxedAudioPayload(id)),
        Multimodal.MediaRow(id + 2 * Multimodal.PlantedIdOffset, "audio",
          Multimodal.unrelatedAudioPayload(id)))))
      Dedup.buildSimIndex(
        Multimodal.audioFingerprintSigs(s, corpus), "d120_idx",
        maxDist = 1)
      Dedup.rechunkSimIndex(s, "d120_idx", maxDist = 2)
      Dedup.screenAgainstSimIndex(
        Multimodal.audioFingerprintSigs(s, batch), "d120_idx")
        .select(col("doc_id"),
          expr("shiftrightunsigned(sim, 32)").as("sig_hi"),
          (col("sim").bitwiseAND(lit(0xFFFFFFFFL))).as("sig_lo"))
        .orderBy(col("doc_id"))
    }),

    // D39 composed: perceptual image dedup KEEP-ONE, fully
    // oracle-checked end to end through the real codec — the d21/d27
    // keep-one composition applied to pixels: real PNG decode →
    // dHash sigs → skew-guarded hamming pairs at <= 2 → connected
    // components → min-id survivors. DuckDB re-derives the sigs from
    // the d52b pixel arithmetic, brute-forces ALL pairs, and closes
    // them with the d27 recursive CTE — so candidate RECALL, the
    // closure, and the keeper rule are all hash-matched. Corpus
    // md5-sliced to 1/16 so the oracle's all-pairs stays trivial.
    "d68_image_dedup" -> ((s, d) => {
      val slice = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull &&
          substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
      val media = Multimodal.withPlantedNearDupImages(slice, "doc_id")
      val sigs = Multimodal.imageDHashSigs(s, media).localCheckpoint(true)
      val pairs = Dedup.simhashPairsFromSigs(sigs, maxDist = 2)
        .select(col("id_a"), col("id_b"))
      Dedup.dropNearDuplicates(sigs, "doc_id", pairs)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // D15/D22: REAL audio decode — payloads are genuine PCM WAVs
    // (Multimodal.audioPayload) and sample rate / channels / frames
    // come from javax.sound.sampled parsing the actual RIFF header;
    // like d19, the oracle knows only the generator's parameter
    // formulas (and the canonical 44-byte-header size arithmetic), so
    // a decoder that doesn't truly parse the WAV cannot match it.
    "d22_audio_decode" -> ((s, d) =>
      Multimodal.decodeAudio(s, mediaRows(s, d))
        .toDF()
        .select(col("doc_id"), col("byte_len"), col("sample_rate"),
          col("channels"), col("frames"))
        .orderBy(col("doc_id"))),

    // D15/D23: REAL video decode — payloads are genuine MJPEG AVIs
    // (Multimodal.videoPayload: RIFF container, real JPEG frames) and
    // width/height come from javax.imageio decoding the FIRST FRAME's
    // JPEG, frames from the demuxed 00dc chunk count, fps from the
    // stream header rate/scale; like d19/d22, the oracle knows only
    // the generator's parameter formulas, so a decoder that doesn't
    // truly demux the AVI and decode a frame cannot match it.
    // (byte_len is excluded: JPEG sizes are encoder-dependent.)
    "d23_video_decode" -> ((s, d) =>
      Multimodal.decodeVideo(s, mediaRows(s, d))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("frames"), col("fps"))
        .orderBy(col("doc_id"))),

    // D19 composed (text side): the full TEXT dedup pipeline end to
    // end — blocked n-gram Jaccard pairs → connected components →
    // keep-one — the mirror of d21's embedding pipeline, on the
    // documents table. Oracle-checked against a recursive-CTE closure
    // over the same pair predicate (survivor = min doc_id per
    // cluster; singletons untouched).
    "d27_text_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dropNearDuplicates(docs, "doc_id",
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          blockCols = Seq(col("lang"), expr("n_chars DIV 100").cast("int")),
          shingleK = 3, threshold = 0.2))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // D20 (pipeline): train/eval decontamination — flag corpus docs
    // sharing word 8-grams with a held-out eval slice (the d17 hash
    // sample plays the benchmark suite). Oracle-checked: DuckDB
    // recomputes the same shingle sets and intersects the strings;
    // Spark joins xxhash64 of the same sets (collision ~2^-64).
    "d24_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      Dedup.crossNgramOverlap(docs.filter(!isEval), docs.filter(isEval),
        "doc_id", "text", shingleK = 8)
        .orderBy(col("corpus_id"), col("eval_id"))
    }),

    // D21 (pipeline): stratified hash sampling — rebalance the
    // corpus by downsampling head languages to a budget, membership
    // a pure function of doc_id (reproducible on any cluster, nested
    // across rates). Zero-shuffle scan filter (oracle-checked).
    "d25_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedHashSample(Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 0.125, "es" -> 0.25, "de" -> 0.5))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // D28: temperature resampling — rates DERIVED from the corpus's
    // own stratum counts (rate_i = sqrt(n_min/n_i) at T=0.5, the
    // largest no-upsampling schedule with output proportions ∝
    // n_i^T), thresholds embedded as literals so the sampling pass
    // stays a pure scan filter. Fully oracle-checked: DuckDB
    // re-derives the rates from ITS OWN counts and re-applies the
    // identical md5-prefix selection (sqrt and division are IEEE-
    // correctly-rounded in both engines).
    "d39_temperature_sample" -> ((s, d) =>
      Sampling.temperatureSample(Tables.documents(s, d), "doc_id", "lang",
        temperature = 0.5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))),

    // D15/D28: REAL frame sampling under the oracle — demux every
    // AVI and emit one row per kept frame. everyMs=1 keeps ALL frames
    // (frame steps are >= 111 ms), so frame count and timestamps are
    // pure functions of the generator formulas (2+id%5 frames at
    // 5+id%5 fps; ts_ms = round(i·1000/fps), spelled floor(x+0.5) in
    // the oracle to match Math.round): the demuxer's chunk walk and
    // sampling arithmetic are hash-matched without shipping the
    // (encoder-dependent) JPEG bytes to DuckDB.
    "d28_frame_sample" -> ((s, d) =>
      Multimodal.frameSampleVideo(s, mediaRows(s, d)
        .filter(col("media_type") === "video"), everyMs = 1L)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("ts_ms"))
        .orderBy(col("doc_id"), col("frame_idx"))),

    // D3 oracle twin: the IDENTICAL chunk-bucket + skew-guard +
    // popcount pair machinery as d3, fed with an engine-reproducible
    // md5-based 60-bit simhash — DuckDB recomputes the signatures
    // from raw text and brute-forces ALL pairs with
    // bit_count(xor) <= maxDist, hash-matching the pigeonhole
    // bucketing's recall (the machinery most likely to silently lose
    // pairs). d3 stays the production entry (native XXH64 sketch).
    // maxDist=4 (vs d3's 8): the 60-bit md5-simhash (multiplicity
    // vote, like the production sketch) is still somewhat denser
    // than the 64-bit XXH64 one, and 8 emitted a ~20k-pair set that
    // cost bench seconds without adding verification power — 4
    // exercises the same 5-chunk pigeonhole + popcount machinery.
    // The threshold literal is shared with the oracle SQL.
    "d29_simhash_oracle" -> ((s, d) =>
      Dedup.md5SimhashPairs(Tables.documents(s, d), "doc_id", "text",
        maxDist = d29MaxDist)
        .orderBy(col("id_a"), col("id_b"))),

    // D2 oracle twin: the IDENTICAL banding + size-ratio +
    // verification machinery as d2, fed with an md5-based
    // universal-hash minhash — DuckDB recomputes the signatures from
    // raw text, re-derives candidates by band-slice equality, and
    // verifies true Jaccard, hash-matching the LSH candidate
    // generation end to end. d2 stays the production entry.
    "d30_minhash_oracle" -> ((s, d) =>
      Dedup.md5MinhashPairs(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numPerms = 32, bands = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // D11 oracle twin: the IDENTICAL window-min selection kernel as
    // d11's winnowing (WinnowSelect), fed with engine-reproducible
    // md5 char 8-gram hashes — DuckDB recomputes every fingerprint
    // from raw text (substr + md5 + a windowed min) and hash-matches
    // the selection machinery (window mins, ties, dedup, ordering).
    // d11 stays the production entry (native XXH64 byte-gram pass).
    // Runs on the d17 1/16 hash slice: per-doc verification power is
    // unchanged, and the full-corpus twin's ~550k fingerprint rows
    // at sf0.1 were pure bench weight, not extra coverage.
    "d31_winnow_oracle" -> ((s, d) =>
      TextAnalysis.md5Fingerprints(
        Tables.documents(s, d)
          .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0"),
        "doc_id", "text", k = 8, w = 4)
        .orderBy(col("doc_id"), col("fp"))),

    // D23 (pipeline): sequence packing — shuffle the corpus into a
    // deterministic hash order, accumulate whitespace-token counts
    // into a global offset via the two-phase prefix sum (NOT a
    // single-partition global window), and cut 2048-token context
    // bins; documents may straddle bins (bin_end > bin_start). The
    // oracle recomputes the same cumsum with a window function —
    // feasible for DuckDB at oracle scale, the scale-killer Spark
    // shape this operator exists to avoid (oracle-checked).
    "d32_sequence_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Packing.sequencePack(docs, "doc_id",
        tokens = TextAnalysis.wsTokenCount(col("text")),
        orderCol = md5(col("doc_id").cast("string")),
        capacity = 2048L)
        .orderBy(col("doc_id"))
    }),

    // D24 (pipeline): unigram LM quality scoring — per-doc mean
    // log-probability under the corpus's own unigram distribution
    // (the unigram reduction of KenLM-style likelihood filtering).
    // Per-token counts via a WINDOW count on one token-keyed
    // exchange — the frequency-join form triple-evaluated the
    // explode pipeline (plan-pinned in PlanShapeSpec) — plus a
    // narrow-scan broadcast total (oracle-checked).
    "d33_unigram_logprob" -> ((s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // D7 oracle twin: the IDENTICAL multi-probe bucket-join + top-k
    // re-rank machinery as d7's LSH ANN, driven by integer
    // hyperplanes over int8-QUANTIZED vectors (d26's quantization) —
    // every signature bit and candidate cosine is exact integer
    // arithmetic (int products, correctly-rounded sqrt), so DuckDB
    // reproduces buckets, candidate sets (hamming <= 1 on
    // signatures = own bucket + all 1-bit probes) and the full
    // ranking bit-for-bit. d7 stays the production entry (XXH64
    // float hyperplanes on the raw vectors).
    "d34_lsh_oracle" -> ((s, d) => {
      // quantize via the codegen'd kernel (one pass; same arithmetic
      // as quantizeInt8's q column, whose four-HOF projection was
      // this entry's dominant interpreted cost)
      val q8 = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.SketchFunctions.quantizeInt8Floats(
            col("embedding")).as("qv"))
      Similarity.md5LshTopK(q8.filter(col("vec_id") < 50), q8,
        "vec_id", "qv", k = 10, dim = 64, bits = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D7b oracle twin: the IDENTICAL IVF machinery as d7b — md5-order
    // centroid sampling, literal-centroid argmax cell assignment
    // (a map-only projection), nprobe probing, equi-join on cell,
    // exact top-k re-rank — over int8-quantized vectors, no Lloyd
    // refinement (float centroid means reintroduce the sign-boundary
    // problem). All integer arithmetic: DuckDB reproduces cells,
    // probe sets and ranks bit-for-bit. d7b stays the production
    // entry (XXH64 sampling + mini-batch refinement on raw floats).
    "d35_ivf_oracle" -> ((s, d) => {
      // same kernel-quantized prep as d34
      val q8 = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.SketchFunctions.quantizeInt8Floats(
            col("embedding")).as("qv"))
      Similarity.md5IvfTopK(q8.filter(col("vec_id") < 50), q8,
        "vec_id", "qv", k = 10, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D37: product-quantization ADC top-k — the compression half of
    // the 100 TB ANN stack (8-16 code BYTES per corpus vector in the
    // scan instead of the float vector). md5 twin discipline like
    // d34/d35: int8-quantized vectors + md5-order codebook sampling
    // make every centroid, code argmin and ADC sum exact integer
    // arithmetic, so DuckDB re-derives codebooks, per-subspace codes
    // and the full ranking bit-for-bit from raw parquet. dist2 is
    // integer-valued — cast BIGINT, no rounding needed.
    "d48_pq_adc" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.SketchFunctions.quantizeInt8Floats(
            col("embedding")).as("qv"))
      Similarity.md5PqTopK(q8.filter(col("vec_id") < 50), q8,
        "vec_id", "qv", k = 10, m = 4, ksub = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D37b: PQ shortlist + exact re-rank — the recall-recovery
    // composition (scan code bytes to shortlist 5·k candidates,
    // fetch only those vectors, exact squared L2 on the shortlist).
    // Same md5-twin discipline: over quantized vectors the ENTIRE
    // pipeline is exact integer arithmetic.
    "d49_pq_refined" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.SketchFunctions.quantizeInt8Floats(
            col("embedding")).as("qv"))
      Similarity.md5PqTopKRefined(q8.filter(col("vec_id") < 50), q8,
        "vec_id", "qv", k = 10, m = 4, ksub = 8, shortlistFactor = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D37c: the full IVF-PQ stack — coarse cells prune (nprobe of
    // nlist), PQ code bytes score the survivors, exact re-rank on
    // the shortlist. One corpus projection emits (id, cell, codes);
    // the twin (md5 sampling, no refinement, quantized ints) keeps
    // every layer exact, so DuckDB re-derives cells, codes, the
    // cell-gated ADC shortlist and the final ranking bit-for-bit.
    "d50_ivfpq" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.functions.SketchFunctions.quantizeInt8Floats(
            col("embedding")).as("qv"))
      Similarity.md5IvfPqTopK(q8.filter(col("vec_id") < 50), q8,
        "vec_id", "qv", k = 10, nlist = 16, nprobe = 4, m = 4, ksub = 8,
        shortlistFactor = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D38: REAL byte-level BPE tokenization (re-bases the d10 regex
    // approximation; the count consumers d32/d47 re-base by passing
    // BpeTokenizer.bpeTokenCount as their tokens column, and
    // TextAnalysis.bpeTokenCount(text, real = true) is the flag).
    // Fully oracle-checked via the canonical "|hex|…|" token-sequence
    // string: the merge table is a shared literal, rank-order
    // left-to-right merge application == one DuckDB replace() per
    // merge, and the count/md5 arithmetic is engine-shared — so a
    // single drifted token anywhere in the corpus breaks the hash.
    "d51_bpe_tokens" -> ((s, d) => {
      val ts = graft.functions.BpeTokenizer.bpeTokenString(col("text"))
      Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.BpeTokenizer.bpeTokenCount(col("text"))
            .cast("long").as("n_bpe"),
          md5(ts).as("bpe_md5"))
        .orderBy(col("doc_id"))
    }),

    // D40: bigram LM quality scoring — conditional sequence
    // likelihood under the corpus's own bigram distribution (the n=2
    // KenLM-filter step d33's unigram reduction can't see: shuffled
    // words score low here). Oracle-checked: DuckDB re-derives the
    // bigram stream, both count tables and the identical rounded
    // arithmetic from raw text.
    "d53_bigram_logprob" -> ((s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // D48: trigram LM scoring with STUPID BACKOFF (Brants et al.
    // 2007) — the KenLM-filter rung above d53: the LM trains on the
    // d60 md5-quarter slice and scores the FULL corpus, so unseen
    // trigrams exist and the backoff chain (trigram → 0.4·bigram →
    // 0.16·add-one unigram) actually fires. One tagged explode, one
    // reused (a,b,c) exchange, every count table derived from the
    // distinct-trigram table; fully oracle-checked (DuckDB re-derives
    // the slice, all five count tables, the backoff CASE and the
    // rounded average from raw text).
    "d65_trigram_logprob" -> ((s, d) =>
      TextAnalysis.trigramLogProb(Tables.documents(s, d), "doc_id",
        "text", trainFilter = d60Slice)
        .orderBy(col("doc_id"))),

    // D52: Okapi BM25 ranked retrieval — the "query the corpus"
    // primitive (targeted exploration, retrieval-backed decontam,
    // eval mining). The corpus is never inverted: the query-term
    // isin filter sits map-side under the explode, so only |Q|
    // terms' postings shuffle; df/N/avgdl derive from the postings
    // aggregate + one broadcast one-row; top-k is
    // TakeOrderedAndProject. k1/b chosen exactly representable
    // (1.5/0.75) so both engines' literal arithmetic is identical.
    // Fully oracle-checked: DuckDB re-derives tf, df, idf and the
    // rounded score sum from raw text.
    "d70_bm25_topk" -> ((s, d) =>
      graft.operators.Retrieval.bm25TopK(Tables.documents(s, d),
        "doc_id", "text", queryTerms = d70Terms, topK = 20,
        k1 = 1.5, b = 0.75)),

    // D85: BM25 served from the PERSISTENT inverted index — the d58
    // twin discipline for lexical retrieval, closing the last
    // operator family that rescanned the corpus per query batch:
    // build the four-table index (postings/df/docs/meta, the D45
    // index-once pattern), then serve d70's exact query from the
    // index alone — a bucket-pruned postings scan of the query
    // terms' buckets plus two broadcast joins; the corpus appears
    // nowhere in the serving plan (PlanShapeSpec pins both). The
    // oracle is d70's fresh-scan SQL VERBATIM, so the hash match
    // proves build + pruned serving == direct recomputation.
    "d112_indexed_bm25" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id", "text",
        name = "d112_idx")
      Retrieval.bm25TopKAgainstIndex(s, "d112_idx",
        queryTerms = d70Terms, topK = 20, k1 = 1.5, b = 0.75)
    }),

    // D85 (stats verb): the BM25 index's one-row corpus card —
    // doc count, vocabulary size, posting count, token mass, avgdl —
    // three single-row aggregates over the index's own tables, the
    // d97-d99 observability discipline for the fifth index family.
    // Fully oracle-checked: DuckDB re-derives every figure from raw
    // text, so a match also proves the index's CONTENTS (not just a
    // serving path) are exactly the corpus's inverted form.
    "d115_bm25_index_stats" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id", "text",
        name = "d115_idx")
      Retrieval.bm25IndexStats(s, "d115_idx")
    }),

    // D90: exact-PHRASE BM25 — sequence-level retrieval where
    // bag-of-words is too loose (a leaked benchmark question is a
    // SEQUENCE): occurrences counted by intersecting slot-shifted
    // per-term position lists, then scored as one pseudo-term under
    // the Okapi weight. Fresh-scan form; d119 is the same query
    // served from the positional index, same oracle (twin proof).
    "d118_phrase_bm25" -> ((s, d) =>
      Retrieval.bm25PhraseTopK(Tables.documents(s, d), "doc_id",
        "text", phrase = d118Phrase, topK = 20, k1 = 1.5, b = 0.75)),

    // D90 (indexed): the same phrase served from the d112 positional
    // postings — no re-tokenization, only the phrase terms' buckets
    // read; oracle = the fresh path's SQL verbatim.
    "d119_indexed_phrase" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id", "text",
        name = "d119_idx")
      Retrieval.bm25PhraseAgainstIndex(s, "d119_idx",
        phrase = d118Phrase, topK = 20, k1 = 1.5, b = 0.75)
    }),

    // D93: the NORM tokenizer FAMILY over a punctuation-planted
    // corpus — the first thing a real corpus exposes: the plant
    // glues a boundary mark onto EVERY token ('(' + space->'. ' +
    // ')'), so the ws family finds NOTHING for any clean query term;
    // the norm family (strip boundary [^a-z0-9] runs, drop emptied
    // tokens) finds everything. The family is INDEX STATE: it is
    // recorded in _meta at build and every serving verb refuses
    // loudly on mismatch (the dedup shh_basis precedent), so index
    // and query tokenization can never disagree silently. Serving
    // from the index with the oracle re-deriving the normalized
    // tokens fresh = the d112 twin proof at the new family.
    "d122_norm_bm25" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("("), regexp_replace(col("text"), " ", ". "),
          lit(")")).as("text"))
      Retrieval.buildBm25Index(planted, "doc_id", "text",
        name = "d122_idx", tokenizer = "norm")
      Retrieval.bm25TopKAgainstIndex(s, "d122_idx",
        queryTerms = d70Terms, topK = 20, k1 = 1.5, b = 0.75,
        tokenizer = "norm")
    }),

    // D94 (ordered): directional proximity — every term AFTER the
    // anchor within the window (p < q <= p + window): the middle
    // ground between d124's unordered bag and d118's exact sequence
    // (a quote whose interior words were edited still matches
    // ordered-proximity but not the phrase). Served from the
    // positional index; oracle = the generated proximity SQL with
    // the directional condition.
    "d134_ordered_prox" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id", "text",
        name = "d134_idx")
      Retrieval.bm25ProximityAgainstIndex(s, "d134_idx",
        terms = d124Terms, window = d124Window, topK = 20,
        k1 = 1.5, b = 0.75, ordered = true)
    }),

    // D93 (uni family): the Unicode tokenizer over a corpus planted
    // with guillemets AND a non-ASCII word — the case that separates
    // the families: under `norm`'s ASCII classes «über» strips to
    // `ber` (a leading Unicode LETTER reads as punctuation); under
    // `uni`'s \p{L}\p{N} it normalizes to `über`. Java regex and
    // DuckDB RE2 agree on the classes, so the family is fully
    // oracle-checked like d122.
    "d130_uni_bm25" -> ((s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("«"),
          regexp_replace(regexp_replace(col("text"), "spark", "über"),
            " ", "» «"),
          lit("»")).as("text"))
      Retrieval.buildBm25Index(planted, "doc_id", "text",
        name = "d130_idx", tokenizer = "uni")
      Retrieval.bm25TopKAgainstIndex(s, "d130_idx",
        queryTerms = d130Terms, topK = 20, k1 = 1.5, b = 0.75,
        tokenizer = "uni")
    }),

    // D100: MATCH-POSITION explanation — the positional backing of
    // snippet/highlight generation: for the query's top-5 docs,
    // every query term's 1-based occurrence offsets straight from
    // the positional postings (one more bucket-pruned read joined on
    // 5 doc ids — k·|Q| narrow rows, never a corpus pass). Fully
    // oracle-checked: DuckDB re-derives the top-5 AND every offset
    // by filtering token positions, so a match proves the stored
    // positions are exactly the corpus's.
    "d132_match_positions" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id", "text",
        name = "d132_idx")
      Retrieval.matchPositionsAgainstIndex(s, "d132_idx",
        queryTerms = d70Terms, topK = 5, k1 = 1.5, b = 0.75)
        .orderBy(col("doc_id"), col("term"), col("pos"))
    }),

    // D94: PROXIMITY BM25 — "all terms within a window of N tokens",
    // the looser half of positional retrieval (a paraphrased
    // benchmark leak survives word reordering; the exact phrase
    // doesn't catch it, the bag-of-words match is too wide):
    // occurrences are anchors of terms[0] with every other term
    // within ±window, counted by windowed position-list HOFs (zero
    // explodes), scored as one pseudo-term under the Okapi weight.
    // Fresh-scan form; d124b serves the same query from the d112
    // positional postings, same oracle (twin proof).
    "d124_prox_bm25" -> ((s, d) =>
      Retrieval.bm25ProximityTopK(Tables.documents(s, d), "doc_id",
        "text", terms = d124Terms, window = d124Window, topK = 20,
        k1 = 1.5, b = 0.75)),

    // D94 (indexed): the same proximity query served from the
    // positional index — only the three terms' buckets read, no
    // re-tokenization; oracle = the fresh path's SQL verbatim.
    "d124b_indexed_prox" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id", "text",
        name = "d124_idx")
      Retrieval.bm25ProximityAgainstIndex(s, "d124_idx",
        terms = d124Terms, window = d124Window, topK = 20,
        k1 = 1.5, b = 0.75)
    }),

    // D52b: per-doc TF-IDF keyword extraction — the tagging pass
    // (topical routing, cluster naming): each doc's top-3 terms by
    // tf·ln(N/df), rounded BEFORE ranking with a term tie-break so
    // both engines rank identical doubles. One term-keyed exchange
    // serves tf, df and their join; the top-k is a per-doc
    // array_sort+slice bounded by the doc's own vocab, never a
    // corpus rank window. Fully oracle-checked.
    "d80_tfidf_keywords" -> ((s, d) =>
      graft.operators.Retrieval.tfidfKeywords(Tables.documents(s, d),
        "doc_id", "text", topK = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // D53: URL canonicalization + URL-keyed dedup — the frontier
    // dedup ahead of fetch/extract (two crawls of one resource
    // differ in case, default ports, tracking params, param order,
    // fragments, trailing slashes). URLs are PLANTED from doc_id
    // arithmetic (the d44 discipline) so every rule fires on the
    // synthetic corpus and DuckDB re-derives both the planting and
    // the canonicalization; keep-one is the d1 hash-groupBy shape
    // on the canonical key. Fully oracle-checked.
    "d71_url_dedup" -> ((s, d) =>
      TextAnalysis.urlDedup(
        Tables.documents(s, d)
          .filter(col("doc_id").isNotNull)
          .select(col("doc_id"), plantedUrl.as("url")),
        "doc_id", "url")
        .orderBy(col("doc_id"))),

    // D54: mixture-matching sampler — the Pile/Gopher/LLaMA data-
    // mixing table made executable: integer per-stratum allowances
    // from raw weights × a global token budget, then a per-stratum
    // md5-priority prefix cut via the two-phase prefix-sum (never a
    // per-stratum window). Raw weights derive from the source name
    // (suffix % 3 + 1) so all 20 strata carry unequal shares both
    // engines can re-derive. Fully oracle-checked.
    "d72_mixture_sample" -> ((s, d) =>
      Sampling.mixtureSample(
        Tables.documents(s, d).filter(col("text").isNotNull),
        "doc_id", "source",
        tokens = size(Dedup.tokens(col("text"))).cast("long"),
        rawWeight = substring(col("source"), 4, 10).cast("int") % 3 + 1,
        budget = d72Budget, seed = "mix")
        .orderBy(col("doc_id"))),

    // D55: Naive-Bayes document classifier, train→score in one plan
    // — the fastText-shaped quality/domain gate of the GPT-3/CCNet
    // lineage with count-based weights instead of SGD, so training
    // AND scoring are exact integer-count + ln arithmetic and the
    // whole op is oracle-checked. Trains on the d60 md5-quarter
    // (labels: lang == 'en'), scores every document; one explode,
    // one term-keyed exchange reused by the count aggregate and the
    // scoring stream, |vocab|-sized SHUFFLE_HASH join-back, one-row
    // broadcasts for N/V and the prior. Zero windows.
    "d73_nb_classifier" -> ((s, d) =>
      TextAnalysis.nbLogOdds(Tables.documents(s, d), "doc_id", "text",
        label = col("lang") === "en", trainFilter = d60Slice)
        .orderBy(col("doc_id"))),

    // D54b: FULL mixture semantics — d72 extended with EPOCHS (the
    // LLaMA mixture-table column): budget = 2× the corpus token mass
    // (derived, not hard-coded, so every SF exercises epochs ≥ 1),
    // strata whose allowance exceeds their mass earn whole epochs +
    // a remainder prefix; Σ n_copies·n_tokens <= allowance exactly,
    // per stratum, in pure integer arithmetic. Fully oracle-checked.
    "d76_mixture_epochs" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull &&
        col("source").isNotNull && col("text").isNotNull)
      val tk = size(Dedup.tokens(col("text"))).cast("long")
      val total = docs.agg(sum(tk)).head().getLong(0)
      Sampling.mixtureEpochs(docs, "doc_id", "source",
        tokens = tk,
        rawWeight = substring(col("source"), 4, 10).cast("int") % 3 + 1,
        budget = 2L * total, seed = "mix")
        .orderBy(col("doc_id"))
    }),

    // D56: deterministic epoch upsampling — the other half of data
    // mixing (d72 cuts strata down; this repeats high-value docs up,
    // the "Wikipedia × N epochs" mixture-table row): quality tiers
    // (the d9 arithmetic) choose 1×/2×/3× repeats, each copy carries
    // a md5(seed|id|copy) shuffle key so copies scatter across the
    // epoch. Pure projection + ONE Generate, zero shuffles; fully
    // oracle-checked (DuckDB re-derives quality, tiers, copies and
    // keys).
    "d75_upsample" -> ((s, d) => {
      val q = TextAnalysis.qualityScore(col("text"))
      Sampling.upsample(
        Tables.documents(s, d).filter(col("text").isNotNull),
        "doc_id",
        repeats = when(q >= 0.8, 3).when(q >= 0.5, 2).otherwise(1))
        .orderBy(col("doc_id"), col("copy_idx"))
    }),

    // D55b: the PERSISTED form of d73 — train once into warehouse
    // tables (weights + one-row meta), score from the stored model
    // via a broadcast map-side join (the fastText serving shape; a
    // scored batch never shuffles its tokens). Oracle is d73's SQL
    // VERBATIM — one string, two entries: the hash-match proves
    // persisted-model scoring == inline train+score, the d58
    // "index == direct" discipline applied to the classifier.
    "d74_nb_model_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.trainNbModel(docs, "doc_id", "text",
        label = col("lang") === "en", trainFilter = d60Slice,
        name = "d74_model")
      TextAnalysis.scoreWithNbModel(docs.filter(col("lang").isNotNull),
        "doc_id", "text", "d74_model")
        .orderBy(col("doc_id"))
    }),

    // D25: exact substring-level dedup — maximal cross-doc repeated
    // >= 8-token spans (the "deduplicating training data" pass that
    // doc-level dedup misses: shared boilerplate inside otherwise
    // distinct documents). Zero joins: WordGrams kernel + posexplode
    // + md5Hash60, one gram-keyed exchange (min/max-doc windows), one
    // doc-keyed exchange (gaps-and-islands merge). The gram hash is
    // md5, so the WHOLE operator is oracle-checked — DuckDB
    // recomputes every gram hash from raw text and re-derives the
    // identical spans (d36GramK shared with the oracle SQL).
    "d36_substring_dedup" -> ((s, d) =>
      Dedup.crossDocSpans(Tables.documents(s, d), "doc_id", "text",
        k = d36GramK)
        .orderBy(col("doc_id"), col("span_start"))),

    // D25b: the CLEANING half of substring dedup — rewrite every doc
    // with its cross-doc repeated spans cut unless the doc is the
    // gram's min-id keeper (the Lee-et-al "deduplicating training
    // data" keep-one pass, producing the actual cleaned corpus a
    // training job consumes). Same gram/islands machinery as d36 plus
    // the operator's ONE join (cut lists back to the original-case
    // token array). Fully oracle-checked: DuckDB re-derives the cut
    // spans from raw text and re-assembles identical cleaned strings.
    "d38_span_cut" -> ((s, d) =>
      Dedup.cutCrossDocSpans(Tables.documents(s, d), "doc_id", "text",
        k = d36GramK)
        .orderBy(col("doc_id"))),

    // D30: fixed-token chunking with overlap — the context-window
    // split before embedding/packing (chunk i covers tokens
    // [i·stride+1, min(i·stride+chunkSize, n)], overlapping at
    // stride < chunkSize, final chunk partial but never empty). Pure
    // projection + one Generate, zero shuffles; fully oracle-checked
    // (DuckDB re-derives every chunk boundary and chunk text).
    "d41_token_chunks" -> ((s, d) =>
      Packing.tokenChunks(Tables.documents(s, d), "doc_id", "text",
        chunkSize = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // D31: per-stratum cap — at most N docs per source (RefinedWeb's
    // anti-domination guard), kept set deterministic in md5(id)
    // order and nested across caps. One stratum-keyed exchange + a
    // rank window; fully oracle-checked.
    "d42_source_cap" -> ((s, d) =>
      Sampling.capPerStratum(Tables.documents(s, d), "doc_id", "source",
        cap = 3)
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))),

    // D32: benchmark decontamination — the eval-overlap screen
    // before a model train: a 1/16 md5 slice of documents plays the
    // held-out benchmark, the rest is the training corpus; training
    // docs sharing any 8-token gram with the holdout are flagged
    // with their overlap count. The holdout's distinct gram-hash
    // set is broadcast, so the corpus side never shuffles to pair
    // up; fully oracle-checked (DuckDB re-derives the holdout gram
    // set and every overlap count from raw text).
    "d43_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val isHold = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      Dedup.decontaminate(docs.filter(!isHold), docs.filter(isHold),
        "doc_id", "text", k = d36GramK)
        .orderBy(col("doc_id"))
    }),

    // D33: PII redaction — scrub emails / dotted-quad IPs / long
    // digit runs to typed placeholders and count each (the
    // filter-vs-redact policy signal). The synthetic corpus holds no
    // PII, so the entry PLANTS it deterministically from doc_id —
    // identical arithmetic in both engines — then redacts; the
    // pattern set is restricted to the Java-regex/RE2-identical
    // subset, so the oracle matches the cleaned text byte for byte.
    // Pure scan projection, zero shuffles.
    "d44_redact_pii" -> ((s, d) => {
      val id = col("doc_id")
      val planted = concat(col("text"),
        when(id % 3 === 0, concat(lit(" user"), id.cast("string"),
          lit("@m"), (id % 7).cast("string"), lit(".net")))
          .otherwise(lit("")),
        when(id % 6 === 0, concat(lit(" b"), id.cast("string"),
          lit("@x.org"))).otherwise(lit("")),
        when(id % 4 === 0, concat(lit(" 10."), (id % 250).cast("string"),
          lit(".0."), (id % 100).cast("string"))).otherwise(lit("")),
        when(id % 5 === 0, concat(lit(" 9"),
          lpad(id.cast("string"), 9, "0"))).otherwise(lit("")))
      TextAnalysis.redactPii(
        Tables.documents(s, d)
          .filter(id.isNotNull && col("text").isNotNull)
          .withColumn("pii_text", planted),
        "doc_id", "pii_text")
        .orderBy(col("doc_id"))
    }),

    // D34: deterministic shuffle + sharding — the training-order
    // pass: every doc gets a shard (md5(seed|id) mod N) and a
    // 1-based position within its shard in key order; identical on
    // any cluster/partitioning/rerun, reshuffled only by the seed.
    // Ranks via the d32 two-phase prefix-sum discipline per shard
    // (pinned range layout + driver bases — no per-shard window);
    // fully oracle-checked.
    "d45_shuffle_shard" -> ((s, d) =>
      Sampling.shuffleShard(Tables.documents(s, d), "doc_id",
        numShards = 8, seed = "epoch0")
        .orderBy(col("doc_id"))),

    // D36: token-budget selection — "we can afford B training
    // tokens" → keep the longest priority-ordered PREFIX that fits
    // (priority = n_chars here, id tiebreak; prefix-cut, not
    // knapsack back-fill — monotone in priority, so the cut is
    // auditable). Rides sequencePack's two-phase prefix sum (never
    // a single-partition global window); fully oracle-checked.
    "d47_budget_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      Packing.budgetSelect(docs, "doc_id",
        size(Dedup.tokens(col("text"))).cast("long"),
        col("n_chars"), budget = 10000L)
        .orderBy(col("doc_id"))
    }),

    // D29: incremental (batch-vs-corpus) dedup — the ingestion
    // screen: a 1/16 md5 slice of documents plays the arriving
    // batch, the rest is the existing corpus; batch docs duplicating
    // the corpus exactly (content hash) or nearly (banded-minhash
    // candidates verified at 3-shingle jaccard >= 0.5) are dropped.
    // md5Sig=true drives the d30 twin arithmetic end to end, so
    // DuckDB re-derives candidates, verification and the survivor
    // set from raw text (the corpus is never self-joined).
    "d40_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      Dedup.dedupAgainst(docs.filter(isBatch), docs.filter(!isBatch),
        "doc_id", "text", md5Sig = true)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // D35: the SAME screen through a PERSISTENT dedup index — the
    // corpus's band rows / shingle sets / content hashes are built
    // ONCE as bucketed tables and the batch screens against them (at
    // 100 TB you cannot re-minhash the corpus per arriving batch;
    // the index is the production shape). Same d40 slice, same
    // md5Sig arithmetic, so the SAME oracle SQL re-derives the
    // survivor set from raw text — the hash-match proves screen ==
    // direct, end to end through build + read.
    "d46_indexed_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      Dedup.buildDedupIndex(docs.filter(!isBatch), "doc_id", "text",
        name = "d46_idx", md5Sig = true)
      Dedup.dedupAgainstIndex(docs.filter(isBatch), "doc_id", "text",
        name = "d46_idx")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // D101: the tokenizer FAMILY on the DEDUP side — the D93
    // argument applied to shingles: under the ws family `fox!` and
    // `fox` are different shingle words, so a trivially
    // re-punctuated near-dup shares NO shingles and sails through
    // the screen. The family is recorded in the dedup `_meta`
    // (beside md5_sig and shh_basis); every screen/append reads it
    // from there, so index and batch tokenization cannot disagree.
    // This entry runs the d46 shape on a punctuation-PLANTED corpus
    // at tokenizer="norm": the oracle re-derives the NORMALIZED
    // shingles, so a hash match proves the family threads through
    // build → meta → screen end to end (a side using the wrong
    // family would produce disjoint shingle sets and extra
    // survivors).
    "d133_norm_dedup" -> ((s, d) => {
      val planted = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          concat(lit("("), regexp_replace(col("text"), " ", ". "),
            lit(")")).as("text"),
          col("lang"), col("source"))
      val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      Dedup.buildDedupIndex(planted.filter(!isBatch), "doc_id", "text",
        name = "d133_idx", md5Sig = true, tokenizer = "norm")
      Dedup.dedupAgainstIndex(planted.filter(isBatch), "doc_id", "text",
        name = "d133_idx")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // D101 (decontamination): the family where punctuation blindness
    // bites HARDEST — contamination matching is sequence-level, so a
    // benchmark question whose words carry different punctuation in
    // train vs holdout shares NO ws k-grams at all. This entry
    // plants the two sides DIFFERENTLY ('. ' + parens in train,
    // ', ' in holdout): under ws the screen would find zero overlap
    // by construction; under norm it finds exactly what the clean
    // text shares. Oracle = the d43 derivation with a per-side
    // normalized token expression.
    "d135_norm_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val isHold = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      val train = docs.filter(!isHold).select(col("doc_id"),
        concat(lit("("), regexp_replace(col("text"), " ", ". "),
          lit(")")).as("text"))
      val hold = docs.filter(isHold).select(col("doc_id"),
        regexp_replace(col("text"), " ", ", ").as("text"))
      Dedup.decontaminate(train, hold, "doc_id", "text",
        k = d36GramK, tokenizer = "norm")
        .orderBy(col("doc_id"))
    }),

    // D86: dedup-index RE-BAND — the actuator symmetry the ANN
    // family got in r15 (rebalance/rebuild), for the minhash index:
    // the LSH geometry (bands × rows-per-band → candidate threshold)
    // was frozen at build; rebandDedupIndex re-derives signatures
    // from the stored _docs hashed shingle sets (md5 basis — the
    // sufficient statistic), rewrites _bands + _meta under the
    // stage→marker→promote→clear crash protocol, and NEVER touches
    // the corpus. Build at 16 bands (r=2), reband to 8 (r=4 —
    // tighter candidate recall, a genuinely different screen from
    // d46's on the same slice), then screen d46's batch. The oracle
    // is the d46 derivation AT THE NEW GEOMETRY — a hash match
    // proves rebanded == fresh-build-at-new-params, bit for bit.
    "d113_rebanded_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      Dedup.buildDedupIndex(docs.filter(!isBatch), "doc_id", "text",
        name = "d113_idx", md5Sig = true)
      Dedup.rebandDedupIndex(s, "d113_idx", bands = 8, numPerms = 32)
      Dedup.dedupAgainstIndex(docs.filter(isBatch), "doc_id", "text",
        name = "d113_idx")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // D88: re-band DECISION sweep — the number an operator reads
    // BEFORE pulling the d113 actuator: for every band partition of
    // the index's 32 permutations (32×1, 16×2, 8×4, 4×8), the
    // candidate-pair volume the screen would generate, its bucket
    // support and its hot bucket — all re-derived from the stored
    // _docs hashed shingle sets, corpus never read. Completes the
    // stats → decision → actuator triangle for the dedup family.
    // Fully oracle-checked: DuckDB re-derives every minhash, groups
    // every geometry's band tuples and counts the same pairs.
    "d116_reband_sweep" -> ((s, d) => {
      Dedup.buildDedupIndex(
        Tables.documents(s, d)
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id", "text", name = "d116_idx", md5Sig = true)
      Dedup.rebandSweep(s, "d116_idx", bandsChoices = Seq(32, 16, 8, 4))
        .orderBy(col("bands"))
    }),

    // D26: composed gram profile — Gopher-style duplicate k-gram
    // fraction (the span-granularity sharpening of d15's distinct-
    // token repetition) AND the cross-doc repeated-gram count (d36's
    // candidate signal) off ONE shared gram pass (Dedup.gramHashes):
    // one Generate, one gram-keyed exchange carrying both window
    // specs, one doc-keyed aggregate. Fully oracle-checked — DuckDB
    // recomputes every md5 gram hash from raw text (plan-pinned
    // join-free, single gram exchange).
    "d37_gram_profile" -> ((s, d) =>
      Dedup.gramProfile(Tables.documents(s, d), "doc_id", "text",
        k = d36GramK)
        .orderBy(col("doc_id"))),

    // D22 (pipeline): symmetric int8 embedding quantization — the
    // 4x compression pass before vectors ship to an ANN index or a
    // training job. Compared via per-vector scalar digests (dims,
    // scale, sum, L1) so the oracle needs no list hashing
    // (oracle-checked).
    "d26_embed_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), col("n_dims"),
          round(col("scale"), 6).as("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"))
        .orderBy(col("vec_id"))),

    // D41: HTML boilerplate removal / main-content extraction — the
    // jusText-style pre-step before any text operator sees a
    // web-scraped corpus (verdict-r11 "What's missing" #4). The
    // corpus is plain text, so the entry PLANTS a deterministic HTML
    // page around each document (title/nav/script/style/footer
    // boilerplate + the text as paragraphs, two extra divs keyed off
    // doc_id — identical construction in both engines, the d44
    // discipline), then extracts: script/style/comment removal,
    // block-tag split, per-block link density, keep rule. Fully
    // oracle-checked — DuckDB re-derives the page and every block
    // verdict from raw text via the SAME regex-expressible contract
    // the codegen'd kernel implements (HtmlKernels), and the md5 of
    // the extracted main text pins the result byte for byte.
    "d54_html_extract" -> ((s, d) => {
      val id = col("doc_id")
      TextAnalysis.extractMainHtml(
        Tables.documents(s, d)
          .filter(id.isNotNull && col("text").isNotNull)
          .withColumn("html", plantedHtml(col("text"))),
        "doc_id", "html")
        .select(col("doc_id"),
          col("n_blocks").cast("long").as("n_blocks"),
          col("n_kept").cast("long").as("n_kept"),
          col("text_chars").cast("long").as("text_chars"),
          col("link_chars").cast("long").as("link_chars"),
          length(col("main_text")).cast("long").as("main_len"),
          md5(col("main_text")).as("main_md5"))
        .orderBy(col("doc_id"))
    }),

    // D42: Gopher repetition statistics — top-2/3-gram char fraction
    // and duplicated-5-gram char fraction (Rae et al., Table A1),
    // the filters that catch boilerplate loops doc-level quality
    // scores miss. One tagged Generate, two doc-keyed exchanges,
    // zero windows/joins; fully oracle-checked.
    "d55_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // D43: Gopher quality rules — the keep/drop gate with a
    // violated-rule bitmask (word count, mean word length, symbol
    // ratio, letter-token fraction, distinct stopwords). The corpus
    // is symbol/digit-free, so symbol spam and digit soup are
    // PLANTED deterministically from doc_id (the d44 discipline) to
    // make rules 2/3 non-degenerate; fully oracle-checked.
    "d56_gopher_rules" -> ((s, d) => {
      val id = col("doc_id")
      val noisy = concat(col("text"),
        when(id % 7 === 0, lit(gopherSymNoise)).otherwise(lit("")),
        when(id % 11 === 0, lit(gopherDigitNoise)).otherwise(lit("")))
      TextAnalysis.gopherQualityFilter(
        Tables.documents(s, d)
          .filter(id.isNotNull && col("text").isNotNull)
          .withColumn("gtext", noisy),
        "doc_id", "gtext")
        .orderBy(col("doc_id"))
    }),

    // D44 (pipeline): SemDeDup — embedding-space semantic dedup
    // (IVF cells + within-cell cosine thresholding, min-id wins),
    // the pass that drops re-rendered/paraphrased duplicates text
    // dedup can't see. md5Sig + int8-quantized vectors drive the
    // d35 twin arithmetic end to end, so DuckDB re-derives every
    // centroid, cell argmax, pair cosine and drop verdict exactly.
    "d57_semantic_dedup" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.semanticDedup(q8, "vec_id", "qv", threshold = 0.4,
        nlist = 16, md5Sig = true)
        .select(col("vec_id"), col("cell_id"), col("keep"),
          col("dropped_by"))
        .orderBy(col("vec_id"))
    }),

    // D45 (pipeline): persistent ANN index — build the IVF-PQ index
    // ONCE as bucketed tables, serve top-k against it with probed-
    // bucket pruning and index-side re-rank vectors (at 100 TB the
    // corpus cannot be re-encoded per query batch — the d46
    // index-once pattern, for similarity serving). Same md5 twin
    // arithmetic and parameters as d50, so the d50 oracle SQL proves
    // index build + pruned read == direct computation (the entry
    // deliberately pays build + query per run, like d46; Bench times
    // the steady query-only path as d58_query).
    "d58_ann_index" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8, "vec_id", "qv", name = "d58_idx",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.annTopKAgainstIndex(q8.filter(col("vec_id") < 50),
        "vec_id", "qv", name = "d58_idx", k = 10, nprobe = 4,
        shortlistFactor = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D45c: ANN index occupancy stats — the ops histogram behind the
    // retrain/re-balance decision (a 10×-share cell is the straggler
    // of every probed scan; an empty cell is a wasted probe). The
    // centroid join surfaces empty cells as zeros; the scan reads
    // ONLY cell_id. Oracle reuses the d50/d58 cell CTEs verbatim, so
    // the stats and the index assignment machinery cannot drift.
    "d79_ann_index_stats" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8, "vec_id", "qv", name = "d79_idx",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.annIndexStats(s, "d79_idx")
        .orderBy(col("cell_id"))
    }),

    // D45b: RANGE search over the persistent ANN index — "everything
    // within distance r", the dedup/retrieval query shape top-k
    // can't express (k is unknown; a cut could drop a true in-range
    // vector, so there is deliberately NO ADC shortlist: the probed
    // cells' vectors score exactly, still bucket-pruned). The twin
    // discipline makes it FULLY oracle-checked: int8 vectors +
    // md5-order centroids → cell assignment, probes and every exact
    // distance are integer arithmetic DuckDB re-derives; the oracle
    // reuses the SAME cell CTEs as d50/d58, so index and range
    // machinery cannot drift.
    "d69_ann_range" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8, "vec_id", "qv", name = "d69_idx",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.annRangeAgainstIndex(q8.filter(col("vec_id") < 50),
        "vec_id", "qv", name = "d69_idx", radius2 = 160000.0, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    // D38 composition: sequence packing driven by REAL BPE counts —
    // the re-base the D38 `real` flag promises, proven end to end
    // with an oracle (the d51 merge-chain CTEs feed the d32 prefix-
    // sum arithmetic; a single drifted token count anywhere breaks
    // the hash).
    "d59_bpe_pack" -> ((s, d) =>
      Packing.sequencePack(
        Tables.documents(s, d)
          .filter(col("doc_id").isNotNull && col("text").isNotNull),
        "doc_id",
        tokens = graft.functions.BpeTokenizer.bpeTokenCount(col("text"))
          .cast("long"),
        orderCol = md5(col("doc_id").cast("string")),
        capacity = 2048L)
        .orderBy(col("doc_id"))),

    // D46 (pipeline): BPE tokenizer TRAINING — vocabulary induction
    // from the corpus (the production half of D38, which APPLIES a
    // fixed table). Training runs on a deterministic md5 QUARTER of
    // the corpus — the industrial shape (a tokenizer trains on a
    // sample; M full-corpus passes per merge would be the naive
    // cost) — eight rounds of count-pairs/merge-the-winner in the
    // d51 canonical form; fully oracle-checked, with a per-round
    // corpus digest (bit_xor of per-doc md5-hash60 of the canonical
    // state) pinning the entire evolving state, and the oracle
    // cross-validated against an independent priority-loop reference
    // during development.
    "d60_bpe_train" -> ((s, d) =>
      TextAnalysis.trainBpe(Tables.documents(s, d).filter(d60Slice),
        "doc_id", "text", numMerges = d60Merges)
        .orderBy(col("rank"))),

    // D46c: BUDGET-driven training slice — the d60 trainer fed by
    // bpeTrainingSlice (D36's two-phase budget arithmetic under an
    // md5-hash corpus-shuffle priority) instead of a fixed quarter:
    // "train on <= 20k tokens" as a first-class parameter. The
    // oracle re-derives slice membership with the d47 window form
    // over the same (md5Hash60 DESC, doc_id) order, then replays the
    // full per-round training chain on that slice — a drift in
    // EITHER the budget cut or the training loop breaks the merge
    // list and its state digests.
    "d66_bpe_budget_train" -> ((s, d) =>
      TextAnalysis.trainBpe(
        TextAnalysis.bpeTrainingSlice(Tables.documents(s, d),
          "doc_id", "text", tokenBudget = d66Budget),
        "doc_id", "text", numMerges = d60Merges)
        .orderBy(col("rank"))),

    // D46b: tokenize with the TRAINED vocabulary — the train→apply
    // composition a real pipeline runs: induce merges on the SAMPLE,
    // tokenize the FULL corpus under them. The learned table is a
    // bounded driver pull (numMerges rows, memoized per sf-dir like
    // the media store — deterministic, so the memo is sound);
    // application is a pure scan projection (one replace per learned
    // merge on the canonical form — the d51 property again). Oracle
    // = the sliced training chain's merges applied to the full
    // corpus, so a drift anywhere in training OR application breaks
    // the per-doc md5s.
    "d61_trained_tokenize" -> ((s, d) => {
      val merges = trainedMerges(s, d)
      val ts0 = regexp_replace(lower(hex(col("text").cast("binary"))),
        "([0-9a-f]{2})", "|$1|")
      val ts = merges.foldLeft(ts0) { case (acc, (a, b)) =>
        replace(acc, lit(s"|$a||$b|"), lit(s"|$a$b|"))
      }
      Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          ((length(ts) - length(replace(ts, lit("|"), lit("")))) / 2)
            .cast("long").as("n_trained"),
          md5(ts).as("trained_md5"))
        .orderBy(col("doc_id"))
    }),

    // D47 (pipeline): the COMPOSED preprocessing pipeline — extract
    // main content from planted pages (every 10th doc republishes a
    // shared body: the mirror-site shape), Gopher-gate the extracted
    // text, exact-dedup it keep-min (the planted family collapses to
    // its min-id representatives), and sequence-pack the survivors.
    // One end-to-end hash proves the OPERATORS COMPOSE: a drift in
    // any stage — a block verdict, a gate ratio, a keeper choice, a
    // prefix-sum offset — breaks the final per-doc rows.
    "d62_pipeline" -> ((s, d) => {
      val id = col("doc_id")
      val body = when(id % 10 === 0, lit(d62SharedText))
        .otherwise(col("text"))
      val extracted = TextAnalysis.extractMainHtml(
        Tables.documents(s, d)
          .filter(id.isNotNull && col("text").isNotNull)
          .withColumn("html", plantedHtml(body)),
        "doc_id", "html")
        .select(col("doc_id"), col("main_text"))
      val gateKeep = TextAnalysis.gopherQualityFilter(
        extracted, "doc_id", "main_text", minWords = 20)
        .filter(col("keep")).select(col("doc_id"))
      val kept = extracted.join(gateKeep.hint("SHUFFLE_HASH"), Seq("doc_id"))
        .withColumn("mh", md5(col("main_text")))
      val keepers = kept.groupBy(col("mh")).agg(min(id).as("doc_id"))
      val unique = kept.join(keepers.hint("SHUFFLE_HASH"),
        Seq("mh", "doc_id"))
      Packing.sequencePack(unique, "doc_id",
        tokens = TextAnalysis.wsTokenCount(col("main_text")).cast("long"),
        orderCol = md5(id.cast("string")),
        capacity = 2048L)
        .join(unique.select(col("doc_id"), col("mh")), Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("start_off"),
          col("bin_start"), col("bin_end"), col("mh").as("main_md5"))
        .orderBy(col("doc_id"))
    }),

    // D57: corpus report card — the "data card" aggregate a curation
    // run publishes with its output: per-(lang, source) doc counts,
    // token mass, mean quality and distinct-content counts (the dup
    // rate's numerator), with ROLLUP subtotals and the grand total in
    // ONE grouping-sets aggregate (Expand + hash agg, map-side
    // partials, no windows/joins). Fully oracle-checked; null-group
    // ordering pinned NULLS FIRST on both engines.
    "d78_corpus_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        // quality in EXACT 1e-4 integer units: a group avg over
        // thousands of rounded doubles lands on round-half
        // boundaries where a 1-ulp addition-order difference flips
        // the 4th decimal across engines (it did, at sf0.1); an
        // integer numerator makes the division and its rounding
        // bit-identical everywhere
        .withColumn("__qi",
          round(TextAnalysis.qualityScore(col("text")) * 10000, 0)
            .cast("long"))
        .withColumn("__n",
          TextAnalysis.wsTokenCount(col("text")).cast("long"))
      docs.rollup(col("lang"), col("source"))
        .agg(grouping_id().as("lvl"),
          count(lit(1)).as("n_docs"),
          sum(col("__n")).as("n_tokens"),
          round(sum(col("__qi")).cast("double") /
            (count(lit(1)) * 10000L).cast("double"), 4).as("avg_quality"),
          count_distinct(md5(col("text"))).as("n_distinct"))
        .orderBy(col("lvl"), col("lang").asc_nulls_first,
          col("source").asc_nulls_first)
    }),

    // D47b (model-gated pipeline): the d62 capstone with the LEARNED
    // stage composed in — extract → rule gate → NB-classifier gate
    // (trained in-plan on the rule-gated extracted texts' d60 slice,
    // lang=='en' labels; kept iff rounded log-odds > 0) → keep-min
    // dedup → pack. The production filter order (free rules first,
    // model inference second), and the proof that even a TRAINED
    // MODEL stage is engine-reproducible inside the composed chain:
    // one end-to-end hash covers block verdicts, gate ratios, every
    // training count, the weight/floor/prior arithmetic, the gate
    // sign, keeper choices and prefix-sum offsets.
    "d77_model_pipeline" -> ((s, d) => {
      val id = col("doc_id")
      val body = when(id % 10 === 0, lit(d62SharedText))
        .otherwise(col("text"))
      val docs0 = Tables.documents(s, d)
        .filter(id.isNotNull && col("text").isNotNull)
      // pinned once (narrow (doc_id, main_text) rows): the chain
      // below reads the extraction ~8 times (gate, train counts,
      // scoring stream, dedup, pack, final join) and the HtmlKernels
      // pass is the chain's most expensive projection — one eager
      // localCheckpoint trades one extraction pass for all repeats
      // (batch-scoped lifetime, the C12 pin discipline; 7.7 → ~3 s
      // at sf0.1)
      val extracted = TextAnalysis.extractMainHtml(
        docs0.withColumn("html", plantedHtml(body)), "doc_id", "html")
        .select(col("doc_id"), col("main_text"))
        .localCheckpoint(true)
      val gateKeep = TextAnalysis.gopherQualityFilter(
        extracted, "doc_id", "main_text", minWords = 20)
        .filter(col("keep")).select(col("doc_id"))
      val ruleKept = extracted
        .join(gateKeep.hint("SHUFFLE_HASH"), Seq("doc_id"))
      val labeled = ruleKept.join(
        docs0.select(col("doc_id"), col("lang")).hint("SHUFFLE_HASH"),
        Seq("doc_id"))
      val modelKeep = TextAnalysis.nbLogOdds(labeled, "doc_id",
        "main_text", label = col("lang") === "en",
        trainFilter = d60Slice)
        .filter(col("log_odds") > 0)
        .select(col("doc_id"), col("log_odds"))
      val kept = ruleKept
        .join(modelKeep.hint("SHUFFLE_HASH"), Seq("doc_id"))
        .withColumn("mh", md5(col("main_text")))
      val keepers = kept.groupBy(col("mh")).agg(min(id).as("doc_id"))
      val unique = kept.join(keepers.hint("SHUFFLE_HASH"),
        Seq("mh", "doc_id"))
      Packing.sequencePack(unique, "doc_id",
        tokens = TextAnalysis.wsTokenCount(col("main_text")).cast("long"),
        orderCol = md5(id.cast("string")),
        capacity = 2048L)
        .join(unique.select(col("doc_id"), col("mh"), col("log_odds")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("start_off"),
          col("bin_start"), col("bin_end"), col("mh").as("main_md5"),
          col("log_odds"))
        .orderBy(col("doc_id"))
    }),

    // D103: READER-vs-WRITER consistency — the generation swap's
    // reader contract: a reader that resolved a table BEFORE a
    // maintenance rewrite keeps scanning its own immutable generation
    // to completion while new readers see the new generation; no
    // instant at which either observes a missing table. The entry
    // runs the race in sequence — write the table, PIN a reader on
    // it, compact it through a retention sweep (a generation swap),
    // then count through BOTH handles — and the oracle re-derives both
    // counts from the corpus, so a hash match proves the pinned
    // snapshot really is the pre-rewrite corpus and the current one
    // the post-rewrite corpus, not two reads of one mutating table.
    "d137_versioned_read" -> ((s, d) => {
      import graft.sources.Bucketing
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      Bucketing.writeBucketed(docs, "d137_vt", "doc_id", 8)
      val pinned = s.table("d137_vt") // resolves the written generation
      Bucketing.compactBucketed(_.filter(col("doc_id") % 3 =!= 0))(
        s, "d137_vt", "doc_id", 8)
      val cur = s.table("d137_vt") // resolves the swapped-in generation
      pinned.agg(count(lit(1)).as("n"))
        .select(lit("pinned_v1").as("snapshot"), col("n"))
        .unionByName(cur.agg(count(lit(1)).as("n"))
          .select(lit("current_v2").as("snapshot"), col("n")))
        .orderBy(col("snapshot"))
    }),

    // D105/D106: the ops card's DRIFT DIRECTIONS + integrity digest,
    // oracle-pinned: a bm25 index whose landed frame SHRANK under it
    // (retention/realm-clear) reads negative drift → retire; a dedup
    // index built on half the landed corpus reads positive drift →
    // reconcile; and in both drifted states the ids digest computes
    // UNEQUAL (pinned FALSE). DuckDB re-derives every count and pins
    // the verbs, so the card's direction rule — not just its
    // arithmetic — is the checked artifact.
    "d138_drift_directions" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      // three INDEPENDENT family builds — overlapped (guide §2.6).
      // The sim slot fabricates a torn side-table state INSIDE its
      // own thunk (ordered: build → frames append → `_vframes`
      // drop — exactly what a death between
      // appendVideoFramesToSimIndex's two writes leaves, the state
      // the video screen silently degrades on; the card must read it
      // as side_digest_match = FALSE).
      graft.Par.run(
        () => Retrieval.buildBm25Index(docs, "doc_id", "text",
          name = "d138_bx"),
        () => Dedup.buildDedupIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", name = "d138_dx", md5Sig = true),
        () => {
          Dedup.buildSimIndex(docs
            .select(col("doc_id"), xxhash64(col("doc_id")).as("sim")),
            name = "d138_sx", maxDist = 2)
          Dedup.appendVideoFramesToSimIndex(
            docs.filter(col("doc_id") % 5 === 0)
              .select(col("doc_id"),
                explode(sequence(lit(0), lit(2))).as("frame_idx"))
              .select(col("doc_id"), col("frame_idx"),
                xxhash64(col("doc_id"), col("frame_idx")).as("sim")),
            "d138_sx")
          graft.sources.Bucketing.dropTableAndDir(s, "d138_sx_vframes")
        })
      // the STORE's three decision states (r20), planted
      // deterministically and built once per sf dir: an unreferenced
      // orphan (a landed-but-unpublished crash leftover) → vacuum;
      // grace files outweighing the live set (a compaction that
      // replaced every file under a long reader-grace horizon) →
      // retire; two sorted appends never compacted (two files per
      // hour over a cap of one) → compact. doc_id % 48 → hour keeps
      // every file count oracle-derivable.
      val storeEv = docs
        .filter(col("doc_id").isNotNull && col("doc_id") < 96)
        .select(col("doc_id").cast("long").as("id"),
          (lit(1704153600000L) + (col("doc_id") % 48) * 3600000L)
            .cast("long").as("time"))
      val key = ABlock.storeKey(s, d)
      val stA = "/tmp/graft_d138_sta_" + key
      ABlock.cachedStore(s, stA) { st =>
        graft.sources.SnapshotEventStore.init(s, st)
        graft.sources.SnapshotEventStore.append(storeEv, st,
          sortWithin = Seq("id"))
        // plant the orphan: a byte-copy of a live file under a name
        // no manifest references
        val fs = new org.apache.hadoop.fs.Path(st)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val part = new org.apache.hadoop.fs.Path(
          s"$st/dt=2024-01-02/hour=0")
        val src = fs.listStatus(part).map(_.getPath)
          .find(p => !p.getName.startsWith("_") &&
            !p.getName.startsWith(".")).get
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new org.apache.hadoop.fs.Path(part, "orphan-d138.parquet"),
          false, s.sparkContext.hadoopConfiguration)
        ()
      }
      val stB = "/tmp/graft_d138_stb_" + key
      ABlock.cachedStore(s, stB) { st =>
        graft.sources.SnapshotEventStore.init(s, st)
        graft.sources.SnapshotEventStore.append(storeEv, st,
          sortWithin = Seq("id"))
        graft.sources.SnapshotEventStore.append(storeEv, st,
          sortWithin = Seq("id"))
        graft.sources.SnapshotEventStore.compact(s, st,
          maxFilesPerPartition = 1, keepSnapshots = 5)
        ()
      }
      val stC = "/tmp/graft_d138_stc_" + key
      ABlock.cachedStore(s, stC) { st =>
        graft.sources.SnapshotEventStore.init(s, st)
        graft.sources.SnapshotEventStore.append(storeEv, st,
          sortWithin = Seq("id"))
        graft.sources.SnapshotEventStore.append(storeEv, st,
          sortWithin = Seq("id"))
        ()
      }
      OpsCard.indexOpsCard(s, Seq(
        OpsCard.Entry("bm25", "d138_bx",
          docs.filter(col("doc_id") % 2 === 0), "doc_id"),
        OpsCard.Entry("dedup", "d138_dx", docs, "doc_id"),
        OpsCard.Entry("sim", "d138_sx", docs, "doc_id")),
        stores = Seq(
          OpsCard.StoreEntry("d138_sta", stA, maxFilesPerPartition = 1),
          OpsCard.StoreEntry("d138_stb", stB, maxFilesPerPartition = 1),
          OpsCard.StoreEntry("d138_stc", stC, maxFilesPerPartition = 1)))
        .select(col("family"), col("index_name"), col("n_items"),
          col("n_landed"), col("drift_vs_landed"),
          col("ids_digest_match"), col("side_digest_match"),
          col("suggested_verb"))
        .orderBy(col("family"), col("index_name"))
    }),

    // D104: the RETRIEVAL-QUALITY decision card — rankedEval
    // composed into the artifact the other families already have
    // (d116/d117/d123's sweep→decide discipline): ONE planted qrels
    // set, one probe batch (query-by-example on the d122
    // punctuation-planted corpus, where tokenizer families GENUINELY
    // differ), and a mean-metrics row per arm: bm25_ws / bm25_norm /
    // bm25_uni (which family should the index be built with), dense
    // (the embedding leg alone), hybrid_rrf (is fusion worth it).
    // Fully oracle-checked: DuckDB re-derives all three families'
    // corpus+query tokenizations, all five runs (incl. the cosine
    // leg and the RRF fusion), every per-query metric and the means.
    "d139_retrieval_card" -> ((s, d) => {
      // the card consumes the joined corpus ~8× (three lexical arms,
      // qrels ×3, probes, the dense leg's query and corpus sides) —
      // materialize the join ONCE per run (guide §3.3: truncate a
      // reused intermediate) instead of re-running the scan+join per
      // consumer; recomputed from the parquet inputs every run
      val corp = cardCorpus(s, d)
      val probes = corp.filter(col("doc_id").isin(1L, 2L, 3L))
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val qrels = Seq(1L, 2L, 3L).map(q =>
        corp.filter(col("doc_id") % (5 + q) === q)
          .select(lit(q).as("query_id"), col("doc_id"),
            (lit(1L) + col("doc_id") % 3).as("grade")))
        .reduce(_ unionByName _)
      val dense = Similarity.bruteForceTopK(
        corp.filter(col("doc_id").isin(1L, 2L, 3L)), corp,
        "doc_id", "embedding", k = 20)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("doc_id"))
      Retrieval.retrievalQualityCard(corp, "doc_id", "text",
        probes, "query_id", "qtext", qrels, k = 10, topK = 20,
        k1 = 1.5, b = 0.75, denseRun = Some(dense),
        hybridLex = "norm")
    }),

    // D104↑ (LM arm): the d139 card extended with the engine's OTHER
    // ranking model — `lm_dirichlet` (norm-family Dirichlet QL,
    // μ=2000) plus `hybrid_rrf_lm` (LM×dense fusion), so the card
    // answers "BM25 or LM, fused or not" as measured numbers. Oracle
    // = the d139 SQL parameterized with the two extra arms — DuckDB
    // re-derives the LM run (cf_t, total tokens, per-query |Q|, the
    // decomposed Dirichlet score), its fusion, and every mean.
    "d150_card_lm" -> ((s, d) => {
      // one materialized corpus join per run — the d139 rationale
      val corp = cardCorpus(s, d)
      val probes = corp.filter(col("doc_id").isin(1L, 2L, 3L))
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val qrels = Seq(1L, 2L, 3L).map(q =>
        corp.filter(col("doc_id") % (5 + q) === q)
          .select(lit(q).as("query_id"), col("doc_id"),
            (lit(1L) + col("doc_id") % 3).as("grade")))
        .reduce(_ unionByName _)
      val dense = Similarity.bruteForceTopK(
        corp.filter(col("doc_id").isin(1L, 2L, 3L)), corp,
        "doc_id", "embedding", k = 20)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("doc_id"))
      Retrieval.retrievalQualityCard(corp, "doc_id", "text",
        probes, "query_id", "qtext", qrels, k = 10, topK = 20,
        k1 = 1.5, b = 0.75, denseRun = Some(dense),
        hybridLex = "norm", lmMu = Some(2000.0))
    }),

    // D107: BM25 index shard MERGE — the consolidation verb a
    // 100 TB ingest actually runs (build small indexes near the
    // data, merge off the hot path — the Lucene segment-merge
    // shape). Twin proof: build one index on the even doc ids and
    // one on the odds, merge, serve the d70 query from the MERGED
    // index — the oracle is the d70/d112 full-corpus SQL VERBATIM,
    // so a hash match proves merged == built-whole through the real
    // serve path (postings union, summed df, re-derived meta).
    "d140_merged_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      // independent shard builds — overlapped (guide §2.6)
      graft.Par.run(
        () => Retrieval.buildBm25Index(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", name = "d140_a"),
        () => Retrieval.buildBm25Index(docs.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "text", name = "d140_b"))
      Retrieval.mergeBm25Indexes(s, "d140_m", Seq("d140_a", "d140_b"))
      Retrieval.bm25TopKAgainstIndex(s, "d140_m",
        queryTerms = d70Terms, topK = 20, k1 = 1.5, b = 0.75)
    }),

    // D108: pseudo-relevance-feedback BM25 (RM3-lite, unweighted
    // expansion — the deterministic simplification is disclosed in
    // the scaladoc): base run → top-3 docs → their 5 strongest
    // non-query terms (total tf, desc, term tie-break) → re-run
    // with the expanded set. Fully oracle-checked: DuckDB re-derives
    // BOTH scored passes, the feedback-doc cut and the mined-term
    // selection — the expansion is corpus-derived, so the oracle
    // proves the whole feedback loop, not a fixed term list.
    "d141_prf_bm25" -> ((s, d) => {
      Retrieval.bm25PrfTopK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = d70Terms, topK = 20, fbDocs = 3, fbTerms = 5,
        k1 = 1.5, b = 0.75)
    }),

    // D109: SNIPPET WINDOW selection — d132's match positions
    // composed into the span a result page actually shows: per
    // top-5 doc, the 8-token window covering the most DISTINCT
    // query terms (then most hits, then earliest), anchored at term
    // occurrences. Fully oracle-checked: DuckDB re-derives the
    // serve, the positions AND the window argmax — the snippet
    // CHOICE is the checked artifact, through the real
    // build→serve→postings path.
    "d142_snippet_windows" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id",
        "text", name = "d142_idx")
      Retrieval.snippetWindowsAgainstIndex(s, "d142_idx",
        queryTerms = d70Terms, topK = 5, window = 8,
        k1 = 1.5, b = 0.75)
    }),

    // D104 (indexed twin): the d139 decision card with all three
    // lexical arms served from PERSISTENT family-built indexes
    // instead of fresh scans — the production posture once the card
    // runs repeatedly. Oracle = d139's SQL VERBATIM: a hash match
    // proves three index builds + bucket-pruned batch serving feed
    // the eval to the SAME decision numbers as direct corpus
    // recomputation (the d112 twin discipline lifted to the whole
    // card).
    "d144_indexed_card" -> ((s, d) => {
      // one materialized corpus join per run (the d139 rationale),
      // and the three single-family index builds are INDEPENDENT —
      // overlapped (graft.Par, guide §2.6) instead of serial behind
      // each other's commit/DDL driver gaps
      val corp = cardCorpus(s, d)
      graft.Par.run(Seq("ws", "norm", "uni").map(f =>
        () => Retrieval.buildBm25Index(corp, "doc_id", "text",
          name = s"d144_${f}_idx", tokenizer = f)): _*)
      val probes = corp.filter(col("doc_id").isin(1L, 2L, 3L))
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val qrels = Seq(1L, 2L, 3L).map(q =>
        corp.filter(col("doc_id") % (5 + q) === q)
          .select(lit(q).as("query_id"), col("doc_id"),
            (lit(1L) + col("doc_id") % 3).as("grade")))
        .reduce(_ unionByName _)
      val dense = Similarity.bruteForceTopK(
        corp.filter(col("doc_id").isin(1L, 2L, 3L)), corp,
        "doc_id", "embedding", k = 20)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("doc_id"))
      Retrieval.retrievalQualityCard(corp, "doc_id", "text",
        probes, "query_id", "qtext", qrels, k = 10, topK = 20,
        k1 = 1.5, b = 0.75, denseRun = Some(dense),
        hybridLex = "norm",
        indexedArms = Map("ws" -> "d144_ws_idx",
          "norm" -> "d144_norm_idx", "uni" -> "d144_uni_idx"))
    }),

    // D104↑ (indexed LM card): the FULL seven-arm card through
    // persistent indexes — the three lexical arms AND the Dirichlet
    // arm all serve from the three family-built indexes (the LM arm
    // from the norm index via lmDirichletRanksAgainstIndex — one
    // index, two ranking models, batch face). Oracle = d150's SQL
    // VERBATIM: one hash match proves the whole indexed decision
    // card re-derives the fresh one bit for bit.
    "d157_indexed_card_lm" -> ((s, d) => {
      // one materialized corpus join per run + overlapped independent
      // index builds — the d144 rationale
      val corp = cardCorpus(s, d)
      graft.Par.run(Seq("ws", "norm", "uni").map(f =>
        () => Retrieval.buildBm25Index(corp, "doc_id", "text",
          name = s"d157_${f}_idx", tokenizer = f)): _*)
      val probes = corp.filter(col("doc_id").isin(1L, 2L, 3L))
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val qrels = Seq(1L, 2L, 3L).map(q =>
        corp.filter(col("doc_id") % (5 + q) === q)
          .select(lit(q).as("query_id"), col("doc_id"),
            (lit(1L) + col("doc_id") % 3).as("grade")))
        .reduce(_ unionByName _)
      val dense = Similarity.bruteForceTopK(
        corp.filter(col("doc_id").isin(1L, 2L, 3L)), corp,
        "doc_id", "embedding", k = 20)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("doc_id"))
      Retrieval.retrievalQualityCard(corp, "doc_id", "text",
        probes, "query_id", "qtext", qrels, k = 10, topK = 20,
        k1 = 1.5, b = 0.75, denseRun = Some(dense),
        hybridLex = "norm", lmMu = Some(2000.0),
        indexedArms = Map("ws" -> "d157_ws_idx",
          "norm" -> "d157_norm_idx", "uni" -> "d157_uni_idx"))
    }),

    // D108 (weighted): PRF with the RM3-style interpolation the
    // unweighted d141 disclosed skipping — score = λ·bm25(d, Q) +
    // (1−λ)·bm25(d, E), the original query keeping majority weight
    // instead of being diluted by its own expansion. λ = 0.5 (exact
    // in binary, so both engines blend one identical double); the
    // blend rounds ONCE. Fully oracle-checked: both raw score sets,
    // the feedback cut, the mined terms AND the blend re-derived.
    "d145_prf_blended" -> ((s, d) => {
      Retrieval.bm25PrfBlendedTopK(Tables.documents(s, d), "doc_id",
        "text", queryTerms = d70Terms, topK = 20, lambda = 0.5,
        fbDocs = 3, fbTerms = 5, k1 = 1.5, b = 0.75)
    }),

    // D111: BM25 VOCABULARY-DRIFT card — the lexical sibling of the
    // d143 ANN drift card: how much of an arriving batch's
    // vocabulary is NEW to the index (term share and token mass)?
    // Index on the even half; the odd half arrives carrying a
    // planted novel token family, so both shares are provably
    // nonzero. Fully oracle-checked: DuckDB re-derives the index
    // vocabulary, the batch tokenization (the index's own family),
    // the newness join and every share.
    "d146_bm25_ingest_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      Retrieval.buildBm25Index(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", name = "d146_idx")
      val batch = docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" novelton"),
            (col("doc_id") % 7).cast("string")).as("text"))
      Retrieval.bm25IngestDriftCard(s, "d146_idx", batch,
        "doc_id", "text")
    }),

    // D112: Dirichlet-smoothed QUERY-LIKELIHOOD retrieval (Zhai &
    // Lafferty 2001; Lucene's LMDirichletSimilarity) — the second
    // canonical ranking model, in its rank-equivalent decomposed
    // form over candidates (≥ 1 matching term), μ = 2000. Fresh-scan
    // form; d148 serves the SAME query from the persistent BM25
    // index (postings already carry tf + dl; cf_t derives from the
    // pruned postings; total tokens from meta) — one index, two
    // ranking models. Fully oracle-checked.
    "d147_lm_dirichlet" -> ((s, d) => {
      Retrieval.lmDirichletTopK(Tables.documents(s, d), "doc_id",
        "text", queryTerms = d70Terms, topK = 20, mu = 2000.0)
    }),

    // D112 (indexed twin): oracle = d147's SQL verbatim — a hash
    // match proves the index's stored tf/dl/sum_dl feed the
    // Dirichlet arithmetic to the same ranking as the fresh corpus
    // scan, bit for bit.
    "d148_indexed_dirichlet" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id",
        "text", name = "d148_idx")
      Retrieval.lmDirichletAgainstIndex(s, "d148_idx",
        queryTerms = d70Terms, topK = 20, mu = 2000.0)
    }),

    // D108 (indexed twin): PRF served end-to-end from the persistent
    // postings — both scored passes AND the feedback-term mining
    // (the mining reads stored tf, no corpus tokenize). Oracle =
    // d141's SQL verbatim: one hash match proves the index path
    // re-derives the fresh feedback loop bit for bit (the d112/d148
    // one-string-proves-two-paths discipline).
    "d149_indexed_prf" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id",
        "text", name = "d149_idx")
      Retrieval.bm25PrfAgainstIndex(s, "d149_idx",
        queryTerms = d70Terms, topK = 20, fbDocs = 3, fbTerms = 5,
        k1 = 1.5, b = 0.75)
    }),

    // D108 (indexed + blended twin): the RM3 interpolation on the
    // persistent postings — oracle = d145's SQL verbatim.
    "d151_indexed_prf_blended" -> ((s, d) => {
      Retrieval.buildBm25Index(Tables.documents(s, d), "doc_id",
        "text", name = "d151_idx")
      Retrieval.bm25PrfBlendedAgainstIndex(s, "d151_idx",
        queryTerms = d70Terms, topK = 20, lambda = 0.5,
        fbDocs = 3, fbTerms = 5, k1 = 1.5, b = 0.75)
    }),

    // D115 (dedup): shard MERGE for the MinHash family — the d140
    // consolidation verb extended to the dedup index (the r18
    // verdict's #4). Twin proof: two shards built on the
    // non-batch evens/odds, merged, the batch screened against the
    // MERGED index — oracle = d126's incremental SQL verbatim, so a
    // hash match proves merged == the one index a whole build (or a
    // reconcile to the same set) produces, through the real screen.
    "d152_merged_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val isBatch = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      // independent shard builds — overlapped (guide §2.6)
      graft.Par.run(
        () => Dedup.buildDedupIndex(
          docs.filter(!isBatch && col("doc_id") % 2 === 0),
          "doc_id", "text", name = "d152_a", md5Sig = true),
        () => Dedup.buildDedupIndex(
          docs.filter(!isBatch && col("doc_id") % 2 =!= 0),
          "doc_id", "text", name = "d152_b", md5Sig = true))
      Dedup.mergeDedupIndexes(s, "d152_m", Seq("d152_a", "d152_b"))
      Dedup.dedupAgainstIndex(docs.filter(isBatch), "doc_id", "text",
        name = "d152_m")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // D115 (url): frontier shard MERGE — URL keys union DEDUPED
    // (shards legitimately remember the same URL; the frontier is a
    // set). Twin proof: the d129 shape with reconcile replaced by
    // merge; oracle = d84's SQL verbatim.
    "d153_merged_url" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
        .select(col("doc_id"), plantedUrl.as("url"))
      val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
      // independent shard builds — overlapped (guide §2.6)
      graft.Par.run(
        () => Dedup.buildUrlIndex(
          docs.filter(h1 === "0" && col("doc_id") % 2 === 0),
          "url", "d153_a"),
        () => Dedup.buildUrlIndex(
          docs.filter(h1 === "0" && col("doc_id") % 2 =!= 0),
          "url", "d153_b"))
      Dedup.mergeUrlIndexes(s, "d153_m", Seq("d153_a", "d153_b"))
      Dedup.screenAgainstUrlIndex(docs.filter(h1 >= "8"), "url",
        "d153_m")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // D115 (ANN): shard MERGE for the dense family under the
    // shared-codebook precondition — geometry trains ONCE on the
    // evens (shardFromAnnIndex clones it empty), the odds encode
    // into the shard against that SAME geometry, merge consolidates.
    // Oracle: the IVFPQ twin SQL with cells AND book trained on the
    // evens slice, every vector assigned/encoded against them —
    // exactly what the merged index must serve, re-derived whole.
    "d154_merged_ann" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8.filter(col("vec_id") % 2 === 0),
        "vec_id", "qv", name = "d154_train",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.shardFromAnnIndex(s, "d154_train", "d154_shard")
      Similarity.appendToAnnIndex(q8.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "qv", "d154_shard")
      Similarity.mergeAnnIndexes(s, "d154_m",
        Seq("d154_train", "d154_shard"))
      Similarity.annTopKAgainstIndex(q8.filter(col("vec_id") < 50),
        "vec_id", "qv", name = "d154_m", k = 10, nprobe = 4,
        shortlistFactor = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("dist2").cast("long").as("dist2"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // D116: DEDUP INGEST-DRIFT card — the MinHash sibling of d146's
    // vocabulary drift and d143's cell drift: how much of an
    // arriving batch's candidate space (band keys) and exact-content
    // space (md5 hashes) is NEW to the dedup index — the
    // reband/ingest decision input. Index on the evens (md5Sig =
    // the d30 oracle-reproducible family); the odds arrive with a
    // novel token planted on every third doc, so both signals are
    // provably mixed. Oracle: DuckDB re-derives both sides' md5-
    // minhash band VECTORS (the d97 discipline — band novelty by
    // vector equals novelty by the engine's xxhash64 fold modulo
    // the collision-freeness d97 pins), the hash sets, and every
    // count/share.
    "d155_dedup_ingest_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      Dedup.buildDedupIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", name = "d155_idx", md5Sig = true)
      val batch = docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" novelton"),
              (col("doc_id") % 7).cast("string")))
            .otherwise(col("text")).as("text"))
      Dedup.dedupIngestDriftCard(s, "d155_idx", batch,
        "doc_id", "text")
    }),

    // D115 (sim): shard MERGE for the perceptual-signature family —
    // the fifth and last family's consolidation verb. Twin proof:
    // the d67 shape with the one build split into even/odd shards
    // and merged; oracle = d67's screen SQL verbatim, so the hash
    // match proves merged == built-whole through the real
    // chunk-join + popcount screen.
    "d156_merged_sim" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("doc_id") % 3 === 1)
        .select(col("doc_id").cast("long")).as[Long]
      val corpus = base.mapPartitions(_.map(id =>
        Multimodal.MediaRow(id, "audio", Multimodal.audioPayload(id))))
      val batch = base.mapPartitions(_.flatMap(id => Iterator(
        Multimodal.MediaRow(id + Multimodal.PlantedIdOffset, "audio",
          Multimodal.remuxedAudioPayload(id)),
        Multimodal.MediaRow(id + 2 * Multimodal.PlantedIdOffset, "audio",
          Multimodal.unrelatedAudioPayload(id)))))
      val sigs = Multimodal.audioFingerprintSigs(s, corpus)
        .localCheckpoint(true)
      // independent shard builds — overlapped (guide §2.6)
      graft.Par.run(
        () => Dedup.buildSimIndex(sigs.filter(col("doc_id") % 2 === 0),
          "d156_a", maxDist = 2),
        () => Dedup.buildSimIndex(sigs.filter(col("doc_id") % 2 =!= 0),
          "d156_b", maxDist = 2))
      Dedup.mergeSimIndexes(s, "d156_m", Seq("d156_a", "d156_b"))
      Dedup.screenAgainstSimIndex(
        Multimodal.audioFingerprintSigs(s, batch), "d156_m")
        .select(col("doc_id"),
          expr("shiftrightunsigned(sim, 32)").as("sig_hi"),
          (col("sim").bitwiseAND(lit(0xFFFFFFFFL))).as("sig_lo"))
        .orderBy(col("doc_id"))
    }),

    // D116 (sim): INGEST-DRIFT card for the perceptual-signature
    // family — the last family's decision feed: exact-sig novelty
    // (re-encodes read known) beside pigeonhole CHUNK-key novelty
    // (the candidate space the screen is about to join through).
    // Index on the evens' md5-h60 sigs (the oracle-reproducible
    // basis); the batch carries half known (the %4==2 evens) and
    // half novel (%4==1 odds) sigs, so every share is provably
    // mixed. Oracle: DuckDB re-derives both sides' sigs, the
    // bit-slice chunk pieces (novelty-by-piece == novelty-by-
    // xxhash64-fold modulo the d97-pinned collision premise), and
    // every count/share.
    "d158_sim_ingest_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      val sig = Dedup.md5Hash60(col("doc_id").cast("string"))
      Dedup.buildSimIndex(
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), sig.as("sim")),
        name = "d158_idx", maxDist = 2)
      Dedup.simIngestDriftCard(s, "d158_idx",
        docs.filter((col("doc_id") % 4).isin(1, 2))
          .select(col("doc_id"), sig.as("sim")))
    }),

    // D117: the MAINTENANCE ACTUATOR LOOP — the decision feeds (stats
    // → drift cards → suggested_verb) closed into action: a scheduled
    // driver verb reads the ops card and executes each row's
    // suggested verb under its family's lease, one family per tick
    // (the budget cap). Two planted states, both REBUILT each run
    // because the loop heals them: a dedup index missing the odd half
    // of the landed corpus (positive drift → reconcile) and a store
    // carrying an unreferenced crash leftover (orphan → vacuum). The
    // output is the card BEFORE (pinned eagerly — the loop mutates
    // what a lazy plan would re-read) unioned with the card AFTER;
    // the oracle re-derives both phases, so a hash match proves the
    // loop ran exactly the suggested verbs and drove every row to
    // 'none'.
    "d159_actuator_loop" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      // storeKey suffix like d125/d138: concurrent processes on
      // DIFFERENT sf dirs must not clearAll each other's mid-build
      // store (the entry rebuilds per run by design — the loop heals
      // its plants — so only the path needs isolating). The dedup
      // build and the store setup chain are independent plants —
      // overlapped (guide §2.6); each chain stays ordered inside its
      // own thunk.
      val storePath = "/tmp/graft_d159_store_" + ABlock.storeKey(s, d)
      graft.Par.run(
        () => Dedup.buildDedupIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", name = "d159_dx", md5Sig = true),
        () => {
          graft.sources.EventStore.clearAll(s, storePath)
          graft.sources.SnapshotEventStore.init(s, storePath)
          graft.sources.SnapshotEventStore.append(
            docs.filter(col("doc_id") < 96)
              .select(col("doc_id").cast("long").as("id"),
                (lit(1704153600000L) + (col("doc_id") % 48) * 3600000L)
                  .cast("long").as("time")),
            storePath, sortWithin = Seq("id"))
          val fs = new org.apache.hadoop.fs.Path(storePath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val part = new org.apache.hadoop.fs.Path(
            s"$storePath/dt=2024-01-02/hour=0")
          val src = fs.listStatus(part).map(_.getPath)
            .find(p => !p.getName.startsWith("_") &&
              !p.getName.startsWith(".")).get
          org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
            new org.apache.hadoop.fs.Path(part, "orphan-d159.parquet"),
            false, s.sparkContext.hadoopConfiguration)
        })
      val entries = Seq((
        OpsCard.Entry("dedup", "d159_dx", docs, "doc_id"),
        OpsCard.Actions(reconcile = () => {
          Dedup.reconcileDedupIndex(docs, "doc_id", "text", "d159_dx")
          ()
        })))
      val stores = Seq(OpsCard.StoreEntry("d159_st", storePath,
        maxFilesPerPartition = 1))
      def cardNow(phase: String) =
        OpsCard.indexOpsCard(s, entries.map(_._1), stores)
          .select(lit(phase).as("phase"), col("family"),
            col("index_name"), col("n_items"), col("n_landed"),
            col("drift_vs_landed"), col("ids_digest_match"),
            col("suggested_verb"))
      val before = cardNow("1_before").localCheckpoint(true)
      OpsCard.maintenanceLoop(s, entries, stores, maxTicks = 4)
      before.unionByName(cardNow("2_after"))
        .orderBy(col("phase"), col("family"), col("index_name"))
    }),

    // D110: ANN INGEST-DRIFT card — annIndexStats' occupancy
    // compared against where an INCOMING batch would land, per
    // stored cell: the question an operator asks BEFORE a large
    // append ("does the trained geometry still describe what's
    // arriving?"), the decision input for rebalance/rebuild — the
    // dense sibling of d103_vocab_drift. Index trained/built on the
    // even vec_ids, the odd half probes as the batch. Fully
    // oracle-checked: DuckDB re-derives the even-trained centroids,
    // BOTH sides' cell assignments, the counts, shares and shifts.
    "d143_ann_ingest_drift" -> ((s, d) => {
      val q8 = Tables.embeddings(s, d).select(col("vec_id"),
        graft.functions.SketchFunctions.quantizeInt8Floats(
          col("embedding")).as("qv"))
      Similarity.buildAnnIndex(q8.filter(col("vec_id") % 2 === 0),
        "vec_id", "qv", name = "d143_idx",
        nlist = 16, m = 4, ksub = 8, md5Sig = true)
      Similarity.annIngestDriftCard(s, "d143_idx",
        q8.filter(col("vec_id") % 2 =!= 0), "vec_id", "qv")
    })
  )

  /** d60 round count, shared with the generated oracle SQL. */
  private val d60Merges = 8

  /** d60's deterministic training slice (a quarter of doc_ids by md5
    * first hex char), shared in spirit with the SQL mirror below. */
  private def d60Slice: org.apache.spark.sql.Column =
    substring(md5(col("doc_id").cast("string")), 1, 1)
      .isin("0", "1", "2", "3")
  private val d60SliceSql: String =
    "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')"

  /** d66's token budget: the D46 disclosure's "slice fraction driven
    * by a token budget" knob made real — training text is bounded by
    * trainer economics, not a hard-coded corpus fraction. */
  private val d66Budget = 20000L

  /** d70's query terms — corpus-vocabulary words with distinct
    * document frequencies so idf actually differentiates. */
  private val d70Terms = Seq("customer", "vector", "merge", "spark")

  /** The retrieval cards' (doc_id, text, embedding) corpus — the
    * documents×embeddings join every card arm consumes, MATERIALIZED
    * once per run (eager localCheckpoint): the four card entries
    * (d139/d144/d150/d157) each referenced this join ~8 times (three
    * lexical arms, qrels ×3, probes, both sides of the dense leg),
    * so Spark re-ran the scan+join per reference. One checkpoint per
    * run truncates the reused subtree (guide §3.3); everything is
    * still recomputed from the parquet inputs on every invocation —
    * nothing persists across runs. Identical rows to the inline
    * join, so the cards' oracle SQL is untouched. */
  private def cardCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).join(
      Tables.embeddings(s, d).hint("SHUFFLE_HASH"),
      col("doc_id") === col("vec_id"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"),
        concat(lit("("), regexp_replace(col("text"), " ", ". "),
          lit(")")).as("text"),
        col("embedding"))
      .localCheckpoint(true)

  /** d67/d120's screen oracle — the d64b fingerprint arithmetic over
    * corpus + batch, screen brute-forced at hamming <= 2. Shared
    * VERBATIM by the fresh-geometry build (d67) and the rechunked
    * index (d120): a hash match on d120 proves the index-local
    * re-chunk equals a fresh build at the new maxDist. */
  private val simScreenTwinSql: String =

      """WITH ids AS (
        |  SELECT doc_id AS src FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id % 3 = 1
        |), alla AS (
        |  SELECT src, src AS aid, 31 AS ka, 7 AS kb, 13 AS km, 0 AS batch
        |  FROM ids
        |  UNION ALL
        |  SELECT src, src + 10000000, 31, 7, 13, 1 FROM ids
        |  UNION ALL
        |  SELECT src, src + 20000000, 37, 11, 17, 1 FROM ids
        |), dims AS (
        |  SELECT aid, src, ka, kb, km, batch,
        |    1 + (src % 2) AS ch, 200 + (src % 100) AS nf
        |  FROM alla
        |), wins AS (
        |  SELECT d.aid, d.src, d.ka, d.kb, d.km, d.batch, d.ch, w.w,
        |    (w.w * d.nf) // 65 AS f0, ((w.w + 1) * d.nf) // 65 AS f1
        |  FROM dims d, (SELECT unnest(range(65)) AS w) w
        |), en AS (
        |  SELECT aid, batch, w,
        |    SUM(abs(v)) // ((f1 - f0) * ch) AS e
        |  FROM (
        |    SELECT aid, batch, w, f1, f0, ch,
        |      (((src * ka + j * kb + (src // 256) * (j % km)) % 251) - 125)
        |      * (1 + ((f * (1 + (src + ka) % 31)) % 97)) AS v
        |    FROM (
        |      SELECT ws.aid, ws.src, ws.ka, ws.kb, ws.km, ws.batch, ws.w,
        |        ws.f1, ws.f0, ws.ch, fs.f AS f, fs.f * ws.ch + cs.c AS j
        |      FROM wins ws,
        |        unnest(range(ws.f0, ws.f1)) AS fs(f),
        |        unnest(range(ws.ch)) AS cs(c)
        |    ) jx
        |  ) s
        |  GROUP BY 1, 2, 3, f1, f0, ch
        |), fp AS (
        |  SELECT a.aid, a.batch,
        |    CAST(SUM(CASE WHEN b.e > a.e AND a.w >= 32
        |      THEN (CAST(1 AS BIGINT) << (a.w - 32)) ELSE 0 END) AS BIGINT)
        |      AS sig_hi,
        |    CAST(SUM(CASE WHEN b.e > a.e AND a.w < 32
        |      THEN (CAST(1 AS BIGINT) << a.w) ELSE 0 END) AS BIGINT)
        |      AS sig_lo
        |  FROM en a
        |  JOIN en b ON b.aid = a.aid AND b.w = a.w + 1
        |  WHERE a.w < 64
        |  GROUP BY 1, 2
        |)
        |SELECT b.aid AS doc_id, b.sig_hi, b.sig_lo
        |FROM fp b
        |WHERE b.batch = 1 AND NOT EXISTS (
        |  SELECT 1 FROM fp c
        |  WHERE c.batch = 0
        |    AND bit_count(xor(b.sig_hi, c.sig_hi))
        |      + bit_count(xor(b.sig_lo, c.sig_lo)) <= 2)
        |ORDER BY doc_id""".stripMargin

  /** d118/d119's phrase — two common vocabulary words, so the bigram
    * occurs (and repeats within documents) at every SF. */
  private val d118Phrase = Seq("merge", "spark")

  /** The d118/d119 phrase-BM25 oracle: DuckDB re-derives phrase
    * occurrence counts positionally (list_filter over token offsets
    * — term i must sit at p+i for every slot), the phrase df, and
    * the single-pseudo-term Okapi score. Shared by the fresh-scan
    * and indexed entries — the d70/d112 twin discipline for the
    * positional path. */
  private def phraseBm25SqlFor(phrase: Seq[String], topK: Int): String = {
    val l = phrase.length
    val conds = phrase.zipWithIndex.map { case (t, i) =>
      if (i == 0) s"ws[CAST(i AS INT)] = '$t'"
      else s"ws[CAST(i + $i AS INT)] = '$t'"
    }.mkString(" AND ")
    s"""WITH tok AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
       |), occ AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    CAST(len(list_filter(range(1, len(ws) - ${l - 2}),
       |      i -> $conds)) AS BIGINT) AS tf
       |  FROM tok
       |), hit AS (
       |  SELECT * FROM occ WHERE tf > 0
       |), dfp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS df_t FROM hit
       |)
       |SELECT doc_id, tf AS phrase_tf,
       |  round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
       |      (CAST(df_t AS DOUBLE) + 0.5)) *
       |    (CAST(tf AS DOUBLE) * 2.5) /
       |    (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |      (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 4) AS bm25
       |FROM hit CROSS JOIN dfp CROSS JOIN st
       |ORDER BY bm25 DESC, doc_id LIMIT $topK""".stripMargin
  }

  /** The DuckDB mirror of [[graft.operators.Retrieval.tokensFor]]'s
    * `ws` family: case-folded whitespace split. */
  private val wsTokensSql: String =
    "string_split_regex(lower(trim(text)), '\\s+')"

  /** The `norm` family over the d122 PUNCTUATION-PLANTED corpus:
    * the plant ('(' + text with every space -> '. ' + ')') glues a
    * boundary mark onto EVERY token, so the ws family would find
    * nothing for any clean query term — exactly the real-corpus
    * failure d122 exists to prove fixed. The normalization mirrors
    * tokensFor("norm"): strip leading/trailing [^a-z0-9] runs after
    * case-folding, drop emptied tokens. */
  private val normPlantedTokensSql: String =
    "list_filter(list_transform(string_split_regex(lower(trim(" +
      "'(' || replace(text, ' ', '. ') || ')')), '\\s+'), " +
      "w -> regexp_replace(w, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')), " +
      "w -> len(w) > 0)"

  /** d130's query terms: d70's with `spark` swapped for the planted
    * non-ASCII replacement — the term only the `uni` family can
    * find. */
  private val d130Terms = Seq("customer", "vector", "merge", "über")

  /** The `uni` family over the d130 guillemet-planted corpus:
    * '«' + every space→'» «' + '»' wraps EVERY token, and `spark` is
    * replaced with `über` so a non-ASCII LETTER sits at a token
    * boundary — \p{L}\p{N} classes keep it, ASCII classes would
    * strip it. */
  private val uniPlantedTokensSql: String =
    "list_filter(list_transform(string_split_regex(lower(trim(" +
      "'«' || replace(replace(text, 'spark', 'über'), ' ', '» «') " +
      "|| '»')), '\\s+'), " +
      "w -> regexp_replace(w, '^[^\\p{L}\\p{N}]+|[^\\p{L}\\p{N}]+$', '', 'g')), " +
      "w -> len(w) > 0)"

  /** The norm family over a comma-planted text (every space →
    * ', ') — d135's HOLDOUT side, deliberately punctuated
    * differently from the train side's normPlantedTokensSql. */
  private val normCommaTokensSql: String =
    "list_filter(list_transform(string_split_regex(lower(trim(" +
      "replace(text, ' ', ', '))), '\\s+'), " +
      "w -> regexp_replace(w, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')), " +
      "w -> len(w) > 0)"

  /** The d70 fresh-scan BM25 oracle, parametrized over the token
    * derivation so the ws corpus (d70/d112) and the norm-family
    * planted corpus (d122) share one Okapi arithmetic — shared
    * VERBATIM with d112 (the d58 twin discipline): one SQL string
    * proving both the direct operator and the persistent-index
    * serving path, so a hash match on d112 is a proof that index
    * build + bucket-pruned serving == direct corpus recomputation,
    * bit for bit. */
  private def bm25SqlFor(wsExpr: String, terms: Seq[String],
      topK: Int): String =
    s"""WITH tok AS (
      |  SELECT doc_id, $wsExpr AS ws
      |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |), st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
      |), post AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
      |    unnest(ws) AS term FROM tok
      |), tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
      |    max(dl) AS dl
      |  FROM post WHERE term IN (${terms.map("'" + _ + "'").mkString(", ")})
      |  GROUP BY doc_id, term
      |), dft AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term
      |), sc AS (
      |  SELECT doc_id,
      |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
      |        (CAST(df_t AS DOUBLE) + 0.5)) *
      |      (CAST(tf AS DOUBLE) * 2.5) /
      |      (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
      |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS w
      |  FROM tf JOIN dft USING (term) CROSS JOIN st)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  round(sum(w), 4) AS bm25
      |FROM sc GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT $topK""".stripMargin

  private lazy val d70Sql: String = bm25SqlFor(wsTokensSql, d70Terms, 20)

  /** d132's oracle: the d70 scored chain cut to the top 5, then
    * every query term's occurrence offsets re-derived by filtering
    * token positions — a hash match proves the index's stored
    * positions are exactly the corpus's, through the real
    * build→serve→join path. */
  private lazy val d132Sql: String = {
    val in = d70Terms.map("'" + _ + "'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, $wsTokensSql AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
       |), post AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    unnest(ws) AS term FROM tok
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |    max(dl) AS dl
       |  FROM post WHERE term IN ($in) GROUP BY doc_id, term
       |), dft AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term
       |), sc AS (
       |  SELECT doc_id,
       |    round(sum(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
       |        (CAST(df_t AS DOUBLE) + 0.5)) *
       |      (CAST(tf AS DOUBLE) * 2.5) /
       |      (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 4) AS bm25
       |  FROM tf JOIN dft USING (term) CROSS JOIN st GROUP BY doc_id
       |), top5 AS (
       |  SELECT doc_id, bm25,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
       |  FROM sc QUALIFY rk <= 5
       |)
       |SELECT s.doc_id, s.bm25, tt.term,
       |  CAST(unnest(list_filter(range(1, len(k.ws) + 1),
       |    i -> k.ws[CAST(i AS INT)] = tt.term)) AS INT) AS pos
       |FROM top5 s JOIN tok k USING (doc_id)
       |CROSS JOIN (SELECT unnest([$in]) AS term) tt
       |ORDER BY doc_id, term, pos""".stripMargin
  }

  /** d142's oracle: the d132 chain (top-5 + term positions) extended
    * with the window selection itself — anchor windows of width 8 at
    * every hit, count distinct terms and total hits per window, and
    * pick each doc's best by (n_terms desc, n_hits desc, start asc),
    * so the snippet CHOICE, not just the positions, is the checked
    * artifact. */
  private lazy val d142Sql: String = {
    val in = d70Terms.map("'" + _ + "'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, $wsTokensSql AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
       |), post AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    unnest(ws) AS term FROM tok
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |    max(dl) AS dl
       |  FROM post WHERE term IN ($in) GROUP BY doc_id, term
       |), dft AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term
       |), sc AS (
       |  SELECT doc_id,
       |    round(sum(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
       |        (CAST(df_t AS DOUBLE) + 0.5)) *
       |      (CAST(tf AS DOUBLE) * 2.5) /
       |      (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 4) AS bm25
       |  FROM tf JOIN dft USING (term) CROSS JOIN st GROUP BY doc_id
       |), top5 AS (
       |  SELECT doc_id, bm25,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
       |  FROM sc QUALIFY rk <= 5
       |), hits AS (
       |  SELECT s.doc_id, s.bm25, tt.term,
       |    CAST(unnest(list_filter(range(1, len(k.ws) + 1),
       |      i -> k.ws[CAST(i AS INT)] = tt.term)) AS INT) AS pos
       |  FROM top5 s JOIN tok k USING (doc_id)
       |  CROSS JOIN (SELECT unnest([$in]) AS term) tt
       |), win AS (
       |  SELECT a.doc_id, a.bm25, a.a,
       |    CAST(count(DISTINCT h.term) AS BIGINT) AS n_terms,
       |    CAST(count(*) AS BIGINT) AS n_hits
       |  FROM (SELECT doc_id, bm25, pos AS a FROM hits) a
       |  JOIN hits h ON h.doc_id = a.doc_id
       |    AND h.pos >= a.a AND h.pos < a.a + 8
       |  GROUP BY a.doc_id, a.bm25, a.a
       |), best AS (
       |  SELECT doc_id, bm25, a, n_terms, n_hits,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY n_terms DESC, n_hits DESC, a) AS rk
       |  FROM win
       |)
       |SELECT doc_id, bm25, a AS win_start, a + 7 AS win_end,
       |  n_terms, n_hits
       |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin
  }

  /** d124's proximity-BM25 oracle (generated for fresh AND indexed —
    * the d118/d119 twin discipline): DuckDB re-derives per-term
    * position lists, counts anchors of terms[0] with every other
    * term within ±window, and scores the anchors as one pseudo-term
    * under the Okapi weight (k1 = 1.5, b = 0.75 inlined as the exact
    * literals 2.5/1.5/0.25/0.75, the phrase-oracle convention). */
  private def proxBm25SqlFor(terms: Seq[String], window: Int,
      topK: Int, ordered: Boolean = false): String = {
    val posDefs = terms.zipWithIndex.map { case (t, i) =>
      s"list_filter(range(1, len(ws) + 1), " +
        s"i -> ws[CAST(i AS INT)] = '$t') AS p$i"
    }.mkString(",\n    ")
    val per = (i: Int) =>
      if (ordered) s"q > p AND q <= p + $window"
      else s"abs(q - p) <= $window"
    val cond = terms.indices.tail.map(i =>
      s"len(list_filter(p$i, q -> ${per(i)})) > 0")
      .mkString(" AND ")
    s"""WITH tok AS (
       |  SELECT doc_id, $wsTokensSql AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
       |), pos AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    $posDefs
       |  FROM tok
       |), occ AS (
       |  SELECT doc_id, dl,
       |    CAST(len(list_filter(p0, p -> $cond)) AS BIGINT) AS tf
       |  FROM pos
       |), hit AS (
       |  SELECT * FROM occ WHERE tf > 0
       |), dfp AS (
       |  SELECT CAST(count(*) AS BIGINT) AS df_t FROM hit
       |)
       |SELECT doc_id, tf AS prox_tf,
       |  round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
       |      (CAST(df_t AS DOUBLE) + 0.5)) *
       |    (CAST(tf AS DOUBLE) * 2.5) /
       |    (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |      (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 4) AS bm25
       |FROM hit CROSS JOIN dfp CROSS JOIN st
       |ORDER BY bm25 DESC, doc_id LIMIT $topK""".stripMargin
  }

  /** d124's terms and window — three common vocabulary words so
    * windows hit (and multi-hit) at every SF; the window is small
    * enough that the positional constraint genuinely cuts (the
    * bag-of-words match set is much larger). */
  private val d124Terms = Seq("vector", "merge", "spark")
  private val d124Window = 6

  /** d125's ops-card oracle: every family's item count re-derived
    * from the corpus frames the entry indexed — a hash match proves
    * each index's CONTENTS mirror what landed (drift 0 across the
    * board, pending_verb idle, the healthy card). The dedup/bm25
    * slots count id+text-live docs (both families' build door); sim
    * counts id-live docs (its signature is id-derived); url counts
    * distinct planted canonical keys. */
  private val d125Sql: String =
    """WITH dt AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |dd AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |  WHERE doc_id IS NOT NULL),
      |em AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
      |  WHERE vec_id IS NOT NULL),
      |uu AS (
      |  SELECT CAST(count(DISTINCT doc_id % 37) AS BIGINT) AS n
      |  FROM documents WHERE doc_id IS NOT NULL),
      |sp AS (
      |  SELECT CAST(count(DISTINCT doc_id % 48) AS BIGINT) AS n
      |  FROM documents WHERE doc_id IS NOT NULL AND doc_id < 96)
      |SELECT family, index_name, n_items,
      |  CASE WHEN family = 'store' THEN NULL ELSE 8 END AS n_buckets,
      |  'idle' AS pending_verb,
      |  CASE WHEN family = 'store' THEN NULL ELSE n_landed END AS n_landed,
      |  CASE WHEN family = 'store' THEN NULL
      |       ELSE n_landed - n_items END AS drift_vs_landed,
      |  CASE WHEN family = 'store' THEN CAST(NULL AS BOOLEAN)
      |       ELSE TRUE END AS ids_digest_match,
      |  CASE WHEN family = 'sim' THEN TRUE
      |       ELSE CAST(NULL AS BOOLEAN) END AS side_digest_match,
      |  'none' AS suggested_verb
      |FROM (
      |  SELECT 'ann' AS family, 'd125_ax' AS index_name,
      |    (SELECT n FROM em) AS n_items, (SELECT n FROM em) AS n_landed
      |  UNION ALL SELECT 'bm25', 'd125_bx',
      |    (SELECT n FROM dt), (SELECT n FROM dt)
      |  UNION ALL SELECT 'dedup', 'd125_dx',
      |    (SELECT n FROM dt), (SELECT n FROM dt)
      |  UNION ALL SELECT 'sim', 'd125_sx',
      |    (SELECT n FROM dd), (SELECT n FROM dd)
      |  UNION ALL SELECT 'url', 'd125_ux',
      |    (SELECT n FROM uu), (SELECT n FROM uu)
      |  -- the store row: one live file per covered hour partition
      |  -- after the sorted-append + compact + retire + vacuum cycle;
      |  -- no landed mirror, no digests — the manifest IS the truth
      |  UNION ALL SELECT 'store', 'd125_st',
      |    (SELECT n FROM sp), CAST(NULL AS BIGINT))
      |ORDER BY family, index_name""".stripMargin

  /** d138: both drift directions' counts re-derived, the digest
    * booleans pinned FALSE (drifted id sets MUST compute unequal),
    * the direction → verb rule pinned by name, and the sim slot's
    * FABRICATED torn side-table state (frames appended, `_vframes`
    * dropped — the mid-append crash) pinned as side_digest_match =
    * FALSE beside healthy counts. */
  private val d138Sql: String =
    """WITH dt AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |ev AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 2 = 0),
      |sp AS (
      |  SELECT CAST(count(DISTINCT doc_id % 48) AS BIGINT) AS n
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id < 96)
      |SELECT * FROM (
      |  SELECT 'bm25' AS family, 'd138_bx' AS index_name,
      |    (SELECT n FROM dt) AS n_items,
      |    (SELECT n FROM ev) AS n_landed,
      |    (SELECT n FROM ev) - (SELECT n FROM dt) AS drift_vs_landed,
      |    FALSE AS ids_digest_match,
      |    CAST(NULL AS BOOLEAN) AS side_digest_match,
      |    'retire' AS suggested_verb
      |  UNION ALL
      |  SELECT 'dedup', 'd138_dx', (SELECT n FROM ev), (SELECT n FROM dt),
      |    (SELECT n FROM dt) - (SELECT n FROM ev), FALSE,
      |    CAST(NULL AS BOOLEAN), 'reconcile'
      |  UNION ALL
      |  SELECT 'sim', 'd138_sx', (SELECT n FROM dt), (SELECT n FROM dt),
      |    0, TRUE, FALSE, 'none'
      |  -- the store's three planted decision states: an orphaned
      |  -- crash leftover (one sorted append = one live file per
      |  -- covered hour, plus the unreferenced plant) → vacuum; a
      |  -- compaction under a long grace horizon (two appends, every
      |  -- partition's two files replaced by one → grace 2n > live n)
      |  -- → retire; two appends never compacted (two files per hour
      |  -- over a cap of one) → compact. No landed mirror, no digests.
      |  UNION ALL
      |  SELECT 'store', 'd138_sta', (SELECT n FROM sp),
      |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |    CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), 'vacuum'
      |  UNION ALL
      |  SELECT 'store', 'd138_stb', (SELECT n FROM sp),
      |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |    CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), 'retire'
      |  UNION ALL
      |  SELECT 'store', 'd138_stc', 2 * (SELECT n FROM sp),
      |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |    CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN), 'compact')
      |ORDER BY family, index_name""".stripMargin

  /** d159: both phases of the actuator loop re-derived — the planted
    * drift and orphan read reconcile/vacuum BEFORE; after the loop,
    * every row counts the full landed set and reads 'none'. */
  private val d159Sql: String =
    """WITH dt AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |ev AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 2 = 0),
      |sp AS (
      |  SELECT CAST(count(DISTINCT doc_id % 48) AS BIGINT) AS n
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id < 96)
      |SELECT * FROM (
      |  SELECT '1_before' AS phase, 'dedup' AS family,
      |    'd159_dx' AS index_name,
      |    (SELECT n FROM ev) AS n_items, (SELECT n FROM dt) AS n_landed,
      |    (SELECT n FROM dt) - (SELECT n FROM ev) AS drift_vs_landed,
      |    FALSE AS ids_digest_match, 'reconcile' AS suggested_verb
      |  UNION ALL SELECT '1_before', 'store', 'd159_st',
      |    (SELECT n FROM sp), CAST(NULL AS BIGINT),
      |    CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN), 'vacuum'
      |  UNION ALL SELECT '2_after', 'dedup', 'd159_dx',
      |    (SELECT n FROM dt), (SELECT n FROM dt), 0, TRUE, 'none'
      |  UNION ALL SELECT '2_after', 'store', 'd159_st',
      |    (SELECT n FROM sp), CAST(NULL AS BIGINT),
      |    CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN), 'none')
      |ORDER BY phase, family, index_name""".stripMargin

  /** d158 oracle: both sides' md5-h60 sigs re-derived, split into
    * the maxDist=2 pigeonhole pieces as pure integer bit-slices
    * (widths 22/21/21 at offsets 0/22/43 — simChunkCols' geometry;
    * h60 sigs are 60-bit non-negative, so `//` and `%` express the
    * unsigned shifts exactly), novelty per (piece_idx, piece) vs the
    * evens — equal to the engine's xxhash64 chunk-fold novelty
    * modulo the d97-pinned collision premise — plus exact-sig
    * novelty and every share. */
  private lazy val d158Sql: String = {
    def sigOf(where: String) =
      s"SELECT ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT " +
        s"AS sim FROM ids $where"
    def chunksOf(src: String) =
      s"""SELECT DISTINCT i, piece FROM (
         |    SELECT 0 AS i, sim % 4194304 AS piece FROM $src
         |    UNION ALL SELECT 1, (sim // 4194304) % 2097152 FROM $src
         |    UNION ALL SELECT 2, sim // 8796093022208 FROM $src)""".stripMargin
    s"""WITH ids AS (
       |  SELECT doc_id FROM documents WHERE doc_id IS NOT NULL
       |), esig AS (${sigOf("WHERE doc_id % 2 = 0")}
       |), bsig AS (${sigOf("WHERE doc_id % 4 IN (1, 2)")}
       |), ech AS (${chunksOf("esig")}
       |), bch AS (${chunksOf("bsig")}
       |), counts AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM bsig) AS n_batch_sigs,
       |    (SELECT CAST(count(DISTINCT sim) AS BIGINT) FROM bsig)
       |      AS n_batch_distinct_sigs,
       |    (SELECT CAST(count(*) AS BIGINT) FROM
       |       (SELECT DISTINCT sim FROM bsig) b
       |       WHERE NOT EXISTS (SELECT 1 FROM esig e WHERE e.sim = b.sim))
       |      AS n_new_sigs,
       |    (SELECT CAST(count(*) AS BIGINT) FROM bch) AS n_batch_chunks,
       |    (SELECT CAST(count(*) AS BIGINT) FROM bch b
       |       WHERE NOT EXISTS (SELECT 1 FROM ech e
       |         WHERE e.i = b.i AND e.piece = b.piece)) AS n_new_chunks
       |)
       |SELECT n_batch_sigs, n_batch_distinct_sigs, n_new_sigs,
       |  round(CASE WHEN n_batch_distinct_sigs > 0
       |    THEN CAST(n_new_sigs AS DOUBLE) / n_batch_distinct_sigs
       |    ELSE 0 END, 4) AS new_sig_share,
       |  n_batch_chunks, n_new_chunks,
       |  round(CASE WHEN n_batch_chunks > 0
       |    THEN CAST(n_new_chunks AS DOUBLE) / n_batch_chunks
       |    ELSE 0 END, 4) AS new_chunk_share
       |FROM counts""".stripMargin
  }

  /** The `uni` family over the d139 paren-planted corpus — the d122
    * plant with \p{L}\p{N} boundary classes (ASCII corpus, so uni
    * and norm tokenize identically here; the card SHOWS that as two
    * arms with equal numbers, which is itself the decision datum). */
  private val uniParenTokensSql: String =
    "list_filter(list_transform(string_split_regex(lower(trim(" +
      "'(' || replace(text, ' ', '. ') || ')')), '\\s+'), " +
      "w -> regexp_replace(w, '^[^\\p{L}\\p{N}]+|[^\\p{L}\\p{N}]+$', '', 'g')), " +
      "w -> len(w) > 0)"

  /** The `ws` family over the same plant — punctuation-glued tokens
    * kept verbatim. */
  private val wsParenTokensSql: String =
    "string_split_regex(lower(trim(" +
      "'(' || replace(text, ' ', '. ') || ')')), '\\s+')"

  /** One lexical arm of the d139 card: family tokenization of corpus
    * AND probes, the d70 Okapi arithmetic (k1=1.5 b=0.75 inlined),
    * self excluded, rounded before ranking, top-20 per query. */
  private def cardArmCtes(a: String, toks: String): String =
    s"""tok_$a AS (SELECT doc_id, $toks AS ws FROM corp),
       |qt_$a AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT doc_id AS query_id, unnest(ws) AS term
       |    FROM tok_$a WHERE doc_id IN (1, 2, 3)) z),
       |st_$a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok_$a),
       |post_$a AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    unnest(ws) AS term FROM tok_$a),
       |tf_$a AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |    max(dl) AS dl
       |  FROM post_$a WHERE term IN (SELECT DISTINCT term FROM qt_$a)
       |  GROUP BY doc_id, term),
       |df_$a AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df_t
       |  FROM tf_$a GROUP BY term),
       |sc_$a AS (
       |  SELECT q.query_id, t.doc_id,
       |    round(sum(
       |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
       |          (CAST(df_t AS DOUBLE) + 0.5)) *
       |        (CAST(tf AS DOUBLE) * 2.5) /
       |        (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
       |          (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 4) AS bm25
       |  FROM tf_$a t JOIN df_$a USING (term) JOIN qt_$a q USING (term)
       |  CROSS JOIN st_$a
       |  WHERE t.doc_id <> q.query_id
       |  GROUP BY q.query_id, t.doc_id),
       |run_$a AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY bm25 DESC, doc_id) AS rank
       |    FROM sc_$a) z WHERE rank <= 20)""".stripMargin

  /** One arm's per-query rankedEval rows (rr / ndcg / recall@10,
    * each rounded to 4 like the engine's per-query output). */
  private def cardEvalCtes(a: String): String =
    s"""hit_$a AS (
       |  SELECT r.query_id, 1.0 / min(r.rank) AS rr,
       |    sum(CASE WHEN r.rank <= 10 THEN
       |      g.grade / (ln(CAST(r.rank + 1 AS DOUBLE)) / ln(2))
       |      ELSE 0 END) AS dcg,
       |    CAST(sum(CASE WHEN r.rank <= 10 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits
       |  FROM run_$a r
       |  JOIN rel g ON r.query_id = g.query_id AND r.doc_id = g.doc_id
       |  GROUP BY r.query_id),
       |ev_$a AS (
       |  SELECT b.query_id, round(coalesce(h.rr, 0), 4) AS rr,
       |    round(CASE WHEN coalesce(i.idcg, 0) > 0
       |      THEN coalesce(h.dcg, 0) / i.idcg ELSE 0 END, 4) AS ndcg,
       |    round(CASE WHEN coalesce(n.n_rel, 0) > 0
       |      THEN CAST(coalesce(h.hits, 0) AS DOUBLE) / n.n_rel
       |      ELSE 0 END, 4) AS rec
       |  FROM base b LEFT JOIN hit_$a h USING (query_id)
       |  LEFT JOIN ideal i USING (query_id)
       |  LEFT JOIN nrel n USING (query_id))""".stripMargin

  private def cardMeanSql(arm: String, a: String): String =
    s"""SELECT '$arm' AS arm, CAST(count(*) AS BIGINT) AS n_queries,
       |  round(avg(rr), 4) AS mrr, round(avg(ndcg), 4) AS mean_ndcg,
       |  round(avg(rec), 4) AS mean_recall FROM ev_$a""".stripMargin

  /** d139's oracle: five complete runs (three tokenizer-family BM25
    * arms over family-specific corpus AND query tokenizations, the
    * cosine dense leg, the norm+dense RRF fusion), the planted
    * graded qrels, per-query metrics and the arm means — one hash
    * over the whole decision card. `withLm` (d150) adds the
    * Dirichlet-QL arm (norm family, μ=2000 — reusing tok_n/qt_n/tf_n,
    * exactly the frames the engine's lm run derives from the same
    * tokenization) and its dense fusion, so the card answers
    * "BM25 or LM, fused or not" with every number re-derived. */
  private def cardSql(withLm: Boolean): String = {
    val arms = Seq(
      cardArmCtes("w", wsParenTokensSql),
      cardArmCtes("n", normPlantedTokensSql),
      cardArmCtes("u", uniParenTokensSql)).mkString(",\n")
    val lmCtes = if (!withLm) "" else
      s""",
         |cf_l AS (
         |  SELECT term, CAST(sum(tf) AS BIGINT) AS cf_t
         |  FROM tf_n GROUP BY term),
         |tt_l AS (
         |  SELECT CAST(sum(len(ws)) AS BIGINT) AS total_tokens
         |  FROM tok_n),
         |nq_l AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS nq
         |  FROM qt_n GROUP BY query_id),
         |sc_l AS (
         |  SELECT q.query_id, t.doc_id,
         |    round(sum(ln(1.0 + CAST(t.tf AS DOUBLE) /
         |        (2000.0 * (CAST(c.cf_t AS DOUBLE) /
         |          CAST(tt_l.total_tokens AS DOUBLE)))))
         |      + CAST(max(n.nq) AS DOUBLE)
         |        * ln(2000.0 / (CAST(max(t.dl) AS DOUBLE) + 2000.0)),
         |      4) AS ql
         |  FROM tf_n t JOIN cf_l c USING (term) JOIN qt_n q USING (term)
         |  JOIN nq_l n ON n.query_id = q.query_id CROSS JOIN tt_l
         |  WHERE t.doc_id <> q.query_id
         |  GROUP BY q.query_id, t.doc_id),
         |run_l AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ql DESC, doc_id) AS rank
         |    FROM sc_l) z WHERE rank <= 20),
         |fused_lm AS (
         |  SELECT coalesce(a.query_id, b.query_id) AS query_id,
         |    coalesce(a.doc_id, b.doc_id) AS doc_id,
         |    coalesce(1.0/(60 + a.rank), 0)
         |      + coalesce(1.0/(60 + b.rank), 0) AS rrf
         |  FROM run_l a FULL OUTER JOIN run_d b
         |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
         |run_hl AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf DESC, doc_id) AS rank
         |    FROM fused_lm) z WHERE rank <= 20)""".stripMargin
    val lmEvals = if (!withLm) "" else
      s""",
         |${cardEvalCtes("l")},
         |${cardEvalCtes("hl")}""".stripMargin
    val lmMeans = if (!withLm) "" else
      s"""
         |  UNION ALL ${cardMeanSql("lm_dirichlet", "l")}
         |  UNION ALL ${cardMeanSql("hybrid_rrf_lm", "hl")}""".stripMargin
    s"""WITH corp AS (
       |  SELECT d.doc_id, d.text, e.embedding
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
       |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
       |),
       |$arms,
       |run_d AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
       |      row_number() OVER (PARTITION BY q.doc_id ORDER BY
       |        list_cosine_similarity(q.embedding::DOUBLE[],
       |          c.embedding::DOUBLE[]) DESC, c.doc_id) AS rank
       |    FROM corp q JOIN corp c ON q.doc_id <> c.doc_id
       |    WHERE q.doc_id IN (1, 2, 3)) t
       |  WHERE rank <= 20),
       |fused AS (
       |  SELECT coalesce(a.query_id, b.query_id) AS query_id,
       |    coalesce(a.doc_id, b.doc_id) AS doc_id,
       |    coalesce(1.0/(60 + a.rank), 0)
       |      + coalesce(1.0/(60 + b.rank), 0) AS rrf
       |  FROM run_n a FULL OUTER JOIN run_d b
       |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
       |run_h AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY rrf DESC, doc_id) AS rank
       |    FROM fused) z WHERE rank <= 20)$lmCtes,
       |rel AS (
       |  SELECT query_id, doc_id,
       |    CAST(1 + doc_id % 3 AS DOUBLE) AS grade FROM (
       |    SELECT 1 AS query_id, doc_id FROM corp WHERE doc_id % 6 = 1
       |    UNION ALL
       |    SELECT 2, doc_id FROM corp WHERE doc_id % 7 = 2
       |    UNION ALL
       |    SELECT 3, doc_id FROM corp WHERE doc_id % 8 = 3) z),
       |nrel AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |  FROM rel GROUP BY 1),
       |ideal AS (
       |  SELECT query_id,
       |    sum(grade / (ln(CAST(pos + 1 AS DOUBLE)) / ln(2))) AS idcg
       |  FROM (
       |    SELECT query_id, grade,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY grade DESC) AS pos
       |    FROM rel) z
       |  WHERE pos <= 10 GROUP BY query_id),
       |base AS (SELECT DISTINCT query_id FROM rel),
       |${cardEvalCtes("w")},
       |${cardEvalCtes("n")},
       |${cardEvalCtes("u")},
       |${cardEvalCtes("d")},
       |${cardEvalCtes("h")}$lmEvals
       |SELECT arm, 10 AS k, n_queries, mrr, mean_ndcg, mean_recall
       |FROM (
       |  ${cardMeanSql("bm25_ws", "w")}
       |  UNION ALL ${cardMeanSql("bm25_norm", "n")}
       |  UNION ALL ${cardMeanSql("bm25_uni", "u")}
       |  UNION ALL ${cardMeanSql("dense", "d")}
       |  UNION ALL ${cardMeanSql("hybrid_rrf", "h")}$lmMeans)
       |ORDER BY arm""".stripMargin
  }

  private lazy val d139Sql: String = cardSql(withLm = false)
  private lazy val d150Sql: String = cardSql(withLm = true)

  /** d141's PRF oracle: the d70 Okapi weight (k1=1.5, b=0.75
    * inlined), applied TWICE — pass 1 on the literal query terms to
    * cut the top-3 feedback docs (rounded before ranking), the mined
    * expansion (total tf over feedback docs, desc, term tie-break,
    * query terms excluded, top-5), pass 2 on the expanded set — so
    * the corpus-derived feedback loop itself is the checked
    * artifact. */
  private lazy val d141Sql: String = {
    val w =
      """ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
        |        (CAST(df_t AS DOUBLE) + 0.5)) *
        |      (CAST(tf AS DOUBLE) * 2.5) /
        |      (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
        |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin
    val qin = d70Terms.map("'" + _ + "'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, $wsTokensSql AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
       |), post AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    unnest(ws) AS term FROM tok
       |), tf1 AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |    max(dl) AS dl
       |  FROM post WHERE term IN ($qin) GROUP BY doc_id, term
       |), df1 AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df_t
       |  FROM tf1 GROUP BY term
       |), sc1 AS (
       |  SELECT doc_id, round(sum($w), 4) AS bm25
       |  FROM tf1 JOIN df1 USING (term) CROSS JOIN st GROUP BY doc_id
       |), fb AS (
       |  SELECT doc_id FROM sc1 ORDER BY bm25 DESC, doc_id LIMIT 3
       |), mined AS (
       |  SELECT term FROM (
       |    SELECT term, CAST(count(*) AS BIGINT) AS tf
       |    FROM post JOIN fb USING (doc_id)
       |    WHERE term NOT IN ($qin)
       |    GROUP BY term ORDER BY tf DESC, term LIMIT 5) z
       |), expq AS (
       |  SELECT unnest([$qin]) AS term UNION SELECT term FROM mined
       |), tf2 AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |    max(dl) AS dl
       |  FROM post WHERE term IN (SELECT term FROM expq)
       |  GROUP BY doc_id, term
       |), df2 AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df_t
       |  FROM tf2 GROUP BY term
       |), sc2 AS (
       |  SELECT doc_id, $w AS w
       |  FROM tf2 JOIN df2 USING (term) CROSS JOIN st)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  round(sum(w), 4) AS bm25
       |FROM sc2 GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** d145's blended-PRF oracle: the d141 chain up to the mined
    * expansion set, then BOTH legs as RAW (unrounded) Okapi sums and
    * the λ = 0.5 blend rounded once — the interpolation itself is
    * the checked arithmetic. */
  private lazy val d145Sql: String = {
    val w =
      """ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
        |        (CAST(df_t AS DOUBLE) + 0.5)) *
        |      (CAST(tf AS DOUBLE) * 2.5) /
        |      (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
        |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin
    val qin = d70Terms.map("'" + _ + "'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, $wsTokensSql AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
       |), post AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    unnest(ws) AS term FROM tok
       |), tf1 AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |    max(dl) AS dl
       |  FROM post WHERE term IN ($qin) GROUP BY doc_id, term
       |), df1 AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df_t
       |  FROM tf1 GROUP BY term
       |), sc1 AS (
       |  SELECT doc_id, round(sum($w), 4) AS bm25
       |  FROM tf1 JOIN df1 USING (term) CROSS JOIN st GROUP BY doc_id
       |), fb AS (
       |  SELECT doc_id FROM sc1 ORDER BY bm25 DESC, doc_id LIMIT 3
       |), mined AS (
       |  SELECT term FROM (
       |    SELECT term, CAST(count(*) AS BIGINT) AS tf
       |    FROM post JOIN fb USING (doc_id)
       |    WHERE term NOT IN ($qin)
       |    GROUP BY term ORDER BY tf DESC, term LIMIT 5) z
       |), sb AS (
       |  SELECT doc_id, sum($w) AS s
       |  FROM tf1 JOIN df1 USING (term) CROSS JOIN st GROUP BY doc_id
       |), tfe AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |    max(dl) AS dl
       |  FROM post WHERE term IN (SELECT term FROM mined)
       |  GROUP BY doc_id, term
       |), dfe AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df_t
       |  FROM tfe GROUP BY term
       |), se AS (
       |  SELECT doc_id, sum($w) AS s
       |  FROM tfe JOIN dfe USING (term) CROSS JOIN st GROUP BY doc_id)
       |SELECT coalesce(sb.doc_id, se.doc_id) AS doc_id,
       |  round(0.5 * coalesce(sb.s, 0) + 0.5 * coalesce(se.s, 0), 4)
       |    AS bm25
       |FROM sb FULL OUTER JOIN se ON sb.doc_id = se.doc_id
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** d147/d148's Dirichlet QL oracle (ONE string for the fresh scan
    * AND the indexed serve — the twin discipline): candidates with
    * ≥ 1 matching term, score = Σ ln(1 + tf/(μ·cf_t/total)) +
    * |Q|·ln(μ/(dl+μ)), μ = 2000, |Q| = 4, rounded once after the
    * sum. */
  private lazy val d147Sql: String = {
    val qin = d70Terms.map("'" + _ + "'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, $wsTokensSql AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), st AS (
       |  SELECT CAST(sum(len(ws)) AS BIGINT) AS total_tokens FROM tok
       |), post AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    unnest(ws) AS term FROM tok
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |    max(dl) AS dl
       |  FROM post WHERE term IN ($qin) GROUP BY doc_id, term
       |), cf AS (
       |  SELECT term, CAST(sum(tf) AS BIGINT) AS cf_t
       |  FROM tf GROUP BY term)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  round(sum(ln(1.0 + CAST(tf AS DOUBLE)
       |      / (2000.0 * (CAST(cf_t AS DOUBLE)
       |        / CAST(total_tokens AS DOUBLE)))))
       |    + 4.0 * ln(2000.0 / (CAST(max(dl) AS DOUBLE) + 2000.0)),
       |    4) AS ql
       |FROM tf JOIN cf USING (term) CROSS JOIN st
       |GROUP BY doc_id
       |ORDER BY ql DESC, doc_id LIMIT 20""".stripMargin
  }

  /** d84/d129's frontier-screen oracle — canonicalize BOTH halves
    * with the d71 arithmetic; a batch (upper-half md5 slice) doc
    * survives iff its canonical url matches no corpus (lower-half)
    * doc's. Shared verbatim by the fresh build (d84) and the
    * reconciled build (d129) — the twin discipline for the url
    * family's reconcile verb. */
  private lazy val d84Sql: String =
    s"WITH $canonUrlCtes\n" +
      """SELECT c.doc_id FROM c
        |WHERE substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 1) >= '8'
        |  AND c.canon_url NOT IN (
        |    SELECT canon_url FROM c
        |    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0')
        |ORDER BY doc_id""".stripMargin

  /** d131's oracle: three per-query BM25 ranked lists re-derived
    * with the d70 arithmetic (rank = row_number over (bm25 desc,
    * doc_id), the rounded-before-rank discipline), the planted
    * qrels, and the metric arithmetic — rr, graded DCG@10 with the
    * ln(x)/ln(2) discount, nDCG against the ideal ordering of each
    * query's own grades, recall@10. */
  private lazy val d131Sql: String = {
    val w =
      """ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
        |        (CAST(df_t AS DOUBLE) + 0.5)) *
        |      (CAST(tf AS DOUBLE) * 2.5) /
        |      (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
        |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin
    def leg(q: Int, terms: Seq[String]): String = {
      val in = terms.map("'" + _ + "'").mkString(", ")
      s"""tf$q AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
         |    max(dl) AS dl
         |  FROM post WHERE term IN ($in) GROUP BY doc_id, term
         |), dft$q AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df_t
         |  FROM tf$q GROUP BY term
         |), sc$q AS (
         |  SELECT doc_id, round(sum($w), 4) AS bm25
         |  FROM tf$q JOIN dft$q USING (term) CROSS JOIN st
         |  GROUP BY doc_id
         |), r$q AS (
         |  SELECT $q AS q,
         |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
         |      AS rank, doc_id
         |  FROM sc$q QUALIFY rank <= 20
         |)""".stripMargin
    }
    s"""WITH tok AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
       |), post AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    unnest(ws) AS term FROM tok
       |), ${leg(1, Seq("customer", "vector"))},
       |${leg(2, Seq("merge", "spark"))},
       |${leg(3, Seq("table", "filter"))},
       |run AS (
       |  SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |  UNION ALL SELECT * FROM r3
       |), qr AS (
       |  SELECT qq.q, d.doc_id, CAST(1 + d.doc_id % 3 AS DOUBLE) AS grade
       |  FROM (SELECT unnest([1, 2, 3]) AS q) qq, documents d
       |  WHERE d.doc_id IS NOT NULL AND d.doc_id % (5 + qq.q) = qq.q
       |), gr AS (
       |  SELECT q, grade,
       |    row_number() OVER (PARTITION BY q ORDER BY grade DESC) AS i
       |  FROM qr
       |), ideal AS (
       |  SELECT q, CAST(count(*) AS BIGINT) AS n_rel,
       |    sum(CASE WHEN i <= 10
       |      THEN grade / (ln(CAST(i + 1 AS DOUBLE)) / ln(2.0))
       |      ELSE 0 END) AS idcg
       |  FROM gr GROUP BY q
       |), hits AS (
       |  SELECT r.q, 1.0 / min(r.rank) AS rr,
       |    sum(CASE WHEN r.rank <= 10
       |      THEN x.grade / (ln(CAST(r.rank + 1 AS DOUBLE)) / ln(2.0))
       |      ELSE 0 END) AS dcg,
       |    CAST(sum(CASE WHEN r.rank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hits_at_k
       |  FROM run r JOIN qr x ON x.q = r.q AND x.doc_id = r.doc_id
       |  GROUP BY r.q
       |)
       |SELECT CAST(rq.q AS BIGINT) AS query_id, 10 AS k,
       |  coalesce(i.n_rel, 0) AS n_rel,
       |  round(coalesce(h.rr, 0), 4) AS rr,
       |  round(coalesce(h.dcg, 0), 4) AS dcg,
       |  round(CASE WHEN coalesce(i.idcg, 0) > 0
       |    THEN coalesce(h.dcg, 0) / i.idcg ELSE 0 END, 4) AS ndcg,
       |  round(CASE WHEN coalesce(i.n_rel, 0) > 0
       |    THEN CAST(coalesce(h.hits_at_k, 0) AS DOUBLE) / i.n_rel
       |    ELSE 0 END, 4) AS recall_at_k
       |FROM (SELECT DISTINCT q FROM run) rq
       |LEFT JOIN ideal i ON i.q = rq.q
       |LEFT JOIN hits h ON h.q = rq.q
       |ORDER BY query_id""".stripMargin
  }

  /** d72's global token budget (~30% of the sf0.01 corpus; a FIXED
    * budget, so like d66 the cut cost stays flat as the corpus
    * grows — that is the correct mixture-cut scaling, not a bug). */
  private val d72Budget = 8000L

  /** d71's planted URL (the d44 discipline: every canonicalization
    * rule derivable from doc_id arithmetic, mirrored verbatim in
    * [[plantedUrlSql]]). Scheme case + default-vs-kept ports +
    * host case + trailing slash + tracking params in three
    * permutations + fragments; canonical identity collapses to
    * (id%4, id%5, id%3==1 | via id%2), ~40 classes over the corpus. */
  private def plantedUrl: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      when(id % 2 === 0, "https").otherwise("HTTP"),
      lit("://WWW.Example"), (id % 5).cast("string"), lit(".COM"),
      when(id % 3 === 0,
        when(id % 2 === 0, ":443").otherwise(":80"))
        .when(id % 3 === 1, ":8080").otherwise(""),
      lit("/A/b"), (id % 4).cast("string"),
      when(id % 2 === 0, "/").otherwise(""),
      when(id % 3 === 0, "?utm_source=feed&b=2&a=1")
        .when(id % 3 === 1,
          concat(lit("?b=2&fbclid=x"), (id % 7).cast("string"),
            lit("&a=1")))
        .otherwise("?a=1&b=2"),
      when(id % 2 === 1, concat(lit("#s"), (id % 6).cast("string")))
        .otherwise(""))
  }

  /** d87/d88's split table and ITS derived constants, computed once
    * so the Spark entries and the oracle literals cannot drift: the
    * cumulative weights carry float-normalization noise
    * (0.8+0.1+0.1 sums to 1.0000000000000002 in IEEE doubles), so
    * the oracle interpolates THESE values — never re-derives them. */
  private val d8xSplits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val d8xCums: Seq[Double] = {
    val t = d8xSplits.map(_._2).sum
    d8xSplits.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / t)
  }

  /** d102's blocklist: one registrable-domain entry (suffix-blocks
    * every www.example1.com subdomain) and one exact-host entry —
    * both match modes of the gate exercised; interpolated into the
    * oracle VALUES list so entry and oracle cannot drift. */
  private val d102Blocklist = Seq("example1.com", "www.example3.com")

  /** d101's bucket table and ITS cumulative fractions, computed once
    * so the entry and the oracle literals cannot drift (the d8x
    * rule: 1/3 and 2/3 are not exactly representable, so the oracle
    * interpolates THESE doubles — shortest-round-trip rendering
    * parses back to the identical IEEE value). */
  private val d101Buckets = Seq("head" -> 1.0, "middle" -> 1.0, "tail" -> 1.0)
  private val d101Cums: Seq[Double] = {
    val t = d101Buckets.map(_._2).sum
    d101Buckets.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / t)
  }
  private val d8xThr: Seq[String] =
    d8xCums.init.map(c => f"${math.floor(c * 65536 + 0.5).toLong}%04x")

  /** The d71 canonicalization arithmetic as a reusable CTE chain
    * ending in `c (doc_id, url, canon_url)` — shared by the d71
    * keep-one oracle and the d84 frontier-screen oracle so the two
    * can never drift. */
  private lazy val canonUrlCtes: String =
    s"""u AS (
      |  SELECT doc_id, $plantedUrlSql AS url
      |  FROM documents WHERE doc_id IS NOT NULL
      |), p1 AS (
      |  SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nofrag
      |  FROM u
      |), p2 AS (
      |  SELECT doc_id, url, nofrag,
      |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_extract(nofrag, '^[^/]*//([^/?#]*)', 1) AS hostport,
      |    regexp_extract(nofrag, '^[^/]*//[^/?#]*(.*)$$', 1) AS rest
      |  FROM p1
      |), p3 AS (
      |  SELECT doc_id, url, scheme,
      |    lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
      |    regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
      |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$$', '') AS path,
      |    array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(rest, '\\?(.*)$$', 1), '&'),
      |      p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)=')
      |        AND p <> '')), '&') AS qs
      |  FROM p2
      |), c AS (
      |  SELECT doc_id, url,
      |    scheme || '://' || host ||
      |    (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |       OR (scheme = 'https' AND port = '443') THEN ''
      |     ELSE ':' || port END) || path ||
      |    (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canon_url
      |  FROM p3
      |)""".stripMargin

  private val plantedUrlSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) ||
      |'://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) || '.COM' ||
      |(CASE WHEN doc_id % 3 = 0 THEN
      |   (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
      | WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
      |'/A/b' || CAST(doc_id % 4 AS VARCHAR) ||
      |(CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      |(CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1'
      | WHEN doc_id % 3 = 1 THEN
      |   '?b=2&fbclid=x' || CAST(doc_id % 7 AS VARCHAR) || '&a=1'
      | ELSE '?a=1&b=2' END) ||
      |(CASE WHEN doc_id % 2 = 1 THEN '#s' || CAST(doc_id % 6 AS VARCHAR)
      | ELSE '' END)""".stripMargin.replace("\n", " ")

  /** d66's training-slice predicate in SQL: the
    * [[graft.operators.TextAnalysis.bpeTrainingSlice]] semantics
    * re-derived with a 1-PRECEDING window over the same
    * (md5Hash60 DESC, doc_id) priority order — the d47 oracle's
    * budget arithmetic with the hash priority. */
  private val d66SliceSql: String =
    s"""doc_id IN (SELECT doc_id FROM (
       |    SELECT doc_id, n,
       |      coalesce(sum(n) OVER (ORDER BY pr DESC, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |    FROM (SELECT doc_id,
       |        CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
       |          AS BIGINT) AS n,
       |        ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS pr
       |      FROM documents
       |      WHERE doc_id IS NOT NULL AND text IS NOT NULL) b
       |  ) s WHERE off + n <= $d66Budget)""".stripMargin

  /** Learned merge table per sf dir, memoized (training is
    * deterministic; the key carries the documents file's length and
    * mtime so regenerated testdata self-invalidates — the mediaStore
    * discipline). */
  private val bpeMergeCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
  private def trainedMerges(s: SparkSession, d: String): Seq[(String, String)] = {
    val src = new org.apache.hadoop.fs.Path(d, "documents.parquet")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(src)
    val key = s"$d:${st.getLen}:${st.getModificationTime}:$d60Merges"
    bpeMergeCache.getOrElseUpdate(key,
      TextAnalysis.trainBpe(Tables.documents(s, d).filter(d60Slice),
        "doc_id", "text", numMerges = d60Merges)
        .orderBy(col("rank")).collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq)
  }

  /** d54 HTML page fragments, shared by the Spark entry and the
    * generated oracle SQL so construction cannot drift. The paragraph
    * split replaces " the " with htmlParaTo — via regexp_replace on
    * the Spark side (Java regex, no metachars in the pattern) and
    * replace() in DuckDB: identical left-to-right non-overlapping
    * semantics for a literal pattern. */
  private val htmlHead = "<html><head><title>"
  private val htmlMid1 = "</title><style>p{margin:0}</style>" +
    "<script>var n=1;</script></head><body><div class=\"nav\">" +
    "<a href=\"/\">home</a> <a href=\"/s\">"
  private val htmlMid2 = "</a></div><p>"
  private val htmlParaFromRe = " the "
  private val htmlParaTo = " </p><p>the "
  private val htmlMid3 = "</p>"
  private val htmlKeepDiv = "<div>see also <a href=\"/r\">related</a> " +
    "extended reading list and curated notes</div>"
  private val htmlDropDiv = "<div><a href=\"/1\">one</a> " +
    "<a href=\"/2\">two</a> <a href=\"/3\">three</a></div>"
  private val htmlFooter = "<div class=\"footer\">copyright " +
    "<a href=\"/t\">terms</a> <a href=\"/p\">privacy</a></div></body></html>"

  /** d56 planted noise, shared with the oracle SQL. */
  private val gopherSymNoise = " ### ## # ..."
  private val gopherDigitNoise = " 00 11 22 33 44 55 66 77 88 99 000 111"

  /** The d54 page construction over an arbitrary body-text column —
    * shared by d54 (raw text) and d62 (text with a planted shared
    * body for every 10th doc, so the pipeline's dedup stage is
    * non-degenerate). */
  private def plantedHtml(textCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(lit(htmlHead), col("source"), lit(htmlMid1),
      col("source"), lit(htmlMid2),
      regexp_replace(textCol, lit(htmlParaFromRe), lit(htmlParaTo)),
      lit(htmlMid3),
      when(id % 4 === 0, lit(htmlKeepDiv)).otherwise(lit("")),
      when(id % 5 === 0, lit(htmlDropDiv)).otherwise(lit("")),
      lit(htmlFooter))
  }

  /** The d52b dHash-signature CTE chain — planted-corpus pixels →
    * integer luma → 9×8 floor-partition area average → gradient-sign
    * bits as unsigned 32-bit halves, ending in
    * `dsigs(img, sig_hi, sig_lo)`. Parameterized by an extra WHERE
    * fragment on the source doc slice and shared by the d52b bit
    * oracle and the d68 dedup-composition oracle, so the two cannot
    * drift. */
  private def dhashSigCtes(extraWhere: String): String =
    s"""ids AS (
       |  SELECT doc_id AS src FROM documents
       |  WHERE doc_id IS NOT NULL AND doc_id % 3 = 0$extraWhere
       |), imgs AS (
       |  SELECT src, src AS img, FALSE AS pert FROM ids
       |  UNION ALL
       |  SELECT src, src + 10000000, TRUE FROM ids
       |), dims AS (
       |  SELECT img, src, pert,
       |    16 + (src % 16) AS w, 16 + (src % 9) AS h
       |  FROM imgs
       |), cells AS (
       |  SELECT d.img, d.src, d.pert, cy.cy, cx.cx,
       |    (cx.cx * d.w) // 9 AS x0, ((cx.cx + 1) * d.w) // 9 AS x1,
       |    (cy.cy * d.h) // 8 AS y0, ((cy.cy + 1) * d.h) // 8 AS y1,
       |    (4 * d.w) // 9 AS px0, (5 * d.w) // 9 AS px1,
       |    (3 * d.h) // 8 AS py0, (4 * d.h) // 8 AS py1
       |  FROM dims d,
       |    (SELECT unnest(range(8)) AS cy) cy,
       |    (SELECT unnest(range(9)) AS cx) cx
       |), lum AS (
       |  SELECT img, cy, cx,
       |    CASE WHEN pert AND x >= px0 AND x < px1
       |              AND y >= py0 AND y < py1
       |      THEN (77 * least(((base >> 16) & 255) + 12, 255)
       |          + 151 * least(((base >> 8) & 255) + 12, 255)
       |          + 28 * least((base & 255) + 12, 255)) >> 8
       |      ELSE (77 * ((base >> 16) & 255)
       |          + 151 * ((base >> 8) & 255)
       |          + 28 * (base & 255)) >> 8
       |    END AS luma
       |  FROM (
       |    SELECT c.*, xs.x, ys.y,
       |      ((c.src * 31) + (xs.x * (7 + c.src % 23))
       |       + (ys.y * (131 + c.src % 19))) & 16777215 AS base
       |    FROM cells c,
       |      unnest(range(c.x0, c.x1)) AS xs(x),
       |      unnest(range(c.y0, c.y1)) AS ys(y)
       |  ) p
       |), avgs AS (
       |  SELECT img, cy, cx, SUM(luma) // COUNT(*) AS a
       |  FROM lum GROUP BY 1, 2, 3
       |), dsigs AS (
       |  SELECT a.img,
       |    CAST(SUM(CASE WHEN b.a > a.a AND (a.cy * 8 + a.cx) >= 32
       |      THEN (CAST(1 AS BIGINT) << (a.cy * 8 + a.cx - 32))
       |      ELSE 0 END) AS BIGINT) AS sig_hi,
       |    CAST(SUM(CASE WHEN b.a > a.a AND (a.cy * 8 + a.cx) < 32
       |      THEN (CAST(1 AS BIGINT) << (a.cy * 8 + a.cx))
       |      ELSE 0 END) AS BIGINT) AS sig_lo
       |  FROM avgs a
       |  JOIN avgs b ON b.img = a.img AND b.cy = a.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 8
       |  GROUP BY 1
       |)""".stripMargin

  /** d62's planted shared body (every 10th doc republishes it — the
    * mirror-site shape that makes the exact-dedup stage do real
    * work; ≥20 words and stopword-rich so it clears the gate). */
  private val d62SharedText =
    "the shared press release body that every mirror site " +
    "republishes verbatim with a data table and a value summary " +
    "the wire service distributes to partner outlets"

  /** The shared IVF-cell CTE prefix of the int8+md5 twin oracles:
    * quantized vectors `q`, md5-order cell centroids (nlist 16),
    * nearest-cell assignment `ccells`, and per-query probed cells
    * `cprobes` (nprobe 4, queries vec_id < 50) — reused by the
    * d50/d58 IVF-PQ oracle and the d69 range-search oracle so the
    * cell machinery cannot drift between them. */
  /** `cellWhere` restricts the CELL-training slice (the d154 merge
    * proof: shards sharing one evens-trained geometry). */
  private def ivfCellCtesFor(cellWhere: String): String =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM mm),
        |ccent AS (
        |  SELECT vec_id AS cell_id, q AS cq FROM q $cellWhere
        |  ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id
        |  LIMIT 16),
        |cdist AS (
        |  SELECT a.vec_id, c.cell_id,
        |    CAST(list_sum(list_transform(range(1, len(a.q)+1), i ->
        |      (a.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
        |      * (a.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS d2
        |  FROM q a CROSS JOIN ccent c),
        |cass AS (
        |  SELECT vec_id, cell_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rk
        |  FROM cdist),
        |ccells AS (SELECT vec_id AS neighbor_id, cell_id FROM cass WHERE rk = 1),
        |cprobes AS (SELECT vec_id AS query_id, cell_id FROM cass WHERE rk <= 4 AND vec_id < 50)""".stripMargin

  private val ivfCellCtes: String = ivfCellCtesFor("")

  /** PQ-book + per-subvector code/distance CTEs (cent → ncode),
    * shared by the d50/d58/d91/d93 twin and the d117 recall oracle
    * so the book arithmetic cannot drift. `bookWhere` restricts the
    * training slice (the d91 rebalance proof). */
  private def ivfBookCtesFor(bookWhere: String): String =
    s"""cent AS (
        |  SELECT vec_id AS cid, q AS cq FROM q $bookWhere
        |  ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id
        |  LIMIT 8),""".stripMargin + "\n" +
    """centi AS (SELECT cq, CAST(row_number() OVER (ORDER BY cid) - 1 AS INT) AS code FROM cent),
        |sub AS (
        |  SELECT code, j.j,
        |    list_transform(range(1, 17), i -> cq[CAST(j.j*16 + i AS INT)]) AS cs
        |  FROM centi CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
        |dist AS (
        |  SELECT a.vec_id, s.j, s.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (a.q[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)])
        |      * (a.q[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)]))) AS BIGINT) AS d2
        |  FROM q a CROSS JOIN sub s),
        |ncode AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rk
        |    FROM dist) WHERE rk = 1)""".stripMargin

  /** One ADC-serve chain (adc → short → exact → ranked) against a
    * named probes CTE, suffixed so several nprobe arms can share one
    * book — shared by the twin (suffix "", `cprobes`), the d117
    * per-nprobe arms and the d123 per-shortlist arms (`shortK`
    * parametrizes the ADC shortlist cut the exact re-rank sees). */
  private def ivfServeChainFor(suffix: String, probesCte: String,
      shortK: Int = 50): String =
    s"""adc$suffix AS (
        |  SELECT qd.vec_id AS query_id, nc.vec_id AS neighbor_id,
        |    CAST(sum(qd.d2) AS BIGINT) AS adc2
        |  FROM ncode nc
        |  JOIN ccells cc ON cc.neighbor_id = nc.vec_id
        |  JOIN $probesCte p ON p.cell_id = cc.cell_id
        |  JOIN dist qd ON qd.vec_id = p.query_id
        |    AND qd.j = nc.j AND qd.code = nc.code
        |  WHERE qd.vec_id != nc.vec_id
        |  GROUP BY 1, 2),
        |short$suffix AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc2, neighbor_id) AS rk
        |    FROM adc$suffix) WHERE rk <= $shortK),
        |exact$suffix AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(a.q)+1), i ->
        |      (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)])
        |      * (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)]))) AS BIGINT) AS dist2
        |  FROM short$suffix s
        |  JOIN q a ON a.vec_id = s.query_id
        |  JOIN q b ON b.vec_id = s.neighbor_id),
        |ranked$suffix AS (
        |  SELECT query_id, neighbor_id, dist2,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist2, neighbor_id) AS rank
        |  FROM exact$suffix)""".stripMargin

  /** The d50 IVF-PQ md5-twin oracle, shared verbatim with the
    * d58 persistent-index entry (index read must equal direct
    * computation bit for bit). `bookWhere` restricts the PQ-book
    * training slice — the d91 rebalance proof trains the book on
    * the BUILD-time subset while the rebalanced cells train on the
    * full contents (codes never retrain on rebalance, cells do). */
  private def ivfPqTwinSqlFor(bookWhere: String): String =
    s"WITH $ivfCellCtes,\n" +
    ivfBookCtesFor(bookWhere) + ",\n" +
    ivfServeChainFor("", "cprobes") + "\n" +
    """SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist2
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin

  private val ivfPqTwinSql: String = ivfPqTwinSqlFor("")

  /** d154 oracle: cells AND book trained on the evens slice (the
    * shared shard geometry), every vector encoded/assigned against
    * it — exactly what merging an evens-built index with an
    * odds-shard encoded on its codebook must serve. */
  private val mergedAnnTwinSql: String =
    s"WITH ${ivfCellCtesFor("WHERE vec_id % 2 = 0")},\n" +
    ivfBookCtesFor("WHERE vec_id % 2 = 0") + ",\n" +
    ivfServeChainFor("", "cprobes") + "\n" +
    """SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist2
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin

  /** d117 oracle: the twin's cell/book arithmetic, served at THREE
    * nprobe values (cprobes1/cprobes2 from the same cell-rank CTE,
    * the twin's own cprobes for nprobe 4), each arm ranked to k=10,
    * plus the brute-force exact top-10 ground truth over all
    * vectors — recall = |served ∩ true| / (n_queries · 10), exact
    * integer counts divided once. */
  /** d136 oracle: RESIDUAL-encoded IVFPQ re-derived end to end —
    * per-vector residuals against the assigned cell's centroid
    * (both integer-valued, so every step stays exact BIGINT
    * arithmetic), the book trained on the first-8 residuals by md5
    * order, candidate codes from residual distances, the query LUT
    * per (query, PROBED cell) — the one structural difference from
    * the raw twin — then ADC, the shortlist cut and the exact
    * re-rank over RAW vectors. */
  private val residualIvfPqSql: String =
    s"WITH $ivfCellCtes,\n" +
    """resv AS (
        |  SELECT a.vec_id, list_transform(range(1, len(a.q)+1), i ->
        |    a.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]) AS rq
        |  FROM q a JOIN ccells cc ON cc.neighbor_id = a.vec_id
        |  JOIN ccent c ON c.cell_id = cc.cell_id),
        |rcent AS (
        |  SELECT vec_id AS cid, rq AS cq FROM resv
        |  ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id
        |  LIMIT 8),
        |rcenti AS (SELECT cq, CAST(row_number() OVER (ORDER BY cid) - 1 AS INT) AS code FROM rcent),
        |rsub AS (
        |  SELECT code, j.j,
        |    list_transform(range(1, 17), i -> cq[CAST(j.j*16 + i AS INT)]) AS cs
        |  FROM rcenti CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
        |ndist AS (
        |  SELECT a.vec_id, s.j, s.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (a.rq[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)])
        |      * (a.rq[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)]))) AS BIGINT) AS d2
        |  FROM resv a CROSS JOIN rsub s),
        |rncode AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rk
        |    FROM ndist) WHERE rk = 1),
        |qres AS (
        |  SELECT p.query_id, p.cell_id,
        |    list_transform(range(1, len(a.q)+1), i ->
        |      a.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]) AS rq
        |  FROM cprobes p JOIN q a ON a.vec_id = p.query_id
        |  JOIN ccent c ON c.cell_id = p.cell_id),
        |qdist AS (
        |  SELECT a.query_id, a.cell_id, s.j, s.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (a.rq[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)])
        |      * (a.rq[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)]))) AS BIGINT) AS d2
        |  FROM qres a CROSS JOIN rsub s),
        |radc AS (
        |  SELECT qd.query_id, nc.vec_id AS neighbor_id,
        |    CAST(sum(qd.d2) AS BIGINT) AS adc2
        |  FROM rncode nc
        |  JOIN ccells cc ON cc.neighbor_id = nc.vec_id
        |  JOIN qdist qd ON qd.cell_id = cc.cell_id
        |    AND qd.j = nc.j AND qd.code = nc.code
        |  WHERE qd.query_id != nc.vec_id
        |  GROUP BY 1, 2),
        |rshort AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc2, neighbor_id) AS rk
        |    FROM radc) WHERE rk <= 50),
        |rexact AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(a.q)+1), i ->
        |      (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)])
        |      * (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)]))) AS BIGINT) AS dist2
        |  FROM rshort s
        |  JOIN q a ON a.vec_id = s.query_id
        |  JOIN q b ON b.vec_id = s.neighbor_id),
        |rranked AS (
        |  SELECT query_id, neighbor_id, dist2,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist2, neighbor_id) AS rank
        |  FROM rexact)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist2
        |FROM rranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin

  /** Brute-force exact ground truth + query count over the twin's
    * `q` CTE — shared by the d117 (nprobe) and d123 (shortlist)
    * sweeps so both score against the identical truth set. */
  private val bruteTruthCtes: String =
    """bd AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(a.q)+1), i ->
        |      (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)])
        |      * (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)]))) AS BIGINT) AS d2
        |  FROM q a JOIN q b ON b.vec_id != a.vec_id
        |  WHERE a.vec_id < 50),
        |btrue AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY d2, neighbor_id) AS rk
        |    FROM bd) WHERE rk <= 10),
        |nqr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q WHERE vec_id < 50)""".stripMargin

  /** One recall arm: hits of a ranked serve chain against btrue. */
  private def recallArmSql(label: Int, armCol: String,
      rankedCte: String): String =
    s"""SELECT $label AS $armCol, CAST(count(*) AS BIGINT) AS hits
        |  FROM $rankedCte r JOIN btrue t USING (query_id, neighbor_id)
        |  WHERE r.rank <= 10""".stripMargin

  private val annRecallSql: String =
    s"WITH $ivfCellCtes,\n" +
    """cprobes1 AS (SELECT vec_id AS query_id, cell_id FROM cass WHERE rk <= 1 AND vec_id < 50),
        |cprobes2 AS (SELECT vec_id AS query_id, cell_id FROM cass WHERE rk <= 2 AND vec_id < 50),""".stripMargin +
    "\n" + ivfBookCtesFor("") + ",\n" +
    ivfServeChainFor("1", "cprobes1") + ",\n" +
    ivfServeChainFor("2", "cprobes2") + ",\n" +
    ivfServeChainFor("4", "cprobes") + ",\n" +
    bruteTruthCtes + ",\n" +
    "hitsr AS (\n" +
    Seq((1, "ranked1"), (2, "ranked2"), (4, "ranked4"))
      .map { case (l, r) => recallArmSql(l, "nprobe", r) }
      .mkString("", "\n  UNION ALL\n", ")\n") +
    """SELECT nprobe, 10 AS k, n AS n_queries, hits,
        |  round(CAST(hits AS DOUBLE) / CAST(n * 10 AS DOUBLE), 4) AS recall
        |FROM hitsr CROSS JOIN nqr
        |ORDER BY nprobe""".stripMargin

  /** d123 oracle: the twin's cell/book arithmetic served at nprobe 4
    * with the ADC shortlist cut at 10/50/200 (factors 1/5/20 of
    * k=10), each arm exact-re-ranked to k=10 and scored against the
    * same brute-force truth as d117 — the refine-depth card
    * re-derived end to end. */
  private val annRefineSql: String =
    s"WITH $ivfCellCtes,\n" +
    ivfBookCtesFor("") + ",\n" +
    ivfServeChainFor("s1", "cprobes", 10) + ",\n" +
    ivfServeChainFor("s5", "cprobes", 50) + ",\n" +
    ivfServeChainFor("s20", "cprobes", 200) + ",\n" +
    bruteTruthCtes + ",\n" +
    "hitsr AS (\n" +
    Seq((1, "rankeds1"), (5, "rankeds5"), (20, "rankeds20"))
      .map { case (l, r) => recallArmSql(l, "shortlist_factor", r) }
      .mkString("", "\n  UNION ALL\n", ")\n") +
    """SELECT shortlist_factor, 10 AS k, n AS n_queries, hits,
        |  round(CAST(hits AS DOUBLE) / CAST(n * 10 AS DOUBLE), 4) AS recall
        |FROM hitsr CROSS JOIN nqr
        |ORDER BY shortlist_factor""".stripMargin

  /** DuckDB mirror of TextAnalysis.occurrences on padded lower text. */
  private def occ(marker: String): String =
    s"CAST((length(pt) - length(replace(pt, '$marker', ''))) / ${marker.length} AS INT)"

  private val langScoreSql: String = TextAnalysis.langMarkers.map {
    case (lang, ms) =>
      ms.map(occ).mkString(" + ") + s" AS score_$lang"
  }.mkString(",\n  ")

  private val langPredSql: String = {
    val langs = TextAnalysis.langMarkers.map(_._1)
    val maxExpr = s"greatest(${langs.map("score_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN score_$l = $maxExpr THEN '$l'").mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** Shared DuckDB fragments: the d4 blocked n-gram Jaccard pair
    * generation, reused by the components oracle. */
  private val ngramCtes: String =
    """base AS (
      |  SELECT doc_id, lang, CAST(n_chars // 100 AS INT) AS lb,
      |    string_split_regex(lower(trim(text)), '\s+') AS ws
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, lang, lb,
      |    CASE WHEN len(ws) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [list_aggregate(ws, 'string_agg', ' ')] END AS s
      |  FROM base
      |)""".stripMargin

  private val ngramPairSelect: String =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
      |FROM sh a JOIN sh b ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    len(list_distinct(list_concat(a.s, b.s))) >= 0.2""".stripMargin

  /** DuckDB mirror of Dedup.md5Hash60: integer value of the first 15
    * hex chars of md5. */
  private def h60(e: String): String = s"('0x'||substr(md5($e),1,15))::BIGINT"

  /** The d29 hamming threshold, shared by the Spark entry and the
    * generated oracle SQL so they cannot drift. */
  private val d29MaxDist = 4

  /** The d36 gram width, shared by the Spark entry and the generated
    * oracle SQL so they cannot drift. */
  private val d36GramK = 8

  /** d36 oracle: recompute every k-token gram hash from raw text
    * (slice + string_agg + md5), mark grams held by more than one
    * document (min != max doc over the hash), and merge surviving
    * positions into maximal spans with the same gaps-and-islands
    * arithmetic (break iff pos - lag(pos) > k). */
  private val substringDedupSql: String = {
    val k = d36GramK
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |), g AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    ('0x'||substr(md5(list_aggregate(ws[i:i+$k-1], 'string_agg', ' ')),1,15))::BIGINT AS h
       |  FROM t, unnest(range(1, len(ws) - $k + 2)) AS u(i)
       |  WHERE len(ws) >= $k
       |), x AS (
       |  SELECT doc_id, pos,
       |    min(doc_id) OVER (PARTITION BY h) AS mn,
       |    max(doc_id) OVER (PARTITION BY h) AS mx
       |  FROM g
       |), hits AS (
       |  SELECT doc_id, pos FROM x WHERE mn <> mx
       |), isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $k
       |      THEN 1 ELSE 0 END AS brk
       |  FROM hits
       |), grp AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl
       |)
       |SELECT doc_id, min(pos) AS span_start,
       |  max(pos) + ($k - 1) AS span_end,
       |  CAST(count(*) AS BIGINT) AS n_grams
       |FROM grp GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** d43 oracle: re-derive the decontamination screen from raw text —
    * the 1/16 md5(doc_id) slice is the holdout, its distinct k-gram
    * hashes (the d36 slice+md5 arithmetic) form the banned set, and
    * each training doc counts its gram positions landing in it. */
  private val decontaminateSql: String =
    decontaminateSqlFor(wsTokensSql)

  /** The d43 derivation parametrized over the token expression (the
    * bm25SqlFor discipline) — d135 reuses it with the norm family
    * over the planted text. */
  private def decontaminateSqlFor(wsExpr: String): String = {
    val k = d36GramK
    s"""WITH t AS (
       |  SELECT doc_id,
       |    $wsExpr AS ws,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_hold
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), g AS (
       |  SELECT doc_id, is_hold,
       |    ('0x'||substr(md5(list_aggregate(ws[i:i+$k-1], 'string_agg', ' ')),1,15))::BIGINT AS h
       |  FROM t, unnest(range(1, len(ws) - $k + 2)) AS u(i)
       |  WHERE len(ws) >= $k
       |), hold AS (
       |  SELECT DISTINCT h FROM g WHERE is_hold
       |), sh AS (
       |  SELECT doc_id, count(*) AS shared_grams FROM g
       |  WHERE NOT is_hold AND h IN (SELECT h FROM hold)
       |  GROUP BY doc_id
       |)
       |SELECT t.doc_id, coalesce(sh.shared_grams, 0) AS shared_grams,
       |  coalesce(sh.shared_grams, 0) > 0 AS contaminated
       |FROM t LEFT JOIN sh USING (doc_id)
       |WHERE NOT is_hold ORDER BY doc_id""".stripMargin
  }

  /** d44 oracle: plant the identical doc_id-derived PII, then apply
    * the same ordered pattern set (Java-regex/RE2-identical subset)
    * with DuckDB's regexp_replace(..., 'g') and count via
    * regexp_extract_all on the pre-redaction text. */
  private val redactPiiSql: String = {
    val Seq((emailRe, emailTok), (ipRe, ipTok), (numRe, numTok)) =
      graft.operators.TextAnalysis.piiPatterns
    // DuckDB single-quoted literals pass backslashes through
    // unprocessed, so the Java pattern string is the SQL literal
    // verbatim (only ' would need doubling; the patterns hold none).
    def q(re: String): String = re.replace("'", "''")
    s"""WITH p AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' user' || CAST(doc_id AS VARCHAR)
       |      || '@m' || CAST(doc_id % 7 AS VARCHAR) || '.net' ELSE '' END ||
       |    CASE WHEN doc_id % 6 = 0 THEN ' b' || CAST(doc_id AS VARCHAR)
       |      || '@x.org' ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' 10.' || CAST(doc_id % 250 AS VARCHAR)
       |      || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' 9' || lpad(CAST(doc_id AS VARCHAR), 9, '0')
       |      ELSE '' END AS pii_text
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |)
       |, r AS (
       |  SELECT doc_id, pii_text,
       |    regexp_replace(pii_text, '${q(emailRe)}', '$emailTok', 'g')
       |      AS after_email
       |  FROM p
       |), r2 AS (
       |  SELECT doc_id, pii_text, after_email,
       |    regexp_replace(after_email, '${q(ipRe)}', '$ipTok', 'g') AS after_ip
       |  FROM r
       |)
       |SELECT doc_id,
       |  regexp_replace(after_ip, '${q(numRe)}', '$numTok', 'g') AS clean_text,
       |  CAST(len(regexp_extract_all(pii_text, '${q(emailRe)}')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(after_email, '${q(ipRe)}')) AS INT) AS n_ips,
       |  CAST(len(regexp_extract_all(after_ip, '${q(numRe)}')) AS INT) AS n_digit_runs
       |FROM r2 ORDER BY doc_id""".stripMargin
  }

  /** d38 oracle: the [[substringDedupSql]] gram/island machinery with
    * the keep-one filter (doc <> min holder), then token-level
    * reconstruction — unnest the ORIGINAL-case split with positions,
    * anti-join covered positions, string_agg back in order. A fully
    * covered doc comes back as '' via the outer join. */
  private val spanCutSql: String = {
    val k = d36GramK
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws,
       |         string_split_regex(trim(text), '\\s+') AS wso
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |), g AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    ('0x'||substr(md5(list_aggregate(ws[i:i+$k-1], 'string_agg', ' ')),1,15))::BIGINT AS h
       |  FROM t, unnest(range(1, len(ws) - $k + 2)) AS u(i)
       |  WHERE len(ws) >= $k
       |), x AS (
       |  SELECT doc_id, pos,
       |    min(doc_id) OVER (PARTITION BY h) AS mn,
       |    max(doc_id) OVER (PARTITION BY h) AS mx
       |  FROM g
       |), hits AS (
       |  SELECT doc_id, pos FROM x WHERE mn <> mx AND doc_id <> mn
       |), isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $k
       |      THEN 1 ELSE 0 END AS brk
       |  FROM hits
       |), grp AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl
       |), cuts AS (
       |  SELECT doc_id, min(pos) AS s, max(pos) + ($k - 1) AS e
       |  FROM grp GROUP BY doc_id, island
       |), p AS (
       |  SELECT doc_id, CAST(i AS INT) AS p, wso[CAST(i AS INT)] AS w
       |  FROM t, unnest(range(1, len(wso) + 1)) AS u(i)
       |), kept AS (
       |  SELECT p.doc_id AS doc_id, p.p AS p, p.w AS w
       |  FROM p LEFT JOIN cuts
       |    ON p.doc_id = cuts.doc_id AND p.p >= cuts.s AND p.p <= cuts.e
       |  WHERE cuts.doc_id IS NULL
       |)
       |SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text
       |FROM t LEFT JOIN (
       |  SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS clean_text
       |  FROM kept GROUP BY doc_id) k ON t.doc_id = k.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** d37 oracle: the same gram CTE as [[substringDedupSql]], then the
    * two duplication signals per document — intra-doc (count over
    * (h, doc_id) > 1) and cross-doc (min != max doc over h) — exactly
    * the engine's two window specs, re-derived from raw text. */
  private val gramProfileSql: String = {
    val k = d36GramK
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |), g AS (
       |  SELECT doc_id,
       |    ('0x'||substr(md5(list_aggregate(ws[i:i+$k-1], 'string_agg', ' ')),1,15))::BIGINT AS h
       |  FROM t, unnest(range(1, len(ws) - $k + 2)) AS u(i)
       |  WHERE len(ws) >= $k
       |), x AS (
       |  SELECT doc_id,
       |    count(*) OVER (PARTITION BY h, doc_id) AS c,
       |    min(doc_id) OVER (PARTITION BY h) AS mn,
       |    max(doc_id) OVER (PARTITION BY h) AS mx
       |  FROM g
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS dup_gram_frac,
       |  CAST(sum(CASE WHEN mn <> mx THEN 1 ELSE 0 END) AS BIGINT) AS n_crossdoc_grams
       |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** d29 oracle: recompute the md5-based 60-bit simhash per document
    * from raw text (one hash per token with multiplicity, majority
    * vote per bit), then brute-force ALL pairs with
    * bit_count(xor) <= maxDist — the complete ground-truth pair set
    * the chunked bucketing must equal. */
  private val md5SimhashSql: String = {
    val bitSums = (0 until 60).map(i => s"sum((h >> $i) & 1) AS b$i")
      .mkString(", ")
    val sigSum = (0 until 60)
      .map(i => s"CASE WHEN 2*b$i >= n THEN (1::BIGINT << $i) ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |), h AS (
       |  SELECT doc_id, ${h60("t")} AS h FROM tok
       |), bits AS (
       |  SELECT doc_id, count(*) AS n, $bitSums
       |  FROM h GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, $sigSum AS sim FROM bits
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= $d29MaxDist
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** d30 oracle: recompute the md5-based universal-hash minhash
    * signature per document from raw text (same mhA/mhB constants as
    * the Spark side), re-derive candidates by exact band-slice
    * equality (16 bands × 2 rows), and verify true 3-gram Jaccard —
    * the exact candidate+pair derivation the banding must equal. */
  /** The d30 md5-minhash twin oracle, parameterized by the banding
    * geometry so the d20b UNBLOCKED twin (32 bands of r=1, threshold
    * 0.2 — d20's exact parameters) shares the machinery verbatim. */
  private def md5MinhashSqlFor(numPerms: Int, bands: Int,
      threshold: Double): String = {
    import graft.operators.Dedup.{mhA, mhB, mhPrime}
    val r = numPerms / bands
    val mins = (0 until numPerms)
      .map(j => s"min((h * ${mhA(j)} + ${mhB(j)}) % $mhPrime) AS m$j")
      .mkString(", ")
    val bandCond = (0 until bands)
      .map { b =>
        "(" + (0 until r).map(j => s"a.m${b * r + j} = b.m${b * r + j}")
          .mkString(" AND ") + ")"
      }
      .mkString(" OR ")
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) >= 3 THEN
       |      list_distinct(list_transform(range(1, len(ws) - 1),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |    ELSE [list_aggregate(ws, 'string_agg', ' ')] END AS s
       |  FROM base
       |), g AS (
       |  SELECT doc_id, unnest(s) AS g FROM sh
       |), h AS (
       |  SELECT doc_id, ${h60("g")} & 1073741823 AS h FROM g
       |), m AS (
       |  SELECT doc_id, $mins FROM h GROUP BY doc_id
       |), cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM m a JOIN m b ON a.doc_id < b.doc_id
       |  WHERE $bandCond
       |)
       |SELECT c.id_a, c.id_b,
       |  round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |    len(list_distinct(list_concat(x.s, y.s))), 4) AS jaccard
       |FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
       |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |    len(list_distinct(list_concat(x.s, y.s))) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }
  private val md5MinhashSql: String = md5MinhashSqlFor(32, 16, 0.5)

  /** d155 oracle: both sides' md5-minhash band VECTORS (32 perms, 16
    * bands of r=2 — the d30/d97 arithmetic), batch-band and
    * exact-hash novelty vs the evens-built index, every count and
    * share re-derived. Band novelty compares vectors where the
    * engine compares its xxhash64 band folds — equal modulo the
    * fold's collision-freeness, which d97 pins on this corpus. */
  private lazy val d155Sql: String = {
    import graft.operators.Dedup.{mhA, mhB, mhPrime}
    val mins = (0 until 32)
      .map(j => s"min((h * ${mhA(j)} + ${mhB(j)}) % $mhPrime) AS m$j")
      .mkString(", ")
    def bandsOf(side: String) = (0 until 16)
      .map(b => s"SELECT $b AS band_id, m${2 * b} AS x, m${2 * b + 1} AS y FROM m_$side")
      .mkString("\nUNION ALL ")
    def sigChain(side: String, src: String) =
      s"""sh_$side AS (
         |  SELECT doc_id,
         |    CASE WHEN len(ws) >= 3 THEN
         |      list_distinct(list_transform(range(1, len(ws) - 1),
         |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
         |    ELSE [list_aggregate(ws, 'string_agg', ' ')] END AS s
         |  FROM $src
         |), g_$side AS (
         |  SELECT doc_id, unnest(s) AS g FROM sh_$side
         |), h_$side AS (
         |  SELECT doc_id, ${h60("g")} & 1073741823 AS h FROM g_$side
         |), m_$side AS (
         |  SELECT doc_id, $mins FROM h_$side GROUP BY doc_id
         |), bands_$side AS (
         |  SELECT DISTINCT band_id, x, y FROM (
         |${bandsOf(side)})
         |)""".stripMargin
    s"""WITH tok_e AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws,
       |    text
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 2 = 0
       |), tok_b AS (
       |  SELECT doc_id,
       |    string_split_regex(lower(trim(t2)), '\\s+') AS ws, t2 AS text
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN doc_id % 3 = 0
       |        THEN text || ' novelton' || CAST(doc_id % 7 AS VARCHAR)
       |        ELSE text END AS t2
       |    FROM documents
       |    WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 2 <> 0)
       |),
       |${sigChain("e", "tok_e")},
       |${sigChain("b", "tok_b")},
       |counts AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM tok_b) AS n_batch_docs,
       |    (SELECT CAST(count(*) AS BIGINT) FROM bands_b) AS n_batch_bands,
       |    (SELECT CAST(count(*) AS BIGINT) FROM bands_b b
       |       WHERE NOT EXISTS (SELECT 1 FROM bands_e e
       |         WHERE e.band_id = b.band_id AND e.x = b.x AND e.y = b.y))
       |      AS n_new_bands,
       |    (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) FROM tok_b)
       |      AS n_batch_hashes,
       |    (SELECT CAST(count(*) AS BIGINT) FROM
       |       (SELECT DISTINCT md5(text) AS ch FROM tok_b) b
       |       WHERE NOT EXISTS (SELECT 1 FROM tok_e e
       |         WHERE md5(e.text) = b.ch)) AS n_new_hashes
       |)
       |SELECT n_batch_docs, n_batch_bands, n_new_bands,
       |  round(CASE WHEN n_batch_bands > 0
       |    THEN CAST(n_new_bands AS DOUBLE) / n_batch_bands
       |    ELSE 0 END, 4) AS new_band_share,
       |  n_batch_hashes, n_new_hashes,
       |  round(CASE WHEN n_batch_hashes > 0
       |    THEN CAST(n_new_hashes AS DOUBLE) / n_batch_hashes
       |    ELSE 0 END, 4) AS new_hash_share
       |FROM counts""".stripMargin
  }

  /** d106 oracle: the md5-minhash banding machinery (32 perms, 16
    * bands of r=2 — the d30 geometry) with NO threshold and NO
    * size-ratio prefilter, re-binned into the integer Jaccard
    * histogram. list_intersect recounts shingle STRINGS, so the
    * engine's xxhash64 hashed-set intersection premise is verified
    * at every gate SF. */
  private val d106JaccardHistSql: String = {
    import graft.operators.Dedup.{mhA, mhB, mhPrime}
    val mins = (0 until 32)
      .map(j => s"min((h * ${mhA(j)} + ${mhB(j)}) % $mhPrime) AS m$j")
      .mkString(", ")
    val bandCond = (0 until 16)
      .map(b => s"(a.m${2 * b} = b.m${2 * b} AND " +
        s"a.m${2 * b + 1} = b.m${2 * b + 1})")
      .mkString(" OR ")
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) >= 3 THEN
       |      list_distinct(list_transform(range(1, len(ws) - 1),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |    ELSE [list_aggregate(ws, 'string_agg', ' ')] END AS s
       |  FROM base
       |), g AS (
       |  SELECT doc_id, unnest(s) AS g FROM sh
       |), h AS (
       |  SELECT doc_id, ${h60("g")} & 1073741823 AS h FROM g
       |), m AS (
       |  SELECT doc_id, $mins FROM h GROUP BY doc_id
       |), cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM m a JOIN m b ON a.doc_id < b.doc_id
       |  WHERE $bandCond
       |), iu AS (
       |  SELECT CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS i,
       |    CAST(len(x.s) + len(y.s) AS BIGINT) AS ab
       |  FROM cand c JOIN sh x ON x.doc_id = c.id_a
       |    JOIN sh y ON y.doc_id = c.id_b
       |)
       |SELECT bin, round(bin * 0.05, 2) AS j_lo,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM (SELECT (20 * i) // (ab - i) AS bin FROM iu)
       |GROUP BY bin ORDER BY bin""".stripMargin
  }

  /** d97 oracle: re-derive every md5-minhash band vector (the d30
    * mins arithmetic — 32 perms, 16 bands of r=2) and re-aggregate
    * the index's occupancy report. n_distinct_bands equality PROVES
    * the build-time xxhash64 band fold was collision-free on this
    * corpus (a collision would merge two band-vector groups and
    * shrink the engine's count). */
  private val dedupIndexStatsSql: String = {
    import graft.operators.Dedup.{mhA, mhB, mhPrime}
    val mins = (0 until 32)
      .map(j => s"min((h * ${mhA(j)} + ${mhB(j)}) % $mhPrime) AS m$j")
      .mkString(", ")
    val arms = (0 until 16)
      .map(b => s"SELECT doc_id, $b AS band_id, m${2 * b} AS x0, " +
        s"m${2 * b + 1} AS x1 FROM m")
      .mkString(" UNION ALL ")
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) >= 3 THEN
       |      list_distinct(list_transform(range(1, len(ws) - 1),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |    ELSE [list_aggregate(ws, 'string_agg', ' ')] END AS s
       |  FROM base
       |), g AS (SELECT doc_id, unnest(s) AS g FROM sh
       |), h AS (SELECT doc_id, ${h60("g")} & 1073741823 AS h FROM g
       |), m AS (SELECT doc_id, $mins FROM h GROUP BY doc_id
       |), bnd AS ($arms
       |), occ AS (
       |  SELECT band_id, x0, x1, CAST(count(*) AS BIGINT) AS c
       |  FROM bnd GROUP BY band_id, x0, x1
       |)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_docs,
       |  (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) FROM documents
       |     WHERE text IS NOT NULL) AS n_content_hashes,
       |  CAST(sum(c) AS BIGINT) AS n_band_rows,
       |  CAST(count(*) AS BIGINT) AS n_distinct_bands,
       |  CAST(max(c) AS BIGINT) AS max_band_occ
       |FROM occ""".stripMargin
  }

  /** d98 oracle: the d29 md5-simhash signature CTE + the pigeonhole
    * chunk slicing (maxDist = 2 → 3 chunks of widths 22/21/21 at
    * offsets 0/22/43, the Dedup.simChunkCols arithmetic verbatim),
    * re-aggregated into the chunk occupancy report. Same
    * collision-proof reading as d97. */
  private val simIndexStatsSql: String = {
    val bitSums = (0 until 60).map(i => s"sum((h >> $i) & 1) AS b$i")
      .mkString(", ")
    val sigSum = (0 until 60)
      .map(i => s"CASE WHEN 2*b$i >= n THEN (1::BIGINT << $i) ELSE 0 END")
      .mkString(" + ")
    val arms = Seq((0, 0, (1L << 22) - 1), (1, 22, (1L << 21) - 1),
      (2, 43, (1L << 21) - 1))
      .map { case (i, off, mask) =>
        s"SELECT doc_id, $i AS chunk_id, (sim >> $off) & $mask AS v FROM sig"
      }
      .mkString(" UNION ALL ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |), h AS (
       |  SELECT doc_id, ${h60("t")} AS h FROM tok
       |), bits AS (
       |  SELECT doc_id, count(*) AS n, $bitSums
       |  FROM h GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, $sigSum AS sim FROM bits
       |), ch AS ($arms
       |), occ AS (
       |  SELECT chunk_id, v, CAST(count(*) AS BIGINT) AS c
       |  FROM ch GROUP BY chunk_id, v
       |)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM sig) AS n_sigs,
       |  CAST(sum(c) AS BIGINT) AS n_chunk_rows,
       |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       |  CAST(max(c) AS BIGINT) AS max_chunk_occ
       |FROM occ""".stripMargin
  }

  /** d40 oracle: the [[md5MinhashSql]] signature machinery applied
    * CROSS-SET — batch (1/16 md5 slice) vs corpus (rest): candidates
    * by band-slice equality, verification by true 3-gram jaccard,
    * exact screen by content-hash equality; survivors = batch minus
    * both flag sets. The size-ratio prefilter is a necessary
    * condition only, so the oracle omits it without changing the
    * verified set. */
  /** The d40/d46 cross-set screen SQL, parameterized by LSH geometry
    * so d113's REBANDED index proves against the same derivation at
    * its NEW (bands, rows-per-band) — the reband claim is exactly
    * "screens as if freshly built at the new parameters". */
  private def indexedDedupSqlFor(numPerms: Int, bands: Int,
      textExpr: String = "text",
      wsExpr: String = "string_split_regex(lower(trim(text)), '\\s+')")
      : String = {
    import graft.operators.Dedup.{mhA, mhB, mhPrime}
    val r = numPerms / bands
    val mins = (0 until numPerms)
      .map(j => s"min((h * ${mhA(j)} + ${mhB(j)}) % $mhPrime) AS m$j")
      .mkString(", ")
    val bandCond = (0 until bands)
      .map(b => "(" + (0 until r)
        .map(k => s"a.m${b * r + k} = b.m${b * r + k}")
        .mkString(" AND ") + ")")
      .mkString(" OR ")
    s"""WITH all_docs AS (
       |  SELECT doc_id, $textExpr AS text, lang, source,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_batch,
       |    $wsExpr AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), sh AS (
       |  SELECT doc_id, is_batch,
       |    CASE WHEN len(ws) >= 3 THEN
       |      list_distinct(list_transform(range(1, len(ws) - 1),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |    ELSE [list_aggregate(ws, 'string_agg', ' ')] END AS s
       |  FROM all_docs
       |), g AS (
       |  SELECT doc_id, unnest(s) AS g FROM sh
       |), hh AS (
       |  SELECT doc_id, ${h60("g")} & 1073741823 AS h FROM g
       |), m AS (
       |  SELECT doc_id, $mins FROM hh GROUP BY doc_id
       |), cand AS (
       |  SELECT a.doc_id AS bid, b.doc_id AS cid
       |  FROM (SELECT m.* FROM m JOIN all_docs USING (doc_id) WHERE is_batch) a
       |  JOIN (SELECT m.* FROM m JOIN all_docs USING (doc_id) WHERE NOT is_batch) b
       |    ON $bandCond
       |), near AS (
       |  SELECT DISTINCT c.bid FROM cand c
       |  JOIN sh x ON x.doc_id = c.bid JOIN sh y ON y.doc_id = c.cid
       |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |    len(list_distinct(list_concat(x.s, y.s))) >= 0.5
       |), exact AS (
       |  SELECT DISTINCT b.doc_id FROM all_docs b JOIN all_docs c
       |    ON b.is_batch AND NOT c.is_batch AND md5(b.text) = md5(c.text)
       |)
       |SELECT d.doc_id, d.lang, d.source FROM all_docs d
       |WHERE d.is_batch
       |  AND d.doc_id NOT IN (SELECT bid FROM near)
       |  AND d.doc_id NOT IN (SELECT doc_id FROM exact)
       |ORDER BY d.doc_id""".stripMargin
  }

  private val incrementalDedupSql: String = indexedDedupSqlFor(32, 16)

  /** d116 oracle: every geometry's band-bucket census re-derived
    * from raw text — the mins CTE once, then per geometry one
    * GROUP BY per band over its r-tuple of mins, pair counts via
    * integer n·(n−1)//2. Bucket identity here is the band TUPLE
    * itself; Spark's is the 64-bit band fold — equal up to the
    * d97 no-collision premise this oracle re-verifies per gate. */
  private val rebandSweepSql: String = {
    import graft.operators.Dedup.{mhA, mhB, mhPrime}
    val mins = (0 until 32)
      .map(j => s"min((h * ${mhA(j)} + ${mhB(j)}) % $mhPrime) AS m$j")
      .mkString(", ")
    def geometry(b: Int): String = {
      val r = 32 / b
      val perBand = (0 until b).map { band =>
        val cols = (0 until r).map(k => s"m${band * r + k}").mkString(", ")
        s"SELECT count(*) AS cnt FROM m GROUP BY $cols"
      }.mkString(" UNION ALL ")
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS candidate_pairs,
         |  CAST(max(cnt) AS BIGINT) AS max_band_occ
         |FROM ($perBand) GROUP BY 1, 2""".stripMargin
    }
    s"""WITH docs0 AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) >= 3 THEN
       |      list_distinct(list_transform(range(1, len(ws) - 1),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |    ELSE [list_aggregate(ws, 'string_agg', ' ')] END AS s
       |  FROM docs0
       |), g AS (
       |  SELECT doc_id, unnest(s) AS g FROM sh
       |), hh AS (
       |  SELECT doc_id, ${h60("g")} & 1073741823 AS h FROM g
       |), m AS (
       |  SELECT doc_id, $mins FROM hh GROUP BY doc_id
       |)
       |${Seq(32, 16, 8, 4).map(geometry).mkString("\nUNION ALL\n")}
       |ORDER BY bands""".stripMargin
  }

  /** d100 oracle: the d95 snapshot derivation + the d40/d46
    * cross-set screen arithmetic, with sides keyed by (doc_id, side)
    * because a CHANGED doc legitimately exists on both sides with
    * different text (old carries its EDITED twin). Work set = added
    * ('f' slice, absent from old) + changed ('e' slice, fingerprints
    * differ); retire = the ghost ids present only in old. */
  private val incrementalCurationSql: String = {
    import graft.operators.Dedup.{mhA, mhB, mhPrime}
    val mins = (0 until 32)
      .map(j => s"min((h * ${mhA(j)} + ${mhB(j)}) % $mhPrime) AS m$j")
      .mkString(", ")
    val bandCond = (0 until 16)
      .map(b => s"(a.m${2 * b} = b.m${2 * b} AND a.m${2 * b + 1} = b.m${2 * b + 1})")
      .mkString(" OR ")
    s"""WITH base AS (
       |  SELECT doc_id, text, substr(md5(CAST(doc_id AS VARCHAR)),1,1) AS h1
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), old AS (
       |  SELECT doc_id,
       |    CASE WHEN h1 = 'e' THEN text || ' EDITED' ELSE text END AS text
       |  FROM base WHERE h1 <> 'f'
       |  UNION ALL
       |  SELECT doc_id + 1000000000, text FROM base WHERE h1 = 'd'
       |), work AS (
       |  SELECT doc_id, text FROM base WHERE h1 IN ('f', 'e')
       |), uni AS (
       |  SELECT doc_id, text, TRUE AS is_batch FROM work
       |  UNION ALL
       |  SELECT doc_id, text, FALSE FROM old
       |), t AS (
       |  SELECT doc_id, is_batch,
       |    string_split_regex(lower(trim(text)), '\\s+') AS ws,
       |    md5(text) AS ch
       |  FROM uni
       |), sh AS (
       |  SELECT doc_id, is_batch, ch,
       |    CASE WHEN len(ws) >= 3 THEN
       |      list_distinct(list_transform(range(1, len(ws) - 1),
       |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
       |    ELSE [list_aggregate(ws, 'string_agg', ' ')] END AS s
       |  FROM t
       |), g AS (
       |  SELECT doc_id, is_batch, unnest(s) AS g FROM sh
       |), hh AS (
       |  SELECT doc_id, is_batch, ${h60("g")} & 1073741823 AS h FROM g
       |), m AS (
       |  SELECT doc_id, is_batch, $mins FROM hh GROUP BY doc_id, is_batch
       |), cand AS (
       |  SELECT a.doc_id AS bid, b.doc_id AS cid
       |  FROM (SELECT * FROM m WHERE is_batch) a
       |  JOIN (SELECT * FROM m WHERE NOT is_batch) b
       |    ON $bandCond
       |), near AS (
       |  SELECT DISTINCT c.bid FROM cand c
       |  JOIN sh x ON x.doc_id = c.bid AND x.is_batch
       |  JOIN sh y ON y.doc_id = c.cid AND NOT y.is_batch
       |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |    len(list_distinct(list_concat(x.s, y.s))) >= 0.5
       |), exact AS (
       |  SELECT DISTINCT x.doc_id FROM sh x
       |  WHERE x.is_batch AND x.ch IN (SELECT ch FROM sh WHERE NOT is_batch)
       |), skip AS (
       |  SELECT bid AS doc_id FROM near UNION SELECT doc_id FROM exact
       |)
       |SELECT doc_id, action FROM (
       |  SELECT w.doc_id, 'ingest' AS action FROM work w
       |  WHERE w.doc_id NOT IN (SELECT doc_id FROM skip)
       |  UNION ALL
       |  SELECT w.doc_id, 'skip_dup' FROM work w
       |  WHERE w.doc_id IN (SELECT doc_id FROM skip)
       |  UNION ALL
       |  SELECT doc_id + 1000000000, 'retire' FROM base WHERE h1 = 'd'
       |) ORDER BY doc_id, action""".stripMargin
  }

  /** d51 oracle: rebuilds the canonical BPE token-sequence string
    * from raw text — byte hex pairs pipe-delimited, then ONE
    * replace() per merge in rank order (left-to-right non-overlapping
    * replace IS the merge pass) — and shares the count/md5 arithmetic
    * with the Spark entry. Generated from
    * [[graft.functions.BpeTokenizer.mergesHex]], the same literal
    * table the kernel compiles, so the two cannot drift. */
  /** The d51 merge-chain CTEs: (joined CTE text, last CTE name).
    * Every token carries its OWN pipe pair ("|61||62|…"), so
    * adjacent merge occurrences share no characters and one
    * left-to-right replace per merge IS the kernel's merge pass
    * (see BpeTokenizer's canonical-form doc). DuckDB's binder caps
    * expression nesting at 128, so the merge chain is layered
    * through CTEs of <= 60 replaces each (rank order is preserved
    * across layers — CTE n applies strictly earlier merges than
    * CTE n+1). Shared by the d51 count/md5 oracle and the d59
    * packing-composition oracle. */
  private val bpeCteChain: (String, String) = {
    val s0 = "regexp_replace(lower(hex(encode(text))), " +
      "'([0-9a-f]{2})', '|\\1|', 'g')"
    val layers = graft.functions.BpeTokenizer.mergesHex.grouped(60).toVector
    val ctes = layers.zipWithIndex.map { case (chunk, i) =>
      val src = if (i == 0) s0 else "ts"
      val from = if (i == 0)
        "documents WHERE doc_id IS NOT NULL AND text IS NOT NULL"
      else s"t$i"
      val expr = chunk.foldLeft(src) { case (acc, (a, b)) =>
        s"replace($acc, '|$a||$b|', '|$a$b|')"
      }
      s"t${i + 1} AS (SELECT doc_id, $expr AS ts FROM $from)"
    }
    (ctes.mkString(",\n"), s"t${layers.length}")
  }

  private val bpeTokensSql: String = {
    val (ctes, last) = bpeCteChain
    s"""WITH $ctes
       |SELECT doc_id,
       |  CAST((length(ts) - length(replace(ts, '|', ''))) // 2 AS BIGINT) AS n_bpe,
       |  md5(ts) AS bpe_md5
       |FROM $last ORDER BY doc_id""".stripMargin
  }

  /** d60: re-derive the full training loop — per round, pair counts
    * from the canonical state, the (c desc, a, b) argmax, the
    * conditional corpus-wide merge (the d51 '|a||b|' replace IS the
    * merge pass), and the state digest. Chained CTEs are MATERIALIZED
    * — each t_i is referenced three times, so default inlining would
    * re-derive t0 exponentially many times (3^rounds scans). */
  /** The d60 training CTE chain (t0 + per-round p/m/t/d layers),
    * shared by the d60 merge-list oracle and the d61 train→apply
    * oracle. */
  private def bpeTrainCtesFor(sliceSql: String): String = {
    val layers = (1 to d60Merges).map { i =>
      val prev = s"t${i - 1}"
      s"""p$i AS (
         |  SELECT ws[CAST(i AS INT)] AS a, ws[CAST(i + 1 AS INT)] AS b, count(*) AS c
         |  FROM (SELECT string_split(trim(ts, '|'), '||') AS ws FROM $prev),
         |    unnest(range(1, len(ws))) AS u(i)
         |  GROUP BY a, b),
         |m$i AS MATERIALIZED (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |t$i AS MATERIALIZED (
         |  SELECT doc_id, CASE WHEN (SELECT c FROM m$i) >= 2
         |    THEN replace(ts,
         |      '|' || (SELECT a FROM m$i) || '||' || (SELECT b FROM m$i) || '|',
         |      '|' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || '|')
         |    ELSE ts END AS ts FROM $prev),
         |d$i AS (SELECT bit_xor(('0x'||substr(md5(ts),1,15))::BIGINT) AS dg FROM t$i)""".stripMargin
    }
    s"""t0 AS MATERIALIZED (
       |  SELECT doc_id, regexp_replace(lower(hex(encode(text))), '([0-9a-f]{2})', '|\\1|', 'g') AS ts
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |    AND $sliceSql),
       |${layers.mkString(",\n")}""".stripMargin
  }
  private val bpeTrainCtes: String = bpeTrainCtesFor(d60SliceSql)

  private def bpeTrainSqlFor(sliceSql: String): String = {
    val rows = (1 to d60Merges).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, (SELECT a FROM m$i) AS a,
         |  (SELECT b FROM m$i) AS b, (SELECT c FROM m$i) AS cnt,
         |  (SELECT dg FROM d$i) AS state_xor
         |WHERE (SELECT c FROM m$i) >= 2""".stripMargin
    }
    s"""WITH ${bpeTrainCtesFor(sliceSql)}
       |SELECT * FROM (${rows.mkString(" UNION ALL ")}) ORDER BY rank""".stripMargin
  }
  private val bpeTrainSql: String = bpeTrainSqlFor(d60SliceSql)

  /** d61: the SLICED training chain's merges applied to the FULL
    * corpus (a0..aM mirror the t-chain's conditional replace, over
    * every document) — count = pipes/2, md5 of the canonical
    * string. */
  /** The trained-BPE application chain (train CTEs + hex rendering +
    * one replace layer per learned merge), ending in
    * `a<d60Merges>(doc_id, ts)` — shared by the d61 tokenize oracle
    * and the d107 fertility oracle so the trained-merge application
    * cannot drift between them. */
  private val bpeTrainedApplyChain: String = {
    val applyLayers = (1 to d60Merges).map { i =>
      val prev = s"a${i - 1}"
      s"""a$i AS MATERIALIZED (
         |  SELECT doc_id, CASE WHEN (SELECT c FROM m$i) >= 2
         |    THEN replace(ts,
         |      '|' || (SELECT a FROM m$i) || '||' || (SELECT b FROM m$i) || '|',
         |      '|' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || '|')
         |    ELSE ts END AS ts FROM $prev)""".stripMargin
    }
    s"""$bpeTrainCtes,
       |a0 AS MATERIALIZED (
       |  SELECT doc_id, regexp_replace(lower(hex(encode(text))), '([0-9a-f]{2})', '|\\1|', 'g') AS ts
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |${applyLayers.mkString(",\n")}""".stripMargin
  }

  private val bpeTrainedTokenizeSql: String =
    s"""WITH $bpeTrainedApplyChain
       |SELECT doc_id,
       |  CAST((length(ts) - length(replace(ts, '|', ''))) // 2 AS BIGINT) AS n_trained,
       |  md5(ts) AS trained_md5
       |FROM a$d60Merges ORDER BY doc_id""".stripMargin

  /** d107 oracle: the trained-BPE chain re-applied, then per-language
    * INTEGER sums (token/word/byte totals) and the two single-division
    * ratios — fertility and bytes-per-token. */
  private val d107FertilitySql: String =
    s"""WITH $bpeTrainedApplyChain,
       |t AS (
       |  SELECT d.lang,
       |    CAST((length(a.ts) - length(replace(a.ts, '|', ''))) // 2 AS BIGINT) AS tk,
       |    CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(d.text), '\\s+')) END AS BIGINT) AS wd,
       |    CAST(octet_length(encode(d.text)) AS BIGINT) AS bt
       |  FROM a$d60Merges a JOIN documents d USING (doc_id)
       |  WHERE d.lang IS NOT NULL
       |)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tk) AS BIGINT) AS n_tokens,
       |  CAST(sum(wd) AS BIGINT) AS n_words,
       |  CAST(sum(bt) AS BIGINT) AS n_bytes,
       |  round(CAST(sum(tk) AS DOUBLE) / sum(wd), 4) AS fertility,
       |  round(CAST(sum(bt) AS DOUBLE) / sum(tk), 4) AS bytes_per_token
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** d59: the d32 prefix-sum arithmetic over REAL BPE counts — the
    * token counts come from the SAME merge-chain CTEs as d51. */
  private val bpePackSql: String = {
    val (ctes, last) = bpeCteChain
    s"""WITH $ctes,
       |t AS (
       |  SELECT doc_id,
       |    CAST((length(ts) - length(replace(ts, '|', ''))) // 2 AS BIGINT) AS n,
       |    md5(CAST(doc_id AS VARCHAR)) AS ord
       |  FROM $last
       |), c AS (
       |  SELECT doc_id, n,
       |    CAST(COALESCE(sum(n) OVER (ORDER BY ord NULLS FIRST
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM t
       |)
       |SELECT doc_id, n AS n_tokens, off AS start_off,
       |  CAST(off // 2048 AS BIGINT) AS bin_start,
       |  CAST((off + greatest(n, 1) - 1) // 2048 AS BIGINT) AS bin_end
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** d92: re-derive per-bin token-id content — the d51 merge chain
    * gives every doc's canonical "|hex|" token string, a vocab
    * VALUES table maps hex→id, the d59 prefix sum lays docs out, the
    * d90 arithmetic cuts segments, and each bin reassembles ORDER BY
    * (seg_start, in-doc position). Zero-only bins (a zero-token doc
    * on a capacity boundary at the corpus tail) surface via the LEFT
    * join and hash the empty string, matching Spark's empty array. */
  /** The d92 token→pack→segment derivation up to
    * `binned(bin, seg_start, rel, id)` — shared by the d92 per-bin
    * oracle and the d114 epoch-shard oracle, so the packing
    * arithmetic cannot drift between the two. */
  private val binnedCtes: String = {
    val (ctes, last) = bpeCteChain
    val vocabVals = graft.functions.BpeTokenizer.vocabHex
      .map { case (id, hx) => s"($id, '$hx')" }.mkString(", ")
    s"""$ctes,
       |vocab(id, hx) AS (VALUES $vocabVals),
       |t AS (
       |  SELECT doc_id, ts,
       |    CAST((length(ts) - length(replace(ts, '|', ''))) // 2 AS BIGINT) AS n,
       |    md5(CAST(doc_id AS VARCHAR)) AS ord
       |  FROM $last
       |), c AS (
       |  SELECT doc_id, ts, n,
       |    CAST(COALESCE(sum(n) OVER (ORDER BY ord NULLS FIRST
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM t
       |), tok AS (
       |  -- NB: the list alias must not collide with vocab.hx — an
       |  -- ambiguous name would resolve the index expression to the
       |  -- joined VARCHAR and silently empty the join
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, v.id
       |  FROM (SELECT doc_id, string_split(trim(ts, '|'), '||') AS hxs
       |        FROM c WHERE n > 0),
       |    unnest(range(1, len(hxs) + 1)) AS u(i)
       |  JOIN vocab v ON v.hx = hxs[CAST(i AS INT)]
       |), seg AS (
       |  SELECT CAST(bin AS BIGINT) AS bin, doc_id,
       |    CAST(greatest(off, bin * 2048) - bin * 2048 AS BIGINT) AS seg_start,
       |    CAST(least(off + n, (bin + 1) * 2048)
       |      - greatest(off, bin * 2048) AS BIGINT) AS seg_len,
       |    CAST(greatest(off, bin * 2048) - off AS BIGINT) AS doc_off
       |  FROM (SELECT doc_id, n, off,
       |    unnest(range(off // 2048, (off + greatest(n, 1) - 1) // 2048 + 1)) AS bin
       |    FROM c)
       |), binned AS (
       |  SELECT s.bin, s.seg_start, k.pos - s.doc_off AS rel, k.id
       |  FROM seg s LEFT JOIN tok k ON k.doc_id = s.doc_id
       |    AND k.pos > s.doc_off AND k.pos <= s.doc_off + s.seg_len
       |)""".stripMargin
  }

  private val binTokensSql: String =
    s"""WITH $binnedCtes
       |SELECT bin, CAST(count(id) AS BIGINT) AS n_tokens,
       |  md5(COALESCE(string_agg(CAST(id AS VARCHAR), ','
       |    ORDER BY seg_start, rel), '')) AS ids_md5
       |FROM binned GROUP BY bin ORDER BY bin""".stripMargin

  /** d114 oracle: the binned derivation, folded to per-bin content
    * hashes, sharded by md5(seed|bin) mod 4 in (hash, bin) training
    * order, each shard's bin hashes folded under one md5 — DuckDB
    * re-derives every token id, every pack offset, every segment,
    * every bin hash, the shard assignment AND the order, so a
    * shard_md5 match pins the whole delivery artifact at once. */
  private val epochShardsSql: String =
    s"""WITH $binnedCtes,
       |bm AS (
       |  SELECT bin, CAST(count(id) AS BIGINT) AS nt,
       |    md5(COALESCE(string_agg(CAST(id AS VARCHAR), ','
       |      ORDER BY seg_start, rel), '')) AS bmd5
       |  FROM binned GROUP BY bin
       |), shx AS (
       |  SELECT bin, nt, bmd5,
       |    ('0x'||substr(md5('ep114|'||CAST(bin AS VARCHAR)),1,15))::BIGINT AS h
       |  FROM bm
       |)
       |SELECT CAST(h % 4 AS INT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_bins,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  md5(string_agg(bmd5, '' ORDER BY h, bin)) AS shard_md5
       |FROM shx GROUP BY 1 ORDER BY shard""".stripMargin

  /** The NB classifier score chain re-derived end to end, ending in
    * `nbscored(doc_id, n_tokens, log_odds)` — shared by the d73/d74
    * oracle and the d105 calibration oracle, so the score arithmetic
    * cannot drift between the three. */
  private val nbScoreCtes: String =
    s"""base AS (
        |  SELECT doc_id, (lang = 'en') AS y, $d60SliceSql AS tr,
        |    string_split_regex(lower(trim(text)), '\\s+') AS ws
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
        |), tok AS (
        |  SELECT doc_id, y, tr, unnest(ws) AS term FROM base
        |), cnt AS (
        |  SELECT term,
        |    CAST(count(*) FILTER (WHERE tr AND y) AS BIGINT) AS c1,
        |    CAST(count(*) FILTER (WHERE tr AND NOT y) AS BIGINT) AS c0
        |  FROM tok GROUP BY term
        |  HAVING count(*) FILTER (WHERE tr AND y) +
        |    count(*) FILTER (WHERE tr AND NOT y) > 0
        |), nv AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c0) AS BIGINT) AS n0,
        |    CAST(count(*) AS BIGINT) AS v FROM cnt
        |), ds AS (
        |  SELECT CAST(count(*) FILTER (WHERE y) AS BIGINT) AS d1,
        |    CAST(count(*) FILTER (WHERE NOT y) AS BIGINT) AS d0
        |  FROM base WHERE tr
        |), w AS (
        |  SELECT term,
        |    ln((CAST(c1 AS DOUBLE) + 1.0) / CAST(n1 + v AS DOUBLE)) -
        |    ln((CAST(c0 AS DOUBLE) + 1.0) / CAST(n0 + v AS DOUBLE)) AS tw
        |  FROM cnt CROSS JOIN nv
        |), fl AS (
        |  SELECT ln(1.0 / CAST(n1 + v AS DOUBLE)) -
        |    ln(1.0 / CAST(n0 + v AS DOUBLE)) AS fl0 FROM nv
        |), sc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(w.tw) AS BIGINT) AS m, sum(w.tw) AS sw
        |  FROM tok LEFT JOIN w USING (term) GROUP BY doc_id
        |), nbscored AS (
        |  SELECT doc_id, n_tokens,
        |    round(ln(CAST(d1 AS DOUBLE) / CAST(d0 AS DOUBLE)) +
        |      (coalesce(sw, 0.0) + CAST(n_tokens - m AS DOUBLE) * fl0), 4)
        |      AS log_odds
        |  FROM sc CROSS JOIN fl CROSS JOIN ds)""".stripMargin

  /** d73/d74 shared oracle: the NB classifier re-derived end to end
    * (see the oracles-map comment). `pred` compares the ALREADY
    * rounded log_odds to 0, exactly as the engine does. */
  private val nbClassifierSql: String =
    s"""WITH $nbScoreCtes
        |SELECT doc_id, n_tokens, log_odds, log_odds > 0 AS pred
        |FROM nbscored ORDER BY doc_id""".stripMargin

  /** d105 oracle: the calibration report re-derived from nbscored —
    * sigmoid of the 4dp-rounded score (identical doubles both
    * engines), fixed-width probability bins, integer-summed avg_p
    * (round(p·10⁴) as BIGINT — the d78 no-float-sum rule), and the
    * cumulative threshold sweep as a bin self-join. */
  private val d105CalibrationSql: String =
    s"""WITH $nbScoreCtes,
        |hold AS (
        |  SELECT s.log_odds, (d.lang = 'en') AS y
        |  FROM nbscored s JOIN documents d USING (doc_id)
        |  WHERE NOT ($d60SliceSql)
        |), pp AS (
        |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, y,
        |    CAST(round(p * 10000) AS BIGINT) AS p4
        |  FROM (SELECT 1.0 / (1.0 + exp(-log_odds)) AS p, y FROM hold)
        |), agg AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) FILTER (WHERE y) AS BIGINT) AS n_pos,
        |    CAST(sum(p4) AS BIGINT) AS p4s
        |  FROM pp GROUP BY bin
        |), tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp FROM agg)
        |SELECT a.bin, a.n, a.n_pos,
        |  round(CAST(a.n_pos AS DOUBLE) / a.n, 4) AS pos_rate,
        |  round(CAST(a.p4s AS DOUBLE) / (a.n * 10000.0), 4) AS avg_p,
        |  CAST(sum(b.n) AS BIGINT) AS cum_n,
        |  CAST(sum(b.n_pos) AS BIGINT) AS cum_pos,
        |  round(CAST(sum(b.n_pos) AS DOUBLE) / sum(b.n), 4) AS precision,
        |  CASE WHEN tp > 0
        |    THEN round(CAST(sum(b.n_pos) AS DOUBLE) / tp, 4) END AS recall
        |FROM agg a JOIN agg b ON b.bin >= a.bin CROSS JOIN tot
        |GROUP BY a.bin, a.n, a.n_pos, a.p4s, tp
        |ORDER BY a.bin""".stripMargin

  /** The d64b audio-fingerprint CTE chain (planted WAV sample
    * arithmetic — envelope × carrier, see Multimodal.audioSample —
    * → 65 window means → gradient-sign halves), ending in
    * `asigs(aid, sig_hi, sig_lo)`.
    * Parameterized by an extra WHERE fragment on the source slice and
    * shared by the d64b bit oracle and the d81 audio-dedup
    * composition oracle, so the two cannot drift (the dhashSigCtes
    * discipline applied to audio). */
  private def audioFpCtes(extraWhere: String): String =
    s"""ids AS (
       |  SELECT doc_id AS src FROM documents
       |  WHERE doc_id IS NOT NULL AND doc_id % 3 = 1$extraWhere
       |), auds AS (
       |  SELECT src, src AS aid FROM ids
       |  UNION ALL
       |  SELECT src, src + 10000000 FROM ids
       |), dims AS (
       |  SELECT aid, src, 1 + (src % 2) AS ch, 200 + (src % 100) AS nf
       |  FROM auds
       |), wins AS (
       |  SELECT d.aid, d.src, d.ch, w.w,
       |    (w.w * d.nf) // 65 AS f0, ((w.w + 1) * d.nf) // 65 AS f1
       |  FROM dims d, (SELECT unnest(range(65)) AS w) w
       |), en AS (
       |  SELECT aid, w,
       |    SUM(abs(v)) // ((f1 - f0) * ch) AS e
       |  FROM (
       |    SELECT aid, w, f1, f0, ch,
       |      (((src * 31 + j * 7 + (src // 256) * (j % 13)) % 251) - 125)
       |      * (1 + ((f * (1 + (src + 31) % 31)) % 97)) AS v
       |    FROM (
       |      SELECT ws.aid, ws.src, ws.w, ws.f1, ws.f0, ws.ch,
       |        fs.f AS f, fs.f * ws.ch + cs.c AS j
       |      FROM wins ws,
       |        unnest(range(ws.f0, ws.f1)) AS fs(f),
       |        unnest(range(ws.ch)) AS cs(c)
       |    ) jx
       |  ) s
       |  GROUP BY 1, 2, f1, f0, ch
       |), asigs AS (
       |  SELECT a.aid,
       |    CAST(SUM(CASE WHEN b.e > a.e AND a.w >= 32
       |      THEN (CAST(1 AS BIGINT) << (a.w - 32)) ELSE 0 END) AS BIGINT)
       |      AS sig_hi,
       |    CAST(SUM(CASE WHEN b.e > a.e AND a.w < 32
       |      THEN (CAST(1 AS BIGINT) << a.w) ELSE 0 END) AS BIGINT)
       |      AS sig_lo
       |  FROM en a
       |  JOIN en b ON b.aid = a.aid AND b.w = a.w + 1
       |  WHERE a.w < 64
       |  GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    // d137: both snapshot counts re-derived from the corpus — the
    // pinned handle must read the PRE-rewrite corpus, the current
    // one the post-rewrite corpus
    "d137_versioned_read" ->
      """SELECT 'current_v2' AS snapshot, CAST(count(*) AS BIGINT) AS n
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 3 <> 0
        |UNION ALL
        |SELECT 'pinned_v1', CAST(count(*) AS BIGINT)
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |ORDER BY snapshot""".stripMargin,

    "d138_drift_directions" -> d138Sql,
    "d139_retrieval_card" -> d139Sql,
    // indexed arms == fresh arms, the d112 twin discipline lifted to
    // the whole decision card — one SQL string proves both paths
    "d144_indexed_card" -> d139Sql,
    "d150_card_lm" -> d150Sql,
    "d157_indexed_card_lm" -> d150Sql,
    // merged shards serve exactly like one whole build — the d70/d112
    // full-corpus SQL verbatim (the twin discipline)
    "d140_merged_bm25" -> d70Sql,
    "d141_prf_bm25" -> d141Sql,
    "d149_indexed_prf" -> d141Sql,
    "d151_indexed_prf_blended" -> d145Sql,
    "d142_snippet_windows" -> d142Sql,
    "d145_prf_blended" -> d145Sql,

    // d146: index vocabulary from the even half, batch tokenization
    // with the planted novel family, newness join, shares
    "d147_lm_dirichlet" -> d147Sql,
    // indexed serve == fresh scan, one SQL string (twin)
    "d148_indexed_dirichlet" -> d147Sql,

    "d146_bm25_ingest_drift" ->
      """WITH voc AS (
        |  SELECT DISTINCT unnest(string_split_regex(lower(trim(text)),
        |    '\s+')) AS term
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 2 = 0
        |), bt AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(
        |      text || ' novelton' || CAST(doc_id % 7 AS VARCHAR))),
        |      '\s+') AS ws
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND doc_id % 2 <> 0
        |), tc AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(ws) AS term FROM bt) z GROUP BY term
        |), j AS (
        |  SELECT tc.term, tc.n,
        |    CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS newt
        |  FROM tc LEFT JOIN voc v USING (term)
        |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bt)
        |SELECT (SELECT n FROM nd) AS n_batch_docs,
        |  CAST(count(*) AS BIGINT) AS n_batch_terms,
        |  CAST(sum(newt) AS BIGINT) AS n_new_terms,
        |  round(CAST(sum(newt) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
        |    AS new_term_share,
        |  CAST(sum(n) AS BIGINT) AS n_batch_tokens,
        |  CAST(sum(CASE WHEN newt = 1 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_oov_tokens,
        |  round(CAST(sum(CASE WHEN newt = 1 THEN n ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE), 4) AS oov_token_share
        |FROM j""".stripMargin,

    // d143: the ivfCellCtes derivation with centroids trained on the
    // EVEN half (the built index's training slice), both halves
    // assigned, counts/shares/shifts re-derived per stored cell
    "d143_ann_ingest_drift" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM mm),
        |ccent AS (
        |  SELECT vec_id AS cell_id, q AS cq FROM q
        |  WHERE vec_id % 2 = 0
        |  ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id
        |  LIMIT 16),
        |cdist AS (
        |  SELECT a.vec_id, c.cell_id,
        |    CAST(list_sum(list_transform(range(1, len(a.q)+1), i ->
        |      (a.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)])
        |      * (a.q[CAST(i AS INT)] - c.cq[CAST(i AS INT)]))) AS BIGINT) AS d2
        |  FROM q a CROSS JOIN ccent c),
        |cass AS (
        |  SELECT vec_id, cell_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rk
        |  FROM cdist),
        |ccells AS (SELECT vec_id, cell_id FROM cass WHERE rk = 1),
        |idx AS (
        |  SELECT cell_id, CAST(count(*) AS BIGINT) AS n
        |  FROM ccells WHERE vec_id % 2 = 0 GROUP BY cell_id),
        |bat AS (
        |  SELECT cell_id, CAST(count(*) AS BIGINT) AS n
        |  FROM ccells WHERE vec_id % 2 <> 0 GROUP BY cell_id),
        |ti AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM idx),
        |tb AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM bat)
        |SELECT c.cell_id,
        |  coalesce(i.n, 0) AS n_index,
        |  coalesce(b.n, 0) AS n_batch,
        |  round(CAST(coalesce(i.n, 0) AS DOUBLE) / CAST(ti.t AS DOUBLE), 4)
        |    AS share_index,
        |  round(CAST(coalesce(b.n, 0) AS DOUBLE) / CAST(tb.t AS DOUBLE), 4)
        |    AS share_batch,
        |  round(CAST(coalesce(b.n, 0) AS DOUBLE) / CAST(tb.t AS DOUBLE)
        |    - CAST(coalesce(i.n, 0) AS DOUBLE) / CAST(ti.t AS DOUBLE), 4)
        |    AS share_shift
        |FROM ccent c LEFT JOIN idx i USING (cell_id)
        |LEFT JOIN bat b USING (cell_id)
        |CROSS JOIN ti CROSS JOIN tb
        |ORDER BY cell_id""".stripMargin,

    "d40_incremental_dedup" -> incrementalDedupSql,

    // identical semantics through the persistent index — the same
    // raw-text re-derivation must reproduce the survivors
    "d46_indexed_dedup" -> incrementalDedupSql,

    // d113: the d46 screen derivation AT THE REBANDED GEOMETRY
    // (8 bands × 4 rows from the same 32 permutations) — proving the
    // index-local reband equals a fresh build at the new parameters.
    "d113_rebanded_dedup" -> indexedDedupSqlFor(32, 8),

    // d126: d46's derivation VERBATIM — the index was built on the
    // even half of the corpus slice and RECONCILED up to all of it,
    // so a hash match proves the healed index screens exactly like
    // one built whole.
    "d126_dedup_reconcile" -> incrementalDedupSql,
    "d152_merged_dedup" -> incrementalDedupSql,
    "d155_dedup_ingest_drift" -> d155Sql,
    "d158_sim_ingest_drift" -> d158Sql,
    "d159_actuator_loop" -> d159Sql,

    // d133: the d46 derivation with the tokenize step swapped for
    // the NORM family over the punctuation-planted text (the
    // bm25SqlFor parametrization applied to the dedup twin) — both
    // the exact screen's md5 and the shingle words derive from the
    // planted text.
    "d133_norm_dedup" -> indexedDedupSqlFor(32, 16,
      textExpr = "'(' || replace(text, ' ', '. ') || ')'",
      wsExpr = normPlantedTokensSql),

    "d116_reband_sweep" -> rebandSweepSql,

    // d118/d119: one phrase oracle proves the fresh scan AND the
    // positional-index serving (the d70/d112 twin discipline).
    "d118_phrase_bm25" -> phraseBm25SqlFor(d118Phrase, 20),
    "d119_indexed_phrase" -> phraseBm25SqlFor(d118Phrase, 20),

    // d122: the norm tokenizer family — DuckDB re-derives the
    // NORMALIZED tokens from the planted text, then the d70 Okapi
    // arithmetic verbatim; the Spark entry serves from the index,
    // so a hash match proves fresh == indexed at the new family.
    "d122_norm_bm25" -> bm25SqlFor(normPlantedTokensSql, d70Terms, 20),

    // d130: the uni family — DuckDB re-derives the \p{L}\p{N}-
    // normalized tokens from the guillemet-planted text, then the
    // d70 Okapi arithmetic verbatim; serving is from the index, so
    // the hash match proves fresh == indexed at the third family.
    "d130_uni_bm25" -> bm25SqlFor(uniPlantedTokensSql, d130Terms, 20),

    // d124/d124b: one generated proximity oracle proves the fresh
    // scan AND the positional-index serving (the d118/d119 twin
    // discipline).
    "d124_prox_bm25" -> proxBm25SqlFor(d124Terms, d124Window, 20),
    "d124b_indexed_prox" -> proxBm25SqlFor(d124Terms, d124Window, 20),
    "d134_ordered_prox" ->
      proxBm25SqlFor(d124Terms, d124Window, 20, ordered = true),

    // chunk arithmetic re-derived: last chunk index =
    // ceil(max(n - 64, 0) / 48), chunk i starts at 48·i + 1 and
    // holds min(64, n - 48·i) tokens
    "d41_token_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), c AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |    least(CAST(ceil(greatest(len(ws) - 64, 0) / 48.0) AS INT),
        |      CAST(floor((len(ws) - 1) / 48.0) AS INT)) AS last
        |  FROM t
        |)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(48 * i + 1 AS INT) AS chunk_start,
        |  CAST(least(64, n - 48 * i) AS INT) AS chunk_tokens,
        |  list_aggregate(ws[(48 * i + 1):(48 * i + 64)], 'string_agg', ' ')
        |    AS chunk_text
        |FROM c, unnest(range(0, last + 1)) AS u(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "d42_source_cap" ->
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents
        |  WHERE source IS NOT NULL AND doc_id IS NOT NULL) t
        |WHERE rk <= 3 ORDER BY doc_id""".stripMargin,

    "d43_decontaminate" -> decontaminateSql,

    // d135: the d43 derivation with per-side NORMALIZED tokens over
    // the differently-planted texts — ws would find zero overlap by
    // construction; the hash match proves the family threads through
    // BOTH sides of the screen.
    "d135_norm_decontaminate" -> decontaminateSqlFor(
      "CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' " +
        s"THEN $normCommaTokensSql ELSE $normPlantedTokensSql END"),

    // d52's oracle twin: the planted corpus's pixels are doc_id
    // arithmetic and PNG is lossless, so every dHash bit re-derives
    // in SQL — integer luma, floor-partition 9×8 area average
    // (SUM // COUNT, matching Scala's positive int division), then
    // one gradient-sign bit per horizontal cell pair (bit k =
    // cy*8+cx, split into unsigned 32-bit halves)
    // d63b: the d52b pixel re-derivation per (video, frame) — dims
    // and frame count from the id formulas, pixel base with the
    // frame term, the identical 9×8 floor-partition luma averages
    // and gradient bits, one row per demuxed frame.
    "d63b_video_dhash_bits" ->
      """WITH ids AS (
        |  SELECT doc_id AS src FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id % 3 = 2
        |), dims AS (
        |  SELECT src, 16 + (src % 8) * 2 AS w, 16 + (src % 6) * 2 AS h,
        |    2 + (src % 5) AS nf
        |  FROM ids
        |), fr AS (
        |  SELECT d.src, d.w, d.h, f.f
        |  FROM dims d, unnest(range(d.nf)) AS f(f)
        |), cells AS (
        |  SELECT fr.src, fr.f, cy.cy, cx.cx,
        |    (cx.cx * fr.w) // 9 AS x0, ((cx.cx + 1) * fr.w) // 9 AS x1,
        |    (cy.cy * fr.h) // 8 AS y0, ((cy.cy + 1) * fr.h) // 8 AS y1
        |  FROM fr,
        |    (SELECT unnest(range(8)) AS cy) cy,
        |    (SELECT unnest(range(9)) AS cx) cx
        |), lum AS (
        |  SELECT src, f, cy, cx,
        |    (77 * ((base >> 16) & 255) + 151 * ((base >> 8) & 255)
        |      + 28 * (base & 255)) >> 8 AS luma
        |  FROM (
        |    SELECT c.*,
        |      ((c.src * 31) + (c.f * 17) + (xs.x * 7) + (ys.y * 131))
        |        & 16777215 AS base
        |    FROM cells c,
        |      unnest(range(c.x0, c.x1)) AS xs(x),
        |      unnest(range(c.y0, c.y1)) AS ys(y)
        |  ) p
        |), avgs AS (
        |  SELECT src, f, cy, cx, SUM(luma) // COUNT(*) AS a
        |  FROM lum GROUP BY 1, 2, 3, 4
        |), dsigs AS (
        |  SELECT a.src, a.f,
        |    CAST(SUM(CASE WHEN b.a > a.a AND (a.cy * 8 + a.cx) >= 32
        |      THEN (CAST(1 AS BIGINT) << (a.cy * 8 + a.cx - 32))
        |      ELSE 0 END) AS BIGINT) AS sig_hi,
        |    CAST(SUM(CASE WHEN b.a > a.a AND (a.cy * 8 + a.cx) < 32
        |      THEN (CAST(1 AS BIGINT) << (a.cy * 8 + a.cx))
        |      ELSE 0 END) AS BIGINT) AS sig_lo
        |  FROM avgs a
        |  JOIN avgs b ON b.src = a.src AND b.f = a.f
        |    AND b.cy = a.cy AND b.cx = a.cx + 1
        |  WHERE a.cx < 8
        |  GROUP BY 1, 2)
        |SELECT src AS doc_id, CAST(f AS INT) AS frame_idx,
        |  sig_hi, sig_lo
        |FROM dsigs ORDER BY doc_id, frame_idx""".stripMargin,

    "d52b_dhash_bits" -> (s"WITH ${dhashSigCtes("")}\n" +
      """SELECT img AS doc_id, sig_hi, sig_lo FROM dsigs
        |ORDER BY doc_id""".stripMargin),

    // d68: the perceptual dedup COMPOSITION brute-forced — the d52b
    // signature arithmetic on an md5-sliced corpus, ALL pairs at
    // hamming <= 2 (split-half bit_count == the 64-bit popcount),
    // the transitive closure via the d27 recursive-CTE discipline,
    // min-id survivors
    "d68_image_dedup" -> (s"WITH RECURSIVE ${dhashSigCtes(
        " AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'")},\n" +
      """pairs AS (
        |  SELECT a.img AS id_a, b.img AS id_b
        |  FROM dsigs a JOIN dsigs b ON b.img > a.img
        |   AND bit_count(xor(a.sig_hi, b.sig_hi))
        |     + bit_count(xor(a.sig_lo, b.sig_lo)) <= 2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT img AS doc_id FROM dsigs
        |WHERE img NOT IN (SELECT id FROM comp WHERE component <> id)
        |ORDER BY doc_id""".stripMargin),

    // d64's oracle twin: WAV PCM is lossless and the planted sample
    // bytes are doc_id arithmetic, so every fingerprint bit
    // re-derives in SQL — signed 16-bit LE sample reassembly, mean
    // |sample| per floor-partition frame window (SUM // samples,
    // matching Scala's positive long division), gradient signs as
    // two unsigned 32-bit halves. Twins (aid = src + 10000000) carry
    // their src's samples — the remux invariance.
    "d64b_audio_fp_bits" -> (s"WITH ${audioFpCtes("")}\n" +
      """SELECT aid AS doc_id, sig_hi, sig_lo
        |FROM asigs ORDER BY doc_id""".stripMargin),

    // d81: the d68 keep-one composition applied to AUDIO — and here
    // the WHOLE pipeline is oracle-checked (the audio fingerprint is
    // losslessly SQL-derivable, unlike image JPEG): fingerprints from
    // the d64b byte arithmetic, pairs brute-forced with the 64-bit
    // popcount, closed with the d27 recursive CTE, min-id survivors.
    "d81_audio_dedup" -> (s"WITH RECURSIVE ${audioFpCtes(
        " AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'")},\n" +
      """pairs AS (
        |  SELECT a.aid AS id_a, b.aid AS id_b
        |  FROM asigs a JOIN asigs b ON b.aid > a.aid
        |   AND bit_count(xor(a.sig_hi, b.sig_hi))
        |     + bit_count(xor(a.sig_lo, b.sig_lo)) <= 2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT aid AS doc_id FROM asigs
        |WHERE aid NOT IN (SELECT id FROM comp WHERE component <> id)
        |ORDER BY doc_id""".stripMargin),

    // d82: the VIDEO keep-one composition brute-forced — d63b's
    // per-frame dHash re-derivation on an md5-sliced corpus plus the
    // remux twin (vid = src + 10000000 carries its src's pixel
    // arithmetic — PNG lossless, so bit-exact), aligned-frame pairs
    // at hamming <= 2, the all-frames-must-match video pairing
    // contract (n matching aligned frames == both sides' frame
    // counts), the d27 recursive-CTE closure, min-id survivors.
    "d82_video_dedup" ->
      """WITH RECURSIVE ids AS (
        |  SELECT doc_id AS src FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id % 3 = 2
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
        |), vids AS (
        |  SELECT src, src AS vid FROM ids
        |  UNION ALL
        |  SELECT src, src + 10000000 FROM ids
        |), dims AS (
        |  SELECT vid, src, 16 + (src % 8) * 2 AS w, 16 + (src % 6) * 2 AS h,
        |    2 + (src % 5) AS nf
        |  FROM vids
        |), fr AS (
        |  SELECT d.vid, d.src, d.w, d.h, d.nf, f.f
        |  FROM dims d, unnest(range(d.nf)) AS f(f)
        |), cells AS (
        |  SELECT fr.vid, fr.src, fr.f, cy.cy, cx.cx,
        |    (cx.cx * fr.w) // 9 AS x0, ((cx.cx + 1) * fr.w) // 9 AS x1,
        |    (cy.cy * fr.h) // 8 AS y0, ((cy.cy + 1) * fr.h) // 8 AS y1
        |  FROM fr,
        |    (SELECT unnest(range(8)) AS cy) cy,
        |    (SELECT unnest(range(9)) AS cx) cx
        |), lum AS (
        |  SELECT vid, f, cy, cx,
        |    (77 * ((base >> 16) & 255) + 151 * ((base >> 8) & 255)
        |      + 28 * (base & 255)) >> 8 AS luma
        |  FROM (
        |    SELECT c.*,
        |      ((c.src * 31) + (c.f * 17) + (xs.x * 7) + (ys.y * 131))
        |        & 16777215 AS base
        |    FROM cells c,
        |      unnest(range(c.x0, c.x1)) AS xs(x),
        |      unnest(range(c.y0, c.y1)) AS ys(y)
        |  ) p
        |), avgs AS (
        |  SELECT vid, f, cy, cx, SUM(luma) // COUNT(*) AS a
        |  FROM lum GROUP BY 1, 2, 3, 4
        |), dsigs AS (
        |  SELECT a.vid, a.f,
        |    CAST(SUM(CASE WHEN b.a > a.a AND (a.cy * 8 + a.cx) >= 32
        |      THEN (CAST(1 AS BIGINT) << (a.cy * 8 + a.cx - 32))
        |      ELSE 0 END) AS BIGINT) AS sig_hi,
        |    CAST(SUM(CASE WHEN b.a > a.a AND (a.cy * 8 + a.cx) < 32
        |      THEN (CAST(1 AS BIGINT) << (a.cy * 8 + a.cx))
        |      ELSE 0 END) AS BIGINT) AS sig_lo
        |  FROM avgs a
        |  JOIN avgs b ON b.vid = a.vid AND b.f = a.f
        |    AND b.cy = a.cy AND b.cx = a.cx + 1
        |  WHERE a.cx < 8
        |  GROUP BY 1, 2
        |), counts AS (
        |  SELECT vid, COUNT(*) AS nf FROM dsigs GROUP BY vid
        |), fpairs AS (
        |  SELECT a.vid AS id_a, b.vid AS id_b, COUNT(*) AS n
        |  FROM dsigs a JOIN dsigs b ON b.vid > a.vid AND b.f = a.f
        |   AND bit_count(xor(a.sig_hi, b.sig_hi))
        |     + bit_count(xor(a.sig_lo, b.sig_lo)) <= 2
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT p.id_a, p.id_b
        |  FROM fpairs p
        |  JOIN counts ca ON ca.vid = p.id_a
        |  JOIN counts cb ON cb.vid = p.id_b
        |  WHERE p.n = ca.nf AND p.n = cb.nf
        |), edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |             UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT vid AS doc_id FROM vids
        |WHERE vid NOT IN (SELECT id FROM comp WHERE component <> id)
        |ORDER BY doc_id""".stripMargin,

    // d83: the whole epoch assembly re-derived — d76's allowance/
    // epoch arithmetic, the copy explosion with inst = doc·128 + i,
    // d45's md5 shard ranks over instances, the (shard, pos)-ordered
    // global prefix sum and d32's bin addresses.
    "d83_epoch_assembly" ->
      s"""WITH b0 AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n,
        |    ('0x'||substr(md5('mix|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS pr,
        |    CAST(CAST(substr(source, 4) AS INT) % 3 + 1 AS BIGINT) AS w
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND text IS NOT NULL
        |), b AS (
        |  SELECT * FROM b0 WHERE n > 0
        |), tw AS (
        |  SELECT CAST(sum(w) AS BIGINT) AS total_w
        |  FROM (SELECT DISTINCT source, w FROM b) x
        |), cb AS (
        |  SELECT CAST(2 * sum(n) AS BIGINT) AS budget FROM b
        |), tot AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS total FROM b GROUP BY source
        |), ep AS (
        |  SELECT source,
        |    CAST((w * budget // total_w) // total AS BIGINT) AS epochs,
        |    CAST((w * budget // total_w) % total AS BIGINT) AS rem
        |  FROM (SELECT DISTINCT source, w FROM b) x
        |  CROSS JOIN tw CROSS JOIN cb JOIN tot USING (source)
        |), off AS (
        |  SELECT doc_id, source, n,
        |    coalesce(sum(n) OVER (PARTITION BY source ORDER BY pr DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM b
        |), mixres AS (
        |  SELECT doc_id, n,
        |    epochs + CASE WHEN start_off + n <= rem THEN 1 ELSE 0 END AS nc
        |  FROM off JOIN ep USING (source)
        |  WHERE epochs + CASE WHEN start_off + n <= rem THEN 1 ELSE 0 END > 0
        |), copies AS (
        |  SELECT doc_id, n, CAST(i AS BIGINT) AS copy_idx,
        |    doc_id * 128 + i AS inst
        |  FROM mixres, unnest(range(0, nc)) AS u(i)
        |), keyed AS (
        |  SELECT *,
        |    ('0x'||substr(md5('asm|'||CAST(inst AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM copies
        |), sharded AS (
        |  SELECT *, CAST(h % 4 AS INT) AS shard,
        |    CAST(row_number() OVER (PARTITION BY h % 4
        |      ORDER BY h, inst) AS INT) AS pos
        |  FROM keyed
        |), packed AS (
        |  SELECT *, CAST(coalesce(sum(n) OVER (
        |      ORDER BY lpad(CAST(shard AS VARCHAR), 4, '0') || '#' ||
        |        lpad(CAST(pos AS VARCHAR), 12, '0')
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS o
        |  FROM sharded
        |)
        |SELECT doc_id, copy_idx, shard, pos, n AS n_tokens,
        |  o AS start_off,
        |  CAST(o // 2048 AS BIGINT) AS bin_start,
        |  CAST((o + greatest(n, 1) - 1) // 2048 AS BIGINT) AS bin_end
        |FROM packed ORDER BY doc_id, copy_idx""".stripMargin,

    // d85: the per-frame video screen brute-forced — the d82 pixel
    // re-derivation extended with a variant table (vid, pid, clamp,
    // dropf): remux/reenc/trunc carry their src's pixel formula
    // (reenc with the integer clamp-region +12 luma), unrelated its
    // own; verdict = some corpus video with equal frame count and
    // every aligned frame within hamming 2; survivors emit their
    // frame sigs.
    "d85_video_index_screen" ->
      """WITH ids AS (
        |  SELECT doc_id AS src FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id % 3 = 2
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
        |), vars AS (
        |  SELECT src, src AS vid, src AS pid, 0 AS clamp, 0 AS dropf FROM ids
        |  UNION ALL SELECT src, src + 10000000, src, 0, 0 FROM ids
        |  UNION ALL SELECT src, src + 20000000, src, 1, 0 FROM ids
        |  UNION ALL SELECT src, src + 30000000, src, 0, 1 FROM ids
        |  UNION ALL SELECT src, src + 40000000, src + 40000000, 0, 0 FROM ids
        |), dims AS (
        |  SELECT vid, pid, clamp,
        |    16 + (pid % 8) * 2 AS w, 16 + (pid % 6) * 2 AS h,
        |    2 + (pid % 5) - dropf AS nf
        |  FROM vars
        |), fr AS (
        |  SELECT d.vid, d.pid, d.clamp, d.w, d.h, f.f
        |  FROM dims d, unnest(range(d.nf)) AS f(f)
        |), cells AS (
        |  SELECT fr.vid, fr.pid, fr.clamp, fr.f, cy.cy, cx.cx,
        |    (cx.cx * fr.w) // 9 AS x0, ((cx.cx + 1) * fr.w) // 9 AS x1,
        |    (cy.cy * fr.h) // 8 AS y0, ((cy.cy + 1) * fr.h) // 8 AS y1,
        |    (4 * fr.w) // 9 AS bx0, (5 * fr.w) // 9 AS bx1,
        |    (3 * fr.h) // 8 AS by0, (4 * fr.h) // 8 AS by1
        |  FROM fr,
        |    (SELECT unnest(range(8)) AS cy) cy,
        |    (SELECT unnest(range(9)) AS cx) cx
        |), px AS (
        |  SELECT c.vid, c.f, c.cy, c.cx,
        |    ((c.pid * 31) + (c.f * 17) + (xs.x * 7) + (ys.y * 131))
        |      & 16777215 AS base,
        |    CASE WHEN c.clamp = 1 AND xs.x >= c.bx0 AND xs.x < c.bx1
        |          AND ys.y >= c.by0 AND ys.y < c.by1 THEN 1 ELSE 0 END AS inb
        |  FROM cells c,
        |    unnest(range(c.x0, c.x1)) AS xs(x),
        |    unnest(range(c.y0, c.y1)) AS ys(y)
        |), lum AS (
        |  SELECT vid, f, cy, cx,
        |    CASE WHEN inb = 1 THEN
        |      (77 * least(((base >> 16) & 255) + 12, 255)
        |       + 151 * least(((base >> 8) & 255) + 12, 255)
        |       + 28 * least((base & 255) + 12, 255)) >> 8
        |    ELSE
        |      (77 * ((base >> 16) & 255) + 151 * ((base >> 8) & 255)
        |       + 28 * (base & 255)) >> 8 END AS luma
        |  FROM px
        |), avgs AS (
        |  SELECT vid, f, cy, cx, SUM(luma) // COUNT(*) AS a
        |  FROM lum GROUP BY 1, 2, 3, 4
        |), dsigs AS (
        |  SELECT a.vid, a.f,
        |    CAST(SUM(CASE WHEN b.a > a.a AND (a.cy * 8 + a.cx) >= 32
        |      THEN (CAST(1 AS BIGINT) << (a.cy * 8 + a.cx - 32))
        |      ELSE 0 END) AS BIGINT) AS sig_hi,
        |    CAST(SUM(CASE WHEN b.a > a.a AND (a.cy * 8 + a.cx) < 32
        |      THEN (CAST(1 AS BIGINT) << (a.cy * 8 + a.cx))
        |      ELSE 0 END) AS BIGINT) AS sig_lo
        |  FROM avgs a
        |  JOIN avgs b ON b.vid = a.vid AND b.f = a.f
        |    AND b.cy = a.cy AND b.cx = a.cx + 1
        |  WHERE a.cx < 8
        |  GROUP BY 1, 2
        |), counts AS (
        |  SELECT vid, COUNT(*) AS nfr FROM dsigs GROUP BY vid
        |), fm AS (
        |  SELECT b.vid AS bvid, c.vid AS cvid, COUNT(*) AS n
        |  FROM dsigs b JOIN dsigs c
        |    ON b.vid >= 10000000 AND c.vid < 10000000 AND c.f = b.f
        |   AND bit_count(xor(b.sig_hi, c.sig_hi))
        |     + bit_count(xor(b.sig_lo, c.sig_lo)) <= 2
        |  GROUP BY 1, 2
        |), flagged AS (
        |  SELECT DISTINCT f.bvid FROM fm f
        |  JOIN counts cb ON cb.vid = f.bvid
        |  JOIN counts cc ON cc.vid = f.cvid
        |  WHERE f.n = cb.nfr AND f.n = cc.nfr
        |)
        |SELECT vid AS doc_id, CAST(f AS INT) AS frame_idx,
        |  sig_hi, sig_lo
        |FROM dsigs
        |WHERE vid >= 10000000 AND vid NOT IN (SELECT bvid FROM flagged)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // d67: the d64b fingerprint arithmetic over corpus + batch
    // (twins carry their src's (31,7) sample constants, unrelateds
    // the (37,11) ones), then the screen brute-forced: a batch row
    // survives iff NO corpus fingerprint is within hamming 2
    // (bit_count over xor'd unsigned halves == the 64-bit popcount)
    "d67_sim_index_screen" -> simScreenTwinSql,

    // d120: d67's screen derivation VERBATIM — proving the
    // index-local rechunk equals a fresh build at the new maxDist.
    "d120_rechunked_sim" -> simScreenTwinSql,

    // d128: d67's derivation VERBATIM — half-built then reconciled
    // must screen like built-whole.
    "d128_sim_reconcile" -> simScreenTwinSql,
    "d156_merged_sim" -> simScreenTwinSql,


    // exclusive running total re-derived with a 1-PRECEDING window
    // over the same (n_chars DESC, doc_id) priority order
    "d47_budget_select" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n,
        |    n_chars
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), o AS (
        |  SELECT doc_id, n,
        |    CAST(coalesce(sum(n) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM t
        |)
        |SELECT doc_id, n AS n_tokens, off AS start_off
        |FROM o WHERE off + n <= 10000 ORDER BY doc_id""".stripMargin,

    "d44_redact_pii" -> redactPiiSql,

    "d45_shuffle_shard" ->
      """SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8
        |    ORDER BY h, doc_id) AS INT) AS pos
        |FROM (
        |  SELECT doc_id,
        |    ('0x'||substr(md5('epoch0|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM documents WHERE doc_id IS NOT NULL)
        |ORDER BY doc_id""".stripMargin,

    "d28_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id, 2 + doc_id % 5 AS n, 5 + doc_id % 5 AS fps
        |  FROM documents WHERE doc_id % 3 = 2
        |), f AS (
        |  SELECT doc_id, unnest(range(0, n)) AS i, fps FROM v
        |)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST(floor(i * (1000.0 * 1 / fps) + 0.5) AS BIGINT) AS ts_ms
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "d29_simhash_oracle" -> md5SimhashSql,

    "d36_substring_dedup" -> substringDedupSql,

    "d37_gram_profile" -> gramProfileSql,

    "d38_span_cut" -> spanCutSql,

    "d30_minhash_oracle" -> md5MinhashSql,
    "d20b_ngram_unblocked_oracle" -> md5MinhashSqlFor(32, 32, 0.2),

    // winnowing selection recomputed from raw text: same md5 gram
    // hashes, min per 4-window (frame extends to doc end when the
    // doc has <= 4 grams — position 1 is then the only kept row,
    // mirroring the kernel's single-window branch), distinct.
    "d31_winnow_oracle" ->
      """WITH t AS (
        |  SELECT doc_id, lower(text) AS lt FROM documents
        |  WHERE text IS NOT NULL AND doc_id IS NOT NULL
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
        |), g AS (
        |  SELECT doc_id, i,
        |    ('0x'||substr(md5(substr(lt, i, 8)),1,15))::BIGINT AS h
        |  FROM t, unnest(range(1, greatest(len(lt) - 7, 1) + 1)) AS u(i)
        |), m AS (
        |  SELECT doc_id, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    count(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM g
        |)
        |SELECT DISTINCT doc_id, fp FROM m
        |WHERE i <= greatest(ng - 3, 1)
        |ORDER BY doc_id, fp""".stripMargin,

    "d1_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "d4_ngram_jaccard" ->
      s"WITH $ngramCtes\n$ngramPairSelect\nORDER BY id_a, id_b",

    // connected components of the same verified pairs: DuckDB builds
    // the transitive closure with a recursive CTE and takes the min
    // reachable id per node — exactly the min-label fixpoint the
    // Spark operator converges to
    "d18_neardup_components" ->
      s"""WITH RECURSIVE $ngramCtes,
         |pairs AS ($ngramPairSelect),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
         |)
         |SELECT id, min(r) AS component FROM reach GROUP BY id
         |ORDER BY id""".stripMargin,

    "d5_embed_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "d21_embed_dedup" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT id FROM comp WHERE component <> id)
        |ORDER BY vec_id""".stripMargin,

    "d6_ann_bruteforce" ->
      """SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cos, 4) AS cos FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 5) t
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "d8_lang_id" ->
      s"""WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pt FROM documents),
         |s AS (SELECT doc_id,
         |  $langScoreSql
         |FROM p)
         |SELECT doc_id, score_en, score_es, score_de, score_fr, score_zh,
         |  $langPredSql AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin,

    "d9_quality_score" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
        |    length(replace(text, ' ', '')) AS non_space,
        |    CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS INT) AS stop_n
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_words,
        |    CASE WHEN n_words > 0 THEN CAST(non_space AS DOUBLE) / n_words ELSE 0.0 END AS mean_wl,
        |    CAST(stop_n AS DOUBLE) AS stop_d
        |  FROM b)
        |SELECT doc_id, n_words,
        |  round(least(n_words / 100.0, 1.0) * 0.4 +
        |    (CASE WHEN mean_wl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |    least(stop_d / 5.0, 1.0) * 0.2, 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "d10_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d13_corpus_filter" ->
      s"""WITH p AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS pt FROM documents),
         |s AS (SELECT doc_id, text,
         |  $langScoreSql
         |FROM p),
         |q AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_words,
         |    length(replace(text, ' ', '')) AS non_space,
         |    CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS INT) AS stop_n,
         |    $langPredSql AS lang_pred
         |  FROM s
         |),
         |m AS (
         |  SELECT doc_id, n_words, lang_pred,
         |    CASE WHEN n_words > 0 THEN CAST(non_space AS DOUBLE) / n_words ELSE 0.0 END AS mean_wl,
         |    CAST(stop_n AS DOUBLE) AS stop_d
         |  FROM q)
         |SELECT doc_id, n_words,
         |  round(least(n_words / 100.0, 1.0) * 0.4 +
         |    (CASE WHEN mean_wl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
         |    least(stop_d / 5.0, 1.0) * 0.2, 4) AS quality,
         |  lang_pred
         |FROM m
         |WHERE n_words BETWEEN 20 AND 200
         |  AND round(least(n_words / 100.0, 1.0) * 0.4 +
         |    (CASE WHEN mean_wl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
         |    least(stop_d / 5.0, 1.0) * 0.2, 4) >= 0.5
         |ORDER BY doc_id""".stripMargin,

    "d14_token_freq" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,

    "d17_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
        |ORDER BY doc_id""".stripMargin,

    "d16_canonicalize" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  md5(trim(regexp_replace(regexp_replace(regexp_replace(
        |    lower(text),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
        |    '[0-9]+', '<num>', 'g'),
        |    '\s+', ' ', 'g'))) AS canon_hash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d15_repetition" ->
      """SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(ws)) AS BIGINT) AS distinct_tokens,
        |  round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS dup_frac
        |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "d12_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  md5(text) AS content_hash,
        |  CAST(64 + (octet_length(encode(text)) % 16) * 32 AS INT) AS width,
        |  CAST(64 + (octet_length(encode(text)) % 9) * 32 AS INT) AS height,
        |  CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d19_image_decode" ->
      """SELECT doc_id,
        |  CAST(16 + doc_id % 16 AS INT) AS width,
        |  CAST(16 + doc_id % 9 AS INT) AS height,
        |  3 AS channels
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin,

    "d22_audio_decode" ->
      """SELECT doc_id,
        |  CAST(44 + (200 + doc_id % 100) * (1 + doc_id % 2) * 2 AS INT) AS byte_len,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(200 + doc_id % 100 AS INT) AS frames
        |FROM documents WHERE doc_id % 3 = 1 ORDER BY doc_id""".stripMargin,

    "d23_video_decode" ->
      """SELECT doc_id,
        |  CAST(16 + (doc_id % 8) * 2 AS INT) AS width,
        |  CAST(16 + (doc_id % 6) * 2 AS INT) AS height,
        |  CAST(2 + doc_id % 5 AS INT) AS frames,
        |  CAST(5 + doc_id % 5 AS INT) AS fps
        |FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""".stripMargin,

    "d27_text_dedup" ->
      s"""WITH RECURSIVE $ngramCtes,
         |pairs AS ($ngramPairSelect),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE component <> id)
         |ORDER BY doc_id""".stripMargin,

    // d86: the same closure as d27, aggregated into the histogram —
    // sizes per component, clusters per size, and the singleton row
    // from the total/clustered difference; integer counts only.
    "d86_dedup_report" ->
      s"""WITH RECURSIVE $ngramCtes,
         |pairs AS ($ngramPairSelect),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sizes AS (SELECT component, count(*) AS cluster_size
         |          FROM comp GROUP BY component),
         |hist AS (SELECT cluster_size, count(*) AS n_clusters
         |         FROM sizes GROUP BY cluster_size),
         |tot AS (SELECT count(DISTINCT doc_id) AS n FROM documents
         |        WHERE doc_id IS NOT NULL),
         |cl AS (SELECT count(*) AS m FROM comp)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(n_clusters AS BIGINT) AS n_clusters,
         |  CAST(n_clusters * cluster_size AS BIGINT) AS n_docs,
         |  CAST(n_clusters * (cluster_size - 1) AS BIGINT) AS n_dropped
         |FROM hist
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), CAST(n - m AS BIGINT),
         |  CAST(n - m AS BIGINT), CAST(0 AS BIGINT) FROM tot, cl
         |ORDER BY cluster_size""".stripMargin,

    // d87: the hash-mode split re-applied — same md5 prefix, same
    // quantized thresholds (interpolated from the ONE Scala
    // computation both sides share, so float-normalization noise in
    // the cumulative weights cannot drift between engines).
    "d87_hash_split" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN h < '${d8xThr(0)}' THEN 'train'
         |       WHEN h < '${d8xThr(1)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |        substr(md5('sp|'||CAST(doc_id AS VARCHAR)), 1, 4) AS h
         |      FROM documents WHERE doc_id IS NOT NULL)
         |ORDER BY doc_id""".stripMargin,

    // d88: the exact-mode split re-derived with a per-stratum
    // row_number over the same (md5, id) order and the same
    // floor(cum·n + 0.5) boundaries — cum literals interpolated
    // from the shared Scala computation (shortest-round-trip double
    // rendering parses back to the identical IEEE value).
    "d88_stratified_split" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |    md5('sp|'||CAST(doc_id AS VARCHAR)) AS k
         |  FROM documents WHERE doc_id IS NOT NULL AND lang IS NOT NULL
         |), r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM b
         |)
         |SELECT doc_id, lang,
         |  CASE WHEN rk <= CAST(floor(${d8xCums(0)} * n + 0.5) AS BIGINT)
         |         THEN 'train'
         |       WHEN rk <= CAST(floor(${d8xCums(1)} * n + 0.5) AS BIGINT)
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |FROM r ORDER BY doc_id""".stripMargin,

    // d104: the histogram re-derived on gram STRINGS (the wordGrams
    // contract: a doc shorter than k holds no gram), distinct per
    // doc, support >= 2, grouped by support — a single md5Hash60
    // collision anywhere would merge two grams and break the counts.
    "d105_calibration" -> d105CalibrationSql,

    "d106_jaccard_histogram" -> d106JaccardHistSql,

    "d107_fertility" -> d107FertilitySql,

    "d111_langid_confusion" ->
      s"""WITH p AS (
         |  SELECT lang, ' ' || lower(text) || ' ' AS pt FROM documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
         |), s AS (
         |  SELECT lang AS label, $langScoreSql FROM p
         |), m AS (
         |  SELECT label, $langPredSql AS predicted FROM s
         |), c AS (
         |  SELECT label, predicted, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM m GROUP BY label, predicted
         |), t AS (
         |  SELECT label, CAST(sum(n_docs) AS BIGINT) AS lt
         |  FROM c GROUP BY label
         |)
         |SELECT c.label, c.predicted, c.n_docs,
         |  round(CAST(c.n_docs AS DOUBLE) / t.lt, 4) AS share
         |FROM c JOIN t USING (label)
         |ORDER BY label, predicted""".stripMargin,

    "d109_exact_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM documents WHERE doc_id IS NOT NULL
        |  ORDER BY md5('audit|' || CAST(doc_id AS VARCHAR)), doc_id
        |  LIMIT 137)
        |ORDER BY doc_id""".stripMargin,

    "d110_length_histogram" ->
      """WITH t AS (
        |  SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), b AS (
        |  SELECT CASE WHEN n <= 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(length(bin(n)) AS BIGINT) END AS bucket, n
        |  FROM t
        |)
        |SELECT bucket,
        |  CASE WHEN bucket = 0 THEN 0
        |    ELSE (CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT)) END AS lo,
        |  CASE WHEN bucket = 0 THEN 0
        |    ELSE (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1 END AS hi,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // d108: host from the planted URL (the d102 derivation), the d9
    // quality blend per doc, then per-host integer-unit sums.
    "d108_domain_report" ->
      s"""WITH u AS (
         |  SELECT doc_id, text, $plantedUrlSql AS url
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), h AS (
         |  SELECT doc_id, text,
         |    lower(regexp_extract(regexp_extract(
         |      regexp_replace(url, '#.*$$', ''),
         |      '^[^/]*//([^/?#]*)', 1), '^([^:]*)', 1)) AS host
         |  FROM u
         |), b AS (
         |  SELECT host, text,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_words,
         |    length(replace(text, ' ', '')) AS non_space,
         |    CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS INT) AS stop_n
         |  FROM h
         |), q AS (
         |  SELECT host, n_words,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS bt,
         |    CAST(round(round(least(n_words / 100.0, 1.0) * 0.4 +
         |      (CASE WHEN (CASE WHEN n_words > 0
         |          THEN CAST(non_space AS DOUBLE) / n_words ELSE 0.0 END)
         |          BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
         |      least(CAST(stop_n AS DOUBLE) / 5.0, 1.0) * 0.2, 4) * 10000)
         |      AS BIGINT) AS q4
         |  FROM b
         |)
         |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
         |  CAST(sum(bt) AS BIGINT) AS n_bytes,
         |  round(CAST(sum(q4) AS DOUBLE) / (count(*) * 10000.0), 4)
         |    AS avg_quality
         |FROM q GROUP BY host ORDER BY host""".stripMargin,

    "d104_gram_histogram" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, unnest(
        |    list_transform(range(1, len(ws) - 6),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
        |           ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7])) AS gram
        |  FROM w WHERE len(ws) >= 8
        |), pd AS (
        |  SELECT DISTINCT doc_id, gram FROM g
        |), sup AS (
        |  SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM pd GROUP BY gram HAVING count(*) >= 2
        |)
        |SELECT n_docs, CAST(count(*) AS BIGINT) AS n_grams
        |FROM sup GROUP BY n_docs ORDER BY n_docs""".stripMargin,

    // d103: the drift report re-derived — the d95 old snapshot, both
    // token count tables, the full-outer vocab join, integer totals
    // cast to double exactly as the engine, the smoothed log-ratio
    // with identical parenthesis order, and the top-50 cut on the
    // same cross-multiplied decimal with the token tie-break.
    "d103_vocab_drift" ->
      """WITH base AS (
        |  SELECT doc_id, text, substr(md5(CAST(doc_id AS VARCHAR)),1,1) AS h1
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), old AS (
        |  SELECT doc_id,
        |    CASE WHEN h1 = 'e' THEN text || ' EDITED' ELSE text END AS text
        |  FROM base WHERE h1 <> 'f'
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM base WHERE h1 = 'd'
        |), co AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c_old FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |    FROM old) GROUP BY t
        |), cn AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c_new FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |    FROM base) GROUP BY t
        |), j AS (
        |  SELECT coalesce(co.t, cn.t) AS t,
        |    coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
        |  FROM co FULL OUTER JOIN cn ON co.t = cn.t
        |), tots AS (
        |  SELECT
        |    (SELECT CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
        |       AS BIGINT) FROM old) AS tl_old,
        |    (SELECT CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
        |       AS BIGINT) FROM base) AS tl_new,
        |    (SELECT CAST(count(*) AS BIGINT) FROM j) AS vl
        |)
        |SELECT t, c_old, c_new,
        |  round(ln(CAST(c_new + 1 AS DOUBLE)
        |        / (CAST(tl_new AS DOUBLE) + CAST(vl AS DOUBLE)))
        |      - ln(CAST(c_old + 1 AS DOUBLE)
        |        / (CAST(tl_old AS DOUBLE) + CAST(vl AS DOUBLE))), 4) AS shift
        |FROM j, tots
        |ORDER BY abs(CAST(c_new AS DECIMAL(18,0)) * CAST(tl_old AS DECIMAL(18,0))
        |  - CAST(c_old AS DECIMAL(18,0)) * CAST(tl_new AS DECIMAL(18,0))) DESC, t
        |LIMIT 50""".stripMargin,

    // d102: the blocklist gate re-derived — the planted URLs, the
    // host arithmetic, every dot-boundary suffix via list slicing,
    // the VALUES blocklist (shared Scala literals) and the min-match
    // verdict.
    "d102_url_blocklist" ->
      s"""WITH u AS (
        |  SELECT doc_id, $plantedUrlSql AS url
        |  FROM documents WHERE doc_id IS NOT NULL
        |), h AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(regexp_extract(
        |      regexp_replace(url, '#.*$$', ''),
        |      '^[^/]*//([^/?#]*)', 1), '^([^:]*)', 1)) AS host
        |  FROM u
        |), l AS (
        |  SELECT doc_id, host, string_split(host, '.') AS labels FROM h
        |), s AS (
        |  SELECT doc_id,
        |    array_to_string(labels[CAST(i AS BIGINT):], '.') AS sfx
        |  FROM l, unnest(range(1, len(labels) + 1)) AS r(i)
        |), bl(domain) AS (
        |  VALUES ${d102Blocklist.map(dm => s"('$dm')").mkString(", ")}
        |), m AS (
        |  SELECT doc_id, min(sfx) AS blocked_by
        |  FROM s JOIN bl ON s.sfx = bl.domain GROUP BY doc_id
        |)
        |SELECT h.doc_id, h.url, h.host,
        |  m.blocked_by IS NOT NULL AS blocked, m.blocked_by
        |FROM h LEFT JOIN m ON h.doc_id = m.doc_id
        |ORDER BY h.doc_id""".stripMargin,

    // d101: the CCNet bucketing re-derived — the d33 unigram score
    // chain verbatim, then a per-language row_number over the same
    // (score DESC, doc_id) order and the same floor(cum·n + 0.5)
    // boundaries, cum literals interpolated from the shared Scala
    // computation (the d88 discipline).
    "d101_ppl_buckets" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
        |), f AS (
        |  SELECT t, count(*) AS c FROM tok GROUP BY t
        |), tot AS (
        |  SELECT CAST(sum(c) AS DOUBLE) AS tot FROM f
        |), sc AS (
        |  SELECT doc_id, round(avg(ln(CAST(c AS DOUBLE) / tot)), 4) AS avg_logp
        |  FROM tok JOIN f USING (t) CROSS JOIN tot GROUP BY doc_id
        |), sl AS (
        |  SELECT sc.doc_id, d.lang, sc.avg_logp
        |  FROM sc JOIN documents d USING (doc_id)
        |  WHERE d.lang IS NOT NULL
        |), r AS (
        |  SELECT doc_id, lang, avg_logp,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY avg_logp DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM sl
        |)
        |SELECT doc_id, lang,
        |  CASE WHEN rk <= CAST(floor(${d101Cums(0)} * n + 0.5) AS BIGINT)
        |         THEN 'head'
        |       WHEN rk <= CAST(floor(${d101Cums(1)} * n + 0.5) AS BIGINT)
        |         THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  avg_logp
        |FROM r ORDER BY doc_id""".stripMargin,

    "d24_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) >= 8 THEN
        |      list_distinct(list_transform(range(1, len(ws) - 6),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
        |             ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]))
        |    ELSE [list_aggregate(ws, 'string_agg', ' ')] END AS s
        |  FROM w
        |), p AS (
        |  SELECT t.doc_id AS corpus_id, e.doc_id AS eval_id,
        |    len(list_intersect(t.s, e.s)) AS n_shared, len(e.s) AS esz
        |  FROM g t JOIN g e
        |    ON substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1) <> '0'
        |   AND substr(md5(CAST(e.doc_id AS VARCHAR)), 1, 1) = '0'
        |)
        |SELECT corpus_id, eval_id, CAST(n_shared AS BIGINT) AS n_shared,
        |  round(CAST(n_shared AS DOUBLE) / esz, 4) AS eval_frac
        |FROM p WHERE n_shared >= 1 ORDER BY corpus_id, eval_id""".stripMargin,

    "d25_stratified_sample" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE lang WHEN 'en' THEN '20' WHEN 'es' THEN '40'
        |            WHEN 'de' THEN '80' ELSE 'g' END
        |ORDER BY doc_id""".stripMargin,

    // re-derives the T=0.5 rate schedule from its own counts —
    // sqrt(min_n / n_i), quantized to 1/65536ths with the same
    // round-half-up and the same keep-all guard — then re-applies
    // the identical md5-prefix selection
    "d39_temperature_sample" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang
        |), t AS (
        |  SELECT lang,
        |    CASE WHEN v >= 65536 THEN 'g' ELSE printf('%04x', v) END AS thr
        |  FROM (SELECT lang,
        |    CAST(floor(sqrt(CAST((SELECT min(n) FROM c) AS DOUBLE) / n)
        |      * 65536 + 0.5) AS BIGINT) AS v FROM c)
        |)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN t ON d.lang = t.lang
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < t.thr
        |ORDER BY d.doc_id""".stripMargin,

    // int8-quantize per d26, integer-hyperplane signatures, candidates
    // = signature hamming <= 1 (own bucket + every 1-bit probe),
    // exact integer cosine re-rank, row_number ties broken by id —
    // all arithmetic exact, so this is a bit-for-bit mirror
    "d34_lsh_oracle" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM m),
        |s AS (SELECT vec_id, q,
        |  CAST(list_sum(list_transform(range(0, 4), p ->
        |    CASE WHEN list_sum(list_transform(range(0, len(q)), j ->
        |        q[j+1] * (('0x'||substr(md5(CAST(p AS VARCHAR)||':'||CAST(j AS VARCHAR)),1,1))::BIGINT - 8)
        |      )) >= 0 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS sig,
        |  sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm
        |  FROM q),
        |scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*b.q[i])) AS DOUBLE)
        |      / (a.nrm * b.nrm) AS cos
        |  FROM s a JOIN s b
        |    ON a.vec_id < 50 AND a.vec_id != b.vec_id
        |   AND bit_count(xor(a.sig, b.sig)) <= 1
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cos, 4) AS cos
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // quantize per d26; centroids = 16 smallest by (md5-hash, id);
    // cell = argmin (-cos, cell_id) per vector; queries probe their
    // top-4 cells; candidates share a cell; rank by (cos desc, id)
    "d35_ivf_oracle" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM m),
        |n AS (SELECT vec_id, q,
        |  sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm FROM q),
        |cent AS (
        |  SELECT vec_id AS cell_id, q AS cq, nrm AS cnrm FROM n
        |  ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id
        |  LIMIT 16),
        |ass AS (
        |  SELECT a.vec_id, c.cell_id,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      -(CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*c.cq[i])) AS DOUBLE)
        |        / (a.nrm * c.cnrm)),
        |      c.cell_id) AS rk
        |  FROM n a CROSS JOIN cent c),
        |corpus_cells AS (SELECT vec_id AS neighbor_id, cell_id FROM ass WHERE rk = 1),
        |query_probes AS (SELECT vec_id AS query_id, cell_id FROM ass WHERE rk <= 4 AND vec_id < 50),
        |scored AS (
        |  SELECT p.query_id, cc.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(x.q)+1), i -> x.q[i]*y.q[i])) AS DOUBLE)
        |      / (x.nrm * y.nrm) AS cos
        |  FROM query_probes p JOIN corpus_cells cc USING (cell_id)
        |  JOIN n x ON x.vec_id = p.query_id
        |  JOIN n y ON y.vec_id = cc.neighbor_id
        |  WHERE p.query_id != cc.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cos, 4) AS cos
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // quantize per d26; codebook = 8 smallest by (md5-hash, id),
    // code index = id-ascending position 0..7; per (vector, subspace
    // j of 4 × 16 dims): code = argmin over the 8 centroid slices of
    // exact squared L2 (ties to the smaller code); ADC score of
    // (query, neighbor) = Σ_j d2(query_j, centroid[code_nj]) — the
    // same d2 relation computed once serves both the encode argmin
    // and the query lookup table
    "d48_pq_adc" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM mm),
        |cent AS (
        |  SELECT vec_id AS cid, q AS cq FROM q
        |  ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id
        |  LIMIT 8),
        |centi AS (SELECT cq, CAST(row_number() OVER (ORDER BY cid) - 1 AS INT) AS code FROM cent),
        |sub AS (
        |  SELECT code, j.j,
        |    list_transform(range(1, 17), i -> cq[CAST(j.j*16 + i AS INT)]) AS cs
        |  FROM centi CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
        |dist AS (
        |  SELECT a.vec_id, s.j, s.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (a.q[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)])
        |      * (a.q[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)]))) AS BIGINT) AS d2
        |  FROM q a CROSS JOIN sub s),
        |ncode AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rk
        |    FROM dist) WHERE rk = 1),
        |scored AS (
        |  SELECT qd.vec_id AS query_id, nc.vec_id AS neighbor_id,
        |    CAST(sum(qd.d2) AS BIGINT) AS dist2
        |  FROM ncode nc
        |  JOIN dist qd ON qd.j = nc.j AND qd.code = nc.code
        |  WHERE qd.vec_id < 50 AND qd.vec_id != nc.vec_id
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, neighbor_id, dist2,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist2, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist2
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // d48's CTEs + an ADC shortlist of 50 per query and an exact
    // integer squared-L2 re-rank over the shortlisted quantized
    // vectors
    "d49_pq_refined" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM mm),
        |cent AS (
        |  SELECT vec_id AS cid, q AS cq FROM q
        |  ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id
        |  LIMIT 8),
        |centi AS (SELECT cq, CAST(row_number() OVER (ORDER BY cid) - 1 AS INT) AS code FROM cent),
        |sub AS (
        |  SELECT code, j.j,
        |    list_transform(range(1, 17), i -> cq[CAST(j.j*16 + i AS INT)]) AS cs
        |  FROM centi CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
        |dist AS (
        |  SELECT a.vec_id, s.j, s.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (a.q[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)])
        |      * (a.q[CAST(s.j*16 + i AS INT)] - s.cs[CAST(i AS INT)]))) AS BIGINT) AS d2
        |  FROM q a CROSS JOIN sub s),
        |ncode AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rk
        |    FROM dist) WHERE rk = 1),
        |adc AS (
        |  SELECT qd.vec_id AS query_id, nc.vec_id AS neighbor_id,
        |    CAST(sum(qd.d2) AS BIGINT) AS adc2
        |  FROM ncode nc
        |  JOIN dist qd ON qd.j = nc.j AND qd.code = nc.code
        |  WHERE qd.vec_id < 50 AND qd.vec_id != nc.vec_id
        |  GROUP BY 1, 2),
        |short AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY adc2, neighbor_id) AS rk
        |    FROM adc) WHERE rk <= 50),
        |exact AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(a.q)+1), i ->
        |      (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)])
        |      * (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)]))) AS BIGINT) AS dist2
        |  FROM short s
        |  JOIN q a ON a.vec_id = s.query_id
        |  JOIN q b ON b.vec_id = s.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, dist2,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist2, neighbor_id) AS rank
        |  FROM exact)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist2
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // d48's code CTEs + L2 cell assignment (16 md5-sampled cell
    // centroids, corpus takes its nearest, queries probe their top
    // 4), ADC restricted to cell-matched pairs, shortlist 50, exact
    // integer re-rank
    "d50_ivfpq" -> ivfPqTwinSql,

    // d58 serves the IDENTICAL ranking through the persisted index
    // (same md5 twin arithmetic, same k/nlist/nprobe/m/ksub/
    // shortlist) — one oracle string, two entries: the hash-match
    // proves index build + pruned read == direct computation, the
    // d46 "screen == direct" proof shape for ANN.
    "d58_ann_index" -> ivfPqTwinSql,
    // rebalance proof: book trained on the BUILD subset (evens),
    // cells on the full corpus — what rebalance-after-append yields
    "d91_ann_rebalance" -> ivfPqTwinSqlFor("WHERE vec_id % 2 = 0"),
    // rebuild proof: build history erased — the direct full-corpus
    // twin, verbatim
    "d93_ann_rebuild" -> ivfPqTwinSql,

    // d127: the same twin SQL a FOURTH time — build-on-evens +
    // reconcile (finds the odds) + rebuild must equal the direct
    // full-corpus computation.
    "d127_ann_reconcile" -> ivfPqTwinSql,
    "d136_residual_ivfpq" -> residualIvfPqSql,
    "d117_ann_recall" -> annRecallSql,
    "d123_refine_sweep" -> annRefineSql,
    "d125_ops_card" -> d125Sql,
    "d131_ranked_eval" -> d131Sql,
    "d132_match_positions" -> d132Sql,

    "d100_incremental_curation" -> incrementalCurationSql,
    "d97_dedup_index_stats" -> dedupIndexStatsSql,
    "d98_sim_index_stats" -> simIndexStatsSql,
    // d99: the frontier key set re-derived through the d71
    // canonicalization mirror — the report is its cardinality.
    "d99_url_index_stats" ->
      (s"WITH $canonUrlCtes\n" +
        "SELECT CAST(count(DISTINCT canon_url) AS BIGINT) AS n_urls FROM c"),

    // d95: the derived old snapshot (slice perturbations), both md5
    // fingerprints and all four statuses re-derived in SQL.
    "d95_corpus_diff" ->
      """WITH base AS (
        |  SELECT doc_id, text, substr(md5(CAST(doc_id AS VARCHAR)),1,1) AS h1
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), old AS (
        |  SELECT doc_id,
        |    CASE WHEN h1 = 'e' THEN text || ' EDITED' ELSE text END AS text
        |  FROM base WHERE h1 <> 'f'
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM base WHERE h1 = 'd'
        |), o AS (SELECT doc_id, md5(text) AS fp_old FROM old),
        |n AS (SELECT doc_id, md5(text) AS fp_new FROM base)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN fp_old = fp_new THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  fp_old, fp_new
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // d96: both legs re-derived end to end — per-query top-3 TF-IDF
    // keywords (d80 arithmetic, df over the joined corpus), per-query
    // BM25 over those terms (d70 arithmetic, self excluded, rounded
    // before ranking), brute-force cosine ranks (d6 machinery over
    // the joined corpus), then the RRF fusion on raw 1/(60+rank)
    // doubles with the doc_id tie-break.
    "d96_hybrid_topk" ->
      """WITH corp AS (
        |  SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
        |), tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM corp
        |), tfall AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS term FROM tok) x
        |  GROUP BY doc_id, term
        |), dfall AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tfall GROUP BY term
        |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
        |kwsc AS (
        |  SELECT doc_id, term,
        |    round(CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df_t AS DOUBLE)), 4) AS score
        |  FROM tfall JOIN dfall USING (term) CROSS JOIN nd
        |  WHERE doc_id < 5
        |), qt AS (
        |  SELECT doc_id AS query_id, term FROM (
        |    SELECT doc_id, term,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |    FROM kwsc) z
        |  WHERE rn <= 3
        |), st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
        |), post AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS term FROM tok
        |), btf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
        |  FROM post WHERE term IN (SELECT DISTINCT term FROM qt)
        |  GROUP BY doc_id, term
        |), bdf AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM btf GROUP BY term
        |), lexsc AS (
        |  SELECT qt.query_id, btf.doc_id,
        |    round(sum(
        |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
        |          (CAST(df_t AS DOUBLE) + 0.5)) *
        |        (CAST(tf AS DOUBLE) * 2.5) /
        |        (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
        |          (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 4) AS bm25
        |  FROM btf JOIN bdf USING (term) JOIN qt USING (term) CROSS JOIN st
        |  WHERE btf.doc_id <> qt.query_id
        |  GROUP BY qt.query_id, btf.doc_id
        |), lex AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY bm25 DESC, doc_id) AS rank
        |    FROM lexsc) t WHERE rank <= 20
        |), dense AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
        |      row_number() OVER (PARTITION BY q.doc_id
        |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
        |          c.embedding::DOUBLE[]) DESC, c.doc_id) AS rank
        |    FROM corp q JOIN corp c ON q.doc_id <> c.doc_id
        |    WHERE q.doc_id < 5) t
        |  WHERE rank <= 20
        |), fused AS (
        |  SELECT coalesce(lex.query_id, dense.query_id) AS query_id,
        |    coalesce(lex.doc_id, dense.doc_id) AS doc_id,
        |    coalesce(1.0/(60 + lex.rank), 0) + coalesce(1.0/(60 + dense.rank), 0) AS rrf
        |  FROM lex FULL OUTER JOIN dense
        |    ON lex.query_id = dense.query_id AND lex.doc_id = dense.doc_id
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, round(rrf, 6) AS rrf
        |FROM (SELECT query_id, doc_id, rrf,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY rrf DESC, doc_id) AS rank
        |      FROM fused) t
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // d121: the d96 derivation + the d9 quality blend as a static
    // prior leg + the left-associated three-way full-outer fusion.
    "d121_hybrid3_topk" ->
      """WITH corp AS (
        |  SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |  WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
        |), tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM corp
        |), tfall AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS term FROM tok) x
        |  GROUP BY doc_id, term
        |), dfall AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tfall GROUP BY term
        |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
        |kwsc AS (
        |  SELECT doc_id, term,
        |    round(CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df_t AS DOUBLE)), 4) AS score
        |  FROM tfall JOIN dfall USING (term) CROSS JOIN nd
        |  WHERE doc_id < 5
        |), qt AS (
        |  SELECT doc_id AS query_id, term FROM (
        |    SELECT doc_id, term,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |    FROM kwsc) z
        |  WHERE rn <= 3
        |), st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM tok
        |), post AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS term FROM tok
        |), btf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
        |  FROM post WHERE term IN (SELECT DISTINCT term FROM qt)
        |  GROUP BY doc_id, term
        |), bdf AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM btf GROUP BY term
        |), lexsc AS (
        |  SELECT qt.query_id, btf.doc_id,
        |    round(sum(
        |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) /
        |          (CAST(df_t AS DOUBLE) + 0.5)) *
        |        (CAST(tf AS DOUBLE) * 2.5) /
        |        (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl AS DOUBLE) /
        |          (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 4) AS bm25
        |  FROM btf JOIN bdf USING (term) JOIN qt USING (term) CROSS JOIN st
        |  WHERE btf.doc_id <> qt.query_id
        |  GROUP BY qt.query_id, btf.doc_id
        |), lex AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY bm25 DESC, doc_id) AS rank
        |    FROM lexsc) t WHERE rank <= 20
        |), dense AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
        |      row_number() OVER (PARTITION BY q.doc_id
        |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
        |          c.embedding::DOUBLE[]) DESC, c.doc_id) AS rank
        |    FROM corp q JOIN corp c ON q.doc_id <> c.doc_id
        |    WHERE q.doc_id < 5) t
        |  WHERE rank <= 20
        |), qb AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
        |    length(replace(text, ' ', '')) AS non_space,
        |    CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS INT) AS stop_n
        |  FROM corp
        |), qual AS (
        |  SELECT doc_id,
        |    round(least(n_words / 100.0, 1.0) * 0.4 +
        |      (CASE WHEN (CASE WHEN n_words > 0 THEN CAST(non_space AS DOUBLE) / n_words ELSE 0.0 END)
        |            BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |      least(CAST(stop_n AS DOUBLE) / 5.0, 1.0) * 0.2, 4) AS q
        |  FROM qb
        |), qtop AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY q DESC, doc_id) AS rank
        |    FROM qual) t WHERE rank <= 21
        |), prior AS (
        |  SELECT k.query_id, t.doc_id, t.rank
        |  FROM (SELECT DISTINCT query_id FROM qt) k CROSS JOIN qtop t
        |  WHERE t.doc_id <> k.query_id
        |), f1 AS (
        |  SELECT coalesce(lex.query_id, dense.query_id) AS query_id,
        |    coalesce(lex.doc_id, dense.doc_id) AS doc_id,
        |    lex.rank AS r0, dense.rank AS r1
        |  FROM lex FULL OUTER JOIN dense
        |    ON lex.query_id = dense.query_id AND lex.doc_id = dense.doc_id
        |), fused AS (
        |  SELECT coalesce(f1.query_id, p.query_id) AS query_id,
        |    coalesce(f1.doc_id, p.doc_id) AS doc_id,
        |    (coalesce(1.0/(60 + f1.r0), 0) + coalesce(1.0/(60 + f1.r1), 0))
        |      + coalesce(1.0/(60 + p.rank), 0) AS rrf
        |  FROM f1 FULL OUTER JOIN prior p
        |    ON f1.query_id = p.query_id AND f1.doc_id = p.doc_id
        |)
        |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, round(rrf, 6) AS rrf
        |FROM (SELECT query_id, doc_id, rrf,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY rrf DESC, doc_id) AS rank
        |      FROM fused) t
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // d94: the planted 8-token line wrap, every md5 line hash, the
    // min-(doc, pos) keeper choice and the reassembled text all
    // re-derived from raw text. ANTI JOIN drops removed occurrences;
    // a doc whose every line is removed re-joins to the empty string.
    "d94_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), ln AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    list_aggregate(ws[(i-1)*8+1:(i-1)*8+8], 'string_agg', ' ') AS line
        |  FROM t, unnest(range(1, CAST(ceil(len(ws)/8.0) AS BIGINT) + 1)) AS u(i)
        |), g AS (
        |  SELECT doc_id, pos, line,
        |    ('0x'||substr(md5(lower(trim(line))),1,15))::BIGINT AS h
        |  FROM ln
        |), st AS (
        |  SELECT h, count(DISTINCT doc_id) AS nd, min(doc_id) AS mn
        |  FROM g GROUP BY h
        |), kp AS (
        |  SELECT g.h, min(g.pos) AS kpos
        |  FROM g JOIN st ON g.h = st.h AND g.doc_id = st.mn
        |  WHERE st.nd >= 2 GROUP BY g.h
        |), rem AS (
        |  SELECT g.doc_id, g.pos
        |  FROM g JOIN st ON g.h = st.h JOIN kp ON g.h = kp.h
        |  WHERE st.nd >= 2 AND NOT (g.doc_id = st.mn AND g.pos = kp.kpos)
        |), keptxt AS (
        |  SELECT ln.doc_id, string_agg(ln.line, chr(10) ORDER BY ln.pos) AS txt
        |  FROM ln ANTI JOIN rem ON ln.doc_id = rem.doc_id AND ln.pos = rem.pos
        |  GROUP BY ln.doc_id
        |), rc AS (
        |  SELECT doc_id, CAST(count(*) AS INT) AS c FROM rem GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  CAST(ceil(len(ws)/8.0) AS INT) AS n_lines,
        |  coalesce(rc.c, 0) AS n_removed,
        |  coalesce(keptxt.txt, '') AS clean_text
        |FROM t LEFT JOIN rc ON t.doc_id = rc.doc_id
        |LEFT JOIN keptxt ON t.doc_id = keptxt.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // range search brute-forced on the SAME cell CTEs as d50/d58:
    // every (probed cell, resident) pair scored with the exact
    // integer distance, filtered at the radius — no shortlist to
    // mirror because the Spark path deliberately has none
    // d79: occupancy from the SAME cell-assignment CTEs as d50/d58 —
    // per-cell counts over every vector's argmin cell, empty cells
    // zero via the centroid left join, shares from exact integers.
    "d79_ann_index_stats" -> (s"WITH $ivfCellCtes,\n" +
      """cnt AS (
        |  SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM ccells GROUP BY cell_id
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS t FROM ccells
        |)
        |SELECT c.cell_id, coalesce(cnt.n_vecs, 0) AS n_vecs,
        |  round(CAST(coalesce(cnt.n_vecs, 0) AS DOUBLE) /
        |    CAST(t AS DOUBLE), 4) AS share
        |FROM ccent c LEFT JOIN cnt USING (cell_id) CROSS JOIN tot
        |ORDER BY cell_id""".stripMargin),

    "d69_ann_range" -> (s"WITH $ivfCellCtes,\n" +
      """ex AS (
        |  SELECT p.query_id, cc.neighbor_id,
        |    CAST(list_sum(list_transform(range(1, len(a.q)+1), i ->
        |      (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)])
        |      * (a.q[CAST(i AS INT)] - b.q[CAST(i AS INT)]))) AS BIGINT)
        |      AS dist2
        |  FROM cprobes p
        |  JOIN ccells cc ON cc.cell_id = p.cell_id
        |  JOIN q a ON a.vec_id = p.query_id
        |  JOIN q b ON b.vec_id = cc.neighbor_id
        |  WHERE cc.neighbor_id <> p.query_id)
        |SELECT query_id, neighbor_id, dist2 FROM ex
        |WHERE dist2 <= 160000
        |ORDER BY query_id, neighbor_id""".stripMargin),

    "d51_bpe_tokens" -> bpeTokensSql,
    "d59_bpe_pack" -> bpePackSql,
    "d92_bin_tokens" -> binTokensSql,
    "d114_epoch_shards" -> epochShardsSql,
    "d60_bpe_train" -> bpeTrainSql,
    "d66_bpe_budget_train" -> bpeTrainSqlFor(d66SliceSql),
    "d62_pipeline" -> pipelineSql,
    "d77_model_pipeline" -> modelPipelineSql,
    "d61_trained_tokenize" -> bpeTrainedTokenizeSql,

    "d33_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
        |), f AS (
        |  SELECT t, count(*) AS c FROM tok GROUP BY t
        |), tot AS (
        |  SELECT CAST(sum(c) AS DOUBLE) AS tot FROM f
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(ln(CAST(c AS DOUBLE) / tot)), 4) AS avg_logp
        |FROM tok JOIN f USING (t) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d53_bigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
        |), bg AS (
        |  SELECT doc_id, ws[CAST(i AS INT)] AS a, ws[CAST(i + 1 AS INT)] AS b
        |  FROM tok, unnest(range(1, len(ws))) AS u(i)
        |  WHERE len(ws) >= 2
        |), f2 AS (
        |  SELECT a, b, count(*) AS c2 FROM bg GROUP BY a, b
        |), c1 AS (
        |  SELECT a, sum(c2) AS c1 FROM f2 GROUP BY a
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))), 4) AS avg_logp2
        |FROM bg JOIN f2 USING (a, b) JOIN c1 USING (a)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d65: the full stupid-backoff chain re-derived — train slice,
    // distinct-trigram counts, the four derived tables, N+V, the
    // backoff CASE (identical literal arithmetic and parenthesis
    // order to the engine, so the doubles match bit-for-bit) and the
    // rounded per-doc average.
    "d65_trigram_logprob" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    $d60SliceSql AS tr,
        |    string_split_regex(lower(trim(text)), '\\s+') AS ws
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
        |), tg AS (
        |  SELECT doc_id, tr,
        |    ws[CAST(i AS INT)] AS a, ws[CAST(i + 1 AS INT)] AS b,
        |    ws[CAST(i + 2 AS INT)] AS c
        |  FROM tok, unnest(range(1, len(ws) - 1)) AS u(i)
        |  WHERE len(ws) >= 3
        |), dist AS (
        |  SELECT a, b, c, count(*) FILTER (WHERE tr) AS c3
        |  FROM tg GROUP BY a, b, c
        |), tr3 AS (SELECT * FROM dist WHERE c3 > 0),
        |x2 AS (SELECT a, b, CAST(sum(c3) AS BIGINT) AS c2ctx FROM tr3 GROUP BY a, b),
        |y2 AS (SELECT b, c, CAST(sum(c3) AS BIGINT) AS c2bc FROM tr3 GROUP BY b, c),
        |z1 AS (SELECT b, CAST(sum(c2bc) AS BIGINT) AS c1ctx FROM y2 GROUP BY b),
        |w1 AS (SELECT c, CAST(sum(c2bc) AS BIGINT) AS c1c FROM y2 GROUP BY c),
        |nv AS (SELECT CAST(sum(c3) AS BIGINT) AS n_train,
        |  CAST(count(DISTINCT c) AS BIGINT) AS v_train FROM tr3),
        |sd AS (
        |  SELECT d.a, d.b, d.c,
        |    ln(CASE
        |      WHEN d.c3 > 0 THEN CAST(d.c3 AS DOUBLE) / CAST(x2.c2ctx AS DOUBLE)
        |      WHEN y2.c2bc IS NOT NULL THEN CAST(0.4 AS DOUBLE) * (CAST(y2.c2bc AS DOUBLE) / CAST(z1.c1ctx AS DOUBLE))
        |      ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) * ((CAST(COALESCE(w1.c1c, 0) AS DOUBLE) + 1.0) /
        |        (CAST(nv.n_train AS DOUBLE) + CAST(nv.v_train AS DOUBLE)))
        |    END) AS logs
        |  FROM dist d
        |  LEFT JOIN x2 USING (a, b)
        |  LEFT JOIN y2 USING (b, c)
        |  LEFT JOIN z1 USING (b)
        |  LEFT JOIN w1 USING (c)
        |  CROSS JOIN nv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  round(avg(logs), 4) AS avg_logp3
        |FROM tg JOIN sd USING (a, b, c)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d70: BM25 re-derived — tf with the doc length riding the
    // unnest, df from the (doc, term) aggregate, the one-row corpus
    // stats, and the identical literal arithmetic (k1 = 1.5 and
    // b = 0.75 are exactly representable, so every intermediate
    // double matches bit for bit before the 4-decimal round).
    "d70_bm25_topk" -> d70Sql,

    // d112: the fresh-scan SQL VERBATIM — the twin proof that the
    // persistent inverted index serves the identical ranking.
    "d112_indexed_bm25" -> d70Sql,

    // d115: the index's corpus card re-derived from raw text — every
    // figure (doc count, vocabulary size, posting count, token mass,
    // avgdl) recomputed by DuckDB from the documents table.
    "d115_bm25_index_stats" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), post AS (
        |  SELECT doc_id, unnest(ws) AS term FROM tok
        |), tf AS (
        |  SELECT doc_id, term FROM post GROUP BY doc_id, term
        |)
        |SELECT CAST((SELECT count(*) FROM tok) AS BIGINT) AS n_docs,
        |  CAST((SELECT count(DISTINCT term) FROM post) AS BIGINT) AS n_terms,
        |  CAST((SELECT count(*) FROM tf) AS BIGINT) AS n_postings,
        |  CAST((SELECT sum(len(ws)) FROM tok) AS BIGINT) AS sum_dl,
        |  round(CAST((SELECT sum(len(ws)) FROM tok) AS DOUBLE) /
        |    CAST((SELECT count(*) FROM tok) AS DOUBLE), 4) AS avgdl""".stripMargin,

    // d80: tf/df/idf re-derived from raw text; ranking over the SAME
    // rounded doubles with the same (score desc, term) tie-break.
    "d80_tfidf_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS term FROM tok) x
        |  GROUP BY doc_id, term
        |), dft AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term
        |), nd AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM tok
        |), sc AS (
        |  SELECT doc_id, term,
        |    round(CAST(tf AS DOUBLE) *
        |      ln(CAST(n AS DOUBLE) / CAST(df_t AS DOUBLE)), 4) AS score
        |  FROM tf JOIN dft USING (term) CROSS JOIN nd
        |), rk AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS rank
        |  FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, score
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // d71: planted URL + the full canonicalization mirror (fragment
    // strip, scheme/host lowering, default-port drop, trailing-slash
    // strip, tracking-param filter + param sort) + keep-min dedup.
    "d71_url_dedup" ->
      (s"WITH $canonUrlCtes, k AS (\n" +
      """  SELECT canon_url, min(doc_id) AS keeper_id FROM c GROUP BY canon_url
        |)
        |SELECT c.doc_id, c.url, c.canon_url,
        |  c.doc_id = k.keeper_id AS keeper
        |FROM c JOIN k USING (canon_url) ORDER BY doc_id""".stripMargin),

    // d84: the frontier screen brute-forced — canonicalize BOTH
    // halves with the d71 arithmetic; a batch (upper-half) doc
    // survives iff its canonical url matches no corpus (lower-half)
    // doc's canonical url.
    "d84_url_screen" -> d84Sql,

    // d129: d84's derivation VERBATIM — the index was built on a
    // 1/32 slice and RECONCILED up to the full 1/16 corpus, so a
    // hash match proves reconcile found exactly the missing keys.
    "d129_url_reconcile" -> d84Sql,
    "d153_merged_url" -> d84Sql,
    "d154_merged_ann" -> mergedAnnTwinSql,

    // d72: integer allowances (w·B // Σw over the distinct strata),
    // per-stratum cumulative token mass in (md5 priority DESC, id)
    // order, prefix-cut filter — the window form re-derives the
    // engine's two-phase prefix sum.
    "d72_mixture_sample" ->
      s"""WITH b0 AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n,
        |    ('0x'||substr(md5('mix|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS pr,
        |    CAST(CAST(substr(source, 4) AS INT) % 3 + 1 AS BIGINT) AS w
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND text IS NOT NULL
        |), b AS (
        |  -- zero-token rows dropped, mirroring mixtureOffsets
        |  SELECT * FROM b0 WHERE n > 0
        |), tw AS (
        |  SELECT CAST(sum(w) AS BIGINT) AS total
        |  FROM (SELECT DISTINCT source, w FROM b) x
        |), off AS (
        |  SELECT doc_id, source, n, w,
        |    coalesce(sum(n) OVER (PARTITION BY source ORDER BY pr DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM b)
        |SELECT doc_id, source, n AS n_tokens,
        |  CAST(start_off AS BIGINT) AS start_off
        |FROM off CROSS JOIN tw
        |WHERE start_off + n <= w * $d72Budget // total
        |ORDER BY doc_id""".stripMargin,

    // d78: the data card re-derived — the d9 quality chain, token
    // mass, ROLLUP subtotals with matching grouping-id bits and
    // pinned null-group ordering.
    "d78_corpus_report" ->
      """WITH b AS (
        |  SELECT doc_id, lang, source, text,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
        |    length(replace(text, ' ', '')) AS non_space,
        |    CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS INT) AS stop_n
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |m AS (
        |  SELECT doc_id, lang, source, text, n_words,
        |    CASE WHEN n_words > 0 THEN CAST(non_space AS DOUBLE) / n_words ELSE 0.0 END AS mean_wl,
        |    CAST(stop_n AS DOUBLE) AS stop_d
        |  FROM b),
        |q AS (
        |  SELECT doc_id, lang, source, text, n_words,
        |    CAST(round(round(least(n_words / 100.0, 1.0) * 0.4 +
        |      (CASE WHEN mean_wl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |      least(stop_d / 5.0, 1.0) * 0.2, 4) * 10000, 0) AS BIGINT) AS qi
        |  FROM m)
        |SELECT lang, source,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS lvl,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(qi) AS DOUBLE) /
        |    CAST(count(*) * 10000 AS DOUBLE), 4) AS avg_quality,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        |FROM q GROUP BY ROLLUP(lang, source)
        |ORDER BY lvl, lang NULLS FIRST, source NULLS FIRST""".stripMargin,

    // d76: the d72 machinery + derived 2×-mass budget, whole epochs
    // per stratum and the remainder prefix, all integer arithmetic.
    "d76_mixture_epochs" ->
      s"""WITH b0 AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n,
        |    ('0x'||substr(md5('mix|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS pr,
        |    CAST(CAST(substr(source, 4) AS INT) % 3 + 1 AS BIGINT) AS w
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND text IS NOT NULL
        |), b AS (
        |  -- zero-token rows dropped, mirroring mixtureOffsets
        |  SELECT * FROM b0 WHERE n > 0
        |), tw AS (
        |  SELECT CAST(sum(w) AS BIGINT) AS total_w
        |  FROM (SELECT DISTINCT source, w FROM b) x
        |), cb AS (
        |  SELECT CAST(2 * sum(n) AS BIGINT) AS budget FROM b
        |), tot AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS total FROM b GROUP BY source
        |), ep AS (
        |  SELECT source,
        |    CAST((w * budget // total_w) // total AS BIGINT) AS epochs,
        |    CAST((w * budget // total_w) % total AS BIGINT) AS rem
        |  FROM (SELECT DISTINCT source, w FROM b) x
        |  CROSS JOIN tw CROSS JOIN cb JOIN tot USING (source)
        |), off AS (
        |  SELECT doc_id, source, n,
        |    coalesce(sum(n) OVER (PARTITION BY source ORDER BY pr DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM b)
        |SELECT doc_id, source, n AS n_tokens,
        |  CAST(start_off AS BIGINT) AS start_off,
        |  CAST(epochs + CASE WHEN start_off + n <= rem THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_copies
        |FROM off JOIN ep USING (source)
        |WHERE epochs + CASE WHEN start_off + n <= rem THEN 1 ELSE 0 END > 0
        |ORDER BY doc_id""".stripMargin,

    // d75: quality tiers (the d9 arithmetic verbatim) → repeat
    // counts → copies with re-derived shuffle keys.
    "d75_upsample" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_words,
        |    length(replace(text, ' ', '')) AS non_space,
        |    CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5 AS INT) AS stop_n
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |m AS (
        |  SELECT doc_id, n_words,
        |    CASE WHEN n_words > 0 THEN CAST(non_space AS DOUBLE) / n_words ELSE 0.0 END AS mean_wl,
        |    CAST(stop_n AS DOUBLE) AS stop_d
        |  FROM b),
        |q AS (
        |  SELECT doc_id,
        |    round(least(n_words / 100.0, 1.0) * 0.4 +
        |      (CASE WHEN mean_wl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4 +
        |      least(stop_d / 5.0, 1.0) * 0.2, 4) AS quality
        |  FROM m),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN quality >= 0.8 THEN 3
        |         WHEN quality >= 0.5 THEN 2 ELSE 1 END AS nc
        |  FROM q)
        |SELECT doc_id, CAST(i AS BIGINT) AS copy_idx,
        |  CAST(nc AS BIGINT) AS n_copies,
        |  ('0x'||substr(md5('up|'||CAST(doc_id AS VARCHAR)||'|'||
        |    CAST(i AS VARCHAR)),1,15))::BIGINT AS shuffle_key
        |FROM r, unnest(range(0, nc)) AS u(i)
        |ORDER BY doc_id, copy_idx""".stripMargin,

    // d73: the NB classifier re-derived end to end — conditional
    // train counts over the md5-quarter, vocab/N totals, add-one
    // weights, the unseen-token floor, the prior, and the rounded
    // log-odds whose sign IS the gate decision. Identical literal
    // arithmetic and parenthesis order to the engine. d74 pins the
    // SAME SQL against the persisted-model scoring path (train →
    // warehouse tables → broadcast-served), so a hash match proves
    // model == inline — the d58 discipline.
    "d73_nb_classifier" -> nbClassifierSql,
    "d74_nb_model_score" -> nbClassifierSql,

    // null parity with sequencePack: null text packs as 0 tokens
    // (COALESCE), and the cumsum orders NULLS FIRST to match Spark's
    // sort default should ord ever be null — latent today (testdata
    // has no nulls) but keeps the oracle faithful to the operator.
    "d32_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n,
        |    md5(CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n,
        |    CAST(COALESCE(sum(n) OVER (ORDER BY ord NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t
        |)
        |SELECT doc_id, n AS n_tokens, off AS start_off,
        |  CAST(off // 2048 AS BIGINT) AS bin_start,
        |  CAST((off + greatest(n, 1) - 1) // 2048 AS BIGINT) AS bin_end
        |FROM c ORDER BY doc_id""".stripMargin,

    // d90: the d32 cumsum extended to per-(bin, doc) segments — the
    // same bin addresses unnested into bin spans, every segment
    // quantity pure integer arithmetic over (off, n, bin).
    "d90_bin_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n,
        |    md5(CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n,
        |    CAST(COALESCE(sum(n) OVER (ORDER BY ord NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t
        |), x AS (
        |  SELECT doc_id, n, off,
        |    unnest(range(off // 2048,
        |      (off + greatest(n, 1) - 1) // 2048 + 1)) AS bin
        |  FROM c
        |)
        |SELECT CAST(bin AS BIGINT) AS bin, doc_id,
        |  CAST(greatest(off, bin * 2048) - bin * 2048 AS BIGINT) AS seg_start,
        |  CAST(least(off + n, (bin + 1) * 2048)
        |    - greatest(off, bin * 2048) AS BIGINT) AS seg_len,
        |  CAST(greatest(off, bin * 2048) - off AS BIGINT) AS doc_off
        |FROM x ORDER BY bin, doc_id""".stripMargin,

    "d26_embed_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id, len(v) AS n_dims, mx / 127.0 AS scale,
        |  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM m)
        |SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims, round(scale, 6) AS scale,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1
        |FROM q ORDER BY vec_id""".stripMargin,

    // d54: re-derive the planted page from raw text, then run the
    // HtmlKernels contract as regex SQL — segment removal, block
    // split, per-block strip/collapse/trim, anchor capture sums,
    // keep rule, ordered '\n' re-join — and md5 the result.
    "d54_html_extract" -> htmlExtractSql,

    // d55: re-derive the tagged gram stream (n in {1,2,3,5}) from
    // raw text; mass = count * (len(gram) - (n-1)); denominators
    // from the n=1 arm.
    "d55_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, 1 AS n, ws[CAST(i AS INT)] AS g
        |  FROM tok, unnest(range(1, len(ws) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, 2, ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)]
        |  FROM tok, unnest(range(1, len(ws))) AS u(i) WHERE len(ws) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3, ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)]
        |    || ' ' || ws[CAST(i + 2 AS INT)]
        |  FROM tok, unnest(range(1, len(ws) - 1)) AS u(i) WHERE len(ws) >= 3
        |  UNION ALL
        |  SELECT doc_id, 5, ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)]
        |    || ' ' || ws[CAST(i + 2 AS INT)] || ' ' || ws[CAST(i + 3 AS INT)]
        |    || ' ' || ws[CAST(i + 4 AS INT)]
        |  FROM tok, unnest(range(1, len(ws) - 3)) AS u(i) WHERE len(ws) >= 5
        |), c AS (
        |  SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY doc_id, n, g
        |), m AS (
        |  SELECT doc_id, n, c,
        |    CAST(c * (length(g) - (n - 1)) AS BIGINT) AS mass FROM c
        |)
        |SELECT doc_id,
        |  CAST(coalesce(sum(c) FILTER (WHERE n = 1), 0) AS BIGINT) AS n_words,
        |  CASE WHEN coalesce(sum(mass) FILTER (WHERE n = 1), 0) > 0 THEN
        |    round(CAST(coalesce(max(mass) FILTER (WHERE n = 2), 0) AS DOUBLE) /
        |      CAST(sum(mass) FILTER (WHERE n = 1) AS DOUBLE), 4) ELSE 0.0 END AS top2_frac,
        |  CASE WHEN coalesce(sum(mass) FILTER (WHERE n = 1), 0) > 0 THEN
        |    round(CAST(coalesce(max(mass) FILTER (WHERE n = 3), 0) AS DOUBLE) /
        |      CAST(sum(mass) FILTER (WHERE n = 1) AS DOUBLE), 4) ELSE 0.0 END AS top3_frac,
        |  CASE WHEN coalesce(sum(mass) FILTER (WHERE n = 1), 0) > 0 THEN
        |    round(CAST(coalesce(sum(mass) FILTER (WHERE n = 5 AND c >= 2), 0) AS DOUBLE) /
        |      CAST(sum(mass) FILTER (WHERE n = 1) AS DOUBLE), 4) ELSE 0.0 END AS dup5_frac
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d56: plant the same doc_id-keyed noise, then the rule
    // arithmetic — textStats fragments (d9 formulation), occurrence
    // counts by length arithmetic, letter-token list filter, padded
    // stopword containment; ratios rounded before thresholds.
    "d56_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    text || CASE WHEN doc_id % 7 = 0 THEN '$gopherSymNoise' ELSE '' END
         |         || CASE WHEN doc_id % 11 = 0 THEN '$gopherDigitNoise' ELSE '' END AS gt
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |), s AS (
         |  SELECT doc_id, gt, ' ' || lower(gt) || ' ' AS pt,
         |    CAST(CASE WHEN length(trim(gt)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(gt), '\\s+')) END AS BIGINT) AS nw,
         |    length(replace(gt, ' ', '')) AS ns,
         |    string_split_regex(lower(trim(gt)), '\\s+') AS ws
         |  FROM t
         |), m AS (
         |  SELECT doc_id, nw,
         |    round(CASE WHEN nw > 0 THEN CAST(ns AS DOUBLE) / nw ELSE 0.0 END, 4) AS mean_wlen,
         |    round(CASE WHEN nw > 0 THEN CAST(
         |        (length(gt) - length(replace(gt, '#', ''))) +
         |        (length(gt) - length(replace(gt, '...', ''))) / 3
         |      AS DOUBLE) / nw ELSE 0.0 END, 4) AS sym_ratio,
         |    round(CASE WHEN nw > 0 THEN CAST(len(list_filter(ws,
         |        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / nw
         |      ELSE 0.0 END, 4) AS alpha_frac,
         |    CAST($gopherStopSql AS BIGINT) AS stop_distinct
         |  FROM s
         |), r AS (
         |  SELECT doc_id, nw, mean_wlen, sym_ratio, alpha_frac, stop_distinct,
         |    (CASE WHEN nw < 50 OR nw > 100000 THEN 1 ELSE 0 END
         |     + CASE WHEN mean_wlen < 3.0 OR mean_wlen > 10.0 THEN 2 ELSE 0 END
         |     + CASE WHEN sym_ratio > 0.1 THEN 4 ELSE 0 END
         |     + CASE WHEN alpha_frac < 0.8 THEN 8 ELSE 0 END
         |     + CASE WHEN stop_distinct < 2 THEN 16 ELSE 0 END) AS rb
         |  FROM m
         |)
         |SELECT doc_id, nw AS n_words, mean_wlen, sym_ratio, alpha_frac,
         |  stop_distinct, CAST(rb AS BIGINT) AS rule_bits, rb = 0 AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    // d57: the d35 twin CTEs (int8 quantize, md5-order centroids,
    // argmax cell assignment) extended with the within-cell pair
    // cosines and the min-id drop verdicts.
    "d57_semantic_dedup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM m),
        |n AS (SELECT vec_id, q,
        |  sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm FROM q),
        |cent AS (
        |  SELECT vec_id AS cell_id, q AS cq, nrm AS cnrm FROM n
        |  ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id
        |  LIMIT 16),
        |ass AS (
        |  SELECT a.vec_id, c.cell_id,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      CASE WHEN a.nrm * c.cnrm > 0 THEN
        |        -(CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*c.cq[i])) AS DOUBLE)
        |          / (a.nrm * c.cnrm)) ELSE 0.0 END,
        |      c.cell_id) AS rk
        |  FROM n a CROSS JOIN cent c),
        |cells AS (SELECT vec_id, cell_id FROM ass WHERE rk = 1),
        |pairs AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |    CASE WHEN x.nrm * y.nrm > 0 THEN
        |      CAST(list_sum(list_transform(range(1, len(x.q)+1), i -> x.q[i]*y.q[i])) AS DOUBLE)
        |        / (x.nrm * y.nrm) ELSE 0.0 END AS cos
        |  FROM cells a JOIN cells b USING (cell_id)
        |  JOIN n x ON x.vec_id = a.vec_id
        |  JOIN n y ON y.vec_id = b.vec_id
        |  WHERE a.vec_id < b.vec_id),
        |drops AS (
        |  SELECT id_b AS vec_id, min(id_a) AS dropped_by
        |  FROM pairs WHERE cos >= 0.4 GROUP BY id_b)
        |SELECT c.vec_id, CAST(c.cell_id AS BIGINT) AS cell_id,
        |  d.dropped_by IS NULL AS keep, d.dropped_by
        |FROM cells c LEFT JOIN drops d USING (vec_id)
        |ORDER BY c.vec_id""".stripMargin,

    // d89: d57's integer re-derivation with a corpus/holdout split —
    // centroids sample the CORPUS side only (md5 != '0'), both sides
    // assign against them, candidates are in-cell corpus × holdout,
    // verdict = min matching holdout id at cos >= 0.4.
    "d89_semantic_decontaminate" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |q AS (SELECT vec_id,
        |  CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT)) END AS q
        |  FROM m),
        |n AS (SELECT vec_id, q,
        |  sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS nrm,
        |  substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0' AS is_eval
        |  FROM q),
        |cent AS (
        |  SELECT vec_id AS cell_id, q AS cq, nrm AS cnrm FROM n
        |  WHERE NOT is_eval
        |  ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT, vec_id
        |  LIMIT 16),
        |ass AS (
        |  SELECT a.vec_id, a.is_eval, c.cell_id,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      CASE WHEN a.nrm * c.cnrm > 0 THEN
        |        -(CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*c.cq[i])) AS DOUBLE)
        |          / (a.nrm * c.cnrm)) ELSE 0.0 END,
        |      c.cell_id) AS rk
        |  FROM n a CROSS JOIN cent c),
        |cells AS (SELECT vec_id, is_eval, cell_id FROM ass WHERE rk = 1),
        |pairs AS (
        |  SELECT x.vec_id, y.vec_id AS hid,
        |    CASE WHEN x.nrm * y.nrm > 0 THEN
        |      CAST(list_sum(list_transform(range(1, len(x.q)+1), i -> x.q[i]*y.q[i])) AS DOUBLE)
        |        / (x.nrm * y.nrm) ELSE 0.0 END AS cos
        |  FROM cells a JOIN cells b USING (cell_id)
        |  JOIN n x ON x.vec_id = a.vec_id
        |  JOIN n y ON y.vec_id = b.vec_id
        |  WHERE NOT a.is_eval AND b.is_eval),
        |flags AS (
        |  SELECT vec_id, min(hid) AS matched_eval
        |  FROM pairs WHERE cos >= 0.4 GROUP BY vec_id)
        |SELECT c.vec_id, CAST(c.cell_id AS BIGINT) AS cell_id,
        |  f.matched_eval IS NULL AS keep, f.matched_eval
        |FROM cells c LEFT JOIN flags f USING (vec_id)
        |WHERE NOT c.is_eval
        |ORDER BY c.vec_id""".stripMargin
  )

  /** The d54 extraction chain (page construction over `textExpr` +
    * the HtmlKernels contract as regex SQL) up to the per-block
    * verdict CTE `k` — shared by the d54 oracle and the d62
    * composed-pipeline oracle. */
  private def htmlExtractCtes(textExpr: String): String =
    s"""h AS (
       |  SELECT doc_id,
       |    '$htmlHead' || source || '$htmlMid1' || source || '$htmlMid2' ||
       |    replace($textExpr, '$htmlParaFromRe', '$htmlParaTo') || '$htmlMid3' ||
       |    CASE WHEN doc_id % 4 = 0 THEN '$htmlKeepDiv' ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN '$htmlDropDiv' ELSE '' END ||
       |    '$htmlFooter' AS html
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), c AS (
       |  SELECT doc_id,
       |    regexp_replace(html,
       |      '(?s)<script[^>]*>.*?</script[^>]*>|<style[^>]*>.*?</style[^>]*>|<!--.*?-->',
       |      '', 'g') AS ch
       |  FROM h
       |), sp AS (
       |  SELECT doc_id,
       |    string_split_regex(ch,
       |      '</?(?:p|div|h[1-6]|li|ul|ol|br|body|html|head|title|table|tr|td)[^>]*>') AS bl
       |  FROM c
       |), b AS (
       |  SELECT doc_id, generate_subscripts(bl, 1) AS ord, unnest(bl) AS blk FROM sp
       |), t AS (
       |  SELECT doc_id, ord,
       |    CASE WHEN tr LIKE ' %' THEN
       |      CASE WHEN tr LIKE '% ' AND length(tr) > 1 THEN substr(tr, 2, length(tr) - 2)
       |           ELSE substr(tr, 2) END
       |      ELSE CASE WHEN tr LIKE '% ' THEN substr(tr, 1, length(tr) - 1) ELSE tr END
       |    END AS txt,
       |    CAST(coalesce(list_sum(list_transform(
       |      regexp_extract_all(blk, '<a[^>]*>([^<]*)</a>', 1), x -> length(x))), 0)
       |      AS BIGINT) AS alen
       |  FROM (
       |    SELECT doc_id, ord, blk,
       |      regexp_replace(regexp_replace(blk, '<[^>]*>', '', 'g'),
       |                     '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g') AS tr
       |    FROM b)
       |), k AS (
       |  SELECT doc_id, ord, txt, alen, length(txt) AS tlen,
       |    (length(txt) >= 10 AND alen * 100 <= 20 * length(txt)) AS keep
       |  FROM t WHERE length(txt) > 0
       |)""".stripMargin

  private lazy val htmlExtractSql: String =
    s"""WITH ${htmlExtractCtes("text")}
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_blocks,
       |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
       |  CAST(sum(tlen) AS BIGINT) AS text_chars,
       |  CAST(sum(alen) AS BIGINT) AS link_chars,
       |  CAST(coalesce(length(string_agg(txt, chr(10) ORDER BY ord)
       |    FILTER (WHERE keep)), 0) AS BIGINT) AS main_len,
       |  md5(coalesce(string_agg(txt, chr(10) ORDER BY ord)
       |    FILTER (WHERE keep), '')) AS main_md5
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d62: the composed pipeline re-derived stage by stage — the d54
    * extraction chain over the CASE'd body, the d56 gate arithmetic
    * on the EXTRACTED text (minWords 20, keep = no rule violated),
    * keep-min exact dedup on the main-text md5, and the d32
    * prefix-sum pack over the survivors. */
  private lazy val pipelineSql: String =
    s"""WITH ${htmlExtractCtes(
         s"CASE WHEN doc_id % 10 = 0 THEN '$d62SharedText' ELSE text END")},
       |mt AS (
       |  SELECT doc_id, coalesce(string_agg(txt, chr(10) ORDER BY ord)
       |    FILTER (WHERE keep), '') AS main
       |  FROM k GROUP BY doc_id
       |), s2 AS (
       |  SELECT doc_id, main, ' ' || lower(main) || ' ' AS pt,
       |    CAST(CASE WHEN length(trim(main)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(main), '\\s+')) END AS BIGINT) AS nw,
       |    length(replace(main, ' ', '')) AS ns,
       |    string_split_regex(lower(trim(main)), '\\s+') AS ws
       |  FROM mt
       |), g AS (
       |  SELECT doc_id, main FROM (
       |    SELECT doc_id, main, nw,
       |      round(CASE WHEN nw > 0 THEN CAST(ns AS DOUBLE) / nw ELSE 0.0 END, 4) AS mean_wlen,
       |      round(CASE WHEN nw > 0 THEN CAST(
       |          (length(main) - length(replace(main, '#', ''))) +
       |          (length(main) - length(replace(main, '...', ''))) / 3
       |        AS DOUBLE) / nw ELSE 0.0 END, 4) AS sym_ratio,
       |      round(CASE WHEN nw > 0 THEN CAST(len(list_filter(ws,
       |          x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / nw
       |        ELSE 0.0 END, 4) AS alpha_frac,
       |      CAST($gopherStopSql AS BIGINT) AS sd
       |    FROM s2)
       |  WHERE nw >= 20 AND nw <= 100000
       |    AND mean_wlen BETWEEN 3.0 AND 10.0 AND sym_ratio <= 0.1
       |    AND alpha_frac >= 0.8 AND sd >= 2
       |), dd AS (
       |  SELECT doc_id, main, md5(main) AS mh FROM g
       |), kp AS (
       |  SELECT mh, min(doc_id) AS doc_id FROM dd GROUP BY mh
       |), u AS (
       |  SELECT dd.doc_id, dd.mh, dd.main FROM dd JOIN kp USING (mh, doc_id)
       |), tt AS (
       |  SELECT doc_id, mh,
       |    CAST(CASE WHEN length(trim(main)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(main), '\\s+')) END AS BIGINT) AS n,
       |    md5(CAST(doc_id AS VARCHAR)) AS ord
       |  FROM u
       |), cc AS (
       |  SELECT doc_id, mh, n,
       |    CAST(COALESCE(sum(n) OVER (ORDER BY ord NULLS FIRST
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM tt
       |)
       |SELECT doc_id, n AS n_tokens, off AS start_off,
       |  CAST(off // 2048 AS BIGINT) AS bin_start,
       |  CAST((off + greatest(n, 1) - 1) // 2048 AS BIGINT) AS bin_end,
       |  mh AS main_md5
       |FROM cc ORDER BY doc_id""".stripMargin

  /** d77: pipelineSql's chain with the NB model stage between the
    * rule gate `g` and the dedup — the d73 arithmetic re-derived
    * over the rule-gated EXTRACTED texts (train slice = the d60
    * md5-quarter of the gated docs, labels from the source table's
    * lang), gate = rounded log-odds > 0, then keep-min dedup and
    * the prefix-sum pack carrying log_odds through. */
  private lazy val modelPipelineSql: String =
    s"""WITH ${htmlExtractCtes(
         s"CASE WHEN doc_id % 10 = 0 THEN '$d62SharedText' ELSE text END")},
       |mt AS (
       |  SELECT doc_id, coalesce(string_agg(txt, chr(10) ORDER BY ord)
       |    FILTER (WHERE keep), '') AS main
       |  FROM k GROUP BY doc_id
       |), s2 AS (
       |  SELECT doc_id, main, ' ' || lower(main) || ' ' AS pt,
       |    CAST(CASE WHEN length(trim(main)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(main), '\\s+')) END AS BIGINT) AS nw,
       |    length(replace(main, ' ', '')) AS ns,
       |    string_split_regex(lower(trim(main)), '\\s+') AS ws
       |  FROM mt
       |), g AS (
       |  SELECT doc_id, main FROM (
       |    SELECT doc_id, main, nw,
       |      round(CASE WHEN nw > 0 THEN CAST(ns AS DOUBLE) / nw ELSE 0.0 END, 4) AS mean_wlen,
       |      round(CASE WHEN nw > 0 THEN CAST(
       |          (length(main) - length(replace(main, '#', ''))) +
       |          (length(main) - length(replace(main, '...', ''))) / 3
       |        AS DOUBLE) / nw ELSE 0.0 END, 4) AS sym_ratio,
       |      round(CASE WHEN nw > 0 THEN CAST(len(list_filter(ws,
       |          x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / nw
       |        ELSE 0.0 END, 4) AS alpha_frac,
       |      CAST($gopherStopSql AS BIGINT) AS sd
       |    FROM s2)
       |  WHERE nw >= 20 AND nw <= 100000
       |    AND mean_wlen BETWEEN 3.0 AND 10.0 AND sym_ratio <= 0.1
       |    AND alpha_frac >= 0.8 AND sd >= 2
       |), g2 AS (
       |  SELECT g.doc_id, g.main, (dx.lang = 'en') AS y,
       |    substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 1)
       |      IN ('0','1','2','3') AS tr,
       |    string_split_regex(lower(trim(g.main)), '\\s+') AS ws
       |  FROM g JOIN documents dx ON g.doc_id = dx.doc_id
       |  WHERE dx.lang IS NOT NULL
       |), ntok AS (
       |  SELECT doc_id, y, tr, unnest(ws) AS term FROM g2
       |), ncnt AS (
       |  SELECT term,
       |    CAST(count(*) FILTER (WHERE tr AND y) AS BIGINT) AS c1,
       |    CAST(count(*) FILTER (WHERE tr AND NOT y) AS BIGINT) AS c0
       |  FROM ntok GROUP BY term
       |  HAVING count(*) FILTER (WHERE tr AND y) +
       |    count(*) FILTER (WHERE tr AND NOT y) > 0
       |), nnv AS (
       |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
       |    CAST(sum(c0) AS BIGINT) AS n0,
       |    CAST(count(*) AS BIGINT) AS v FROM ncnt
       |), nds AS (
       |  SELECT CAST(count(*) FILTER (WHERE y) AS BIGINT) AS d1,
       |    CAST(count(*) FILTER (WHERE NOT y) AS BIGINT) AS d0
       |  FROM g2 WHERE tr
       |), nw2 AS (
       |  SELECT term,
       |    ln((CAST(c1 AS DOUBLE) + 1.0) / CAST(n1 + v AS DOUBLE)) -
       |    ln((CAST(c0 AS DOUBLE) + 1.0) / CAST(n0 + v AS DOUBLE)) AS tw
       |  FROM ncnt CROSS JOIN nnv
       |), nfl AS (
       |  SELECT ln(1.0 / CAST(n1 + v AS DOUBLE)) -
       |    ln(1.0 / CAST(n0 + v AS DOUBLE)) AS fl0 FROM nnv
       |), nsc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS ntk,
       |    CAST(count(nw2.tw) AS BIGINT) AS m, sum(nw2.tw) AS sw
       |  FROM ntok LEFT JOIN nw2 USING (term) GROUP BY doc_id
       |), mk AS (
       |  SELECT doc_id, log_odds FROM (
       |    SELECT doc_id,
       |      round(ln(CAST(d1 AS DOUBLE) / CAST(d0 AS DOUBLE)) +
       |        (coalesce(sw, 0.0) + CAST(ntk - m AS DOUBLE) * fl0), 4)
       |        AS log_odds
       |    FROM nsc CROSS JOIN nfl CROSS JOIN nds)
       |  WHERE log_odds > 0
       |), dd AS (
       |  SELECT g2.doc_id, g2.main, md5(g2.main) AS mh, mk.log_odds
       |  FROM g2 JOIN mk USING (doc_id)
       |), kp AS (
       |  SELECT mh, min(doc_id) AS doc_id FROM dd GROUP BY mh
       |), u AS (
       |  SELECT dd.doc_id, dd.mh, dd.main, dd.log_odds
       |  FROM dd JOIN kp USING (mh, doc_id)
       |), tt AS (
       |  SELECT doc_id, mh, log_odds,
       |    CAST(CASE WHEN length(trim(main)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(main), '\\s+')) END AS BIGINT) AS n,
       |    md5(CAST(doc_id AS VARCHAR)) AS ord
       |  FROM u
       |), cc AS (
       |  SELECT doc_id, mh, log_odds, n,
       |    CAST(COALESCE(sum(n) OVER (ORDER BY ord NULLS FIRST
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM tt
       |)
       |SELECT doc_id, n AS n_tokens, off AS start_off,
       |  CAST(off // 2048 AS BIGINT) AS bin_start,
       |  CAST((off + greatest(n, 1) - 1) // 2048 AS BIGINT) AS bin_end,
       |  mh AS main_md5, log_odds
       |FROM cc ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of gopherQualityFilter's distinct-stopword count:
    * Σ (padded lower text contains ' w ') over [[TextAnalysis
    * .gopherStopwords]] — generated from the SAME list. */
  private def gopherStopSql: String =
    TextAnalysis.gopherStopwords
      .map(w => s"CASE WHEN position(' $w ' IN pt) > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
}
