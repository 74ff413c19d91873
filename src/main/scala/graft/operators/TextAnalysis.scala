package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * langId / quality / token counts are plain integer+string
  * arithmetic (length/replace/regexp), so each has an exact DuckDB
  * oracle. Fingerprinting (winnowing) uses xxhash64 rolling k-gram
  * hashes — engine-specific, so it is spec-verified instead.
  */
object TextAnalysis {

  /** Occurrences of `marker` in text, via length arithmetic (exactly
    * mirrorable in ANSI SQL: (len(t) - len(replace(t, m, ''))) / len(m)). */
  def occurrences(text: Column, marker: String): Column =
    ((length(text) - length(replace(text, lit(marker), lit("")))) /
      marker.length).cast("int")

  /** Per-language marker-word lists (the n-gram-frequency heuristic
    * structure; markers chosen from the corpus vocabulary so scores
    * are non-degenerate on the synthetic testdata). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " fast "),
    "es" -> Seq(" data ", " row ", " value "),
    "de" -> Seq(" merge ", " sort ", " batch "),
    "fr" -> Seq(" join ", " filter ", " group "),
    "zh" -> Seq(" spark ", " hash ", " stream "))

  /** Language-ID: argmax over per-language marker-occurrence scores,
    * ties broken by language-list order. Adds score_<lang> columns and
    * `lang_pred` to `df`.
    *
    * All markers are counted by ONE MarkerCounts pass, materialized as
    * a column so the ~16 downstream references read an attribute
    * instead of re-running the scan (non-codegen expressions are
    * re-evaluated per reference otherwise).
    */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val flat = langMarkers.flatMap(_._2)
    val counted = df.withColumn("__graft_mc",
      graft.functions.SketchFunctions.markerCounts(col(textCol), flat))
    // per-language score = sum of its markers' slots (1-based index)
    var idx = 0
    val scores = langMarkers.map { case (lang, ms) =>
      val cols = ms.map { _ =>
        idx += 1; element_at(col("__graft_mc"), idx)
      }
      lang -> cols.reduce(_ + _)
    }
    // argmax with first-wins tie-break: a CASE that tests languages in
    // declaration order against the max score
    val maxScore = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === maxScore, lit(l)).otherwise(acc)
    }
    counted
      .select(Seq(col("*")) ++
        scores.map { case (l, c) => c.as(s"score_$l") } :+
        pred.as("lang_pred"): _*)
      .drop("__graft_mc")
  }

  /** struct(n_words, non_space, stop_n) in ONE native pass —
    * bit-compatible with the SQL-arithmetic forms the oracles use
    * (see [[graft.functions.TextStats]]). Materialize it as a column
    * (withColumn) when several downstream expressions read it, so the
    * pass runs once per row instead of once per reference. */
  def textStats(text: Column): Column =
    graft.functions.SketchFunctions.textStats(text)

  /** Whitespace token count (one native pass; equals
    * size(split(trim(text), "\\s+")) with the empty-text guard). */
  def wsTokenCount(text: Column): Column =
    textStats(text).getField("n_words")

  /** BPE-ish token count: runs of letters, runs of digits, and single
    * other non-space chars each count as one token. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** The token-count flag: `real = true` switches from the regex
    * approximation above to the REAL byte-level BPE kernel
    * ([[graft.functions.BpeTokenizer]], d51 oracle-checked). The
    * default stays the regex form the d10 oracle pins; count
    * consumers (sequencePack, budgetSelect, tokenChunks' caller)
    * re-base by taking this with `real = true` as their tokens
    * column. */
  def bpeTokenCount(text: Column, real: Boolean): Column =
    if (real) graft.functions.BpeTokenizer.bpeTokenCount(text)
    else bpeTokenCount(text)

  /** Quality score in [0,1] from a materialized [[textStats]] struct:
    * blends normalized length, mean word length, and stopword
    * presence. Deterministic double arithmetic, mirrored in the d9
    * oracle. */
  def qualityFromStats(ts: Column): Column = {
    val nw = ts.getField("n_words").cast("double")
    val meanWordLen = when(nw > 0, ts.getField("non_space").cast("double") / nw)
      .otherwise(0.0)
    val stop = ts.getField("stop_n").cast("double")
    val lenScore = least(nw / 100.0, lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 8.0), 1.0).otherwise(0.5)
    val stopScore = least(stop / 5.0, lit(1.0))
    round(lenScore * 0.4 + wordLenScore * 0.4 + stopScore * 0.2, 4)
  }

  /** Quality score directly from text — prefer [[qualityFromStats]]
    * over a materialized stats column on hot paths. */
  def qualityScore(text: Column): Column = qualityFromStats(textStats(text))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): xxhash64
    * over char k-grams, minimum per sliding window of w, distinct
    * ascending. Adds an array<long> column `out`. Backed by the
    * native Winnow expression — one O(n·w) pass per document (the
    * HOF formulation was interpreted and quadratic). */
  def withFingerprints(df: DataFrame, textCol: String, out: String = "fp",
      k: Int = 8, w: Int = 4): DataFrame =
    df.withColumn(out, graft.functions.SketchFunctions.winnow(col(textCol), k, w))

  /** Unigram language-model quality scoring: each document's mean
    * log-probability under the corpus's own unigram distribution —
    * the (unigram reduction of the) KenLM-style likelihood filter LLM
    * pipelines use to drop gibberish and boilerplate outliers. Low
    * `avg_logp` = tokens the corpus rarely uses = quality outlier.
    *
    * Scale shape: ONE explicit token-keyed exchange
    * (`repartition(t)`) below BOTH the frequency aggregate and the
    * scoring rows, so ReuseExchange materializes the scan+explode
    * pipeline once (a naive frequency join-back was measured to
    * evaluate it three times — column pruning made the branches'
    * implicit-exchange subtrees differ; the explicit shuffle is the
    * [[Dedup]] banding pattern that pins them identical). Counts are
    * a streaming hash AGGREGATE on that partitioning, married back
    * by an exchange-free SHUFFLE_HASH join (build = distinct-token
    * frequencies, stream = instances) — NOT `count OVER (PARTITION
    * BY t)`: a window must sort its task and buffer each key's whole
    * row group, partial aggregation never applies, and AQE cannot
    * skew-split a Window node, so a zipfian head token ("the" at
    * ~5 % of a 100 TB corpus) would sort-buffer its entire row set
    * in one spilling task. The agg + probe form streams it twice,
    * linearly, with O(distinct-tokens) task memory (AQE's skew-split
    * fires on neither form — see [[Dedup]]'s gram machinery note —
    * the win is the streaming shape itself).
    * The corpus total comes from a separate NARROW scan (sum
    * of per-doc token counts — no explode) and joins as a broadcast
    * 1-row cross join, never a driver scalar. Float note: avg-of-ln
    * is rounded to 4 decimals on both engines (§6's
    * accumulation-order rule).
    *
    * Returns (doc_id, n_tokens, avg_logp).
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val tok = live.select(col(idCol).as("doc_id"),
      explode(Dedup.tokens(col(textCol))).as("t"))
    val keyed = tok.repartition(col("t"))
    // count(doc_id), not count(1): ids are non-null here so the value
    // is identical, but the reference keeps the frequency subtree's
    // column set equal to the scoring subtree's — count(1) lets
    // column pruning drop doc_id below the explicit repartition, the
    // Exchange subtrees stop matching, and ReuseExchange dies (the
    // scan+explode pipeline then runs twice)
    val freq = keyed.groupBy(col("t")).agg(count(col("doc_id")).as("c"))
    val withC = keyed.join(freq.hint("SHUFFLE_HASH"), Seq("t"))
    // same tokens() semantics as the explode (an empty doc tokenizes
    // to [""], size 1), so the total matches the exploded row count
    val total = live
      .agg(sum(size(Dedup.tokens(col(textCol)))).cast("double").as("tot"))
    withC.crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("c").cast("double") / col("tot"))), 4).as("avg_logp"))
  }

  /** Bigram language-model quality scoring — the n=2 step from
    * [[unigramLogProb]] toward the KenLM-style likelihood filter:
    * each document's mean ln P(t_i | t_{i-1}) under the corpus's own
    * conditional bigram distribution, P(b|a) = c2(a,b) / c1(a) with
    * c1(a) = Σ_b c2(a,b) (left-context occurrences, so probabilities
    * per context sum to 1). Low `avg_logp2` = word SEQUENCES the
    * corpus rarely uses — catches shuffled/garbled text that unigram
    * scoring cannot (same words, wrong order).
    *
    * Scale shape (the d33 discipline, applied twice):
    *   - ONE bigram explode; ONE explicit (a, b) exchange under both
    *     the c2 aggregate and the scoring stream (ReuseExchange keeps
    *     the scan+explode single-pass); c2 married back by an
    *     exchange-free SHUFFLE_HASH probe. Never `count OVER
    *     (PARTITION BY a, b)` — a zipfian head bigram ("of the")
    *     would sort-buffer its entire row set in one task.
    *   - c1 comes from aggregating the DISTINCT-BIGRAM table c2 (one
    *     row per distinct pair), never the corpus stream: the (a)
    *     exchange + join-back touch |distinct bigrams| rows, orders
    *     of magnitude below the stream at corpus scale.
    * Docs with fewer than two tokens hold no bigram and are absent —
    * a conditional-likelihood score of an empty sequence is
    * undefined, not zero. Returns (doc_id, n_bigrams, avg_logp2),
    * avg rounded to 4 decimals on both engines (§6 rule).
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val bg = live
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> struct(tk[i-1] AS a, tk[i] AS b))")).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
      // split() never yields null elements, so this filter drops
      // nothing — but making it explicit BELOW the shared repartition
      // keeps the two join branches' pushed IsNotNull constraints
      // no-ops, so their Exchange subtrees stay canonically equal and
      // ReuseExchange holds (the d33 count(doc_id) discipline, one
      // asymmetry further: the c1 join pushes isnotnull(a) alone)
      .filter(col("a").isNotNull && col("b").isNotNull)
    val keyed = bg.repartition(col("a"), col("b"))
    // count(doc_id), not count(1) — keeps the frequency subtree's
    // column set equal to the scoring subtree's so ReuseExchange
    // holds (see unigramLogProb's note)
    val freq2 = keyed.groupBy(col("a"), col("b"))
      .agg(count(col("doc_id")).as("c2"))
    val f2keyed = freq2.repartition(col("a"))
    val ctx = f2keyed.groupBy(col("a")).agg(sum(col("c2")).as("c1"))
    val scored = f2keyed.join(ctx.hint("SHUFFLE_HASH"), Seq("a"))
    keyed.join(scored.hint("SHUFFLE_HASH"), Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c2").cast("double") / col("c1").cast("double"))), 4)
          .as("avg_logp2"))
  }

  /** Trigram language-model scoring with STUPID BACKOFF (Brants et
    * al. 2007, "Large Language Models in Machine Translation" — the
    * web-scale backoff that skips Katz's discount bookkeeping
    * because at corpus scale the unnormalized score ranks just as
    * well): each document's mean ln S(c | a, b) where
    *
    *   S(c|a,b) = c3(abc) / c2ctx(ab)                if c3 > 0
    *            = α · c2(bc) / c1ctx(b)              elif c2 > 0
    *            = α² · (c1(c) + 1) / (N + V)         otherwise
    *
    * with α = 0.4 (the paper's constant) and an add-one unigram
    * floor so a token never seen in training still scores finite.
    * The LM trains on the `trainFilter` slice of the corpus (pass
    * the d60 md5-quarter for the engine-reproducible form) and
    * scores EVERY document — the production shape (train on a
    * reference slice, score candidates), and the only shape where
    * backoff ever fires: scored-corpus-only counts make every
    * trigram its own evidence.
    *
    * All counts are TRIGRAM-STREAM-DERIVED (each doc's positions
    * 3..n): c2ctx(ab) = Σ_c c3(abc) — the context mass, so
    * probabilities per context sum to 1 — and the backoff tables
    * c2(bc) = Σ_a c3(abc), c1ctx(b) = Σ_c c2(bc), c1(c) = Σ_b
    * c2(bc), N = Σ c3, V = |distinct c|. Deriving them from the
    * distinct-trigram table instead of re-exploding lower orders is
    * the d53 "c1 from c2" discipline taken to depth 3: every
    * derived table is |distinct| sized, never stream sized.
    *
    * Scale shape (the d53 discipline): ONE explode, ONE explicit
    * (a, b, c) exchange under BOTH the count aggregate (train
    * counts via a conditional count that re-evaluates `trainFilter`
    * from the id riding the same rows) and the scoring stream
    * (ReuseExchange keeps the scan+explode single-pass); the
    * backoff tables join onto the DISTINCT table (left, each
    * |distinct|-sized), N+V broadcast as one row, and the finished
    * per-trigram score marries the stream back by an exchange-free
    * SHUFFLE_HASH probe. Never a window; a zipfian head trigram
    * concentrates only its count, not its rows.
    *
    * Docs with fewer than three tokens hold no trigram and are
    * absent (the d53 convention). Returns (doc_id, n_trigrams,
    * avg_logp3), avg rounded to 4 decimals on both engines (§6
    * rule). */
  def trigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      trainFilter: Column): DataFrame = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val tg = live
      .select(col(idCol), Dedup.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(tk) - 1), " +
          "i -> struct(tk[i-2] AS a, tk[i-1] AS b, tk[i] AS c))")).as("tg"))
      .select(col(idCol), col("tg.a").as("a"),
        col("tg.b").as("b"), col("tg.c").as("c"))
      // explicit so the join-back's pushed IsNotNull constraints are
      // no-ops and both exchange subtrees stay canonically equal —
      // the d53 ReuseExchange discipline
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("c").isNotNull)
    val keyed = tg.repartition(col("a"), col("b"), col("c"))
    // trainFilter re-evaluates INSIDE the conditional count (so it
    // must be a deterministic predicate over idCol alone — slices
    // are id-keyed by design): materializing it as a column would
    // give the aggregate branch a projection the scoring stream
    // lacks, and ReuseExchange only unifies canonically EQUAL
    // subtrees — the flag's per-trigram evaluation is the price of
    // the single explode. count(when(filter, id)): id is non-null
    // by the live filter, so this counts exactly the train rows.
    val dist = keyed.groupBy(col("a"), col("b"), col("c"))
      .agg(count(when(trainFilter, col(idCol))).as("c3"))
    val tr3 = dist.filter(col("c3") > 0)
    val c2ctx = tr3.groupBy(col("a"), col("b"))
      .agg(sum(col("c3")).as("c2ctx"))
    val c2bc = tr3.groupBy(col("b"), col("c"))
      .agg(sum(col("c3")).as("c2bc"))
    val c1ctx = c2bc.groupBy(col("b")).agg(sum(col("c2bc")).as("c1ctx"))
    val c1c = c2bc.groupBy(col("c")).agg(sum(col("c2bc")).as("c1c"))
    val nv = tr3.agg(sum(col("c3")).as("n_train"),
      count_distinct(col("c")).as("v_train"))
    val scoredDist = dist
      .join(c2ctx.hint("SHUFFLE_HASH"), Seq("a", "b"), "left")
      .join(c2bc.hint("SHUFFLE_HASH"), Seq("b", "c"), "left")
      .join(c1ctx.hint("SHUFFLE_HASH"), Seq("b"), "left")
      .join(c1c.hint("SHUFFLE_HASH"), Seq("c"), "left")
      .crossJoin(broadcast(nv))
      .select(col("a"), col("b"), col("c"),
        log(
          when(col("c3") > 0,
            col("c3").cast("double") / col("c2ctx").cast("double"))
            .when(col("c2bc").isNotNull,
              lit(0.4) * (col("c2bc").cast("double") /
                col("c1ctx").cast("double")))
            .otherwise(lit(0.4) * lit(0.4) *
              ((coalesce(col("c1c"), lit(0L)).cast("double") + lit(1.0)) /
                (col("n_train").cast("double") +
                  col("v_train").cast("double")))))
          .as("__logs"))
    keyed
      .join(scoredDist.hint("SHUFFLE_HASH"), Seq("a", "b", "c"))
      .groupBy(col(idCol).as("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(col("__logs")), 4).as("avg_logp3"))
  }

  /** HTML main-content extraction — see
    * [[graft.functions.HtmlKernels]] for the exact five-step
    * contract (script/style/comment removal, block-tag split,
    * per-block link density, jusText-style keep rule). Returns a
    * struct(main_text, n_blocks, n_kept, text_chars, link_chars)
    * column; a pure codegen'd scan projection, zero shuffles.
    *
    * Tag matching is LOWERCASE-ASCII by contract: `<SCRIPT>`,
    * `<Style>`, `<P>` etc. are NOT recognized — real-web markup
    * (where uppercase tags are common) must be lowercased first,
    * e.g. `htmlMainContent(lower(html))` when the payload carries no
    * case-sensitive visible text, or pre-normalized upstream. The
    * kernel and its DuckDB oracle share this contract verbatim, so
    * loosening it means changing BOTH. */
  def htmlMainContent(html: Column, minLen: Int = 10,
      maxLinkPct: Int = 20): Column =
    graft.functions.HtmlFunctions.htmlMainContent(html, minLen, maxLinkPct)

  /** DataFrame form of [[htmlMainContent]]: (idCol, main_text,
    * n_blocks, n_kept, text_chars, link_chars), one row per non-null
    * input row. */
  def extractMainHtml(df: DataFrame, idCol: String, htmlCol: String,
      minLen: Int = 10, maxLinkPct: Int = 20): DataFrame = {
    val h = htmlMainContent(col(htmlCol), minLen, maxLinkPct)
    df.filter(col(idCol).isNotNull && col(htmlCol).isNotNull)
      .withColumn("__graft_html", h)
      .select(col(idCol), col("__graft_html.main_text").as("main_text"),
        col("__graft_html.n_blocks").as("n_blocks"),
        col("__graft_html.n_kept").as("n_kept"),
        col("__graft_html.text_chars").as("text_chars"),
        col("__graft_html.link_chars").as("link_chars"))
  }

  /** Gram sizes for [[repetitionStats]]: 1-grams carry the
    * denominators, 2/3-grams the top-gram mass, 5-grams the
    * duplicated-gram mass. */
  val repetitionNs: Seq[Int] = Seq(1, 2, 3, 5)

  /** Gopher-style repetition statistics (Rae et al. 2112.11446,
    * Table A1): per document, the fraction of its token characters
    * accounted for by (a) the single heaviest word 2-gram, (b) the
    * heaviest 3-gram, and (c) ALL word 5-grams occurring more than
    * once — the filters that catch boilerplate loops and
    * keyword-stuffed spam that per-token quality scores miss.
    *
    * Exact contract (engine-shared with the d55 oracle):
    * tokens = split(lower(trim(text)), \s+); an n-gram's char mass
    * is count · (length(space-joined gram) − (n−1)) — its token
    * chars, separators excluded; denominator = total token chars
    * (the n=1 mass). top{2,3}_frac = max gram mass / denominator —
    * the max is over MASS, not count, so no tie-break on the gram
    * string is ever needed; dup5_frac = Σ mass over 5-grams with
    * count ≥ 2, / denominator. Docs shorter than n words have no
    * n-gram → frac 0. All fracs rounded to 4 decimals (§6 rule).
    *
    * NOT a ≤1 "fraction of characters covered": gram occurrences
    * OVERLAP, so the mass ratios are unbounded (a doc that is one
    * word repeated N times has top2_frac → 2). Gopher's published
    * thresholds (e.g. 0.20 for the top 2-gram) assume the covered-
    * character definition and are NOT directly transferable —
    * calibrate any threshold against THIS statistic before gating
    * on it. The overlapping form is kept
    * deliberately: it needs no per-doc position bookkeeping, so the
    * whole statistic stays in two doc-keyed hash aggregates.
    *
    * Scale shape — r15 revision: repetition is a PER-DOCUMENT
    * statistic, and the original corpus-wide (doc_id, n, gram)
    * aggregate paid a corpus-sized exchange of raw gram STRINGS to
    * compute it — the fork-probe measured that form superlinear at
    * 10× data (1.3 → 20 s; the partial-aggregate map overflows on
    * ~one-group-per-row gram keys and the exchange degrades to
    * shipping the gram stream, with spill-grant timing making the
    * readings bimodal besides). Now ONE native kernel pass per
    * document ([[graft.functions.SketchKernels.repetitionStats]]:
    * local hash maps bounded by the document's own gram count)
    * inside a scan projection — ZERO exchanges, zero Generates,
    * whole-stage codegen. The masses are bit-identical to the
    * aggregate formulation (same joined-gram identity, same char
    * arithmetic), so the d26 oracle — which recounts gram strings
    * in SQL — pins the kernel end to end at every gate SF.
    *
    * Returns (doc_id, n_words, top2_frac, top3_frac, dup5_frac).
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    def frac(num: Column, denom: Column): Column =
      round(when(denom > 0, num.cast("double") / denom.cast("double"))
        .otherwise(0.0), 4)
    live
      .select(col(idCol).as("doc_id"),
        graft.functions.SketchFunctions
          .repetitionStats(Dedup.tokens(col(textCol))).as("__rs"))
      .select(col("doc_id"),
        col("__rs.n_words").as("n_words"),
        frac(col("__rs.top2"), col("__rs.denom")).as("top2_frac"),
        frac(col("__rs.top3"), col("__rs.denom")).as("top3_frac"),
        frac(col("__rs.dup5"), col("__rs.denom")).as("dup5_frac"))
  }

  /** Stopword list for [[gopherQualityFilter]]'s rule 5, drawn from
    * the synthetic corpus vocabulary so the rule is non-degenerate
    * on the testdata (Gopher's own list is {the, be, to, of, and,
    * that, have, with}). */
  val gopherStopwords: Seq[String] = Seq("the", "a", "data", "value", "table")

  /** Gopher-style document quality rules (Rae et al. 2112.11446,
    * §A1.1 "quality filtering"): the pre-training keep/drop gate
    * computed from cheap surface statistics. Violated rules are
    * reported as a bitmask so the policy layer can distinguish "too
    * short" from "symbol spam" (a pipeline usually routes them
    * differently); `keep` = no rule violated.
    *
    *   bit 0 — word count outside [minWords, maxWords]
    *   bit 1 — mean word length outside [3, 10] chars
    *   bit 2 — symbol-to-word ratio > 0.1 ('#' or '...' occurrences)
    *   bit 3 — fraction of tokens containing a letter < 0.8
    *   bit 4 — fewer than 2 distinct stopwords present
    *
    * Exact contract (engine-shared with the d56 oracle): tokens =
    * split(lower(trim(text)), \s+); mean word length = non-space
    * chars / n_words; occurrences counted by length arithmetic
    * ([[occurrences]]); stopword presence = ' w ' contained in the
    * padded lowercased text. Ratios rounded to 4 decimals BEFORE
    * the threshold tests, so the keep decision itself is
    * reproducible across engines (§6 rule).
    *
    * Scale shape: single codegen'd scan projection — [[textStats]]
    * materialized once per row, zero shuffles, zero joins; the only
    * non-codegen piece is the letter-token ARRAY filter, still one
    * narrow per-row pass.
    *
    * Returns (doc_id, n_words, mean_wlen, sym_ratio, alpha_frac,
    * stop_distinct, rule_bits, keep).
    */
  /** The five gate metrics + bitmask over a materialized textStats
    * struct and the raw text — the single arithmetic source both
    * [[gopherQualityFilter]] and [[gopherRuleBits]] derive from. */
  private def gopherMetrics(ts: Column, text: Column, minWords: Int,
      maxWords: Int): (Column, Column, Column, Column, Column, Column) = {
    val nw = ts.getField("n_words")
    val nwD = nw.cast("double")
    val meanW = round(when(nw > 0,
      ts.getField("non_space").cast("double") / nwD)
      .otherwise(0.0), 4)
    val symN = occurrences(text, "#") + occurrences(text, "...")
    val symRatio = round(when(nw > 0, symN.cast("double") / nwD)
      .otherwise(0.0), 4)
    val alphaN = size(filter(Dedup.tokens(text),
      t => t.rlike("[A-Za-z]")))
    val alphaFrac = round(when(nw > 0, alphaN.cast("double") / nwD)
      .otherwise(0.0), 4)
    val padded = concat(lit(" "), lower(text), lit(" "))
    val stopDistinct = gopherStopwords.map { w =>
      when(padded.contains(s" $w "), 1).otherwise(0): Column
    }.reduce(_ + _)
    val bits: Column =
      (when(nw < minWords || nw > maxWords, 1).otherwise(0)
        + when(meanW < 3.0 || meanW > 10.0, 2).otherwise(0)
        + when(symRatio > 0.1, 4).otherwise(0)
        + when(alphaFrac < 0.8, 8).otherwise(0)
        + when(stopDistinct < 2, 16).otherwise(0))
    (nw, meanW, symRatio, alphaFrac, stopDistinct, bits)
  }

  /** The rule bitmask as ONE Column over raw text — the gate inline,
    * for streaming filters and composed pipelines (`=== 0` is the
    * keep predicate). A stateless scan projection, so it applies
    * directly to a STREAMING DataFrame ahead of a dedup screen —
    * cheap filters first, the production order — where the
    * DataFrame form would force a stream-stream self-join to marry
    * its verdict back to the text. Prefer [[gopherQualityFilter]]
    * in batch when you also want the metrics. */
  def gopherRuleBits(text: Column, minWords: Int = 50,
      maxWords: Int = 100000): Column =
    gopherMetrics(textStats(text), text, minWords, maxWords)._6

  def gopherQualityFilter(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .withColumn("__ts", textStats(col(textCol)))
    val (nw, meanW, symRatio, alphaFrac, stopDistinct, bits) =
      gopherMetrics(col("__ts"), col(textCol), minWords, maxWords)
    live.select(col(idCol), nw.cast("long").as("n_words"),
        meanW.as("mean_wlen"), symRatio.as("sym_ratio"),
        alphaFrac.as("alpha_frac"),
        stopDistinct.cast("long").as("stop_distinct"),
        bits.cast("long").as("rule_bits"),
        (bits === 0).as("keep"))
  }

  /** Byte-level BPE tokenizer TRAINING — vocabulary induction from
    * the corpus itself (the production half of
    * [[graft.functions.BpeTokenizer]], which APPLIES a fixed merge
    * table; a real pipeline trains that table on its own data
    * first). Classic BPE: `numMerges` iterations of "count adjacent
    * token pairs corpus-wide, merge the most frequent pair
    * everywhere", stopping early when the best pair falls below
    * `minCount`. Ties break (count desc, a asc, b asc) on the
    * lowercase byte-hex token spellings, so the learned table is
    * fully deterministic.
    *
    * State lives in the d51 CANONICAL form — each doc is a string of
    * per-token "|hex|" cells — so one literal `replace('|a||b|',
    * '|ab|')` per iteration IS the corpus-wide merge pass (the exact
    * property the d51 oracle is built on, now reused for training),
    * and the d60 oracle can re-derive every round: pair counts,
    * argmax, the conditional merge, and a per-round corpus digest
    * (bit_xor of per-doc md5-hash60 of the canonical state — order-
    * independent, overflow-free) that pins the entire state after
    * each learned merge.
    *
    * Scale shape, per iteration: ONE (a, b)-keyed count aggregate
    * (map-side partials mean only DISTINCT pairs — bounded by
    * vocab², in practice far smaller — cross the wire), a driver
    * pull of exactly ONE argmax row, a map-only replace, and the
    * digest aggregate; the evolving state is pinned per round
    * (localCheckpoint, or reliable checkpoints with
    * `reliable = true` — the [[Dedup.components]] contract) so round
    * N+1's lineage starts from materialized data, not N stacked
    * replaces. M merges = M corpus passes — the textbook cost;
    * industrial trainers cut it by subsampling (compose with
    * [[Sampling]]'s hash sample upstream) or by incremental
    * pair-delta maintenance, disclosed as future work.
    *
    * Returns one row per LEARNED merge: (rank 1.., a, b, cnt,
    * state_xor) — a/b lowercase byte-hex spellings, cnt the
    * corpus-wide pair count that won the round, state_xor the
    * corpus digest after applying the merge. */
  /** Token-budget TRAINING SLICE for [[trainBpe]] (and any other
    * corpus-sample trainer): turns "we can afford to train on B
    * tokens" into a document subset, instead of a fixed corpus
    * fraction (the d60 md5-quarter). The corpus is laid out in a
    * deterministic md5-hash order — an unbiased corpus shuffle, no
    * topical/temporal skew from the storage order — and the longest
    * PREFIX whose whitespace-token total fits the budget is kept:
    * [[Packing.budgetSelect]]'s two-phase prefix-sum arithmetic
    * verbatim (range layout + per-partition totals + broadcast
    * bases, never a global window), with [[Dedup.md5Hash60]] of the
    * id as the priority.
    *
    * Monotone and stable: slice(b1) ⊆ slice(b2) whenever b1 <= b2,
    * and any budget >= the corpus total returns the full corpus —
    * raising the budget only ADDS training documents, it never
    * reshuffles the ones already selected, so two budgets landing on
    * the same prefix train IDENTICAL merge tables (the BpeSpec pin).
    * At a real 100 TB corpus this is the knob that replaces a
    * hard-coded slice fraction: the budget is set by trainer
    * economics, and the prefix-cut stays auditable (everything above
    * the hash line is in). Returns the surviving docs rows,
    * columns intact. */
  def bpeTrainingSlice(docs: DataFrame, idCol: String, textCol: String,
      tokenBudget: Long, reliable: Boolean = false): DataFrame = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val kept = Packing.budgetSelect(live, idCol,
      tokens = wsTokenCount(col(textCol)).cast("long"),
      priority = Dedup.md5Hash60(col(idCol).cast("string")),
      budget = tokenBudget, reliable = reliable)
    // The slice is <= tokenBudget tokens BY CONTRACT, so its
    // partition count should follow the budget, not the parent
    // corpus's layout: an iterative trainer (M rounds × several jobs
    // each) over a 20k-token slice spread across hundreds of parent
    // partitions pays per-task scheduling, not compute. ~2M tokens
    // per partition keeps tasks meaty; coalesce is narrow (no
    // shuffle) and the slice CONTENT is partition-independent.
    val parts = math.max(1L, math.min(tokenBudget / 2000000L, 10000L)).toInt
    live.join(kept.select(col(idCol)).hint("SHUFFLE_HASH"), Seq(idCol),
      "left_semi")
      .coalesce(parts)
  }

  def trainBpe(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int, minCount: Long = 2L,
      reliable: Boolean = false): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    def pin(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    var state = pin(docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        regexp_replace(lower(hex(col(textCol).cast("binary"))),
          "([0-9a-f]{2})", "|$1|").as("ts")))
    def bestPair(st: DataFrame): Array[org.apache.spark.sql.Row] = st
      .select(split(regexp_replace(col("ts"), "^\\||\\|$", ""), "\\|\\|")
        .as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> struct(tk[i-1] AS a, tk[i] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("a"), col("b"))
      .limit(1).collect()
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long)]
    var rank = 1
    var done = false
    // a round was three SERIAL driver actions (winning-pair collect →
    // pin of the merged state → digest agg); the digest and the NEXT
    // round's pair count both read the same freshly-pinned state, so
    // they overlap (guide §2.6) — two action latencies per round
    // instead of three, identical per-round arithmetic and the same
    // early-stop rule (the overlapped next-pair result is inspected
    // at the top of the next iteration exactly as before)
    var best = bestPair(state)
    while (rank <= numMerges && !done) {
      if (best.isEmpty || best.head.getAs[Long]("c") < minCount) done = true
      else {
        val (a, b, c) = (best.head.getAs[String]("a"),
          best.head.getAs[String]("b"), best.head.getAs[Long]("c"))
        state = pin(state.select(col("doc_id"),
          replace(col("ts"), lit(s"|$a||$b|"), lit(s"|$a$b|")).as("ts")))
        val st = state
        var digest = 0L
        var nextBest: Array[org.apache.spark.sql.Row] = Array.empty
        graft.Par.run(
          () => digest = st
            .agg(expr("bit_xor(" +
              s"cast(conv(substring(md5(ts), 1, 15), 16, 10) as bigint))"))
            .head().getLong(0),
          () => if (rank < numMerges) nextBest = bestPair(st))
        learned += ((rank, a, b, c, digest))
        best = nextBest
        rank += 1
      }
    }
    import spark.implicits._
    learned.toSeq.toDF("rank", "a", "b", "cnt", "state_xor")
      .select(col("rank").cast("long").as("rank"), col("a"), col("b"),
        col("cnt"), col("state_xor"))
  }

  /** Oracle twin of [[withFingerprints]]: the IDENTICAL window-min
    * selection kernel (WinnowSelect) driven by engine-reproducible
    * md5 char k-gram hashes ([[Dedup.md5Hash60]]) instead of the
    * XXH64 byte-grams, so DuckDB can recompute every fingerprint
    * from raw text (substr + md5 + a window-min) and hash-match the
    * selection machinery. Gram hashes are built codegen'd (explode →
    * md5 → re-assemble by position), not as an interpreted per-window
    * HOF. Returns one (doc_id, fp) row per distinct fingerprint. */
  def md5Fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    val lt = lower(col(textCol))
    val grams = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), lt.as("lt"),
        explode(sequence(lit(1), greatest(length(lt) - (k - 1), lit(1))))
          .as("pos"))
      .select(col("doc_id"), col("pos"),
        Dedup.md5Hash60(col("lt").substr(col("pos"), lit(k))).as("h"))
    grams.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("h")))).as("ph"))
      .select(col("doc_id"),
        explode(graft.functions.SketchFunctions.winnowSelect(
          transform(col("ph"), p => p.getField("h")), w)).as("fp"))
  }

  /** PII patterns for [[redactPii]], applied in order. Each is
    * restricted to the regex subset whose match semantics are
    * identical under Java regex (Spark) and RE2 (DuckDB, Go/Rust
    * engines): character classes, bounded/unbounded counted repeats
    * and ASCII `\b` — no backrefs, no lookaround, so leftmost-first
    * and leftmost-longest matching agree and the redaction is
    * engine-reproducible (oracle-checked byte for byte).
    *
    * Order matters and is part of the contract: emails first (their
    * local/domain parts contain digits and dots the later patterns
    * would tear up), then dotted-quad IPs (digit runs broken by dots
    * that the digit-run pattern alone would miss), then bare long
    * digit runs (phone/account/SSN-ish: 9+ consecutive digits). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    "[0-9]{9,}" -> "<NUM>")

  /** PII redaction — the scrub pass a training-data pipeline runs
    * before text reaches a model: replace emails, dotted-quad IPs
    * and long digit runs with typed placeholder tokens, and report
    * how many of each were found (the per-doc counts feed the
    * filter-vs-redact policy decision: a document that is MOSTLY
    * PII usually gets dropped, not scrubbed).
    *
    * Scale shape: a pure codegen'd scan projection — three
    * `regexp_replace` + three `regexp_extract_all` over one text
    * read, zero shuffles, composes with partition/column pruning
    * untouched. Regex cost is linear in text bytes (RE2-safe
    * patterns are also catastrophic-backtracking-free under Java's
    * engine: no nested unbounded repeats).
    *
    * Returns (idCol, clean_text, n_emails, n_ips, n_digit_runs):
    * each count is taken on the text with the EARLIER patterns
    * already redacted, so it reports what this pattern actually
    * redacted — a digit run living inside an email address counts
    * as (part of) that email, never additionally as a digit run
    * (counts on the original text would report phantom PII the
    * email pass had already neutralized, skewing the
    * filter-vs-redact policy the counts exist to feed).
    * Null-text rows are dropped. */
  def redactPii(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    val Seq((emailRe, emailTok), (ipRe, ipTok), (numRe, _)) = piiPatterns
    val afterEmail = regexp_replace(t, emailRe, emailTok)
    val afterIp = regexp_replace(afterEmail, ipRe, ipTok)
    val redacted = piiPatterns.foldLeft(t) {
      case (acc, (re, tok)) => regexp_replace(acc, re, tok)
    }
    df.filter(col(idCol).isNotNull && t.isNotNull)
      .select(col(idCol), redacted.as("clean_text"),
        size(regexp_extract_all(t, lit(emailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(afterEmail, lit(ipRe), lit(0)))
          .as("n_ips"),
        size(regexp_extract_all(afterIp, lit(numRe), lit(0)))
          .as("n_digit_runs"))
  }

  /** Multinomial Naive-Bayes document classifier, trained and applied
    * in one plan — the fastText-shaped quality/domain filter of the
    * GPT-3 / CCNet lineage (train a cheap linear classifier on a
    * labeled slice, score the whole corpus, gate on the sign), with
    * NB's count-based weights instead of SGD so every number is
    * integer-count arithmetic + ln and the WHOLE op — training and
    * scoring — is oracle-checked.
    *
    * Model, with add-one smoothing over the train vocabulary V:
    *
    *   w(t)      = ln((c1(t)+1)/(N1+|V|)) − ln((c0(t)+1)/(N0+|V|))
    *   log_odds  = ln(D1/D0) + Σ_{tokens} w(t)   (unseen t: c=0 both)
    *
    * where c_y(t) are token counts in train docs of class y, N_y
    * their totals, D_y the train doc counts. Positive log-odds ⇒
    * class 1.
    *
    * Scale shape (the d53/d65 discipline): ONE explode of the full
    * corpus, ONE explicit term-keyed exchange reused by BOTH the
    * train-count aggregate (conditional counts — `trainFilter` is
    * re-evaluated per row from the id, the label rides the stream)
    * and the scoring stream; the weight table is |train vocab|-sized
    * and joins back with an exchange-free SHUFFLE_HASH probe (left —
    * unseen tokens surface as unmatched rows and take the smoothed
    * floor per DOC, as (n_tokens − matched)·floor after the
    * aggregate, so no one-row broadcast ever rides the token
    * stream); N/V and D1/D0 are one-row broadcasts at the doc level.
    * Never a window. The scoring aggregate groups by (doc_id, y) —
    * y is functionally dependent on doc_id, so the result is
    * unchanged, but as a grouping key it survives column pruning and
    * keeps the two branches' exchange subtrees canonically equal for
    * ReuseExchange (the d53 count(doc_id) discipline).
    *
    * `trainFilter` must be a deterministic predicate over `idCol`
    * (it is re-evaluated inside the aggregate); `label` is any
    * non-null boolean row predicate. Both train classes must be
    * non-empty — an in-plan guard RAISES otherwise (a silent ±inf
    * prior would poison every score).
    *
    * Returns (doc_id, n_tokens, log_odds, pred): log_odds rounded to
    * 4 decimals (§6 rule), pred = rounded log_odds > 0 so the gate
    * decision itself is engine-reproducible. Null id/text/label rows
    * are dropped. */
  def nbLogOdds(docs: DataFrame, idCol: String, textCol: String,
      label: Column, trainFilter: Column): DataFrame = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull &&
      label.isNotNull)
    val keyed = live
      .select(col(idCol), label.as("y"),
        explode(Dedup.tokens(col(textCol))).as("term"))
      // split() never yields nulls — explicit so the join-back's
      // pushed IsNotNull is a no-op and the exchange subtrees stay
      // canonically equal (the d53 ReuseExchange discipline)
      .filter(col("term").isNotNull)
      .repartition(col("term"))
    val (weights, floor0, dstats) =
      nbTrainParts(keyed, live, idCol, label, trainFilter)
    // the unseen-token weight is one scalar — applied per DOC as
    // (n_tokens − matched)·floor AFTER the aggregate, so the one-row
    // broadcast never rides the token stream. `y` is a GROUPING key
    // (functionally dependent on doc_id) purely so column pruning
    // cannot strip it from the scoring branch and break ReuseExchange
    // with the count branch; the output projection drops it.
    val scored = keyed
      .join(weights.hint("SHUFFLE_HASH"), Seq("term"), "left")
      .groupBy(col(idCol).as("doc_id"), col("y"))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("__w")).as("__m"),
        sum(col("__w")).as("__sw"))
    scored.crossJoin(broadcast(floor0)).crossJoin(broadcast(dstats))
      .select(col("doc_id"), col("n_tokens"),
        round(nbPrior + (coalesce(col("__sw"), lit(0.0)) +
          (col("n_tokens") - col("__m")).cast("double") * col("__fl")),
          4).as("log_odds"))
      .withColumn("pred", col("log_odds") > 0)
  }

  /** The prior ln(D1/D0) with the fail-loud empty-class guard, over
    * (d1, d0) columns — shared by the inline and persisted-model
    * scoring paths so their arithmetic cannot drift. */
  private def nbPrior: Column =
    when(col("d1") > 0 && col("d0") > 0,
      log(col("d1").cast("double") / col("d0").cast("double")))
      .otherwise(raise_error(lit(
        "nbLogOdds: a train class is empty — prior undefined")))

  /** The training half of [[nbLogOdds]], shared verbatim with
    * [[trainNbModel]]: per-term conditional counts over the keyed
    * token stream (vocab = any train occurrence), the |vocab|-sized
    * add-one weight table, the one-row unseen floor and the one-row
    * train-doc class counts. trainFilter re-evaluates from the id
    * inside the count — see trigramLogProb on why it is not
    * materialized as a column. */
  private def nbTrainParts(keyed: DataFrame, live: DataFrame,
      idCol: String, label: Column, trainFilter: Column)
      : (DataFrame, DataFrame, DataFrame) = {
    val counts = keyed.groupBy(col("term"))
      .agg(count(when(trainFilter && col("y"), col(idCol))).as("c1"),
        count(when(trainFilter && !col("y"), col(idCol))).as("c0"))
      .filter(col("c1") + col("c0") > 0)
    val nv = counts.agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"),
      count(lit(1)).as("v"))
    val dstats = live.filter(trainFilter)
      .agg(count(when(label, col(idCol))).as("d1"),
        count(when(!label, col(idCol))).as("d0"))
    val weights = counts.crossJoin(broadcast(nv))
      .select(col("term"),
        (log((col("c1").cast("double") + 1.0) /
          (col("n1") + col("v")).cast("double")) -
          log((col("c0").cast("double") + 1.0) /
            (col("n0") + col("v")).cast("double"))).as("__w"))
    val floor0 = nv.select(
      (log(lit(1.0) / (col("n1") + col("v")).cast("double")) -
        log(lit(1.0) / (col("n0") + col("v")).cast("double")))
        .as("__fl"))
    (weights, floor0, dstats)
  }

  /** Trains the [[nbLogOdds]] model ONCE and persists it — the
    * classifier analog of the D35/D45 index-once pattern: at 100 TB
    * you do not re-count the training slice per scored batch (and a
    * STREAMING scorer cannot — a per-batch retrain would be a
    * stream-batch dependency cycle). Two warehouse tables:
    * `<name>_weights` (term, w — the |train vocab|-sized add-one
    * log-ratio table) and `<name>_meta` (one row: fl, d1, d0 — the
    * unseen floor and the prior's class counts, stored as the raw
    * LONGS so the scoring path recomputes ln(d1/d0) with the exact
    * arithmetic the inline path uses). [[openNbModel]] re-registers
    * both across a restart; [[scoreWithNbModel]] serves from them. */
  def trainNbModel(docs: DataFrame, idCol: String, textCol: String,
      label: Column, trainFilter: Column, name: String): Unit = {
    val live = docs.filter(col(idCol).isNotNull && col(textCol).isNotNull &&
      label.isNotNull)
    val keyed = live
      .select(col(idCol), label.as("y"),
        explode(Dedup.tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull)
      .repartition(col("term"))
    val (weights, floor0, dstats) =
      nbTrainParts(keyed, live, idCol, label, trainFilter)
    graft.sources.Bucketing.writeTable(
      weights.select(col("term"), col("__w").as("w")), s"${name}_weights")
    graft.sources.Bucketing.writeTable(
      floor0.crossJoin(dstats)
        .select(col("__fl").as("fl"), col("d1"), col("d0")),
      s"${name}_meta")
  }

  /** Re-registers a persisted NB model's tables in a fresh session
    * ([[graft.operators.IndexFamily.open]]'s contract). */
  def openNbModel(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    Seq(s"${name}_weights", s"${name}_meta").foreach { t =>
      require(graft.sources.Bucketing.registerExisting(spark, t, None),
        s"no persisted NB model named '$name' in the warehouse")
    }

  /** Scores documents against a persisted NB model — the fastText
    * serving shape: the |vocab|-sized weight table BROADCASTS onto
    * the exploded token stream (a pure map-side join — a scored
    * batch never shuffles its tokens; if a vocabulary ever outgrows
    * the broadcast threshold the join degrades to SHUFFLE_HASH, not
    * to a failure), the per-doc aggregate's map-side partial
    * collapses each document's tokens WITHIN its input partition
    * (a document's tokens are co-located by construction — they come
    * from one row), and floor/prior apply per doc from the one-row
    * meta broadcast. Composes with a streaming foreachBatch loop
    * unchanged — scoring is stateless given the model. Output and
    * arithmetic are IDENTICAL to [[nbLogOdds]] on the same corpus:
    * the d58 "index == direct" discipline, oracle-checkable with the
    * inline query's SQL verbatim. */
  def scoreWithNbModel(docs: DataFrame, idCol: String, textCol: String,
      name: String): DataFrame = {
    val spark = docs.sparkSession
    val weights = spark.table(s"${name}_weights")
      .select(col("term"), col("w").as("__w"))
    val meta = spark.table(s"${name}_meta")
    val toks = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("term"))
    toks
      .join(broadcast(weights), Seq("term"), "left")
      .groupBy(col(idCol).as("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("__w")).as("__m"),
        sum(col("__w")).as("__sw"))
      .crossJoin(broadcast(meta.select(col("fl").as("__fl"),
        col("d1"), col("d0"))))
      .select(col("doc_id"), col("n_tokens"),
        round(nbPrior + (coalesce(col("__sw"), lit(0.0)) +
          (col("n_tokens") - col("__m")).cast("double") * col("__fl")),
          4).as("log_odds"))
      .withColumn("pred", col("log_odds") > 0)
  }

  /** Classifier CALIBRATION report — the reliability diagram +
    * threshold sweep behind choosing a quality-gate cutoff (the
    * `nbThreshold` knob of the streaming pipeline): on a HELD-OUT
    * labeled slice, scores map to probabilities p = σ(score) and
    * bucket into `bins` fixed-width probability bins (Niculescu-Mizil
    * & Caruana, ICML 2005; the ECE binning of Guo et al., ICML 2017).
    * Per bin: count, positive count, observed positive rate vs mean
    * predicted probability (their gap is the bin's calibration
    * error), plus the cumulative threshold sweep — predicting
    * positive at p >= bin/bins gives `cum_n` predicted positives,
    * `cum_pos` true positives, and the precision/recall pair the
    * threshold choice trades between.
    *
    * Determinism across engines: p derives from the ALREADY-4dp-
    * rounded score, so both engines exponentiate identical doubles;
    * the bin cut floor(p·bins) sits ~1e-5 away from any boundary
    * (the score rounding perturbs p off exact bin edges); avg_p
    * sums round(p·10⁴) as exact INTEGERS (the d78 rule — a double
    * sum would be partition-order-dependent) and divides once.
    * pos_rate/precision/recall are integer ratios rounded to 4dp.
    *
    * Scale shape: one map-side projection over the scored slice, ONE
    * `bins`-row aggregate (map-side partials; bins is tiny by
    * contract), then the cumulative sweep as a broadcast self-join
    * of the ≤`bins`-row table — pinned by an eager localCheckpoint
    * (a bounded pull, ≤`bins` rows) so the three consumers (left,
    * right, total-positives) never recompute the corpus aggregate.
    * Zero windows, nothing corpus-sized above the first aggregate. */
  def calibrationReport(scored: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000,
      s"bins must be in [2, 1000], got $bins")
    val p = lit(1.0) / (lit(1.0) + exp(-col(scoreCol)))
    val agg = scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(
        least(floor(p * bins).cast("long"), lit(bins - 1L)).as("bin"),
        col(labelCol).cast("boolean").as("__y"),
        round(p * 10000).cast("long").as("__p4"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        count(when(col("__y"), lit(1))).as("n_pos"),
        sum(col("__p4")).as("__p4s"))
      .localCheckpoint(true)
    val right = agg.select(col("bin").as("__b2"), col("n").as("__n2"),
      col("n_pos").as("__np2"))
    val tot = agg.agg(sum(col("n_pos")).as("__tp"))
    agg
      .join(broadcast(right), col("__b2") >= col("bin"))
      .groupBy(col("bin"), col("n"), col("n_pos"), col("__p4s"))
      .agg(sum(col("__n2")).as("cum_n"), sum(col("__np2")).as("cum_pos"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 4).as("pos_rate"),
        round(col("__p4s").cast("double") / (col("n") * 10000.0), 4)
          .as("avg_p"),
        col("cum_n"), col("cum_pos"),
        round(col("cum_pos").cast("double") / col("cum_n"), 4)
          .as("precision"),
        when(col("__tp") > 0,
          round(col("cum_pos").cast("double") / col("__tp"), 4))
          .as("recall"))
  }

  /** Tokenizer FERTILITY report per language — the multilingual
    * tokenizer-fit metric of the public literature (fertility =
    * subword tokens per whitespace word, the XLM-R/mBERT comparison
    * number; bytes per token, the compression-rate view the BLOOM
    * tokenizer work reports): a vocabulary trained on a skewed
    * language mix over-segments the under-represented languages, and
    * this report is how that shows up per language — rising
    * fertility / falling bytes-per-token flags the language whose
    * text pays more sequence positions per sentence. Pairs with the
    * BPE training family (D46): the caller passes ANY per-doc token
    * count column (the trained-merge count for the real report; the
    * regex approximation for a quick look).
    *
    * All ratios derive from exact per-language INTEGER sums (token /
    * word / byte totals) divided once and rounded to 4 decimals —
    * no float accumulation order anywhere (the d78 rule).
    *
    * Scale: one scan projection + ONE language-keyed aggregate with
    * map-side partials — a zipf-head language is one GROUP, never
    * one task's row set. */
  def tokenizerFertility(docs: DataFrame, idCol: String,
      textCol: String, langCol: String, tokenCount: Column): DataFrame =
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
        col(langCol).isNotNull)
      .select(col(langCol).as("lang"),
        tokenCount.cast("long").as("__t"),
        wsTokenCount(col(textCol)).cast("long").as("__w"),
        octet_length(col(textCol)).cast("long").as("__b"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__t")).as("n_tokens"),
        sum(col("__w")).as("n_words"),
        sum(col("__b")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("n_words"), col("n_bytes"),
        round(col("n_tokens").cast("double") / col("n_words"), 4)
          .as("fertility"),
        round(col("n_bytes").cast("double") / col("n_tokens"), 4)
          .as("bytes_per_token"))

  /** Per-DOMAIN corpus report — the evidence a blocklist (D75) is
    * curated FROM: web-pipeline curation decisions are made at host
    * granularity (RefinedWeb/CCNet drop or keep whole domains), and
    * this report is the per-host roll-up those decisions read — doc
    * count, token and byte mass, and mean quality (the D9 blend) per
    * URL host. A host with many docs and low mean quality is a
    * blocklist candidate; a high-mass high-quality host is worth a
    * crawl-budget boost.
    *
    * avg_quality follows the integer-units rule: the per-doc quality
    * is already rounded to 4 decimals, so round(q·10⁴) is an exact
    * integer, sums exactly in any partition order, and divides once.
    *
    * Scale: one scan projection (host extraction + stats kernels) +
    * ONE host-keyed aggregate with map-side partials — a mega-host
    * is one GROUP, never one task's row set. */
  def domainReport(docs: DataFrame, idCol: String, urlCol: String,
      textCol: String): DataFrame =
    docs
      .filter(col(idCol).isNotNull && col(urlCol).isNotNull &&
        col(textCol).isNotNull)
      .select(urlHost(col(urlCol)).as("host"),
        wsTokenCount(col(textCol)).cast("long").as("__t"),
        octet_length(col(textCol)).cast("long").as("__b"),
        round(qualityScore(col(textCol)) * 10000).cast("long").as("__q4"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__t")).as("n_tokens"),
        sum(col("__b")).as("n_bytes"),
        sum(col("__q4")).as("__q4s"))
      .select(col("host"), col("n_docs"), col("n_tokens"), col("n_bytes"),
        round(col("__q4s").cast("double") / (col("n_docs") * 10000.0), 4)
          .as("avg_quality"))

  /** Language-ID CONFUSION matrix — the eval report behind trusting
    * (or retiring) the D8 heuristic as a pipeline gate: against a
    * labeled slice, one row per (label, predicted) cell with its doc
    * count and its share of the label's row mass (recall on the
    * diagonal, each misclassification direction off it — the matrix
    * tells you WHICH languages leak into which, the per-label number
    * an aggregate accuracy hides). Share follows the integer-units
    * rule: exact counts divided once, rounded to 4 decimals.
    *
    * Scale: one scan projection (the langId kernel) + ONE
    * (label, predicted) aggregate — ≤ |langs|² rows — pinned by a
    * bounded localCheckpoint so the label-total join-back reads the
    * tiny materialized matrix, never the corpus twice. */
  def langIdConfusion(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    val m = withLangId(docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(labelCol).as("label"), col(textCol).as("__graft_t")),
      "__graft_t")
      .select(col("label"), col("lang_pred").as("predicted"))
      .groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true)
    val totals = m.groupBy(col("label"))
      .agg(sum(col("n_docs")).as("__lt"))
    m.join(broadcast(totals), Seq("label"))
      .select(col("label"), col("predicted"), col("n_docs"),
        round(col("n_docs").cast("double") / col("__lt"), 4).as("share"))
  }

  /** Tracking query parameters stripped by [[canonicalizeUrl]]:
    * analytics/click identifiers that vary per referral without
    * changing the resource (the RefinedWeb/CCNet URL-dedup
    * convention). The pattern is shared verbatim with the oracle. */
  val trackingParamRe: String = "^(utm_[^=]*|fbclid|gclid|ref)="

  /** URL canonicalization — the normalization pass ahead of URL-keyed
    * dedup in a web-crawl pipeline (two crawls of the same resource
    * differ in case, default ports, tracking params, param order,
    * fragments and trailing slashes; content dedup would catch them
    * late, AFTER paying fetch + extract — the URL key catches them
    * at the frontier):
    *
    *   1. drop the fragment (`#...`)
    *   2. lowercase scheme and host (path/query stay case-sensitive)
    *   3. drop default ports (http:80, https:443); keep others
    *   4. strip trailing slashes from the path
    *   5. drop tracking params ([[trackingParamRe]]), SORT the rest
    *      (param order is transport noise), drop an empty query
    *
    * Pure built-in string functions (regexp_extract/replace, split,
    * filter, array_sort) — a codegen'd scan projection, zero
    * shuffles, and every step has an exact DuckDB mirror. ASCII
    * URLs by contract (no IDN/percent-decoding — decoding is NOT
    * idempotent and belongs upstream). */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = regexp_extract(noFrag, "^[^/]*//([^/?#]*)", 1)
    val host = lower(regexp_extract(hostport, "^([^:]*)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val portPart = when(port === "" ||
      (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val rest = regexp_extract(noFrag, "^[^/]*//[^/?#]*(.*)$", 1)
    val path = regexp_replace(regexp_extract(rest, "^([^?]*)", 1),
      "/+$", "")
    val q = regexp_extract(rest, "\\?(.*)$", 1)
    val params = filter(split(q, "&"),
      p => !(p.rlike(trackingParamRe) || p === ""))
    val qs = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, portPart, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
  }

  /** Lowercased host of an (ASCII) URL — the [[canonicalizeUrl]] host
    * arithmetic alone, exposed for key/gate operators that act on the
    * domain rather than the full resource identity. */
  def urlHost(u: Column): Column =
    lower(regexp_extract(regexp_extract(regexp_replace(u, "#.*$", ""),
      "^[^/]*//([^/?#]*)", 1), "^([^:]*)", 1))

  /** URL blocklist gate — the domain filter web-crawl curation runs at
    * the frontier (the RefinedWeb/CCNet convention, classically against
    * the public UT1 category lists): a document is blocked when ANY
    * dot-boundary SUFFIX of its URL host appears in the blocklist, so
    * the entry `example.com` blocks `example.com` AND every subdomain
    * `*.example.com`, while `www.example.com` blocks only that exact
    * host — the standard registrable-domain matching rule, with the
    * list itself deciding the granularity.
    *
    * Spark shape (the asymmetric-cardinality join done the d24 way):
    * the host explodes into its ≤ label-count suffixes MAP-SIDE (one
    * Generate over a pure projection, no text ever leaves the scan),
    * the blocklist — MBs against a 100 TB corpus — broadcasts, so the
    * suffix screen is a map-side broadcast equi-join and the only
    * narrow exchange before the verdict carries MATCHED suffix rows
    * alone (a sliver at any sane block rate). The verdict joins back
    * exchange-free (SHUFFLE_HASH) on the id, the [[urlDedup]] shape.
    * `blocked_by` is the lexicographically-smallest matching domain —
    * deterministic provenance when several list entries match.
    *
    * Returns (idCol, urlCol, host, blocked, blocked_by); null id/url
    * rows are dropped (an unkeyable row cannot be gated), null
    * blocklist domains are ignored. */
  def urlBlocklistGate(df: DataFrame, idCol: String, urlCol: String,
      blocklist: DataFrame, domainCol: String): DataFrame = {
    val live = df
      .filter(col(idCol).isNotNull && col(urlCol).isNotNull)
      .select(col(idCol), col(urlCol), urlHost(col(urlCol)).as("host"))
    val labels = split(col("host"), "\\.")
    val sfx = live.select(col(idCol),
      explode(transform(sequence(lit(1), size(labels)),
        i => array_join(slice(labels, i, size(labels) - i + 1), ".")))
        .as("sfx"))
    val bl = blocklist.filter(col(domainCol).isNotNull)
      .select(lower(col(domainCol)).as("sfx")).distinct()
    val hits = sfx.join(broadcast(bl), Seq("sfx"))
      .groupBy(col(idCol))
      .agg(min(col("sfx")).as("blocked_by"))
    live.join(hits.hint("SHUFFLE_HASH"), Seq(idCol), "left")
      .select(col(idCol), col(urlCol), col("host"),
        col("blocked_by").isNotNull.as("blocked"), col("blocked_by"))
  }

  /** URL-keyed dedup over [[canonicalizeUrl]]: exact keep-one on the
    * canonical key — [[Dedup.exact]]'s hash-groupBy shape (one
    * uniform-keyed aggregate + an exchange-free SHUFFLE_HASH join
    * back; the canonical URL IS the content hash here, no windows).
    * Returns every input row as (idCol, urlCol, canon_url, keeper)
    * with keeper = "this row is its canonical group's min-id" — the
    * survivor set AND the provenance in one output, the d21 keep-one
    * convention. Null id/url rows are dropped. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val canon = df
      .filter(col(idCol).isNotNull && col(urlCol).isNotNull)
      .select(col(idCol), col(urlCol),
        canonicalizeUrl(col(urlCol)).as("canon_url"))
    val keep = canon.groupBy(col("canon_url"))
      .agg(min(col(idCol)).as("__keeper"))
    canon.join(keep.hint("SHUFFLE_HASH"), Seq("canon_url"))
      .select(col(idCol), col(urlCol), col("canon_url"),
        (col(idCol) === col("__keeper")).as("keeper"))
  }
}
