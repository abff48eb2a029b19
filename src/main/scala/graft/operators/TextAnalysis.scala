package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}

/** Text-analysis operators for the documents pipeline — all built from
  * Catalyst expressions (no Scala UDFs in any hot path).
  *
  * `normalize` is the reference's text-cleaning semantics
  * (reference: src/main/scala/FileReconstitution.scala:8-11 — regex-delete
  * `[^a-zA-Z0-9\s]` then lowercase) rebuilt as `regexp_replace` + `lower`;
  * `segmentNumber` is its filename ordering key (:22-28). The rest is the
  * LLM-pipeline extension: language ID, quality scoring, token counting,
  * fingerprinting.
  *
  * PERFORMANCE CONTRACT: higher-order-function lambdas re-evaluate any
  * captured subtree once PER ELEMENT. Token/shingle arrays must therefore
  * be MATERIALIZED as columns (`withTokens` / `withShingles`) before any
  * HOF consumes them — otherwise the normalize regex re-runs per shingle
  * per hash seed (O(len × shingles × seeds)); observed as a 300+ s/task
  * stall on 500 docs. The `*FromTokens`/`*FromShingles` forms take an
  * attribute reference and are the only forms operators use.
  */
object TextAnalysis {

  /** F1: strip non-alphanumerics (keeping whitespace), lowercase. */
  def normalize(c: Column): Column =
    lower(regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))

  /** Unicode NFC canonical composition ([[graft.functions.NfcNormalize]]
    * — native codegen'd expression, no UDF): run BEFORE any
    * fingerprint/shingle stage on corpora that may carry decomposed
    * sequences, or byte-level signatures split visually-identical
    * strings. */
  def nfc(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.GraftSqlBridge.expression(c)))

  /** F2: numeric ordering key from `segment_<i>` file names. Non-matching
    * names yield null (ANSI-safe: regexp_extract returns "" on no match,
    * which ANSI cast would reject). */
  def segmentNumber(fileName: Column): Column = {
    val m = regexp_extract(fileName, "segment_(\\d+)", 1)
    when(m === "", lit(null)).otherwise(m).cast("int")
  }

  /** Whitespace token array of normalized text. Evaluate ONCE per row via
    * [[withTokens]] before use in any HOF. */
  def tokens(c: Column): Column =
    split(trim(normalize(c)), "\\s+")

  /** Materialize the token array as a column (the staging step). */
  def withTokens(df: DataFrame, textCol: String, out: String = "_toks"): DataFrame =
    df.withColumn(out, tokens(col(textCol)))

  /** Word k-shingles of a token array — native single-pass expression
    * ([[graft.functions.NGramShingles]]); the token array is evaluated
    * once per row however Catalyst inlines it. */
  def shinglesFromTokens(toks: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.functions.NGramShingles(GraftSqlBridge.expression(toks), k))
  }

  /** Declarative reference formulation, kept for the equivalence test.
    *
    * Implementation note: built by zip_with-ing k SHIFTED SLICES of the
    * token array, NOT by `transform(indices, i => slice(toks, i, k))`.
    * The lambda bodies here reference only lambda-bound variables, so
    * even when Catalyst's CollapseProject inlines a staged token column
    * back into this expression (it does whenever the column is consumed
    * exactly once — e.g. under an explode), the token array is evaluated
    * O(k) times per ROW. The slice-per-index form re-evaluates the whole
    * tokenization per ELEMENT after such inlining — O(len × shingles)
    * regex work that showed up as an 11 s/5000-doc stage. */
  def shinglesFromTokensHof(toks: Column, k: Int): Column = {
    val n = size(toks)
    val outLen = greatest(n - lit(k - 1), lit(0))
    val shingled = (1 until k).foldLeft(slice(toks, lit(1), outLen)) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), outLen), (a, b) => concat_ws(" ", a, b))
    }
    when(n < k, array(concat_ws(" ", toks))).otherwise(shingled)
  }

  /** Materialize the shingle array (stages tokens internally). */
  def withShingles(df: DataFrame, textCol: String, k: Int, out: String = "_sh"): DataFrame =
    withTokens(df, textCol, "_toks_tmp")
      .withColumn(out, shinglesFromTokens(col("_toks_tmp"), k))
      .drop("_toks_tmp")

  /** Convenience single-column form — tests/small data only; operators
    * must stage via [[withShingles]]. */
  def shingles(c: Column, k: Int): Column =
    shinglesFromTokens(tokens(c), k)

  /** Whitespace tokenization count (empty string → 0 tokens). */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, 0)
      .otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish subword count: word-pieces + digits + punctuation runs.
    * A cheap, deterministic proxy for tokenizer cost estimation. */
  def tokenCountBpeish(c: Column): Column =
    size(regexp_extract_all(c, lit("[a-zA-Z]{1,4}|[0-9]|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Sliding chunk spans for context-window preparation: chunk i covers
    * tokens [i·stride, i·stride + chunkTokens), i in 0 until
    * max(1, ceil(n / stride)) — so consecutive chunks overlap by
    * chunkTokens − stride tokens and every doc (even empty) emits at
    * least one span. Output: one row per (doc, chunk) with
    * (chunk_idx, token_start, token_len); the caller slices content by
    * span (the spans are the plan — emitting sliced text here would
    * multiply the corpus by the overlap factor before it's needed).
    * Pure narrow map + explode: no shuffle, linear in output spans. */
  def chunkSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      stride: Int): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      s"need 1 <= stride ($stride) <= chunkTokens ($chunkTokens)")
    df.select(col(idCol), tokenCount(col(textCol)).as("_n"))
      .withColumn("_cnt", greatest(lit(1),
        expr(s"(_n + ${stride - 1}) div $stride")))
      .select(col(idCol),
        col("_n"), explode(sequence(lit(0), (col("_cnt") - 1).cast("int"))).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * stride).as("token_start"),
        greatest(least(lit(chunkTokens), col("_n") - col("chunk_idx") * stride), lit(0))
          .cast("int").as("token_len"))
  }

  /** Per-document top-`k` TF-IDF terms — the classic salient-term
    * extractor. Two aggregations + one join, all hash-partial:
    * term frequency per (doc, term), document frequency per term (one
    * row per (doc, term) already exists, so df is a plain count), then
    * score and rank per doc. WindowGroupLimit pushes the per-doc top-k
    * below the final exchange.
    *
    * The score is the LOG-FREE rational form tf · (N+1)/(df+1):
    * `ln` is correctly-rounded in NO common libm, so the classic
    * tf·ln((N+1)/(df+1)) would drift across engines and break the
    * bit-exact oracle contract. CAVEAT: the monotone-transform
    * equivalence holds only at FIXED tf — across terms the rational
    * ranking can deviate from the classic log ranking (a term in every
    * doc scores tf·(N+1)/(N+1) = tf where the log form gives ~0, so it
    * can outrank a rarer term). Callers who need classic TF-IDF
    * ordering should keep `k` generous and re-rank downstream by
    * tf·ln((N+1)/(df+1)) from the emitted tf/df columns.
    * N (corpus size) is a driver-side count — bounded metadata, the
    * same class as the IVF centroid materialization. */
  def tfIdfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.count()
    // persisted (r18, the t15/t33 discipline): tf feeds the df counts
    // AND the scoring join probe — unstaged, each consumer re-ran the
    // tokenize+explode+aggregate chain; the frame is the compact
    // post-aggregate projection
    val tf = graft.CachePool.register(
      withTokens(df.select(col(idCol), col(textCol)), textCol)
        .select(col(idCol), explode(col("_toks")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col(idCol), col("term"))
        .agg(count(lit(1)).as("tf"))
        .persist())
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val score = col("tf").cast("double") * lit(nDocs + 1L) / (col("df") + lit(1L))
    val w = Window.partitionBy(col(idCol)).orderBy(score.desc, col("term").asc)
    tf.join(docFreq, "term")
      .withColumn("score", score)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Quality heuristics: length band, token count, mean word length,
    * punctuation & digit ratios. Returns the input plus metric columns
    * and a boolean `quality_ok`. */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nTok = tokenCount(t)
    val punct = nChars - length(regexp_replace(t, "[^a-zA-Z0-9\\s]", ""))
    val digits = nChars - length(regexp_replace(t, "[0-9]", ""))
    df.withColumn("n_chars_m", nChars.cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("punct_ratio", punct.cast("double") / greatest(nChars, lit(1)))
      .withColumn("digit_ratio", digits.cast("double") / greatest(nChars, lit(1)))
      .withColumn("mean_word_len",
        (nChars - (nTok - lit(1))).cast("double") / greatest(nTok, lit(1)))
      .withColumn("quality_ok",
        nChars.between(20, 1000000) && nTok.between(5, 500000) &&
          (punct.cast("double") / greatest(nChars, lit(1))) < 0.3)
  }

  /** Encoding-health signals (the C4/Gopher-family mojibake filters —
    * Raffel et al. 2020 drop pages with the replacement character;
    * control bytes are the classic wrong-charset symptom): per document,
    * the count of C0/C1-ish control characters (tab/newline/CR excluded
    * — legitimate document structure) and of U+FFFD replacement
    * characters (the decoder's "this byte sequence was not valid"
    * marker), plus the pass/fail gate `encoding_ok` = zero of each.
    * One narrow regexp pass per signal; the character classes use only
    * hex escapes shared verbatim by Java regex and RE2, so the DuckDB
    * twin replays the counts exactly (the redactPii portability rule).
    * Counts, not booleans, ride the output: a downstream gate can
    * re-threshold (e.g. tolerate one stray control char in a 1 MB doc)
    * without re-scanning. */
  def encodingSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val n = length(t)
    val ctrl = n - length(regexp_replace(t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))
    val repl = n - length(regexp_replace(t, "\\x{FFFD}", ""))
    df.withColumn("n_chars", n.cast("long"))
      .withColumn("ctrl_count", ctrl.cast("long"))
      .withColumn("repl_count", repl.cast("long"))
      .withColumn("encoding_ok", ctrl === 0 && repl === 0)
  }

  /** Gopher-style document-quality rules (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", appendix A1.1 — the repetition rules are [[
    * repetitionSignals]]; these are the structural ones): word-count
    * bounds, mean-word-length bounds, symbol-to-word ratio (# and …),
    * bullet-line and ellipsis-line fractions, fraction of words with
    * an alphabetic character, and a stop-word floor.
    *
    * Every signal is an exact INTEGER count over one staged token /
    * line array (counts, not ratios, ride the output — the
    * encodingSignals re-threshold rule), and every `gopher_ok`
    * threshold is a cross-multiplied integer comparison (3 ≤ μ_len ≤
    * 10 becomes 3·n_words ≤ n_word_chars ≤ 10·n_words) — no division
    * anywhere, so the DuckDB twin replays bit-free-exact. One narrow
    * projection, no shuffle, codegen throughout. */
  def gopherRules(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val staged = df
      .withColumn("_gr_toks", split(trim(t), "\\s+"))
      .withColumn("_gr_lines", split(t, "\n"))
    val toks = col("_gr_toks")
    val lines = col("_gr_lines")
    val nWords = when(length(trim(t)) === 0, 0L)
      .otherwise(size(toks).cast("long"))
    val nWordChars = length(regexp_replace(t, "\\s", "")).cast("long")
    val nSymbols = (length(t) -
      length(regexp_replace(t, "[#\\x{2026}]", ""))).cast("long")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => l.rlike("^\\s*[-*\\x{2022}]")))
      .cast("long")
    val nEllipsisEnd = size(filter(lines,
      l => l.rlike("(\\.\\.\\.|\\x{2026})\\s*$"))).cast("long")
    val nAlphaWords = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long")
    val stopArr = stopwords("en").map(lit(_))
    val nStopHits = size(filter(toks,
      w => lower(w).isin(stopArr: _*))).cast("long")
    staged
      .withColumn("n_words", nWords)
      .withColumn("n_word_chars", nWordChars)
      .withColumn("n_symbols", nSymbols)
      .withColumn("n_lines", nLines)
      .withColumn("n_bullet_lines", nBullet)
      .withColumn("n_ellipsis_lines", nEllipsisEnd)
      .withColumn("n_alpha_words", nAlphaWords)
      .withColumn("n_stop_hits", nStopHits)
      .withColumn("gopher_ok",
        col("n_words").between(50L, 100000L) &&
          col("n_word_chars") >= col("n_words") * 3L &&
          col("n_word_chars") <= col("n_words") * 10L &&
          col("n_symbols") * 10L < col("n_words") &&
          col("n_bullet_lines") * 10L < col("n_lines") * 9L &&
          col("n_ellipsis_lines") * 10L < col("n_lines") * 3L &&
          col("n_alpha_words") * 5L >= col("n_words") * 4L &&
          col("n_stop_hits") >= 2L)
      .drop("_gr_toks", "_gr_lines")
  }

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic (public common-word lists). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "dans", "que", "pour", "une"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con", "para", "es"),
    "it" -> Seq("il", "di", "che", "la", "per", "una", "sono", "con", "non", "del"))

  /** Language ID: stage the token array once, score each language as the
    * count of stopword hits (a `filter` HOF over the materialized array),
    * pick the argmax. Ties / zero hits → "und". One scan, no shuffle. */
  def langId(df: DataFrame, textCol: String = "text", outCol: String = "lang_pred"): DataFrame = {
    val staged = df.withColumn("_lid_toks", split(lower(trim(col(textCol))), "\\s+"))
    val toks = col("_lid_toks")
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    // array_max on struct(hits, lang) picks highest hits, ties by lang desc;
    // deterministic because the struct comparison is lexicographic.
    val best = array_max(array(scored: _*))
    staged
      .withColumn(outCol,
        when(best.getField("hits") > 0, best.getField("lang")).otherwise("und"))
      .drop("_lid_toks")
  }

  /** Per-document repetition signals (Gopher-style quality filters):
    * `n_tokens`, `distinct_ratio` = |distinct| / n, and `top_share` =
    * (max single-token frequency) / n. Highly repetitive documents
    * (boilerplate, keyword stuffing) show low distinct_ratio / high
    * top_share and are filtered before training.
    *
    * Computed per ROW with no shuffle: the max-frequency is a fold over
    * the SORTED token array tracking the longest equal-run — O(n log n)
    * per doc, zero exchanges (the explode → groupBy(doc, token)
    * formulation shuffles corpus × tokens rows). Tokens are staged per
    * the performance contract. */
  def repetitionSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val staged = withTokens(df, textCol, "_rep_toks")
    val toks = col("_rep_toks")
    val n = size(toks)
    val sorted = array_sort(toks)
    val best = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    staged
      .withColumn("n_tokens", n)
      .withColumn("distinct_ratio",
        size(array_distinct(toks)).cast("double") / greatest(n, lit(1)).cast("double"))
      .withColumn("top_share",
        best.cast("double") / greatest(n, lit(1)).cast("double"))
      .drop("_rep_toks")
  }

  /** Default stopword list for [[lexicalDiversity]] — deliberately tiny
    * and fixed: the ratio is a QUALITY SIGNAL (natural prose carries a
    * stable function-word share; keyword soup and boilerplate do not),
    * not an NLP tokenization feature. */
  val defaultStopwords: Seq[String] =
    Seq("a", "an", "the", "and", "or", "of", "to", "in", "is", "it")

  /** Per-document lexical-diversity signals: `n_tokens`,
    * `stopword_cnt`/`stopword_ratio` (function-word share — near-zero
    * flags keyword stuffing and non-prose), and `hapax_cnt`/
    * `hapax_ratio` (tokens occurring exactly once / distinct tokens —
    * the classic hapax-legomena diversity measure; template text scores
    * low). Complements [[repetitionSignals]]' distinct_ratio/top_share.
    *
    * Per ROW with no shuffle, same contract as [[repetitionSignals]]:
    * hapax counting is a fold over the SORTED token array tracking
    * run-of-one boundaries — O(n log n) per doc, zero exchanges (the
    * explode → groupBy(doc, token) twin shuffles corpus × tokens rows;
    * that formulation is the ORACLE, not the engine). Ratios are
    * small-integer divisions — bit-equal doubles in any engine. */
  def lexicalDiversity(
      df: DataFrame,
      textCol: String = "text",
      stopwords: Seq[String] = defaultStopwords): DataFrame = {
    val staged = withTokens(df, textCol, "_lex_toks")
    val toks = filter(col("_lex_toks"), t => t =!= "")
    val n = size(toks).cast("long")
    val nd = size(array_distinct(toks)).cast("long")
    val stopCnt = size(filter(toks, t => t.isin(stopwords: _*))).cast("long")
    val sorted = array_sort(toks)
    val hapax = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("hap")),
      (acc, t) => {
        val same = t === acc.getField("prev")
        val hap = when(!same && acc.getField("run") === 1L, acc.getField("hap") + 1L)
          .otherwise(acc.getField("hap"))
        val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"), hap.as("hap"))
      },
      acc => acc.getField("hap") +
        when(acc.getField("run") === 1L, 1L).otherwise(0L))
    staged
      .withColumn("n_tokens", n)
      .withColumn("stopword_cnt", stopCnt)
      .withColumn("hapax_cnt", hapax)
      .withColumn("stopword_ratio",
        stopCnt.cast("double") / greatest(n, lit(1L)).cast("double"))
      .withColumn("hapax_ratio",
        hapax.cast("double") / greatest(nd, lit(1L)).cast("double"))
      .drop("_lex_toks")
  }

  /** Per-document rarity metrics against the corpus' own vocabulary:
    * `oov_cnt`/`oov_rate` (token occurrences outside the top-`vocabSize`
    * tokens by document frequency) and `min_df` (document frequency of
    * the doc's RAREST token). High OOV flags noise/encoding damage;
    * min_df = 1 flags docs carrying corpus-unique strings (serial
    * numbers, hashes, contamination canaries). The vocabulary is
    * data-derived — no external list to ship — and the cut is
    * deterministic (df DESC, token ASC).
    *
    * Shape: one (doc, token) hash aggregate, one token-keyed df
    * aggregate, a broadcast of the vocabSize-bounded vocabulary, one
    * doc-keyed re-aggregation — the t12 cost class; the shuffle carries
    * distinct (doc, token) pairs, never raw token occurrences. */
  def rarityMetrics(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int = 1000): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val toks = withTokens(df.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol), explode(col("_toks")).as("term"))
      .filter(col("term") =!= "")
    // persisted (r18, the t33 discipline): docTerm feeds the df counts
    // AND the final join probe, dfreq feeds the vocab cut AND the join
    // — unstaged, each consumer re-ran the tokenize+explode+aggregate
    // chain; both frames are the compact post-aggregate projections
    val docTerm = graft.CachePool.register(
      toks.groupBy(col(idCol), col("term"))
        .agg(count(lit(1)).as("tf"))
        .persist())
    val dfreq = graft.CachePool.register(
      docTerm.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .persist())
    val vocab = dfreq
      .orderBy(col("df").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"), lit(true).as("_inv"))
    docTerm
      .join(dfreq, "term")
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(when(col("_inv").isNull, col("tf")).otherwise(0L)).as("oov_cnt"),
        min(col("df")).as("min_df"))
      .withColumn("oov_rate",
        col("oov_cnt").cast("double") / col("n_tokens").cast("double"))
  }

  /** Corpus-LM bigram fluency — the CCNet/KenLM idea of scoring each
    * document against a language model built from the corpus itself,
    * reduced to integer-exact statistics: a document's positional
    * bigrams (word 2-shingles, [[shinglesFromTokens]] short-doc rule
    * included) are checked against the corpus-wide bigram document
    * frequency, and the doc scores the fraction of its bigram positions
    * attested in ≥ `minDocs` distinct documents. Low fluency flags
    * word-salad/boilerplate-mangled text whose transitions nothing else
    * in the corpus makes. Deliberately log-free: `fluency` is ONE
    * division of two exact longs (engine-identical IEEE), and `min_df`
    * is the rarest transition — both usable as admission-gate signals.
    *
    * Shape: one staged-shingle pass, one bigram-keyed hash aggregate
    * (keyed by xxhash64(bigram) so the shuffle carries 8-byte keys,
    * not bigram text — the [[graft.operators.Dedup.boilerplatePassages]]
    * discipline), one equi-join back, one per-doc aggregate. Nothing
    * quadratic; every doc emits ≥ 1 shingle, so no 0/0 edge exists.
    *
    * Output grain: one row per doc — (idCol, n_bigrams, n_attested,
    * min_df, fluency). */
  def bigramFluency(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs > 1, "minDocs must be > 1 (df >= 1 is every bigram)")
    val bg = withShingles(df.select(col(idCol), col(textCol)), textCol, 2)
      .select(col(idCol), explode(col("_sh")).as("bigram"))
      .withColumn("_bkey", xxhash64(col("bigram")))
    val dfreq = bg.groupBy(col("_bkey"))
      .agg(count_distinct(col(idCol)).as("df_docs"))
    bg.join(dfreq, "_bkey")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("df_docs") >= minDocs, 1L).otherwise(0L)).as("n_attested"),
        min(col("df_docs")).as("min_df"))
      .withColumn("fluency",
        col("n_attested").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Vocabulary construction with cumulative coverage — the
    * tokenizer-design primitive: rank terms by corpus frequency and
    * report, for each prefix of the top-`vocabSize` vocabulary, the
    * fraction of total token mass it covers ("how big must the vocab be
    * for 95% coverage?").
    *
    * Shape: ONE token-keyed hash aggregate (map-side combined — the
    * shuffle carries distinct terms, never raw occurrences), a
    * TakeOrdered top-`vocabSize` cut (distributed — the unbounded
    * distinct-term set never passes through a single-partition window),
    * then the ordered rank/cumsum window over the `vocabSize`-bounded
    * result only, plus one scalar total broadcast back. Coverage is
    * exact integer arithmetic (`cum_tf`, `total_tf` BIGINT); the single
    * terminal division to DOUBLE is IEEE-exact and engine-identical.
    *
    * Output: (term, rank, tf, cum_tf, total_tf, coverage), rank 1..N by
    * (tf DESC, term ASC). */
  def vocabCoverage(df: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    import org.apache.spark.sql.expressions.Window
    val tf = withTokens(df.select(col(textCol)), textCol)
      .select(explode(col("_toks")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum(col("tf")).as("total_tf"))
    val top = tf.orderBy(col("tf").desc, col("term").asc).limit(vocabSize)
    val w = Window.orderBy(col("tf").desc, col("term").asc)
    top
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_tf",
        sum(col("tf")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .withColumn("coverage",
        col("cum_tf").cast("double") / col("total_tf").cast("double"))
      .select(col("term"), col("rank"), col("tf"), col("cum_tf"),
        col("total_tf"), col("coverage"))
  }

  /** Composed admission gate — the preprocessing decision a training
    * pipeline actually runs: quality heuristics + repetition signals +
    * language filter in ONE narrow pass (each component stage is
    * individually oracled: t4, t10, t6). Emits `admit` plus a
    * deterministic `reject_reason` (first failing check in a fixed
    * order; "ok" when admitted) so rejected volume is attributable. */
  def admissionGate(
      df: DataFrame,
      textCol: String = "text",
      allowedLangs: Seq[String] = Seq("en"),
      minDistinctRatio: Double = 0.3,
      maxTopShare: Double = 0.5): DataFrame = {
    val scored = langId(repetitionSignals(qualityScore(df, textCol), textCol), textCol)
    val reason = when(!col("quality_ok"), "low_quality")
      .when(col("distinct_ratio") < minDistinctRatio, "repetitive")
      .when(col("top_share") > maxTopShare, "dominated")
      .when(!col("lang_pred").isin(allowedLangs.map(lit(_)): _*), "language")
      .otherwise("ok")
    scored
      .withColumn("reject_reason", reason)
      .withColumn("admit", col("reject_reason") === "ok")
  }

  /** PII redaction patterns — the regex subset shared verbatim by Java
    * regex (Spark codegen) and RE2 (DuckDB/Go engines): no backrefs, no
    * lookaround, so the same pattern string is portable and the oracle
    * can replay the redaction bit-for-bit. Patterns are deliberately
    * high-recall (a 999.999.999.999 "IP" redacts too): in a training
    * pipeline a false redaction costs a token, a missed leak costs an
    * incident. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact emails and IPv4 literals from `textCol`: adds
    * `<out>` (redacted text), `had_email` / `had_ip` flags. One narrow
    * pass, no shuffle; the repeated regexp_replace subtrees fall under
    * whole-stage codegen's subexpression elimination, so each pattern
    * runs once per row. */
  def redactPii(df: DataFrame, textCol: String, out: String = "text_redacted"): DataFrame = {
    val t = col(textCol)
    val noEmail = regexp_replace(t, EmailPattern, "<EMAIL>")
    df.withColumn("had_email", noEmail =!= t)
      .withColumn(out, regexp_replace(noEmail, Ipv4Pattern, "<IP>"))
      .withColumn("had_ip", col(out) =!= noEmail)
  }

  /** Unicode-script mix — the pre-langid routing signal (script is
    * decided per CHARACTER by the standard, where language needs a
    * model; a CJK page routed to an n-gram Latin langid is pure
    * noise): per document, counts of Latin / Cyrillic / CJK-unified /
    * Arabic letters via the t20 length-diff idiom, plus the dominant
    * script with a FIXED priority tie-break (latin > cyrillic > cjk >
    * arabic; all-zero → 'other'). Character classes use only \x{...}
    * hex ranges shared verbatim by Java regex and RE2 (the t20/PII
    * portability rule), BMP-only so both engines count codepoints
    * identically. One narrow pass, no shuffle. */
  def scriptMix(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String): Column =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    val latin = cnt("[A-Za-z]")
    val cyr = cnt("[\\x{0400}-\\x{04FF}]")
    val cjk = cnt("[\\x{4E00}-\\x{9FFF}]")
    val arab = cnt("[\\x{0600}-\\x{06FF}]")
    df.withColumn("n_latin", latin)
      .withColumn("n_cyrillic", cyr)
      .withColumn("n_cjk", cjk)
      .withColumn("n_arabic", arab)
      .withColumn("dominant_script",
        when(col("n_latin") >= col("n_cyrillic") && col("n_latin") >= col("n_cjk") &&
          col("n_latin") >= col("n_arabic") && col("n_latin") > 0, "latin")
          .when(col("n_cyrillic") >= col("n_cjk") &&
            col("n_cyrillic") >= col("n_arabic") && col("n_cyrillic") > 0, "cyrillic")
          .when(col("n_cjk") >= col("n_arabic") && col("n_cjk") > 0, "cjk")
          .when(col("n_arabic") > 0, "arabic")
          .otherwise("other"))
  }

  /** Flesch–Kincaid readability grade (Kincaid et al. 1975) — the
    * classic text-difficulty signal beside the quality/repetition/
    * fluency gates (a curation recipe that targets a reading level —
    * instruction data, children's corpora, plain-language filters —
    * gates on exactly this). All three inputs are the standard
    * heuristics as exact integer counts over the RAW text (punctuation
    * carries the sentence signal, so the normalized form is useless
    * here): words = whitespace tokens (the x28/t3 convention),
    * sentences = `[.!?]+` terminator runs clamped to ≥ 1 (an
    * unterminated document is one sentence), syllables = vowel-group
    * runs `[aeiouy]+` of the lowercased text (the standard proxy; CJK
    * text reads 0 and relies on the t21 script gate upstream).
    * `fk_grade = 0.39·(words/sentences) + 11.8·(syllables/words) −
    * 15.59` is a fixed IEEE DAG of exact integers (null when a doc has
    * no words). Counts use the t20 length-diff idiom's split cousin:
    * `len(split(text, class)) − 1` counts RUNS identically under Java
    * regex and RE2. One narrow pass, no shuffle. */
  def readability(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_words",
        when(length(trim(t)) === 0, lit(0))
          .otherwise(size(split(trim(t), "\\s+"))).cast("long"))
      .withColumn("n_sentences",
        greatest(size(split(t, "[.!?]+")) - 1, lit(1)).cast("long"))
      .withColumn("n_syllables",
        (size(split(lower(t), "[aeiouy]+")) - 1).cast("long"))
      .withColumn("fk_grade",
        when(col("n_words") > 0,
          lit(0.39) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
            + lit(11.8) * (col("n_syllables").cast("double") / col("n_words").cast("double"))
            - lit(15.59)))
  }

  /** T5 span-corruption mask (Raffel et al. 2020 §3.1.4) — the
    * denoising-objective spans as a data op, block-grid variant: the
    * paper's sampler draws random span starts SEQUENTIALLY per
    * document (inherently serial, and irreproducible across engines);
    * here tokens partition into fixed `blockTokens` blocks (the x7
    * chunk grid with stride = chunk) and each block is masked i.i.d.
    * at `rate` by the repo's salted-md5 draw — embarrassingly
    * parallel, exactly replayable, still yielding mean span length
    * `blockTokens` and ~`rate` masked token mass. `sentinel_id` is
    * the per-doc index of the masked span in block order (the
    * `<extra_id_k>` numbering a T5-style pipeline writes out).
    *
    * Scale shape: the grid is a narrow explode bounded by
    * tokens/blockTokens rows per doc; the only shuffle is the per-doc
    * sentinel window (bounded by blocks per DOC, never the corpus). */
  def corruptionSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int = 3,
      rate: Double = 0.15,
      salt: String = "spanc"): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    import org.apache.spark.sql.expressions.Window
    val masked = chunkSpans(df, idCol, textCol, blockTokens, blockTokens)
      .filter(col("token_len") > 0)
      .filter(Sampling.uniformHex(
        concat_ws(":", col(idCol), col("chunk_idx")), salt)
        < lit(Sampling.hexThreshold(rate)))
    val w = Window.partitionBy(col(idCol)).orderBy(col("chunk_idx"))
    masked
      .withColumn("sentinel_id", (row_number().over(w) - 1).cast("int"))
      .select(col(idCol), col("chunk_idx").as("block_idx"),
        col("token_start"), col("token_len"), col("sentinel_id"))
  }

  /** Deterministic word dropout (the EDA/word-dropout text
    * augmentation — robustness training data from stochastic token
    * deletion — made replayable): token i of document d drops iff
    * the salted-md5 draw on (d, i) clears `rate` (the hashSample
    * construction at TOKEN position granularity, the same
    * determinism x32 applies at span granularity). The entire pass
    * is narrow — the position-indexed HOF filter evaluates one md5
    * per token with NO explode and NO shuffle; the surviving tokens
    * reassemble in order with single spaces.
    *
    * Exactness: kept/dropped is a string compare of md5 hex against
    * the hexThreshold constant; the reassembled string is
    * order-preserving array_join — engine-identical throughout. */
  def wordDropout(
      df: DataFrame,
      idCol: String,
      textCol: String,
      rate: Double = 0.1,
      salt: String = "wdrop"): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    val thr = Sampling.hexThreshold(rate)
    val keep = (t: Column, i: Column) =>
      substring(md5(concat(lit(s"$salt:"), col(idCol).cast("string"),
        lit(":"), i.cast("string")).cast("binary")), 1, 8) >= lit(thr)
    df.withColumn("_toks", filter(tokens(col(textCol)), t => t =!= ""))
      .withColumn("_kept", filter(col("_toks"), keep))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(col("_kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("_kept")).as("kept_text"))
  }

  /** BPE pair-merge step (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units") — ONE iteration of
    * byte-pair-encoding tokenizer training as a corpus data op: count
    * adjacent character pairs across the corpus, weighted by word
    * frequency; the training loop merges the top pair and repeats.
    * Completes the tokenizer-design family beside t17 (vocabulary
    * coverage curve) and t16 (bigram stats).
    *
    * Scale shape — the two-tier trick that makes BPE training feasible
    * on a 100 TB corpus: the corpus-sized pass is ONE token explode into
    * a map-side-combined (word, freq) aggregate; everything after is
    * bounded by the VOCABULARY, not the corpus (each distinct word
    * explodes into len−1 two-char substr windows; the pair aggregate's
    * key space is ≤ alphabet² — tiny). The classic end-of-word marker
    * `_` is appended AFTER normalization (which strips literal
    * underscores), so marker pairs are unambiguous and the final
    * character of every word participates in exactly one boundary pair.
    *
    * Exactness: counts are exact longs; pairs are substr windows —
    * every engine slices UTF-8 strings of `[a-z0-9_]` identically. */
  def bpePairCounts(df: DataFrame, textCol: String, marker: String = "_"): DataFrame = {
    val wf = withTokens(df.select(col(textCol)), textCol)
      .select(explode(col("_toks")).as("_w0"))
      .filter(col("_w0") =!= "")
      .groupBy(col("_w0")).agg(count(lit(1)).as("f"))
      .select(concat(col("_w0"), lit(marker)).as("w"), col("f"))
    wf.select(col("f"), explode(
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
  }

  /** FULL BPE tokenizer training (Sennrich et al. 2016) — the loop
    * [[bpePairCounts]] is one step of, run `merges` rounds: count
    * adjacent SYMBOL pairs over the frequency-weighted vocabulary,
    * merge the winner everywhere (greedy left-to-right, the reference
    * algorithm's overlap rule: "aaa" under (a,a) → ("aa","a")), and
    * repeat with the merged symbol now atomic. Returns the learned
    * merge table — (step, left, right, pair_count), `merges` rows —
    * which IS the tokenizer (apply-time replays it in order).
    *
    * Winner selection is deterministic: max count, ties to the
    * lexicographically smallest (left, right) — the j25 struct-min
    * argmax, so two runs (or two engines) learn the identical table.
    *
    * Scale shape — the published two-tier trick, now for the whole
    * loop: the CORPUS-sized pass is the one (word, freq) aggregate up
    * front; all `merges` rounds run over the DISTINCT-WORD vocabulary
    * (each round: one explode of per-word adjacent pairs into a
    * map-side-combined sum, one 1-row argmax collect — the bounded
    * scalar collect the IVF centroid loop also uses — and one narrow
    * per-word fold applying the merge). Per-round vocab frames are
    * persisted and the previous round's released: each is read twice
    * (pair count + merge apply), and without the persist the lineage
    * re-derives the corpus scan 2^merges times. A 100 TB deployment
    * additionally SAMPLES the corpus before the vocab aggregate
    * (standard practice — BPE statistics converge long before the
    * full corpus is counted); the loop itself is already
    * vocabulary-bounded.
    *
    * Symbols are strings; a merged symbol is its concatenation, so
    * (as in byte-level BPE implementations) two different merge
    * histories producing the same string are the same symbol. The
    * end-of-word marker keeps final characters in exactly one
    * boundary pair ([[bpePairCounts]]'s argument). */
  /** One learned merge applied to a symbol array — the greedy
    * left-to-right fold both [[bpeTrain]] (during training) and
    * [[bpeEncode]] (at apply time) run: append each symbol unless the
    * tail of the output is `a` and the symbol is `b`, in which case
    * the tail becomes the atomic `a+b` (so "aaa" under (a,a) folds to
    * ("aa","a"), the reference overlap rule — a just-merged tail is
    * the CONCATENATION and can only re-merge if a literal follow-on
    * rule says so). */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** [[applyMerge]]'s greedy left-to-right fold as a plain loop —
    * byte-identical output (TextDedupSpec's sequential model IS this
    * loop), used by the mapPartitions training/encode passes where the
    * HOF form paid interpreted-lambda cost per symbol (the r12 phash
    * lesson applied to BPE: Spark array HOFs are CodegenFallback). */
  private[operators] def mergeSeqScala(
      syms: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { x =>
      if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
      else out += x
    }
    out.toIndexedSeq
  }

  /** [[charSyms]] as a plain loop — positions 1..len(w)+1 of
    * w ++ marker, i.e. the word's characters plus the marker's FIRST
    * character (identical to the Column form's substr windows).
    * Iterates CODE POINTS, not UTF-16 units: Spark's `length`/`substr`
    * count code points, so a `.length`-based split would break
    * supplementary-plane characters into lone surrogate halves and
    * diverge from the Column side (r12 ADVICE). */
  private[graft] def charSymsScala(
      w: String, marker: String): IndexedSeq[String] = {
    val s = w + marker
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val wanted = w.codePointCount(0, w.length) + 1
    var i = 0
    while (out.length < wanted) {
      val cp = s.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toIndexedSeq
  }

  /** Per-word initial symbol array: characters plus the end-of-word
    * marker ([[bpePairCounts]]'s boundary argument). */
  private def charSyms(word: Column, marker: String): Column =
    transform(sequence(lit(1), length(word) + 1),
      i => concat(word, lit(marker)).substr(i, lit(1)))

  /** Spark's UTF8String (and DuckDB's default collation) order strings
    * by UNSIGNED UTF-8 BYTES; Java's String.compareTo orders UTF-16
    * code units, which diverges when supplementary-plane symbols meet
    * high-BMP ones. The driver-side argmax tie-break must match the
    * distributed struct-min exactly, so it compares UTF-8 bytes.
    * (Unreachable divergence through [[bpeTrain]]'s own tokenizer —
    * normalize keeps ASCII alphanumerics only — but the loop should
    * not silently depend on that.) */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side training loop over a COLLECTED bounded vocabulary —
    * semantics identical to the distributed rounds (same per-adjacency
    * frequency-weighted pair counts, same deterministic argmax: count
    * desc then UTF-8-lexicographic (l, r), same [[mergeSeqScala]]
    * left-to-right rewrite, same early-exhaustion stop) with
    * INCREMENTAL pair-count maintenance (the trick Sennrich's own
    * learn_bpe uses): the pair→count table and a pair→word occurrence
    * index are built once, and each merge round updates ONLY the words
    * that actually contain the winning pair — per round
    * O(affected words · their length), not O(Σ|w|) over the whole
    * vocabulary. The winner comes off a lazily-invalidated max-heap
    * (every count change pushes a fresh (count, l, r) entry; popped
    * entries whose count no longer matches the live table are
    * discarded), so argmax is O(log heap) amortized instead of a full
    * table scan per round. Net: a real 32k-merge budget over a
    * ~10⁶-word vocabulary is minutes of driver work where the full
    * re-count form was O(Σ|w| · merges) ≈ 10¹¹ operations.
    *
    * Exact parity with the full-re-count loop (spec-pinned, incl. a
    * 500-merge randomized run against the sequential model): the
    * deltas are per-adjacency and the occurrence index drops entries
    * at zero, so the live table after round r is bit-identical to a
    * fresh count over the rewritten vocabulary; identical counts +
    * identical tie-break ⇒ identical winner every round. */
  private def bpeTrainDriver(
      words: Array[(String, Long)], merges: Int,
      marker: String): Seq[(Int, String, String, Long)] = {
    val n = words.length
    val freqs = new Array[Long](n)
    val vocab = new Array[IndexedSeq[String]](n)
    var i = 0
    while (i < n) {
      freqs(i) = words(i)._2
      vocab(i) = charSymsScala(words(i)._1, marker)
      i += 1
    }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    // pair → (word index → occurrence count); exact — entries removed
    // at zero, so `where(p).keys` is precisely the words containing p
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashMap[Int, Int]]
    // one adjacency's delta: freq-weighted count and per-word occurrence
    // move together (+f/+1 on add, −f/−1 on remove)
    def bump(p: (String, String), idx: Int, df: Long, docc: Int): Unit = {
      val c = counts.getOrElse(p, 0L) + df
      if (c == 0L) counts.remove(p) else counts(p) = c
      val m = where.getOrElseUpdate(
        p, scala.collection.mutable.HashMap.empty[Int, Int])
      val o = m.getOrElse(idx, 0) + docc
      if (o == 0) { m.remove(idx); if (m.isEmpty) where.remove(p) }
      else m(idx) = o
    }
    i = 0
    while (i < n) {
      val syms = vocab(i)
      var j = 0
      while (j < syms.length - 1) {
        bump((syms(j), syms(j + 1)), i, freqs(i), 1); j += 1
      }
      i += 1
    }
    // max-heap: larger count wins; ties prefer the UTF-8-smaller
    // (left, right) — the same order the distributed struct-min uses
    val heapOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int =
          if (x._1 != y._1) java.lang.Long.compare(x._1, y._1)
          else if (x._2 != y._2) { if (utf8Less(x._2, y._2)) 1 else -1 }
          else if (x._3 != y._3) { if (utf8Less(x._3, y._3)) 1 else -1 }
          else 0
      }
    val heap = scala.collection.mutable.PriorityQueue
      .empty[(Long, String, String)](heapOrd)
    counts.foreach { case (p, c) => heap.enqueue((c, p._1, p._2)) }
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      // pop past stale entries (count no longer matches the live table);
      // every live count was pushed at its last change, so an empty pop
      // stream ⟺ the pair table is empty (the re-count loop's stop)
      var bestP: (String, String) = null
      var bestC = 0L
      while (bestP == null && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (counts.get((l, r)).contains(c)) { bestP = (l, r); bestC = c }
      }
      if (bestP == null) exhausted = true
      else {
        learned += ((step, bestP._1, bestP._2, bestC))
        val affected = where(bestP).keysIterator.toArray
        val touched = scala.collection.mutable.HashSet.empty[(String, String)]
        affected.foreach { idx =>
          val old = vocab(idx)
          val nw = mergeSeqScala(old, bestP._1, bestP._2)
          val f = freqs(idx)
          var j = 0
          while (j < old.length - 1) {
            val p = (old(j), old(j + 1))
            bump(p, idx, -f, -1); touched += p; j += 1
          }
          j = 0
          while (j < nw.length - 1) {
            val p = (nw(j), nw(j + 1))
            bump(p, idx, f, 1); touched += p; j += 1
          }
          vocab(idx) = nw
        }
        // re-push once per touched pair at its FINAL round-end count
        // (intermediate values were superseded within the round)
        touched.foreach { p =>
          counts.get(p).foreach(c => heap.enqueue((c, p._1, p._2)))
        }
        step += 1
      }
    }
    learned.toSeq
  }

  /** Greedy maximal EXACT merge batch from the fetched prefix of the
    * total (count desc, l, r) pair order — the pure selection rule
    * behind [[bpeTrain]]'s batched distributed rounds; see the
    * `mergeBatchProbe` scaladoc there for the exactness argument this
    * encodes, and TextDedupSpec's direct unit pins of each rule.
    * `top` must be the first `want + 1` entries of the total order
    * (or fewer, only when the pair universe itself is smaller);
    * `symbols` the complete current symbol set. Always selects at
    * least the head — one merge is sequential behavior by definition. */
  private[graft] def selectMergeBatch(
      top: IndexedSeq[(String, String, Long)],
      symbols: scala.collection.Set[String],
      want: Int): IndexedSeq[(String, String, Long)] = {
    val used = scala.collection.mutable.HashSet.empty[String]
    val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var i = 0
    var halt = false
    while (!halt && i < math.min(top.length, want)) {
      val (l, r, c) = top(i)
      if (batch.nonEmpty && (used(l) || used(r))) halt = true // rule (1)
      else {
        // `used` also holds pending outputs, so a pair whose output
        // repeats an EARLIER BATCH output halts too (conservative:
        // same-string fresh outputs are arguably safe, but rare
        // enough that the smaller batch costs nothing)
        val collide = symbols(l + r) || used(l + r)
        batch += ((l, r, c))
        used += l; used += r; used += (l + r)
        i += 1
        if (collide) halt = true // rule (3): inflation hazard past here
      }
    }
    // rule (2): first unselected entry's count bounds every count a
    // batch merge can decrease into existence or mint fresh; -1
    // (= −∞: counts are ≥ 1) when the fetched set IS the whole pair
    // universe, so nothing ranks below the batch at all
    val stopCnt = if (i < top.length) top(i)._3 else -1L
    (batch.head +: batch.tail.takeWhile(_._3 > stopCnt)).toIndexedSeq
  }

  /** @param maxDriverVocab vocabulary-size gate for the DRIVER-SIDE
    *   training loop: when the distinct-word table fits (default 2^20
    *   (word, freq) rows — bounded tens of MB), the merge rounds run
    *   as [[bpeTrainDriver]]'s in-memory loop instead of the batched
    *   distributed rounds. The r13 measurement that forced this: at
    *   sf0.1 the fixture's vocabulary is 31 words, and the distributed
    *   loop's 3.2 s was ENTIRELY per-round job-scheduling floor
    *   (~0.32 s/round over a 31-row cached frame). The corpus-width
    *   work — ONE tokenize + (word, freq) aggregate — is distributed
    *   either way; only the vocabulary-bounded rounds move, exactly
    *   the bounded-model discipline of the IVF centroid and MMR loops.
    *   Pass 0 to force the distributed rounds (parity spec does).
    * @param vocabCap OPT-IN scale tier for vocabularies PAST the
    *   driver gate (r14 verdict, closing the "32k jobs at a real
    *   budget" axis): when > 0 and the distinct-word table exceeds
    *   `maxDriverVocab`, training keeps only the top `vocabCap` words
    *   by (frequency desc, word) — one distributed top-k over the
    *   vocab aggregate — and runs the incremental driver loop on that
    *   truncated table instead of the batched distributed rounds. This
    *   is the standard practice (Sennrich's learn_bpe prunes by
    *   min-frequency; every production tokenizer trains on a capped/
    *   sampled vocabulary): under a Zipfian token distribution the
    *   dropped tail is a small fraction of PAIR MASS — each dropped
    *   word contributes freq·len adjacencies, and a merge decision
    *   flips only when the winner's lead over the runner-up is
    *   smaller than that dropped mass, so the high-count head rules
    *   are truncation-stable and divergence is confined to low-margin
    *   tail reorderings. Measured (TextDedupSpec, deterministic
    *   Zipf(α≈2) fixture, cap = half the vocabulary = 2.36% of pair
    *   mass dropped, 60-rule budget): identical leading rules while
    *   margins dominate (prefix 6), 87% rule-SET overlap overall —
    *   and that fixture is ADVERSARIAL (uniform random strings; real
    *   corpora concentrate pair mass in shared morphology, widening
    *   every margin). The cap is opt-in, never silent: with
    *   `vocabCap = 0` (default) an over-gate vocabulary still takes
    *   the exact distributed rounds below.
    * @param mergeBatchProbe driver-row bound for the BATCHED-EXACT
    *   distributed rounds (r17, closing the r16 verdict's one named
    *   residual: "exact distributed BPE past the driver gate is still
    *   one Spark job per merge round"). Each round now fetches the top
    *   `mergeBatchProbe + 1` pairs in the total (count desc, l, r)
    *   order with ONE TakeOrdered job, selects a maximal CONSECUTIVE
    *   prefix of merges that is provably identical to running them
    *   sequentially, and applies the whole batch in ONE mapPartitions
    *   pass — so a training run costs ~merges/avgBatch scheduling
    *   rounds instead of `merges`. Exactness argument (each clause is
    *   load-bearing; the parity + randomized-sweep specs in
    *   TextDedupSpec pin it against the sequential driver loop):
    *   applying merge (a,b)→ab only changes counts of pairs containing
    *   a, b (decrease) or ab (new, each occurrence of (x,ab)/(ab,y)
    *   coming from an (x,a)/(b,y) occurrence, so count-bounded by that
    *   SHARING pair). Therefore
    *   (1) a selected pair must share no symbol with an earlier
    *       selection — its count is then untouched by the batch's
    *       earlier merges, and since the batch is a consecutive prefix
    *       of the total order it is still the argmax at its own step;
    *   (2) every sharing pair ranks AFTER the selected prefix, so its
    *       pre-round count — which bounds every decreased and new
    *       pair — is at most `stopCnt`, the count of the first
    *       UNSELECTED entry (the halt entry, the probe boundary
    *       sentinel, or −∞ when the pair universe is exhausted);
    *       selections after the first are kept only while their count
    *       is STRICTLY above `stopCnt`, so no new/changed pair can
    *       reach a kept selection even on a count tie where the
    *       (l, r) tie-break would favor it;
    *   (3) a merge whose output string ALREADY NAMES an existing
    *       symbol (e.g. learning ("ab","c") after ("a","bc") minted
    *       "abc") can INCREASE counts of pairs containing that symbol
    *       anywhere below the probe, so it is selected (exact at its
    *       own step) but ends the batch. The existing-symbol registry
    *       is driver-maintained: one bounded job at loop start (the
    *       corpus alphabet + marker — code-point-bounded) plus each
    *       learned output. Measured (r17, COVERAGE.md's batched-exact
    *       BPE row; the vocabCap pin's morphology corpus: Zipf(α≈1),
    *       ~1M token instances / 20k types, forced distributed,
    *       steady-state run 2): 50
    *       merges in 25 rounds (avg batch 2.00), 18.7 s vs 26.6 s at
    *       probe=1; 200 merges in 77 rounds (avg batch 2.60 —
    *       batches WIDEN as merges diversify the symbol space),
    *       42.1 s vs 90.2 s. Registry-scale corpora never reach this
    *       path (the driver gate returns first); `1` degenerates to
    *       the r12 one-merge-per-round loop (spec-pinned equal). */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int,
      marker: String = "_", maxDriverVocab: Int = 1 << 20,
      vocabCap: Int = 0, mergeBatchProbe: Int = 64): DataFrame = {
    require(merges > 0, s"merges must be positive, got $merges")
    require(maxDriverVocab >= 0, s"maxDriverVocab must be >= 0: $maxDriverVocab")
    require(mergeBatchProbe >= 1, s"mergeBatchProbe must be >= 1: $mergeBatchProbe")
    val spark = df.sparkSession
    import spark.implicits._
    def driverResult(head: Array[org.apache.spark.sql.Row]): DataFrame = {
      val learned = bpeTrainDriver(
        head.map(r => (r.getString(0), r.getLong(1))), merges, marker)
      learned.toDF("step", "left", "right", "pair_count")
        .select(col("step").cast("long").as("step"), col("left"),
          col("right"), col("pair_count"))
    }
    val vocabAgg = graft.CachePool.register(
      withTokens(df.select(col(textCol)), textCol)
        .select(explode(col("_toks")).as("_w0"))
        .filter(col("_w0") =!= "")
        .groupBy(col("_w0")).agg(count(lit(1)).as("f"))
        .persist())
    if (maxDriverVocab > 0) {
      // bounded probe: ≤ maxDriverVocab+1 rows ever reach the driver
      val head = vocabAgg.limit(maxDriverVocab + 1).collect()
      if (head.length <= maxDriverVocab) {
        vocabAgg.unpersist()
        return driverResult(head)
      }
      if (vocabCap > 0) {
        // frequency-ranked truncation: a distributed TakeOrdered over
        // the vocab aggregate (deterministic tie-break on the word),
        // never a full collect — ≤ vocabCap rows reach the driver
        val top = vocabAgg
          .orderBy(col("f").desc, col("_w0"))
          .limit(vocabCap)
          .collect()
        vocabAgg.unpersist()
        return driverResult(top)
      }
    }
    var vocab = graft.CachePool.register(
      vocabAgg
        .select(col("f"), charSyms(col("_w0"), marker).as("syms"))
        .persist())
    val vocabSchema = new StructType()
      .add("f", LongType).add("syms", ArrayType(StringType))
    // per-round narrow passes in plain Scala (r12): the HOF explode /
    // fold forms were interpreted per symbol per word per round —
    // mapPartitions keeps the identical distributed shape (the pair
    // SUM below is still the map-side-combined aggregate) at loop cost
    val pairSchema = new StructType()
      .add("l", StringType).add("r", StringType).add("f", LongType)
    def pairFrame(v: DataFrame): DataFrame = v.mapPartitions { rows =>
      rows.flatMap { row =>
        val f = row.getLong(0)
        val syms = row.getSeq[String](1)
        // a fully-merged word (ONE symbol — e.g. a single-char word
        // whose (char, marker) pair won an earlier round) has no
        // adjacent pairs (round-11 ADVICE: the HOF form crashed here)
        if (syms.length < 2) Iterator.empty
        else (0 until syms.length - 1).iterator
          .map(j => Row(syms(j), syms(j + 1), f))
      }
    }(Encoders.row(pairSchema))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    // existing-symbol registry for batch rule (3) in the scaladoc —
    // ONE bounded job (distinct code points of the corpus plus the
    // marker's first char), then grown by each learned output; a
    // symbol later merged out of every word leaves a stale entry,
    // which only ever SHRINKS a batch (conservative, never wrong)
    val symbolSet = scala.collection.mutable.HashSet.empty[String]
    symbolSet ++= vocab.select(explode(col("syms")).as("s")).distinct()
      .as[String].collect()
    // ONE job per round (r12, now batched r17): the round's own
    // TakeOrdered job is the action that fills the current vocab's
    // cache (its plan reads the PARENT's still-live cache), so a
    // separate count() materialization job would be pure scheduling
    // latency — the parent unpersists only AFTER the probe lands,
    // which preserves the no-2^merges-lineage guarantee the per-round
    // persists exist for
    var parent: Option[DataFrame] = None
    val truncateEvery = graft.CachePool.planTruncateEvery
    var roundsSinceTruncate = 0
    while (step <= merges && !exhausted) {
      val want = math.min(merges - step + 1, mergeBatchProbe)
      // bounded: ≤ want+1 rows per round reach the driver (the +1 is
      // the boundary sentinel for the tie-truncation rule (2))
      val top = pairFrame(vocab)
        .groupBy(col("l"), col("r"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(want + 1)
        .collect()
      parent.foreach(_.unpersist()) // vocab's cache is live past here
      parent = Some(vocab)
      if (top.isEmpty) {
        // every word fully merged — the learned table simply stops
        // early (the encode side replays whatever was learned)
        exhausted = true
      } else {
        val kept = selectMergeBatch(
          top.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toIndexedSeq,
          symbolSet, want)
        learned ++= kept.zipWithIndex.map { case ((l, r, c), j) =>
          (step + j, l, r, c)
        }
        step += kept.length
        val keptOutputs = kept.map { case (l, r, _) => l + r }
        symbolSet ++= keptOutputs
        val rules = kept.map { case (l, r, _) => (l, r) }.toIndexedSeq
        val next = vocab.mapPartitions { rows =>
          rows.map { row =>
            var s = row.getSeq[String](1).toIndexedSeq
            rules.foreach { case (a, b) => s = mergeSeqScala(s, a, b) }
            Row(row.getLong(0), s)
          }
        }(Encoders.row(vocabSchema)).toDF()
        // lineage truncation (r17, COVERAGE.md BPE row): each round
        // nests the prior round's cached plan inside the new round's
        // InMemoryRelation, and the per-action execution-event plan
        // string walks every nested AQE level — a 50-round run OOM'd
        // an 8g driver BUILDING THAT STRING before any task ran (the
        // per-round persists bound recompute, not plan depth). Every
        // `truncateEvery` rounds the vocab is rebuilt as an EAGER
        // localCheckpoint — its plan collapses to a flat scan of the
        // checkpointed blocks, so plan depth is bounded by the
        // truncation period whatever the merge budget. Checkpoint
        // rounds go through CachePool.registerLocalCheckpoint, which
        // captures the checkpoint's materialized RDD for DETERMINISTIC
        // release at the pipeline boundary (DataFrame.unpersist cannot
        // reach checkpoint blocks) and keeps one pool registration per
        // round so the round count stays observable (the round-count
        // spec).
        roundsSinceTruncate += 1
        vocab =
          if (roundsSinceTruncate >= truncateEvery) {
            roundsSinceTruncate = 0
            graft.CachePool.registerLocalCheckpoint(next)
          } else graft.CachePool.register(next.persist())
      }
    }
    parent.foreach(_.unpersist())
    vocab.unpersist()
    vocabAgg.unpersist()
    learned.toSeq.toDF("step", "left", "right", "pair_count")
      .select(col("step").cast("long").as("step"), col("left"),
        col("right"), col("pair_count"))
  }

  /** APPLY side of the tokenizer [[bpeTrain]] learns: encode each
    * document with a learned merge table, replaying the merges IN
    * LEARNED ORDER over every word (the table is ordered — rule k can
    * only fire on symbols rules 1..k−1 built; applying out of order
    * is a different, wrong tokenizer). Adds `bpe_tokens` (the per-doc
    * symbol array, per-word arrays flattened in word order) and
    * `n_bpe_tokens`.
    *
    * Scale shape — FIXTURE-SIZED TABLES ONLY: the merge table is a
    * LITERAL folded into the plan, one chained [[applyMerge]] HOF
    * layer PER RULE, so plan size (and Catalyst analysis/codegen
    * time) is linear in the table — fine at tens of rules, and
    * structurally unable to plan a real tokenizer's ~32k merges.
    * This form is kept as the executable spec the other two encodes
    * parity-pin against; production encoding is
    * [[bpeEncodeGreedy]] (broadcast rank map, constant plan,
    * O(len · rules-applied) per word). */
  def bpeEncode(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], marker: String = "_"): DataFrame = {
    require(merges.nonEmpty, "bpeEncode needs a non-empty merge table")
    require(!df.columns.exists(Seq("_toks", "bpe_tokens", "n_bpe_tokens").contains),
      "bpeEncode: _toks/bpe_tokens/n_bpe_tokens are output column names")
    val encodedWord = merges.foldLeft[Column => Column](w => charSyms(w, marker)) {
      case (enc, (a, b)) => w => applyMerge(enc(w), a, b)
    }
    withTokens(df, textCol)
      .withColumn("bpe_tokens",
        flatten(transform(filter(col("_toks"), w => w =!= ""),
          w => encodedWord(w))))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))
      .drop("_toks")
  }

  /** [[bpeEncode]] through the DISTINCT-WORD vocabulary — the same
    * trick that makes TRAINING corpus-feasible, applied at encode
    * time: Spark's higher-order array functions are CodegenFallback
    * (interpreted per evaluation), so the narrow per-row encode pays
    * the 10-fold chain once per WORD INSTANCE — measured 31.7 s at
    * sf0.1 vs 4 s for this path, which folds each distinct word once
    * (vocabulary-bounded interpreted work), then joins the encoded
    * word table back onto position-indexed tokens and reassembles
    * per-doc arrays under one doc-keyed shuffle. Identical output to
    * [[bpeEncode]] (spec-pinned). Per-distinct-word cost is still the
    * FULL O(|table|) rule loop, so for real-size tables prefer
    * [[bpeEncodeGreedy]] (O(len · rules-applied) per word, no
    * reassembly shuffle); the vocab route only wins when per-word
    * work is so expensive that deduplicating word instances pays for
    * the join — true for the interpreted HOF chain it replaced, not
    * for the greedy loop. */
  def bpeEncodeByVocab(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], marker: String = "_"): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeByVocab needs a non-empty merge table")
    require(!df.columns.exists(
      Seq("_toks", "_pos", "_w", "_syms", "bpe_tokens", "n_bpe_tokens").contains),
      "bpeEncodeByVocab: _toks/_pos/_w/_syms/bpe_tokens/n_bpe_tokens are internal names")
    val toks = withTokens(df, textCol)
      .select(col(idCol), posexplode(filter(col("_toks"), w => w =!= ""))
        .as(Seq("_pos", "_w")))
    // each distinct word folds once through the merge table as PLAIN
    // LOOPS (r12): the chained applyMerge HOFs were interpreted per
    // symbol per rule — mergeSeqScala is byte-identical (spec-pinned
    // against bpeEncode and the sequential model) at loop cost
    val encSchema = new StructType()
      .add("_w", StringType).add("_syms", ArrayType(StringType))
    val vocabEnc = toks.select(col("_w")).distinct().mapPartitions { rows =>
      rows.map { r =>
        val w = r.getString(0)
        var syms = charSymsScala(w, marker)
        merges.foreach { case (a, b) => syms = mergeSeqScala(syms, a, b) }
        Row(w, syms)
      }
    }(Encoders.row(encSchema)).toDF()
    val perDoc = toks.join(vocabEnc, Seq("_w"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("_pos"), col("_syms")))),
        p => p.getField("_syms"))).as("bpe_tokens"))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))
    df.join(perDoc, Seq(idCol), "left")
      .withColumn("bpe_tokens",
        coalesce(col("bpe_tokens"), array().cast("array<string>")))
      .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
  }

  /** One word through the merge table, replay-exact at
    * O(len · rules-applied) instead of [[bpeEncodeByVocab]]'s
    * O(len · |table|): rule indices whose pair is PRESENT in the
    * current symbol sequence sit in a min-heap; pop ascending, apply
    * each popped rule as one [[mergeSeqScala]] left-to-right pass, and
    * after an applied merge re-scan the (word-length) sequence pushing
    * pair indices GREATER than the applied one (a table is ordered —
    * rules before the current one already had their turn, exactly the
    * fold's semantics; HuggingFace-style lowest-rank-first greedy IS
    * this discipline). Byte-identical to [[bpeEncode]]'s fold by
    * construction: a rule fires iff its pair is present when its turn
    * comes, stale heap entries (pair merged away, or re-pushed
    * duplicates) no-op through the same guarded pass. `rank` maps a
    * pair to ALL its table indices so even a duplicated table entry
    * replays faithfully. */
  private[graft] def greedyEncodeWord(
      w: String, marker: String,
      rank: scala.collection.Map[(String, String), List[Int]],
      rules: IndexedSeq[(String, String)]): IndexedSeq[String] = {
    var syms = charSymsScala(w, marker)
    if (syms.length < 2) return syms
    val heap = scala.collection.mutable.PriorityQueue.empty[Int](Ordering[Int].reverse)
    var i = 0
    while (i < syms.length - 1) {
      rank.getOrElse((syms(i), syms(i + 1)), Nil).foreach(heap.enqueue(_))
      i += 1
    }
    var last = -1
    while (heap.nonEmpty) {
      val r = heap.dequeue()
      if (r > last) {
        last = r
        val (a, b) = rules(r)
        val merged = mergeSeqScala(syms, a, b)
        if (merged.length != syms.length) {
          syms = merged
          var j = 0
          while (j < syms.length - 1) {
            rank.getOrElse((syms(j), syms(j + 1)), Nil)
              .foreach(idx => if (idx > r) heap.enqueue(idx))
            j += 1
          }
        }
      }
    }
    syms
  }

  /** CONSTANT-PLAN encode for real-size merge tables — the scale form
    * of the [[bpeTrain]]→encode pair (a production tokenizer carries
    * ~32k merges): the learned table rides a BROADCAST rank map (pair
    * → merge priorities) into ONE mapPartitions pass that encodes each
    * word with the standard greedy lowest-rank-first merge loop
    * ([[greedyEncodeWord]] — replay-exact vs [[bpeEncode]], parity-
    * pinned in the spec suite).
    *
    * Why a third encode form exists: [[bpeEncode]] folds one chained
    * HOF layer into the expression tree PER RULE — plan size (and
    * Catalyst analysis/codegen time) linear in the table, structurally
    * unable to plan a 32k-merge vocabulary — and [[bpeEncodeByVocab]]
    * keeps the plan constant but pays the full O(|table|) rule loop
    * per DISTINCT WORD plus a doc-keyed reassembly shuffle. Here the
    * plan is constant at ANY table size, per-word cost is
    * O(len · rules-applied) ≤ O(len²) independent of the table, and
    * the pass is embarrassingly parallel — no shuffle, no join, the
    * model ships once per executor via the broadcast (the Spark
    * idiom for serving a trained model to a map). Same output columns
    * and values as the other two forms.
    *
    * CALLER CONTRACT: select the columns you need BEFORE calling —
    * the mapPartitions boundary carries every input column through
    * deserialization, so Catalyst cannot prune the scan below it (at
    * 100 TB an unselected call drags the whole table through the
    * encode; PlanSpec pins the t31/t38 call sites narrow). */
  def bpeEncodeGreedy(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], marker: String = "_"): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeGreedy needs a non-empty merge table")
    require(!df.columns.exists(Seq("_toks", "bpe_tokens", "n_bpe_tokens").contains),
      "bpeEncodeGreedy: _toks/bpe_tokens/n_bpe_tokens are output column names")
    val spark = df.sparkSession
    val rules = merges.toIndexedSeq
    val rankMap: Map[(String, String), List[Int]] =
      rules.zipWithIndex.groupBy(_._1).map { case (p, xs) =>
        p -> xs.map(_._2).sorted.toList
      }
    val bRank = spark.sparkContext.broadcast(rankMap)
    val bRules = spark.sparkContext.broadcast(rules)
    val staged = withTokens(df, textCol)
    val toksIdx = staged.schema.fieldIndex("_toks")
    val outSchema = staged.schema
      .add("bpe_tokens", ArrayType(StringType, containsNull = false))
      .add("n_bpe_tokens", LongType)
    staged.mapPartitions { rows =>
      val rank = bRank.value
      val rs = bRules.value
      rows.map { r =>
        val toks = r.getSeq[String](toksIdx)
        // null text tokenizes to a null _toks array; propagate null
        // output columns exactly like bpeEncode's HOF fold does
        // (aggregate(null) → null, size(null) → null)
        if (toks == null) Row.fromSeq(r.toSeq :+ null :+ null)
        else {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          toks.foreach { w =>
            if (w.nonEmpty) out ++= greedyEncodeWord(w, marker, rank, rs)
          }
          Row.fromSeq(r.toSeq :+ out.toSeq :+ out.length.toLong)
        }
      }
    }(Encoders.row(outSchema)).drop("_toks")
  }

  /** Okapi BM25 top-`topK` document retrieval for a fixed query-term
    * set (Robertson & Zaragoza 2009, "The Probabilistic Relevance
    * Framework: BM25 and Beyond") — the ranking primitive behind
    * retrieval-based curation and RAG-corpus selection.
    *
    * ONE shuffle end-to-end: a single tokenize→explode→groupBy(doc)
    * pass produces, per document, its length `dl` AND one conditional
    * tf column per query term (count-when, map-side combined) — no
    * per-term scan, no tf⋈df join like the textbook formulation. The
    * corpus statistics (N, Σdl, per-term document frequencies) are ONE
    * scalar-aggregate row collected driver-side — bounded metadata,
    * |queryTerms|+2 values, the IVF-centroid class.
    *
    * Engine-exactness discipline: `ln` is correctly rounded in no
    * common libm, so each term's idf is QUANTIZED driver-side —
    * ⌊65536·ln(1 + (N−df+0.5)/(df+0.5))⌋ as a BIGINT literal (the x27
    * PSI trick) — and everything downstream is add/multiply/divide over
    * exact-integer operands in a fixed left-assoc DAG (correctly rounded per
    * IEEE 754 in every engine). (k1+1) and (1−b) are computed as
    * `k1 + 1.0` / `1.0 − b` on BOTH sides (not pasted as decimal
    * literals) so the constant-derivation DAG is shared too.
    *
    * Scale: the groupBy shuffles (doc_id, dl, 4×tf) — never token
    * rows; the final top-k is orderBy+limit = TakeOrderedAndProject
    * (per-partition heaps, no global sort). Docs matching zero query
    * terms are dropped before ranking. */
  def bm25Rank(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      s"queryTerms must be non-empty and distinct: $queryTerms")
    val base = withTokens(df.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol), explode(col("_toks")).as("term"))
      .filter(col("term") =!= "")
    val tfCols = queryTerms.indices.map(i =>
      count(when(col("term") === queryTerms(i), 1)).as(s"tf$i"))
    val perDoc = base.groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    // Bounded driver-side metadata: N plus ONE row of |queryTerms|+1
    // scalar aggregates (corpus length sum + per-term doc frequencies).
    val nDocs = df.count()
    val statAggs = sum(col("dl")).as("sumdl") +: queryTerms.indices.map(i =>
      sum((col(s"tf$i") > 0).cast("long")).as(s"df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*).head()
    val sumDl = stats.getAs[Long]("sumdl")
    val avgdl = sumDl.toDouble / nDocs.toDouble
    // Quantized idf per term (driver-side Math.log == Spark's ln).
    val idfQ = queryTerms.indices.map { i =>
      val dfT = stats.getAs[Long](s"df$i").toDouble
      math.floor(65536.0 *
        math.log(1.0 + (nDocs.toDouble - dfT + 0.5) / (dfT + 0.5))).toLong
    }
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    def contrib(i: Int): Column = {
      val tfD = col(s"tf$i").cast("double")
      when(col(s"tf$i") > 0,
        lit(idfQ(i).toDouble) * tfD * lit(k1p1) /
          (tfD + lit(k1) * (lit(oneMinusB) +
            lit(b) * col("dl").cast("double") / lit(avgdl))))
        .otherwise(lit(0.0))
    }
    val score = queryTerms.indices.map(contrib)
      .reduceLeft(_ + _) // fixed left-assoc fold, mirrored in the oracle
    val anyHit = queryTerms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _)
    val ranked = perDoc.filter(anyHit)
      .withColumn("score", score)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
    // row_number over the already-limited frame: a single-partition
    // window over <= topK rows (bounded by construction).
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol).asc)
    ranked.withColumn("rk", row_number().over(w))
      .select(col(idCol), col("dl"), col("score"), col("rk"))
  }

  /** Corpus-trained bigram cross-entropy score per document — the
    * perplexity-filter primitive (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", which ranks documents by LM perplexity; the demonstrable
    * self-contained variant trains the bigram model on the corpus
    * itself — swap the model table for an external LM's to reproduce
    * CCNet exactly).
    *
    * Model: add-one-smoothed bigram LM. c(v,w) = corpus bigram counts;
    * c(v) = Σ_w c(v,w) (context totals, derived FROM the bigram table
    * — one fewer corpus pass); V = context-vocabulary size.
    * p̂(w|v) = (c(v,w)+1)/(c(v)+V).
    *
    * Engine-exactness: each bigram's log-probability is quantized ONCE
    * in the model table — q(v,w) = ⌊65536·ln((c(v,w)+1)/(c(v)+V))⌋, a
    * BIGINT — so the per-document score Σ occ·q is an INTEGER sum:
    * order-free, bit-exact on any engine, no float accumulation at all
    * (stronger than the x27 pattern, which still sums doubles).
    *
    * Scale: every stage is linear — one bigram explode pre-combined to
    * (doc, bigram, occ), corpus counts are vocabulary²-bounded
    * aggregates, the model join is key-partitioned on the bigram, and
    * the final per-doc fold is a hash agg of integers. No windows, no
    * quadratic candidate sets, nothing collected but the scalar V. */
  def bigramCrossEntropy(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val staged = withShingles(df.select(col(idCol), col(textCol)), textCol, k = 2)
    // (doc, bigram, occ): map-side combined before any join. Persisted
    // (r18): the model side (cvw -> ctx -> model) AND the scoring probe
    // both consume it, and the eager context-vocabulary count below
    // otherwise re-runs the tokenize+shingle+aggregate chain a third
    // time — the frame is the compact POST-aggregate projection, so
    // caching it is cheap where caching the shingle arrays is not.
    val docBi = graft.CachePool.register(staged
      .select(col(idCol), explode(col("_sh")).as("bg"))
      .filter(col("bg").contains(" ")) // <2-token docs collapse to a 1-shingle
      .groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("occ"))
      .persist())
    // distinct-bigram counts: consumed by the context marginal AND the
    // per-bigram model join — tiny (|distinct bigrams| rows), persisted
    val cvw = graft.CachePool.register(
      docBi.groupBy(col("bg")).agg(sum(col("occ")).as("cvw"))
        .persist())
    val ctx = cvw
      .withColumn("v", substring_index(col("bg"), " ", 1))
      .groupBy(col("v")).agg(sum(col("cvw")).as("cv"))
    val vocab = ctx.count() // bounded scalar: context-vocabulary size
    val model = cvw
      .withColumn("v", substring_index(col("bg"), " ", 1))
      .join(ctx, "v")
      .withColumn("q",
        floor(lit(65536.0) *
          log((col("cvw") + lit(1L)).cast("double") /
            (col("cv") + lit(vocab)).cast("double"))).cast("long"))
      .select(col("bg"), col("q"))
    val scored = docBi.join(model, "bg")
      .groupBy(col(idCol))
      .agg(sum(col("occ")).as("n_bigrams"),
        sum(col("occ") * col("q")).as("logprob_q"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_q"), lit(0L)).as("logprob_q"))
  }

  /** Stable 128-bit content fingerprint (hex md5 of normalized text) —
    * engine-independent, used for exact dedup keys. */
  def fingerprintMd5(c: Column): Column = md5(normalize(c).cast("binary"))

  /** 64-bit rolling document fingerprint over a MATERIALIZED shingle
    * array: xxhash64 per shingle folded with bitwise XOR —
    * order-insensitive, resilient to small edits. */
  def fingerprintRollingFromShingles(sh: Column): Column =
    aggregate(transform(sh, s => xxhash64(s)), lit(0L), (acc, h) => acc.bitwiseXOR(h))
}
