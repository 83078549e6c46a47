package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis column-functions for large-scale training-data pipelines:
  * tokenization, token counting, n-gram heuristic language ID, quality
  * scoring, and document fingerprinting. All pure Catalyst expressions
  * (array higher-order functions where per-row, plain expressions
  * elsewhere) — no UDFs, so a 100 TB
  * corpus scan stays in one whole-stage-codegen pass over the Parquet scan.
  */
object TextAnalysis {

  /** Canonical text normalization for corpus keys and dedup inputs:
    * lowercase, collapse whitespace runs to one space, trim. Applied
    * BEFORE fingerprinting when case/spacing variants should collapse
    * (the reference-free standard normalization of web-corpus dedup).
    * The whitespace class is EXPLICIT (space/tab/newline/formfeed/CR/
    * vertical-tab): Java's `\s` includes \x0B but RE2's does not, and an
    * independent verification engine must normalize identically.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "[ \\t\\n\\f\\r\\x0B]+", " "))

  /** Whitespace tokenization; empty/blank text -> empty array. */
  def tokens(text: Column): Column =
    when(trim(text) === "", array().cast(ArrayType(StringType)))
      .otherwise(split(trim(text), "\\s+"))

  /** Single-pass stats struct (n_tokens, n_chars, n_alpha, hits_<i> per
    * [[StopwordLists]] entry) — ONE walk over the document's bytes
    * ([[graft.functions.TextExpressions.TextStats]]) instead of the ~12
    * passes the composed split/probe/regex form costs. [[langId]],
    * [[qualityScore]] and [[tokenCount]] are arithmetic over this struct;
    * identical TextStats subtrees within one projection are collapsed by
    * codegen subexpression elimination, so stacking them costs one pass.
    */
  def textStats(text: Column): Column =
    graft.functions.TextExpressions.textStats(text, StopwordLists.map(_._2))

  /** Token count (whitespace segmentation). */
  def tokenCount(text: Column): Column = textStats(text).getField("n_tokens")

  /** BPE-ish subword-unit count: alphanumeric runs and individual
    * punctuation marks each count as one unit — a deterministic proxy for
    * tokenizer-cost estimation without a vocab file.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small and literal: language ID at corpus scale
    * is a scan-side expression, not a model call.
    */
  val StopwordLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "fr" -> Seq("le", "la", "les", "et", "un", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有")
  )

  /** Heuristic language ID: argmax of stopword hits, ties broken by list
    * order above; no hits at all -> "und" (undetermined). One byte-walk
    * via [[textStats]].
    */
  def langId(text: Column): Column = {
    val st = textStats(text)
    val hits = StopwordLists.zipWithIndex.map { case ((lang, _), i) =>
      lang -> st.getField(s"hits_$i")
    }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight makes earlier langs win ties: en beats de beats es ...
    hits.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Quality score in [0,1]: weighted blend of alpha ratio, stopword ratio,
    * and a saturating length factor (reference-free; the standard
    * length/punct/stopword heuristics of web-scale corpus filtering).
    * One byte-walk via [[textStats]]; the blend arithmetic (and its
    * null propagation: null text scores 0.3 through the least(null, 1)
    * length factor) is unchanged from the composed form.
    */
  def qualityScore(text: Column): Column = {
    val st = textStats(text)
    val nTok     = st.getField("n_tokens").cast(DoubleType)
    val nChar    = st.getField("n_chars").cast(DoubleType)
    val alpha    = st.getField("n_alpha").cast(DoubleType)
    val alphaRatio = when(nChar > 0, alpha / nChar).otherwise(lit(0.0))
    val enHits   = st.getField("hits_0").cast(DoubleType)
    val stopRatio = when(nTok > 0, enHits / nTok).otherwise(lit(0.0))
    val lenFactor = least(nTok / 100.0, lit(1.0))
    alphaRatio * 0.4 + stopRatio * 0.3 + lenFactor * 0.3
  }

  /** Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", table A1) —
    * the per-document rule VECTOR plus the composed pass flag, over a
    * pre-tokenized array column:
    *
    *  - `n_words`, `mean_word_len` (chars per word; 0.0 when empty)
    *  - `frac_alpha_words` — fraction of words containing at least one
    *    ASCII letter (rule: ≥ 0.8)
    *  - `hash_word_ratio` / `ellipsis_word_ratio` — '#' and ellipsis
    *    ('...' or the unicode '…') occurrences per word (rules: ≤ 0.1
    *    each)
    *  - `frac_bullet_lines` / `frac_ellipsis_lines` — the two
    *    LINE-based A1 rules: fraction of newline-split lines whose
    *    left-trimmed first character is a bullet ('•', '-', '*';
    *    rule: ≤ 0.9) and fraction whose right-trimmed text ends with
    *    an ellipsis (rule: ≤ 0.3). Denominator is ALL split lines
    *    (blank lines included) — both engines split identically, and a
    *    document with no newline is its own single line.
    *  - `stop_hits` — count of words in Gopher's 8-stopword set
    *    (rule: ≥ 2)
    *  - `pass_gopher` — all of the above plus
    *    `minWords ≤ n_words ≤ maxWords` and `3 ≤ mean_word_len ≤ 10`
    *
    * All columns are scan-side arithmetic/HOFs over the token array —
    * no shuffle, no UDF; per-word/per-line work is bounded by the
    * document. Unlike the blended [[qualityScore]] (a ranking signal),
    * this is the REJECTION rule set production corpus filters apply,
    * exposed as columns so a pipeline can audit WHICH rule fired.
    */
  def gopherRules(toks: Column, text: Column,
                  minWords: Int = 50, maxWords: Int = 100000): Column = {
    val n = size(toks)
    val nD = n.cast(DoubleType)
    val meanLen = when(n > 0,
      round(aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast(LongType))
        .cast(DoubleType) / nD, 6)).otherwise(lit(0.0))
    val alphaFrac = when(n > 0,
      round(size(filter(toks, t => t.rlike("[A-Za-z]"))).cast(DoubleType) / nD, 6))
      .otherwise(lit(0.0))
    val hashes = (length(text) - length(replace(text, lit("#"), lit("")))).cast(LongType)
    val ellipses = (((length(text) - length(replace(text, lit("..."), lit("")))) / 3) +
      (length(text) - length(replace(text, lit("…"), lit(""))))).cast(LongType)
    val hashRatio = when(n > 0, round(hashes.cast(DoubleType) / nD, 6))
      .otherwise(lit(0.0))
    val ellipsisRatio = when(n > 0, round(ellipses.cast(DoubleType) / nD, 6))
      .otherwise(lit(0.0))
    // Line rules: the denominator counts every newline-split segment
    // (split never yields an empty array — an empty doc is one blank
    // line, which matches neither predicate).
    val lines = split(text, "\n")
    val nLines = size(lines).cast(DoubleType)
    val bulletFrac = round(size(filter(lines, l =>
      substring(ltrim(l), 1, 1).isin("•", "-", "*"))).cast(DoubleType) / nLines, 6)
    val ellipsisLineFrac = round(size(filter(lines, l => {
      val r = rtrim(l)
      endswith(r, lit("...")) || endswith(r, lit("…"))
    })).cast(DoubleType) / nLines, 6)
    val stopHits = size(filter(toks, t =>
      lower(t).isin(GopherStopwords: _*))).cast(LongType)
    val pass = n.between(minWords, maxWords) &&
      meanLen.between(3.0, 10.0) &&
      hashRatio <= 0.1 && ellipsisRatio <= 0.1 &&
      bulletFrac <= 0.9 && ellipsisLineFrac <= 0.3 &&
      alphaFrac >= 0.8 && stopHits >= 2L
    struct(n.cast(LongType).as("n_words"), meanLen.as("mean_word_len"),
      alphaFrac.as("frac_alpha_words"), hashRatio.as("hash_word_ratio"),
      ellipsisRatio.as("ellipsis_word_ratio"),
      bulletFrac.as("frac_bullet_lines"),
      ellipsisLineFrac.as("frac_ellipsis_lines"),
      stopHits.as("stop_hits"), pass.as("pass_gopher"))
  }

  /** Gopher's "stop word" presence list (loc. cit.): a document must
    * contain at least two of these to pass.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Word n-gram shingles from a PRE-TOKENIZED array column (distinct),
    * the unit of Jaccard / MinHash dedup. `n >= 1`; fewer than n tokens
    * yields an empty array.
    *
    * Perf contract: `toks` should be an attribute produced by a separate
    * projection (`df.select(..., tokens(col).as("toks"))`), not an inline
    * `tokens(text)` call — the lambda below references `toks` once per
    * shingle, so an inlined split() would re-tokenize O(tokens) times per
    * row. Catalyst's CollapseProject keeps the two-projection shape
    * because the alias is non-cheap and used repeatedly.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    // Single-kernel custom expression; the built-in equivalent
    // (array_distinct over transform+sequence+slice+concat_ws) is four
    // nested CodegenFallback HOFs — see TextExpressions.WordShingles.
    graft.functions.TextExpressions.wordShingles(toks, n)

  /** Word n-gram shingles straight from text — convenience form; prefer
    * [[shinglesFromTokens]] over an aliased token column in hot paths.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Patterns a corpus-safety / filtering pass counts per document. Kept
    * deliberately in the regex subset that behaves identically across
    * Java regex and RE2-style engines (no backrefs, no lookaround) so the
    * counts are verifiable by an independent engine.
    */
  val FilterPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "url"   -> "https?://[^\\s]+",
    "long_digits" -> "[0-9]{6,}")

  /** Per-pattern occurrence count (one column per pattern) — the
    * PII-/boilerplate-density signal of web-scale corpus filtering, as a
    * pure scan-side expression (no UDF, no shuffle).
    */
  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** PII / unsafe-pattern redaction: every match of each [[FilterPatterns]]
    * entry replaced with its `<name>` sentinel, applied IN LIST ORDER
    * (order is part of the contract — an email inside a URL is redacted by
    * whichever pattern runs first). Pure scan-side regexp_replace chain:
    * redacting a 100 TB corpus is one codegen'd projection over the scan,
    * no shuffle, and composes with the quality/language kernels in the
    * same pass. Patterns stay in the Java/RE2-identical subset so an
    * independent engine produces byte-identical redactions.
    */
  def redact(text: Column,
             patterns: Seq[(String, String)] = FilterPatterns): Column =
    patterns.foldLeft(text) { case (c, (name, p)) =>
      regexp_replace(c, p, s"<$name>")
    }

  /** Hosts of every http(s) URL in the document, normalized for domain
    * accounting: lowercased, `www.` stripped, port dropped. The unit of
    * per-domain corpus quotas (cap crawl domination) and provenance
    * aggregation. Group-1 extraction keeps it one regex pass.
    */
  def urlHosts(text: Column): Column =
    transform(
      regexp_extract_all(text, lit("https?://([^/\\s:]+)"), lit(1)),
      h => regexp_replace(lower(h), "^www\\.", ""))

  /** Overlapping token-window chunks (size `chunkSize`, step `stride`) from
    * a PRE-TOKENIZED array column — the standard concat-and-chunk
    * alternative for context-window packing and RAG indexing. Returns an
    * array of {chunk_idx, chunk_toks} structs; callers `posexplode` to
    * rows. Chunk starts at 0, stride, 2*stride ... while < n_tokens, so
    * the last chunk may be short; an empty token array yields no chunks.
    * Scan-side sequence+slice — no shuffle, no driver loop; the
    * per-document work is O(n_tokens * chunkSize / stride).
    */
  def overlappingChunks(toks: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize >= 1 && stride >= 1, "chunkSize and stride must be >= 1")
    when(size(toks) > 0,
      transform(
        sequence(lit(0), (size(toks) - 1).cast(IntegerType), lit(stride)),
        (start, i) => struct(
          i.as("chunk_idx"),
          slice(toks, start + 1, lit(chunkSize)).as("chunk_toks"))))
      .otherwise(array().cast(ArrayType(StructType(Seq(
        StructField("chunk_idx", IntegerType, nullable = false),
        StructField("chunk_toks", ArrayType(StringType), nullable = true))))))
  }

  /** Within-document duplicate-line statistics (the Gopher repetition
    * signals): over an array-of-lines column, the fraction of non-blank
    * lines that are duplicates of another line and the fraction of their
    * characters inside duplicated lines. Feed `split(text, "\n")` for
    * real multi-line corpora, or any deterministic segmentation (the
    * gate uses fixed-width token chunks — the fixture has no newlines).
    * Scan-side only: array HOFs per row, no shuffle, no explode.
    * Returns struct(n_lines, dup_line_frac, dup_char_frac), fractions
    * rounded to 6 (cross-engine double stability).
    */
  def dupLineStats(lines: Column): Column =
    dupLineStatsKernel(lines, chunkWidth = 0)

  /** [[dupLineStats]] straight from a TOKEN array, segmented into
    * `width`-token lines INSIDE the kernel (no intermediate chunk array
    * — the fused form of `dupLineStats(tokenChunkLines(toks, width))`,
    * same output bit-for-bit).
    */
  def dupLineStatsFromTokens(toks: Column, width: Int): Column = {
    require(width >= 1, s"line width must be >= 1, got $width")
    dupLineStatsKernel(toks, chunkWidth = width)
  }

  private def dupLineStatsKernel(lines: Column, chunkWidth: Int): Column = {
    // Single-pass codegen'd kernel; the four field references below
    // collapse to one kernel call via codegen subexpression elimination
    // (the array-HOF composition was CodegenFallback and re-evaluated
    // the whole chain per field — see TextExpressions.LineDupStats).
    val st = graft.functions.TextExpressions.lineDupStats(lines, chunkWidth)
    val n = st.getField("n_lines")
    val nd = st.getField("n_distinct")
    val sumAll = st.getField("sum_chars")
    val sumDist = st.getField("sum_chars_distinct")
    struct(
      n.as("n_lines"),
      when(n > 0, round((n - nd).cast(DoubleType) / n.cast(DoubleType), 6))
        .otherwise(lit(0.0)).as("dup_line_frac"),
      when(sumAll > 0,
        round((sumAll - sumDist).cast(DoubleType) / sumAll.cast(DoubleType), 6))
        .otherwise(lit(0.0)).as("dup_char_frac"))
  }

  /** Deterministic line segmentation for corpora WITHOUT newlines: the
    * token array re-joined in fixed-width chunks (`width` tokens per
    * line, last line ragged). Gives [[dupLineStats]] a meaningful unit
    * on single-line fixtures; real corpora should split on '\n' instead.
    */
  def tokenChunkLines(toks: Column, width: Int): Column = {
    require(width >= 1, s"line width must be >= 1, got $width")
    // Guarded: [[tokens]] yields [] for blank text, and sequence(0, -1)
    // would DESCEND rather than come up empty.
    when(size(toks) > 0,
      transform(
        sequence(lit(0L), floor((size(toks) - 1).cast(LongType) / lit(width))),
        i => array_join(
          slice(toks, (i * width + 1).cast(IntegerType), lit(width)), " ")))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Exact-duplicate fingerprint: md5 of the whitespace-normalized text. */
  def exactFingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** Rolling fingerprint from a pre-tokenized array column: the minimum
    * md5 over 3-token shingles (a 1-permutation MinHash) — stable under
    * small edits, unlike [[exactFingerprint]]. Under 3 tokens falls back
    * to the exact fingerprint of the tokens.
    */
  def rollingFingerprintFromTokens(toks: Column): Column = {
    val sh = shinglesFromTokens(toks, 3)
    when(size(sh) > 0, array_min(transform(sh, s => md5(s))))
      .otherwise(md5(concat_ws(" ", toks)))
  }

  /** Rolling fingerprint straight from text — convenience form; prefer
    * [[rollingFingerprintFromTokens]] in hot paths (see
    * [[shinglesFromTokens]] perf contract).
    */
  def rollingFingerprint(text: Column): Column = {
    val sh = shingles(text, 3)
    when(size(sh) > 0, array_min(transform(sh, s => md5(s))))
      .otherwise(exactFingerprint(text))
  }
}
