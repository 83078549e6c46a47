package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Tables
import graft.ops.{AsOf, BloomPrune, Merge, Normalize, Quality, Recall, Reshape, Summary, Windows}
import graft.text.{Dedup, TextAnalysis}
import graft.vector.Similarity
import graft.multimodal.BinaryOps

/** Gate registry — text-corpus analysis, dedup tiers, sampling/packing (training-data extensions).
  * Entries moved verbatim from the former monolithic [[Queries]];
  * [[Queries]] merges the family registries. */
private[graft] object QueriesText {

  import QueriesShared._

  /** Fixed BM25 query set (terms from the fixture's stable vocabulary,
    * present at every SF); shared by the gate and its oracle VALUES
    * (and by the streaming index-maintenance gate in QueriesStreaming). */
  private[graft] val Bm25Queries = Seq(
    "q1" -> "hash join",
    "q2" -> "scan filter column",
    "q3" -> "merge batch order")

  /** Shared DuckDB replica of the exact-substring span stats: windows
    * BY STRING (the Spark side's two-hash+length fingerprints are
    * thereby verified against collision-free ground truth); coverage as
    * count(DISTINCT pos + j) over the duplicated windows' index
    * expansion — the same interval union the Spark side folds. Shared
    * by `dedup_ngram_spans` and the streaming maintainer gate (the
    * streamed fold must reproduce the one-shot stats exactly).
    */
  private[graft] val ngramSpanOracleSql: String =
    """WITH t AS (SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN []
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents),
      |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    array_to_string(toks[i + 1 : i + 8], ' ') AS wtext
      |  FROM t, unnest(range(0, greatest(len(toks) - 7, 0))) AS u(i)),
      |c AS (SELECT wtext FROM w GROUP BY wtext HAVING count(*) > 1),
      |d AS (SELECT doc_id, pos FROM w WHERE wtext IN (SELECT wtext FROM c)),
      |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows FROM d GROUP BY doc_id),
      |cov AS (SELECT doc_id, CAST(count(DISTINCT pos + j) AS BIGINT) AS covered
      |  FROM d, unnest(range(0, 8)) AS r(j) GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(greatest(len(toks) - 7, 0) AS BIGINT) AS n_windows,
      |  coalesce(dup_windows, 0) AS dup_windows,
      |  coalesce(covered, 0) AS covered_tokens,
      |  CASE WHEN len(toks) > 0
      |    THEN round(coalesce(covered, 0) / CAST(len(toks) AS DOUBLE), 6)
      |    ELSE 0.0 END AS dup_token_frac
      |FROM t LEFT JOIN s USING (doc_id) LEFT JOIN cov USING (doc_id)""".stripMargin

  /** Shared DuckDB replica of the BM25 top-k ranking. Constants are
    * written as the same double ASTs the Spark side folds ((1.2 + 1.0),
    * (1.0 - 0.75)) so both engines evaluate identical IEEE operations;
    * the score fold lists contributions in term order to mirror the
    * sorted-collect left fold; the toks CTE guards empty/whitespace-only
    * text like TextAnalysis.tokens (dl = 0, not ['']). The incremental
    * and compacted gates score bit-identically to the full rebuild by
    * construction, so all three keys map here.
    */
  private[graft] val bm25TopKOracleSql: String =
    """WITH q(query_id, term) AS (VALUES
      |  ('q1', 'hash'), ('q1', 'join'),
      |  ('q2', 'scan'), ('q2', 'filter'), ('q2', 'column'),
      |  ('q3', 'merge'), ('q3', 'batch'), ('q3', 'order')),
      |toks AS (SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN []
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |dls AS (SELECT doc_id, len(t) AS dl FROM toks),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dls),
      |tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM (
      |         SELECT doc_id, unnest(t) AS tok FROM toks) u
      |       WHERE tok IN (SELECT DISTINCT term FROM q)
      |       GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |contrib AS (SELECT q.query_id, tf.doc_id, tf.term,
      |    ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
      |             / (CAST(dfq.df AS DOUBLE) + 0.5))
      |      * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
      |      / (CAST(tf.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dls.dl AS DOUBLE)
      |           / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))) AS c
      |  FROM q JOIN tf USING (term) JOIN dfq USING (term)
      |  JOIN dls ON tf.doc_id = dls.doc_id CROSS JOIN st),
      |sc AS (SELECT query_id, doc_id, list_sum(list(c ORDER BY term)) AS score
      |       FROM contrib GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, score,
      |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
      |      FROM sc)
      |SELECT query_id, rank, doc_id, round(score, 6) AS score FROM r WHERE rank <= 10""".stripMargin

  /** CTE chain replicating [[graft.text.LanguageModel.unigramSurprisal]]:
    * terminal CTE `lmscore(doc_id, lm_n, lm_anl)` carries every
    * document's token count and ROUNDED average-negative-logprob over
    * its first `maxTokens` tokens (0 = uncapped) under the corpus' own
    * add-one unigram LM. Shared by the raw operator gate and the two
    * corpus-cleaning oracles that compose the LM tier.
    */
  /** DuckDB replica of the order-1 corpus bigram LM (shared by
    * `text_lm_bigram` and its streamed fold twin
    * `streaming_lm_bigram_live`): P(w2|w1) = (c(w1 w2)+1)/(c(w1 .)+V)
    * with V the corpus UNIGRAM vocabulary; per-doc fold in (w1, w2)
    * order (each pair appears once per doc after the tf group, so the
    * order is total); <2-token docs score 0.0 via the left join.
    */
  private[graft] val bigramLmOracleSql: String =
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |bi AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |             FROM t WHERE len(toks) >= 2)),
        |btf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bi GROUP BY 1, 2, 3),
        |cbi AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cnt FROM btf GROUP BY 1, 2),
        |cctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx FROM cbi GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |      FROM (SELECT unnest(toks) AS tok FROM t) u),
        |contrib AS (SELECT btf.doc_id, btf.w1, btf.w2, btf.tf,
        |    CAST(btf.tf AS DOUBLE) * ln((CAST(cbi.cnt AS DOUBLE) + 1.0)
        |      / (CAST(cctx.ctx AS DOUBLE) + CAST(v.v AS DOUBLE))) AS lp
        |  FROM btf JOIN cbi USING (w1, w2) JOIN cctx USING (w1) CROSS JOIN v),
        |pd AS (SELECT doc_id, list_sum(list(lp ORDER BY w1, w2)) AS s,
        |         CAST(sum(tf) AS BIGINT) AS n
        |       FROM contrib GROUP BY 1)
        |SELECT d.doc_id, coalesce(pd.n, 0) AS n_bigrams,
        |  CASE WHEN coalesce(pd.n, 0) > 0
        |    THEN round(-pd.s / CAST(pd.n AS DOUBLE), 6) ELSE 0.0 END AS avg_neg_logprob
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  /** The order-1 twin of [[lmScoreCte]]: CTE fragment scoring every
    * document's average BIGRAM surprisal as `bgscore(doc_id, bg_n,
    * bg_anl)` — the same model as [[bigramLmOracleSql]] with the
    * `maxTokens` evidence cap, names prefixed `bg` so it composes with
    * the unigram fragment in one WITH (the corpus_clean oracle arms
    * both tiers).
    */
  private[graft] def bigramLmScoreCte(maxTokens: Int): String = {
    val cap = if (maxTokens > 0) s"[1:$maxTokens]" else ""
    s"""bgtoks AS (SELECT doc_id,
       |    (CASE WHEN trim(text) = '' THEN []
       |          ELSE regexp_split_to_array(trim(text), '\\s+') END)$cap AS bt
       |  FROM documents),
       |bgbi AS (SELECT doc_id, bt[i] AS w1, bt[i + 1] AS w2
       |         FROM (SELECT doc_id, bt, unnest(range(1, len(bt))) AS i
       |               FROM bgtoks WHERE len(bt) >= 2)),
       |bgtf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bgbi GROUP BY 1, 2, 3),
       |bgcbi AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cnt FROM bgtf GROUP BY 1, 2),
       |bgcctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx FROM bgcbi GROUP BY 1),
       |bgv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
       |        FROM (SELECT unnest(bt) AS tok FROM bgtoks) u),
       |bgcontrib AS (SELECT bgtf.doc_id, bgtf.w1, bgtf.w2, bgtf.tf,
       |    CAST(bgtf.tf AS DOUBLE) * ln((CAST(bgcbi.cnt AS DOUBLE) + 1.0)
       |      / (CAST(bgcctx.ctx AS DOUBLE) + CAST(bgv.v AS DOUBLE))) AS lp
       |  FROM bgtf JOIN bgcbi USING (w1, w2) JOIN bgcctx USING (w1) CROSS JOIN bgv),
       |bgpd AS (SELECT doc_id, list_sum(list(lp ORDER BY w1, w2)) AS s,
       |         CAST(sum(tf) AS BIGINT) AS n
       |       FROM bgcontrib GROUP BY 1),
       |bgscore AS (SELECT d.doc_id, coalesce(bgpd.n, 0) AS bg_n,
       |    CASE WHEN coalesce(bgpd.n, 0) > 0
       |      THEN round(-bgpd.s / CAST(bgpd.n AS DOUBLE), 6) ELSE 0.0 END AS bg_anl
       |  FROM documents d LEFT JOIN bgpd USING (doc_id))""".stripMargin
  }

  private[graft] def lmScoreCte(maxTokens: Int): String = {
    val cap = if (maxTokens > 0) s"[1:$maxTokens]" else ""
    s"""lmtoks AS (SELECT doc_id,
       |    (CASE WHEN trim(text) = '' THEN []
       |          ELSE regexp_split_to_array(trim(text), '\\s+') END)$cap AS lt
       |  FROM documents),
       |lmtf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM (
       |         SELECT doc_id, unnest(lt) AS tok FROM lmtoks) u
       |       GROUP BY 1, 2),
       |lmcounts AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM lmtf GROUP BY 1),
       |lmvt AS (SELECT CAST(count(*) AS BIGINT) AS v,
       |         CAST(coalesce(sum(cnt), 0) AS BIGINT) AS total FROM lmcounts),
       |lmcontrib AS (SELECT lmtf.doc_id, lmtf.term, lmtf.tf,
       |    CAST(lmtf.tf AS DOUBLE) * ln((CAST(lmcounts.cnt AS DOUBLE) + 1.0)
       |      / (CAST(lmvt.total AS DOUBLE) + CAST(lmvt.v AS DOUBLE))) AS lp
       |  FROM lmtf JOIN lmcounts USING (term) CROSS JOIN lmvt),
       |lmpd AS (SELECT doc_id, list_sum(list(lp ORDER BY term)) AS s,
       |         CAST(sum(tf) AS BIGINT) AS n
       |       FROM lmcontrib GROUP BY 1),
       |lmscore AS (SELECT d.doc_id, coalesce(lmpd.n, 0) AS lm_n,
       |    CASE WHEN coalesce(lmpd.n, 0) > 0
       |      THEN round(-lmpd.s / CAST(lmpd.n AS DOUBLE), 6) ELSE 0.0 END AS lm_anl
       |  FROM documents d LEFT JOIN lmpd USING (doc_id))""".stripMargin
  }

  /** The corpus-LM surprisal threshold the cleaning gates arm
    * ([[graft.text.CorpusPipeline.clean]]'s `maxSurprisal`): the fixture
    * corpus concentrates at ~3.40 avg-neg-logprob with a >=3.5 tail of
    * ~1-2% at every SF (measured via the oracle CTE), so 3.5 exercises
    * the tier without gutting the corpus. Doc-token cap 5000 is the
    * length tier bounding the LM fold's per-group buffer — it never
    * binds on the fixtures (docs are far shorter), which the capped and
    * uncapped gate hashes agreeing confirms. */
  private[graft] val LmMaxSurprisal = 3.5
  private[graft] val LmDocTokenCap = 5000

  /** The order-1 threshold corpus_clean arms (`maxBigramSurprisal`):
    * bigram surprisal concentrates at ~3.39-3.40 with 0.98-quantiles
    * 3.455/3.468/3.477 across the three SFs (measured via the oracle
    * CTE), so 3.47 drops the ~2-3% locally-incoherent tail at every SF
    * without gutting the corpus — the same calibration policy as
    * [[LmMaxSurprisal]]. */
  private[graft] val LmMaxBigramSurprisal = 3.47

  /** The exact-substring span tier the cleaning gates arm
    * ([[graft.text.CorpusPipeline.clean]]'s `spanDedupW` /
    * `maxDupSpanFrac`): 8-token windows (the span gates' width) and a
    * 0.5 coverage ceiling. The fixture's span coverage is bimodal —
    * ~9% of docs at every SF have duplicated windows and essentially
    * all of those are >0.8 covered (measured via the oracle CTE at 3
    * SFs) — so 0.5 drops exactly the boilerplate-saturated population
    * while any threshold in (0, 0.8) selects the same set, making the
    * gate robust to fixture drift. */
  private[graft] val SpanDedupW = 8
  private[graft] val SpanMaxDupFrac = 0.5

  /** CTE fragment scoring every document's duplicated-span coverage
    * fraction as `spanfrac(doc_id, span_frac)` — the by-string twin of
    * [[graft.text.SpanDedup.ngramSpanStats]]'s `dup_token_frac` (same
    * rounding), names prefixed `span` so it composes with the LM
    * fragments in one WITH (the corpus-cleaning oracles arm all
    * tiers). */
  private[graft] def spanFracCte(w: Int): String =
    s"""spantoks AS (SELECT doc_id,
       |    CASE WHEN trim(text) = '' THEN []
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS st
       |  FROM documents),
       |spanw AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    array_to_string(st[i + 1 : i + $w], ' ') AS wtext
       |  FROM spantoks, unnest(range(0, greatest(len(st) - ${w - 1}, 0))) AS u(i)),
       |spanc AS (SELECT wtext FROM spanw GROUP BY wtext HAVING count(*) > 1),
       |spand AS (SELECT doc_id, pos FROM spanw
       |          WHERE wtext IN (SELECT wtext FROM spanc)),
       |spancov AS (SELECT doc_id, CAST(count(DISTINCT pos + j) AS BIGINT) AS covered
       |  FROM spand, unnest(range(0, $w)) AS r(j) GROUP BY doc_id),
       |spanfrac AS (SELECT spantoks.doc_id,
       |    CASE WHEN len(st) > 0
       |      THEN round(coalesce(covered, 0) / CAST(len(st) AS DOUBLE), 6)
       |      ELSE 0.0 END AS span_frac
       |  FROM spantoks LEFT JOIN spancov USING (doc_id))""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_normalize" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        md5(TextAnalysis.normalizeText(col("text"))).as("norm_md5"),
        length(TextAnalysis.normalizeText(col("text"))).cast(LongType).as("norm_len"))),

    // O-U1 union of normalized source branches (transform.py:205-230).
    "text_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).cast(LongType).as("n_subwords"))),

    "text_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_guess"))),

    "text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))),

    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          md5(concat_ws(" ", col("toks"))).as("fingerprint"),
          TextAnalysis.rollingFingerprintFromTokens(col("toks")).as("rolling_fp"))),

    // Exact top-k most frequent tokens (training-data vocabulary view):
    // explode -> count -> global top-k with deterministic tiebreak.
    // orderBy+limit compiles to TakeOrderedAndProject (map-side partial
    // top-k) — a partition-less Window here would funnel the ENTIRE
    // vocabulary (10^8+ tokens at web scale) through one task. Rank is
    // then derived window-free on the k survivors: rank = 1 + number of
    // rows sorting strictly before, via a broadcast self-join bounded at
    // k^2 = 400 comparisons regardless of corpus size.
    // Heavy-hitter tokens at a rational frequency threshold: the string
    // form of the Misra-Gries two-pass (sketch candidates -> exact
    // recount). Differs from text_top_tokens (fixed top-k) the way a
    // hot-token blocklist differs from a leaderboard: the cut is a share
    // of the corpus, not a rank.
    "text_heavy_tokens" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(TextAnalysis.tokens(col("text")).as("toks"))
        .select(explode(col("toks")).as("token"))
      graft.ops.Profile.heavyHitters(toks, "token", num = 1L, den = 29L)
        .select(col("item").as("token"), col("cnt"))
    }),

    // Unicode-normalized fingerprinting: the same visible text arrives
    // composed ("café") and decomposed ("cafe" + U+0301) from
    // different crawlers; an un-normalized fingerprint splits exact-dup
    // groups. The fixture appends the two encodings by doc parity —
    // after graft_unicode_normalize(NFC) the per-parity fingerprints of
    // the same base text MUST collide, and the oracle replicates byte
    // equality via DuckDB's nfc_normalize.
    "text_nfc_fingerprint" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit(" caf\u00e9"))
            .otherwise(lit(" cafe\u0301"))).as("raw"))
      aug.select(col("doc_id"),
        md5(graft.functions.TextExpressions.unicodeNormalize(col("raw"))).as("fp_nfc"),
        (graft.functions.TextExpressions.unicodeNormalize(col("raw")) =!= col("raw"))
          .as("changed"))
    }),

    // Leaderboard: TakeOrderedAndProject (map-side partial top-k) over
    // the token counts — ONE corpus scan — then the ≤ 20 surviving rows
    // rank on the driver ((cnt desc, token asc) is a total order, so
    // rank = position). The first form ranked via a k² self-join whose
    // two sides each re-executed the full tokenize+count pipeline — two
    // corpus scans to rank twenty rows.
    "text_top_tokens" -> ((s, dir) => {
      import s.implicits._
      val top = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(explode(col("toks")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(20)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      top.zipWithIndex
        .map { case ((tok, c), i) => (tok, c, (i + 1).toLong) }
        .toSeq.toDF("token", "cnt", "rank")
    }),

    // Per-token document frequency + IDF (ln(N/df), rounded). Corpus
    // cardinality rides along as a broadcast 1-row aggregate — the whole
    // query is ONE lazy plan, no eager .count() driver action per call.
    "text_idf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(array_distinct(col("toks"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .withColumn("idf", round(log(col("n_docs") / col("df")), 6))
        .select(col("token"), col("df"), col("idf"))
    }),

    // Truncation-duplicate detector: docs whose text is a PROPER prefix
    // of another doc's. Exact via sorted adjacency over DISTINCT texts
    // (range-partitioned parallel successor probe + driver boundary
    // fix-up) — no quadratic pairing; the fixture genuinely contains
    // truncations (24 distinct at sf0.01, 236 at sf0.1).
    "dedup_prefix_contained" -> ((s, dir) =>
      Dedup.prefixContainedDocs(t(s, dir, "documents"), "doc_id", "text")),

    // Head-truncation detector: docs whose text is a PROPER SUFFIX of
    // another doc's (lead-stripped copies). The fixture's truncations
    // all clip the tail (0 natural suffix dups at every SF), so the
    // gate synthesizes them at query time — every 7th doc contributes a
    // copy missing its first 25 chars — and the detector must flag
    // exactly those (plus any natural ones, of which there are none).
    "dedup_suffix_contained" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // Synthetic-tail id offset far above any fixture's id range (sf10
      // replicas reach ~1e10): a collision with a real doc_id would give
      // the augmented corpus duplicate keys — the gate would still
      // hash-match its oracle (both sides agree), but its semantics
      // would silently muddy.
      val tails = docs
        .where(pmod(col("doc_id"), lit(7)) === 0 && length(col("text")) > 25)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          expr("substring(text, 26)").as("text"))
      Dedup.suffixContainedDocs(docs.unionByName(tails), "doc_id", "text")
    }),

    // Exact-substring span dedup (Lee et al. 2021, sliding-window
    // form): per-doc stats on 8-token windows whose text occurs >1
    // time ANYWHERE in the corpus — the partial-overlap tier the
    // document-level dedups can't see (the fixture has ~1.1k
    // duplicated 8-gram keys even at sf0.001). Window fingerprints are
    // 20 bytes on every wire; coverage is a per-doc sorted interval
    // fold. The oracle groups by the exact window STRING, so the
    // hash-fingerprint path is verified, not assumed.
    "dedup_ngram_spans" -> ((s, dir) =>
      graft.text.SpanDedup.ngramSpanStats(
        tW(s, dir, "documents"), "doc_id", "text", w = 8)),

    // The actionable form: excise every duplicated-window token span
    // and rejoin the remainder — what ExactSubstr dedup actually DOES
    // to a training corpus (keep the novel remainder, not drop the doc).
    "dedup_ngram_spans_clean" -> ((s, dir) =>
      graft.text.SpanDedup.removeDupSpans(
        tW(s, dir, "documents"), "doc_id", "text", w = 8)),

    // Gopher rejection-rule vector (Rae et al. 2021 table A1): the
    // per-doc rule columns plus the composed pass flag — the REJECTION
    // rule set production filters apply verbatim, exposed per-rule so a
    // pipeline can audit which rule fired. Scan-side HOF arithmetic
    // only: no shuffle, no UDF.
    "text_gopher_rules" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("toks"))
      docs.select(col("doc_id"),
          TextAnalysis.gopherRules(col("toks"), col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.frac_alpha_words").as("frac_alpha_words"),
          col("g.hash_word_ratio").as("hash_word_ratio"),
          col("g.ellipsis_word_ratio").as("ellipsis_word_ratio"),
          col("g.frac_bullet_lines").as("frac_bullet_lines"),
          col("g.frac_ellipsis_lines").as("frac_ellipsis_lines"),
          col("g.stop_hits").as("stop_hits"),
          col("g.pass_gopher").as("pass_gopher"))
    }),

    // Okapi BM25 top-10 per query over a fixed query set — retrieval
    // ranking for contamination checks / doc-query relevance. Every
    // ranking input is cross-engine exact (integer tf/df/dl/N, Σdl/N
    // avgdl, term-ordered score fold), so rank matches the oracle
    // bit-for-bit; scores round to 6 for the value compare.
    "text_bm25_topk" -> ((s, dir) =>
      graft.text.Bm25.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Bm25Queries, k = 10)),

    // Incremental BM25 index maintenance: the even-doc slice's (tf,
    // stats) index persisted as state, odd docs arriving as the batch —
    // fold = tf APPEND + stats sum (history never re-tokenized,
    // O(batch) per fold), then score the folded index. The scores are
    // EXACTLY the full-rebuild scores (tf rows identical, df/N/Σdl
    // exact integer sums), so the oracle IS text_bm25_topk's.
    "text_bm25_incremental" -> ((s, dir) => {
      import graft.text.Bm25
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val terms = Bm25.queryTerms(Bm25Queries)
      val root = graft.util.StateSeed.root(s, "graft_bm25", dir) { root =>
        val (tfE, stE) = Bm25.buildIndex(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", terms)
        tfE.write.parquet(root + "/tf")
        stE.write.parquet(root + "/stats")
      }
      val (tfO, stO) = Bm25.buildIndex(
        docs.where(pmod(col("doc_id"), lit(2)) =!= 0), "doc_id", "text", terms)
      Bm25.scoreIndex(
        s.read.parquet(root + "/tf").unionByName(tfO),
        Bm25.foldStats(s.read.parquet(root + "/stats").unionByName(stO)),
        Bm25Queries, k = 10)
    }),

    // Compaction story for the BM25 incremental state: every fold
    // APPENDS tf/stats parquet files, so a long-lived index accumulates
    // files without bound — the same small-file failure
    // dedup_incremental_compacted already solves for the shingle index.
    // Two history folds (doc_id%4 ∈ {0,2}) land in the state dir fanned
    // wide, with a SIZE-TIERED compaction tick after each
    // (ops/Compact.compactTiered, the LSM move): the first tick's flat
    // tier major-merges slice 0; the second tick merges ONLY slice 2's
    // newly-appended span and keeps the previously compacted file by
    // metadata rename — asserted below, because that bound is the whole
    // point: a periodic tick costs O(new slices), never O(index
    // history). Slices are doc-disjoint, so the file-level rewrite IS
    // the semantic compaction (no (doc,term) rows to re-sum), and the
    // compacted state folded with the odd-id batch must score EXACTLY
    // like the full rebuild: the oracle is text_bm25_topk's.
    "text_bm25_compacted" -> ((s, dir) => {
      import graft.text.Bm25
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val terms = Bm25.queryTerms(Bm25Queries)
      val root = graft.util.StateSeed.root(s, "graft_bm25_c", dir) { root =>
        def tick(): Seq[graft.ops.Compact.TieredStats] =
          Seq("/tf", "/stats").map { sub =>
            graft.ops.Compact.compactTiered(s, root + sub)
          }
        val (tf0, st0) = Bm25.buildIndex(
          docs.where(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text", terms)
        tf0.repartition(24).write.parquet(root + "/tf")
        st0.write.parquet(root + "/stats")
        val first = tick()
        require(first.head.filesAfter < first.head.filesBefore,
          s"major merge did not reduce /tf: ${first.head}")
        val (tf2, st2) = Bm25.buildIndex(
          docs.where(pmod(col("doc_id"), lit(4)) === 2), "doc_id", "text", terms)
        tf2.repartition(24).write.mode("append").parquet(root + "/tf")
        st2.write.mode("append").parquet(root + "/stats")
        val second = tick()
        // The LSM bound: the second tick must KEEP the first tick's
        // compacted file (rename, zero bytes read) and rewrite only the
        // 24 freshly-appended slice files.
        require(second.head.keptFiles >= 1 && second.head.rewrittenFiles >= 1,
          s"second tick was not tiered: ${second.head}")
        require(second.head.filesAfter <= first.head.filesAfter + 1,
          s"file count not bounded across ticks: ${second.head}")
      }
      val (tfO, stO) = Bm25.buildIndex(
        docs.where(pmod(col("doc_id"), lit(2)) =!= 0), "doc_id", "text", terms)
      Bm25.scoreIndex(
        s.read.parquet(root + "/tf").unionByName(tfO),
        Bm25.foldStats(s.read.parquet(root + "/stats").unionByName(stO)),
        Bm25Queries, k = 10)
    }),

    // The composed cleaning flow (CorpusPipeline.clean): language ->
    // quality -> corpus-LM surprisal (BOTH tiers armed: order-0 unigram
    // + order-1 bigram) -> exact-substring span tier (8-token windows,
    // 0.5 coverage ceiling) -> exact-dup keeper -> truncation drop ->
    // near-dup keeper, all thresholds the gate constants above.
    "corpus_clean" -> ((s, dir) =>
      graft.text.CorpusPipeline.clean(tW(s, dir, "documents"), "doc_id", "text",
        lang = "en", minQuality = 0.45, jaccardThreshold = 0.5, maxDocFreq = 100L,
        maxSurprisal = LmMaxSurprisal,
        maxBigramSurprisal = LmMaxBigramSurprisal,
        spanDedupW = SpanDedupW, maxDupSpanFrac = SpanMaxDupFrac,
        lmMaxDocTokens = LmDocTokenCap)),

    // ---- dedup ------------------------------------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactDuplicates(t(s, dir, "documents"), "doc_id", "text")),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 100L)),

    // Pairs -> whole-cluster dedup: every document labeled with the
    // smallest doc_id reachable through the Jaccard pair graph
    // (iterative min-label propagation; the oracle's recursive CTE
    // computes the same reachability fixpoint).
    "dedup_cluster_reps" -> ((s, dir) => docClusterReps(s, dir)),

    // Per-cluster CANONICAL selection: among a near-dup cluster, keep the
    // highest-quality copy (ties to the smallest id) — the keeper policy a
    // training pipeline wants when duplicates differ in extraction quality
    // (the rep id is a graph label, not a quality judgement). Quality is
    // the rounded text_quality score so the ordering is cross-engine
    // deterministic; top-1 per cluster compiles to WindowGroupLimit
    // (map-side partial rank, no full sort of the corpus).
    "dedup_canonical_quality" -> ((s, dir) => {
      val labeled = docClusterLabelTable(s, dir)
        .join(t(s, dir, "documents").select(col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality")), Seq("doc_id"))
      graft.ops.Windows.topKPerGroup(labeled, Seq("rep"),
          Seq(col("quality").desc, col("doc_id").asc), k = 1)
        .select(col("rep"), col("doc_id").as("canonical_id"),
          col("quality").as("canonical_quality"))
    }),

    // Incremental ingestion dedup: the even-id half plays the ACCEPTED
    // corpus (its shingle index persisted to parquet and read back — the
    // state-table form a growing 100 TB corpus maintains), the odd-id
    // half arrives as the new batch. Pairs = batch-internal + batch vs
    // state-index; the historical corpus is never re-paired with itself.
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // State construction (the accepted-corpus index a deployment
      // maintains) runs through StateSeed: fresh per call in Verify,
      // built once per JVM under the bench's seeded mode so reps time
      // the incremental fold, not fixture construction.
      val root = graft.util.StateSeed.root(s, "graft_incdedup", dir) { root =>
        val st = Dedup.collapsedIndex(docs.where(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", n = 3, maxDocFreq = 100L, hashFn = Dedup.Md5Hash60)
        // Persisted state = BOTH halves of the collapsed index.
        st.repIdx.write.parquet(root + "/rep_index")
        st.membership.write.parquet(root + "/membership")
      }
      val batch = Dedup.collapsedIndex(docs.where(pmod(col("doc_id"), lit(2)) =!= 0),
        "doc_id", "text", n = 3, maxDocFreq = 100L, hashFn = Dedup.Md5Hash60,
        cache = graft.util.CacheScope.truncate)
      Dedup.incrementalNearDupPairsCollapsed(batch,
          Dedup.CollapsedIndex(s.read.parquet(root + "/rep_index"),
            s.read.parquet(root + "/membership")),
          threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"), col("src"))
    }),

    // State-table COMPACTION transparency: the same incremental dedup,
    // but the persisted index is first fragmented the way a
    // thousand-wave ingest leaves it (48-way write => 48 small files per
    // table) and then compacted (ops/Compact: distributed rewrite + dir
    // swap). Oracle identical to dedup_incremental's — compaction may
    // only change file layout, never a row — and the file-count drop is
    // asserted inline so a no-op "compaction" fails loudly.
    "dedup_incremental_compacted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = graft.util.StateSeed.root(s, "graft_incdedup_c", dir) { root =>
        val st = Dedup.collapsedIndex(docs.where(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", n = 3, maxDocFreq = 100L, hashFn = Dedup.Md5Hash60)
        st.repIdx.repartition(48).write.parquet(root + "/rep_index")
        st.membership.repartition(48).write.parquet(root + "/membership")
        Seq("/rep_index", "/membership").foreach { sub =>
          val stats = graft.ops.Compact.compactParquet(s, root + sub)
          require(stats.filesAfter < stats.filesBefore,
            s"compaction did not reduce $sub: $stats")
        }
      }
      val batch = Dedup.collapsedIndex(docs.where(pmod(col("doc_id"), lit(2)) =!= 0),
        "doc_id", "text", n = 3, maxDocFreq = 100L, hashFn = Dedup.Md5Hash60,
        cache = graft.util.CacheScope.truncate)
      Dedup.incrementalNearDupPairsCollapsed(batch,
          Dedup.CollapsedIndex(s.read.parquet(root + "/rep_index"),
            s.read.parquet(root + "/membership")),
          threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"), col("src"))
    }),

    // Incremental CONNECTED COMPONENTS: the label-maintenance twin of
    // dedup_incremental. State = the persisted CC label table over the
    // even-id history; the odd-id batch folds in via the CONTRACTED
    // graph (each incremental pair's endpoints mapped through their
    // prior labels, CC over {touched old reps} ∪ {batch ids} only,
    // relabel = two equi-joins) — O(batch + touched components)
    // regardless of history size. The oracle recomputes the fixpoint
    // over the SAME pair semantics (per-half hot caps, like
    // dedup_incremental's replica), so a hash match proves the
    // incremental fold equals a full recompute over history ∪ batch.
    "dedup_cluster_reps_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val batchDocs = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
      // State construction (a real deployment maintains these tables):
      // ONE collapsed index over the history half feeds both the
      // state-label CC (at representative grain, the dedup_cluster_reps
      // shape) and the incremental pair join; all three state tables
      // land on disk. Runs through StateSeed — fresh per call in
      // Verify, once per JVM under the bench's seeded mode, so bench
      // reps time the incremental fold, not history-state construction.
      val root = graft.util.StateSeed.root(s, "graft_inccc", dir) { root =>
        val hist = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        val hc = Dedup.exactCollapse(hist, "doc_id", "text", cache = df => df.persist())
        val hidx = Dedup.countedShingleIndexCollapsed(hc, n = 3, maxDocFreq = 100L,
          hashFn = Dedup.Md5Hash60).persist()
        val repLabels = Dedup.clusterRepresentatives(
          hc.reps.select(col("doc_id")), "doc_id",
          Dedup.ngramJaccardPairsFromIndex(hidx, threshold = 0.5),
          cache = df => df.persist())
        hc.membership
          .join(repLabels.select(col("doc_id").as("rep_id"), col("rep").as("_rl")), Seq("rep_id"))
          .join(hidx.select(col("doc_id").as("rep_id")).distinct()
            .withColumn("_survived", lit(true)), Seq("rep_id"), "left")
          .select(col("doc_id"),
            when(col("_survived") || col("doc_id") === col("rep_id"), col("_rl"))
              .otherwise(col("doc_id")).as("rep"))
          .write.parquet(root + "/labels")
        hidx.write.parquet(root + "/rep_index")
        hc.membership.write.parquet(root + "/membership")
      }
      // The incremental fold: batch pairs only (self + vs state index),
      // batch side pre-contracted through its exact-dup membership so
      // the fold iterates over unique batch texts. State comes from the
      // persisted tables — the form a growing corpus actually reads.
      val st = Dedup.CollapsedIndex(s.read.parquet(root + "/rep_index"),
        s.read.parquet(root + "/membership"))
      val batch = Dedup.collapsedIndex(batchDocs, "doc_id", "text",
        n = 3, maxDocFreq = 100L, hashFn = Dedup.Md5Hash60,
        cache = graft.util.CacheScope.truncate)
      Dedup.clusterRepresentativesIncrementalCollapsed(
        s.read.parquet(root + "/labels"),
        batch.membership.select(col("doc_id"), col("rep_id")),
        Dedup.incrementalNearDupPairsCollapsed(batch, st, threshold = 0.5),
        cache = graft.util.CacheScope.truncate)
    }),

    // The incremental dedup run as a LIVE stream: two document waves
    // (even ids first, then odd) through a file stream; each micro-batch
    // dedups against the persisted accepted-corpus index and appends its
    // survivors (streaming/EventStreams.corpusDedupSink). Output: every
    // accepted doc with the wave that admitted it.
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 100L, hashFn = Dedup.Md5Hash60,
        cache = graft.util.CacheScope.truncate)),

    // Same md5-hash gate trick; 60-bit width (4x15-bit bands) keeps every
    // shift inside positive BIGINT range on both engines.
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3,
          hashFn = Dedup.Md5Hash60, bits = 60,
          cache = graft.util.CacheScope.truncate)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast(LongType).as("hamming"))),

    // ---- similarity search ------------------------------------------------
    "recall_minhash_lsh" -> ((s, dir) => {
      // The banding knob is pinned to the production formula: unlike
      // the embedding tier's count-derived autoNbits, (b, r) is
      // corpus-independent (pair collision odds depend only on the
      // pair's Jaccard and the split), so the standing audit runs at
      // the threshold-derived choice rather than a count-derived one.
      locally {
        val p = Dedup.MinHashParams()
        require(p.bands == Dedup.bandsForThreshold(p.numPerm, 0.5),
          s"production banding ${p.bands} is not bandsForThreshold(" +
            s"${p.numPerm}, 0.5) = ${Dedup.bandsForThreshold(p.numPerm, 0.5)}")
      }
      // ONE exact-collapsed shingle index feeds both tiers (the approx
      // tier's signature + verify sides AND the exact twin's self-join) —
      // the audit previously re-tokenized and re-indexed the corpus per
      // tier, costing ~2x the op it audits. Exact pairs are
      // hash-independent (candidates are verified by true Jaccard), so
      // sharing the Md5Hash60 index with the exact side changes nothing;
      // both tiers expand through the same membership, so the recall
      // ratio is the document-level ratio the oracle replicates.
      // Both persisted intermediates go through CacheScope.truncate: the
      // index feeds FOUR consumers (both tiers' verify sides + the two
      // expansions) and the membership three — persist alone leaves that
      // many copies of the collapse+index tree in the terminal plan.
      val c = Dedup.exactCollapse(t(s, dir, "documents"), "doc_id", "text",
        cache = graft.util.CacheScope.truncate)
      val idx = graft.util.CacheScope.truncate(
        Dedup.countedShingleIndexCollapsed(c, n = 3, maxDocFreq = 100L,
          hashFn = Dedup.Md5Hash60))
      Recall.pairRecall(
        Dedup.expandExactGroups(Dedup.minHashLshPairsFromIndex(idx, threshold = 0.5),
          c.membership, "jaccard", idx, lit(1.0)),
        Dedup.expandExactGroups(Dedup.ngramJaccardPairsFromIndex(idx, threshold = 0.5),
          c.membership, "jaccard", idx, lit(1.0)),
        floor = 0.5)
    }),

    // Text twin of recall_embedding_lsh_sampled — the audit form that runs
    // at corpus scale. A doc's MinHash signature depends only on its own
    // shingles, and banding collision only on the two signatures, so pair
    // candidacy is pair-local and sample recall estimates full-corpus
    // recall; the one corpus-dependent knob (the hot-shingle cap) is
    // shared by BOTH tiers through the one collapsed index, so the ratio
    // stays internally consistent. Exact-tier cost falls quadratically
    // with the sample rate.
    "recall_minhash_lsh_sampled" -> ((s, dir) => {
      val c = Dedup.exactCollapse(
        t(s, dir, "documents")
          .where(graft.ops.Sampling.hashBucket(col("doc_id"), Dedup.Md5Hash60) < 5000),
        "doc_id", "text", cache = graft.util.CacheScope.truncate)
      val idx = graft.util.CacheScope.truncate(
        Dedup.countedShingleIndexCollapsed(c, n = 3, maxDocFreq = 100L,
          hashFn = Dedup.Md5Hash60))
      Recall.pairRecall(
        Dedup.expandExactGroups(Dedup.minHashLshPairsFromIndex(idx, threshold = 0.5),
          c.membership, "jaccard", idx, lit(1.0)),
        Dedup.expandExactGroups(Dedup.ngramJaccardPairsFromIndex(idx, threshold = 0.5),
          c.membership, "jaccard", idx, lit(1.0)),
        floor = 0.5)
    }),

    // The custom codegen'd expression through the SQL surface: graft_dot
    // registered on the session, invoked from spark.sql in the graded gate.
    "sample_hash_split" -> ((s, dir) =>
      graft.ops.Sampling.hashSplit(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          hashFn = Dedup.Md5Hash60)
        .select(col("doc_id"), col("split"))),

    // LEAKAGE-SAFE split: hash-split by NEAR-DUP CLUSTER, not by document.
    // A per-doc split quietly places near-duplicates of training documents
    // in the eval set (train/test contamination); splitting on the cluster
    // representative keeps every member of a near-dup cluster — and every
    // exact copy — on the same side of the wall. Same pair-graph fixpoint
    // as dedup_cluster_reps, same md5 bucket as sample_hash_split, so the
    // oracle replicates both stages exactly.
    "sample_split_leakage_safe" -> ((s, dir) =>
      graft.ops.Sampling.hashSplit(docClusterLabelTable(s, dir), "rep",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          hashFn = Dedup.Md5Hash60)
        .select(col("doc_id"), col("rep"), col("split"))),

    // Deterministic data MIXING: the largest sample whose composition
    // matches the target weights (binding group kept whole, others
    // hash-thresholded down to their share).
    "sample_mixture" -> ((s, dir) =>
      graft.ops.Sampling.mixtureSample(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", MixtureTargets, hashFn = Dedup.Md5Hash60)
        .select(col("doc_id"), col("source"))),

    // Per-stratum deterministic sampling (corpus mixing weights as one
    // scan-side filter).
    "sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedHashSample(
          t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id", "lang",
          Map("en" -> 1.0, "zh" -> 0.5), defaultRate = 0.25,
          hashFn = Dedup.Md5Hash60)
        .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))),

    // Corpus-safety pattern density (PII/boilerplate signals) as pure
    // scan-side regex counts.
    "text_pattern_counts" -> ((s, dir) => {
      val counts = TextAnalysis.FilterPatterns.map { case (name, p) =>
        TextAnalysis.patternCount(col("text"), p).cast(LongType).as(s"n_$name")
      }
      t(s, dir, "documents").select(col("doc_id") +: counts: _*)
    }),

    // PII redaction: the corpus carries no PII, so both engines append the
    // same synthetic email/URL/digit-run suffix, then redact with the
    // FilterPatterns chain in list order. Pure scan-side projection.
    "text_redact" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com via https://www.Example"),
            col("doc_id").cast(StringType),
            lit(".com/a id 90000"), col("doc_id").cast(StringType)).as("text"))
        .select(col("doc_id"), TextAnalysis.redact(col("text")).as("redacted"))),

    // Per-domain provenance accounting: extract+normalize every URL host
    // (deterministic synthetic URLs appended — the corpus has none), one
    // row per occurrence. Scan-side regex, explode, no shuffle.
    "text_url_hosts" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" see https://www.Mirror"),
            pmod(col("doc_id"), lit(7)).cast(StringType),
            lit(".net/x and http://cdn"),
            pmod(col("doc_id"), lit(3)).cast(StringType),
            lit(".example.org:8080/y")).as("text"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.urlHosts(col("text"))).as(Seq("url_idx", "host")))
        .select(col("doc_id"), col("url_idx").cast(LongType).as("url_idx"),
          col("host"))),

    // Overlapping token-window chunking (size 32, stride 16) for
    // context-window packing / RAG indexing; chunk content surfaces as an
    // md5 digest (the driver's hasher can't sort raw arrays).
    "text_chunks" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(TextAnalysis.overlappingChunks(col("toks"), 32, 16)).as("c"))
        .select(col("doc_id"),
          col("c.chunk_idx").cast(LongType).as("chunk_idx"),
          size(col("c.chunk_toks")).cast(LongType).as("n_toks"),
          md5(concat_ws(" ", col("c.chunk_toks"))).as("chunk_digest"))),

    // C4/CCNet boilerplate-line removal over a synthetic page fixture
    // (nav/footer/unsubscribe lines shared across >=10 docs are stripped;
    // each doc's own text line survives).
    "text_remove_boilerplate" -> ((s, dir) =>
      Dedup.removeBoilerplateLines(
        t(s, dir, "documents").select(col("doc_id"),
          concat_ws("\n",
            concat(lit("nav: "), col("source")),
            col("text"),
            concat(lit("(c) footer "), col("lang")),
            lit("unsubscribe here")).as("text")),
        "doc_id", "text", minDocFreq = 10)),

    // Benchmark decontamination: exact-fingerprint matches of a benchmark
    // set (doc_id % 10 == 0 stands in) against the full corpus.
    "contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationReport(docs, "doc_id", "text",
        docs.where(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
    }),

    // ---- S5 wide->long / long->wide ---------------------------------------
    // S5 unpivot (reference extract.py:158-187): the yfinance metric
    // matrix melted to per-metric rows. Expand-based — no shuffle.
    "text_repetition" -> ((s, dir) => {
      val u = graft.functions.TextExpressions.ngramStats(col("toks"), 1)
      val b = graft.functions.TextExpressions.ngramStats(col("toks"), 2)
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), u.as("u"), b.as("b"))
        .select(col("doc_id"),
          when(col("u.total") > 0,
            round(lit(1.0) - col("u.n_distinct").cast(DoubleType) /
              col("u.total").cast(DoubleType), 6))
            .otherwise(lit(0.0)).as("repetition_ratio"),
          when(col("b.total") > 0,
            round(col("b.max_count").cast(DoubleType) /
              col("b.total").cast(DoubleType), 6))
            .otherwise(lit(0.0)).as("top_bigram_frac"))
    }),

    // Corpus-relative statistical quality: average token surprisal under
    // the corpus' own add-one unigram LM (the order-0 CCNet filter) —
    // catches vocabulary-foreign / token-salad docs the per-doc
    // heuristics can't see. Deterministic via the BM25 sorted-fold
    // trick; exact-integer probabilities.
    "text_lm_surprisal" -> ((s, dir) =>
      graft.text.LanguageModel.unigramSurprisal(
        t(s, dir, "documents"), "doc_id", "text")),

    // Order-1 form: average BIGRAM surprisal under the corpus' own
    // add-one conditional model P(w2|w1) — catches locally-incoherent
    // text (shuffled fluent words) the order-0 filter passes, one step
    // toward CCNet's 5-gram. Same determinism contract (exact integer
    // counts, (w1,w2)-ordered fold, round 6).
    "text_lm_bigram" -> ((s, dir) =>
      graft.text.LanguageModel.bigramSurprisal(
        t(s, dir, "documents"), "doc_id", "text")),

    // Gopher-style within-doc duplicate-LINE signals: fraction of lines
    // duplicated and fraction of characters inside duplicated lines.
    // The fixture is single-line (no '\n' at any SF), so the gate
    // segments deterministically into 2-token chunk "lines" — the
    // operator itself takes any array-of-lines column (real corpora
    // feed split(text, '\n')). Pure scan-side HOFs: no explode, no
    // shuffle.
    "text_dup_lines" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.dupLineStatsFromTokens(
            TextAnalysis.tokens(col("text")), width = 2).as("st"))
        .select(col("doc_id"), col("st.n_lines").as("n_lines"),
          col("st.dup_line_frac").as("dup_line_frac"),
          col("st.dup_char_frac").as("dup_char_frac"))
    }),

    // ---- embedding quantization -------------------------------------------
    // Symmetric int8 quantization (4x smaller vectors for the ANN recall
    // tier; floats re-read only at exact rescore). floor(x*scale + 0.5)
    // is bit-replicable in DuckDB; the gate emits the code digest.
    "corpus_filter_report" -> ((s, dir) => {
      val docs = tW(s, dir, "documents")
      // Corpus-level truncation flag: the one non-scan-side column — a
      // doc fails when its text is a proper prefix of another doc's
      // text (Dedup.prefixContainedDocs; narrow 12-byte-key join).
      val truncated = Dedup.prefixContainedDocs(docs, "doc_id", "text")
        .select(col("doc_id"), lit(true).as("_trunc"))
      // Corpus-LM tier (the other corpus-relative column): average token
      // surprisal under the corpus' own unigram LM, thresholded at the
      // same 3.5 the cleaning pipeline arms.
      val lm = graft.text.LanguageModel.unigramSurprisal(
          docs, "doc_id", "text", maxDocTokens = LmDocTokenCap)
        .select(col("doc_id"),
          (col("avg_neg_logprob") <= LmMaxSurprisal).as("pass_lm"))
      // Exact-substring span tier: duplicated-window coverage against
      // the whole corpus, at the same (w, ceiling) corpus_clean arms.
      val span = graft.text.SpanDedup.ngramSpanStats(
          docs, "doc_id", "text", SpanDedupW)
        .select(col("doc_id"),
          (col("dup_token_frac") <= SpanMaxDupFrac).as("pass_span_dedup"))
      docs
        .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("text"),
          graft.functions.TextExpressions.ngramStats(col("toks"), 1).as("u0"))
        .select(col("doc_id"),
          (TextAnalysis.langId(col("text")) === "en").as("pass_lang"),
          (round(TextAnalysis.qualityScore(col("text")), 6) >= 0.45).as("pass_quality"),
          (when(col("u0.total") > 0,
            lit(1.0) - col("u0.n_distinct").cast(DoubleType) /
              col("u0.total").cast(DoubleType))
            .otherwise(lit(0.0)) < 0.6).as("pass_repetition"),
          (TextAnalysis.patternCount(col("text"),
            TextAnalysis.FilterPatterns.collectFirst { case ("long_digits", p) => p }.get) === 0)
            .as("pass_no_digit_runs"))
        .join(truncated, Seq("doc_id"), "left")
        .withColumn("pass_not_truncated", col("_trunc").isNull)
        .drop("_trunc")
        .join(lm, Seq("doc_id"))
        .join(span, Seq("doc_id"))
        .withColumn("keep",
          col("pass_lang") && col("pass_quality") &&
            col("pass_repetition") && col("pass_no_digit_runs") &&
            col("pass_not_truncated") && col("pass_lm") &&
            col("pass_span_dedup"))
    }),

    // ---- sequence packing -------------------------------------------------
    // Concat-and-chunk assignment (the pretraining packing pass): docs
    // hash-sharded, shard-local running token sums map each doc to its
    // (shard, chunk) span — nShards independent windows, never a global
    // one-partition running sum. Gate uses the md5 hash so DuckDB
    // replicates shards exactly.
    "pack_chunks" -> ((s, dir) =>
      graft.ops.Packing.chunkAssignments(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", TextAnalysis.tokenCount(col("text")),
        maxTokens = 512, nShards = 8, hashFn = Dedup.Md5Hash60)),

  )

  val oracleSql: Map[String, String] = Map(
    "text_normalize" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[ \t\n\f\r\x0B]+', ' ', 'g'))) AS norm_md5,
        |  CAST(length(trim(regexp_replace(lower(text), '[ \t\n\f\r\x0B]+', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_subwords
        |FROM documents""".stripMargin,

    "text_langid" -> {
      val toks = "regexp_split_to_array(trim(text), '\\s+')"
      val hits = TextAnalysis.StopwordLists.map { case (lang, words) =>
        s"${hitsSql(toks, words)} AS h_$lang"
      }.mkString(",\n    ")
      val langs = TextAnalysis.StopwordLists.map(_._1)
      val best = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN h_$l = best THEN '$l'").mkString(" ")
      s"""WITH b AS (
         |  SELECT doc_id,
         |    $hits
         |  FROM documents),
         |m AS (SELECT doc_id, $best AS best, * FROM b)
         |SELECT doc_id, CASE WHEN best = 0 THEN 'und' $cases ELSE 'und' END AS lang_guess
         |FROM m""".stripMargin
    },

    "text_quality" ->
      s"WITH $qualityCte SELECT doc_id, quality FROM q",

    // chr(233) = U+00E9 composed, chr(769) = U+0301 combining acute —
    // byte-explicit so no SQL-literal encoding step can pre-normalize
    // the fixture. `changed` is TRUE exactly on the decomposed parity.
    "text_nfc_fingerprint" ->
      """WITH a AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233)
        |                 ELSE ' cafe' || chr(769) END AS raw
        |  FROM documents)
        |SELECT doc_id, md5(nfc_normalize(raw)) AS fp_nfc,
        |  nfc_normalize(raw) <> raw AS changed
        |FROM a""".stripMargin,

    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |        list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |      FROM t)
        |SELECT doc_id,
        |  md5(array_to_string(toks, ' ')) AS fingerprint,
        |  CASE WHEN len(sh) > 0 THEN list_min(list_transform(sh, x -> md5(x)))
        |       ELSE md5(array_to_string(toks, ' ')) END AS rolling_fp
        |FROM s""".stripMargin,

    "corpus_clean" -> {
      val toks = "regexp_split_to_array(trim(text), '\\s+')"
      val hits = TextAnalysis.StopwordLists.map { case (lang, words) =>
        s"${hitsSql(toks, words)} AS h_$lang"
      }.mkString(", ")
      val langs = TextAnalysis.StopwordLists.map(_._1)
      val best = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN h_$l = $best THEN '$l'").mkString(" ")
      s"""WITH ${lmScoreCte(LmDocTokenCap)},
         |${bigramLmScoreCte(LmDocTokenCap)},
         |${spanFracCte(SpanDedupW)},
         |h AS (
         |  SELECT doc_id, text,
         |    CAST(length(text) AS DOUBLE) AS n_char,
         |    CAST(len($toks) AS DOUBLE) AS n_tok,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         |    CAST(${hitsSql(toks, EnWords)} AS DOUBLE) AS en_hits,
         |    $hits
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, text,
         |    CASE WHEN $best = 0 THEN 'und' $cases ELSE 'und' END AS lang_guess,
         |    round(
         |        (CASE WHEN n_char > 0 THEN n_alpha / n_char ELSE 0.0 END) * 0.4
         |      + (CASE WHEN n_tok > 0 THEN en_hits / n_tok ELSE 0.0 END) * 0.3
         |      + least(n_tok / 100.0, 1.0) * 0.3, 6) AS quality
         |  FROM h),
         |kept AS (SELECT scored.doc_id, scored.text, scored.lang_guess, scored.quality
         |         FROM scored JOIN lmscore USING (doc_id)
         |                     JOIN bgscore USING (doc_id)
         |                     JOIN spanfrac USING (doc_id)
         |         WHERE lang_guess = 'en' AND quality >= 0.45
         |           AND lm_anl <= $LmMaxSurprisal
         |           AND bg_anl <= $LmMaxBigramSurprisal
         |           AND span_frac <= $SpanMaxDupFrac),
         |fp AS (SELECT doc_id, text, lang_guess, quality,
         |         md5(array_to_string($toks, ' ')) AS fp FROM kept),
         |keepers AS (SELECT fp, min(doc_id) AS keeper FROM fp GROUP BY 1),
         |ae AS (SELECT f.doc_id, f.text, f.lang_guess, f.quality
         |       FROM fp f JOIN keepers k ON f.fp = k.fp WHERE f.doc_id = k.keeper),
         |t2 AS (SELECT doc_id, $toks AS toks FROM ae),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |         i -> array_to_string(toks[i:i+2], ' ')))) AS shingle FROM t2),
         |hot AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) > 100),
         |idx AS (SELECT doc_id, shingle FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM idx GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |          FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |near_losers AS (
         |  SELECT DISTINCT db AS doc_id FROM pairs
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) >= 0.5),
         |tu AS (SELECT DISTINCT text AS t FROM ae WHERE text IS NOT NULL),
         |ts2 AS (SELECT t, lead(t) OVER (ORDER BY t) AS nxt FROM tu),
         |tc AS (SELECT t FROM ts2
         |       WHERE nxt IS NOT NULL AND len(nxt) > len(t) AND substr(nxt, 1, len(t)) = t),
         |trunc_losers AS (SELECT ae.doc_id FROM ae JOIN tc ON ae.text = tc.t)
         |SELECT doc_id, lang_guess, quality FROM ae
         |WHERE doc_id NOT IN (SELECT doc_id FROM near_losers)
         |  AND doc_id NOT IN (SELECT doc_id FROM trunc_losers)""".stripMargin
    },

    "text_heavy_tokens" ->
      """WITH c AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        |g AS (SELECT token, count(*) AS cnt FROM c GROUP BY 1)
        |SELECT token, cnt FROM g
        |WHERE cnt * 29 >= (SELECT sum(cnt) FROM g) * 1""".stripMargin,

    "text_top_tokens" ->
      """WITH c AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        |g AS (SELECT token, count(*) AS cnt FROM c GROUP BY 1),
        |r AS (SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM g)
        |SELECT token, cnt, rank FROM r WHERE rank <= 20""".stripMargin,

    "text_idf" ->
      """WITH d AS (
        |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS token
        |  FROM documents),
        |g AS (SELECT token, count(*) AS df FROM d GROUP BY 1)
        |SELECT token, df,
        |  round(ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / df), 6) AS idf
        |FROM g""".stripMargin,

    // Exact-substring span twin: windows BY STRING (the gate's
    // fingerprints are thereby verified against the collision-free
    // ground truth); coverage as count(DISTINCT pos + j) over the
    // duplicated windows' index expansion — the same interval union the
    // Spark side folds.
    "dedup_ngram_spans" -> ngramSpanOracleSql,

    // Span-removal twin: kept tokens are indices outside every
    // duplicated window's [pos, pos+8) expansion, rejoined in index
    // order; docs with nothing kept (or no tokens) yield ''.
    "dedup_ngram_spans_clean" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    array_to_string(toks[i + 1 : i + 8], ' ') AS wtext
        |  FROM t, unnest(range(0, greatest(len(toks) - 7, 0))) AS u(i)),
        |c AS (SELECT wtext FROM w GROUP BY wtext HAVING count(*) > 1),
        |d AS (SELECT doc_id, pos FROM w WHERE wtext IN (SELECT wtext FROM c)),
        |cix AS (SELECT DISTINCT doc_id, pos + j AS idx
        |  FROM d, unnest(range(0, 8)) AS r(j)),
        |k AS (SELECT t.doc_id, CAST(i AS BIGINT) AS idx, toks[i + 1] AS tok
        |  FROM t, unnest(range(0, len(toks))) AS u(i)),
        |kept AS (SELECT k.doc_id, k.idx, k.tok FROM k
        |  LEFT JOIN cix ON k.doc_id = cix.doc_id AND k.idx = cix.idx
        |  WHERE cix.idx IS NULL)
        |SELECT t.doc_id,
        |  coalesce(string_agg(tok, ' ' ORDER BY idx), '') AS clean_text
        |FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id
        |GROUP BY t.doc_id""".stripMargin,

    // Gopher rule-vector twin: per-word HOFs over the same token
    // array; '#'/'...' counts via non-overlapping replace (identical
    // left-to-right semantics in both engines; the '...' delta is
    // always a multiple of 3).
    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text,
        |    CASE WHEN trim(text) = '' THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, len(toks) AS n,
        |    coalesce(list_sum(list_transform(toks, t -> CAST(len(t) AS BIGINT))), 0) AS sumlen,
        |    len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS nalpha,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS hashes,
        |    CAST((len(text) - len(replace(text, '...', ''))) // 3
        |      + (len(text) - len(replace(text, '…', ''))) AS BIGINT) AS ellipses,
        |    len(string_split(text, chr(10))) AS nlines,
        |    len(list_filter(string_split(text, chr(10)), l ->
        |      list_contains(['•', '-', '*'], substr(ltrim(l), 1, 1)))) AS nbullet,
        |    len(list_filter(string_split(text, chr(10)), l ->
        |      ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS nelline,
        |    CAST(len(list_filter(toks, t -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], lower(t)))) AS BIGINT)
        |      AS stop_hits
        |  FROM t),
        |m AS (SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        |    CASE WHEN n > 0 THEN round(sumlen / CAST(n AS DOUBLE), 6) ELSE 0.0 END
        |      AS mean_word_len,
        |    CASE WHEN n > 0 THEN round(nalpha / CAST(n AS DOUBLE), 6) ELSE 0.0 END
        |      AS frac_alpha_words,
        |    CASE WHEN n > 0 THEN round(hashes / CAST(n AS DOUBLE), 6) ELSE 0.0 END
        |      AS hash_word_ratio,
        |    CASE WHEN n > 0 THEN round(ellipses / CAST(n AS DOUBLE), 6) ELSE 0.0 END
        |      AS ellipsis_word_ratio,
        |    round(nbullet / CAST(nlines AS DOUBLE), 6) AS frac_bullet_lines,
        |    round(nelline / CAST(nlines AS DOUBLE), 6) AS frac_ellipsis_lines,
        |    stop_hits
        |  FROM s)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha_words,
        |  hash_word_ratio, ellipsis_word_ratio,
        |  frac_bullet_lines, frac_ellipsis_lines, stop_hits,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND hash_word_ratio <= 0.1 AND ellipsis_word_ratio <= 0.1
        |   AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
        |   AND frac_alpha_words >= 0.8 AND stop_hits >= 2) AS pass_gopher
        |FROM m""".stripMargin,

    // Sorted-adjacency prefix containment replicated as one global lead
    // (the oracle can afford the single-partition form; binary string
    // order in both engines, so successor choice agrees).
    "dedup_prefix_contained" ->
      """WITH u AS (SELECT DISTINCT text AS t FROM documents),
        |s AS (SELECT t, lead(t) OVER (ORDER BY t) AS nxt FROM u),
        |c AS (SELECT t FROM s
        |      WHERE nxt IS NOT NULL AND len(nxt) > len(t) AND substr(nxt, 1, len(t)) = t)
        |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars
        |FROM documents d JOIN c ON d.text = c.t""".stripMargin,

    // Same sorted-adjacency twin over REVERSED text (suffix of t =
    // prefix of reverse(t)), over the gate's synthesized corpus:
    // documents plus a head-stripped copy of every 7th doc.
    "dedup_suffix_contained" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, substr(text, 26) FROM documents
        |  WHERE doc_id % 7 = 0 AND len(text) > 25),
        |u AS (SELECT DISTINCT reverse(text) AS t FROM aug),
        |s AS (SELECT t, lead(t) OVER (ORDER BY t) AS nxt FROM u),
        |c AS (SELECT t FROM s
        |      WHERE nxt IS NOT NULL AND len(nxt) > len(t) AND substr(nxt, 1, len(t)) = t)
        |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars
        |FROM aug d JOIN c ON reverse(d.text) = c.t""".stripMargin,

    // See [[bm25TopKOracleSql]]: one replica for the full rebuild, the
    // incremental fold, and the compacted fold — the latter two must
    // reproduce the rebuild scores exactly by construction.
    "text_bm25_topk" -> bm25TopKOracleSql,
    "text_bm25_incremental" -> bm25TopKOracleSql,
    "text_bm25_compacted" -> bm25TopKOracleSql,

    "dedup_exact" ->
      """SELECT fingerprint, count(*) AS cnt, min(doc_id) AS keeper FROM (
        |  SELECT doc_id,
        |    md5(array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')) AS fingerprint
        |  FROM documents)
        |GROUP BY 1""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH ${jaccardPairsCte()}
         |SELECT doc_a, doc_b, jaccard FROM jpairs""".stripMargin,

    // Streaming-incremental replica: wave 0 (even ids) self-dedups, its
    // survivors' index becomes the state; wave 1 (odd ids) pairs against
    // that state plus itself. Sizes always come from the wave-local
    // window (the Spark side attaches nsh at batch-index build).
    "dedup_incremental" -> incrementalPairsOracleSql,

    // Same oracle by construction: compacting the persisted state tables
    // (ops/Compact rewrite + swap) must be result-transparent — only the
    // file layout changes, never a row.
    "dedup_incremental_compacted" -> incrementalPairsOracleSql,

    // Full-recompute reachability fixpoint over the incremental pair
    // semantics (history-internal pairs under the history hot cap, plus
    // the batch self/cross pairs of the dedup_incremental replica) — a
    // hash match proves the contracted-graph fold equals recomputing CC
    // over history ∪ batch.
    "dedup_cluster_reps_incremental" -> incrementalClusterRepsOracleSql,

    // The live streaming twin reconstructs the identical labeling.
    "dedup_cluster_reps" ->
      s"WITH RECURSIVE $clusterRepsCte SELECT doc_id, rep FROM lbl",

    // Canonical copy per cluster: the fixpoint labels joined to the
    // quality replica, top-1 per rep by (quality DESC, doc_id).
    "dedup_canonical_quality" ->
      s"""WITH RECURSIVE $clusterRepsCte,
         |$qualityCte,
         |jq AS (SELECT lbl.rep, lbl.doc_id, q.quality
         |       FROM lbl JOIN q ON lbl.doc_id = q.doc_id),
         |r AS (SELECT rep, doc_id, quality,
         |        row_number() OVER (PARTITION BY rep
         |          ORDER BY quality DESC, doc_id) AS rn
         |      FROM jq)
         |SELECT rep, doc_id AS canonical_id, quality AS canonical_quality
         |FROM r WHERE rn = 1""".stripMargin,

    // Cluster-keyed split: the fixpoint labels bucketed by the same md5
    // hash as sample_hash_split, keyed on the REPRESENTATIVE id.
    "sample_split_leakage_safe" ->
      s"""WITH RECURSIVE $clusterRepsCte
         |SELECT doc_id, rep,
         |  CASE WHEN ${md5Hash60Sql("CAST(rep AS VARCHAR)")} % 10000 < 8000 THEN 'train'
         |       WHEN ${md5Hash60Sql("CAST(rep AS VARCHAR)")} % 10000 < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM lbl""".stripMargin,

    "recall_minhash_lsh" ->
      pairRecallOracleSql(minHashLshOracleSql(),
        s"WITH ${jaccardPairsCte()} SELECT doc_a, doc_b FROM jpairs"),
    "recall_minhash_lsh_sampled" -> {
      val sampleWhere =
        s"\n       WHERE ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000 < 5000"
      pairRecallOracleSql(minHashLshOracleSql(sampleWhere),
        s"WITH ${jaccardPairsCte(sampleWhere)} SELECT doc_a, doc_b FROM jpairs")
    },

    "dedup_minhash_lsh" -> minHashLshOracleSql(),

    "dedup_simhash" -> simHashOracleSql,

    "sample_hash_split" ->
      s"""WITH b AS (SELECT doc_id,
         |  ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN bucket < 8000 THEN 'train' WHEN bucket < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin,

    "sample_mixture" -> mixtureOracleSql,

    "sample_stratified" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |  ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
         |  FROM documents)
         |SELECT lang, count(*) AS cnt FROM b
         |WHERE bucket < (CASE lang WHEN 'en' THEN 10000 WHEN 'zh' THEN 5000
         |  ELSE 2500 END)
         |GROUP BY 1""".stripMargin,

    "text_pattern_counts" -> {
      // DuckDB standard strings keep backslashes literal — embed the Java
      // regex as-is (the FilterPatterns subset is Java/RE2-identical).
      val cols = TextAnalysis.FilterPatterns.map { case (name, p) =>
        s"len(regexp_extract_all(text, '${p.replace("'", "''")}')) AS n_$name"
      }.mkString(",\n  ")
      s"SELECT doc_id,\n  $cols\nFROM documents"
    },

    "text_redact" ->
      """WITH f AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com via https://www.Example'
        |      || doc_id || '.com/a id 90000' || doc_id AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
        |    'https?://[^\s]+', '<url>', 'g'),
        |    '[0-9]{6,}', '<long_digits>', 'g') AS redacted
        |FROM f""".stripMargin,

    "text_url_hosts" ->
      """WITH f AS (SELECT doc_id,
        |    text || ' see https://www.Mirror' || (doc_id % 7) || '.net/x and http://cdn'
        |      || (doc_id % 3) || '.example.org:8080/y' AS text
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    list_transform(regexp_extract_all(text, 'https?://([^/\s:]+)', 1),
        |      x -> regexp_replace(lower(x), '^www\.', '')) AS hosts
        |  FROM f)
        |SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS url_idx, u.x AS host
        |FROM (SELECT doc_id,
        |        unnest(list_transform(hosts, (x, i) -> {'x': x, 'i': i})) AS u
        |      FROM h)""".stripMargin,

    "text_chunks" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |s AS (SELECT doc_id, toks,
        |    unnest(generate_series(0, len(toks) - 1, 16)) AS start
        |  FROM t)
        |SELECT doc_id,
        |  CAST(start // 16 AS BIGINT) AS chunk_idx,
        |  CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_toks,
        |  md5(array_to_string(toks[start + 1 : start + 32], ' ')) AS chunk_digest
        |FROM s""".stripMargin,

    "text_remove_boilerplate" ->
      """WITH f AS (SELECT doc_id,
        |    concat_ws(chr(10), 'nav: ' || source, text,
        |              '(c) footer ' || lang, 'unsubscribe here') AS text
        |  FROM documents),
        |l AS (SELECT doc_id, u.x AS line, u.i AS pos
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(string_split(text, chr(10)),
        |            (x, i) -> {'x': x, 'i': i})) AS u
        |        FROM f)),
        |b AS (SELECT k FROM (
        |    SELECT DISTINCT doc_id, trim(line) AS k FROM l WHERE trim(line) <> '')
        |  GROUP BY k HAVING count(*) >= 10),
        |kept AS (SELECT l.doc_id,
        |    string_agg(l.line, chr(10) ORDER BY l.pos) AS clean_text,
        |    count(*) AS n_kept_lines
        |  FROM l LEFT JOIN b ON trim(l.line) = b.k
        |  WHERE b.k IS NULL GROUP BY l.doc_id)
        |SELECT f.doc_id,
        |  COALESCE(kept.clean_text, '') AS clean_text,
        |  CAST(COALESCE(kept.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
        |  CAST(len(string_split(f.text, chr(10)))
        |       - COALESCE(kept.n_kept_lines, 0) AS BIGINT) AS n_removed_lines
        |FROM f LEFT JOIN kept ON f.doc_id = kept.doc_id""".stripMargin,

    "contamination_report" ->
      """WITH fp AS (SELECT doc_id,
        |    md5(array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')) AS fp
        |  FROM documents),
        |cg AS (SELECT fp, count(*) AS n_matches, min(doc_id) AS first_match
        |  FROM fp GROUP BY 1)
        |SELECT b.doc_id AS bench_id, COALESCE(cg.n_matches, 0) AS n_matches, cg.first_match
        |FROM fp b LEFT JOIN cg ON b.fp = cg.fp
        |WHERE b.doc_id % 10 = 0""".stripMargin,

    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS nt,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(generate_series(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i + 1])
        |      ELSE [] END AS bi
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN nt > 0
        |    THEN round(1 - CAST(len(list_distinct(toks)) AS DOUBLE) / nt, 6)
        |    ELSE 0.0 END AS repetition_ratio,
        |  CASE WHEN len(bi) > 0
        |    THEN round(CAST(list_max(list_transform(list_distinct(bi),
        |           g -> len(list_filter(bi, x -> x = g)))) AS DOUBLE) / len(bi), 6)
        |    ELSE 0.0 END AS top_bigram_frac
        |FROM s""".stripMargin,

    // Twin of the corpus unigram LM: P(t) = (cnt+1)/(total+V) in exact
    // integers, per-doc fold of tf*ln(P) in term order (list ORDER BY),
    // empty docs 0.0 via the left join. The raw operator gate is
    // UNCAPPED; the corpus-cleaning oracles reuse the same CTE with the
    // 5000-token length tier.
    "text_lm_surprisal" ->
      s"""WITH ${lmScoreCte(0)}
         |SELECT doc_id, lm_n AS n_tokens, lm_anl AS avg_neg_logprob
         |FROM lmscore""".stripMargin,

    // Bigram twin: P(w2|w1) = (c(w1 w2)+1)/(c(w1 .)+V) with V the corpus
    // UNIGRAM vocabulary; per-doc fold in (w1, w2) order (each pair
    // appears once per doc after the tf group, so the order is total);
    // <2-token docs score 0.0 via the left join.
    "text_lm_bigram" -> bigramLmOracleSql,

    // Twin of the 2-token chunk segmentation + duplicate-line stats.
    // DuckDB list slicing toks[a:b] is 1-based inclusive and clamps,
    // matching Spark's slice(toks, a, 2) on the ragged last chunk.
    "text_dup_lines" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    CASE WHEN len(toks) > 0
        |      THEN list_transform(range(0, CAST(floor((len(toks) - 1) / 2.0) AS BIGINT) + 1),
        |             i -> array_to_string(toks[i * 2 + 1 : i * 2 + 2], ' '))
        |      ELSE [] END AS lines0
        |  FROM t),
        |f AS (SELECT doc_id, list_filter(lines0, x -> len(trim(x)) > 0) AS arr FROM l),
        |s AS (SELECT doc_id, len(arr) AS n, len(list_distinct(arr)) AS nd,
        |    coalesce(list_sum(list_transform(arr, x -> len(x))), 0) AS sum_all,
        |    coalesce(list_sum(list_transform(list_distinct(arr), x -> len(x))), 0) AS sum_dist
        |  FROM f)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_lines,
        |  CASE WHEN n > 0 THEN round((n - nd) / CAST(n AS DOUBLE), 6) ELSE 0.0 END
        |    AS dup_line_frac,
        |  CASE WHEN sum_all > 0
        |    THEN round((sum_all - sum_dist) / CAST(sum_all AS DOUBLE), 6) ELSE 0.0 END
        |    AS dup_char_frac
        |FROM s""".stripMargin,

    // floor(x*scale + 0.5) quantization codes are exact double arithmetic
    // in both engines (float -> double widening is lossless).
    "corpus_filter_report" -> {
      val toks = "regexp_split_to_array(trim(text), '\\s+')"
      val hits = TextAnalysis.StopwordLists.map { case (lang, words) =>
        s"${hitsSql(toks, words)} AS h_$lang"
      }.mkString(",\n    ")
      val best = s"greatest(${TextAnalysis.StopwordLists.map(l => s"h_${l._1}").mkString(", ")})"
      s"""WITH ${lmScoreCte(LmDocTokenCap)},
         |${spanFracCte(SpanDedupW)},
         |b AS (
         |  SELECT doc_id, text,
         |    CAST(length(text) AS DOUBLE) AS n_char,
         |    CAST(len($toks) AS DOUBLE) AS n_tok,
         |    CAST(len(list_distinct($toks)) AS DOUBLE) AS n_tok_distinct,
         |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         |    $hits
         |  FROM documents),
         |m AS (SELECT *, $best AS best,
         |    round(
         |      (CASE WHEN n_char > 0 THEN n_alpha / n_char ELSE 0.0 END) * 0.4
         |    + (CASE WHEN n_tok > 0 THEN h_en / n_tok ELSE 0.0 END) * 0.3
         |    + least(n_tok / 100.0, 1.0) * 0.3, 6) AS quality,
         |    CASE WHEN n_tok > 0 THEN 1 - n_tok_distinct / n_tok ELSE 0.0 END AS rep
         |  FROM b),
         |tu AS (SELECT DISTINCT text AS t FROM documents WHERE text IS NOT NULL),
         |ts2 AS (SELECT t, lead(t) OVER (ORDER BY t) AS nxt FROM tu),
         |tc AS (SELECT t FROM ts2
         |       WHERE nxt IS NOT NULL AND len(nxt) > len(t) AND substr(nxt, 1, len(t)) = t)
         |SELECT doc_id,
         |  (h_en = best AND best > 0) AS pass_lang,
         |  quality >= 0.45 AS pass_quality,
         |  rep < 0.6 AS pass_repetition,
         |  len(regexp_extract_all(text, '[0-9]{6,}')) = 0 AS pass_no_digit_runs,
         |  COALESCE(text NOT IN (SELECT t FROM tc), TRUE) AS pass_not_truncated,
         |  lm_anl <= $LmMaxSurprisal AS pass_lm,
         |  span_frac <= $SpanMaxDupFrac AS pass_span_dedup,
         |  (h_en = best AND best > 0) AND quality >= 0.45 AND rep < 0.6
         |    AND len(regexp_extract_all(text, '[0-9]{6,}')) = 0
         |    AND COALESCE(text NOT IN (SELECT t FROM tc), TRUE)
         |    AND lm_anl <= $LmMaxSurprisal
         |    AND span_frac <= $SpanMaxDupFrac AS keep
         |FROM m JOIN lmscore USING (doc_id) JOIN spanfrac USING (doc_id)""".stripMargin
    },

    // Shard-local running sums replicated with the md5-derived shard hash.
    "pack_chunks" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
         |    ${md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM documents),
         |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(cum - n_tokens AS BIGINT) AS start_offset,
         |  CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 512) AS BIGINT) AS start_chunk,
         |  CAST(CASE WHEN n_tokens = 0 THEN floor(CAST(cum - n_tokens AS DOUBLE) / 512)
         |       ELSE floor(CAST(cum - 1 AS DOUBLE) / 512) END AS BIGINT) AS end_chunk
         |FROM c""".stripMargin,

  )
}
