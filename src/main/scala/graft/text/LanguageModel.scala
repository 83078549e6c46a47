package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus unigram language-model quality scoring — the statistical LM
  * filter every large-scale corpus pipeline runs (CCNet-style, reduced
  * to its order-0 form): fit P(t) over the corpus itself with add-one
  * smoothing, then score each document by the average negative
  * log-likelihood (surprisal) of its tokens. Fluent in-domain text
  * scores low; vocabulary-foreign or token-salad text scores high —
  * a corpus-relative signal the per-document heuristics
  * ([[TextAnalysis.qualityScore]]) cannot see.
  *
  * Scale shape: one (doc, term) tf shuffle (map-side combined to
  * distinct doc-terms per partition) + one term-count aggregation over
  * the tf rows, then a term-keyed equi-join of the two — both narrow;
  * the vocabulary/total attach is a single broadcast row. No
  * all-pairs, no driver state, no vocabulary collect.
  *
  * Determinism (cross-engine exact): P(t) = (cnt_t + 1) / (total + V)
  * divides exact integers in double; each document's log-prob folds
  * tf_dt · ln P(t) over its DISTINCT terms in TERM ORDER (sorted
  * collect + left fold, the [[Bm25]] trick) so the double sum is
  * partition-order independent; the average rounds to 6.
  */
object LanguageModel {

  /** (doc_id, n_tokens, avg_neg_logprob) for every document —
    * surprisal under the corpus' own add-one-smoothed unigram LM.
    * Empty/blank documents score 0.0 (no evidence, not infinite
    * surprise) with n_tokens 0.
    *
    * `cache` governs the (doc, term) tf table — it feeds THREE
    * consumers (the term-count aggregation, the one-row vocab/total
    * attach through it, and the contrib join's probe side). Without a
    * persist the explode+groupBy re-executes per consumer AND the
    * term-count side loses its small-relation estimate (the join
    * degrades from broadcast to a 25 M-row sort-merge at sf10):
    * measured 229 s end-to-end vs ~21 s with the persist at 500 k docs
    * (stage split in SCALE.md, "Round-12: `text_lm_surprisal` decade
    * row, and a measured persist lesson").
    *
    * Memory bound of the per-doc fold: `collect_list(struct(term, lp))`
    * buffers ONE document's DISTINCT-term list on the task that owns
    * its group — bounded by per-document vocabulary, the same contract
    * as [[Bm25.scoreIndex]]'s fold (there the buffer is query terms,
    * here it is doc vocabulary). Fine for web-document corpora (vocab
    * ≪ heap); a single pathological multi-GB document would
    * concentrate one group's buffer on one task, so `maxDocTokens > 0`
    * caps the evidence window: each document is scored over its FIRST
    * `maxDocTokens` tokens (and contributes only those to the LM fit),
    * bounding the buffer by min(doc vocab, maxDocTokens). 0 = uncapped.
    * [[CorpusPipeline.clean]] passes its length-tier cap through here.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
                       cache: DataFrame => DataFrame =
                         graft.util.CacheScope.untracked,
                       maxDocTokens: Int = 0): DataFrame =
    surprisalFromTf(cache(tfSlice(docs, idCol, textCol, maxDocTokens)),
      docs.select(col(idCol).as("doc_id")))

  /** The unigram LM's index unit: (doc_id, term, tf) for one corpus
    * slice. Slices over DISJOINT doc sets fold by plain append — term
    * counts, vocabulary, and totals all derive from the folded table —
    * so [[surprisalFromTf]] over a fold scores EXACTLY like the
    * one-shot [[unigramSurprisal]] over the union (no stats sidecar
    * needed, unlike BM25's dl norms). This is what a streaming
    * maintainer persists per wave
    * ([[graft.streaming.EventStreams.lmIndexSink]]): O(batch) per
    * fold, history never re-tokenized.
    */
  def tfSlice(docs: DataFrame, idCol: String, textCol: String,
              maxDocTokens: Int = 0): DataFrame =
    tfFromToks(cappedToks(docs, idCol, textCol, maxDocTokens))

  /** The unigram tf aggregation over an already-tokenized
    * (doc_id, toks) frame — split out so [[sharedSurprisal]] can feed
    * both LM tiers from ONE materialized tokenization. */
  private[text] def tfFromToks(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Both LM tiers from ONE tokenization pass (optimization guide §1.2
    * step 1 / §2.4: don't recompute what two consumers share). The
    * independent [[unigramSurprisal]] + [[bigramSurprisal]] pair runs
    * the tokenizer kernel THREE times over the corpus (unigram tf,
    * bigram pairs, and the bigram tier's vocabulary pass); here the
    * capped (doc_id, toks) frame is materialized once via `cache` and
    * every downstream — unigram tf, bigram tf, and the vocabulary,
    * which is derived from the unigram tf's distinct terms (exactly the
    * corpus unigram vocabulary, the same integer) — reads the
    * materialized tokens. Scores are bit-identical to the independent
    * tiers: [[surprisalFromTf]] / [[bigramSurprisalFromTf]] are shared
    * verbatim and the smoothing vocabulary is the same exact count.
    */
  def sharedSurprisal(docs: DataFrame, idCol: String, textCol: String,
                      cache: DataFrame => DataFrame =
                        graft.util.CacheScope.untracked,
                      maxDocTokens: Int = 0): (DataFrame, DataFrame) = {
    val toks = cappedToks(docs, idCol, textCol, maxDocTokens)
    val docIds = docs.select(col(idCol).as("doc_id"))
    val uniTf = cache(tfFromToks(toks))
    val uni = surprisalFromTf(uniTf, docIds)
    // Deliberately NOT materializing `toks` itself: the token projection
    // of a 100 TB corpus is corpus-sized, and round 16 (SCALE.md, "The
    // shared-tokens economy in corpus_clean") measured its cache build+read at or above the recompute cost — so
    // the two tf builds each re-tokenize (2 passes), while the third
    // pass (the vocabulary) is eliminated for free by counting distinct
    // terms of the already-cached unigram tf (the same exact integer).
    val vocab = uniTf.agg(count_distinct(col("term")).as("v"))
    val bi = bigramSurprisalFromTf(cache(bigramTfFromToks(toks)), vocab,
      docIds, cache)
    (uni, bi)
  }

  /** Scores every doc_id in `docIds` against a (possibly folded) tf
    * table. `tf` should arrive persisted (it feeds three consumers —
    * see [[unigramSurprisal]]'s cache contract). Docs absent from `tf`
    * (zero tokens) score 0.0 with n_tokens 0 via the left join.
    */
  def surprisalFromTf(tf: DataFrame, docIds: DataFrame): DataFrame = {
    val counts = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val vt = counts.agg(count(lit(1)).as("v"), coalesce(sum(col("cnt")), lit(0L)).as("total"))
    val lnP = log((col("cnt").cast(DoubleType) + lit(1.0)) /
      (col("total").cast(DoubleType) + col("v").cast(DoubleType)))
    val contrib = tf.join(counts, "term").crossJoin(broadcast(vt))
      .withColumn("lp", col("tf").cast(DoubleType) * lnP)
    val perDoc = contrib.groupBy(col("doc_id"))
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("term"), col("lp")))),
          lit(0.0d),
          (acc, x) => acc + x.getField("lp")).as("s"),
        sum(col("tf")).as("n"))
    docIds
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_tokens"),
        when(coalesce(col("n"), lit(0L)) > 0,
          round(-col("s") / col("n").cast(DoubleType), 6))
          .otherwise(lit(0.0)).as("avg_neg_logprob"))
  }

  /** Order-1 form of the corpus LM filter (one step toward CCNet's
    * 5-gram): score each document by the average negative
    * log-likelihood of its BIGRAMS under the corpus' own add-one
    * conditional model, P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)
    * with V the corpus UNIGRAM vocabulary. Catches locally-incoherent
    * text (shuffled or spliced fluent words) that the order-0 filter
    * scores as fluent — each token is common, each PAIR is novel.
    *
    * Output: (doc_id, n_bigrams, avg_neg_logprob); documents with
    * fewer than two tokens score 0.0 (no bigram evidence) with
    * n_bigrams 0.
    *
    * Scale shape mirrors [[unigramSurprisal]]: one (doc, w1, w2) tf
    * shuffle (map-side combined), a bigram-count and a context-count
    * aggregation over the tf rows (both narrow), two equi-joins back,
    * and a one-row broadcast vocabulary attach. Determinism: exact
    * integer counts divided in double; the per-doc fold lists
    * contributions in (w1, w2) order (each pair appears once per doc,
    * so the order is total); the average rounds to 6. The same
    * `maxDocTokens` cap bounds the fold buffer (distinct bigrams of
    * one doc ≤ capped token count).
    */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
                      cache: DataFrame => DataFrame =
                        graft.util.CacheScope.untracked,
                      maxDocTokens: Int = 0): DataFrame = {
    val toks = cappedToks(docs, idCol, textCol, maxDocTokens)
    // Vocabulary = corpus UNIGRAM vocab (the standard smoothing base for
    // a conditional bigram model), a one-row broadcast.
    val vocab = toks.select(explode(col("toks")).as("term"))
      .agg(count_distinct(col("term")).as("v"))
    bigramSurprisalFromTf(cache(bigramTfFromToks(toks)), vocab,
      docs.select(col(idCol).as("doc_id")), cache)
  }

  private def cappedToks(docs: DataFrame, idCol: String, textCol: String,
                         maxDocTokens: Int): DataFrame = {
    val allToks = TextAnalysis.tokens(col(textCol))
    val capped =
      if (maxDocTokens > 0) slice(allToks, 1, maxDocTokens) else allToks
    docs.select(col(idCol).as("doc_id"), capped.as("toks"))
  }

  private def bigramTfFromToks(toks: DataFrame): DataFrame = {
    val nt = size(col("toks"))
    // Adjacent pairs by zipping the array against its own tail; guarded
    // so 0/1-token docs contribute an empty pair list, not a negative
    // slice length.
    val pairs = when(nt >= 2,
      zip_with(
        slice(col("toks"), lit(1), nt - 1),
        slice(col("toks"), lit(2), nt - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast(ArrayType(
        StructType(Seq(StructField("w1", StringType), StructField("w2", StringType))))))
    toks.select(col("doc_id"), explode(pairs).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
  }

  /** The bigram LM's index unit: (doc_id, w1, w2, tf) for one corpus
    * slice — the order-1 twin of [[tfSlice]], folding by the same
    * disjoint-doc append argument (bigram counts, context counts and
    * per-doc evidence all derive from the folded table). The one model
    * input it does NOT carry is the unigram smoothing vocabulary, which
    * a maintainer gets from the unigram [[tfSlice]] kept alongside
    * ([[graft.streaming.EventStreams.lmBigramIndexSink]] persists both;
    * distinct terms of the folded unigram slice = corpus vocabulary,
    * including the 1-token docs that contribute no bigrams).
    */
  def bigramTfSlice(docs: DataFrame, idCol: String, textCol: String,
                    maxDocTokens: Int = 0): DataFrame =
    bigramTfFromToks(cappedToks(docs, idCol, textCol, maxDocTokens))

  /** Scores every doc_id in `docIds` against a (possibly folded) bigram
    * tf table. `vocab` is a ONE-ROW frame with the corpus unigram
    * vocabulary size as `v` (broadcast onto the model); derive it from
    * the folded unigram [[tfSlice]] via `count_distinct(term)` when
    * scoring a maintained index. Docs absent from `tf` (fewer than two
    * tokens) score 0.0 with n_bigrams 0 via the left join.
    */
  def bigramSurprisalFromTf(tf: DataFrame, vocab: DataFrame,
                            docIds: DataFrame,
                            cache: DataFrame => DataFrame =
                              graft.util.CacheScope.untracked): DataFrame = {
    val cbi = cache(tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("cnt")))
    val cctx = cbi.groupBy(col("w1")).agg(sum(col("cnt")).as("ctx"))
    val lnP = log((col("cnt").cast(DoubleType) + lit(1.0)) /
      (col("ctx").cast(DoubleType) + col("v").cast(DoubleType)))
    // Fold the model INTO the (small) count table first — cbi ⋈ cctx is
    // vocabulary-sized — so the big (doc, w1, w2) tf table crosses ONE
    // join, not two: the two-join form paid a second full tf
    // shuffle+sort at 100× data (bigram vocabulary outgrows the
    // broadcast threshold by Heaps' law, so these are sort-merge joins
    // at scale — the per-pair model fold must happen on the small side).
    val model = cbi.join(cctx, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), lnP.as("lnp"))
    val contrib = tf.join(model, Seq("w1", "w2"))
      .withColumn("lp", col("tf").cast(DoubleType) * col("lnp"))
    val perDoc = contrib.groupBy(col("doc_id"))
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("w1"), col("w2"), col("lp")))),
          lit(0.0d),
          (acc, x) => acc + x.getField("lp")).as("s"),
        sum(col("tf")).as("n"))
    docIds
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n"), lit(0L)) > 0,
          round(-col("s") / col("n").cast(DoubleType), 6))
          .otherwise(lit(0.0)).as("avg_neg_logprob"))
  }
}
