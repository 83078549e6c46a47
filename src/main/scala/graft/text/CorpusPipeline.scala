package graft.text

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** The composed training-data cleaning flow — the flagship beyond-reference
  * pipeline: language filter -> quality filter -> corpus-LM surprisal
  * filter -> exact-dedup keeper -> truncation-duplicate drop -> near-dup
  * keeper. Every stage is one of the library's scan-side expressions or
  * index joins.
  *
  * Keeper policy (deterministic): within an exact-duplicate group the
  * smallest doc_id survives; a surviving doc whose text is a PROPER
  * PREFIX of another surviving doc's text is dropped (the truncated
  * re-crawl loses to the complete copy — [[Dedup.prefixContainedDocs]]);
  * among near-dup pairs (Jaccard >= threshold) the larger doc_id is
  * dropped (transitively this keeps each near-dup cluster's smallest id
  * surviving against its direct pairs).
  */
object CorpusPipeline {

  /** Returns the surviving documents (doc_id + diagnostics).
    *
    * `maxSurprisal` is the corpus-LM tier ([[LanguageModel]]): documents
    * whose average token surprisal under the corpus' OWN add-one unigram
    * LM (fit on the raw input, rounded to 6) exceeds the threshold are
    * dropped alongside the lang/quality tiers — the CCNet-style
    * statistical filter that catches vocabulary-foreign / token-salad
    * text the per-doc heuristics pass. `maxBigramSurprisal` arms the
    * order-1 twin ([[LanguageModel.bigramSurprisal]]) for
    * locally-incoherent text whose unigram stats look fluent. Infinity
    * (both defaults) skips a tier entirely — no tf shuffle is planned
    * for an unarmed tier.
    *
    * `spanDedupW` arms the exact-substring span tier ([[SpanDedup]],
    * Lee et al. 2021): documents whose duplicated-window coverage
    * fraction (`dup_token_frac` over `spanDedupW`-token windows,
    * computed against the RAW input corpus like the LM tiers) exceeds
    * `maxDupSpanFrac` are dropped — the boilerplate-saturated documents
    * the document-level dedup tiers below can't see when the
    * surrounding text differs. 0 (the default) leaves the tier unarmed:
    * no window fingerprint shuffle is planned, the same contract as the
    * LM tiers. `lmMaxDocTokens` bounds
    * the per-doc evidence window (and thereby the LM fold's per-group
    * buffer — see [[LanguageModel.unigramSurprisal]]): each doc is
    * scored over its first N tokens, the length tier a web corpus needs
    * against pathological multi-GB documents. When both LM tiers are
    * armed they share one tokenization unless the session sets
    * `spark.graft.noLmShare` ([[graft.GraftConf]]); rows are identical
    * either way.
    *
    * `cache` governs the LM/span tf intermediates and the shingle index;
    * the post-exact-dedup frame goes through `exactCache` (default
    * [[graft.util.CacheScope.truncate]] — lineage truncation, see the
    * comment at the call site), so callers managing their own
    * persistence (`cache = CacheScope.none`) can also opt the post-exact
    * frame out (or into a tracked scope) explicitly. Long-lived sessions
    * pass a `CacheScope.persist`/`scope.truncate` and close the scope
    * after the terminal action.
    */
  def clean(docs: DataFrame, idCol: String, textCol: String,
            lang: String = "en", minQuality: Double = 0.3,
            jaccardThreshold: Double = 0.5, maxDocFreq: Long = 100L,
            maxSurprisal: Double = Double.PositiveInfinity,
            maxBigramSurprisal: Double = Double.PositiveInfinity,
            spanDedupW: Int = 0, maxDupSpanFrac: Double = 0.5,
            lmMaxDocTokens: Int = 5000,
            cache: DataFrame => DataFrame = graft.util.CacheScope.untracked,
            exactCache: DataFrame => DataFrame = graft.util.CacheScope.truncate): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored0 = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
      TextAnalysis.langId(col(textCol)).as("lang_guess"),
      round(TextAnalysis.qualityScore(col(textCol)), 6).as("quality"))
    // Each LM tier joins on doc_id only when armed: an infinite
    // threshold must not cost its tf shuffle. The order-1 tier
    // (maxBigramSurprisal) catches locally-incoherent shuffles of
    // corpus-common words the order-0 tier scores as fluent.
    //
    // When BOTH tiers are armed they share ONE tokenization pass
    // (LanguageModel.sharedSurprisal): the independent tiers run the
    // tokenizer kernel three times over the raw corpus (unigram tf,
    // bigram pairs, vocabulary), and post-widening that kernel time is
    // the tier sum's largest term. Scores are bit-identical (same
    // scoring folds, same exact vocabulary count), which
    // OptimizationInvarianceSpec pins with `noLmShare` on and off.
    val shareLm = !maxSurprisal.isPosInfinity &&
      !maxBigramSurprisal.isPosInfinity &&
      !graft.GraftConf(docs.sparkSession).noLmShare
    val lmTiers: Seq[(Double, DataFrame)] =
      if (shareLm) {
        val (uni, bi) = LanguageModel.sharedSurprisal(
          docs, idCol, textCol, cache, lmMaxDocTokens)
        Seq(maxSurprisal -> uni, maxBigramSurprisal -> bi)
      } else Seq(
        maxSurprisal ->
          (if (maxSurprisal.isPosInfinity) null
           else LanguageModel.unigramSurprisal(docs, idCol, textCol, cache, lmMaxDocTokens)),
        maxBigramSurprisal ->
          (if (maxBigramSurprisal.isPosInfinity) null
           else LanguageModel.bigramSurprisal(docs, idCol, textCol, cache, lmMaxDocTokens)))
    val keptLm = lmTiers.zipWithIndex.foldLeft(
      scored0.where(col("lang_guess") === lang && col("quality") >= minQuality)) {
      case (acc, ((threshold, scores), i)) =>
        if (threshold.isPosInfinity) acc
        else acc
          .join(scores.select(col("doc_id"), col("avg_neg_logprob").as(s"_anl$i")),
            Seq("doc_id"))
          .where(col(s"_anl$i") <= threshold).drop(s"_anl$i")
    }
    // Span tier (armed only when spanDedupW > 0 — an unarmed tier plans
    // no window shuffle): drop documents whose duplicated-window
    // coverage against the RAW corpus exceeds maxDupSpanFrac. The frac
    // is the rounded value [[SpanDedup.ngramSpanStats]] reports, so the
    // threshold compare is engine-replicable.
    val kept =
      if (spanDedupW <= 0) keptLm
      else keptLm
        .join(SpanDedup.ngramSpanStats(docs, idCol, textCol, spanDedupW)
            .select(col("doc_id"), col("dup_token_frac")),
          Seq("doc_id"))
        .where(col("dup_token_frac") <= maxDupSpanFrac)
        .drop("dup_token_frac")

    // Exact-dup keeper via one window pass (no self-join): the smallest
    // doc_id per fingerprint survives.
    val keeperW = Window.partitionBy(col("fp"))
    val afterExact0 = kept
      .withColumn("fp", TextAnalysis.exactFingerprint(col("text")))
      .withColumn("keeper", min(col("doc_id")).over(keeperW))
      .where(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("text"), col("lang_guess"), col("quality"))
    // Lineage truncation, not just caching (guide §3.3/§5): afterExact0's
    // LOGICAL tree contains the whole scored + LM-tier + span-tier
    // upstream, and it is referenced by the shingle index (feeding both
    // self-join sides), the truncation tier, and the final anti-join — a
    // plain persist leaves 4-5 copies of that tree in the terminal
    // action's plan (the formatted plan measured ~1 MB), so Catalyst
    // re-analysis/optimization became a real term of the gate's wall.
    // localCheckpoint materializes the same blocks a persist would AND
    // cuts the plan to a scan of them. The session's
    // `spark.graft.noPlanCut` restores the persist-only shape (the A/B
    // switch; see CacheScope.truncate). Routed through the
    // `exactCache` parameter (default = truncate) so callers managing
    // their own persistence are not force-checkpointed — note that with
    // the default, BUILDING this DataFrame eagerly executes the whole
    // scored+LM+span upstream (localCheckpoint is eager).
    val afterExact = exactCache(afterExact0)

    // Near-dup losers: the larger id of each surviving pair. The input is
    // exact-unique by construction (the keeper window above), so this
    // goes straight to the per-doc index path — the wrapper's
    // exactCollapse stage would re-fingerprint a corpus with nothing
    // left to collapse.
    val idx = cache(Dedup.countedShingleIndex(
      afterExact.select(col("doc_id"), col("text")), "doc_id", "text",
      n = 3, maxDocFreq = maxDocFreq))
    val nearLosers = Dedup.ngramJaccardPairsFromIndex(idx, jaccardThreshold)
      .select(col("doc_b").as("doc_id")).distinct()

    // Truncation-duplicate drop: a surviving doc whose text is a proper
    // prefix of another surviving doc's text loses to the complete copy
    // (independent of the Jaccard tier — a short truncation shares too
    // few shingles with its full version to reach the threshold).
    // prefixContainedDocs persists internally regardless of `cache` —
    // its range-boundary materialization is correctness-critical.
    val truncLosers = Dedup.prefixContainedDocs(
        afterExact.select(col("doc_id"), col("text")), "doc_id", "text", cache)
      .select(col("doc_id"))

    afterExact.join(nearLosers.unionByName(truncLosers).distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang_guess"), col("quality"))
  }
}
