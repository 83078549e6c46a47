package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{CorpusPipeline, Dedup, LanguageModel, SpanDedup, TextAnalysis}
import graft.util.CacheScope

/** The text layer in the traced run: each curation tier's public function
  * over a drain's incoming docs, materialized at its boundary, then the
  * composed `CorpusPipeline.clean` with every tier armed and a tracked
  * `CacheScope`, its survivors written to Parquet for the reference. */
object TextProbes {
  // The thresholds of the engine's corpus_clean gate, which the DuckDB
  // twin in Queries.oracleSql("corpus_clean") embeds.
  val MinQuality = 0.45
  val Jaccard = 0.5
  val MaxDocFreq = 100L
  val MaxSurprisal = 3.5
  val MaxBigramSurprisal = 3.47
  val SpanW = 8
  val SpanMaxFrac = 0.5
  val DocTokenCap = 5000

  def run(ctx: Ctx, docs: DataFrame, out: String): Unit = {
    val t = ctx.tracer
    def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val n = docs.count()
    val scope = new CacheScope
    try {
      t.probe("text", "score")(materialize(docs.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))))
      t.probe("text", "lm") {
        val (uni, bi) = LanguageModel.sharedSurprisal(docs, "doc_id", "text",
          scope.persist, DocTokenCap)
        materialize(uni.join(bi, Seq("doc_id")))
      }
      t.probe("text", "span")(materialize(SpanDedup.ngramSpanStats(docs, "doc_id", "text", SpanW)))
      t.probe("text", "exact") {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
        materialize(docs.withColumn("fp", TextAnalysis.exactFingerprint(col("text")))
          .withColumn("keeper", min(col("doc_id")).over(w))
          .where(col("doc_id") === col("keeper")))
      }
      t.probe("text", "prefix")(materialize(Dedup.prefixContainedDocs(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", scope.persist)))
      t.probe("text", "near_dup") {
        val idx = scope.persist(Dedup.countedShingleIndex(
          docs.select(col("doc_id"), col("text")), "doc_id", "text", 3, MaxDocFreq))
        val verified = Dedup.ngramJaccardPairsFromIndex(idx, Jaccard).count()
        val candidates = Dedup.ngramJaccardPairsFromIndex(idx, 0.0).count()
        t.record("text.candidate_pairs", candidates.toDouble)
        t.record("text.verified_pairs", verified.toDouble)
        t.record("text.pair_yield", if (candidates > 0) verified.toDouble / candidates else 0.0)
      }
    } finally scope.close()
    t.probe("text", "clean")(clean(ctx, docs, out))
    t.record("text.kept_ratio", ctx.spark.read.parquet(out).count().toDouble / math.max(1L, n))
  }

  /** The composed job: every tier armed, tracked scope, survivors to Parquet. */
  def clean(ctx: Ctx, docs: DataFrame, out: String): Unit = {
    val t = ctx.tracer
    val scope = new CacheScope
    try {
      val kept = CorpusPipeline.clean(docs, "doc_id", "text", lang = "en",
        minQuality = MinQuality, jaccardThreshold = Jaccard, maxDocFreq = MaxDocFreq,
        maxSurprisal = MaxSurprisal, maxBigramSurprisal = MaxBigramSurprisal,
        spanDedupW = SpanW, maxDupSpanFrac = SpanMaxFrac, lmMaxDocTokens = DocTokenCap,
        cache = df => t.span("util", "persist")(scope.persist(df)),
        exactCache = df => t.span("util", "truncate")(scope.truncate(df)))
      t.span("io", "write")(kept.write.mode("overwrite").parquet(out))
    } finally t.span("util", "close")(scope.close())
  }
}
