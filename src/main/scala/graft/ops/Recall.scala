package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Recall audits for the approximate tiers (LSH / IVF / quantized): each
  * produces a ONE-ROW report comparing an approximate result against its
  * exact twin, with a `meets_floor` boolean gated in the driver contract.
  * The oracle twin hard-codes `meets_floor = TRUE`, so a parameter change
  * that silently tanks recall turns the Spark row false and the gate red —
  * the `agg_approx_distinct` tripwire pattern — while the recall VALUE is
  * replicated by both engines and catches engine bugs.
  *
  * Each audit is ONE full-outer join + one aggregate, so each input plan
  * executes exactly once. The first form of these audits counted |approx|,
  * |exact| and the intersection as three separate aggregates — three jobs
  * that re-executed the UNPERSISTED pair/top-k pipelines feeding them
  * (the approx side twice, the exact side twice); SCALE.md (Text
  * dedup, "Round-9 audit-cost finding") records that recompute as the stage that kept the SAMPLED audit —
  * the form that runs at 100 TB — at ~80% of the full audit's cost.
  *
  * All ratios are derived from integer counts (hit/total), never from
  * floating-point aggregation, so the report is deterministic under any
  * partitioning. Inputs must be row-unique on their key columns (true of
  * every pair/top-k generator in this engine: they end in groupBy or
  * per-query top-k) — the join-then-count identity needs it.
  */
object Recall {

  /** Top-k recall of `approx` vs `exact`, both shaped
    * (query_id, rank, neighbor_id, ...). Per-query hit counts aggregate to
    * mean recall = sum(hits) / (n_queries * k) — integer arithmetic until
    * the final division. Queries in `exact` but absent from `approx`
    * count zero hits, and approx rows for queries `exact` never saw are
    * ignored (so an approximate tier that drops or invents a query
    * cannot inflate the mean).
    */
  def topKRecall(approx: DataFrame, exact: DataFrame, k: Int,
                 floor: Double): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("_a", lit(1))
    val e = exact.select(col("query_id"), col("neighbor_id"))
      .withColumn("_e", lit(1))
    val per = a.join(e, Seq("query_id", "neighbor_id"), "full_outer")
      .groupBy(col("query_id"))
      .agg(count(col("_e")).as("n_exact_rows"),
        count(when(col("_a").isNotNull && col("_e").isNotNull, 1)).as("hits"))
      .where(col("n_exact_rows") > 0)
    per.agg(count(lit(1)).as("n_queries"), sum(col("hits")).as("total_hits"),
        min(col("hits")).as("min_hits"))
      .select(col("n_queries"),
        round(col("total_hits").cast(DoubleType) /
          (col("n_queries") * k).cast(DoubleType), 6).as("mean_recall"),
        round(col("min_hits").cast(DoubleType) / lit(k.toDouble), 6).as("min_recall"))
      .withColumn("meets_floor", col("mean_recall") >= floor)
  }

  /** Pair recall of `approx` vs `exact`, both shaped (doc_a, doc_b, ...)
    * with doc_a < doc_b. Approximate tiers verify candidates exactly, so
    * approx is a subset of exact and recall = |approx| / |exact|; the
    * report still counts the intersection explicitly so a buggy tier
    * emitting NON-subset pairs shows up as n_approx > n_hits.
    */
  def pairRecall(approx: DataFrame, exact: DataFrame,
                 floor: Double): DataFrame = {
    val a = approx.select(col("doc_a"), col("doc_b")).withColumn("_a", lit(1))
    val e = exact.select(col("doc_a"), col("doc_b")).withColumn("_e", lit(1))
    a.join(e, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("_e")).as("n_exact"), count(col("_a")).as("n_approx"),
        count(when(col("_a").isNotNull && col("_e").isNotNull, 1)).as("n_hits"))
      .select(col("n_exact"), col("n_approx"),
        round(col("n_hits").cast(DoubleType) / col("n_exact").cast(DoubleType), 6)
          .as("recall"))
      .withColumn("meets_floor", col("recall") >= floor)
  }
}
