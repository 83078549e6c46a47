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

/** Gate registry — embedding similarity, ANN, vector near-dup + their recall audits.
  * Entries moved verbatim from the former monolithic [[Queries]];
  * [[Queries]] merges the family registries. */
private[graft] object QueriesVector {

  import QueriesShared._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"), round(col("sim"), 6).as("sim"))
    }),

    // Same semantics through the bounded-heap TypedImperativeAggregate:
    // map-side partial top-k, exchange carries k pairs per query instead
    // of the whole scored corpus. Shares sim_brute_topk's oracle.
    "sim_brute_topk_agg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopKAgg(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"), round(col("sim"), 6).as("sim"))
    }),

    "sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          "label", k = 5, nprobe = 3)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"), round(col("sim"), 6).as("sim"))
    }),

    // Bulk-labeling IVF path: probe set too big to broadcast (corpus-as-
    // queries), so it shuffles and equi-joins on centroid_id instead.
    // Same semantics, same oracle — only the join strategy differs (both
    // shapes pinned in PlanContractSpec).
    "sim_ivf_topk_bulk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.where(col("vec_id") < 8), emb, "vec_id", "embedding",
          "label", k = 5, nprobe = 3, broadcastProbes = false)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"), round(col("sim"), 6).as("sim"))
    }),

    // IVF over LEARNED cells: deterministic spherical k-means (seeds =
    // 10 smallest by md5-hash-of-id — layout-decorrelated spread — one
    // Lloyd round) labels the corpus, then the same
    // ivfTopK runs over the learned cells. This is the index-build path
    // when no natural label exists — and it lifts the label-IVF recall
    // ceiling (~nprobe/ncells on unclustered labels) by concentrating
    // true neighbors into probed cells. The full fit (assignment argmax,
    // decimal-mean recompute, re-assignment, probe ranking) is replicated
    // exactly by the oracle.
    "sim_ivf_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val labeled = Similarity.withKmeansLabel(emb, "vec_id", "embedding",
        k = 10, iters = 1)
      Similarity.ivfTopK(labeled.where(col("vec_id") < 8), labeled, "vec_id",
          "embedding", "centroid_id", k = 5, nprobe = 3)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"), round(col("sim"), 6).as("sim"))
    }),

    // Two-tier quantized search: int8-code recall tier (4x less data per
    // comparison), exact float rescore of k*4 candidates — the shape a
    // 100 TB vector corpus actually ships. Codes, approx ranks and the
    // rescore are all replicated exactly by the oracle.
    "sim_quantized_rescore" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(emb.where(col("vec_id") < 8), emb, "vec_id",
          "embedding", k = 5, rescoreFactor = 4)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("neighbor_id"), round(col("sim"), 6).as("sim"))
    }),

    // Embedding-cosine near-dup: exact O(n^2) tier with a brute-force
    // DuckDB twin; norms precomputed per vector, not per pair.
    "dedup_embedding" -> ((s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
        .select(col("doc_a"), col("doc_b"), round(col("sim"), 6).as("sim"))),

    // LSH-bucketed variant: candidates share a hyperplane bucket in any of
    // three seeded hash tables (multi-table LSH — the production recall
    // knob; measured recall ~3x the single-table form), verified exactly.
    "dedup_embedding_lsh" -> ((s, dir) =>
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.45, nbits = 4, seeds = lshSeeds)
        .select(col("doc_a"), col("doc_b"), round(col("sim"), 6).as("sim"))),

    // Vector twin of dedup_incremental: the even-id half's LSH bucket
    // table persisted as the accepted-corpus state, odd ids arriving as
    // the batch — new vectors near-dup-checked against history without
    // ever re-pairing history.
    "dedup_embedding_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = graft.util.StateSeed.root("graft_incvec", dir) { root =>
        Similarity.lshBucketTable(emb.where(pmod(col("vec_id"), lit(2)) === 0),
            "vec_id", "embedding", dim = 64, nbits = 4, seeds = lshSeeds)
          .write.parquet(root + "/buckets")
      }
      Similarity.incrementalLshNearDup(emb.where(pmod(col("vec_id"), lit(2)) =!= 0),
          s.read.parquet(root + "/buckets"), "vec_id", "embedding",
          dim = 64, threshold = 0.45, nbits = 4, seeds = lshSeeds)
        .select(col("doc_a"), col("doc_b"), round(col("sim"), 6).as("sim"), col("src"))
    }),

    // ---- recall audits for the approximate tiers --------------------------
    // One-row reports: recall of each approximate tier vs its exact twin,
    // integer-count arithmetic only (deterministic under any partitioning).
    // The oracle replicates the VALUE but hard-codes meets_floor = TRUE,
    // so a parameter change that silently tanks recall flips the Spark row
    // false and the gate red (the agg_approx_distinct tripwire pattern).
    // Floors sit ~60% of measured recall at the test SFs: a real
    // regression (halved recall) trips them; SF-to-SF noise does not.
    // (IVF measured 0.33-0.43 — nprobe 3 of 10 cells whose labels are NOT
    // learned clusters, so ~nprobe/ncells is the intrinsic ceiling here.)
    "recall_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
      Recall.topKRecall(
        Similarity.ivfTopK(q, emb, "vec_id", "embedding", "label", k = 5, nprobe = 3),
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5),
        k = 5, floor = 0.2)
    }),

    // Learned-cell IVF recall: measured 0.925 mean / 0.8 min at sf0.001
    // AND sf0.01 vs 0.33-0.43 for label-IVF at the same nprobe/ncells —
    // the learned clustering is what the floor certifies (floor ~60% of
    // measured, same policy as the other audits).
    "recall_ivf_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val labeled = Similarity.withKmeansLabel(emb, "vec_id", "embedding",
        k = 10, iters = 1)
      val q = emb.where(col("vec_id") < 8)
      Recall.topKRecall(
        Similarity.ivfTopK(labeled.where(col("vec_id") < 8), labeled, "vec_id",
          "embedding", "centroid_id", k = 5, nprobe = 3),
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5),
        k = 5, floor = 0.55)
    }),

    "recall_quantized_rescore" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 8)
      Recall.topKRecall(
        Similarity.quantizedTopK(q, emb, "vec_id", "embedding", k = 5, rescoreFactor = 4),
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5),
        k = 5, floor = 0.6)
    }),

    "recall_embedding_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Recall.pairRecall(
        Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
          dim = 64, threshold = 0.45, nbits = 4, seeds = lshSeeds),
        Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.45),
        floor = 0.3)
    }),

    // The audit form that RUNS at 100 TB: the exact tier is O(n²), so the
    // full audit above is only runnable at test scale. Hyperplane-LSH
    // candidacy is a property of the PAIR alone (the two vectors' sign
    // patterns against fixed planes — bucket collision never depends on
    // the rest of the corpus), so recall measured over a deterministic
    // hash-sample of vectors is an unbiased estimate of full-corpus
    // recall, while the exact tier's cost falls quadratically (a 50%
    // sample pays 1/4 the pairs). md5 bucket so DuckDB replicates the
    // sample membership bit-for-bit.
    "recall_embedding_lsh_sampled" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .where(graft.ops.Sampling.hashBucket(col("vec_id"), Dedup.Md5Hash60) < 5000)
      Recall.pairRecall(
        Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
          dim = 64, threshold = 0.45, nbits = 4, seeds = lshSeeds),
        Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.45),
        floor = 0.3)
    }),

    // The PRODUCTION configuration of the LSH audit, standing-gated: the
    // fixed-nbits audits above pin the oracle's geometry, but a real
    // deployment sizes buckets to the corpus (Similarity.autoNbits — the
    // knob the sf10 realistic probe measured at 61x the pinned-nbits
    // wall with 100% planted recall). The gate data has no high-sim
    // pairs, so the near-dup scenario is PLANTED: every vector is
    // unioned with a deterministically perturbed twin (+-0.01
    // alternating by position — cosine ~0.9968 on these unit-norm
    // embeddings, the only pairs above the 0.99 threshold), and the
    // audit asserts the count-derived-nbits LSH tier recovers them.
    // The truth set is the PLANTED pairs themselves (an id equi-join,
    // O(n)) — not the O(n²) exact tier the fixed-nbits audits pay —
    // because this is the audit shape that actually RUNS at corpus
    // scale (the sf10 realistic probe's tripwire): the full-tier
    // denominator twin already exists as recall_embedding_lsh, and at
    // 10x data the planted form costs the LSH job alone. nbits is
    // derived from count(*) on BOTH sides (the oracle computes it in
    // SQL), so a regression in autoNbits or in recall at the derived
    // width flips meets_floor red. maxBits=16 matches the oracle's
    // embedded plane coefficients (16 bits covers ~1M vectors; the
    // test SFs derive the 8-bit floor clamp).
    "recall_embedding_lsh_auto" -> ((s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + lit(0.01d) * when(pmod(i, lit(2)) === 0, lit(1.0d))
            .otherwise(lit(-1.0d))).as("embedding"))
      val all = base.unionByName(planted)
      val nbits = Similarity.autoNbits(all.count(), maxBits = 16)
      val truth = base.select(col("vec_id"), col("embedding").as("va"))
        .join(planted.select((col("vec_id") - lit(1000000L)).as("vec_id"),
          col("embedding").as("vb")), Seq("vec_id"))
        .select(col("vec_id").as("doc_a"),
          (col("vec_id") + lit(1000000L)).as("doc_b"),
          Similarity.cosine(col("va"), col("vb")).as("sim"))
        .where(col("sim") >= 0.99)
      Recall.pairRecall(
        Similarity.lshNearDupPairs(all, "vec_id", "embedding", dim = 64,
          threshold = 0.99, nbits = nbits, seeds = lshSeeds),
        truth, floor = 0.9)
    }),

    "sql_graft_dot" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql(
        """SELECT vec_id, round(graft_dot(embedding, embedding), 6) AS self_dot
          |FROM embeddings_v WHERE vec_id < 100""".stripMargin)
    }),

    // ---- S1: per-symbol REST extract as a real DataSourceV2 ---------------
    // graft.sources.FmpSource: the kept symbols packed into min(#symbols,
    // defaultParallelism) contiguous groups, one task per group (a task
    // retry re-fetches its group), required-column pruning into the record
    // parser, symbol predicates consumed before packing (the TK4 fetch
    // below never happens). Transport is
    // file-backed (no egress in this container); the staged JSONL per
    // sym_part directory is the fixture standing in for the HTTP body.
    // L2 normalization (the standard pre-ANN projection: unit vectors
    // make cosine a plain dot). Norm computed once per row in its own
    // projection — inlined in the per-element lambda it would re-run the
    // 64-dim dot 64x per row. The unit-norm tripwire rides along.
    // Output shape: the array is DIGESTED (md5 of micro-unit integers —
    // floor(x*1e6+0.5), the quantize-gate recipe) because the driver's
    // pandas hash-compare cannot canonicalize top-level arrays; the
    // scalar tripwires (is_unit recomputed from the array, first element
    // in the clear) keep a digest collision from masking a numeric bug.
    "vec_l2_normalize" -> ((s, dir) =>
      Similarity.withL2Normalized(
          t(s, dir, "embeddings"), "embedding", "unit")
        .select(col("vec_id"),
          md5(concat_ws(",", transform(col("unit"),
              x => floor(x * lit(1e6) + lit(0.5d)).cast(StringType))))
            .as("unit_md5"),
          round(element_at(col("unit"), 1), 6).as("u0_r6"),
          (abs(graft.vector.Similarity.dot(col("unit"), col("unit")) - 1.0d) < 1e-9)
            .as("is_unit"))),

    // Embedding POOLING (chunk -> document / members -> centroid): the
    // graft_vec_mean TypedImperativeAggregate holds one (sum[dim], n)
    // buffer per group with map-side partial aggregation — the exchange
    // carries one dim-length vector per (group, partition), where the
    // explode-to-(group, pos) formulation shuffles corpus x dim rows.
    // Same digest-the-array output shape as vec_l2_normalize (pandas
    // hash-compare constraint); n_vecs + the first mean element stay in
    // the clear as tripwires.
    "vec_mean_pool" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .groupBy(pmod(col("vec_id"), lit(16)).as("grp"))
        .agg(graft.functions.VectorAggregates.vecMean(col("embedding")).as("m"),
          count(lit(1)).as("n_vecs"))
        .select(col("grp"), col("n_vecs"),
          md5(concat_ws(",", transform(col("m"),
              x => floor(x * lit(1e6) + lit(0.5d)).cast(StringType))))
            .as("mean_md5"),
          round(element_at(col("m"), 1), 6).as("m0_r6"))),

    "vec_quantize_int8" -> ((s, dir) => {
      val qz = graft.functions.VectorExpressions.int8Quantize(col("embedding"))
      t(s, dir, "embeddings")
        .select(col("vec_id"), qz.as("qz"))
        .select(col("vec_id"),
          round(col("qz.scale"), 6).as("scale_r6"),
          md5(concat_ws(",", transform(col("qz.q"), x => x.cast(StringType))))
            .as("q_md5"),
          size(filter(col("qz.q"), x => abs(x) === 127)).cast(LongType).as("n_sat"))
    }),

  )

  /** DuckDB replica of the full k-means-IVF path: seed pick (k smallest
    * by (md5-hash-of-id, id) — the layout-decorrelated spread
    * [[Similarity.kmeansCentroids]] uses), assignment argmax (highest
    * cosine, ties to smallest centroid id, zero-norm scored -2 — exactly
    * [[Similarity.nearestCentroid]]), decimal-mean recompute
    * (bit-identical to [[Similarity.centroids]]), re-assignment, then the
    * standard ivfTopK replica (recomputed cell means, nprobe probe
    * ranking, exact scoring) over the learned labels.
    */
  private val kmeansIvfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |seeds AS (SELECT vec_id AS centroid_id, v AS cv FROM e
      |          ORDER BY ${md5Hash60Sql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 10),
      |s1 AS (SELECT e.vec_id, s.centroid_id,
      |         list_dot_product(e.v, s.cv) AS d,
      |         sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.cv, s.cv)) AS nn
      |       FROM e CROSS JOIN seeds s),
      |a1 AS (SELECT vec_id, centroid_id FROM (
      |         SELECT vec_id, centroid_id,
      |           row_number() OVER (PARTITION BY vec_id
      |             ORDER BY (CASE WHEN nn > 0 THEN d / nn ELSE -2 END) DESC, centroid_id) AS rn
      |         FROM s1) t1 WHERE rn = 1),
      |ex1 AS (SELECT a1.centroid_id, unnest(e.v) AS val, generate_subscripts(e.v, 1) AS pos
      |        FROM e JOIN a1 USING (vec_id)),
      |cm1 AS (SELECT centroid_id, pos,
      |          CAST(SUM(CAST(val AS DECIMAL(27,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
      |        FROM ex1 GROUP BY 1, 2),
      |c1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cv FROM cm1 GROUP BY 1),
      |s2 AS (SELECT e.vec_id, c.centroid_id,
      |         list_dot_product(e.v, c.cv) AS d,
      |         sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)) AS nn
      |       FROM e CROSS JOIN c1 c),
      |a2 AS (SELECT vec_id, centroid_id FROM (
      |         SELECT vec_id, centroid_id,
      |           row_number() OVER (PARTITION BY vec_id
      |             ORDER BY (CASE WHEN nn > 0 THEN d / nn ELSE -2 END) DESC, centroid_id) AS rn
      |         FROM s2) t2 WHERE rn = 1),
      |ex2 AS (SELECT a2.centroid_id, unnest(e.v) AS val, generate_subscripts(e.v, 1) AS pos
      |        FROM e JOIN a2 USING (vec_id)),
      |cm2 AS (SELECT centroid_id, pos,
      |          CAST(SUM(CAST(val AS DECIMAL(27,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
      |        FROM ex2 GROUP BY 1, 2),
      |c2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cv FROM cm2 GROUP BY 1),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
      |pr AS (SELECT query_id, qv, centroid_id,
      |         list_dot_product(qv, cv) AS d,
      |         sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) AS nn
      |       FROM q CROSS JOIN c2),
      |pr2 AS (SELECT query_id, qv, centroid_id,
      |          row_number() OVER (PARTITION BY query_id
      |            ORDER BY (CASE WHEN nn > 0 THEN d / nn END) DESC, centroid_id) AS crank
      |        FROM pr),
      |probes AS (SELECT query_id, qv, centroid_id FROM pr2 WHERE crank <= 3),
      |cc AS (SELECT e.vec_id AS neighbor_id, a2.centroid_id, e.v AS nv
      |       FROM e JOIN a2 USING (vec_id)),
      |sc AS (SELECT p.query_id, cc.neighbor_id,
      |         list_dot_product(p.qv, cc.nv) AS d,
      |         sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(cc.nv, cc.nv)) AS nn
      |       FROM cc JOIN probes p ON cc.centroid_id = p.centroid_id
      |       WHERE p.query_id <> cc.neighbor_id),
      |r AS (SELECT query_id, neighbor_id, CASE WHEN nn > 0 THEN d / nn END AS sim,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY (CASE WHEN nn > 0 THEN d / nn END) DESC, neighbor_id) AS rank
      |      FROM sc)
      |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM r WHERE rank <= 5""".stripMargin

  /** DuckDB replica of the planted-pair autoNbits recall audit: the
    * perturbed-twin union, nbits = clamp(8, 16, ceil(log2(n/16)))
    * computed FROM count(*) (exactly [[Similarity.autoNbits]] at
    * maxBits=16), per-seed bucket ids whose bits above nbits mask to
    * zero (plane coefficients embedded for all 16 bits), any-table
    * candidate join with exact cosine verify at 0.99, a PLANTED-pair
    * truth set (base ⋈ twin on id — the O(n) denominator that runs at
    * corpus scale), then the pairRecall arithmetic with meets_floor
    * replicated as literal TRUE (the tripwire: a Spark-side recall
    * below the floor flips the row red).
    */
  private val embeddingLshAutoOracleSql: String = {
    val bucketExprs = lshSeeds.zipWithIndex.map { case (seed, i) =>
      val planes = (0 until 16).map { b =>
        val arr = (0 until 64)
          .map(p => java.lang.Double.toString(Similarity.hyperplaneCoef(seed, b, p)))
          .mkString(", ")
        s"(CASE WHEN $b < nbits AND list_dot_product(v, [$arr]) > 0 " +
          s"THEN (1::BIGINT << $b) ELSE 0::BIGINT END)"
      }.mkString(" | ")
      s"$planes AS b$i"
    }
    val anyTable = lshSeeds.indices.map(i => s"a.b$i = b.b$i").mkString(" OR ")
    s"""WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |             FROM embeddings),
       |planted AS (SELECT vec_id + 1000000 AS vec_id,
       |              list_transform(v, (x, i) -> x + 0.01 *
       |                (CASE WHEN (i - 1) % 2 = 0 THEN 1.0 ELSE -1.0 END)) AS v
       |            FROM base),
       |allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
       |nb AS (SELECT GREATEST(8, LEAST(16,
       |         CAST(ceil(log2(CAST(count(*) AS DOUBLE) / 16.0)) AS INTEGER))) AS nbits
       |       FROM allv),
       |bkt AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |          ${bucketExprs.mkString(", ")}
       |        FROM allv CROSS JOIN nb),
       |cand AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
       |         FROM bkt a JOIN bkt b ON a.vec_id < b.vec_id AND ($anyTable)),
       |approx AS (SELECT c.doc_a, c.doc_b
       |           FROM cand c JOIN bkt x ON x.vec_id = c.doc_a
       |                       JOIN bkt y ON y.vec_id = c.doc_b
       |           WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.99),
       |ex AS (SELECT b.vec_id AS doc_a, b.vec_id + 1000000 AS doc_b
       |       FROM base b JOIN planted p ON p.vec_id = b.vec_id + 1000000
       |       WHERE list_dot_product(b.v, p.v)
       |         / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(p.v, p.v)))
       |         >= 0.99),
       |h AS (SELECT count(*) AS n_hits FROM approx a JOIN ex e
       |        ON a.doc_a = e.doc_a AND a.doc_b = e.doc_b),
       |na AS (SELECT count(*) AS n_approx FROM approx),
       |ne AS (SELECT count(*) AS n_exact FROM ex)
       |SELECT ne.n_exact, na.n_approx,
       |  round(CAST(h.n_hits AS DOUBLE) / ne.n_exact, 6) AS recall,
       |  TRUE AS meets_floor
       |FROM ne, na, h""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "recall_embedding_lsh_auto" -> embeddingLshAutoOracleSql,
    "sim_brute_topk" -> bruteTopKOracleSql,

    // Quantization replicated per vec_quantize_int8; the int-code dot is
    // exact in double (|products| <= 127^2 * dim), so the recall ranking
    // matches bit-for-bit, and the rescore reuses the float cosine.
    "sim_quantized_rescore" -> quantizedRescoreOracleSql,

    "recall_ivf_topk" -> topKRecallOracleSql(ivfOracleSql),
    "recall_quantized_rescore" -> topKRecallOracleSql(quantizedRescoreOracleSql),
    "recall_embedding_lsh" ->
      pairRecallOracleSql(embeddingLshOracleSql(), embeddingExactPairsOracleSql()),
    "recall_embedding_lsh_sampled" -> {
      val sampleWhere =
        s"\n           WHERE ${md5Hash60Sql("CAST(vec_id AS VARCHAR)")} % 10000 < 5000"
      pairRecallOracleSql(embeddingLshOracleSql(sampleWhere),
        embeddingExactPairsOracleSql(sampleWhere))
    },
    "sim_brute_topk_agg" -> bruteTopKOracleSql,

    "dedup_embedding" -> embeddingExactPairsOracleSql(),

    "sql_graft_dot" ->
      """SELECT vec_id,
        |  round(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |                         list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS self_dot
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    "sim_ivf_topk" -> ivfOracleSql,
    "sim_ivf_topk_bulk" -> ivfOracleSql,
    "sim_ivf_kmeans" -> kmeansIvfOracleSql,
    "recall_ivf_kmeans" -> topKRecallOracleSql(kmeansIvfOracleSql),

    "dedup_embedding_lsh" -> embeddingLshOracleSql(),

    "dedup_embedding_incremental" -> incrementalEmbeddingLshOracleSql,

    // Same left-to-right double accumulation for the norm in both
    // engines; is_unit replicated as literal TRUE would hide an engine
    // bug, so the oracle recomputes it from its own normalized list.
    // The md5 digest mirrors the Spark side's floor(x*1e6+0.5) micro-unit
    // integers exactly (integers stringify identically in both engines,
    // where raw doubles would not).
    "vec_l2_normalize" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |u AS (SELECT vec_id,
        |    CASE WHEN nrm = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> x / nrm) END AS unit
        |  FROM n)
        |SELECT vec_id,
        |  md5(array_to_string(list_transform(unit,
        |    x -> CAST(CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS VARCHAR)), ',')) AS unit_md5,
        |  round(unit[1], 6) AS u0_r6,
        |  abs(list_sum(list_transform(unit, x -> x * x)) - 1.0) < 1e-9 AS is_unit
        |FROM u""".stripMargin,

    // Per-position mean via a lateral position expansion; both engines
    // average the same per-element doubles (the micro-unit digest rounds
    // to 6 decimals, absorbing summation order).
    "vec_mean_pool" ->
      """WITH e AS (SELECT vec_id % 16 AS grp, embedding FROM embeddings),
        |u AS (SELECT grp, unnest(list_transform(embedding,
        |        (x, i) -> {'pos': i, 'val': CAST(x AS DOUBLE)})) AS s
        |      FROM e),
        |m AS (SELECT grp, s.pos AS pos, avg(s.val) AS v FROM u GROUP BY 1, 2),
        |n AS (SELECT grp, count(*) AS n_vecs FROM e GROUP BY 1),
        |mv AS (SELECT m.grp, n.n_vecs,
        |         list(CAST(floor(m.v * 1000000 + 0.5) AS BIGINT) ORDER BY m.pos) AS ivec,
        |         list(m.v ORDER BY m.pos) AS vec
        |       FROM m JOIN n USING (grp) GROUP BY m.grp, n.n_vecs)
        |SELECT grp, n_vecs,
        |  md5(array_to_string(list_transform(ivec, x -> CAST(x AS VARCHAR)), ',')) AS mean_md5,
        |  round(vec[1], 6) AS m0_r6
        |FROM mv""".stripMargin,

    "vec_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
        |sc AS (SELECT vec_id, v,
        |    CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale FROM m),
        |q AS (SELECT vec_id, scale,
        |    list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
        |  FROM sc)
        |SELECT vec_id, round(scale, 6) AS scale_r6,
        |  md5(array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')) AS q_md5,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        |FROM q""".stripMargin,

  )
}
