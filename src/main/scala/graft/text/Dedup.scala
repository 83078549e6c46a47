package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication at corpus scale: exact (hash-groupBy), n-gram
  * Jaccard (shingle inverted index), MinHash + LSH banding, and SimHash
  * with Hamming banding. Everything is expressed as DataFrame plans —
  * shuffles are on shingle / band / key columns, so each stage partitions
  * cleanly across a cluster; nothing is pairwise over the full corpus.
  *
  * Scale analysis (the reason for each shape):
  *  - exact:       one hash-aggregate, O(corpus).
  *  - jaccard:     inverted index on shingles; candidate generation is
  *                 bounded per-shingle (hot-shingle cap) so worst-case
  *                 skew can't go quadratic.
  *  - minhash-lsh: signature is a fixed-width aggregate per doc; banding
  *                 turns near-dup search into an equi-join on (band, sig)
  *                 — the only all-pairs-free sublinear candidate scheme.
  *  - simhash:     64-bit fingerprint; Hamming<=3 via 4x16-bit band
  *                 pigeonhole, candidates verified exactly with xor+popcnt.
  */
object Dedup {

  private def docTokens(docs: DataFrame, idCol: String, textCol: String) = {
    import TextAnalysis._
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
  }

  /** Default term hash (see [[graft.functions.Hashes]]). */
  val XxHash: Column => Column = graft.functions.Hashes.XxHash64

  /** Cross-engine-verifiable term hash (see [[graft.functions.Hashes]]). */
  val Md5Hash60: Column => Column = graft.functions.Hashes.Md5Hash60

  /** Exact duplicate groups: md5 over normalized text -> (hash, cnt,
    * keeper=min id). Reference-analog of the natural-key dedup (O-M3) on
    * content instead of key.
    */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextAnalysis.exactFingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))

  /** (doc_id, shingle) inverted-index edge list — `shingle` is the
    * xxhash64 of the n-gram (shuffling/joining 8-byte longs, not 15-20
    * byte strings; 64-bit collisions are negligible at any real corpus
    * size and only perturb candidate generation, which is exactly
    * verified). Shingles are distinct per doc, with a hot-shingle cap:
    * shingles occurring in more than `maxDocFreq` docs generate no
    * candidate pairs (standard skew guard — a stopword shingle would
    * otherwise create |docs|^2 pairs).
    */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String, n: Int,
                   maxDocFreq: Long, hashFn: Column => Column = XxHash): DataFrame = {
    // Tokenize in its own projection so the shingle lambda references an
    // attribute — inlining split() here would re-tokenize per shingle.
    val sh = docs
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(TextAnalysis.shinglesFromTokens(col("toks"), n)).as("shingle_s"))
      .select(col("doc_id"), hashFn(col("shingle_s")).as("shingle"))
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq).select("shingle")
    sh.join(hot, Seq("shingle"), "left_anti")
  }

  /** The counted inverted index — [[shingleIndex]] plus each doc's
    * shingle count riding on every edge. This is the shared input of the
    * exact tier, the MinHash tier, and the recall audit that compares
    * them: build it ONCE (cached) and feed the `FromIndex` variants
    * instead of letting each tier re-tokenize the corpus.
    */
  def countedShingleIndex(docs: DataFrame, idCol: String, textCol: String, n: Int,
                          maxDocFreq: Long, hashFn: Column => Column = XxHash): DataFrame =
    withShingleCounts(shingleIndex(docs, idCol, textCol, n, maxDocFreq, hashFn))

  /** Exact-duplicate collapse in front of the shingle machinery: docs
    * grouped by token fingerprint (md5 over the token stream — the same
    * equivalence the shingle index sees), one representative (min id) per
    * group. The quadratic candidate stages then run over UNIQUE texts,
    * and duplicate mass — the dominant term on the corpora a dedup
    * operator exists for — only touches the final output expansion
    * ([[expandExactGroups]]). `reps` carries (doc_id, _t, grp_n);
    * `membership` maps every doc to its representative.
    */
  final case class ExactCollapse(reps: DataFrame, membership: DataFrame)

  def exactCollapse(docs: DataFrame, idCol: String, textCol: String,
                    cache: DataFrame => DataFrame = graft.util.CacheScope.untracked): ExactCollapse = {
    // ONE narrow corpus shuffle: the fingerprint window moves only
    // (doc_id, fp) — document TEXT never rides an exchange or the cache.
    // Representatives re-read their text from the (column-pruned) source
    // scan via a doc_id join against the rep rows — a join AQE broadcasts
    // while the distinct-text count is modest and degrades to one
    // narrow-keyed shuffle at corpus scale.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_fp"))
    val membership = cache(docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.exactFingerprint(col(textCol)).as("_fp"))
      .withColumn("rep_id", min(col("doc_id")).over(w))
      .withColumn("grp_n", count(lit(1)).over(w))
      .select(col("doc_id"), col("rep_id"), col("grp_n")))
    val reps = docs.select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .join(membership.where(col("doc_id") === col("rep_id"))
        .select(col("doc_id"), col("grp_n")), Seq("doc_id"))
    ExactCollapse(reps, membership)
  }

  /** [[countedShingleIndex]] over the representatives of an
    * [[exactCollapse]]. The hot-shingle cap weights each representative
    * by its group size, so `maxDocFreq` keeps counting DOCUMENTS —
    * byte-identical candidate sets and jaccard values to the uncollapsed
    * index, at |unique texts| cost.
    */
  def countedShingleIndexCollapsed(c: ExactCollapse, n: Int, maxDocFreq: Long,
                                   hashFn: Column => Column = XxHash): DataFrame = {
    val sh = c.reps
      .select(col("doc_id"), TextAnalysis.tokens(col("_t")).as("toks"), col("grp_n"))
      .select(col("doc_id"),
        explode(TextAnalysis.shinglesFromTokens(col("toks"), n)).as("shingle_s"),
        col("grp_n"))
      .select(col("doc_id"), hashFn(col("shingle_s")).as("shingle"), col("grp_n"))
    val hot = sh.groupBy("shingle").agg(sum(col("grp_n")).as("df"))
      .where(col("df") > maxDocFreq).select("shingle")
    withShingleCounts(sh.select("doc_id", "shingle").join(hot, Seq("shingle"), "left_anti"))
  }

  /** Expand representative-level pairs back to document pairs:
    *  - cross-group: every member of group A against every member of
    *    group B, inheriting the representatives' similarity (identical
    *    shingle sets -> identical value);
    *  - within-group: every pair inside a group whose representative
    *    SURVIVED the index (>= 1 post-cap shingle), at `identicalSim` —
    *    exactly the pairs the uncollapsed self-join would have found for
    *    identical docs (all-hot or shingle-less docs never pair there).
    */
  def expandExactGroups(repPairs: DataFrame, membership: DataFrame,
                        simCol: String, survivors: DataFrame,
                        identicalSim: Column): DataFrame = {
    val cross = repPairs
      .join(membership.select(col("rep_id").as("doc_a"), col("doc_id").as("_da")), Seq("doc_a"))
      .join(membership.select(col("rep_id").as("doc_b"), col("doc_id").as("_db")), Seq("doc_b"))
      .select(least(col("_da"), col("_db")).as("doc_a"),
        greatest(col("_da"), col("_db")).as("doc_b"), col(simCol))
    // Only DUPLICATE groups (grp_n >= 2, a membership predicate — no
    // extra shuffle) can produce within pairs; the survivor check is a
    // semi-join straight against the index edges (a hash build dedups the
    // right side for free — no distinct pass over the edge list).
    val m = membership.where(col("grp_n") >= 2)
      .join(survivors.select(col("doc_id").as("rep_id")), Seq("rep_id"), "left_semi")
    val within = m.as("x").join(m.as("y"), Seq("rep_id"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        identicalSim.as(simCol))
    within.unionByName(cross)
  }

  /** Pairwise n-gram Jaccard similarity >= `threshold` via inverted-index
    * self-join (candidates share >=1 shingle). Output: (doc_a < doc_b,
    * jaccard). Exact — this is also the verifier behind the sketch-based
    * paths. Runs through [[exactCollapse]]: the index self-join sees each
    * distinct text once (see ExactCollapse for why that is the
    * scale-defining move on duplicate-heavy corpora).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxDocFreq: Long = 1000L,
                        cache: DataFrame => DataFrame = graft.util.CacheScope.untracked,
                        hashFn: Column => Column = XxHash): DataFrame = {
    // Per-doc shingle counts ride along via a window over the index (one
    // extra shuffle on doc_id) instead of two post-aggregation joins; the
    // counted index feeds both self-join sides, so it is cached by
    // default (tokenize+explode+hot-cap would otherwise run twice).
    // Long-lived sessions pass a CacheScope.persist to reclaim the blocks
    // after the terminal action; CacheScope.none disables caching.
    val c = exactCollapse(docs, idCol, textCol, cache)
    val idx = cache(countedShingleIndexCollapsed(c, n, maxDocFreq, hashFn))
    expandExactGroups(ngramJaccardPairsFromIndex(idx, threshold),
      c.membership, "jaccard", idx, lit(1.0))
  }

  /** [[ngramJaccardPairs]] over a prebuilt [[countedShingleIndex]] —
    * the caller owns the index's caching (it feeds both self-join
    * sides). */
  def ngramJaccardPairsFromIndex(idx: DataFrame, threshold: Double): DataFrame = {
    val a = idx.select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("shingle"))
    val b = idx.select(col("doc_id").as("doc_b"), col("nsh").as("nb"), col("shingle"))
    a.join(b, Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental near-dup for a GROWING corpus — the production
    * ingestion shape: each new batch is paired against the accepted
    * corpus through its PERSISTED shingle index plus against itself, and
    * the historical corpus is never re-paired against its own history.
    * Per wave the cost is |batch self-join| + |batch x state index
    * equi-join| — both shingle-bucketed — instead of re-running the full
    * corpus-squared dedup that a naive "union and redo" would.
    *
    * Output: (doc_a, doc_b, jaccard, src) where src='state' pairs carry
    * the accepted-corpus doc as doc_a and the batch doc as doc_b, and
    * src='batch' pairs are batch-internal with doc_a < doc_b — so doc_b
    * is ALWAYS the batch-side id a keeper policy would drop
    * ([[incrementalAccept]]).
    */
  def incrementalNearDupPairs(batchIdx: DataFrame, stateIdx: DataFrame,
                              threshold: Double): DataFrame = {
    val self = ngramJaccardPairsFromIndex(batchIdx, threshold)
      .withColumn("src", lit("batch"))
    val a = stateIdx.select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("shingle"))
    val b = batchIdx.select(col("doc_id").as("doc_b"), col("nsh").as("nb"), col("shingle"))
    val cross = a.join(b, Seq("shingle"))
      .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .withColumn("src", lit("state"))
    self.unionByName(cross)
  }

  /** Batch ids surviving incremental dedup: docs similar to the accepted
    * corpus are dropped, and within the batch the larger id of each pair
    * is dropped (the pair-local keeper policy the cleaning flow uses —
    * doc_b is the batch-side id in BOTH pair kinds). */
  def incrementalAccept(batchIds: DataFrame, pairs: DataFrame): DataFrame =
    batchIds.join(pairs.select(col("doc_b").as(batchIds.columns.head)),
      Seq(batchIds.columns.head), "left_anti")

  /** A collapsed corpus index: the representative-level shingle index
    * plus the doc -> representative membership — BOTH halves of what a
    * growing corpus persists as its dedup state (expansion back to doc
    * pairs needs the membership). */
  final case class CollapsedIndex(repIdx: DataFrame, membership: DataFrame)

  def collapsedIndex(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, maxDocFreq: Long,
                     hashFn: Column => Column = XxHash,
                     cache: DataFrame => DataFrame = graft.util.CacheScope.untracked): CollapsedIndex = {
    val c = exactCollapse(docs, idCol, textCol, cache)
    CollapsedIndex(cache(countedShingleIndexCollapsed(c, n, maxDocFreq, hashFn)),
      c.membership)
  }

  /** [[incrementalNearDupPairs]] over COLLAPSED indexes — the form that
    * survives a duplicate-heavy corpus: candidate generation and
    * verification run at representative grain on both sides, and the
    * memberships expand the verified pairs back to doc pairs. Byte-
    * identical output to the per-doc form (same equivalence argument as
    * the batch collapse: identical text => identical shingle set, nsh,
    * and jaccard; hot caps are duplicate-weighted at index build).
    * State reps are text-distinct by construction (an identical later
    * arrival pairs with state at 1.0 and is rejected), so there is no
    * state-side within expansion.
    */
  def incrementalNearDupPairsCollapsed(batch: CollapsedIndex, state: CollapsedIndex,
                                       threshold: Double): DataFrame = {
    val self = expandExactGroups(
        ngramJaccardPairsFromIndex(batch.repIdx, threshold),
        batch.membership, "jaccard", batch.repIdx, lit(1.0))
      .withColumn("src", lit("batch"))
    val a = state.repIdx.select(col("doc_id").as("_ra"), col("nsh").as("na"), col("shingle"))
    val b = batch.repIdx.select(col("doc_id").as("_rb"), col("nsh").as("nb"), col("shingle"))
    val repCross = a.join(b, Seq("shingle"))
      .groupBy("_ra", "_rb", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .where(col("jaccard") >= threshold)
      .select(col("_ra"), col("_rb"), col("jaccard"))
    val cross = repCross
      .join(state.membership.select(col("rep_id").as("_ra"), col("doc_id").as("doc_a")), Seq("_ra"))
      .join(batch.membership.select(col("rep_id").as("_rb"), col("doc_id").as("doc_b")), Seq("_rb"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .withColumn("src", lit("state"))
    self.unionByName(cross)
  }

  /** Attach each doc's shingle count to every index edge (window count —
    * keys with one hot doc are bounded by the per-doc shingle count, not
    * the corpus). */
  private def withShingleCounts(idx: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    idx.withColumn("nsh",
      count(lit(1)).over(Window.partitionBy(col("doc_id"))))
  }

  /** MinHash parameters: `numPerm` permutations split into `bands` bands.
    * Universal-hash family h_i(x) = (a_i * x + b_i) mod p over the reduced
    * 64-bit shingle hash; constants are fixed (seeded) for determinism.
    */
  final case class MinHashParams(numPerm: Int = 32, bands: Int = 8) {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val rowsPerBand: Int = numPerm / bands
    val prime: Long = 2147483647L // 2^31 - 1; keeps a*x + b within Long
    // Deterministic LCG-generated coefficients (no Random at plan time).
    private def lcg(seed: Long): LazyList[Long] =
      LazyList.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
    val as: Seq[Long] = lcg(42L).map(s => Math.floorMod(s, prime - 1) + 1).take(numPerm).toList
    val bs: Seq[Long] = lcg(7L).map(s => Math.floorMod(s, prime)).take(numPerm).toList
  }

  /** Threshold-derived banding: the number of bands whose LSH S-curve
    * midpoint `(1/b)^(1/r)` (with `r = numPerm / b`) sits closest to
    * the target Jaccard threshold, over the divisors of `numPerm`.
    * This is the MinHash family's production banding formula — and it
    * is corpus-INDEPENDENT, unlike the embedding tier's
    * [[graft.vector.Similarity]] `autoNbits`, which must widen with
    * `count(*)` because hyperplane-bucket occupancy (and hence
    * per-bucket candidate cost) grows with the corpus: here the
    * collision probability of a pair depends only on its Jaccard
    * similarity and the (b, r) split, never on how many other
    * documents exist. No `count()` feeds this knob, so there is no
    * count-derived auto variant to gate; the recall gates pin the
    * default (32, 8) AS this formula's choice for threshold 0.5
    * instead (midpoint ≈ 0.595, the canonical "slightly above target"
    * banding that keeps precision while the exact-Jaccard verify step
    * removes the false positives).
    */
  def bandsForThreshold(numPerm: Int, threshold: Double): Int = {
    require(numPerm >= 1, s"numPerm must be >= 1, got $numPerm")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    // Tie-break: a threshold equidistant between two divisors' midpoints
    // takes the SMALLER divisor — fewer bands means more rows per band,
    // i.e. the HIGHER midpoint of the two, matching the "slightly above
    // target" convention documented above (precision-leaning; the exact
    // verify step removes false positives, while a recall-leaning tie
    // would pay more candidate pairs for duplicates the threshold never
    // asked for). The midpoint is strictly decreasing in b, so sorting
    // by (distance, b) makes the rule explicit rather than an accident
    // of minBy's first-wins ordering.
    (1 to numPerm).filter(numPerm % _ == 0).minBy { b =>
      (math.abs(math.pow(1.0 / b, b.toDouble / numPerm) - threshold), b)
    }
  }

  /** Per-doc MinHash signature: one aggregate over the shingle index,
    * producing `numPerm` min-hash columns in a single shuffle. Prefer
    * [[minHashSignaturesFromShingles]] (shuffle-free) when the per-doc
    * shingle arrays are at hand.
    */
  def minHashSignatures(idx: DataFrame, p: MinHashParams): DataFrame = {
    // Reduce the 64-bit shingle hash (already hashed by shingleIndex) into
    // [0, prime) once, then apply all permutations to the reduced value —
    // keeps every product in Long range (ANSI-safe: no overflow).
    val hm = pmod(col("shingle"), lit(p.prime))
    val aggs = (0 until p.numPerm).map { i =>
      min(pmod(hm * lit(p.as(i)) + lit(p.bs(i)), lit(p.prime))).as(s"mh_$i")
    }
    idx.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Shuffle-free MinHash signatures from per-doc shingle arrays: each
    * permutation is an `array_min(transform(...))` per-row expression —
    * zero exchanges. MEASURED SLOWER locally than [[minHashSignatures]]
    * (array higher-order functions are CodegenFallback/interpreted, while
    * the explode+groupBy min-aggregate is whole-stage-codegen'd); kept as
    * the zero-shuffle alternative for shuffle-constrained clusters where
    * exchange volume, not CPU, is the bottleneck. Input: (doc_id,
    * sh: array<string>). Empty shingle arrays yield null signatures.
    */
  def minHashSignaturesFromShingles(docsWithShingles: DataFrame, p: MinHashParams): DataFrame = {
    val withHashes = docsWithShingles.select(col("doc_id"),
      transform(col("sh"), s => pmod(xxhash64(s), lit(p.prime))).as("hm"))
    val sigCols = (0 until p.numPerm).map { i =>
      array_min(transform(col("hm"), h => pmod(h * lit(p.as(i)) + lit(p.bs(i)), lit(p.prime))))
        .as(s"mh_$i")
    }
    withHashes.select(col("doc_id") +: sigCols: _*)
  }

  /** LSH banding: explode each signature into (band_idx, band_key) and
    * self-join — docs sharing any band are candidates. Verified exactly
    * against n-gram Jaccard before reporting. Runs through
    * [[exactCollapse]]: identical texts share a signature and would all
    * but fill their LSH buckets on a duplicate-heavy corpus; collapsing
    * first keeps the banding join and the verify tier at
    * |unique texts| while the output expansion restores every pair.
    */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, threshold: Double = 0.8,
                      p: MinHashParams = MinHashParams(),
                      maxDocFreq: Long = 1000L,
                      cache: DataFrame => DataFrame = graft.util.CacheScope.untracked,
                      hashFn: Column => Column = XxHash): DataFrame = {
    // The index feeds the signature aggregate AND both verify-join sides
    // (3 evaluations of tokenize+explode+hot-cap without the cache).
    // Cached WITH the per-doc shingle counts: the counts ride the cached
    // blocks once instead of re-running the doc_id window per verify
    // side. See ngramJaccardPairs for the cache-lifecycle contract.
    val c = exactCollapse(docs, idCol, textCol, cache)
    val idx = cache(countedShingleIndexCollapsed(c, n, maxDocFreq, hashFn))
    expandExactGroups(minHashLshPairsFromIndex(idx, threshold, p),
      c.membership, "jaccard", idx, lit(1.0))
  }

  /** [[minHashLshPairs]] over a prebuilt [[countedShingleIndex]] — the
    * caller owns the index's caching (it feeds the signature aggregate
    * and both verify-join sides). */
  def minHashLshPairsFromIndex(idx: DataFrame, threshold: Double,
                               p: MinHashParams = MinHashParams()): DataFrame = {
    val sig = minHashSignatures(idx.select(col("doc_id"), col("shingle")), p)
    val bandCols = (0 until p.bands).map { b =>
      val ks = (0 until p.rowsPerBand).map(r => col(s"mh_${b * p.rowsPerBand + r}").cast(StringType))
      struct(lit(b).as("band"), concat_ws(":", ks: _*).as("key"))
    }
    val buckets = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = buckets.as("x").join(buckets.as("y"), Seq("band", "key"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Exact verification of candidates only (candidate set << all pairs);
    // per-doc sizes ride along on the cached index edges instead of two
    // extra size joins.
    val idxN = idx
    cand
      .join(idxN.select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("shingle")), Seq("doc_a"))
      .join(idxN.select(col("doc_id").as("doc_b"), col("nsh").as("nb"),
        col("shingle").as("shingle_b")), Seq("doc_b"))
      .where(col("shingle") === col("shingle_b"))
      .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Connected-component representatives over near-dup PAIRS: each node
    * labeled with the smallest id reachable through the pair graph — the
    * step that turns pairwise similarity into whole-cluster dedup (pair
    * output alone under-deletes: A~B, B~C leaves A and C both "kept" by
    * a pair-local keeper policy).
    *
    * Each round does min-label propagation (every node takes the min of
    * its own and its neighbors' labels) PLUS a pointer-jumping shortcut
    * (label := label(label), a self-join on the label table). The
    * shortcut roughly doubles the propagation distance per round, so a
    * cluster of diameter d converges in O(log d) rounds instead of the
    * O(d) of propagation alone — a 1000-link pathological chain costs
    * ~11 rounds, not 1000. A cluster deeper than the `maxIters` guard
    * THROWS rather than silently returning partially-propagated labels
    * (which would under-delete exactly the way this operator exists to
    * prevent). This is the engine's ONE deliberate driver-coordinated
    * loop: each round is fully distributed joins+aggregate, the driver
    * only checks convergence (the GraphX/GraphFrames CC shape).
    *
    * The iteration runs over EDGE ENDPOINTS only (pair endpoints must
    * be drawn from `nodes`): edge-free nodes cannot change label, so
    * they skip the loop entirely and self-label in a final expand join.
    * At fixed dup density the loop's per-round shuffle is O(E), not
    * O(corpus) — the property that keeps round cost flat as the corpus
    * grows 100x with the same duplicate rate.
    *
    * Lineage: each round's label table is `localCheckpoint`ed (eager).
    * The shortcut step references the round's tables twice, so plain
    * caching would still grow the LOGICAL plan 4x per round —
    * exponential in rounds; checkpointing truncates it to constant size
    * (the standard shape for iterative graph algorithms — GraphFrames
    * CC does the same). Superseded rounds' blocks are dropped by the
    * ContextCleaner as their references expire; the edge set, reused
    * every round, goes through `cache` (CacheScope contract, like the
    * sibling dedup operators). (Measured alternative: fusing each round
    * into one job — persist + lazy checkpoint driven by the convergence
    * count — is timing-neutral at sf0.1/sf1; round cost is shuffle-
    * stage-bound, not job-count-bound, so the simpler eager shape
    * stays.)
    */
  def clusterRepresentatives(nodes: DataFrame, idCol: String, pairs: DataFrame,
                             aCol: String = "doc_a", bCol: String = "doc_b",
                             maxIters: Int = 25,
                             cache: DataFrame => DataFrame = graft.util.CacheScope.untracked,
                             smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    // Small long-keyed pair graphs take the driver union-find fast path
    // (see contractedComponents): near-dup pair graphs are pair-BOUND —
    // ~1 % of docs at realistic density — so even multi-million-doc
    // corpora usually sit under the edge ceiling, and the distributed
    // loop's several driver-synchronized jobs per round dominate wall at
    // that size. The ceiling is checked on the cached edge count before
    // anything is collected; above it (or for non-long ids) the
    // pointer-jumping loop below runs unchanged.
    val edges0 = cache(pairs.select(col(aCol).as("doc_a"), col(bCol).as("doc_b")))
    val longKeyed = edges0.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (longKeyed && edges0.count() <= smallGraphEdges) {
      val lut = driverMinIdComponents(nodes.sparkSession,
        edges0.collect().map(r => (r.getLong(0), r.getLong(1))), idCol)
        .withColumnRenamed(idCol, "_ln").withColumnRenamed("rep", "_ll")
      nodes.select(col(idCol))
        .join(lut, col(idCol) === col("_ln"), "left")
        .select(col(idCol), coalesce(col("_ll"), col(idCol)).as("rep"))
    } else
      // Fall back on the CACHED edge projection (not raw `pairs`) so the
      // loop's bidirectional union re-reads the cache, never the pair
      // pipeline.
      clusterRepresentativesWithRounds(nodes, idCol, edges0,
        "doc_a", "doc_b", maxIters, cache)._1
  }

  /** [[clusterRepresentatives]] plus the number of rounds it took to
    * converge (including the final no-change detection round) — exposed
    * so the round-complexity contract (O(log diameter)) is testable.
    */
  def clusterRepresentativesWithRounds(nodes: DataFrame, idCol: String, pairs: DataFrame,
                                       aCol: String = "doc_a", bCol: String = "doc_b",
                                       maxIters: Int = 25,
                                       cache: DataFrame => DataFrame = graft.util.CacheScope.untracked): (DataFrame, Int) = {
    val edges = cache(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    // The loop iterates over EDGE ENDPOINTS only, never the full node
    // set: a node with no pair edges can never receive a neighbor label,
    // so its label is itself by construction and it is folded back in by
    // the expand join after convergence. In a dup-sparse corpus (the
    // 100 TB shape: ~1% of docs in any near-dup pair) this shrinks every
    // round's shuffle from O(N) to O(endpoints) ~ O(E) — the same
    // contraction the incremental fold applies — instead of re-shuffling
    // the entire corpus' ids once per round.
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // Step A — propagate: every node takes min(own, neighbors') label.
      val neighborMin = edges.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      // Eager checkpoint: materializes before the shortcut self-join
      // (which reads it twice) and truncates lineage.
      val propagated =
        labels.select(col("node"), col("label"))
          .join(neighborMin, col("node") === col("src"), "left")
          .select(col("node"),
            least(col("label"), col("nlabel")).as("label"),
            (col("nlabel") < col("label")).as("_chA"))
          .localCheckpoint()
      // Step B — shortcut (pointer jump): label := label(label). Every
      // label IS a node id (it's a min over ids), so the lookup is total;
      // the left join + coalesce is belt and braces.
      val lut = propagated.select(col("node").as("_ln"), col("label").as("_ll"))
      val next =
        propagated.join(lut, col("label") === col("_ln"), "left")
          .select(col("node"),
            coalesce(col("_ll"), col("label")).as("label"),
            (col("_chA") || (col("_ll") < col("label"))).as("_changed"))
          .localCheckpoint()
      val nChanged = next.agg(count(when(col("_changed"), 1)).as("c"))
        .first().getLong(0)
      converged = nChanged == 0L
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusterRepresentatives did not converge within $maxIters rounds — " +
          "a cluster's diameter exceeds the guard; raise maxIters")
    // Expand back to the full node set: edge-free nodes self-label. The
    // converged endpoint-label table is checkpointed (bounded, usually
    // far smaller than nodes), so AQE broadcasts it when small.
    val full = nodes.select(col(idCol))
      .join(labels.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("rep"))
    (full, iter)
  }

  /** Fold a batch's pair graph into PERSISTED cluster labels without
    * re-running propagation over history — the label-maintenance twin of
    * [[incrementalNearDupPairsCollapsed]] for a growing corpus.
    *
    * Contracted-graph construction: every doc's prior label is, by the
    * CC fixpoint invariant, the MIN doc id of its old component — so
    * mapping each new edge's endpoints through their prior labels (batch
    * endpoints map to themselves) yields a graph over
    * {touched old reps} ∪ {batch ids} whose components are exactly the
    * merged components, and whose per-component min (a min over old
    * component minima and batch ids) IS the merged component's min doc
    * id. CC therefore runs over O(batch edges + touched components)
    * nodes regardless of history size, and relabeling is two equi-joins
    * against the contracted labels (history docs through their old rep,
    * batch docs through their own id); untouched history never enters
    * the iteration and keeps its label through the left-join miss.
    *
    * Preconditions: `priorLabels` (doc_id, rep) is a converged CC
    * labeling of the historical pair graph, and batch ids are disjoint
    * from history ids (the [[incrementalNearDupPairsCollapsed]] id
    * contract).
    */
  /** Exact min-id connected components computed ON THE DRIVER — the
    * small-graph fast path of the incremental label folds. The
    * contracted graph is O(batch edges + touched components) by
    * construction, usually a few thousand edges per wave, and the
    * distributed pointer-jumping loop pays several driver-synchronized
    * Spark jobs PER ROUND for it — measured as the dominant stage of the
    * streaming label gate (SCALE.md, "Round-9:
    * `streaming_cluster_labels_live` profiled and cut"). Below [[SmallGraphEdges]]
    * edges a single collect + union-find (union-by-min-root, so every
    * tree's root IS its component's min id; path-halving finds) produces
    * the identical labeling in microseconds. The distributed loop
    * remains the path for large touched subgraphs — the threshold is an
    * edge COUNT known before collecting, so the driver can never be
    * handed an unbounded graph.
    */
  private def driverMinIdComponents(spark: org.apache.spark.sql.SparkSession,
                                    edges: Array[(Long, Long)],
                                    idColName: String): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) {
        val gp = parent.getOrElse(p, p)
        parent(x) = gp
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    val nodes = scala.collection.mutable.LongMap.empty[Unit]
    edges.foreach { case (a, b) =>
      nodes(a) = (); nodes(b) = ()
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    import spark.implicits._
    nodes.keysIterator.map(n => (n, find(n))).toSeq.toDF(idColName, "rep")
  }

  /** Contracted-graph edge ceiling for the driver union-find fast path. */
  val SmallGraphEdges: Long = 1_000_000L

  /** Dispatch: driver union-find for small long-keyed contracted graphs,
    * the distributed pointer-jumping CC otherwise. `contractedEdges`
    * must be cached by the caller (this counts it, then either collects
    * it or hands it to the iterative loop).
    */
  private def contractedComponents(contractedEdges: DataFrame, idColName: String,
                                   maxIters: Int,
                                   cache: DataFrame => DataFrame,
                                   smallGraphEdges: Long): DataFrame = {
    val longKeyed = contractedEdges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (longKeyed && contractedEdges.count() <= smallGraphEdges) {
      driverMinIdComponents(contractedEdges.sparkSession,
        contractedEdges.collect().map(r => (r.getLong(0), r.getLong(1))), idColName)
    } else {
      val contractedNodes = contractedEdges.select(col("doc_a").as(idColName))
        .unionByName(contractedEdges.select(col("doc_b").as(idColName)))
        .distinct()
      clusterRepresentatives(contractedNodes, idColName, contractedEdges,
        maxIters = maxIters, cache = cache)
    }
  }

  def clusterRepresentativesIncremental(priorLabels: DataFrame,
                                        batchNodes: DataFrame, idCol: String,
                                        pairs: DataFrame,
                                        aCol: String = "doc_a", bCol: String = "doc_b",
                                        maxIters: Int = 25,
                                        cache: DataFrame => DataFrame = graft.util.CacheScope.untracked,
                                        smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val lblA = priorLabels.select(col("doc_id").as("_ia"), col("rep").as("_la"))
    val lblB = priorLabels.select(col("doc_id").as("_ib"), col("rep").as("_lb"))
    // Through `cache`: the contracted edge set sits on top of the whole
    // pair-generation pipeline and is scanned four ways below (node-set
    // union a/b, bidirectional edge union inside the CC) — uncached,
    // each scan would recompute the pair join (measured 4x the fold's
    // cost at sf0.1).
    val contractedEdges = cache(pairs
      .join(lblA, col(aCol) === col("_ia"), "left")
      .join(lblB, col(bCol) === col("_ib"), "left")
      .select(coalesce(col("_la"), col(aCol)).as("doc_a"),
        coalesce(col("_lb"), col(bCol)).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
      .distinct())
    // Contracted node set: EDGE ENDPOINTS only — edge-less batch docs
    // and untouched history never enter the iteration at all; both fall
    // through the relabel joins' coalesce to their own id/label. At
    // corpus scale this is the difference between iterating over the
    // touched frontier and iterating over the whole batch.
    val contracted = contractedComponents(contractedEdges, idCol,
      maxIters, cache, smallGraphEdges)
    val lut = contracted.select(col(idCol).as("_cn"), col("rep").as("_cl"))
    val history = priorLabels
      .join(lut, col("rep") === col("_cn"), "left")
      .select(col("doc_id"), coalesce(col("_cl"), col("rep")).as("rep"))
    val batch = batchNodes
      .join(lut, col(idCol) === col("_cn"), "left")
      .select(col(idCol).as("doc_id"), coalesce(col("_cl"), col(idCol)).as("rep"))
    history.unionByName(batch)
  }

  /** [[clusterRepresentativesIncremental]] with the batch side
    * PRE-CONTRACTED through its exact-duplicate membership. A batch
    * exact-group's representative is the group's min id
    * ([[exactCollapse]]), i.e. a valid partial labeling by the same
    * fixpoint invariant the history labels carry — so batch endpoints
    * contract exactly like history endpoints, intra-group cliques vanish
    * from the contracted graph (they map to self-edges), and the fold
    * iterates over unique batch TEXTS, not batch docs. Labels identical
    * to the per-doc form; cost drops by the batch's duplicate factor.
    *
    * `batchMembership` is (doc_id, rep_id) covering every batch doc (the
    * [[ExactCollapse]] membership); ids must be disjoint from history.
    */
  def clusterRepresentativesIncrementalCollapsed(priorLabels: DataFrame,
                                                 batchMembership: DataFrame,
                                                 pairs: DataFrame,
                                                 aCol: String = "doc_a", bCol: String = "doc_b",
                                                 maxIters: Int = 25,
                                                 cache: DataFrame => DataFrame = graft.util.CacheScope.untracked,
                                                 smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val combined = priorLabels.select(col("doc_id"), col("rep"))
      .unionByName(batchMembership.select(col("doc_id"), col("rep_id").as("rep")))
    val lblA = combined.select(col("doc_id").as("_ia"), col("rep").as("_la"))
    val lblB = combined.select(col("doc_id").as("_ib"), col("rep").as("_lb"))
    // Through `cache` — scanned four ways below, and recomputing it
    // means recomputing the whole pair pipeline (see the per-doc form).
    val contractedEdges = cache(pairs
      .join(lblA, col(aCol) === col("_ia"), "left")
      .join(lblB, col(bCol) === col("_ib"), "left")
      .select(coalesce(col("_la"), col(aCol)).as("doc_a"),
        coalesce(col("_lb"), col(bCol)).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
      .distinct())
    // Edge endpoints only (see clusterRepresentativesIncremental):
    // edge-less batch reps keep their exact-group label through the
    // relabel coalesce without entering the iteration.
    val contracted = contractedComponents(contractedEdges, "id",
      maxIters, cache, smallGraphEdges)
    val lut = contracted.select(col("id").as("_cn"), col("rep").as("_cl"))
    combined.join(lut, col("rep") === col("_cn"), "left")
      .select(col("doc_id"), coalesce(col("_cl"), col("rep")).as("rep"))
  }

  /** C4/CCNet-style boilerplate LINE removal: drop every line whose
    * trimmed form appears in at least `minDocFreq` DISTINCT documents
    * (nav bars, cookie banners, license footers), rebuild each document
    * from its surviving lines in original order. Blank lines are never
    * counted as boilerplate (they'd match across every document) and are
    * kept verbatim.
    *
    * Shape at scale: three key-partitioned shuffles, none corpus-pairwise —
    * (1) distinct (doc, line-key) + count per line-key (map-side partial
    * aggregation; the line-frequency table is |distinct lines|, not
    * |corpus|); (2) left_anti join of the exploded lines against the
    * boilerplate keys (shuffle on the line hash — the boilerplate set can
    * exceed broadcast size at web scale, so it is NOT collected); (3)
    * regroup by document id to reassemble. Reassembly sorts each doc's
    * surviving lines by position inside the aggregate (array_sort on
    * (pos, line) structs) — no window, no per-doc skew beyond document
    * length itself.
    */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                             minDocFreq: Int): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq < 2 would drop every non-blank line")
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("k", trim(col("line")))
    val boiler = lines.where(col("k") =!= "")
      .select(col(idCol), col("k")).distinct()
      .groupBy("k").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocFreq)
      .select("k")
    val rebuilt = lines.join(boiler, Seq("k"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as("clean_text"),
        count(lit(1)).cast(LongType).as("n_kept_lines"))
    // Documents whose every line was boilerplate drop out of `rebuilt`;
    // restore them as empty documents so the operator is total.
    docs.select(col(idCol),
        size(split(col(textCol), "\n")).cast(LongType).as("_n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept_lines"), lit(0L)).as("n_kept_lines"),
        (col("_n_lines") - coalesce(col("n_kept_lines"), lit(0L)))
          .as("n_removed_lines"))
  }

  /** Benchmark-contamination report (the decontamination pass every
    * training corpus needs): for each benchmark document, how many corpus
    * documents share its exact normalized-text fingerprint, and the
    * smallest matching corpus id. Equi-join on the fingerprint — shuffle
    * keyed on a hash, corpus side aggregated BEFORE the join (the join
    * inputs are |distinct fingerprints|, never |corpus|). Benchmark docs
    * with zero matches are kept (n_matches = 0) — the report must show
    * clean benchmarks as clean.
    */
  def contaminationReport(corpus: DataFrame, corpusId: String, corpusText: String,
                          benchmark: DataFrame, benchId: String,
                          benchText: String): DataFrame = {
    val corpusFp = corpus.select(col(corpusId).as("corpus_id"),
        TextAnalysis.exactFingerprint(col(corpusText)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_matches"), min(col("corpus_id")).as("first_match"))
    benchmark.select(col(benchId).as("bench_id"),
        TextAnalysis.exactFingerprint(col(benchText)).as("fp"))
      .join(corpusFp, Seq("fp"), "left")
      .select(col("bench_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("first_match"))
  }

  /** 64-bit SimHash per doc: sign-vote of token hashes bit by bit.
    * Expressed as an aggregate over exploded tokens: per bit, sum(+1/-1)
    * votes; bit set iff vote > 0. Fixed 64 sum-aggregates in one shuffle —
    * the codegen'd hash-aggregate form beats a zero-shuffle array-HOF
    * rewrite locally because HOFs are interpreted (CodegenFallback).
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
              hashFn: Column => Column = XxHash, bits: Int = 64): DataFrame = {
    require(bits > 0 && bits <= 64, "simhash width must be 1..64")
    // Hash in its own projection: the `bits` vote aggregates each
    // reference the hash, and an inlined expression would be re-evaluated
    // once PER BIT per row (60x the md5 cost under the verification hash).
    val hashed = docTokens(docs, idCol, textCol)
      .select(col("doc_id"), explode_outer(array_distinct(col("toks"))).as("tok"))
      .select(col("doc_id"), hashFn(col("tok")).as("h"))
    val h = col("h")
    val votes = (0 until bits).map { b =>
      sum(when(h.isNull, 0).otherwise(
        when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))).as(s"v_$b")
    }
    val voted = hashed.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val bitCols = (0 until bits).map { b =>
      when(col(s"v_$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    voted.select(col("doc_id"), bitCols.reduce((a, c) => a.bitwiseOR(c)).as("simhash"))
  }

  /** Near-dup pairs with Hamming(simhash) <= maxHamming, candidates via
    * 4-band pigeonhole (any pair within Hamming 3 must agree on >= 1 of 4
    * bands of `bits/4` bits), verified with xor + bit_count.
    *
    * The banding/verify machinery runs over the UNIQUE fingerprints, not
    * the docs: a duplicate-heavy corpus (the normal case for the operator
    * that finds duplicates) collapses to its distinct sketches first, so
    * the band join and the pair dedup scale with |distinct simhash|
    * rather than |docs|, and the duplicate mass only ever touches the
    * final, irreducible output expansion. Identical-fingerprint doc
    * pairs (hamming 0) come from a direct equi-join on the fingerprint;
    * cross-fingerprint pairs expand the verified fingerprint pairs back
    * to docs with two equi-joins. Measured at a 10x-replicated corpus:
    * 33.5s -> 8.3s while the unique-sketch path costs the same.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, hashFn: Column => Column = XxHash,
                   bits: Int = 64,
                   cache: DataFrame => DataFrame = graft.util.CacheScope.untracked): DataFrame = {
    require(bits % 4 == 0, "simhash width must split into 4 bands")
    require(maxHamming < 4,
      "4-band pigeonhole is only complete for maxHamming <= 3; add bands for a wider radius")
    val bandBits = bits / 4
    val mask = (1L << bandBits) - 1
    // Per-doc signatures, NOT exactCollapse'd: measured, the collapse's
    // fingerprint window + membership join costs about what it saves off
    // the vote aggregate (the signature is already one narrow aggregate),
    // unlike the shingle tiers where it removes quadratic candidate work.
    // Referenced by the within-join (both sides) and both expansion sides.
    val sig = cache(simHash(docs, idCol, textCol, hashFn, bits))
    // Identical sketches: every doc pair sharing a fingerprint, hamming 0.
    val within = sig.as("x").join(sig.as("y"), Seq("simhash"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    // Distinct sketches through banding + xor/popcount verify; the pair
    // dedup (a sketch pair can agree on several bands) runs on fingerprint
    // pairs, bounded by |distinct simhash|^2 / 2^bandBits, never |docs|^2.
    val uniq = sig.select(col("simhash")).distinct()
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(mask).as("key"))
    }
    val buckets = uniq.select(col("simhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val fpPairs = buckets.as("x").join(buckets.as("y"), Seq("band", "key"))
      .where(col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("fa"), col("y.simhash").as("fb"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming && col("hamming") > 0)
      .distinct()
    val cross = fpPairs
      .join(sig.select(col("simhash").as("fa"), col("doc_id").as("da")), Seq("fa"))
      .join(sig.select(col("simhash").as("fb"), col("doc_id").as("db")), Seq("fb"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    within.unionByName(cross)
  }

  /** Docs whose text is a PROPER PREFIX of another doc's text — the
    * truncation-duplicate detector (re-crawled pages cut mid-stream,
    * context-window-clipped copies). Exact, via sorted adjacency: among
    * DISTINCT texts, if any text extends `t`, the lexicographic
    * SUCCESSOR of `t` does (texts with prefix `t` form the contiguous
    * range right after `t`), so one range-partitioned sort + a next-
    * neighbor probe decides every text — no quadratic pairing, no
    * per-length explode.
    *
    * Scale shape: ONE full-text shuffle total. The raw rows are range-
    * partitioned directly — equal texts land in one partition (the
    * RangePartitioner contract), so duplicate texts form contiguous
    * runs under the per-partition sort and collapse inside the same
    * window pass that probes successors (the last row of each run sees
    * the next DISTINCT text in `lead`); the old standalone `.distinct()`
    * was a second shuffle carrying every text byte. The successor
    * window runs PER RANGE PARTITION (parallel — never a global
    * single-partition window), and each partition's last run-end is
    * patched with the next non-empty partition's first text via a
    * driver-built boundary map (bounded: one row per partition).
    * Output: (doc_id, n_chars) for every doc whose text is contained —
    * duplicates of a contained text are all reported.
    *
    * The range-partitioned frame is PERSISTED before the boundary
    * collect and read again by the final query: `repartitionByRange`'s
    * bounds come from seeded reservoir sampling whose seed varies per
    * execution, so without one shared materialization the boundary map
    * and the final job could land on DIFFERENT partition boundaries and
    * silently drop contained texts once partitions outgrow the
    * exhaustive-sampling regime. The persist is therefore
    * correctness-critical, not a perf knob: if `cache` does not persist
    * (`CacheScope.none`), an untracked persist is forced anyway — pass
    * a scope's `persist` in long-lived sessions to get deterministic
    * release.
    *
    * The corpus re-join (every doc of a contained text, duplicates
    * included) keys on `(xxhash64(text), length(text))` so the big-side
    * exchange carries 12-byte keys instead of full document texts.
    * Exactness is preserved, not assumed: a key held by more than one
    * corpus ROW (an exact-duplicate text, or a genuine collision —
    * ~n²/2⁶⁴ of those, in practice none) is flagged from a key-only
    * count (no texts on that wire either) and made exact by comparing
    * the texts the join co-located; unflagged keys are held by exactly
    * one row, so a key match implies text equality (every doc text is
    * itself a corpus text).
    */
  def prefixContainedDocs(docs: DataFrame, idCol: String, textCol: String,
                          cache: DataFrame => DataFrame =
                            graft.util.CacheScope.untracked): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // ONE full-text shuffle: the raw rows are range-partitioned directly
    // (no upstream `.distinct()` — that was a second shuffle carrying
    // every text byte). Equal texts land in one range partition by the
    // RangePartitioner's contract, so duplicate texts form contiguous
    // runs under the per-partition sort and collapse inside the same
    // window pass that finds successors.
    // Skew trade-off of collapsing duplicates IN the range pass: every
    // row of a hot exact-duplicate text lands in one range partition
    // (equal keys cannot split), where the old distinct-first shape had
    // collapsed it under a hash shuffle before ranging. At the fixture's
    // density the run-collapse is strictly cheaper (one shuffle, not
    // two); a corpus where one text dominates — a crawl BEFORE exact
    // dedup — should pre-collapse to (text, count) upstream when a cheap
    // duplicate-ratio probe (count vs approx_count_distinct on a sample)
    // shows heavy duplication, and re-expand through the narrow-key
    // re-join below, which reports duplicates either way.
    val rows = docs.select(col(textCol).as("t")).where(col("t").isNotNull)
    val ranged0 = cache(rows.repartitionByRange(n, col("t"))
      .withColumn("_part", org.apache.spark.sql.functions.spark_partition_id()))
    val ranged =
      if (ranged0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        ranged0.persist()
      else ranged0
    // Successor within each contiguous text range (parallel window). The
    // LAST row of each equal-text run sees the next DISTINCT text in
    // `lead`, so filtering to run-ends is simultaneously the duplicate
    // collapse and the successor probe — one sort, no distinct shuffle.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_part")).orderBy(col("t").asc)
    val lastOfRun = ranged.withColumn("_next", lead(col("t"), 1).over(w))
      .where(col("_next").isNull || col("_next") =!= col("t"))
    // Boundary fix-up: partition p's LAST text's successor is the first
    // text of the next NON-EMPTY partition. One row per non-empty
    // partition reaches the driver (bounded by the partition count).
    // This collect also materializes the persisted range partitioning,
    // pinning the boundaries the final query will read.
    val firsts = ranged.groupBy(col("_part")).agg(min(col("t")).as("ft"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    val boundary = firsts.indices.dropRight(1).map { i =>
      (firsts(i)._1, firsts(i + 1)._2) // part -> first text of next non-empty part
    }
    val boundaryDf =
      if (boundary.isEmpty) Seq.empty[(Int, String)].toDF("_part", "_bnext")
      else boundary.toDF("_part", "_bnext")
    // Keys that might be ambiguous: held by >1 row (an exact-duplicate
    // text or a genuine (xxhash64, length) collision — either way the
    // verified path handles it). Counted over the persisted narrow keys,
    // so this shuffle carries 12-byte keys, never texts. Over-flagging
    // duplicates as "unsafe" is deliberate: it keeps this pass
    // text-free, and the unsafe side is exact by construction.
    val key = (t: Column) => Seq(xxhash64(t).as("_h"), length(t).as("_hl"))
    val dupKeys = ranged.select(key(col("t")): _*)
      .groupBy(col("_h"), col("_hl")).agg(count(lit(1)).as("_c"))
      .where(col("_c") > 1).select(col("_h"), col("_hl"))
    // Contained DISTINCT texts with their narrow keys and the ambiguity
    // flag. A `_dup`-null key is held by exactly ONE corpus row, so a
    // key match implies text equality (every doc text is itself a
    // corpus text); flagged keys fall back to full text equality in the
    // post-join filter below. One sort feeds this — it is consumed by
    // exactly one downstream join, so no extra persist is needed.
    val contained = lastOfRun
      .join(broadcast(boundaryDf), Seq("_part"), "left")
      .withColumn("_succ", coalesce(col("_next"), col("_bnext")))
      .where(col("_succ").isNotNull &&
        length(col("_succ")) > length(col("t")) &&
        col("_succ").startsWith(col("t")))
      .select(col("t") +: key(col("t")): _*)
      .join(broadcast(dupKeys.withColumn("_dup", lit(true))), Seq("_h", "_hl"), "left")
    // Narrow-key corpus re-join with the exact collision split folded
    // into ONE join + filter: the big side carries 12-byte keys, the
    // contained side is small (AQE broadcasts it), and the filter makes
    // ambiguous keys exact by comparing the texts the join co-located.
    val keyedDocs = docs.select(
      col(idCol).as("doc_id") +:
        length(col(textCol)).cast(LongType).as("n_chars") +:
        col(textCol).as("_dt") +: key(col(textCol)): _*)
    keyedDocs.join(contained, Seq("_h", "_hl"))
      .where(col("_dup").isNull || col("_dt") === col("t"))
      .select(col("doc_id"), col("n_chars"))
  }

  /** Docs whose text is a PROPER SUFFIX of another doc's text — the
    * head-truncation twin of [[prefixContainedDocs]] (a tail-clipped
    * re-crawl keeps the head and loses the tail; a lead-stripped copy —
    * boilerplate header removal, mid-stream reconnect — keeps the tail
    * and loses the head). `s` is a suffix of `t` iff `reverse(s)` is a
    * prefix of `reverse(t)`, and reversal preserves length, so the
    * whole prefix scale shape (ONE range shuffle, run-collapsing sort,
    * driver boundary map, narrow-key corpus re-join) is inherited
    * unchanged; `n_chars` reports the original text length.
    *
    * Unicode contract: reversal is by CODE POINT (Spark's `reverse`),
    * so a "suffix" boundary may split a grapheme cluster — text using
    * combining sequences (e + U+0301) or ZWJ emoji can disagree with a
    * grapheme-aware engine (DuckDB's `reverse`) about which strings are
    * suffixes. NFC-normalize upstream
    * ([[graft.functions.TextExpressions.unicodeNormalize]]) when
    * combining sequences are in play; the contract is exact as-is for
    * NFC-normalized and ASCII corpora.
    */
  def suffixContainedDocs(docs: DataFrame, idCol: String, textCol: String,
                          cache: DataFrame => DataFrame =
                            graft.util.CacheScope.untracked): DataFrame =
    prefixContainedDocs(
      docs.select(col(idCol), reverse(col(textCol)).as("_graft_rev")),
      idCol, "_graft_rev", cache)
}
