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

/** Helpers shared across the family query registries split out of the
  * former monolithic [[Queries]]: table readers, fixtures, and the DuckDB
  * oracle-SQL builders. Members are package-visible; the registries import
  * this object wholesale. */
private[graft] object QueriesShared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Conditional scan widening for kernel-heavy pipelines (guide §2.5:
    * one unsplittable input file -> repartition right after the read).
    * The driver tables are single parquet files with one row group, so
    * every scan-rooted chain — tokenize, md5 shingles, text-stats
    * kernels, i.e. the expensive per-row work of the text/dedup tiers —
    * runs as ONE task regardless of core count (measured: the span tier
    * 3.7 s -> 1.2 s at sf0.1 once widened; broadcast subtrees re-run the
    * same serial chain at 1.5-2.7 s per single-task stage). The widening
    * is layout-derived, not box-tuned: it fires only when the scan plans
    * fewer than half the session's cores (a 100 TB table plans thousands
    * of splits, so the extra exchange vanishes exactly where it would
    * cost — the repartition is the small-SF/unsplittable-file fix, never
    * a standing stage). Round-robin keeps column pruning intact (no key
    * column is forced into pruned branches) and `sortBeforeRepartition`
    * keeps task retries deterministic. Applied ONLY to multi-stage
    * pipelines that already shuffle; the deliberately shuffle-free
    * scan-side gates (text_*, sampling) keep their zero-exchange shape.
    * The session's `spark.graft.noWiden` ([[GraftConf]]) restores the
    * raw scan — the A/B switch for pricing the widening, and the
    * invariance spec's proof that it never changes a row.
    */
  def widen(s: SparkSession, df: DataFrame): DataFrame = {
    if (GraftConf(s).noWiden) return df
    val cores = s.sparkContext.defaultParallelism
    // Planned-split count as the parallelism proxy (one planner pass over
    // scan metadata, no jobs). Known blind spot (round-17 advice): a
    // single-row-group file LARGER than maxSplitBytes plans many
    // byte-range splits — the condition reads false — yet only the split
    // containing the row group yields rows, so the serial-scan pathology
    // persists exactly at the mid-size single-row-group case. The skip is
    // logged with the evidence so probes can see the miss; at 100 TB
    // (many files/row groups) the condition is false for the right
    // reason and the log line is the only cost.
    val parts = df.rdd.getNumPartitions
    if (parts * 2 <= cores) df.repartition(cores)
    else {
      if (parts < cores)
        System.err.println(
          s"[widen] skipped: scan plans $parts partitions on $cores cores " +
            "(check row-group structure if this gate is scan-bound)")
      df
    }
  }

  /** [[t]] + [[widen]]: the read for kernel-heavy pipeline gates. */
  def tW(s: SparkSession, dir: String, name: String): DataFrame =
    widen(s, t(s, dir, name))

  /** Shares-analog literal dim over nation names (reference
    * transform.py:193-194 {TSLA:3160, RIVN:920, LCID:1600, default 1000}).
    */
  val NationShares = Map("NATION_1" -> 3160, "NATION_2" -> 920, "NATION_3" -> 1600)

  val Dec152 = DecimalType(15, 2)

  /** Batch sessionization over the events table (gap > 30 min starts a
    * session): lag + running sum of start flags assigns session ids in
    * two window passes over ONE shuffle (same partitioning), then one
    * aggregate. Shared by the `events_sessionize` gate and the
    * interval-join gate (events labeled with their containing session).
    */
  def batchSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMs = 30L * 60 * 1000
    val withFlag = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) >= gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withFlag.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
  }

  /** Deterministic bronze income-JSON fixture derived from `orders`
    * (shared by pipeline_income_normalize / pipeline_run_state): per
    * `o_orderkey % 4`, rows exercise the ISO date, the truthiness
    * date-key fallback (O-P4), the `N/A` revenue sentinel, the MM/dd/yyyy
    * format, the `$`-prefix strip, and the eps-estimation fallback.
    * `badDates=true` swaps the m==1 fallback path for an unparseable
    * date+year so those rows exercise the quarantine split instead.
    */
  def incomeBronzeFixture(s: SparkSession, dir: String,
                                  badDates: Boolean): DataFrame = {
    val m = pmod(col("o_orderkey"), lit(4))
    val numS = col("o_totalprice").cast(Dec152).cast(StringType)
    val m1Date = if (badDates) lit("not-a-date") else lit("")
    val m1Year = if (badDates) lit("bad") else year(col("o_orderdate")).cast(StringType)
    t(s, dir, "orders").where(col("o_orderkey") < 2000).select(
      when(m === 1, m1Date)
        .when(m === 3, date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("date"),
      concat(lit("TK"), pmod(col("o_orderkey"), lit(5)).cast(StringType)).as("symbol"),
      when(m === 2, lit("N/A")).otherwise(numS).as("revenue"),
      when(m === 3, lit("")).otherwise(numS).as("eps"),
      lit(null).cast(StringType).as("netIncomePerShare"),
      concat(lit("$"), numS).as("grossProfit"),
      // Whole dollars (floor — exact in every engine): the eps-estimation
      // path divides by 10^3-shaped share counts and rounds to 4 places;
      // 2-decimal inputs would land exactly on rounding boundaries where
      // engines legitimately disagree on the last ulp.
      floor(col("o_totalprice")).cast(LongType).cast(StringType).as("netIncome"),
      when(m === 1, m1Year).otherwise(year(col("o_orderdate")).cast(StringType))
        .as("calendarYear"),
      lit("Q1").as("period"))
  }

  // ------------------------------------------------------------- oracle SQL

  /** DuckDB lambda for per-language stopword hits over a token list. */
  def hitsSql(toksExpr: String, words: Seq[String]): String =
    s"len(list_filter($toksExpr, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  val EnWords = TextAnalysis.StopwordLists.head._2

  /** doc_id -> smallest doc id reachable through the trigram-Jaccard pair
    * graph — the labeling shared by the cluster gate, the leakage-safe
    * split, and canonical-by-quality selection.
    *
    * The iterative CC loop runs over REPRESENTATIVES (exact-collapse):
    * duplicate groups ride one node through every round and expand at the
    * end. Identical labels to CC over the expanded pair graph — every
    * group minimum IS its rep, so a component's min doc id is the min rep
    * id; members of groups whose every shingle was hot-capped away have
    * no pair edges and label themselves, exactly as they would in the
    * expanded graph.
    */
  def docClusterReps(s: SparkSession, dir: String): DataFrame =
    clusterLabelsOf(t(s, dir, "documents"))

  /** The near-dup cluster-label table as a persisted input fixture, for
    * gates whose OPERATOR merely consumes labels (canonical-by-quality
    * selection, leakage-safe splitting): in a deployment those run over
    * the label table dedup already maintains. Goes through StateSeed so
    * bench reps time the consuming operator, not label construction;
    * Verify still builds fresh per call. `dedup_cluster_reps` itself
    * never uses this — constructing the labels IS that gate's operator.
    */
  def docClusterLabelTable(s: SparkSession, dir: String): DataFrame = {
    val root = graft.util.StateSeed.root(s, "graft_doclabels", dir) { root =>
      docClusterReps(s, dir).write.parquet(root + "/labels")
    }
    s.read.parquet(root + "/labels")
  }

  def clusterLabelsOf(docs: DataFrame): DataFrame = {
    // Persist, NOT CacheScope.truncate: measured 2.0 -> 3.1 s at sf0.1
    // with truncation — the CC loop's own localCheckpoints already bound
    // the plan here, and the eager checkpoint jobs serialize
    // materialization the persist pipeline overlapped.
    val c = Dedup.exactCollapse(docs, "doc_id", "text", cache = df => df.persist())
    val idx = Dedup.countedShingleIndexCollapsed(c, n = 3, maxDocFreq = 100L).persist()
    val repLabels = Dedup.clusterRepresentatives(
      c.reps.select(col("doc_id")), "doc_id",
      Dedup.ngramJaccardPairsFromIndex(idx, threshold = 0.5),
      cache = df => df.persist())
    c.membership
      .join(repLabels.select(col("doc_id").as("rep_id"), col("rep").as("_rl")), Seq("rep_id"))
      .join(idx.select(col("doc_id").as("rep_id")).distinct()
        .withColumn("_survived", lit(true)), Seq("rep_id"), "left")
      .select(col("doc_id"),
        when(col("_survived") || col("doc_id") === col("rep_id"), col("_rl"))
          .otherwise(col("doc_id")).as("rep"))
  }

  /** Shared DuckDB replica of the trigram-Jaccard pair generation
    * (shingle index, hot cap 100, threshold 0.5) ending in CTE
    * `jpairs(doc_a, doc_b, jaccard)` — used by the pair gate and as the
    * edge set of the cluster-representative fixpoint. */
  def jaccardPairsCte(where: String = ""): String =
    s"""t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents$where),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
      |         i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
      |       FROM t),
      |hot AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) > 100),
      |idx AS (SELECT doc_id, shingle FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS nsh FROM idx GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jpairs AS (
      |  SELECT doc_a, doc_b,
      |    CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) >= 0.5)""".stripMargin

  /** DuckDB twin of [[Dedup.Md5Hash60]] (60-bit md5-derived term hash). */
  def md5Hash60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e),1,15) AS BIGINT)"

  /** Reachability fixpoint over the Jaccard pair graph ending in CTE
    * `lbl(doc_id, rep)` — min reachable id per node == the
    * propagation-converged representative. Callers prefix `WITH
    * RECURSIVE`. Shared by the cluster gate, the leakage-safe split, and
    * canonical selection. */
  val clusterRepsCte: String =
    s"""${jaccardPairsCte()},
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jpairs
       |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
       |reach(node, root) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
       |lbl AS (SELECT node AS doc_id, MIN(root) AS rep FROM reach GROUP BY 1)""".stripMargin


  /** Full-recompute reachability fixpoint over the incremental pair
    * semantics (history-internal pairs under the history hot cap, plus
    * the batch self/cross pairs of the dedup_incremental replica) —
    * shared by the batch fold gate and its live streaming twin; a hash
    * match proves the contracted-graph fold equals recomputing CC over
    * history ∪ batch.
    */
  val incrementalPairsOracleSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
      |         i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
      |       FROM t),
      |ssh AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
      |bsh AS (SELECT * FROM sh WHERE doc_id % 2 <> 0),
      |sidx AS (SELECT doc_id, shingle FROM ssh WHERE shingle NOT IN (
      |           SELECT shingle FROM ssh GROUP BY 1 HAVING count(*) > 100)),
      |bidx AS (SELECT doc_id, shingle FROM bsh WHERE shingle NOT IN (
      |           SELECT shingle FROM bsh GROUP BY 1 HAVING count(*) > 100)),
      |ssz AS (SELECT doc_id, count(*) AS nsh FROM sidx GROUP BY 1),
      |bsz AS (SELECT doc_id, count(*) AS nsh FROM bidx GROUP BY 1),
      |selfp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |          FROM bidx a JOIN bidx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |crossp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |           FROM sidx a JOIN bidx b ON a.shingle = b.shingle
      |           GROUP BY 1, 2)
      |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i), 6) AS jaccard,
      |       'batch' AS src
      |FROM selfp JOIN bsz sa ON doc_a = sa.doc_id JOIN bsz sb ON doc_b = sb.doc_id
      |WHERE CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) >= 0.5
      |UNION ALL
      |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i), 6) AS jaccard,
      |       'state' AS src
      |FROM crossp JOIN ssz sa ON doc_a = sa.doc_id JOIN bsz sb ON doc_b = sb.doc_id
      |WHERE CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) >= 0.5""".stripMargin

  val incrementalClusterRepsOracleSql: String =
    """WITH RECURSIVE t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        |       FROM t),
        |ssh AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
        |bsh AS (SELECT * FROM sh WHERE doc_id % 2 <> 0),
        |sidx AS (SELECT doc_id, shingle FROM ssh WHERE shingle NOT IN (
        |           SELECT shingle FROM ssh GROUP BY 1 HAVING count(*) > 100)),
        |bidx AS (SELECT doc_id, shingle FROM bsh WHERE shingle NOT IN (
        |           SELECT shingle FROM bsh GROUP BY 1 HAVING count(*) > 100)),
        |ssz AS (SELECT doc_id, count(*) AS nsh FROM sidx GROUP BY 1),
        |bsz AS (SELECT doc_id, count(*) AS nsh FROM bidx GROUP BY 1),
        |histp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM sidx a JOIN sidx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |selfp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |          FROM bidx a JOIN bidx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |crossp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |           FROM sidx a JOIN bidx b ON a.shingle = b.shingle
        |           GROUP BY 1, 2),
        |allp AS (
        |  SELECT doc_a, doc_b FROM histp
        |  JOIN ssz sa ON doc_a = sa.doc_id JOIN ssz sb ON doc_b = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) >= 0.5
        |  UNION ALL
        |  SELECT doc_a, doc_b FROM selfp
        |  JOIN bsz sa ON doc_a = sa.doc_id JOIN bsz sb ON doc_b = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) >= 0.5
        |  UNION ALL
        |  SELECT doc_a, doc_b FROM crossp
        |  JOIN ssz sa ON doc_a = sa.doc_id JOIN bsz sb ON doc_b = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM allp
        |          UNION ALL SELECT doc_b, doc_a FROM allp),
        |reach(node, root) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT node AS doc_id, MIN(root) AS rep FROM reach GROUP BY 1""".stripMargin

  /** Replica of the rounded text_quality score ending in CTE
    * `q(doc_id, quality)` — shared by the text_quality gate and canonical
    * selection. CTE names qb/q chosen to never collide with the pair-graph
    * CTEs above. */
  val qualityCte: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    s"""qb AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS n_char,
       |    CAST(len($toks) AS DOUBLE) AS n_tok,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
       |    CAST(${hitsSql(toks, EnWords)} AS DOUBLE) AS en_hits
       |  FROM documents),
       |q AS (SELECT doc_id, round(
       |    (CASE WHEN n_char > 0 THEN n_alpha / n_char ELSE 0.0 END) * 0.4
       |  + (CASE WHEN n_tok > 0 THEN en_hits / n_tok ELSE 0.0 END) * 0.3
       |  + least(n_tok / 100.0, 1.0) * 0.3, 6) AS quality
       |FROM qb)""".stripMargin
  }

  /** Shared by the sample_mixture gate and its oracle so the weights can
    * never drift apart. */
  val MixtureTargets = Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)

  /** Replica of [[graft.ops.Sampling.mixtureSample]]: group counts, the
    * binding-group mixture size min(n/w), per-group floor thresholds over
    * the md5 bucket — the double arithmetic ORDER matches the Scala side
    * literally (((w * nt) / n) * 10000).
    */
  def mixtureOracleSql: String = {
    val inList = MixtureTargets.map(t => s"'${t._1}'").mkString(", ")
    val wCase = MixtureTargets
      .map { case (g, w) => s"WHEN '$g' THEN CAST($w AS DOUBLE)" }.mkString(" ")
    s"""WITH c AS (SELECT source, count(*) AS n FROM documents
       |           WHERE source IN ($inList) GROUP BY 1),
       |r AS (SELECT source, n, CASE source $wCase END AS w FROM c),
       |nt AS (SELECT min(n / w) AS v FROM r),
       |thr AS (SELECT source,
       |          CASE WHEN n / w = (SELECT v FROM nt) THEN 10000
       |               ELSE floor(w * (SELECT v FROM nt) / n * 10000) END AS t
       |        FROM r)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN thr ON d.source = thr.source
       |WHERE ${md5Hash60Sql("CAST(d.doc_id AS VARCHAR)")} % 10000 < thr.t""".stripMargin
  }

  /** DuckDB twin of [[Normalize.safeDecimal]]: strip `[,$%\s]`, sentinel
    * strings to null, try-cast WIDE (scale+6 — the Spark side parses wide
    * and quantizes only AFTER the millions heuristic, so sub-cent values
    * scale rather than truncate), heuristic, quantize to (15,2). */
  def safeDecimalSql(e: String): String = {
    val cl = s"regexp_replace($e, '[,$$%\\s]', '', 'g')"
    val cl2 = s"(CASE WHEN $cl IN ('', 'N/A', 'n/a', '-') THEN NULL ELSE $cl END)"
    val v = s"TRY_CAST($cl2 AS DECIMAL(21,8))"
    s"TRY_CAST((CASE WHEN $v > 0 AND $v < 1000000 THEN $v * 1000000 ELSE $v END) AS DECIMAL(15,2))"
  }

  /** DuckDB twin of [[Normalize.millionsValidator]] (scales ANY value
    * below 1e6, including negatives). */
  def millionsSql(e: String): String =
    s"TRY_CAST((CASE WHEN $e IS NOT NULL AND $e < 1000000 THEN $e * 1000000 ELSE $e END) AS DECIMAL(15,2))"

  /** DuckDB replica of the full income-normalization flow over the
    * [[incomeBronzeFixture]] rows (same m-branch layout). Shared by the
    * normalize-only gate and the end-to-end run gate; the latter appends
    * the quarantine filter + last-write-wins merge.
    */
  def incomeNormalizeCte(badDates: Boolean): String = {
    val m1Date = if (badDates) "'not-a-date'" else "''"
    val m1Year = if (badDates) "'bad'" else "CAST(year(o_orderdate) AS VARCHAR)"
    s"""WITH src AS (
       |  SELECT o_orderkey, o_orderdate, o_orderkey % 4 AS m,
       |    'TK' || CAST(o_orderkey % 5 AS VARCHAR) AS symbol,
       |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) AS num_s,
       |    CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) AS ni_s
       |  FROM orders WHERE o_orderkey < 2000),
       |b AS (
       |  SELECT *,
       |    CASE WHEN m = 1 THEN $m1Date
       |         WHEN m = 3 THEN strftime(o_orderdate, '%m/%d/%Y')
       |         ELSE strftime(o_orderdate, '%Y-%m-%d') END AS date_s,
       |    CASE WHEN m = 1 THEN $m1Year ELSE CAST(year(o_orderdate) AS VARCHAR) END AS cal_year,
       |    CASE WHEN m = 2 THEN 'N/A' ELSE num_s END AS revenue_s,
       |    CASE WHEN m = 3 THEN '' ELSE num_s END AS eps_s,
       |    '$$' || num_s AS gross_s
       |  FROM src),
       |k AS (SELECT *, CASE WHEN date_s IS NULL OR date_s = ''
       |        OR COALESCE(TRY_CAST(date_s AS DOUBLE) = 0, FALSE)
       |        THEN cal_year ELSE date_s END AS datekey FROM b),
       |p AS (SELECT *, COALESCE(
       |        CAST(try_strptime(datekey, '%Y-%m-%d') AS DATE),
       |        CAST(try_strptime(datekey, '%Y-%m-%d %H:%M:%S') AS DATE),
       |        CAST(try_strptime(datekey, '%m/%d/%Y') AS DATE),
       |        CASE WHEN regexp_full_match(datekey, '\\d{4}(\\.0+)?')
       |             THEN make_date(CAST(CAST(datekey AS DOUBLE) AS INT), 12, 31) END) AS quarter_date
       |      FROM k),
       |c1 AS (SELECT *, ${safeDecimalSql("revenue_s")} AS rev_sd,
       |         ${safeDecimalSql("gross_s")} AS gp_sd,
       |         ${safeDecimalSql("ni_s")} AS ni_sd FROM p),
       |c2 AS (SELECT *,
       |    CAST(year(quarter_date) AS VARCHAR) || '-Q' || CAST(quarter(quarter_date) AS VARCHAR) AS quarter_label,
       |    ${millionsSql("rev_sd")} AS revenue_dec,
       |    ${millionsSql("gp_sd")} AS gp_dec,
       |    TRY_CAST(eps_s AS DECIMAL(10,4)) AS eps_a,
       |    CAST(ni_sd AS DOUBLE) AS ni_d
       |  FROM c1),
       |c3 AS (SELECT *,
       |    CASE WHEN eps_a IS NULL OR COALESCE(TRY_CAST(CAST(eps_a AS VARCHAR) AS DOUBLE) = 0, FALSE)
       |         THEN NULL ELSE eps_a END AS eps_direct,
       |    CAST(round((CASE WHEN ni_d >= 1000000 THEN ni_d / 1000000 ELSE ni_d END) / 1000.0, 4)
       |      AS DECIMAL(10,4)) AS eps_est
       |  FROM c2)""".stripMargin
  }

  /** DuckDB replica of the FULL MinHash+LSH pipeline — signatures with the
    * exact permutation constants from [[Dedup.MinHashParams]], banding,
    * candidate equi-join, and exact Jaccard verification of candidates.
    */
  def minHashLshOracleSql(where: String = ""): String = {
    val p = Dedup.MinHashParams()
    val mh = (0 until p.numPerm).map(i =>
      s"min((hm * ${p.as(i)} + ${p.bs(i)}) % ${p.prime}) AS mh_$i").mkString(", ")
    val bandSelects = (0 until p.bands).map { b =>
      val key = (0 until p.rowsPerBand)
        .map(r => s"CAST(mh_${b * p.rowsPerBand + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents$where),
       |shs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
       |          i -> array_to_string(toks[i:i+2], ' ')))) AS shingle_s FROM t),
       |sh AS (SELECT doc_id, ${md5Hash60Sql("shingle_s")} AS shingle FROM shs),
       |hot AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) > 100),
       |idx AS (SELECT doc_id, shingle FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |hmt AS (SELECT doc_id, shingle % ${p.prime} AS hm FROM idx),
       |sig AS (SELECT doc_id, $mh FROM hmt GROUP BY 1),
       |bk AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS nsh FROM idx GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ic
       |          FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |          JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
       |          GROUP BY 1, 2)
       |SELECT t2.doc_a, t2.doc_b, CAST(t2.ic AS DOUBLE) / (sa.nsh + sb.nsh - t2.ic) AS jaccard
       |FROM inter t2 JOIN sizes sa ON t2.doc_a = sa.doc_id JOIN sizes sb ON t2.doc_b = sb.doc_id
       |WHERE CAST(t2.ic AS DOUBLE) / (sa.nsh + sb.nsh - t2.ic) >= 0.5""".stripMargin
  }

  /** DuckDB replica of the 60-bit SimHash pipeline: per-bit sign votes
    * over md5-hashed distinct tokens, 4x15-bit band candidates, exact
    * Hamming verification via xor + bit_count.
    */
  def simHashOracleSql: String = {
    val votes = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v_$b").mkString(", ")
    val bits = (0 until 60).map(b =>
      s"(CASE WHEN v_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)").mkString(" | ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 15}) & 32767 AS bkey FROM sig")
      .mkString(" UNION ALL ")
    s"""WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |h AS (SELECT doc_id, ${md5Hash60Sql("tok")} AS h FROM tok),
       |v AS (SELECT doc_id, $votes FROM h GROUP BY 1),
       |sig AS (SELECT doc_id, $bits AS simhash FROM v),
       |bk AS ($bands)
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin
  }

  /** DuckDB replica of IVF top-k: decimal-sum/count centroids (exactly the
    * [[Similarity.centroids]] math), nprobe centroid ranking, probed-cell
    * scan, per-query top-k.
    */
  def ivfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |ex AS (SELECT vec_id, label, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM e),
       |cm AS (SELECT label AS centroid_id, pos,
       |         CAST(SUM(CAST(val AS DECIMAL(27,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
       |       FROM ex GROUP BY 1, 2),
       |cent AS (SELECT centroid_id, list(m ORDER BY pos) AS cv FROM cm GROUP BY 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
       |pr AS (SELECT query_id, qv, centroid_id,
       |         list_dot_product(qv, cv) AS d,
       |         sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) AS nn
       |       FROM q CROSS JOIN cent),
       |pr2 AS (SELECT query_id, qv, centroid_id,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY (CASE WHEN nn > 0 THEN d / nn END) DESC, centroid_id) AS crank
       |        FROM pr),
       |probes AS (SELECT query_id, qv, centroid_id FROM pr2 WHERE crank <= 3),
       |c AS (SELECT vec_id AS neighbor_id, label AS centroid_id, v AS nv FROM e),
       |sc AS (SELECT p.query_id, c.neighbor_id,
       |         list_dot_product(p.qv, c.nv) AS d,
       |         sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.nv, c.nv)) AS nn
       |       FROM c JOIN probes p ON c.centroid_id = p.centroid_id
       |       WHERE p.query_id <> c.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, CASE WHEN nn > 0 THEN d / nn END AS sim,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY (CASE WHEN nn > 0 THEN d / nn END) DESC, neighbor_id) AS rank
       |      FROM sc)
       |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM r WHERE rank <= 5""".stripMargin

  /** Hash-table seeds for the multi-table LSH near-dup gate (shared by the
    * Spark side, its oracle, and the recall audit). */
  val lshSeeds = Seq(42L, 43L, 44L)

  /** DuckDB replica of the multi-table random-hyperplane LSH near-dup
    * path: per-seed bucket ids from the exact plane coefficients of
    * [[Similarity.hyperplaneCoef]] embedded as literals, candidates =
    * bucket match in ANY table (distinct pair ids), exact cosine
    * verification once per surviving pair.
    */
  def embeddingLshOracleSql(where: String = ""): String = {
    val bucketExprs = lshSeeds.zipWithIndex.map { case (seed, i) =>
      val planes = (0 until 4).map { b =>
        val arr = (0 until 64)
          .map(p => java.lang.Double.toString(Similarity.hyperplaneCoef(seed, b, p)))
          .mkString(", ")
        s"(CASE WHEN list_dot_product(v, [$arr]) > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)"
      }.mkString(" | ")
      s"$planes AS b$i"
    }
    val anyTable = lshSeeds.indices.map(i => s"a.b$i = b.b$i").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings$where),
       |bkt AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, ${bucketExprs.mkString(", ")} FROM e),
       |cand AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
       |         FROM bkt a JOIN bkt b ON a.vec_id < b.vec_id AND ($anyTable)),
       |p AS (SELECT c.doc_a, c.doc_b,
       |        list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS sim
       |      FROM cand c JOIN bkt x ON x.vec_id = c.doc_a
       |                  JOIN bkt y ON y.vec_id = c.doc_b)
       |SELECT doc_a, doc_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.45""".stripMargin
  }

  /** Incremental replica of the vector twin: even ids are the persisted
    * state buckets, odd ids the batch; batch-self pairs plus state x
    * batch bucket-collision pairs, cosine-verified.
    */
  def incrementalEmbeddingLshOracleSql: String = {
    val bucketExprs = lshSeeds.zipWithIndex.map { case (seed, i) =>
      val planes = (0 until 4).map { b =>
        val arr = (0 until 64)
          .map(p => java.lang.Double.toString(Similarity.hyperplaneCoef(seed, b, p)))
          .mkString(", ")
        s"(CASE WHEN list_dot_product(v, [$arr]) > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)"
      }.mkString(" | ")
      s"$planes AS b$i"
    }
    val anyTable = lshSeeds.indices.map(i => s"a.b$i = b.b$i").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |bkt AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, ${bucketExprs.mkString(", ")} FROM e),
       |sb AS (SELECT * FROM bkt WHERE vec_id % 2 = 0),
       |bb AS (SELECT * FROM bkt WHERE vec_id % 2 <> 0),
       |selfp AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
       |          FROM bb a JOIN bb b ON a.vec_id < b.vec_id AND ($anyTable)),
       |crossp AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
       |           FROM sb a JOIN bb b ON ($anyTable)),
       |scored AS (
       |  SELECT c.doc_a, c.doc_b, c.src,
       |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS sim
       |  FROM (SELECT doc_a, doc_b, 'batch' AS src FROM selfp
       |        UNION ALL SELECT doc_a, doc_b, 'state' FROM crossp) c
       |  JOIN bkt x ON x.vec_id = c.doc_a
       |  JOIN bkt y ON y.vec_id = c.doc_b)
       |SELECT doc_a, doc_b, round(sim, 6) AS sim, src FROM scored WHERE sim >= 0.45""".stripMargin
  }

  /** DuckDB twin of the exact brute-force cosine top-k (shared by both
    * brute gates and, as the exact reference, by the recall audits).
    */
  val bruteTopKOracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      |           FROM embeddings WHERE vec_id < 8),
      |c AS (SELECT vec_id AS neighbor_id,
      |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      |      FROM embeddings),
      |s AS (SELECT query_id, neighbor_id,
      |        list_dot_product(qv, cv) AS d,
      |        sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) AS n
      |      FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
      |r AS (SELECT query_id, neighbor_id,
      |        CASE WHEN n > 0 THEN d / n END AS sim,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY CASE WHEN n > 0 THEN d / n END DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM r WHERE rank <= 5""".stripMargin

  /** Recall-audit oracle: approximate top-k vs exact top-k, nested-WITH
    * composition of the two full replicas; meets_floor is the literal-TRUE
    * tripwire (see the recall_* gate comments).
    */
  def topKRecallOracleSql(approxSql: String): String =
    s"""WITH approx AS ($approxSql),
       |exact AS ($bruteTopKOracleSql),
       |hits AS (SELECT a.query_id, count(*) AS hits
       |         FROM approx a JOIN exact e
       |           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |         GROUP BY 1),
       |per AS (SELECT q.query_id, COALESCE(h.hits, 0) AS hits
       |        FROM (SELECT DISTINCT query_id FROM exact) q
       |        LEFT JOIN hits h ON q.query_id = h.query_id)
       |SELECT count(*) AS n_queries,
       |  round(CAST(SUM(hits) AS DOUBLE) / (count(*) * 5), 6) AS mean_recall,
       |  round(CAST(MIN(hits) AS DOUBLE) / 5, 6) AS min_recall,
       |  TRUE AS meets_floor
       |FROM per""".stripMargin

  /** DuckDB twin of the two-tier quantized search (shared by its gate and
    * its recall audit): quantization per vec_quantize_int8, int-code dot
    * exact in double, rescore over the float cosine.
    */
  val quantizedRescoreOracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
      |z AS (SELECT vec_id, v,
      |        CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale,
      |        list_transform(v, x ->
      |          floor(x * (CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END) + 0.5)) AS qv
      |      FROM m),
      |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |        q.v AS qf, c.v AS cf,
      |        CASE WHEN q.scale > 0 AND c.scale > 0
      |          THEN list_dot_product(q.qv, c.qv) / (q.scale * c.scale)
      |          ELSE 0.0 END AS approx
      |      FROM z q CROSS JOIN z c
      |      WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
      |a AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY approx DESC, neighbor_id) AS arank FROM p),
      |r AS (SELECT query_id, neighbor_id,
      |        list_dot_product(qf, cf) AS d,
      |        sqrt(list_dot_product(qf, qf)) * sqrt(list_dot_product(cf, cf)) AS n
      |      FROM a WHERE arank <= 20),
      |s AS (SELECT query_id, neighbor_id,
      |        CASE WHEN n > 0 THEN d / n END AS sim,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY CASE WHEN n > 0 THEN d / n END DESC, neighbor_id) AS rank
      |      FROM r)
      |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM s WHERE rank <= 5""".stripMargin

  /** DuckDB twin of the exact embedding near-dup pair set (shared by its
    * gate and the LSH recall audit). */
  def embeddingExactPairsOracleSql(where: String = ""): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings$where),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
      |        list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim
      |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT doc_a, doc_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.45""".stripMargin

  /** Recall-audit oracle for verified pair sets (doc_a < doc_b). */
  def pairRecallOracleSql(approxSql: String, exactSql: String): String =
    s"""WITH approx AS ($approxSql),
       |exact AS ($exactSql),
       |h AS (SELECT count(*) AS n_hits FROM approx a JOIN exact e
       |        ON a.doc_a = e.doc_a AND a.doc_b = e.doc_b),
       |na AS (SELECT count(*) AS n_approx FROM approx),
       |ne AS (SELECT count(*) AS n_exact FROM exact)
       |SELECT ne.n_exact, na.n_approx,
       |  round(CAST(h.n_hits AS DOUBLE) / ne.n_exact, 6) AS recall,
       |  TRUE AS meets_floor
       |FROM ne, na, h""".stripMargin

  /** DuckDB replica of the emitted-session set (shared by the single-wave
    * live gate and the multi-wave twin): sessions closed by a later event
    * plus final sessions whose event-time timeout (last event ms + gap)
    * fell STRICTLY before the final watermark (max event ms) — Spark's
    * timeout predicate is `timeoutTimestamp < watermark`. total_value is
    * DuckDB's ordered SUM, the same left fold the stream computes.
    */
  val sessionizeEmittedOracleSql: String =
      """WITH f AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM f),
        |h AS (
        |  SELECT user_id, ts, event_id, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_seq,
        |    MIN(ts) AS session_start, MAX(ts) AS session_end,
        |    count(*) AS n_events, SUM(value ORDER BY ts, event_id) AS total_value
        |  FROM h GROUP BY 1, 2),
        |last AS (SELECT user_id, MAX(session_seq) AS mx FROM sess GROUP BY 1),
        |wm AS (SELECT epoch_us(MAX(ts)) // 1000 AS wm_ms FROM events)
        |SELECT s.user_id, CAST(s.session_start AS TIMESTAMP) AS session_start,
        |  CAST(s.session_end AS TIMESTAMP) AS session_end,
        |  s.n_events, s.total_value
        |FROM sess s JOIN last l ON s.user_id = l.user_id, wm
        |WHERE s.session_seq < l.mx
        |   OR epoch_us(s.session_end) // 1000 + 1800000 < wm.wm_ms""".stripMargin

  /** Shared CTE prefix for the late-delivery oracles: replicates
    * [[graft.io.Tables.lateWavedEventsStream]]'s delivery schedule
    * (equal-width nanos waves over 4 waves, `event_id % 10 == 0` rows
    * displaced TWO waves later, capped at the last) and Spark's
    * per-batch watermark sequence — the watermark in force DURING wave v
    * is the max event time through wave v-2 (one batch of lag beyond the
    * obvious: a batch's stats are folded into the tracker only after it
    * commits, which is after the NEXT batch's metadata snapshot — see
    * lateWavedEventsStream's scaladoc), floored to milliseconds (Spark
    * tracks event time in ms), minus the 96-hour allowed lateness,
    * re-scaled to micros. Produces `s`: one row per delivered event with
    * its delivered wave `wv` and the watermark `wm_us` in force when it
    * arrived (NULL during the first two waves), plus `fw`: the final
    * watermark — AvailableNow appends no-data batches until the
    * watermark converges to max event time minus the delay, so emission
    * sees the fully-advanced value.
    */
  val lateWaveCtes: String =
    """e AS (SELECT event_id, user_id, event_type, value,
      |        CAST(ts AS TIMESTAMP) AS tsv, epoch_ns(ts) AS tns,
      |        epoch_us(CAST(ts AS TIMESTAMP)) AS tus
      |      FROM events),
      |b AS (SELECT min(tns) AS tmin, max(tns) - min(tns) + 1 AS span FROM e),
      |d AS (SELECT e.*,
      |        CASE WHEN event_id % 10 = 0
      |             THEN least(CAST(((tns - b.tmin) * 4) // b.span AS INT) + 2, 3)
      |             ELSE CAST(((tns - b.tmin) * 4) // b.span AS INT) END AS wv
      |      FROM e, b),
      |m AS (SELECT wv, max(tus) AS mx FROM d GROUP BY wv),
      |w AS (SELECT wv,
      |        (max(mx) OVER (ORDER BY wv
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
      |         // 1000 - 345600000) * 1000 AS wm_us
      |      FROM m),
      |s AS (SELECT d.*, w.wm_us FROM d JOIN w ON d.wv = w.wv),
      |fw AS (SELECT (max(tus) // 1000 - 345600000) * 1000 AS f FROM e)""".stripMargin

  /** Late-delivery tumbling oracle. Drop/emit rules pinned by the
    * EventStreamsSpec probe: a delivered row is dropped iff its WINDOW
    * END is at or below the watermark in force (the streaming aggregate
    * keys late-filtering on the window's event-time column, so an
    * in-watermark late row folds into its still-open window even when
    * its raw ts is behind the watermark); a window is emitted in Append
    * mode iff its end is at or below the final watermark.
    */
  val tumblingLateOracleSql: String =
    s"""WITH $lateWaveCtes,
       |surv AS (SELECT * FROM s WHERE wm_us IS NULL
       |           OR epoch_us(date_trunc('hour', tsv) + INTERVAL 1 HOUR) > wm_us),
       |agg AS (SELECT date_trunc('hour', tsv) AS hour_start, event_type,
       |          count(*) AS cnt,
       |          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |        FROM surv GROUP BY 1, 2)
       |SELECT CAST(hour_start AS TIMESTAMP) AS hour_start, event_type, cnt, sum_value
       |FROM agg, fw WHERE epoch_us(hour_start + INTERVAL 1 HOUR) <= fw.f""".stripMargin

  /** Late-delivery sliding oracle. Same drop/emit rules as the tumbling
    * one, applied PER (row, window) ASSIGNMENT: the row first expands
    * into its two overlapping 2-hour windows (exactly as Spark's Expand
    * runs before the stateful aggregate and its late filter), then each
    * assignment is dropped iff that window's end is at or below the
    * watermark in force at the delivered wave — so one late row can fold
    * into its younger window while its older window drops it. Emission:
    * window end at or below the final watermark.
    */
  val slidingLateOracleSql: String =
    s"""WITH $lateWaveCtes,
       |x AS (SELECT unnest([date_trunc('hour', tsv) - INTERVAL 1 HOUR,
       |                     date_trunc('hour', tsv)]) AS ws,
       |             event_type, value, wm_us
       |      FROM s),
       |surv AS (SELECT * FROM x WHERE wm_us IS NULL
       |           OR epoch_us(ws + INTERVAL 2 HOUR) > wm_us),
       |agg AS (SELECT ws, event_type, count(*) AS cnt,
       |          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       |        FROM surv GROUP BY 1, 2)
       |SELECT CAST(ws AS TIMESTAMP) AS win_start, event_type, cnt, sum_value
       |FROM agg, fw WHERE epoch_us(ws + INTERVAL 2 HOUR) <= fw.f""".stripMargin

  /** Late-delivery sessionize oracle. The fMGWS late filter drops rows
    * with raw ts behind the watermark BEFORE the state function; the
    * survivors fold in PROCESSING order (wave, ts, event_id) — an
    * out-of-order survivor moves the session's `last` backward, so the
    * gap test compares consecutive events in processing order, and
    * session_start/session_end are the first/last events in processing
    * order, not min/max (EventStreamsSpec pins both rules). Emission is
    * the same rule as the in-order oracle: sessions closed by a later
    * event, plus final sessions whose timeout (last-event ms + gap) fell
    * strictly before the final watermark.
    */
  val sessionizeLateOracleSql: String =
    s"""WITH $lateWaveCtes,
       |surv AS (SELECT * FROM s WHERE wm_us IS NULL OR tus >= wm_us),
       |p AS (SELECT user_id, tsv, event_id, value, wv,
       |        lag(tsv) OVER (PARTITION BY user_id ORDER BY wv, tsv, event_id) AS prev_ts
       |      FROM surv),
       |g AS (SELECT *, CASE WHEN prev_ts IS NULL
       |          OR epoch_ms(tsv) - epoch_ms(prev_ts) >= 1800000 THEN 1 ELSE 0 END AS new_session
       |      FROM p),
       |h AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id
       |        ORDER BY wv, tsv, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |      FROM g),
       |sess AS (SELECT user_id, session_seq,
       |    first(tsv ORDER BY wv, tsv, event_id) AS session_start,
       |    last(tsv ORDER BY wv, tsv, event_id) AS session_end,
       |    count(*) AS n_events,
       |    SUM(value ORDER BY wv, tsv, event_id) AS total_value
       |  FROM h GROUP BY 1, 2),
       |lastq AS (SELECT user_id, MAX(session_seq) AS mx FROM sess GROUP BY 1)
       |SELECT s2.user_id, CAST(s2.session_start AS TIMESTAMP) AS session_start,
       |  CAST(s2.session_end AS TIMESTAMP) AS session_end,
       |  s2.n_events, s2.total_value
       |FROM sess s2 JOIN lastq l ON s2.user_id = l.user_id, fw
       |WHERE s2.session_seq < l.mx
       |   OR epoch_us(s2.session_end) // 1000 + 1800000 < fw.f // 1000""".stripMargin

  /** DuckDB replica of the streaming-incremental dedup ingest
    * (shared by the live gate and the crash-restart gate, which must
    * converge to the identical accepted set): wave 0 (even ids)
    * self-dedups, its survivors' index becomes the state; wave 1 (odd
    * ids) pairs against that state plus itself. Sizes always come from
    * the wave-local window (the Spark side attaches nsh at batch-index
    * build).
    */
  val incrementalLiveOracleSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        |       FROM t),
        |esh AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
        |osh AS (SELECT * FROM sh WHERE doc_id % 2 <> 0),
        |eidx AS (SELECT doc_id, shingle FROM esh WHERE shingle NOT IN (
        |           SELECT shingle FROM esh GROUP BY 1 HAVING count(*) > 100)),
        |oidx AS (SELECT doc_id, shingle FROM osh WHERE shingle NOT IN (
        |           SELECT shingle FROM osh GROUP BY 1 HAVING count(*) > 100)),
        |esz AS (SELECT doc_id, count(*) AS nsh FROM eidx GROUP BY 1),
        |osz AS (SELECT doc_id, count(*) AS nsh FROM oidx GROUP BY 1),
        |ep AS (SELECT b.doc_id AS doc_b FROM eidx a JOIN eidx b
        |         ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |       GROUP BY a.doc_id, b.doc_id
        |       HAVING CAST(count(*) AS DOUBLE) /
        |         ((SELECT nsh FROM esz WHERE doc_id = a.doc_id)
        |          + (SELECT nsh FROM esz WHERE doc_id = b.doc_id) - count(*)) >= 0.5),
        |acc0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0
        |         AND doc_id NOT IN (SELECT doc_b FROM ep)),
        |sidx AS (SELECT e.doc_id, e.shingle FROM eidx e JOIN acc0 USING (doc_id)),
        |op AS (SELECT b.doc_id AS doc_b FROM oidx a JOIN oidx b
        |         ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |       GROUP BY a.doc_id, b.doc_id
        |       HAVING CAST(count(*) AS DOUBLE) /
        |         ((SELECT nsh FROM osz WHERE doc_id = a.doc_id)
        |          + (SELECT nsh FROM osz WHERE doc_id = b.doc_id) - count(*)) >= 0.5),
        |cp AS (SELECT b.doc_id AS doc_b FROM sidx a JOIN oidx b ON a.shingle = b.shingle
        |       GROUP BY a.doc_id, b.doc_id
        |       HAVING CAST(count(*) AS DOUBLE) /
        |         ((SELECT nsh FROM esz WHERE doc_id = a.doc_id)
        |          + (SELECT nsh FROM osz WHERE doc_id = b.doc_id) - count(*)) >= 0.5),
        |acc1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 <> 0
        |         AND doc_id NOT IN (SELECT doc_b FROM op UNION SELECT doc_b FROM cp))
        |SELECT doc_id, CAST(0 AS INT) AS wave FROM acc0
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INT) AS wave FROM acc1""".stripMargin

  /** DuckDB replica of the converged merge state (shared by the live and
    * multi-wave merge gates): batch last-write-wins over all events —
    * micro-batch boundaries cannot change it.
    */
  val mergeLwwOracleSql: String =
    """WITH r AS (SELECT user_id, event_type, event_id, ts, value,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      |FROM r WHERE rn = 1""".stripMargin

}
