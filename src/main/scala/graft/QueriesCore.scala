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

/** Gate registry — reference-parity relational/pipeline operators (SURVEY.md §2.1–2.9).
  * Entries moved verbatim from the former monolithic [[Queries]];
  * [[Queries]] merges the family registries. */
private[graft] object QueriesCore {

  import QueriesShared._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- 2.4 aggregations -------------------------------------------------
    // TPC-H-Q1-style pricing summary: decimal sums (order-independent).
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // Decimal sum internally (order-independent exact), DOUBLE at the
          // surface: both engines convert the same decimal value via IEEE
          // nearest, so the driver's pandas dtype-sensitive hash matches.
          sum(col("l_quantity").cast(Dec152)).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(Dec152)).cast(DoubleType).as("sum_base_price"),
          count(lit(1)).as("count_order"))
    }),

    // O-A1 distinct keys (load.py:94).
    "agg_distinct_tickers" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderpriority")).distinct()),

    // O-A3 per-group counts (load.py:233-243).
    "agg_group_count" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))),

    // O-A4 per-group + grand total in one pass via ROLLUP (main.py:128).
    "agg_rollup_total" -> ((s, dir) =>
      Summary.countsWithTotal(t(s, dir, "orders").select(col("o_orderstatus")), "o_orderstatus")),

    // CUBE extension (free via Catalyst; SURVEY.md §2.4).
    "agg_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))),

    // Exact distinct-count aggregate.
    "agg_distinct_users" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("cnt"))),

    // ---- 2.8 scalar functions --------------------------------------------
    // O-X2 quarter-label derivation (transform.py:31-57).
    "fn_quarter_label" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(Normalize.quarterLabel(col("o_orderdate")).as("quarter_label"))
        .agg(count(lit(1)).as("cnt"))),

    // O-X1 multi-format lenient date parse (transform.py:141-166): render
    // each order date in one of 4 formats keyed by o_orderkey, parse back.
    "fn_parse_date_multi" -> ((s, dir) => {
      val m = pmod(col("o_orderkey"), lit(4))
      val raw = when(m === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(m === 1, date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .when(m === 2, date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), raw.as("raw"))
        .withColumn("parsed", Normalize.parseDateMulti(col("raw")))
    }),

    // O-X1 label-path 4-format parse (transform.py:36-49): day-first
    // fallback after month-first — 13/01/2020 parses as Jan 13; ambiguous
    // 05/06/2020 stays month-first (May 6), exactly the reference's try
    // order.
    "fn_parse_date_dayfirst" -> ((s, dir) => {
      val m = pmod(col("o_orderkey"), lit(3))
      val raw = when(m === 0, date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .when(m === 1, date_format(col("o_orderdate"), "dd/MM/yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), raw.as("raw"))
        .withColumn("parsed", Normalize.parseDateLabelPath(col("raw")))
        .withColumn("quarter_label", Normalize.quarterLabel(col("parsed")))
    }),

    // O-X3 safe decimal coercion (transform.py:168-186): dirty string
    // variants ($-prefix, trailing space, N/A sentinel) -> cleaned decimal
    // with the millions heuristic.
    "fn_safe_decimal" -> ((s, dir) => {
      val sStr = col("o_totalprice").cast(Dec152).cast(StringType)
      val m = pmod(col("o_orderkey"), lit(4))
      val raw = when(m === 0, concat(lit("$"), sStr))
        .when(m === 1, concat(sStr, lit(" ")))
        .when(m === 2, lit("N/A"))
        .otherwise(sStr)
      t(s, dir, "orders")
        .select(col("o_orderkey"), raw.as("raw"))
        .withColumn("val", Normalize.safeDecimal(col("raw")))
        .select(col("o_orderkey"), col("val").cast(DoubleType).as("val"))
    }),

    // O-X4 + O-J6 EPS estimation over a literal shares map
    // (transform.py:188-201): per-nation "net income" = exact decimal sum
    // of customer balances, then the reference's millions-aware division.
    "fn_estimate_eps" -> ((s, dir) => {
      val ni = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("c_acctbal").cast(Dec152)).cast(DoubleType).as("net_income"))
        .withColumn("shares", Normalize.sharesFor(col("n_name"), NationShares).cast(LongType))
      ni.withColumn("eps",
          Normalize.estimateEps(col("net_income"), col("shares")).cast(DoubleType))
        .select(col("n_name"), col("net_income"), col("shares"), col("eps"))
    }),

    // O-X5 tolerance comparison (transform.py:245-259).
    "fn_tolerance_check" -> ((s, dir) =>
      t(s, dir, "orders").where(col("o_orderkey") < 50)
        .select(col("o_orderkey"),
          Quality.withinTolerance(col("o_totalprice"), lit(150000.0), lit(50000.0))
            .as("within_tol"))),

    // O-X6 label-format validation (config.py:84).
    "fn_label_rlike" -> ((s, dir) => {
      val label = when(pmod(col("o_orderkey"), lit(3)) === 0, lit("bad-label"))
        .otherwise(Normalize.quarterLabel(col("o_orderdate")))
      t(s, dir, "orders")
        .select(label.as("quarter_label"))
        .groupBy(Quality.labelValid(col("quarter_label")).as("valid"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // ---- 2.2 projections / filters ---------------------------------------
    // O-P1 core projection + derived columns (transform.py:68-100).
    "project_normalize" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderpriority").as("ticker"),
        col("o_orderdate").cast(DateType).as("quarter_date"),
        Normalize.quarterLabel(col("o_orderdate")).as("quarter_label"),
        col("o_totalprice").cast(Dec152).cast(DoubleType).as("revenue"))),

    // O-F1 invalid-date filter (transform.py:77-79): some raw strings are
    // unparseable; keep only rows with a parseable date.
    "filter_valid_date" -> ((s, dir) => {
      val m = pmod(col("o_orderkey"), lit(4))
      val raw = when(m === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(m === 1, date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .when(m === 2, lit("invalid-date"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), Normalize.parseDateMulti(raw).as("parsed"))
        .where(col("parsed").isNotNull)
    }),

    // O-F4 golden-row lookup (transform.py:236-239).
    "filter_golden_row" -> ((s, dir) =>
      t(s, dir, "orders").where(col("o_orderkey") === 100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // ---- 2.3 joins --------------------------------------------------------
    // O-J1 FK resolution: facts ⋈ broadcast dim (load.py:94-116).
    "join_fk_resolve" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"))),

    // O-J2 insert-if-absent probe: dim rows with no facts in the recent
    // window (load.py:65-74).
    "join_anti_new" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_orderdate") >= lit("2000-01-01"))
          .select(col("o_custkey").as("c_custkey")).distinct(),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    // O-U2 set-difference form of the same (load.py:70).
    "except_new_tickers" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .except(t(s, dir, "orders").where(col("o_orderdate") >= lit("2000-01-01"))
          .select(col("o_custkey").as("c_custkey")))),

    // O-J4/O-A3 dim left-joined to per-key fact counts (load.py:229-246).
    "join_summary" -> ((s, dir) =>
      Summary.dimFactCounts(t(s, dir, "customer"), t(s, dir, "orders"),
        "c_custkey", "o_custkey", "order_cnt")),

    // O-J6 literal-map dim lookup with default (transform.py:193-194).
    "join_shares_lookup" -> ((s, dir) =>
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
        Normalize.sharesFor(col("n_name"), NationShares).cast(LongType).as("shares"))),

    // O-F6 unresolved-FK accounting: facts whose key misses a restricted
    // dim, counted per key (load.py:103-107 skip-and-count).
    "anti_unresolved" -> ((s, dir) =>
      Tables.events(s, dir)
        .join(t(s, dir, "customer").where(col("c_custkey") < 100)
          .select(col("c_custkey").as("user_id")), Seq("user_id"), "left_anti")
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))),

    // Deterministic salt fallback for AQE-resistant skew (ops/Skew): the
    // gate proves the salted form is semantically identical to the plain
    // equi-join (the salt must never change results, only task layout).
    "join_salted_skew" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"), col("value"))
      val dim = t(s, dir, "customer").where(col("c_custkey") < 200)
        .select(col("c_custkey").as("user_id"), col("c_name"))
      graft.ops.Skew.saltedJoin(ev, dim, Seq("user_id"), buckets = 8)
        .select(col("user_id"), col("event_id"), col("value"), col("c_name"))
    }),

    // ---- 2.5 windows / sort / top-k ---------------------------------------
    // O-L2 top-k per group (extract.py:162): 2 most recent lineitems per order.
    "window_topk_quarters" -> ((s, dir) =>
      Windows.topKPerGroup(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate")),
        Seq("l_orderkey"), Seq(col("l_shipdate").desc, col("l_linenumber").asc), 2)),

    // Frame-spec window + lag extension: exact running sum per user.
    "window_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("running_sum",
          sum(col("value").cast(DecimalType(18, 6)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
    }),

    // O-O1 export sort (transform.py:277).
    "sort_export" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .orderBy(col("o_custkey").asc, col("o_orderdate").desc, col("o_orderkey").asc)),

    // ---- 2.6 set ops ------------------------------------------------------
    // INTERSECT (SURVEY §2.6 noted it available-if-needed): customers who
    // DO have recent orders — the complement of except_new_tickers.
    "intersect_active" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .intersect(t(s, dir, "orders").where(col("o_orderdate") >= lit("2000-01-01"))
          .select(col("o_custkey").as("c_custkey")))),

    // Canonical text normalization (case/whitespace collapse) ahead of
    // fingerprinting — exercised as its own gate so the oracle pins the
    // exact normalization.
    "union_sources" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.where(col("o_orderstatus") === "O").select(col("o_orderkey"), lit("src_o").as("src"))
      val b = o.where(col("o_orderstatus") =!= "O").select(col("o_orderkey"), lit("src_other").as("src"))
      a.unionByName(b).groupBy(col("src")).agg(count(lit(1)).as("cnt"))
    }),

    // ---- 2.7 merge / dedup ------------------------------------------------
    // O-M1 last-write-wins MERGE on the natural key (load.py:122-154):
    // even event_ids are current state, odd are the incoming batch.
    "merge_upsert" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
      val current = ev.where(pmod(col("event_id"), lit(2)) === 0)
      val incoming = ev.where(pmod(col("event_id"), lit(2)) === 1)
      Merge.mergeUpsert(current, incoming, Seq("user_id", "event_type"),
        Seq(col("ts").desc, col("event_id").desc))
    }),

    // O-M3 deterministic intra-batch dedup (SURVEY.md §7.5.4).
    "dedupe_batch" -> ((s, dir) =>
      Merge.lastWriteWins(
        Tables.events(s, dir).select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value")),
        Seq("user_id", "event_type"), Seq(col("ts").desc, col("event_id").desc))),

    // O-M2 dim insert-if-absent (load.py:65-74): existing rows win.
    "dedupe_dim" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val existing = c.where(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val incoming = c.select(col("c_custkey"),
        concat(col("c_name"), lit("_new")).as("c_name"), col("c_acctbal"))
      Merge.insertIfAbsent(existing, incoming, Seq("c_custkey"))
    }),

    // Partition-scoped MERGE (the 100 TB state-table path): seed a state
    // partitioned by event_type with clicks+views, merge the purchases
    // batch — only that partition is read+rewritten. Final state equals a
    // global last-write-wins (same oracle as dedupe_batch restricted to
    // the three types).
    "merge_partitioned" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
        .where(col("event_type").isin("click", "view", "purchase"))
      val prec = Seq(col("ts").desc, col("event_id").desc)
      val statePath = graft.util.Scratch.dir("graft_pmerge") + "/state"
      Merge.lastWriteWins(ev.where(col("event_type").isin("click", "view")),
          Seq("user_id", "event_type"), prec)
        .write.partitionBy("event_type").parquet(statePath)
      Merge.mergeInto(s, statePath, ev.where(col("event_type") === "purchase"),
          Seq("user_id", "event_type"), prec, partitionCol = Some("event_type"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
    }),

    // Engine-owned uniqueness assertion (SURVEY.md §4): keys violating the
    // (user_id, event_type) contract, with multiplicity.
    "assert_unique_key" -> ((s, dir) =>
      Quality.duplicateKeys(
        Tables.events(s, dir).select(col("user_id"), col("event_type")),
        Seq("user_id", "event_type"))),

    // ---- 2.1 sources / sinks ----------------------------------------------
    // S7+S12 round trip: typed CSV export then schema-declared re-ingest
    // must be lossless (reference load.py:202-227 loop-closing path).
    "csv_roundtrip" -> ((s, dir) => {
      val proj = t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("o_date"),
        col("o_totalprice").cast(Dec152).as("o_price"),
        col("o_orderstatus"))
      val tmp = graft.util.Scratch.dir("graft_csv_rt")
      proj.write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.schema(StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_date", DateType),
          StructField("o_price", Dec152),
          StructField("o_orderstatus", StringType))))
        .option("header", "true").csv(tmp)
        // Decimal end-to-end through the CSV sink+source; DOUBLE only at
        // the gate surface (driver dtype canonicalization).
        .withColumn("o_price", col("o_price").cast(DoubleType))
    }),

    // Partition-pruned state layout (SURVEY.md §4 "partition-by layout ->
    // partition pruning"): write a hive-partitioned Parquet state table,
    // read back one partition — the scan lists only that directory.
    "partitioned_state_prune" -> ((s, dir) => {
      val tmp = graft.util.Scratch.dir("graft_part") + "/state"
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(Dec152).as("o_price"), col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
      s.read.parquet(tmp)
        .where(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_price").cast(DoubleType).as("o_price"), col("o_orderstatus"))
    }),

    // JDBC connector round trip (reference load.py:29-48 + 229-246: the
    // PostgreSQL surface, embedded Derby standing in — url-swappable):
    // bulk write with bounded connections, then a PARTITIONED read back
    // (4 range slices on the key) feeding the summary aggregate. String
    // columns pin VARCHAR widths (Derby's default StringType mapping is
    // CLOB, which cannot be compared or merged on).
    "jdbc_roundtrip" -> ((s, dir) => {
      val url = s"jdbc:derby:${graft.util.Scratch.dir("graft_derby_rt")}/db;create=true"
      graft.io.Jdbc.writeTable(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment")),
        url, "customers", org.apache.spark.sql.SaveMode.Overwrite,
        columnTypes = Some("c_name VARCHAR(40), c_mktsegment VARCHAR(16)"))
      graft.io.Jdbc.readPartitioned(s, url, "customers", "c_custkey", 0L, 1L << 20, 4)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast(Dec152)).cast(DoubleType).as("sum_bal"))
    }),

    // JDBC set-based MERGE upsert (reference load.py:87-161 with the
    // per-row conflict loop inverted to stage + one MERGE INTO): seed the
    // database with every third customer, upsert a batch touching every
    // second — matched rows update in place, new rows insert.
    "jdbc_merge_upsert" -> ((s, dir) => {
      val url = s"jdbc:derby:${graft.util.Scratch.dir("graft_derby_mu")}/db;create=true"
      val c = t(s, dir, "customer")
      graft.io.Jdbc.writeTable(
        c.where(pmod(col("c_custkey"), lit(3)) === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
        url, "cust_state", org.apache.spark.sql.SaveMode.Overwrite,
        columnTypes = Some("c_name VARCHAR(44)"))
      graft.io.Jdbc.mergeUpsert(s, url, "cust_state",
        c.where(pmod(col("c_custkey"), lit(2)) === 0)
          .select(col("c_custkey"), concat(col("c_name"), lit("_u")).as("c_name"),
            col("c_acctbal")),
        Seq("c_custkey"), Seq(col("c_custkey").desc),
        columnTypes = Some("c_name VARCHAR(44)"))
      graft.io.Jdbc.readTable(s, url, "cust_state")
    }),

    // ---- 2.10 streaming-equivalent batch windowing ------------------------
    // Tumbling 1-hour aggregate over the events table — the batch twin of
    // the Structured Streaming path in graft.streaming.
    "asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"), col("event_id"))
      AsOf.asofJoinBackward(clicks, purchases, Seq("user_id"), "ts",
          Seq("purchase_value"), col("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("purchase_value"))
    }),

    // Forward as-of (merge_asof direction='forward'): each click gets the
    // EARLIEST following purchase value — same single-shuffle union+window
    // shape, mirrored ordering.
    "asof_join_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"), col("event_id"))
      AsOf.asofJoinForward(clicks, purchases, Seq("user_id"), "ts",
          Seq("purchase_value"), col("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("purchase_value"))
    }),

    // merge_asof tolerance: the matched ROW is still the nearest prior
    // purchase; its carried value nulls out when that row is farther
    // than 10 minutes (the match travels as one struct, so the
    // tolerance gates the row the value came from — pandas semantics).
    "asof_join_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"), col("event_id"))
      AsOf.asofJoinBackward(clicks, purchases, Seq("user_id"), "ts",
          Seq("purchase_value"), col("event_id"), toleranceMs = Some(10L * 60 * 1000))
        .select(col("event_id"), col("user_id"), col("ts"), col("purchase_value"))
    }),

    // Batch sessionization (the batch twin of streaming/EventStreams
    // .sessionize): gap > 30 min starts a session; lag + running sum of
    // start flags assigns session ids in two window passes over ONE
    // shuffle (same partitioning), then one aggregate.
    "sql_revenue_rollup" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql(
        """SELECT n_name,
          |  CAST(year(o_orderdate) AS STRING) || '-Q' || CAST(quarter(o_orderdate) AS STRING) AS quarter_label,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue,
          |  count(*) AS order_cnt
          |FROM orders_v
          |JOIN customer_v ON o_custkey = c_custkey
          |JOIN nation_v ON c_nationkey = n_nationkey
          |GROUP BY 1, 2""".stripMargin)
    }),

    // Semi-structured JSON column (O-X11): parse events.props with a
    // declared schema (never schema inference at scale), aggregate on the
    // extracted field.
    "json_props_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("p", from_json(col("props"),
          StructType(Seq(StructField("k", LongType)))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("p.k")).as("sum_k"),
          min(col("p.k")).as("min_k"),
          max(col("p.k")).as("max_k"))),

    // ---- text analysis ----------------------------------------------------
    "agg_approx_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"),
          (abs(col("approx_users") - col("exact_users")).cast(DoubleType) /
            col("exact_users").cast(DoubleType) <= 0.05).as("within_tol"),
          // 5%-wide error bucket: 0 whenever within_tol holds (gated on
          // the SAME predicate — a bare floor(ratio/0.05) is 1 at a ratio
          // of exactly 5%, contradicting within_tol's <=), so the gate
          // stays deterministic — but if a Spark upgrade ever moves the
          // HLL++ estimate out of tolerance, the mismatch dump shows HOW
          // far out (1 = 5-10%, 2 = 10-15%, ...) instead of an opaque
          // hash difference.
          when(abs(col("approx_users") - col("exact_users")).cast(DoubleType) /
            col("exact_users").cast(DoubleType) <= 0.05, lit(0L))
            .otherwise(floor(abs(col("approx_users") - col("exact_users")).cast(DoubleType) /
              col("exact_users").cast(DoubleType) / 0.05).cast(LongType))
            .as("err_bucket"),
          col("exact_users"))),

    // One-scan column profiling (ops/Profile): null/distinct/min/max per
    // column. Input pre-cast to decimal so min/max strings render
    // identically in both engines.
    "profile_orders" -> ((s, dir) =>
      graft.ops.Profile.columnProfile(
        t(s, dir, "orders").select(col("o_custkey"),
          col("o_totalprice").cast(Dec152).as("o_price"), col("o_orderstatus")),
        Seq("o_custkey", "o_price", "o_orderstatus"))),

    // Exact heavy hitters at a rational frequency threshold via the
    // Misra-Gries candidate sketch + exact recount of candidates only
    // (ops/Profile.heavyHitters): the output equals the naive
    // groupBy-count-filter, but the exchange never carries the key
    // space — only <= k sketch counters per partition plus the
    // candidates' partial counts.
    "profile_heavy_hitters" -> ((s, dir) =>
      graft.ops.Profile.heavyHitters(
        Tables.events(s, dir), "user_id", num = 1L, den = 120L)),

    // Distribution-drift probe: exact per-group quantiles (both engines
    // use linear interpolation on the sorted values — bit-identical).
    "profile_quantiles" -> ((s, dir) =>
      graft.ops.Profile.quantiles(t(s, dir, "orders"), "o_totalprice",
          Seq("o_orderstatus"), Seq(0.25, 0.5, 0.75))
        .select(col("o_orderstatus"), col("prob"),
          round(col("q_value"), 6).as("q_value"))),

    // The 100 TB profiling variant: approx_percentile (t-digest,
    // map-side combinable — exact per-group sorts don't scale) graded
    // like agg_approx_distinct: the deterministic within-tolerance check
    // next to the exact value, plus a self-explaining error bucket.
    "profile_quantiles_approx" -> ((s, dir) => {
      val df = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("approx_med"),
          percentile(col("o_totalprice"), lit(0.5)).as("exact_med"))
      // Zero-median guard: ANSI mode would throw DIVIDE_BY_ZERO on a
      // group whose exact median is 0 — grade it instead (equal -> in
      // tolerance, else maximally out).
      val rel = when(col("exact_med") =!= 0,
          abs(col("approx_med") - col("exact_med")) / col("exact_med"))
        .otherwise(when(col("approx_med") === col("exact_med"), lit(0.0))
          .otherwise(lit(1e18)))
      df.select(col("o_orderstatus"),
        (rel <= 0.01).as("within_tol"),
        when(rel <= 0.01, lit(0L))
          .otherwise(floor(rel / 0.01).cast(LongType)).as("err_bucket"),
        round(col("exact_med"), 6).as("exact_med"))
    }),

    // The composed training-data cleaning flow (text/CorpusPipeline):
    // language filter -> quality filter -> exact-dedup keeper ->
    // near-dup keeper, one lazy plan.
    "source_http_dsv2" -> ((s, dir) => {
      val root = graft.util.Scratch.dir("graft_fmp_api")
      incomeBronzeFixture(s, dir, badDates = false)
        .withColumn("sym_part", col("symbol"))
        .write.partitionBy("sym_part").mode("overwrite")
        .json(root + "/income-statement")
      s.read.format("graft.sources.FmpSource")
        .option("root", root).option("endpoint", "income-statement")
        .option("symbols", "TK0,TK1,TK2,TK3,TK4")
        .option("dataset", "income").load()
        .where(col("symbol").isin("TK0", "TK1", "TK2", "TK3"))
        .select(col("date"), col("symbol"), col("revenue"), col("eps"))
    }),

    // The same extract through a REAL socket: a loopback JDK HttpServer
    // serves the staged JSONL as JSON arrays, the source issues one GET
    // per un-pruned symbol from the executors, and the server 500s the
    // FIRST request to every path — so each partition's first attempt
    // fails and the reader's retry recovers it. Materialized while the
    // server is up (the gate returns a read-back, not a lazy plan over a
    // stopped socket); same oracle as the file transport.
    "source_http_live" -> ((s, dir) => {
      val root = graft.util.Scratch.dir("graft_fmp_http")
      val out = graft.util.Scratch.dir("graft_fmp_http_out") + "/rows"
      incomeBronzeFixture(s, dir, badDates = false)
        .withColumn("sym_part", col("symbol"))
        .write.partitionBy("sym_part").mode("overwrite")
        .json(root + "/income-statement")
      val server = new graft.sources.LoopbackApiServer(root, failFirst = true)
      try {
        s.read.format("graft.sources.FmpSource")
          .option("url", server.url).option("endpoint", "income-statement")
          .option("symbols", "TK0,TK1,TK2,TK3,TK4")
          .option("dataset", "income").load()
          .where(col("symbol").isin("TK0", "TK1", "TK2", "TK3"))
          .select(col("date"), col("symbol"), col("revenue"), col("eps"))
          .write.mode("overwrite").parquet(out)
      } finally server.stop()
      s.read.parquet(out)
    }),

    // ---- multimodal: REAL codecs ------------------------------------------
    // JDK-native decoders (javax.imageio / javax.sound.sampled) behind the
    // same mapPartitions plumbing as the declared stubs: the fixture
    // encodes deterministic pattern payloads (PNG for even ids, JPEG for
    // odd; PCM16 WAV for audio) and the gates verify what the REAL
    // decoder reads back — dimensions + container format for both image
    // codecs, exact pixel-lane sums for the lossless PNG tier, decoded
    // geometry for resize, and format fields + the exact PCM sample sum
    // for audio — all replicated analytically by the oracle.
    "fn_coalesce_truthy" -> ((s, dir) => {
      val m = pmod(col("o_orderkey"), lit(4))
      val a = when(m === 0, lit(null).cast(StringType))
        .when(m === 1, lit(""))
        .when(m === 2, lit("0"))
        .otherwise(col("o_totalprice").cast(Dec152).cast(StringType))
      t(s, dir, "orders")
        .select(col("o_orderkey"), a.as("primary_key"))
        .select(col("o_orderkey"),
          Normalize.coalesceKeyTruthy(col("primary_key"), lit("fallback")).as("chosen"))
    }),

    // O-F3 quarantine split (transform.py:98-100): bad rows counted and
    // kept inspectable, never dropped silently.
    "quality_quarantine" -> ((s, dir) => {
      val labeled = t(s, dir, "orders").select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit("bad-label"))
          .otherwise(Normalize.quarterLabel(col("o_orderdate"))).as("quarter_label"),
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(""))
          .otherwise(col("o_orderpriority")).as("ticker"))
      val valid = Quality.labelValid(col("quarter_label")) && Quality.tickerValid(col("ticker"))
      val (clean, bad) = Quality.quarantine(labeled, valid)
      clean.select(lit("clean").as("bucket"))
        .unionByName(bad.select(lit("quarantine").as("bucket")))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    }),

    // Per-group winsorization (ops/Quality.winsorize): the outlier clamp
    // a feature pipeline applies before tail-dominated aggregates. Exact
    // interpolated percentiles (both engines sort-and-interpolate
    // identically), bounds broadcast, clamp scan-side.
    "quality_winsorize" -> ((s, dir) => {
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice").cast(Dec152).as("price"))
      graft.ops.Quality.winsorize(orders, "price", Seq("o_orderstatus"),
          lo = 0.01, hi = 0.99)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("price").cast(DoubleType).as("price"),
          round(col("price_w"), 6).as("price_w"))
    }),

    // O-M4 updated_at touch shape: the merged row is "touched" iff the
    // winner came from the incoming batch (the reference stamps
    // updated_at exactly then; the timestamp itself is nondeterministic,
    // so the gate checks the boolean that drives it).
    "merge_touched" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_type"), col("event_id"), col("ts"), col("value"))
      val current = ev.where(pmod(col("event_id"), lit(2)) === 0).withColumn("_batch", lit(0))
      val incoming = ev.where(pmod(col("event_id"), lit(2)) === 1).withColumn("_batch", lit(1))
      Merge.mergeUpsert(current, incoming, Seq("user_id", "event_type"),
          Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_type"), col("event_id"),
          (col("_batch") === 1).as("touched"))
    }),

    // O-X7 ticker-length validation (config.py:82).
    "fn_ticker_valid" -> ((s, dir) => {
      val tk = when(pmod(col("o_orderkey"), lit(3)) === 0, lit(""))
        .when(pmod(col("o_orderkey"), lit(3)) === 1, lit("VERYLONGTICKER"))
        .otherwise(col("o_orderpriority"))
      t(s, dir, "orders").select(tk.as("ticker"))
        .groupBy(Quality.tickerValid(col("ticker")).as("valid"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // O-X10 default-name synthesis (load.py:55-69:
    // company_names.get(ticker, f'{ticker} Inc')).
    "fn_name_default" -> ((s, dir) =>
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
        Normalize.nameFor(col("n_name"),
          Map("NATION_1" -> "First Nation Motors")).as("company_name"))),

    // O-A5 pipeline metrics: the QueryExecutionListener observes a real
    // action; the gate checks the deterministic parts (an action was
    // captured with a non-negative duration) next to the action's result.
    "metrics_listener" -> ((s, dir) => {
      val rec = graft.ops.Metrics.attach(s)
      try {
        val nGroups = t(s, dir, "orders")
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt")).count()
        rec.awaitQuiesce(s)
        val ms = rec.metrics
        val captured = ms.nonEmpty && ms.forall(_.durationMs >= 0)
        import s.implicits._
        Seq((captured, nGroups)).toDF("captured", "n_groups")
      } finally rec.detach(s)
    }),

    // ---- S2/S6 + O-P1..P4 + O-X1..X4 composite: bronze JSON fixture ->
    // bronze sink -> schema-declared re-ingest -> full income
    // normalization. Decimals surface as DOUBLE per the gate contract.
    "pipeline_income_normalize" -> ((s, dir) => {
      val tmp = graft.util.Scratch.dir("graft_bronze_inc")
      incomeBronzeFixture(s, dir, badDates = false)
        .write.mode("overwrite").json(tmp) // S6 bronze sink
      val back = s.read.schema(graft.model.Schemas.fmpIncome).json(tmp) // S2 scan
      Pipeline.normalizeIncome(back).select(
        col("ticker"), col("quarter_date"), col("quarter_label"),
        col("revenue").cast(DoubleType).as("revenue"),
        col("eps").cast(DoubleType).as("eps"),
        col("gross_profit").cast(DoubleType).as("gross_profit"))
    }),

    // ---- S3/S11: the analyst-estimates flow over its own schema.
    "pipeline_estimates_normalize" -> ((s, dir) => {
      val m = pmod(col("o_orderkey"), lit(4))
      val numS = col("o_totalprice").cast(Dec152).cast(StringType)
      val bronze = t(s, dir, "orders").where(col("o_orderkey") < 2000).select(
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"),
        concat(lit("TK"), pmod(col("o_orderkey"), lit(5)).cast(StringType)).as("symbol"),
        numS.as("estimatedRevenueAvg"),
        when(m === 0, lit("bogus")).otherwise(numS).as("estimatedEpsAvg"),
        when(m === 1, lit("-3")).otherwise(lit("7")).as("numberAnalystsEstimatedRevenue"))
      val tmp = graft.util.Scratch.dir("graft_bronze_est")
      bronze.write.mode("overwrite").json(tmp)
      val back = s.read.schema(graft.model.Schemas.fmpEstimates).json(tmp)
      Pipeline.normalizeEstimates(back).select(
        col("ticker"), col("quarter_date"), col("quarter_label"),
        col("estimated_revenue").cast(DoubleType).as("estimated_revenue"),
        col("estimated_eps").cast(DoubleType).as("estimated_eps"),
        col("analyst_count").cast(LongType).as("analyst_count"))
    }),

    // ---- S9/S13/S14 end-to-end: Pipeline.run — quarantine split, merge
    // into Parquet state (atomic swap), read-back. Unparseable-date rows
    // (m==1) are quarantined; the state table is the deduped remainder.
    "pipeline_run_state" -> ((s, dir) => {
      val tmpJ = graft.util.Scratch.dir("graft_bronze_run")
      incomeBronzeFixture(s, dir, badDates = true)
        .write.mode("overwrite").json(tmpJ)
      val tmpS = graft.util.Scratch.dir("graft_state_run") + "/state"
      val (state, _) = Pipeline.run(s, tmpJ, tmpS)
      state.select(
        col("ticker"), col("quarter_date"), col("quarter_label"),
        col("revenue").cast(DoubleType).as("revenue"),
        col("eps").cast(DoubleType).as("eps"),
        col("gross_profit").cast(DoubleType).as("gross_profit"))
    }),

    // ---- deterministic sampling / splits ----------------------------------
    // Hash-based train/val/test assignment (ops/Sampling): stable under
    // retries, repartitioning and engine version — rand()-based splits are
    // none of those. Gate uses the md5 hash so DuckDB replicates the
    // buckets exactly.
    "unpivot_wide_long" -> ((s, dir) =>
      Reshape.unpivotToLong(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice").cast(DoubleType).as("m_totalprice"),
          col("o_custkey").cast(DoubleType).as("m_custkey")),
        Seq("o_orderkey"), Seq("m_totalprice", "m_custkey"))),

    // ...and pivoted back to wide (extract.py:183-187): round-trip
    // identity, explicit metric list (no value-discovery scan).
    "pivot_long_wide" -> ((s, dir) => {
      val long = Reshape.unpivotToLong(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice").cast(DoubleType).as("m_totalprice"),
          col("o_custkey").cast(DoubleType).as("m_custkey")),
        Seq("o_orderkey"), Seq("m_totalprice", "m_custkey"))
      Reshape.pivotToWide(long, Seq("o_orderkey"), "metric", "value",
        Seq("m_totalprice", "m_custkey"))
    }),

    // ---- repetition / quality (Gopher-style) ------------------------------
    // Duplicate-token fraction + top-bigram fraction from the single-pass
    // NgramStats kernel — scan-side repetition scoring, no per-signal
    // corpus shuffle.
    "cap_per_key" -> ((s, dir) =>
      Windows.topKPerGroup(
        Tables.events(s, dir).select(col("user_id"), col("event_id"), col("ts")),
        Seq("user_id"), Seq(col("ts").asc, col("event_id").asc), 5)),

    // ---- bucketed co-located join -----------------------------------------
    // Both sides written bucketed by the join key (io/Sinks
    // .writeBucketedState), then joined through the catalog: the join
    // reads co-located buckets and skips both shuffles (asserted
    // exchange-free in LayoutSpec; this gate grades the results).
    "join_bucketed" -> ((s, dir) => {
      graft.io.Sinks.writeBucketedState(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(Dec152).as("o_price")),
        "g_orders_bkt", buckets = 8, keys = Seq("o_custkey"))
      graft.io.Sinks.writeBucketedState(
        t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        "g_customer_bkt", buckets = 8, keys = Seq("c_custkey"))
      s.table("g_orders_bkt")
        .join(s.table("g_customer_bkt"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("order_cnt"),
          sum(col("o_price")).cast(DoubleType).as("revenue"))
    }),

    // Bloom-pruned shuffle join: the fact side is pre-filtered by a Bloom
    // digest of the dimension keys before the exact join, so the fact
    // exchange carries |matching ∪ fpp| rows instead of |fact|. Result is
    // IDENTICAL to the plain join (false positives die in the join), so
    // the oracle is simply the plain join.
    "join_bloom_pruned" -> ((s, dir) =>
      BloomPrune.bloomPrunedJoin(
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
          "l_orderkey",
          t(s, dir, "orders").where(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_totalprice")),
          "o_orderkey", expectedItems = 200000L)
        .select(col("l_orderkey"),
          col("l_linenumber").cast(LongType).as("l_linenumber"),
          col("l_quantity").cast(DoubleType).as("quantity"),
          col("o_totalprice").cast(DoubleType).as("o_totalprice"))),

    // ---- incrementally-maintained rollup ----------------------------------
    // Three batch summaries folded into one state (ops/IncrementalAgg)
    // must equal the single-shot aggregate — the algebraic-merge
    // property that replaces O(history) re-aggregation with O(batch)
    // maintenance. The oracle IS the single-shot form.
    "incremental_rollup" -> ((s, dir) => {
      val orders = t(s, dir, "orders").select(col("o_orderstatus"),
        col("o_totalprice").cast(Dec152).as("price"), col("o_orderkey"))
      val batches = (0 until 3).map(i =>
        orders.where(pmod(col("o_orderkey"), lit(3)) === i))
      val init = graft.ops.IncrementalAgg.summarize(
        batches.head, Seq("o_orderstatus"), col("price"))
      val state = batches.tail.foldLeft(init)((st, b) =>
        graft.ops.IncrementalAgg.merge(st,
          graft.ops.IncrementalAgg.summarize(b, Seq("o_orderstatus"), col("price")),
          Seq("o_orderstatus")))
      state.select(col("o_orderstatus"), col("cnt"),
        col("sum_v").cast(DoubleType).as("sum_v"),
        col("min_v").cast(DoubleType).as("min_v"),
        col("max_v").cast(DoubleType).as("max_v"))
    }),

    // ---- incrementally-maintained quantile sketch -------------------------
    // Three batch sketches folded into one state (ops/QuantileSketch, the
    // HDR-histogram state) must equal the single-shot histogram — same
    // algebraic-merge contract as incremental_rollup, for quantiles.
    // p50/p90 read off the merged sketch are replicated exactly by the
    // oracle's single-shot histogram; the *_within_tol columns compare
    // them to Spark's exact percentile (bucket width 1/16 -> tolerance
    // 0.1) with a literal-TRUE oracle twin — the tripwire that fires if
    // a precision change silently degrades the sketch.
    "incremental_quantiles" -> ((s, dir) => {
      import graft.ops.QuantileSketch
      val orders = t(s, dir, "orders").select(col("o_orderstatus"),
        (col("o_totalprice").cast(Dec152) * 100).cast(LongType).as("cents"),
        col("o_orderkey"))
      val batches = (0 until 3).map(i =>
        orders.where(pmod(col("o_orderkey"), lit(3)) === i))
      val init = QuantileSketch.summarize(batches.head, Seq("o_orderstatus"), col("cents"))
      val state = batches.tail.foldLeft(init)((st, b) =>
        QuantileSketch.merge(st,
          QuantileSketch.summarize(b, Seq("o_orderstatus"), col("cents")),
          Seq("o_orderstatus")))
      val sketched = QuantileSketch.quantiles(state, Seq("o_orderstatus"),
        Seq(("p50_cents", 1, 2), ("p90_cents", 9, 10)))
      val exact = orders.groupBy(col("o_orderstatus")).agg(
        expr("percentile(cents, 0.5d)").as("e50"),
        expr("percentile(cents, 0.9d)").as("e90"))
      sketched.join(exact, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n"), col("p50_cents"), col("p90_cents"),
          (abs(col("p50_cents").cast(DoubleType) / col("e50") - 1) <= 0.1)
            .as("p50_within_tol"),
          (abs(col("p90_cents").cast(DoubleType) / col("e90") - 1) <= 0.1)
            .as("p90_within_tol"))
    }),

    // ---- incrementally-maintained heavy-hitter sketch ---------------------
    // The Misra-Gries state folded over three event waves (O(batch) per
    // fold — each fold sketches ONLY its wave, then merges two 1-row
    // states at O(k)); the read-time resolve recounts the <= k surviving
    // candidates exactly. Must equal the single-shot exact
    // groupBy-count-filter over the full corpus — the same oracle as
    // profile_heavy_hitters, so the fold provably loses no heavy hitter.
    // k = 16x den/num covers the 3-fold error budget (m·n/(k+1) per the
    // Profile scaladoc) with room.
    "incremental_heavy_hitters" -> ((s, dir) => {
      val events = Tables.events(s, dir).select(col("event_id"), col("user_id"))
      val batches = (0 until 3).map(i =>
        events.where(pmod(col("event_id"), lit(3)) === i))
      val k = 120 * 16
      val state = batches.tail.foldLeft(
          graft.ops.Profile.hhSummarize(batches.head, "user_id", k))((st, b) =>
        graft.ops.Profile.hhMerge(st, graft.ops.Profile.hhSummarize(b, "user_id", k), k))
      graft.ops.Profile.hhResolve(events, state, "user_id", num = 1L, den = 120L)
    }),

  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "agg_distinct_tickers" -> "SELECT DISTINCT o_orderpriority FROM orders",

    "agg_group_count" ->
      "SELECT o_orderpriority, count(*) AS cnt FROM orders GROUP BY 1",

    "agg_rollup_total" ->
      "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY ROLLUP(o_orderstatus)",

    "agg_cube" ->
      "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)",

    "agg_distinct_users" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS cnt FROM events GROUP BY 1",

    "fn_quarter_label" ->
      """SELECT CAST(year(o_orderdate) AS VARCHAR) || '-Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter_label,
        |  count(*) AS cnt
        |FROM orders GROUP BY 1""".stripMargin,

    "fn_parse_date_multi" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    CASE o_orderkey % 4
        |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |      WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
        |      WHEN 2 THEN strftime(o_orderdate, '%m/%d/%Y')
        |      ELSE strftime(o_orderdate, '%Y') END AS raw
        |  FROM orders)
        |SELECT o_orderkey, raw,
        |  COALESCE(
        |    CAST(try_strptime(raw, '%Y-%m-%d') AS DATE),
        |    CAST(try_strptime(raw, '%Y-%m-%d %H:%M:%S') AS DATE),
        |    CAST(try_strptime(raw, '%m/%d/%Y') AS DATE),
        |    CASE WHEN regexp_full_match(raw, '\d{4}(\.0+)?')
        |         THEN make_date(CAST(CAST(raw AS DOUBLE) AS INT), 12, 31) END) AS parsed
        |FROM b""".stripMargin,

    "fn_parse_date_dayfirst" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    CASE o_orderkey % 3
        |      WHEN 0 THEN strftime(o_orderdate, '%m/%d/%Y')
        |      WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
        |      ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw
        |  FROM orders),
        |p AS (
        |  SELECT o_orderkey, raw,
        |    COALESCE(
        |      CAST(try_strptime(raw, '%Y-%m-%d') AS DATE),
        |      CAST(try_strptime(raw, '%Y-%m-%d %H:%M:%S') AS DATE),
        |      CAST(try_strptime(raw, '%m/%d/%Y') AS DATE),
        |      CAST(try_strptime(raw, '%d/%m/%Y') AS DATE)) AS parsed
        |  FROM b)
        |SELECT o_orderkey, raw, parsed,
        |  CAST(year(parsed) AS VARCHAR) || '-Q' || CAST(quarter(parsed) AS VARCHAR) AS quarter_label
        |FROM p""".stripMargin,

    "fn_safe_decimal" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    CASE o_orderkey % 4
        |      WHEN 0 THEN '$' || CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR)
        |      WHEN 1 THEN CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) || ' '
        |      WHEN 2 THEN 'N/A'
        |      ELSE CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) END AS raw
        |  FROM orders),
        |c AS (SELECT o_orderkey, regexp_replace(raw, '[,$%\s]', '', 'g') AS cl FROM b),
        |n AS (SELECT o_orderkey, CASE WHEN cl IN ('', 'N/A', 'n/a', '-') THEN NULL ELSE cl END AS cl2 FROM c),
        |v AS (SELECT o_orderkey, TRY_CAST(cl2 AS DECIMAL(21,8)) AS v FROM n)
        |SELECT o_orderkey,
        |  CAST(TRY_CAST((CASE WHEN v > 0 AND v < 1000000 THEN v * 1000000 ELSE v END) AS DECIMAL(15,2)) AS DOUBLE) AS val
        |FROM v""".stripMargin,

    "fn_estimate_eps" ->
      """WITH ni AS (
        |  SELECT n_name,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS net_income,
        |    CAST(CASE n_name WHEN 'NATION_1' THEN 3160 WHEN 'NATION_2' THEN 920
        |         WHEN 'NATION_3' THEN 1600 ELSE 1000 END AS BIGINT) AS shares
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1)
        |SELECT n_name, net_income, shares,
        |  round((CASE WHEN net_income >= 1000000 THEN net_income / 1000000 ELSE net_income END) / shares, 4) AS eps
        |FROM ni""".stripMargin,

    "fn_tolerance_check" ->
      """SELECT o_orderkey, abs(o_totalprice - 150000.0) <= 50000.0 AS within_tol
        |FROM orders WHERE o_orderkey < 50""".stripMargin,

    "fn_label_rlike" ->
      """WITH b AS (
        |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'bad-label'
        |    ELSE CAST(year(o_orderdate) AS VARCHAR) || '-Q' || CAST(quarter(o_orderdate) AS VARCHAR) END AS quarter_label
        |  FROM orders)
        |SELECT regexp_full_match(quarter_label, '\d{4}-Q[1-4]') AS valid, count(*) AS cnt
        |FROM b GROUP BY 1""".stripMargin,

    "project_normalize" ->
      """SELECT o_orderkey, o_orderpriority AS ticker,
        |  CAST(o_orderdate AS DATE) AS quarter_date,
        |  CAST(year(o_orderdate) AS VARCHAR) || '-Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter_label,
        |  CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE) AS revenue
        |FROM orders""".stripMargin,

    "filter_valid_date" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    CASE o_orderkey % 4
        |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |      WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
        |      WHEN 2 THEN 'invalid-date'
        |      ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw
        |  FROM orders),
        |p AS (
        |  SELECT o_orderkey,
        |    COALESCE(
        |      CAST(try_strptime(raw, '%Y-%m-%d') AS DATE),
        |      CAST(try_strptime(raw, '%Y-%m-%d %H:%M:%S') AS DATE),
        |      CAST(try_strptime(raw, '%m/%d/%Y') AS DATE),
        |      CASE WHEN regexp_full_match(raw, '\d{4}(\.0+)?')
        |           THEN make_date(CAST(CAST(raw AS DOUBLE) AS INT), 12, 31) END) AS parsed
        |  FROM b)
        |SELECT o_orderkey, parsed FROM p WHERE parsed IS NOT NULL""".stripMargin,

    "filter_golden_row" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = 100",

    "join_fk_resolve" ->
      "SELECT o_orderkey, o_custkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey",

    "join_anti_new" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderdate >= '2000-01-01')""".stripMargin,

    "except_new_tickers" ->
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey AS c_custkey FROM orders WHERE o_orderdate >= '2000-01-01'""".stripMargin,

    "join_summary" ->
      """SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
        |  COALESCE(o.cnt, 0) AS order_cnt
        |FROM customer c
        |LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    "join_shares_lookup" ->
      """SELECT n_nationkey, n_name,
        |  CAST(CASE n_name WHEN 'NATION_1' THEN 3160 WHEN 'NATION_2' THEN 920
        |       WHEN 'NATION_3' THEN 1600 ELSE 1000 END AS BIGINT) AS shares
        |FROM nation""".stripMargin,

    "anti_unresolved" ->
      """SELECT user_id, count(*) AS cnt FROM events
        |WHERE user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 100)
        |GROUP BY 1""".stripMargin,

    "join_salted_skew" ->
      """SELECT e.user_id, e.event_id, e.value, c.c_name
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE c.c_custkey < 200""".stripMargin,

    "window_topk_quarters" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM (
        |  SELECT l_orderkey, l_linenumber, l_shipdate,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate DESC, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn <= 2""".stripMargin,

    "window_running_total" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events""".stripMargin,

    "sort_export" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
        |ORDER BY o_custkey, o_orderdate DESC, o_orderkey""".stripMargin,

    "intersect_active" ->
      """SELECT c_custkey FROM customer
        |INTERSECT SELECT o_custkey AS c_custkey FROM orders WHERE o_orderdate >= '2000-01-01'""".stripMargin,

    "union_sources" ->
      """SELECT src, count(*) AS cnt FROM (
        |  SELECT o_orderkey, 'src_o' AS src FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey, 'src_other' AS src FROM orders WHERE o_orderstatus <> 'O')
        |GROUP BY 1""".stripMargin,

    "merge_upsert" ->
      """WITH tagged AS (
        |  SELECT user_id, event_type, event_id, ts, value,
        |    CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS src
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY src DESC, ts DESC, event_id DESC) AS rn
        |  FROM tagged)
        |SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM ranked WHERE rn = 1""".stripMargin,

    "dedupe_batch" ->
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "dedupe_dim" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 = 0
        |UNION ALL
        |SELECT c_custkey, c_name || '_new' AS c_name, c_acctbal FROM customer WHERE c_custkey % 3 <> 0""".stripMargin,

    "merge_partitioned" ->
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type IN ('click', 'view', 'purchase')) WHERE rn = 1""".stripMargin,

    "assert_unique_key" ->
      """SELECT user_id, event_type, count(*) AS cnt FROM events
        |GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin,

    "csv_roundtrip" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE) AS o_price, o_orderstatus
        |FROM orders""".stripMargin,

    "partitioned_state_prune" ->
      """SELECT o_orderkey, o_custkey, CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE) AS o_price, o_orderstatus
        |FROM orders WHERE o_orderstatus = 'O'""".stripMargin,

    "jdbc_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY 1""".stripMargin,

    "jdbc_merge_upsert" ->
      """SELECT c_custkey, c_name || '_u' AS c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 3 = 0 AND c_custkey % 2 <> 0""".stripMargin,

    "asof_join" ->
      """SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
        |  (SELECT r.value FROM events r
        |   WHERE r.event_type = 'purchase' AND r.user_id = l.user_id AND r.ts <= l.ts
        |   ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS purchase_value
        |FROM events l WHERE l.event_type = 'click'""".stripMargin,

    "asof_join_forward" ->
      """SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
        |  (SELECT r.value FROM events r
        |   WHERE r.event_type = 'purchase' AND r.user_id = l.user_id AND r.ts >= l.ts
        |   ORDER BY r.ts ASC, r.event_id ASC LIMIT 1) AS purchase_value
        |FROM events l WHERE l.event_type = 'click'""".stripMargin,

    // The correlated twin selects the SAME nearest row, then nulls its
    // value past the tolerance — matching the matched-row-struct gating.
    "asof_join_tolerance" ->
      """SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
        |  (SELECT CASE WHEN abs(epoch_ms(l.ts) - epoch_ms(r.ts)) <= 600000
        |            THEN r.value END
        |   FROM events r
        |   WHERE r.event_type = 'purchase' AND r.user_id = l.user_id AND r.ts <= l.ts
        |   ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS purchase_value
        |FROM events l WHERE l.event_type = 'click'""".stripMargin,

    "json_props_extract" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin,

    "sql_revenue_rollup" ->
      """SELECT n_name,
        |  CAST(year(o_orderdate) AS VARCHAR) || '-Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter_label,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue,
        |  count(*) AS order_cnt
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2""".stripMargin,

    "profile_heavy_hitters" ->
      """WITH c AS (SELECT user_id AS item, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT item, cnt FROM c
        |WHERE cnt * 120 >= (SELECT sum(cnt) FROM c) * 1""".stripMargin,

    // The incremental fold must converge to the single-shot exact answer.
    "incremental_heavy_hitters" ->
      """WITH c AS (SELECT user_id AS item, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT item, cnt FROM c
        |WHERE cnt * 120 >= (SELECT sum(cnt) FROM c) * 1""".stripMargin,

    "profile_orders" ->
      """WITH b AS (SELECT o_custkey, CAST(o_totalprice AS DECIMAL(15,2)) AS o_price, o_orderstatus FROM orders)
        |SELECT 'o_custkey' AS "column", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_str, CAST(max(o_custkey) AS VARCHAR) AS max_str FROM b
        |UNION ALL
        |SELECT 'o_price', count(*),
        |  CAST(sum(CASE WHEN o_price IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_price),
        |  CAST(min(o_price) AS VARCHAR), CAST(max(o_price) AS VARCHAR) FROM b
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderstatus),
        |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM b""".stripMargin,

    "profile_quantiles" ->
      """WITH q AS (SELECT o_orderstatus,
        |    quantile_cont(o_totalprice, 0.25) AS q25,
        |    quantile_cont(o_totalprice, 0.5) AS q50,
        |    quantile_cont(o_totalprice, 0.75) AS q75
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, CAST(0.25 AS DOUBLE) AS prob, round(q25, 6) AS q_value FROM q
        |UNION ALL SELECT o_orderstatus, CAST(0.5 AS DOUBLE), round(q50, 6) FROM q
        |UNION ALL SELECT o_orderstatus, CAST(0.75 AS DOUBLE), round(q75, 6) FROM q""".stripMargin,

    "agg_approx_distinct" ->
      """SELECT event_type, TRUE AS within_tol, CAST(0 AS BIGINT) AS err_bucket,
        |  count(DISTINCT user_id) AS exact_users
        |FROM events GROUP BY 1""".stripMargin,

    // The DSv2 source must surface exactly the staged bronze rows for the
    // un-pruned symbols — replicated from the orders-derived fixture.
    "source_http_dsv2" ->
      """WITH src AS (SELECT o_orderkey, o_orderdate, o_orderkey % 4 AS m,
        |    'TK' || CAST(o_orderkey % 5 AS VARCHAR) AS symbol,
        |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) AS num_s
        |  FROM orders WHERE o_orderkey < 2000)
        |SELECT
        |  CASE WHEN m = 1 THEN ''
        |       WHEN m = 3 THEN strftime(o_orderdate, '%m/%d/%Y')
        |       ELSE strftime(o_orderdate, '%Y-%m-%d') END AS "date",
        |  symbol,
        |  CASE WHEN m = 2 THEN 'N/A' ELSE num_s END AS revenue,
        |  CASE WHEN m = 3 THEN '' ELSE num_s END AS eps
        |FROM src WHERE symbol <> 'TK4'""".stripMargin,

    // HTTP transport must surface the SAME rows as the file transport —
    // the loopback server serves the identical staging, and the injected
    // first-attempt 500 per symbol must be absorbed by the retry.
    "source_http_live" ->
      """WITH src AS (SELECT o_orderkey, o_orderdate, o_orderkey % 4 AS m,
        |    'TK' || CAST(o_orderkey % 5 AS VARCHAR) AS symbol,
        |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) AS num_s
        |  FROM orders WHERE o_orderkey < 2000)
        |SELECT
        |  CASE WHEN m = 1 THEN ''
        |       WHEN m = 3 THEN strftime(o_orderdate, '%m/%d/%Y')
        |       ELSE strftime(o_orderdate, '%Y-%m-%d') END AS "date",
        |  symbol,
        |  CASE WHEN m = 2 THEN 'N/A' ELSE num_s END AS revenue,
        |  CASE WHEN m = 3 THEN '' ELSE num_s END AS eps
        |FROM src WHERE symbol <> 'TK4'""".stripMargin,

    // REAL-codec gates: the fixture parameters (dims, formats, pattern
    // pixels/samples) are pure functions of doc_id, so the oracle derives
    // what the JDK decoder must read back — if ImageIO/AudioSystem ever
    // decoded differently, these rows would mismatch.
    "fn_coalesce_truthy" ->
      """WITH b AS (SELECT o_orderkey,
        |  CASE o_orderkey % 4 WHEN 0 THEN NULL WHEN 1 THEN '' WHEN 2 THEN '0'
        |    ELSE CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) END AS a
        |  FROM orders)
        |SELECT o_orderkey,
        |  CASE WHEN a IS NULL OR a = '' OR COALESCE(TRY_CAST(a AS DOUBLE) = 0, FALSE)
        |       THEN 'fallback' ELSE a END AS chosen
        |FROM b""".stripMargin,

    "quality_quarantine" ->
      """WITH b AS (SELECT
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'bad-label'
        |      ELSE CAST(year(o_orderdate) AS VARCHAR) || '-Q' || CAST(quarter(o_orderdate) AS VARCHAR) END AS quarter_label,
        |    CASE WHEN o_orderkey % 7 = 0 THEN '' ELSE o_orderpriority END AS ticker
        |  FROM orders)
        |SELECT CASE WHEN regexp_full_match(quarter_label, '\d{4}-Q[1-4]')
        |         AND length(ticker) BETWEEN 1 AND 10 THEN 'clean' ELSE 'quarantine' END AS bucket,
        |  count(*) AS cnt
        |FROM b GROUP BY 1""".stripMargin,

    // Same sort-and-interpolate percentile definition in both engines
    // (Spark `percentile` == DuckDB `quantile_cont` on doubles).
    "quality_winsorize" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE) AS price
        |  FROM orders),
        |q AS (SELECT o_orderstatus,
        |    quantile_cont(price, 0.01) AS plo, quantile_cont(price, 0.99) AS phi
        |  FROM b GROUP BY 1)
        |SELECT b.o_orderkey, b.o_orderstatus, b.price,
        |  round(least(greatest(b.price, q.plo), q.phi), 6) AS price_w
        |FROM b JOIN q USING (o_orderstatus)""".stripMargin,

    "merge_touched" ->
      """WITH tagged AS (SELECT user_id, event_type, event_id, ts, value,
        |    CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS src FROM events),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY src DESC, ts DESC, event_id DESC) AS rn FROM tagged)
        |SELECT user_id, event_type, event_id, src = 1 AS touched
        |FROM ranked WHERE rn = 1""".stripMargin,

    "fn_ticker_valid" ->
      """WITH b AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN ''
        |    WHEN o_orderkey % 3 = 1 THEN 'VERYLONGTICKER' ELSE o_orderpriority END AS ticker
        |  FROM orders)
        |SELECT length(ticker) BETWEEN 1 AND 10 AS valid, count(*) AS cnt
        |FROM b GROUP BY 1""".stripMargin,

    "fn_name_default" ->
      """SELECT n_nationkey, n_name,
        |  CASE WHEN n_name = 'NATION_1' THEN 'First Nation Motors'
        |       ELSE n_name || ' Inc' END AS company_name
        |FROM nation""".stripMargin,

    "metrics_listener" ->
      """SELECT TRUE AS captured,
        |  CAST((SELECT count(DISTINCT o_orderstatus) FROM orders) AS BIGINT) AS n_groups""".stripMargin,

    "pipeline_income_normalize" ->
      s"""${incomeNormalizeCte(badDates = false)}
         |SELECT symbol AS ticker, quarter_date, quarter_label,
         |  CAST(revenue_dec AS DOUBLE) AS revenue,
         |  CAST(COALESCE(eps_direct, eps_est) AS DOUBLE) AS eps,
         |  CAST(gp_dec AS DOUBLE) AS gross_profit
         |FROM c3""".stripMargin,

    "pipeline_estimates_normalize" -> {
      s"""WITH src AS (
         |  SELECT o_orderkey, o_orderdate, o_orderkey % 4 AS m,
         |    'TK' || CAST(o_orderkey % 5 AS VARCHAR) AS symbol,
         |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) AS num_s
         |  FROM orders WHERE o_orderkey < 2000),
         |b AS (SELECT *,
         |    CAST(try_strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS DATE) AS quarter_date,
         |    CASE WHEN m = 0 THEN 'bogus' ELSE num_s END AS est_eps_s,
         |    CASE WHEN m = 1 THEN '-3' ELSE '7' END AS cnt_s
         |  FROM src),
         |c1 AS (SELECT *, ${safeDecimalSql("num_s")} AS er_sd FROM b),
         |c2 AS (SELECT *,
         |    CAST(year(quarter_date) AS VARCHAR) || '-Q' || CAST(quarter(quarter_date) AS VARCHAR) AS quarter_label,
         |    ${millionsSql("er_sd")} AS er_dec,
         |    TRY_CAST(est_eps_s AS DECIMAL(10,4)) AS ee_dec,
         |    TRY_CAST(cnt_s AS INT) AS cnt_i
         |  FROM c1)
         |SELECT symbol AS ticker, quarter_date, quarter_label,
         |  CAST(er_dec AS DOUBLE) AS estimated_revenue,
         |  CAST(ee_dec AS DOUBLE) AS estimated_eps,
         |  CAST(CASE WHEN cnt_i >= 0 THEN cnt_i END AS BIGINT) AS analyst_count
         |FROM c2""".stripMargin
    },

    "pipeline_run_state" ->
      s"""${incomeNormalizeCte(badDates = true)},
         |valid AS (SELECT * FROM c3 WHERE quarter_date IS NOT NULL
         |    AND regexp_full_match(quarter_label, '\\d{4}-Q[1-4]')
         |    AND length(symbol) BETWEEN 1 AND 10),
         |f0 AS (SELECT symbol AS ticker, quarter_date, quarter_label,
         |    revenue_dec, COALESCE(eps_direct, eps_est) AS eps_dec, gp_dec FROM valid),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY ticker, quarter_date
         |    ORDER BY revenue_dec DESC NULLS LAST, eps_dec DESC NULLS LAST,
         |             gp_dec DESC NULLS LAST, quarter_label ASC) AS rn
         |  FROM f0)
         |SELECT ticker, quarter_date, quarter_label,
         |  CAST(revenue_dec AS DOUBLE) AS revenue,
         |  CAST(eps_dec AS DOUBLE) AS eps,
         |  CAST(gp_dec AS DOUBLE) AS gross_profit
         |FROM ranked WHERE rn = 1""".stripMargin,

    "join_bloom_pruned" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(l_quantity AS DOUBLE) AS quantity,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'""".stripMargin,

    "unpivot_wide_long" ->
      """UNPIVOT (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS m_totalprice,
        |  CAST(o_custkey AS DOUBLE) AS m_custkey FROM orders)
        |ON m_totalprice, m_custkey INTO NAME metric VALUE value""".stripMargin,

    // pivot(unpivot(wide)) is the identity on the wide table.
    "pivot_long_wide" ->
      """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS m_totalprice,
        |  CAST(o_custkey AS DOUBLE) AS m_custkey FROM orders""".stripMargin,

    // Token/bigram repetition signals replicated with list lambdas over
    // the same tokenization.
    "cap_per_key" ->
      """WITH r AS (SELECT user_id, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |FROM r WHERE rn <= 5""".stripMargin,

    // Bucketing changes the physical layout only; results match the plain
    // join over the source tables.
    "join_bucketed" ->
      """SELECT c_nationkey, count(*) AS order_cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // merge(summarize(b1..b3)) == summarize(all): the oracle is the
    // single-shot aggregate the incremental state must reproduce.
    "incremental_rollup" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_v,
        |  CAST(MIN(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS min_v,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS max_v
        |FROM orders GROUP BY 1""".stripMargin,

    // Single-shot replica of the merged HDR sketch: identical integer
    // bucketing (msb via length(bin()), shift, integer-compare rank
    // selection), so p50/p90 match bit-for-bit; the tolerance columns are
    // the literal-TRUE tripwire.
    "incremental_quantiles" ->
      """WITH src AS (SELECT o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT o_orderstatus, cents,
        |        greatest(length(bin(cents)) - 1 - 4, 0) AS shift FROM src),
        |h AS (SELECT o_orderstatus, shift * 16 + (cents >> shift) AS bucket,
        |        count(*) AS cnt
        |      FROM b GROUP BY 1, 2),
        |n AS (SELECT o_orderstatus, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
        |c AS (SELECT o_orderstatus, bucket, cnt,
        |        SUM(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bucket) AS cum
        |      FROM h),
        |sel AS (SELECT c.o_orderstatus, n.n,
        |          MIN(CASE WHEN cum * 2 >= n * 1 THEN bucket END) AS b50,
        |          MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket END) AS b90
        |        FROM c JOIN n ON c.o_orderstatus = n.o_orderstatus GROUP BY 1, 2)
        |SELECT o_orderstatus, n,
        |  CASE WHEN b50 < 32 THEN b50
        |       ELSE ((b50 - (b50 // 16 - 1) * 16 + 1) << (b50 // 16 - 1)) - 1 END AS p50_cents,
        |  CASE WHEN b90 < 32 THEN b90
        |       ELSE ((b90 - (b90 // 16 - 1) * 16 + 1) << (b90 // 16 - 1)) - 1 END AS p90_cents,
        |  TRUE AS p50_within_tol, TRUE AS p90_within_tol
        |FROM sel""".stripMargin,

    // Spark's t-digest estimate is deterministic; the oracle emits the
    // expected TRUE/0 next to the exact median it can compute itself.
    "profile_quantiles_approx" ->
      """SELECT o_orderstatus, TRUE AS within_tol, CAST(0 AS BIGINT) AS err_bucket,
        |  round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 6) AS exact_med
        |FROM orders GROUP BY 1""".stripMargin,

  )
}
