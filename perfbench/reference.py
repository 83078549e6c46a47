"""Independent DuckDB reference for the perfbench workloads.

Each `check_*` takes the run's input and work directories and the raw
result the harness wrote, recomputes every checked output in DuckDB (or
from the generator's intended rows), and returns the number of failed ops:
an op whose output differs from the reference counts as failed, as does
one that raised.
"""

import datetime
import decimal
import os
import re

import duckdb


def canon(v):
    """A comparable form of one value from Spark's JSON or from DuckDB."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return round(v.timestamp() * 1e6)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return decimal.Decimal(repr(round(v, 6))).normalize()
    if isinstance(v, (int, decimal.Decimal)):
        return decimal.Decimal(v).normalize()
    if isinstance(v, str):
        if re.fullmatch(r"\d{4}-\d\d-\d\dT\d\d:\d\d(:\d\d(\.\d+)?)?Z", v):
            t = datetime.datetime.fromisoformat(v.replace("Z", "+00:00"))
            return round(t.timestamp() * 1e6)
        if re.fullmatch(r"-?\d+(\.\d+)?(E-?\d+)?", v):
            return canon(float(v)) if "E" in v else decimal.Decimal(v).normalize()
        return v
    return v


def rows_equal(got, want):
    a = sorted((tuple(canon(x) for x in r) for r in got), key=repr)
    b = sorted((tuple(canon(x) for x in r) for r in want), key=repr)
    return a == b


def _materialized(sql):
    """The same query with every CTE materialized once (DuckDB otherwise
    inlines a CTE at each reference, which multiplies the oracle's cost)."""
    return re.sub(r"(^|,\s*|WITH\s+)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql, flags=re.M)


def _jsonl(paths, columns):
    """read_json over a glob or a list of files, with declared columns."""
    src = ("[%s]" % ", ".join("'%s'" % p for p in paths) if isinstance(paths, list)
           else "'%s'" % paths)
    cols = ", ".join("'%s': '%s'" % kv for kv in columns.items())
    return "read_json(%s, columns={%s}, format='newline_delimited')" % (src, cols)


def _failed_reads(con, reads, ref_sql):
    """Reads whose rows differ from `ref_sql(read)` (or that raised)."""
    bad = 0
    for r in reads:
        if r.get("error"):
            bad += 1
            continue
        sql = ref_sql(r)
        if sql is None:
            continue
        if not rows_equal(r["rows"], con.execute(sql).fetchall()):
            bad += 1
    return bad


# ---- corpus_clean (the traced run's text probes) --------------------------------

def _failed_cleans(inp, work, drains):
    """Traced drains whose `CorpusPipeline.clean` survivors differ from the
    engine's own DuckDB twin, Queries.oracleSql("corpus_clean"), over the
    same docs."""
    with open(os.path.join(work, "oracle_corpus_clean.sql")) as f:
        oracle = _materialized(f.read())
    failed = 0
    for op in drains:
        if not op.get("probe"):
            continue
        con = duckdb.connect()
        files = [os.path.join(inp, "waves", "docs-%04d.jsonl" % w["wave"]) for w in op["waves"]]
        con.execute("CREATE TABLE documents AS SELECT * FROM " + _jsonl(
            files, {"doc_id": "BIGINT", "text": "VARCHAR"}))
        got = con.execute("SELECT doc_id, lang_guess, quality FROM read_parquet('%s/*.parquet')"
                          % op["probe"]).fetchall()
        if not rows_equal(got, con.execute(oracle).fetchall()):
            failed += 1
    return failed


# ---- market_etl ---------------------------------------------------------------

def check_market(inp, work, result, manifest):
    con = duckdb.connect()
    con.execute("CREATE TABLE inc AS SELECT * FROM " + _jsonl(
        os.path.join(inp, "truth", "income-*.jsonl"),
        {"ticker": "VARCHAR", "quarter_date": "DATE", "revenue": "DECIMAL(15,2)",
         "eps": "DECIMAL(10,4)", "gross_profit": "DECIMAL(15,2)", "batch": "INTEGER"}))
    con.execute("CREATE TABLE est AS SELECT * FROM " + _jsonl(
        os.path.join(inp, "truth", "estimates-*.jsonl"),
        {"ticker": "VARCHAR", "quarter_date": "DATE", "estimated_revenue": "DECIMAL(15,2)",
         "estimated_eps": "DECIMAL(10,4)", "analyst_count": "INTEGER", "batch": "INTEGER"}))
    con.execute("CREATE TABLE companies AS SELECT * FROM " + _jsonl(
        os.path.join(inp, "companies.jsonl"),
        {"ticker": "VARCHAR", "name": "VARCHAR", "sector": "VARCHAR"}))

    def lww(table, cols, b):
        # Last write wins: the row of the latest batch holding the key.
        return ("(SELECT %s FROM (SELECT *, row_number() OVER (PARTITION BY ticker, "
                "quarter_date ORDER BY batch DESC) AS rn FROM %s WHERE batch <= %d) "
                "WHERE rn = 1)" % (cols, table, b))
    inc_cols = "ticker, quarter_date, revenue, eps, gross_profit"
    est_cols = "ticker, quarter_date, estimated_revenue, estimated_eps, analyst_count"
    label = ("CAST(year(quarter_date) AS VARCHAR) || '-Q' || "
             "CAST(quarter(quarter_date) AS VARCHAR)")
    last = result["batches_done"]
    failed = 0
    # Final state of both tables: last-write-wins convergence.
    state = os.path.join(work, "state")
    got = con.execute("SELECT ticker, quarter_date, quarter_label, revenue, eps, gross_profit "
                      "FROM read_parquet('%s/income/*.parquet')" % state).fetchall()
    want = con.execute("SELECT ticker, quarter_date, %s, revenue, eps, gross_profit FROM %s"
                       % (label, lww("inc", inc_cols, last))).fetchall()
    failed += 0 if rows_equal(got, want) else 1
    got = con.execute("SELECT ticker, quarter_date, estimated_revenue, estimated_eps, "
                      "analyst_count FROM read_parquet('%s/estimates/*.parquet')"
                      % state).fetchall()
    want = con.execute("SELECT %s FROM %s" % (est_cols, lww("est", est_cols, last))).fetchall()
    failed += 0 if rows_equal(got, want) else 1
    # Quarantine counts: every malformed row, and nothing else.
    for op in result["ops"]:
        if op["kind"] not in ("warmup", "batch"):
            continue
        if op.get("error") or (
                op["quarantined"] != manifest["malformed_per_batch"][op["batch"]] or
                op["quarantined_estimates"] != 0):
            failed += 1

    def ref(r):
        p, b = r["param"], r["param"]["batch"]
        if r["kind"] == "health":
            return ("SELECT c.ticker, c.name, c.sector, coalesce(n, 0) FROM companies c "
                    "LEFT JOIN (SELECT ticker, count(*) AS n FROM %s GROUP BY 1) s "
                    "USING (ticker)" % lww("inc", inc_cols, b))
        if r["kind"] == "golden":
            return "SELECT '%s', '%s', true, true" % (p["ticker"], p["label"])
        if r["kind"] == "asof":
            return ("SELECT i.ticker, i.quarter_date, i.revenue, i.eps, e.estimated_revenue, "
                    "e.estimated_eps FROM %s i ASOF LEFT JOIN %s e ON i.ticker = e.ticker "
                    "AND i.quarter_date >= e.quarter_date WHERE i.ticker = '%s'"
                    % (lww("inc", inc_cols, b), lww("est", est_cols, b), p["ticker"]))
        return ("SELECT ticker, quarter_date, revenue FROM %s WHERE ticker = '%s' "
                "ORDER BY quarter_date DESC LIMIT %d"
                % (lww("inc", inc_cols, b), p["ticker"], 8))
    return failed + _failed_reads(con, result["reads"], ref), len(want)


# ---- ingest_stream --------------------------------------------------------------

SHINGLES = """SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
    i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM batch)"""


def _fold_accepted(con, batches):
    """Wave-by-wave fold of the incremental dedup accept rule: per batch,
    an index with its own hot-shingle cap (> 100 docs), batch self-pairs
    and pairs against the accepted state's index; a doc on the larger-id
    side of a pair with Jaccard >= 0.5 is rejected."""
    con.execute("CREATE TABLE sidx (doc_id BIGINT, shingle VARCHAR, nsh BIGINT)")
    # acc.wave is the sinks' micro-batch id, as in the engine's accepted table.
    con.execute("CREATE TABLE acc (doc_id BIGINT, wave INTEGER)")
    for batch, waves in batches:
        con.execute("CREATE OR REPLACE TEMP VIEW batch AS SELECT doc_id, text FROM docs "
                    "WHERE wave IN (%s)" % ",".join(str(w) for w in waves))
        con.execute("CREATE OR REPLACE TABLE sh AS " + SHINGLES)
        con.execute("""CREATE OR REPLACE TABLE bidx AS
            WITH hot AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) > 100),
            i AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot))
            SELECT i.doc_id, i.shingle, n.nsh FROM i
            JOIN (SELECT doc_id, count(*) AS nsh FROM i GROUP BY 1) n USING (doc_id)""")
        con.execute("""INSERT INTO acc
            WITH selfp AS (SELECT b.doc_id AS loser FROM bidx a JOIN bidx b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
              HAVING CAST(count(*) AS DOUBLE) / (a.nsh + b.nsh - count(*)) >= 0.5),
            crossp AS (SELECT b.doc_id AS loser FROM sidx a JOIN bidx b
                ON a.shingle = b.shingle
              GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
              HAVING CAST(count(*) AS DOUBLE) / (a.nsh + b.nsh - count(*)) >= 0.5)
            SELECT doc_id, %d FROM batch
            WHERE doc_id NOT IN (SELECT loser FROM selfp UNION SELECT loser FROM crossp)"""
                    % batch)
        con.execute("INSERT INTO sidx SELECT b.* FROM bidx b JOIN acc a "
                    "ON b.doc_id = a.doc_id AND a.wave = %d" % batch)


def check_stream(inp, work, result):
    con = duckdb.connect()
    waves = result["waves_done"]
    doc_cols = {"doc_id": "BIGINT", "text": "VARCHAR"}
    ev_cols = {"event_id": "BIGINT", "user_id": "BIGINT", "event_type": "VARCHAR",
               "ts": "VARCHAR", "value": "DOUBLE"}
    parts = ["SELECT *, 0 AS wave FROM " + _jsonl(
        os.path.join(inp, "standing", "docs", "*.jsonl"), doc_cols)]
    eparts = ["SELECT *, 0 AS wave FROM " + _jsonl(
        os.path.join(inp, "standing", "events", "*.jsonl"), ev_cols)]
    for w in range(1, waves + 1):
        parts.append("SELECT *, %d FROM %s" % (w, _jsonl(
            os.path.join(inp, "waves", "docs-%04d.jsonl" % w), doc_cols)))
        eparts.append("SELECT *, %d FROM %s" % (w, _jsonl(
            os.path.join(inp, "waves", "events-%04d.jsonl" % w), ev_cols)))
    con.execute("CREATE TABLE docs AS " + " UNION ALL ".join(parts))
    con.execute("CREATE TABLE events AS SELECT event_id, user_id, event_type, "
                "CAST(replace(ts, 'Z', '') AS TIMESTAMP) AS ts, value, wave FROM ("
                + " UNION ALL ".join(eparts) + ")")
    failed = 0
    drains = [op for op in result["ops"] if op["kind"] in ("warmup", "drain")]
    failed += sum(1 for op in drains if op.get("error"))
    # Docs: the engine's micro-batch ids are 0 for the standing corpus,
    # then one per drain, holding that drain's waves.
    batches = [(0, [0])] + [(i + 1, [w["wave"] for w in op["waves"]])
                            for i, op in enumerate(drains)]
    _fold_accepted(con, batches)
    got = con.execute("SELECT doc_id, wave FROM read_parquet('%s/state/accepted/*/*.parquet', "
                      "hive_partitioning = true)" % work).fetchall()
    want = con.execute("SELECT doc_id, wave FROM acc").fetchall()
    failed += 0 if rows_equal(got, want) else 1
    # Events: last-write-wins convergence of the merge state.
    lww = ("(SELECT user_id, event_type, event_id, ts, value FROM (SELECT *, row_number() "
           "OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn "
           "FROM events WHERE wave <= %d) WHERE rn = 1)")
    got = con.execute("SELECT user_id, event_type, event_id, ts, value FROM "
                      "read_parquet('%s/state/merge/*.parquet')" % work).fetchall()
    failed += 0 if rows_equal(got, con.execute("SELECT * FROM " + lww % waves).fetchall()) else 1
    # Join: no row arrives late, so the watermarked join emits the whole
    # batch theta-join.
    join = ("(SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts, p.event_id AS "
            "purchase_id, p.ts AS purchase_ts, p.value AS purchase_value FROM events c "
            "JOIN events p ON c.event_type = 'click' AND p.event_type = 'purchase' AND "
            "p.user_id = c.user_id AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 1 HOUR "
            "AND c.wave <= %d AND p.wave <= %d)")
    got = con.execute("SELECT click_id, user_id, click_ts, purchase_id, purchase_ts, "
                      "purchase_value FROM read_parquet('%s/state/join/*.parquet')"
                      % work).fetchall()
    want_join = con.execute("SELECT * FROM " + join % (waves, waves)).fetchall()
    failed += 0 if rows_equal(got, want_join) else 1
    failed += _failed_cleans(inp, work, drains)

    def ref(r):
        k, u = r["param"]["as_of"], r["param"]["user"]
        if r["kind"] == "merge_user":
            return "SELECT * FROM %s WHERE user_id = %d" % (lww % k, u)
        if r["kind"] == "accepted_wave":
            return "SELECT count(*) FROM acc WHERE wave = %d" % r["param"]["batch"]
        return "SELECT count(*) FROM %s WHERE user_id = %d" % (join % (k, k), u)
    return failed + _failed_reads(con, result["reads"], ref), len(want_join)


def check(workload, inp, work, result, manifest):
    """(failed ops, size of the reference output)."""
    if workload == "market_etl":
        return check_market(inp, work, result, manifest)
    return check_stream(inp, work, result)
