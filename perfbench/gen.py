"""Seeded input generator for the perfbench workloads.

Every input the engine sees is written here, from `random.Random(seed)`
alone: the same seed gives byte-identical files, another seed different
ones. Files are newline-delimited JSON with sorted keys, so the engine
(Spark's JSON reader, the FmpSource file transport) and the DuckDB
reference read the very same bytes.

Each `generate_*` function writes its workload's inputs under `out` and
returns a manifest: sizes plus the planted shares of every input property
the engine's behaviour depends on, measured from the generated records.
"""

import json
import os
import random
from datetime import date, datetime, timedelta, timezone

# Corpus vocabulary: a small, near-uniform word set like the engine's own
# text fixture, so the corpus-LM tiers (3.5 unigram / 3.47 bigram nats)
# keep ordinary documents and drop out-of-vocabulary token salad.
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row agg key query scan batch").split()
EN_STOP = ["the", "a"]
FOREIGN = {"fr": ["le", "la", "les", "et", "un", "est"],
           "de": ["der", "die", "das", "und", "ist", "ein"],
           "es": ["el", "la", "de", "que", "y", "en"]}
LONG_DOC_TOKENS = 5100   # past the pipeline's 5000-token LM evidence cap


def _write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, separators=(",", ":")))
            f.write("\n")


VOCAB = WORDS + EN_STOP
# Fixed word-to-word structure: each word has a few likely successors, so
# ordinary text is locally coherent under the corpus bigram model.
_lang = random.Random(20240101)
SUCCESSORS = {w: _lang.sample(VOCAB, 6) for w in VOCAB}


def _en_doc(rng, n):
    w = rng.choice(VOCAB)
    out = [w]
    for _ in range(n - 1):
        w = rng.choice(SUCCESSORS[w]) if rng.random() < 0.75 else rng.choice(VOCAB)
        out.append(w)
    return " ".join(out)


def _salad_doc(rng, n):
    """Token salad: out-of-vocabulary tokens (the unigram tier's target)
    or an incoherent shuffle of corpus words (the bigram tier's)."""
    if rng.random() < 0.5:
        return " ".join("x%03d" % rng.randrange(100) for _ in range(n))
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _foreign_doc(rng, n):
    stop = FOREIGN[rng.choice(sorted(FOREIGN))]
    return " ".join(rng.choice(stop) if rng.random() < 0.3 else rng.choice(WORDS)
                    for _ in range(n))


def _near_copy(rng, text):
    toks = text.split()
    i = rng.randrange(len(toks))
    toks[i] = rng.choice(WORDS)
    return " ".join(toks)


def make_docs(rng, n, first_id=0, exact=0.01, near=0.01, trunc=0.01,
              foreign=0.03, salad=0.02, long_docs=0.0):
    """`n` documents with planted duplicate, foreign, salad and long shares.

    Returns (rows, counts) where counts holds how many of each kind were
    planted. Duplicates copy an earlier original of the same call.
    """
    planted = (["exact"] * round(n * exact) + ["near"] * round(n * near) +
               ["trunc"] * round(n * trunc) + ["foreign"] * round(n * foreign) +
               ["salad"] * round(n * salad) + ["long"] * round(n * long_docs))
    n_orig = n - len(planted)
    # Originals first so every duplicate has a source to copy.
    head = min(50, n_orig)
    rest = planted + ["orig"] * (n_orig - head)
    rng.shuffle(rest)
    kinds = ["orig"] * head + rest
    rows, originals = [], []
    for i, kind in enumerate(kinds):
        if kind == "orig":
            text = _en_doc(rng, rng.randint(20, 100))
            originals.append(text)
        elif kind == "long":
            text = _en_doc(rng, LONG_DOC_TOKENS)
        elif kind == "foreign":
            text = _foreign_doc(rng, rng.randint(20, 100))
        elif kind == "salad":
            text = _salad_doc(rng, rng.randint(20, 100))
        elif kind == "exact":
            text = rng.choice(originals)
        elif kind == "near":
            text = _near_copy(rng, rng.choice(originals))
        else:  # trunc: a proper prefix of an original
            toks = rng.choice(originals).split()
            text = " ".join(toks[:max(1, len(toks) * 2 // 3)])
        rows.append({"doc_id": first_id + i, "text": text})
    counts = {k: kinds.count(k) for k in
              ("orig", "exact", "near", "trunc", "foreign", "salad", "long")}
    return rows, counts


def _doc_shares(rows, counts):
    n = len(rows)
    texts = [r["text"] for r in rows]
    return {
        "docs": n,
        "bytes": sum(len(t.encode("utf-8")) for t in texts),
        "exact_dup_share": round(1 - len(set(texts)) / n, 6),
        "near_dup_share": round(counts["near"] / n, 6),
        "trunc_dup_share": round(counts["trunc"] / n, 6),
        "foreign_share": round(counts["foreign"] / n, 6),
        "salad_share": round(counts["salad"] / n, 6),
        "long_doc_share": round(
            sum(1 for t in texts if len(t.split()) > 5000) / n, 6),
    }


# ---- FMP bronze (market_etl) ------------------------------------------------

QUARTER_ENDS = ((3, 31), (6, 30), (9, 30), (12, 31))


def _quarters(first_year, n):
    return [date(first_year + q // 4, *QUARTER_ENDS[q % 4]) for q in range(n)]


def _fmt_date(rng, d):
    r = rng.random()
    if r < 0.7:
        return d.isoformat()
    if r < 0.85:
        return d.strftime("%m/%d/%Y")
    return d.isoformat() + " 00:00:00"


def _fmt_money(rng, dollars):
    """A whole-dollar amount >= 1e6 in one of the reference's formats."""
    r = rng.random()
    if r < 0.5:
        return str(dollars)
    if r < 0.8:
        return "${:,}".format(dollars)
    # Millions with one decimal: the normalizer scales values below 1e6.
    return "%d.%d" % (dollars // 1000000, (dollars // 100000) % 10)


def _income_record(rng, sym, d, rev_m10):
    """(bronze row, truth row) for one income fact; rev_m10 in $0.1M."""
    revenue = rev_m10 * 100000
    gross = (rev_m10 * rng.randint(15, 35) // 100) * 100000
    eps = "%d.%04d" % (rng.randint(0, 3), rng.randrange(1, 10000))
    bronze = {"date": _fmt_date(rng, d), "symbol": sym,
              "revenue": _fmt_money(rng, revenue),
              "grossProfit": _fmt_money(rng, gross), "period": "Q",
              "calendarYear": str(d.year)}
    if rng.random() < 0.8:
        bronze["eps"] = eps
    else:
        bronze["eps"] = "0"            # falsy: falls back to netIncomePerShare
        bronze["netIncomePerShare"] = eps
    truth = {"ticker": sym, "quarter_date": d.isoformat(),
             "revenue": "%d.00" % revenue, "eps": eps,
             "gross_profit": "%d.00" % gross}
    return bronze, truth


def _estimate_record(rng, sym, d, rev_m10):
    est_rev = (rev_m10 + rng.randint(-50, 50)) * 100000
    est_eps = "%d.%04d" % (rng.randint(0, 3), rng.randrange(10000))
    analysts = rng.randint(3, 40)
    bronze = {"date": d.isoformat(), "symbol": sym,
              "estimatedRevenueAvg": str(est_rev), "estimatedEpsAvg": est_eps,
              "numberAnalystsEstimatedRevenue": str(analysts)}
    truth = {"ticker": sym, "quarter_date": d.isoformat(),
             "estimated_revenue": "%d.00" % est_rev, "estimated_eps": est_eps,
             "analyst_count": analysts}
    return bronze, truth


def generate_market(out, seed, symbols=80, history_quarters=24, batches=16,
                    batch_symbols=30, restate_share=0.3, malformed_share=0.04):
    """market_etl: a bulk history load (batch 0) plus `batches` ingest batches.

    Each later batch carries the next quarter for `batch_symbols` symbols,
    restatements of stored keys and malformed rows. Bronze lands per batch
    as `fmp/batch-NNNN/income-statement/sym_part=SYM/part-00000.jsonl` (the
    FmpSource file transport) and `fmp/batch-NNNN/estimates/part-00000.jsonl`.
    The intended normalized rows go to `truth/` for the reference.
    """
    rng = random.Random(seed)
    syms = sorted({"".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
                           for _ in range(rng.randint(2, 5))) for _ in range(symbols * 2)})
    syms = sorted(rng.sample(syms, symbols))
    companies = [{"ticker": s, "name": s + " Inc", "sector": "Sector%d" % (i % 11)}
                 for i, s in enumerate(syms)]
    _write_jsonl(os.path.join(out, "companies.jsonl"), companies)
    quarters = _quarters(2000, history_quarters + batches)
    level = {s: rng.randint(500, 900000) for s in syms}   # revenue in $0.1M
    next_q = {s: history_quarters for s in syms}
    stored = []                                           # (sym, quarter idx)
    stats = {"income_rows": 0, "estimate_rows": 0, "restated": 0,
             "malformed": 0, "bytes": 0, "batch_rows": [], "batch_bytes": [],
             "malformed_per_batch": []}

    def emit(b, inc_rows, est_rows, malformed):
        inc_rows = list(inc_rows)
        bdir = os.path.join(out, "fmp", "batch-%04d" % b)
        by_sym = {}
        for bronze, _ in inc_rows:
            by_sym.setdefault(bronze["symbol"], []).append(bronze)
        for bronze in malformed:
            by_sym.setdefault(bronze["symbol"], []).append(bronze)
        for s, rows in sorted(by_sym.items()):
            rng.shuffle(rows)
            _write_jsonl(os.path.join(bdir, "income-statement", "sym_part=" + s,
                                      "part-00000.jsonl"), rows)
        _write_jsonl(os.path.join(bdir, "estimates", "part-00000.jsonl"),
                     [r for r, _ in est_rows])
        _write_jsonl(os.path.join(out, "truth", "income-%04d.jsonl" % b),
                     [dict(t, batch=b) for _, t in inc_rows])
        _write_jsonl(os.path.join(out, "truth", "estimates-%04d.jsonl" % b),
                     [dict(t, batch=b) for _, t in est_rows])
        n = len(inc_rows) + len(malformed)
        stats["income_rows"] += n
        stats["estimate_rows"] += len(est_rows)
        stats["malformed"] += len(malformed)
        stats["batch_rows"].append(n + len(est_rows))
        stats["malformed_per_batch"].append(len(malformed))
        nbytes = sum(os.path.getsize(os.path.join(dp, f))
                     for dp, _, fs in os.walk(bdir) for f in fs)
        stats["batch_bytes"].append(nbytes)
        stats["bytes"] += nbytes
        return [t for _, t in inc_rows]

    def bad_row(s):
        d = quarters[rng.randrange(len(quarters))]
        return {"date": rng.choice(["invalid-date", "", "2021-13-45", "Q3 2021"]),
                "symbol": s, "revenue": _fmt_money(rng, 10 ** 9),
                "eps": "0.5000", "grossProfit": "N/A", "period": "Q",
                "calendarYear": "FY" + str(d.year)}

    golden = []
    # Batch 0: the bulk history load that seeds the state tables.
    inc, est = [], []
    for s in syms:
        for q in range(history_quarters):
            level[s] = min(2000000, max(500, level[s] + rng.randint(-level[s] // 20, level[s] // 15)))
            inc.append(_income_record(rng, s, quarters[q], level[s]))
            est.append(_estimate_record(rng, s, quarters[q], level[s]))
            stored.append((s, q))
    emit(0, inc, est, [])
    for b in range(1, batches + 1):
        inc, est, bad = [], [], []
        for s in rng.sample(syms, batch_symbols):
            q = next_q[s]
            next_q[s] += 1
            level[s] = min(2000000, max(500, level[s] + rng.randint(-level[s] // 20, level[s] // 15)))
            inc.append(_income_record(rng, s, quarters[q], level[s]))
            est.append(_estimate_record(rng, s, quarters[q], level[s]))
            stored.append((s, q))
        n_restate = round(len(inc) * restate_share / (1 - restate_share))
        for s, q in rng.sample(stored[:len(stored) - len(inc)], n_restate):
            inc.append(_income_record(rng, s, quarters[q], rng.randint(500, 900000)))
        stats["restated"] += n_restate
        n_bad = max(1, round((len(inc)) * malformed_share))
        bad = [bad_row(rng.choice(syms)) for _ in range(n_bad)]
        emit(b, inc, est, bad)
        # Golden probe for this batch: one of its own fresh facts.
        golden.append(dict(inc[0][1], label="%d-Q%d" % (
            int(inc[0][1]["quarter_date"][:4]),
            (int(inc[0][1]["quarter_date"][5:7]) + 2) // 3), batch=b))
    _write_jsonl(os.path.join(out, "golden.jsonl"), golden)
    history = len(syms) * history_quarters
    per_batch = (stats["income_rows"] - history) / batches
    return {"workload": "market_etl", "seed": seed, "symbols": symbols,
            "history_quarters": history_quarters, "batches": batches,
            "income_rows": stats["income_rows"], "estimate_rows": stats["estimate_rows"],
            "bytes": stats["bytes"], "batch_rows": stats["batch_rows"],
            "batch_bytes": stats["batch_bytes"],
            "malformed_per_batch": stats["malformed_per_batch"],
            "restated_key_share": round(stats["restated"] / (stats["income_rows"] - history), 6),
            "malformed_share": round(stats["malformed"] / (stats["income_rows"] - history), 6),
            "state_to_batch_ratio": round(history / per_batch, 3)}


# ---- events + doc waves (ingest_stream) ---------------------------------------

EVENT_TYPES = ["cart", "click", "purchase", "view"]
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _events(rng, first_id, n, t0, span_s, users):
    rows = []
    for i in range(n):
        t = t0 + timedelta(milliseconds=rng.randrange(span_s * 1000))
        rows.append({"event_id": first_id + i, "user_id": rng.randrange(users),
                     "event_type": rng.choice(EVENT_TYPES),
                     "ts": t.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (t.microsecond // 1000),
                     "value": round(rng.uniform(1, 500), 2)})
    rows.sort(key=lambda r: (r["ts"], r["event_id"]))
    return rows


def generate_stream(out, seed, standing_docs=500, standing_events=3000,
                    waves=40, wave_docs=40, wave_events=400, users=200,
                    history_hours=48, wave_minutes=30):
    """ingest_stream: the standing corpus and event history (staged at
    setup) plus `waves` doc and event waves staged on the run's schedule.

    Waves move forward in event time, so the watermarked join never sees
    a late row and its output equals the batch theta-join.
    """
    rng = random.Random(seed)
    docs, counts = make_docs(rng, standing_docs, long_docs=1 / standing_docs)
    _write_jsonl(os.path.join(out, "standing", "docs", "part-00000.jsonl"), docs)
    ev = _events(rng, 0, standing_events, EPOCH, history_hours * 3600, users)
    _write_jsonl(os.path.join(out, "standing", "events", "part-00000.jsonl"), ev)
    next_doc, next_ev = standing_docs, standing_events
    wave_bytes, dup_docs = 0, 0
    originals = [d["text"] for d in docs[:500]]
    for w in range(1, waves + 1):
        wrows, _ = make_docs(rng, wave_docs, first_id=next_doc)
        # Re-crawls of the standing corpus: exact and near copies.
        for r in wrows[:wave_docs // 20]:
            src = rng.choice(originals)
            r["text"] = src if rng.random() < 0.5 else _near_copy(rng, src)
            dup_docs += 1
        next_doc += wave_docs
        t0 = EPOCH + timedelta(hours=history_hours, minutes=(w - 1) * wave_minutes)
        erows = _events(rng, next_ev, wave_events, t0, wave_minutes * 60, users)
        next_ev += wave_events
        dp = os.path.join(out, "waves", "docs-%04d.jsonl" % w)
        ep = os.path.join(out, "waves", "events-%04d.jsonl" % w)
        _write_jsonl(dp, wrows)
        _write_jsonl(ep, erows)
        wave_bytes += os.path.getsize(dp) + os.path.getsize(ep)
    standing = _doc_shares(docs, counts)
    return {"workload": "ingest_stream", "seed": seed,
            "standing_docs": standing_docs, "standing_events": standing_events,
            "standing_bytes": standing["bytes"], "waves": waves,
            "wave_docs": wave_docs, "wave_events": wave_events,
            "wave_bytes_mean": round(wave_bytes / waves, 1),
            **{"standing_" + k: v for k, v in standing.items() if k.endswith("_share")},
            "wave_recrawl_share": round(dup_docs / (waves * wave_docs), 6),
            "wave_to_index_ratio": round(wave_docs / standing_docs, 6)}


GENERATORS = {"market_etl": generate_market, "ingest_stream": generate_stream}


def generate(workload, out, seed):
    manifest = GENERATORS[workload](out, seed)
    _write_jsonl(os.path.join(out, "manifest.jsonl"), [manifest])
    return manifest
