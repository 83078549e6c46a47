"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload market_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the harness from
source (`perfbench/build.py`), generates the workload's inputs from the
seed (`perfbench/gen.py`), runs one fresh JVM (`perfbench.Main`), checks
every output against the DuckDB reference (`perfbench/reference.py`) and
prints one JSON line: `correct`, `attempted`, `failed` and `metrics` —
the end-to-end metrics of BENCHMARK.json, or with `--trace 1` its
per-layer metrics. Lines before it record provenance and the inputs'
measured properties; the full artifact is written under
`.bench_build/results/`.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402

WORKLOADS = ("market_etl", "ingest_stream")
INGEST_KIND = {"market_etl": "batch", "ingest_stream": "drain"}
GEN_REPS = 3
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 165


def cpu_ticks():
    """The host's aggregate CPU ticks: user nice system idle iowait irq
    softirq steal (guest time is already folded into user)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def cpu_shares(a, b):
    """Percent of host CPU time per state between two tick samples."""
    if not a or not b or sum(b) <= sum(a):
        return None
    d = [y - x for x, y in zip(a, b)]
    names = ("user", "nice", "sys", "idle", "iowait", "irq", "softirq", "steal")
    return {n + "_pct": round(100.0 * v / sum(d), 2) for n, v in zip(names, d)}


def host_weather():
    """Load average and a 500 ms CPU-share sample, so a run on a busy,
    stolen-from or reclaim-storming host shows in its artifact."""
    try:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
    except OSError:
        load = None
    a = cpu_ticks()
    time.sleep(0.5)
    return {"loadavg": load, "spot": cpu_shares(a, cpu_ticks())}


def provenance(root, args, cpus):
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for s in build.sources(root):
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest(), "workload": args.workload,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
            "heap": HEAP, "host": host_weather()}


def pctl(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end(res, gen_s):
    kind = INGEST_KIND[res["workload"]]
    ops = [o for o in res["ops"] if o["kind"] == kind and not o.get("error")]
    busy = sum(o["s"] for o in ops)
    if res["workload"] == "ingest_stream":
        lat = [(o["start_ms"] + o["s"] * 1000 - w["due_ms"]) / 1000.0
               for o in ops for w in o["waves"]]
    else:
        lat = [o["s"] for o in ops]
    reads = [r["ms"] for r in res["reads"] if not r.get("error")]
    setup = res["setup"]
    jvm_setup = sum(v for k, v in setup.items() if k.endswith("_s"))
    return {
        "setup_s": gen_s + jvm_setup,
        "throughput_rps": sum(o["records"] for o in ops) / busy if busy else 0.0,
        "ingest_p50_s": statistics.median(lat) if lat else 0.0,
        "query_p50_ms": statistics.median(reads) if reads else 0.0,
        "query_p90_ms": pctl(reads, 0.9) if reads else 0.0,
        # Open loop: the sinks' share of the offered schedule; closed loop:
        # the ingest ops' share of the timed phase (the rest is reads).
        "busy_ratio": busy / (res["timed_waves"] * res["period_ms"] / 1000.0
                              if "period_ms" in res else res["timed_s"]),
        "write_amp": res["written_bytes"] / res["input_bytes"],
        "space_amp": res["final_bytes"] / res.get("all_input_bytes", res["input_bytes"]),
        "peak_heap_mb": res["peak_heap_mb"],
    }, {"ingest_samples": len(lat), "query_samples": len(reads),
        "query_samples_beyond_p90": sum(1 for r in reads if reads and r > pctl(reads, 0.9))}


def per_layer(res):
    m = dict(res["layers"])
    resid = res["residue"]
    m["util.checkpoint_bytes_left"] = resid["checkpoint_bytes_left"]
    m["util.active_streams"] = resid["active_streams"]
    m["util.leftover_dirs"] = resid["leftover_dirs"]
    m["util.rdds_left"] = resid["rdds_left"]
    # Tracing overhead: the traced ops' main call against the untraced ones
    # (the traced run alternates), leaving out the run's first op, which
    # still warms up, when both kinds remain without it.
    kind = INGEST_KIND[res["workload"]]
    ops = [o for o in res["ops"] if o["kind"] == kind and not o.get("error")]
    if len({o["traced"] for o in ops[1:]}) == 2:
        ops = ops[1:]
    t = [o["main_ms"] for o in ops if o["traced"]]
    u = [o["main_ms"] for o in ops if not o["traced"]]
    m["trace.overhead_ratio"] = (statistics.median(t) / statistics.median(u) - 1.0
                                 if t and u else 0.0)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    args = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = os.path.join(root, ".bench_build")
    classes = build.build(root, out)
    prov = provenance(root, args, args.cpus)

    run_dir = os.path.join(out, "runs", "%s-s%d-t%d-%d" % (args.workload, args.seed,
                                                           args.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    # Set-up, part 1: generate the inputs several times; time the median.
    gen_times = []
    for i in range(GEN_REPS):
        d = os.path.join(run_dir, "input-%d" % i)
        t0 = time.perf_counter()
        manifest = gen.generate(args.workload, d, args.seed)
        gen_times.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(run_dir, "input-%d" % (i - 1)))
    inp = os.path.join(run_dir, "input-%d" % (GEN_REPS - 1))
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))

    jars = build.spark_jars()
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m"] +
           [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            args.workload, inp, work, str(args.seconds), str(args.trace), str(args.cpus),
            str(args.seed)])
    ticks = cpu_ticks()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, JVM_TIMEOUT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: the run did not finish in time (log: %s)" % log.name)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit("perfbench: the JVM exited with %d" % rc)
    prov["host"]["during_run"] = cpu_shares(ticks, cpu_ticks())
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    failed, ref_rows = reference.check(args.workload, inp, work, res, manifest)
    attempted = len(res["ops"]) + len(res["reads"])
    failed = min(attempted, failed)
    e2e, samples = end_to_end(res, statistics.median(gen_times))
    layers = per_layer(res) if args.trace else {}
    names = spec["per_layer" if args.trace else "end_to_end"]
    source = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}

    artifact = {"provenance": prov, "inputs": manifest, "setup": res["setup"],
                "gen_s": gen_times, "samples": samples, "end_to_end": e2e,
                "per_layer": layers, "residue": res["residue"], "attempted": attempted,
                "failed": failed, "reference_rows": ref_rows, "timed_s": res["timed_s"],
                "ops": res["ops"], "spans": res["spans"]}
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    with open(os.path.join(out, "results", os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump(artifact, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"provenance": prov}))
    print(json.dumps({"inputs": manifest, "samples": samples, "residue": res["residue"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
