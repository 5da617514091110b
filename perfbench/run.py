#!/usr/bin/env python3
"""The benchmark of this repository (see perfbench/README.md).

    python3 perfbench/run.py --workload cdc_bootstrap|cdc_trickle|neardup \\
        --seed N --seconds S --trace 0|1 [--buckets N]
    python3 perfbench/run.py --all [--seed N] [--seconds S]  # every workload, both modes
    python3 perfbench/run.py --smoke                         # smallest-input self-check

Run from the repository root. One run builds the program if its sources
changed, generates the seeded inputs, runs the workload in a fresh JVM,
checks every output, and prints as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics and a
span file under ``.bench_out/`` with ``--trace 1``.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ["cdc_bootstrap", "cdc_trickle", "neardup"]
MB = 1024.0 * 1024.0
HEAP = "3g"
# cdc_trickle: open-loop rate (records/s), catch-up bursts and their size,
# trigger interval, state buckets (0: the memory backend)
RATE = 20.0
BURSTS = 4
BURST_RECORDS = 400
TRIGGER_MS = 250
BUCKETS = 0  # memory backend; ``--buckets N`` runs on a durable backend by hand
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    """Spark task slots: two cores stay free for query planning, the wave
    pool's job submission, the JIT and GC threads and the load generator.
    With one core free, whole runs were slower or faster at random (burst
    drains of 1.8 to 2.9 s on five seeds, against 1.7 to 2.3 s)."""
    n = len(os.sched_getaffinity(0))
    return max(1, min(2, n - 2))


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def metric(v, unit):
    return {"value": v, "unit": unit}


def run_jvm(cp, workload, seed, seconds, trace, work, buckets, deadline):
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(".bench_out"), exist_ok=True)
    trace_file = os.path.abspath(os.path.join(".bench_out", "trace-%s-%d.json" % (workload, seed)))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP,
            "-Djava.io.tmpdir=" + os.path.abspath(os.path.join(work, "tmp")),
            "-cp", cp, "perfbench.BenchMain",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", os.path.abspath(work),
            "--cores", str(cores()), "--out", os.path.abspath(out),
            "--trace-file", trace_file, "--buckets", str(buckets), "--bursts", str(BURSTS),
            "--trigger-ms", str(TRIGGER_MS)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(work, "local")))
    log = open(os.path.join(work, "jvm.log"), "w")
    jvm = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
    procs = [jvm]
    if workload == "cdc_trickle":
        procs.append(subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "live", str(seed), work,
             str(seconds), str(RATE), str(BURSTS), str(BURST_RECORDS)],
            stdout=log, stderr=subprocess.STDOUT))
    try:
        # a failed process fails the run at once; so does the deadline
        while time.time() < deadline and any(p.poll() is None for p in procs) \
                and all(p.poll() in (None, 0) for p in procs):
            time.sleep(0.05)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        log.close()
    if any(p.returncode != 0 for p in procs) or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        raise SystemExit("perfbench: %s run failed (exit %s)" % (workload, jvm.returncode))
    with open(out) as f:
        return json.load(f), (trace_file if trace else None)


def root_map(work):
    """change record (entity, key tuple) -> root order keys it feeds, from
    the final table state; used only to count failed records."""
    t = {}
    for e in gen.ENTITIES:
        with open(os.path.join(work, "main", "final", e + ".jsonl")) as f:
            t[e] = [json.loads(line) for line in f]
    by_cust, by_nation, by_part = {}, {}, {}
    for o in t["orders"]:
        by_cust.setdefault(o["o_custkey"], set()).add(o["o_orderkey"])
    for c in t["customer"]:
        by_nation.setdefault(c["c_nationkey"], set()).update(by_cust.get(c["c_custkey"], ()))
    for li in t["lineitem"]:
        by_part.setdefault(li["l_partkey"], set()).add(li["l_orderkey"])

    def roots(entity, key):
        if entity == "orders":
            return {key["o_orderkey"]}
        if entity == "lineitem":
            return {key["l_orderkey"]}
        if entity == "customer":
            return by_cust.get(key["c_custkey"], set())
        if entity == "nation":
            return by_nation.get(key["n_nationkey"], set())
        return by_part.get(key["p_partkey"], set())
    return roots


def failed_records(work, topic_dir, ranges, bad):
    """Change records in the given pair ranges whose document is wrong."""
    if not bad:
        return 0
    bad, roots, n = set(bad), root_map(work), 0
    for e, (a, b) in ranges.items():
        with open(os.path.join(work, "main", topic_dir, e + ".json")) as f:
            lines = f.read().split("\n")
        for i in range(a, b):
            if roots(e, json.loads(lines[2 * i])) & bad:
                n += 1
    return n


def oracle(work, res):
    """neardup reference: the DuckDB result of the repo's own
    q_dedup_ngram / q_dedup_minhash oracle SQL over the same corpus, and
    the connected components (min member id) of the oracle's MinHash pairs."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_json('%s', format='newline_delimited', "
                "columns={'doc_id': 'BIGINT', 'text': 'VARCHAR'})"
                % os.path.join(work, "main", "documents.jsonl"))
    want = {q: pair_rows(con.execute(res["oracle_sql"][q]).fetchall())
            for q in ("q_dedup_ngram", "q_dedup_minhash")}
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x
    for a, b, _ in sorted(want["q_dedup_minhash"]):
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want["components"] = {(n, find(n)) for n in parent}
    return want


def pair_rows(rs):
    return {(int(a), int(b), round(float(j), 9)) for a, b, j in rs}


def wrong_docs(want, it):
    """Documents in any row where one iteration's output and the oracle differ."""
    diff = ((want["q_dedup_ngram"] ^ pair_rows(it["jaccard_pairs"])) |
            (want["q_dedup_minhash"] ^ pair_rows(it["minhash_pairs"])))
    comps = {(int(n), int(c)) for n, c in it["components"]}
    return {d for r in diff for d in r[:2]} | {n for n, _ in want["components"] ^ comps}


def e2e_iterations(res, work_units):
    """Closed-loop workloads: work units per median iteration time; the
    time from handing the input in to collecting its result (the iteration
    time) as the freshness quantiles; the median per-iteration rise of
    storage memory."""
    it = res["iterations"]
    ms = [i["seconds"] * 1000.0 for i in it]
    return {"throughput_rps": work_units / (statistics.median(ms) / 1000.0),
            "freshness_p50_ms": quantile(ms, 0.5), "freshness_p90_ms": quantile(ms, 0.9),
            "peak_storage_mb": statistics.median(i["peak_storage_bytes"] for i in it) / MB}


def trickle_freshness(res, live):
    """Per open-loop record: the emission time of the batch that read it
    (the first batch whose end offset passes the record) minus the record's
    due time; and the batches these records fell into."""
    batches = sorted((b for b in res["batches"] if b["emit_ms"] is not None),
                     key=lambda b: b["id"])
    fresh, used = [], set()
    for si, e in enumerate(gen.ENTITIES):
        for j, due in live["due_ms"][e]:
            b = next(b for b in batches if b["ranges"][si][1] > j)
            fresh.append(b["emit_ms"] - due)
            used.add(b["id"])
    return fresh, used


def e2e_trickle(res, live, buckets):
    """Freshness quantiles over the open-loop records, the median catch-up
    drain rate of the bursts (records / (emission of the batch that ends
    the drain - burst write)), and the median storage peak of the burst
    and open-loop windows."""
    fresh, used = trickle_freshness(res, live)
    drain_s = [(e - b["t_ms"]) / 1000.0 for e, b in zip(res["burst_emit_ms"], live["bursts"])]
    return ({"throughput_rps": statistics.median(
                 b["records"] / d for b, d in zip(live["bursts"], drain_s)),
             "freshness_p50_ms": quantile(fresh, 0.5),
             "freshness_p90_ms": quantile(fresh, 0.9),
             "peak_storage_mb": statistics.median(res["peak_storage_bytes"]) / MB},
            {"freshness_records": len(fresh), "freshness_batches": len(used),
             "rate_rps": RATE, "trigger_ms": res["trigger_ms"], "buckets": buckets,
             "burst_records": [b["records"] for b in live["bursts"]],
             "burst_drain_s": [round(d, 3) for d in drain_s],
             "storage_windows_mb": [round(b / MB, 3) for b in res["peak_storage_bytes"]],
             "batch_rows": [b["rows"] for b in res["batches"]],
             "inputs": live["props"]})


def one_run(cp, workload, seed, seconds, trace, scale="full", buckets=BUCKETS):
    t_start = time.time()
    deadline = t_start + 172.0
    work = os.path.join(".bench_work", "%s-%d-%d" % (workload, seed, int(trace)))
    shutil.rmtree(work, ignore_errors=True)
    gen.static(workload, seed, work, scale)
    with open(os.path.join(work, "inputs.json")) as f:
        inputs = json.load(f)
    res, trace_file = run_jvm(cp, workload, seed, seconds, trace, work, buckets, deadline)
    info = {"workload": workload, "seed": seed, "cores": res["cores"], "heap": HEAP,
            "inputs": inputs}
    if workload == "neardup":
        want = oracle(work, res)
        wrong = [wrong_docs(want, it) for it in res["iterations"]]
        e2e = e2e_iterations(res, res["docs"])
        attempted = res["docs"] * len(res["iterations"])
        failed = sum(len(w) for w in wrong)
        bad = set().union(*wrong)
        info["pairs"] = [len(want["q_dedup_ngram"]), len(want["q_dedup_minhash"])]
        info["iterations"] = len(res["iterations"])
    elif workload == "cdc_bootstrap":
        e2e = e2e_iterations(res, sum(res["batch_records"]))
        with open(os.path.join(work, "main", "batches.json")) as f:
            ranges = json.load(f)
        attempted = sum(res["batch_records"]) * len(res["iterations"])
        failed = sum(failed_records(work, "topics", r, it["bad_roots"])
                     for it in res["iterations"] for r in ranges)
        bad = set().union(*(it["bad_roots"] for it in res["iterations"]))
        info["iterations"] = len(res["iterations"])
        info["docs"] = res["expected_docs"]
        info["docs_sha256"] = res["iterations"][-1]["docs_sha256"]
    else:
        with open(os.path.join(work, "live.json")) as f:
            live = json.load(f)
        e2e, extra = e2e_trickle(res, live, buckets)
        info.update(extra)
        if res["durable_layers"]:
            info["durable_layers"] = res["durable_layers"]
        # every change record of the timed phase: the bursts and the open loop
        ranges = {e: [live["warm_counts"][e], live["end_counts"][e]] for e in gen.ENTITIES}
        attempted = sum(b - a for a, b in ranges.values())
        failed = failed_records(work, "topics", ranges, res["bad_roots"])
        bad = set(res["bad_roots"])
        info["docs"] = res["expected_docs"]
        info["docs_sha256"] = res["docs_sha256"]
    e2e["setup_s"] = res["setup_s"]
    if "iterations" in res:
        info["iteration_s"] = [round(i["seconds"], 3) for i in res["iterations"]]
    info["host_probe_s"] = res["host_probe_s"]
    if bad:  # a wrong document always counts, even if no record maps to it
        failed = min(max(failed, len(bad)), attempted)
    info["bad"] = sorted(bad)[:20]
    info["failed_share"] = failed / attempted
    layers = {}
    if trace:
        layers = per_layer(workload, res, e2e, work)
    shutil.rmtree(work, ignore_errors=True)
    info["wall_s"] = round(time.time() - t_start, 1)
    return {"correct": not bad, "attempted": attempted, "failed": failed,
            "e2e": e2e, "layers": layers, "info": info, "trace_file": trace_file,
            "wall_s": time.time() - t_start}


def per_layer(workload, res, e2e, work):
    """Every per-layer metric of BENCHMARK.json; a layer a workload does
    not use reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    out = {n: 0.0 for n in names}
    out.update(res["layers"])
    out["host.probe_s_start"], out["host.probe_s_end"] = res["host_probe_s"]
    out["setup.wall_s"] = res["setup_wall_s"]
    out["trace.e2e_throughput_rps"] = e2e["throughput_rps"]
    if workload == "cdc_trickle":
        with open(os.path.join(work, "live.json")) as f:
            late = json.load(f)["late_ms"] or [0.0]
        out["gen.late_ms_p50"] = quantile(late, 0.5)
        out["gen.late_ms_max"] = max(late)
    return {n: out[n] for n in names}


def units(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def result_line(r, trace):
    if trace:
        u = units("per_layer")
        metrics = {n: metric(r["layers"][n], u[n]) for n in u}
    else:
        u = units("end_to_end")
        metrics = {n: metric(r["e2e"][n], u[n]) for n in u}
    return json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                       "failed": r["failed"], "metrics": metrics})


def smoke(cp):
    """One traced run of every workload on the smallest inputs; checks that
    every named metric is present with its unit and that every gate holds."""
    ok = True
    for w in WORKLOADS:
        r = one_run(cp, w, 1, 1, True, scale="smoke")
        missing = [n for kind, got in (("end_to_end", r["e2e"]), ("per_layer", r["layers"]))
                   for n in units(kind) if not isinstance(got.get(n), (int, float))]
        good = not missing and r["correct"] and r["failed"] == 0
        ok &= good
        print("smoke %-13s %s (%.0f s)%s" % (w, "ok" if good else "FAIL", r["wall_s"],
                                             " missing=%s" % missing if missing else ""))
    return ok


ROOT = os.getcwd()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--buckets", type=int, default=BUCKETS,
                    help="cdc_trickle state: 0 = memory backend (the benchmark's), "
                         "N = durable BucketedParquetBackend with N buckets")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        raise SystemExit("perfbench: run from the repository root (no BENCHMARK.json here)")
    cp = build.build()
    if a.smoke:
        sys.exit(0 if smoke(cp) else 1)
    if a.all:
        rows = []
        for w in WORKLOADS:
            for trace in (False, True):
                r = one_run(cp, w, a.seed, a.seconds, bool(trace), buckets=a.buckets)
                rows.append({"workload": w, "trace": trace, "result": json.loads(result_line(r, trace)),
                             "info": r["info"], "trace_file": r["trace_file"]})
                for n, m in rows[-1]["result"]["metrics"].items():
                    print("%-13s %-28s %14.4f %s" % (w, n, m["value"], m["unit"]))
        os.makedirs(".bench_out", exist_ok=True)
        with open(os.path.join(".bench_out", "all.json"), "w") as f:
            json.dump(rows, f, indent=1)
        print(json.dumps({"correct": all(r["result"]["correct"] for r in rows),
                          "attempted": sum(r["result"]["attempted"] for r in rows),
                          "failed": sum(r["result"]["failed"] for r in rows),
                          "metrics": {}}))
        return
    if not a.workload:
        ap.error("--workload, --all or --smoke is required")
    r = one_run(cp, a.workload, a.seed, a.seconds, bool(a.trace), buckets=a.buckets)
    print("info: " + json.dumps(r["info"]))
    if r["trace_file"]:
        print("trace: " + r["trace_file"])
    print(result_line(r, bool(a.trace)))


if __name__ == "__main__":
    main()
