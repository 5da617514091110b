#!/usr/bin/env python3
"""Plan identity check: for each named query, on this checkout's
classes and on a snapshot's, read the formatted physical plan of the
frame `graft.Explain` builds and every plan the build EXECUTED, normalize
the ids that differ from run to run, and diff them query by query.

The executed plans matter for queries that materialize their answer (the
IVM replays, the durable-state queries): the frame they return is a bare
checkpoint scan. They come from Spark's event log
(`SparkListenerSQLExecutionStart`). Concurrent waves run in any order,
so the two sides' plans are matched, not compared in sequence: plans
equal on both sides pair off first, then the remaining plans pair with
plans of the same root operator (`Execute
InsertIntoHadoopFsRelationCommand`, `HashAggregate`, ...) on the other
side, the most similar pair first. A plan left without a partner was
added or removed, and shifts no other pair.

The same event log gives the storage level of every persisted RDD (each
`SparkListenerStageSubmitted` event's `RDD Info` → `Storage Level`), so
a checkpoint or cache whose level changed shows up as well. Per query,
each RDD counts once, at the level other than NONE it was seen with,
and the two sides' sorted lists of levels are compared.

Normalized: expression ids (`#123`, `#123L`), plan ids (`[plan_id=7]`),
RDD ids (`MapPartitionsRDD[42]`), RDD call sites (`at localCheckpoint at
Dedup.scala:797`, a source line that any edit above it moves), JVM
lambda / object hash names and the random suffix of temp directories
(`graft_q_incr_durable8841…`). Any other difference, join strategy and
codegen stage included, is printed.

Output: one verdict line per query, then, for each query that differs,
the returned plan's diff, each paired plan's diff, the plans only one
side ran, and the storage levels' diff.

Both sides must be compiled (`sbt compile`, which writes
`target/scala-2.13/classes`). Each query runs in a fresh JVM per side.

Usage: python3 scripts/plan_diff.py --snapshot ../graft_parent \
         --sfdir <testdata>/sf0.1 q_dedup_ngram q_incr_durable ...
Exit status: 0 when every plan matches, 1 on any difference.
"""
import argparse, difflib, glob, json, os, re, shutil, subprocess, sys, tempfile

from bench_ab import REPO, jvm_cmd

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(RDD\[\] at [\w$]+) at [\w$.-]+\.(?:scala|java):\d+"),
     r"\1 at <site>"),
    (re.compile(r"\$\$Lambda[\w$/.]*(@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{6,}\b"), "@"),
    # Files.createTempDirectory(prefix) appends a random unsigned long
    (re.compile(r"(/[A-Za-z][\w.-]*?[A-Za-z_.-])\d{6,}(?=[/\]\s,']|$)"),
     r"\1<tmp>"),
]


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text


def run_explain(root, sfdir, query, logdir):
    """Run `graft.Explain` for one query on the classes under `root`,
    with Spark's event log written under `logdir`; return its stdout."""
    cmd = jvm_cmd(os.path.join(root, "target/scala-2.13/classes"), heap="4g")
    # JVM options go ahead of the class path and main class
    cmd[1:1] = ["-Dspark.eventLog.enabled=true",
                "-Dspark.eventLog.compress=false",
                f"-Dspark.eventLog.dir=file://{logdir}"]
    out = subprocess.run(
        cmd + ["graft.Explain", sfdir, query],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=1800)
    if out.returncode != 0:
        sys.exit(f"graft.Explain failed in {root} (exit {out.returncode})")
    return out.stdout


def level_name(sl):
    """A Spark `StorageLevel` name (MEMORY_AND_DISK, DISK_ONLY_2, ...) from
    its event-log JSON fields."""
    disk, mem = sl.get("Use Disk", False), sl.get("Use Memory", False)
    if sl.get("Use Off Heap", False):
        return "OFF_HEAP"
    if not (disk or mem):
        return "NONE"
    name = "MEMORY_AND_DISK" if disk and mem else "MEMORY_ONLY" if mem else "DISK_ONLY"
    if mem and not sl.get("Deserialized", False):
        name += "_SER"
    replication = sl.get("Replication", 1)
    return name + (f"_{replication}" if replication != 1 else "")


def executed(logdir):
    """The physical plan of every SQL execution in the event log, and the
    storage level of every RDD a stage ran with one other than NONE."""
    found, levels = [], {}
    # Spark 4 may write a rolling `eventlog_v2_<app>/` directory
    for path in glob.glob(os.path.join(logdir, "**"), recursive=True):
        if not os.path.isfile(path) or path.endswith(".crc"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event", "").endswith("SQLExecutionStart"):
                    found.append(ev["physicalPlanDescription"])
                elif ev.get("Event") == "SparkListenerStageSubmitted":
                    for rdd in ev["Stage Info"].get("RDD Info", []):
                        name = level_name(rdd.get("Storage Level", {}))
                        if name != "NONE":
                            levels[rdd["RDD ID"]] = name
    return found, sorted(levels.values())


# plan nodes that wrap the operator a plan is about
WRAPPERS = {"AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage",
            "BroadcastQueryStage", "TableCacheQueryStage"}
NODE = re.compile(r"^[\s:+|*-]*([A-Za-z][\w ]*?)(?: \(\d+\))?$")


def root_op(plan):
    """The first operator of a formatted physical plan's tree that is not
    an adaptive-execution wrapper."""
    for line in plan.splitlines():
        if not line.strip():
            break
        m = NODE.match(line)
        if m and "==" not in line and m.group(1) not in WRAPPERS:
            return m.group(1)
    return "?"


def plans(root, sfdir, query):
    """One query on the classes under `root`: the returned frame's plan
    lines, the executed plans and the persisted RDDs' sorted storage
    levels, normalized."""
    logdir = tempfile.mkdtemp(prefix="plan_diff_events_")
    try:
        returned = normalize(run_explain(root, sfdir, query, logdir))
        ran, levels = executed(logdir)
    finally:
        shutil.rmtree(logdir, ignore_errors=True)
    return returned.splitlines(), [normalize(p) for p in ran], levels


def match(snap, head):
    """Pair the two sides' executed plans: equal plans first, then, among
    plans of the same root operator, the most similar pair first.
    Returns (equal count, differing pairs, snapshot-only plans, HEAD-only
    plans)."""
    rest_head = list(head)
    rest_snap = []
    for p in snap:
        if p in rest_head:
            rest_head.remove(p)
        else:
            rest_snap.append(p)
    equal = len(snap) - len(rest_snap)
    scored = sorted(
        ((-difflib.SequenceMatcher(None, s.splitlines(), h.splitlines()).ratio(), i, j)
         for i, s in enumerate(rest_snap) for j, h in enumerate(rest_head)
         if root_op(s) == root_op(h)))
    pairs, used_s, used_h = [], set(), set()
    for _, i, j in scored:
        if i not in used_s and j not in used_h:
            used_s.add(i)
            used_h.add(j)
            pairs.append((rest_snap[i], rest_head[j]))
    removed = [p for i, p in enumerate(rest_snap) if i not in used_s]
    added = [p for j, p in enumerate(rest_head) if j not in used_h]
    return equal, sorted(pairs), sorted(removed), sorted(added)


def by_root(ps):
    counts = {}
    for p in ps:
        counts[root_op(p)] = counts.get(root_op(p), 0) + 1
    return ", ".join(f"{n} {op}" for op, n in sorted(counts.items()))


def compare(query, snap, head):
    """The verdict line for one query and the detail lines under it."""
    (s_ret, s_ran, s_lev), (h_ret, h_ran, h_lev) = snap, head
    equal, pairs, removed, added = match(s_ran, h_ran)
    detail = []
    ret_diff = list(difflib.unified_diff(s_ret, h_ret, "snapshot", "HEAD", lineterm=""))
    if ret_diff:
        detail += [f"--- {query}: returned plan"] + ret_diff
    for i, (s, h) in enumerate(pairs, 1):
        detail += [f"--- {query}: paired plan {i}/{len(pairs)} ({root_op(s)})"]
        detail += list(difflib.unified_diff(s.splitlines(), h.splitlines(),
                                            "snapshot", "HEAD", lineterm=""))
    for sign, side, ps in (("-", "snapshot", removed), ("+", "HEAD", added)):
        for p in ps:
            detail += [f"--- {query}: {root_op(p)}, run by {side} only"]
            detail += [sign + line for line in p.splitlines()]
    lev_diff = list(difflib.unified_diff(s_lev, h_lev, "snapshot", "HEAD", lineterm=""))
    if lev_diff:
        detail += [f"--- {query}: persisted RDD storage levels"] + lev_diff
    if not detail:
        return (f"{query}: identical (returned plan, {len(h_ran)} executed plans, "
                f"{len(h_lev)} persisted RDDs)"), []
    verdict = (f"{query}: DIFFERS: returned plan {'differs' if ret_diff else 'same'}; "
               f"executed {len(s_ran)} -> {len(h_ran)}: {equal} equal, "
               f"{len(pairs)} paired with differences, {len(removed)} snapshot only"
               + (f" ({by_root(removed)})" if removed else "")
               + f", {len(added)} HEAD only" + (f" ({by_root(added)})" if added else "")
               + f"; storage levels {'differ' if lev_diff else 'same'}")
    return verdict, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--snapshot", required=True,
                    help="compiled checkout of the commit to compare against")
    ap.add_argument("--sfdir", required=True,
                    help="scale-factor directory of input parquet tables")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    snapshot = os.path.abspath(args.snapshot)
    verdicts, details = [], []
    for q in args.queries:
        head = plans(REPO, args.sfdir, q)
        if f"========== {q} ==========" not in head[0]:
            sys.exit(f"no plan printed for {q}")
        verdict, detail = compare(q, plans(snapshot, args.sfdir, q), head)
        print(verdict, flush=True)
        verdicts.append(verdict)
        details += detail
    if details:
        print("\n" + "\n".join(details))
    differ = sum(" DIFFERS: " in v for v in verdicts)
    print(f"\n{len(verdicts) - differ} of {len(verdicts)} queries identical")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
