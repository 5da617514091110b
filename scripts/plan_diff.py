#!/usr/bin/env python3
"""Plan identity check: for each named query, on this checkout's
classes and on a snapshot's, read the formatted physical plan of the
frame `graft.Explain` builds and every plan the build EXECUTED, normalize
the ids that differ from run to run, and diff them.

The executed plans matter for queries that materialize their answer (the
IVM replays, the durable-state queries): the frame they return is a bare
checkpoint scan. They come from Spark's event log
(`SparkListenerSQLExecutionStart`) and are compared as a sorted list,
because concurrent waves run in any order.

The same event log gives the storage level of every persisted RDD (each
`SparkListenerStageSubmitted` event's `RDD Info` → `Storage Level`), so
a checkpoint or cache whose level changed shows up as well. Per query,
each RDD counts once, at the level other than NONE it was seen with,
and the two sides' sorted lists of levels are compared.

Normalized: expression ids (`#123`, `#123L`), plan ids (`[plan_id=7]`),
RDD ids (`MapPartitionsRDD[42]`), RDD call sites (`at localCheckpoint at
Dedup.scala:797`, a source line that any edit above it moves), JVM
lambda / object hash names, the
random suffix of temp directories (`graft_q_incr_durable8841…`) and the
catalog tables (`graft_state_<instance>_<seq>`, whose sequence follows
the order in which concurrent persists run) that the durable backend
registered before it wrote and read its generations by path. The
current code registers none; that rule stays only so a diff against
such an older snapshot lines up. Any other difference, join strategy
and codegen stage included, is printed.

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
    (re.compile(r"graft_state_\d+_\d+"), "graft_state_<i>_<n>"),
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


def plans(root, sfdir, queries):
    """Per query, on the classes under `root`: the returned frame's plan,
    the executed plans, sorted, then the persisted RDDs' storage levels,
    sorted. Normalized, one line per entry."""
    lines = []
    for q in queries:
        logdir = tempfile.mkdtemp(prefix="plan_diff_events_")
        try:
            returned = normalize(run_explain(root, sfdir, q, logdir))
            ran, levels = executed(logdir)
            ran = sorted(normalize(p) for p in ran)
        finally:
            shutil.rmtree(logdir, ignore_errors=True)
        lines += returned.splitlines()
        lines.append(f"---------- {q}: {len(ran)} executed plans ----------")
        for plan in ran:
            lines += plan.splitlines() + [""]
        lines.append(f"---------- {q}: {len(levels)} persisted RDDs ----------")
        lines += levels
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--snapshot", required=True,
                    help="compiled checkout of the commit to compare against")
    ap.add_argument("--sfdir", required=True,
                    help="scale-factor directory of input parquet tables")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    head = plans(REPO, args.sfdir, args.queries)
    snap = plans(os.path.abspath(args.snapshot), args.sfdir, args.queries)
    for q in args.queries:
        if f"========== {q} ==========" not in head:
            sys.exit(f"no plan printed for {q}")
    diff = list(difflib.unified_diff(snap, head, "snapshot", "HEAD",
                                     lineterm=""))
    if diff:
        print("\n".join(diff))
        print(f"\nplans differ ({len(diff)} diff lines)")
        sys.exit(1)
    print(f"plans and storage levels identical for {len(args.queries)} queries "
          f"({len(head)} lines)")


if __name__ == "__main__":
    main()
