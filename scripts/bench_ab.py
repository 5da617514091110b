#!/usr/bin/env python3
"""A/B bench protocol (BENCH_AB_r10.md): HEAD vs a snapshot worktree,
same host, back-to-back ALTERNATING fresh-JVM sessions, N rounds each;
HEAD runs first in odd rounds and the snapshot in even ones.

Decides code-vs-host for a round-over-round drift: if the two builds'
timing distributions overlap when interleaved on the same host in the
same hour, the drift was session/host contamination, not a code
regression.

The HEAD side runs graft.BenchShard (one-query session, TSV handoff).
The snapshot side predates BenchShard, so it runs its own graft.Bench
filtered to the query (SPARK_GRAFT_ONLY + GRAFT_BENCH_OUT) — both
sides are a fresh JVM, table warm-up, best-of-2 over the same query,
blocking release between passes: the measurement protocol is
identical.

Usage: python3 scripts/bench_ab.py --query q_stream_quantile \
         --snapshot /tmp/graft_r11 [--rounds 5] [--cpus N]

`--cpus` defaults to the host's `nproc` and the JVM heap to half its
memory, clamped to 2-8 g, as the Tier-1 command sizes them.
"""
import argparse, json, os, statistics, subprocess, sys, tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def host_cpus():
    """`nproc`: the CPUs this process may run on."""
    return str(len(os.sched_getaffinity(0)))


def host_heap():
    """Half of MemTotal in whole GiB, clamped to 2-8 g; 2g when
    /proc/meminfo is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{min(max(kb // 2097152, 2), 8)}g"


def jvm_cmd(classes, heap=None):
    heap = heap or host_heap()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":/opt/spark/jars/*"]
    return cmd


def run_head(query, sfdir, cpus):
    out = tempfile.mktemp(prefix="ab_head_", suffix=".tsv")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir, SPARK_GRAFT_CPUS=cpus,
               GRAFT_SHARD_QUERIES=query, GRAFT_SHARD_OUT=out)
    try:
        subprocess.run(
            jvm_cmd(os.path.join(REPO, "target/scala-2.13/classes"))
            + ["graft.BenchShard"],
            env=env, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=900)
    except subprocess.TimeoutExpired:
        print(f"  HEAD round timed out (>900s) for {query}", flush=True)
        return None
    for line in open(out):
        f = line.rstrip().split("\t")
        if f[0] == "Q" and f[1] == query:
            return float(f[2])
    print(f"  HEAD run produced no result for {query}", flush=True)
    return None


def run_snapshot(snapdir, query, sfdir, cpus):
    out = tempfile.mktemp(prefix="ab_snap_", suffix=".json")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir, SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_ONLY=query, GRAFT_BENCH_OUT=out)
    try:
        subprocess.run(
            jvm_cmd(os.path.join(snapdir, "target/scala-2.13/classes"))
            + ["graft.Bench"],
            env=env, cwd=snapdir, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=900)
    except subprocess.TimeoutExpired:
        print(f"  snapshot round timed out (>900s) for {query}", flush=True)
        return None
    try:
        return json.load(open(out))["queries"][query]
    except (FileNotFoundError, KeyError, json.JSONDecodeError):
        print(f"  snapshot run produced no result for {query}", flush=True)
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True)
    ap.add_argument("--snapshot", required=True,
                    help="compiled worktree of the old commit")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--cpus", default=host_cpus())
    ap.add_argument("--sfdir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    head, snap = [], []
    for i in range(args.rounds):
        # alternate which side runs first, so host drift within a round
        # does not always favour one side
        head_first = i % 2 == 0
        if head_first:
            h = run_head(args.query, args.sfdir, args.cpus)
        s = run_snapshot(args.snapshot, args.query, args.sfdir, args.cpus)
        if not head_first:
            h = run_head(args.query, args.sfdir, args.cpus)
        if h is not None:
            head.append(h)
        if s is not None:
            snap.append(s)
        hs = "fail" if h is None else f"{h:.3f}s"
        ss = "fail" if s is None else f"{s:.3f}s"
        order = "HEAD first" if head_first else "snapshot first"
        print(f"round {i + 1} ({order}): HEAD={hs} snapshot={ss}", flush=True)
    if not head or not snap:
        sys.exit("no completed rounds on one side; cannot compare "
                 f"(HEAD={len(head)}, snapshot={len(snap)})")

    def desc(xs):
        return (f"min={min(xs):.3f} median={statistics.median(xs):.3f} "
                f"max={max(xs):.3f}")
    print(f"\nHEAD     ({len(head)}): {desc(head)}")
    print(f"snapshot ({len(snap)}): {desc(snap)}")
    ratio = statistics.median(head) / statistics.median(snap)
    print(f"median ratio HEAD/snapshot = {ratio:.3f}")
    overlap = min(max(head), max(snap)) >= max(min(head), min(snap))
    print("distributions overlap: " + ("YES (host variance, not code)"
                                       if overlap else "NO (code effect)"))


if __name__ == "__main__":
    main()
