#!/usr/bin/env python3
"""Plan identity check: print `graft.Explain`'s formatted physical plans
for the named queries on this checkout's classes and on a snapshot's
classes, normalize the ids that differ from run to run, and diff them.

Normalized: expression ids (`#123`, `#123L`), plan ids (`[plan_id=7]`),
RDD ids (`MapPartitionsRDD[42]`) and JVM lambda / object hash names. Any
other difference, join strategy and codegen stage included, is printed.

Both sides must be compiled (`sbt compile`, which writes
`target/scala-2.13/classes`). Each side runs in one fresh JVM.

Usage: python3 scripts/plan_diff.py --snapshot ../graft_parent \
         --sfdir <testdata>/sf0.1 q_dedup_ngram q_dedup_minhash ...
Exit status: 0 when every plan matches, 1 on any difference.
"""
import argparse, difflib, os, re, subprocess, sys

from bench_ab import REPO, jvm_cmd

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\$\$Lambda[\w$/.]*(@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{6,}\b"), "@"),
]


def plans(root, sfdir, queries):
    """The Explain output of `queries` on the classes under `root`,
    normalized, one line per list entry."""
    out = subprocess.run(
        jvm_cmd(os.path.join(root, "target/scala-2.13/classes"), heap="4g")
        + ["graft.Explain", sfdir] + queries,
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=1800)
    if out.returncode != 0:
        sys.exit(f"graft.Explain failed in {root} (exit {out.returncode})")
    text = out.stdout
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text.splitlines()


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
    print(f"plans identical for {len(args.queries)} queries "
          f"({len(head)} lines)")


if __name__ == "__main__":
    main()
