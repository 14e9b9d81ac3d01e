#!/usr/bin/env python3
"""Count repeatability self-check: two traced runs with one seed must
give identical work counts per op.

    python3 perfbench/repeat_check.py A B

A and B are trace reports of the same workload and seed (`run.py
--trace 1`, run twice; or directories of such reports, paired by
workload). For each op of the cycle the check compares the counts
taken on its first traced execution: lexer tokens, plan nodes,
exchanges, Spark jobs and construction jobs. Every count that differs
is printed; the exit code is 1 if any does. Byte and time counters are
not compared: shuffle bytes and timings need not repeat.
"""
import sys

sys.dont_write_bytecode = True
from layer_diff import load  # noqa: E402

COUNTS = ["tokens", "plan_nodes", "exchanges", "jobs", "construct_jobs"]


def compare(a, b):
    """Mismatch lines for two reports of one workload."""
    out = []
    if a.get("seed") != b.get("seed"):
        out.append(f"seeds differ: {a.get('seed')} vs {b.get('seed')}")
    ca, cb = a["repeat_counts"], b["repeat_counts"]
    for seq in sorted(set(ca) & set(cb), key=int):
        for k in COUNTS:
            if ca[seq].get(k) != cb[seq].get(k):
                out.append(f"op {seq}: {k} {ca[seq].get(k)} != {cb[seq].get(k)}")
    return out, len(set(ca) & set(cb))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    ra, rb = load(sys.argv[1]), load(sys.argv[2])
    bad = False
    for w in sorted(set(ra) & set(rb)):
        mism, n = compare(ra[w], rb[w])
        print(f"{w}: {n} ops compared, {len(mism)} counts differ")
        for m in mism:
            print("  " + m)
        bad = bad or bool(mism)
    sys.exit(1 if bad else 0)
