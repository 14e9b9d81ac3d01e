#!/usr/bin/env python3
"""Where did the time go: diff two traced runs layer by layer.

    python3 perfbench/layer_diff.py BASE NEW

BASE and NEW are trace reports written by `run.py --trace 1`
(`<build dir>/out/trace-<workload>-seed<n>.json`) or directories of
them; reports are paired by workload. For each workload the tool
prints, per span, the self time per op on both sides with the delta
and its base, then every per-layer metric the same way, so a saving
claimed for one layer can be located in that layer's self time or
counts.
"""
import glob
import json
import os
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "trace-*.json"))) \
        if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        out[r["workload"]] = r
    return out


def fmt(x):
    return f"{x:.6g}"


def row(name, a, b, unit=""):
    d = b - a
    rel = f"{d / a:+.1%} of {fmt(a)}" if a else ("n/a" if d else "0")
    return f"  {name:36s} {fmt(a):>12s} {fmt(b):>12s} {d:+12.6g}  {rel} {unit}"


def diff(base, new):
    lines = []
    for w in sorted(set(base) | set(new)):
        if w not in base or w not in new:
            lines.append(f"== {w}: only in {'NEW' if w in new else 'BASE'}")
            continue
        a, b = base[w], new[w]
        lines.append(f"== {w} (seed {a.get('seed')} vs {b.get('seed')}, "
                     f"{a['traced_ops']} vs {b['traced_ops']} traced ops)")
        lines.append(f"  {'self ms per op':36s} {'BASE':>12s} {'NEW':>12s} {'delta':>12s}")
        names = sorted(set(a["self_ms_per_op"]) | set(b["self_ms_per_op"]))
        for n in names:
            lines.append(row(n, a["self_ms_per_op"].get(n, 0.0),
                             b["self_ms_per_op"].get(n, 0.0), "ms"))
        lines.append(f"  {'per-layer metric':36s} {'BASE':>12s} {'NEW':>12s} {'delta':>12s}")
        for n, (va, unit) in a["per_layer"].items():
            vb = b["per_layer"].get(n, [0.0, unit])[0]
            lines.append(row(n, va, vb, unit))
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    print(diff(load(sys.argv[1]), load(sys.argv[2])))
