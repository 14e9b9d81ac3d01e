#!/usr/bin/env python3
"""The project's benchmark: one seeded workload, run end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the project and the harness from source (perfbench/build.py),
writes a seeded fixture (perfbench/fixture.py) and op stream
(perfbench/workloads.py), runs the harness (perfbench/scala) on
`local[<cpus>]` in one JVM, checks every verified result against
DuckDB (perfbench/oracle.py), and prints one JSON object as the last
line of stdout. `--trace 0` reports the end-to-end metrics; `--trace 1`
reports the per-layer split of a traced run and writes its full trace
report (spans, self times, per-op counts, tracing overhead) to
`<build dir>/out/`. `--seconds` sets how many whole passes are timed
(workloads.timed_passes). Metric definitions: perfbench/METRICS.md.

Workloads: dialect_serve, pipeline_iterative, dml_mixed.
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
# the checkout stays as committed: no bytecode caches beside the sources
sys.dont_write_bytecode = True

import build  # noqa: E402
import fixture  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402
from layers import pct  # noqa: E402

SETUPS = 3
# local[CPUS]: at most 4 cores, so hosts with more cores run the same
# parallelism
CPUS = min(4, len(os.sched_getaffinity(0)))
# a run must end within 180 s; the JVM gets what is left after the
# build, the fixture and a margin for the oracle
RUN_LIMIT_S = 175
JVM_OPTS = ["-Xmx2g", "-Xss8m", "-Duser.timezone=UTC"] + [
    x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

E2E = [("setup_s", "s"), ("op_ms_p50", "ms"), ("op_ms_p90", "ms"),
       ("compile_ms_p50", "ms"), ("pass_s", "s"), ("cpu_ms_per_op", "ms"),
       ("retained_heap_mb", "MB")]


def compile_samples(workload, ops):
    """Ops whose compile time means "call to a returned DataFrame"."""
    if workload == "dml_mixed":
        return [d["compile_ms"] for d in ops if d["kind"] == "read"]
    return [d["compile_ms"] for d in ops]


def e2e_metrics(workload, out, phase, setup):
    ops = [d for d in out["done"] if d["phase"] == phase]
    passes = [p for p in out["passes"] if p["phase"] == phase]
    comp = compile_samples(workload, ops)
    lat = [d["total_ms"] for d in ops]
    cpu = sum(p["cpu_ms"] for p in passes) / max(1, len(ops))
    return {
        "setup_s": setup,
        "op_ms_p50": pct(lat, 50), "op_ms_p90": pct(lat, 90),
        "compile_ms_p50": pct(comp, 50), "compile_ms_p90": pct(comp, 90),
        "pass_s": statistics.median(p["seconds"] for p in passes),
        "cpu_ms_per_op": cpu,
        "retained_heap_mb": out["retained_heap_mb"],
    }


def judge(workload, doc, out, data_dir, work):
    """Mark each executed op failed when it threw, when its key failed
    the oracle, or when its fold differs from the verified pass."""
    import oracle  # imports tools/check.py, so only once the build found the project
    bad = oracle.check(workload, doc, out, data_dir, work)
    ref = {}
    for d in out["done"]:
        if d["phase"] == "verify" and not d["error"]:
            ref.setdefault(d["key"], d["fold"])
    for d in out["done"]:
        why = d["error"] or bad.get(d["key"])
        if not why and ref.get(d["key"]) != d["fold"]:
            why = f"fold {d['fold']} != verified {ref.get(d['key'])}"
        d["failure"] = why
    return bad


def run_jvm(cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(
            ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                   "perfbench.Main"] + args,
            stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness exceeded {timeout:.0f} s")


def prune(parent, keep):
    """Keep the `keep` most recently used entries of `parent`."""
    if not os.path.isdir(parent):
        return
    entries = sorted((os.path.join(parent, e) for e in os.listdir(parent)),
                     key=os.path.getmtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e, ignore_errors=True)


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    try:
        cp = build.build(bdir)
    except RuntimeError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)

    t_built = time.monotonic()
    doc, sf = workloads.generate(a.workload, a.seed)
    data_dir = os.path.join(bdir, "data", f"sf{sf}-seed{a.seed}")
    prune(os.path.join(bdir, "data"), 4)
    fixture.generate(data_dir, a.seed, sf)
    os.utime(data_dir)

    work = os.path.join(bdir, "work", f"{a.workload}-seed{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    prune(os.path.join(bdir, "work"), 3)
    os.makedirs(work)
    ops_file = os.path.join(work, "ops.json")
    with open(ops_file, "w") as f:
        json.dump(doc, f)
    out_file = os.path.join(work, "out.json")
    t_inputs = time.monotonic()
    timeout = RUN_LIMIT_S - 15 - (time.monotonic() - t_start)
    passes = workloads.timed_passes(a.workload, a.seconds)
    rc = run_jvm(cp, [a.workload, data_dir, work, ops_file, out_file,
                      str(passes), str(a.trace), str(CPUS), str(SETUPS)],
                 work, timeout)
    if rc != 0 or not os.path.exists(out_file):
        tail = open(os.path.join(work, "harness.log")).read()[-3000:]
        print(f"perfbench: harness exited {rc}\n{tail}", file=sys.stderr)
        sys.exit(3)
    with open(out_file) as f:
        out = json.load(f)
    for d in out["done"]:
        d["phase"] = next(p["phase"] for p in out["passes"]
                          if p["pass"] == d["pass"])
    t_ran = time.monotonic()
    bad = judge(a.workload, doc, out, data_dir, work)
    print(f"phases: build {t_built - t_start:.1f} s, inputs {t_inputs - t_built:.1f} s, "
          f"harness {t_ran - t_inputs:.1f} s, oracle {time.monotonic() - t_ran:.1f} s")
    for key, why in sorted(bad.items()):
        print(f"oracle FAIL {key}: {why}")
    failed = [d for d in out["done"] if d["failure"]]
    for d in failed[:10]:
        print(f"op FAIL seq={d['seq']} pass={d['pass']} {d['key']}: {d['failure']}")
    attempted = len(out["done"])
    setup = statistics.median(out["setup_s"])
    untraced = e2e_metrics(a.workload, out, "timed", setup)
    n_timed = sum(d["phase"] == "timed" for d in out["done"])
    print(f"workload={a.workload} seed={a.seed} sf={sf} cpus={out['cpus']} "
          f"timed_ops={n_timed} passes={sum(p['phase'] == 'timed' for p in out['passes'])} "
          f"failed_frac={len(failed) / attempted:.6f}")
    if a.trace:
        traced = e2e_metrics(a.workload, out, "traced", setup)
        report = layers.report(a.workload, out, untraced, traced)
        report.update({"seed": a.seed, "sf": sf, "seconds": a.seconds})
        os.makedirs(os.path.join(bdir, "out"), exist_ok=True)
        path = os.path.join(bdir, "out", f"trace-{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"trace report: {path}")
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in report["per_layer"].items()}
    else:
        metrics = {k: {"value": untraced[k], "unit": u} for k, u in E2E}
    for k, m in metrics.items():
        print(f"  {k} = {m['value']!r} {m['unit']}")
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
