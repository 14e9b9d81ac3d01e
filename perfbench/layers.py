"""Per-layer split of a traced run: self times from the spans, counts
from the per-op records and the job listener, and the tracing overhead
(traced minus untraced end-to-end medians of the same run).
"""
import math
from collections import defaultdict

# (metric, unit) in the order they are printed
PER_LAYER = [
    ("frontend.Lexer.tokens", "count"), ("frontend.Parser.parse_us", "us"),
    ("frontend.Analyzer.analyze_us", "us"), ("frontend.Binder.bind_us", "us"),
    ("frontend.Lowering.lower_ms", "ms"), ("frontend.alloc_kb", "KiB"),
    ("frontend.compile_ms_p90", "ms"),
    ("Tables.load_ms", "ms"), ("Tables.load_calls", "count"),
    ("Tables.load_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.plan_nodes", "count"),
    ("catalyst.exchanges", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_cpu_ms", "ms"), ("exec.task_run_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.busy_frac", "ratio"),
    ("exec.failed_tasks", "count"),
    ("pipeline.construct_ms", "ms"), ("pipeline.construct_jobs", "count"),
    ("pipeline.execute_ms", "ms"), ("pipeline.execute_jobs", "count"),
    ("pipeline.construct_busy_frac", "ratio"),
    ("managed.exec_ms", "ms"), ("managed.write_jobs", "count"),
    ("managed.records_written", "count"), ("managed.bytes_written", "bytes"),
    ("managed.rewrite_frac", "ratio"), ("managed.files_live", "count"),
    ("managed.write_ms_p50", "ms"), ("managed.write_ms_p90", "ms"),
    ("managed.read_ms_p50", "ms"), ("managed.read_ms_p90", "ms"),
]
OVERHEAD = [("op_ms_p50", "ms"), ("op_ms_p90", "ms"), ("compile_ms_p50", "ms"),
            ("compile_ms_p90", "ms"), ("pass_s", "s"), ("cpu_ms_per_op", "ms")]
# jobs the harness itself submits after an op (table statistics)
HARNESS_LAYERS = {"stats"}


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def pct(xs, q):
    """Linear-interpolated percentile `q` (0..100) of `xs`; 0 when empty."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def report(workload, out, untraced, traced):
    cpus = out["cpus"]
    per_op = out["per_op"]
    spans = [dict(zip(["id", "name", "parent", "op", "start", "end", "alloc"], s))
             for s in out["spans"]]
    by_op = defaultdict(list)
    for s in spans:
        s["ms"] = (s["end"] - s["start"]) / 1e6
        by_op[s["op"]].append(s)
    child_ms = defaultdict(float)
    for s in spans:
        if s["parent"] >= 0:
            child_ms[s["parent"]] += s["ms"]
    for s in spans:
        s["self_ms"] = s["ms"] - child_ms[s["id"]]
    jobs = defaultdict(list)
    for j in out["jobs"]:
        if j["layer"] not in HARNESS_LAYERS:
            jobs[j["op"]].append(j)

    def spans_of(inst, name):
        return [s for s in by_op[inst] if s["name"] == name]

    def per(name, field="ms", ops=None):
        """Mean over the ops that have span `name` of its summed field."""
        vals = []
        for r in ops if ops is not None else per_op:
            ss = spans_of(r["inst"], name)
            if ss:
                vals.append(sum(s[field] for s in ss))
        return mean(vals)

    def jobs_of(r, layers=None):
        return [j for j in jobs[r["inst"]]
                if layers is None or j["layer"] in layers]

    m = {}
    m["frontend.Lexer.tokens"] = mean(r["tokens"] for r in per_op if "tokens" in r)
    m["frontend.Parser.parse_us"] = per("parse") * 1000
    m["frontend.Analyzer.analyze_us"] = per("analyze") * 1000
    m["frontend.Binder.bind_us"] = per("bind") * 1000
    m["frontend.Lowering.lower_ms"] = per("lower", "self_ms")
    fe = ["lex", "parse", "analyze", "bind", "lower"]
    m["frontend.alloc_kb"] = mean(
        sum(s["alloc"] for s in by_op[r["inst"]] if s["name"] in fe) / 1024
        for r in per_op if any(s["name"] in fe for s in by_op[r["inst"]]))
    lowered = [r for r in per_op if spans_of(r["inst"], "lower")]
    m["Tables.load_ms"] = mean(sum(s["ms"] for s in spans_of(r["inst"], "load"))
                               for r in lowered)
    m["Tables.load_calls"] = mean(len(spans_of(r["inst"], "load")) for r in lowered)
    m["Tables.load_jobs"] = mean(len(jobs_of(r, {"load"})) for r in lowered)
    queried = [r for r in per_op if r["kind"] != "write"]
    for k in ["analysis_ms", "optimization_ms", "planning_ms", "plan_nodes",
              "exchanges"]:
        m[f"catalyst.{k}"] = mean(r[k] for r in queried)
    op_ms = {r["inst"]: sum(s["ms"] for s in spans_of(r["inst"], "op"))
             for r in per_op}
    for k, f in [("jobs", None), ("stages", "stages"), ("tasks", "tasks"),
                 ("task_cpu_ms", "cpu_ms"), ("task_run_ms", "run_ms"),
                 ("gc_ms", "gc_ms"), ("shuffle_read_bytes", "shuffle_read_bytes"),
                 ("shuffle_write_bytes", "shuffle_write_bytes"),
                 ("spill_bytes", "spill_bytes"), ("failed_tasks", "failed_tasks")]:
        m[f"exec.{k}"] = mean(len(jobs_of(r)) if f is None else
                              sum(j[f] for j in jobs_of(r)) for r in per_op)
    m["exec.busy_frac"] = (sum(j["run_ms"] for r in per_op for j in jobs_of(r)) /
                           max(1e-9, sum(op_ms.values()) * cpus))
    entries = [r for r in per_op if r["kind"] == "entry"]
    m["pipeline.construct_ms"] = per("construct", ops=entries) if entries else 0.0
    m["pipeline.construct_jobs"] = mean(len(jobs_of(r, {"construct"})) for r in entries)
    m["pipeline.execute_ms"] = mean(
        sum(s["ms"] for s in spans_of(r["inst"], "plan") + spans_of(r["inst"], "execute"))
        for r in entries)
    m["pipeline.execute_jobs"] = mean(len(jobs_of(r, {"plan", "execute"}))
                                      for r in entries)
    c_run = sum(j["run_ms"] for r in entries for j in jobs_of(r, {"construct"}))
    c_ms = sum(s["ms"] for r in entries for s in spans_of(r["inst"], "construct"))
    m["pipeline.construct_busy_frac"] = c_run / (c_ms * cpus) if c_ms else 0.0
    writes = [r for r in per_op if r["kind"] == "write"]
    m["managed.exec_ms"] = per("managed.exec", ops=writes) if writes else 0.0
    m["managed.write_jobs"] = mean(len(jobs_of(r, {"managed.exec"})) for r in writes)
    m["managed.records_written"] = mean(
        sum(j["records_written"] for j in jobs_of(r, {"managed.exec"})) for r in writes)
    m["managed.bytes_written"] = mean(
        sum(j["bytes_written"] for j in jobs_of(r, {"managed.exec"})) for r in writes)
    m["managed.rewrite_frac"] = mean(
        sum(j["records_written"] for j in jobs_of(r, {"managed.exec"})) /
        max(1, r["live_rows"]) for r in writes)
    m["managed.files_live"] = mean(r["files_live"] for r in writes)
    timed = [d for d in out["done"] if d["phase"] == "timed"]
    m["frontend.compile_ms_p90"] = untraced["compile_ms_p90"]
    for kind, name in [("write", "write"), ("read", "read")]:
        xs = [d["total_ms"] for d in timed if d["kind"] == kind]
        m[f"managed.{name}_ms_p50"] = pct(xs, 50)
        m[f"managed.{name}_ms_p90"] = pct(xs, 90)

    self_ms = defaultdict(float)
    for s in spans:
        if s["op"] >= 0:
            self_ms[s["name"]] += s["self_ms"]
    n = max(1, len(per_op))
    counts = {}
    for r in sorted(per_op, key=lambda r: r["inst"]):
        key = str(r["seq"])
        if key in counts:
            continue
        counts[key] = {"tokens": r.get("tokens", 0),
                       "plan_nodes": r.get("plan_nodes", 0),
                       "exchanges": r.get("exchanges", 0),
                       "jobs": len(jobs_of(r)),
                       "construct_jobs": len(jobs_of(r, {"construct"}))}
    per_layer = {k: (m[k], u) for k, u in PER_LAYER}
    for k, u in OVERHEAD:
        per_layer[f"trace.overhead.{k}"] = (traced[k] - untraced[k], u)
    return {
        "workload": workload, "cpus": cpus, "traced_ops": len(per_op),
        "per_layer": per_layer,
        "self_ms_per_op": {k: v / n for k, v in sorted(self_ms.items())},
        "untraced": untraced, "traced": traced,
        "repeat_counts": counts,
        "spans": out["spans"],
    }
