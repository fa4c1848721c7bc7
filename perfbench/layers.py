"""Per-layer metrics of the traced pass (`--trace 1`).

Every traced run prints every name below; a layer that the workload does
not exercise reads 0 (the flight spans on a gate workload, for example).
Span counters come from the benchmark's own SparkListener: a span owns the
jobs that started while it was the innermost open span, and a lazy call
(a read, a transform) starts none, so its work shows in the span of the
action that later runs it.
"""

import statistics

UNITS = {"wall_s": "s", "driver_s": "s", "cpu_s": "s", "run_s": "s",
         "gc_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
         "input_records": "count", "shuffle_read_records": "count",
         "input_bytes": "bytes", "shuffle_write_bytes": "bytes",
         "spill_bytes": "bytes"}
ALL_COUNTERS = ["wall_s", "driver_s", "jobs", "stages", "tasks", "cpu_s",
                "run_s", "gc_s", "input_records", "input_bytes",
                "shuffle_write_bytes", "shuffle_read_records", "spill_bytes"]
BUILD_COUNTERS = ["wall_s", "driver_s", "jobs", "tasks", "cpu_s",
                  "input_records"]
APP_COUNTERS = ["wall_s", "jobs", "cpu_s", "input_records"]
TRAIN_SPANS = ["sources.read_csv", "operators.prepare", "ml.pipeline_fit",
               "ml.tree_train", "sources.sink_parquet", "sources.sink_csv",
               "ml.evaluate", "ml.save_model"]
SCORE_SPANS = ["ml.load_model", "sources.read_csv", "operators.prepare",
               "ml.score_transform", "sources.sink_parquet",
               "sources.sink_csv", "ml.evaluate"]

COMMON = [("plans.optimize_ms", "ms"), ("plans.physical_ms", "ms"),
          ("codegen.compile_count", "count"), ("codegen.compile_ms", "ms"),
          ("trace.overhead_frac", "ratio"), ("host.calib_s", "s"),
          ("host.steal_frac", "ratio"), ("host.loadavg", "load"),
          ("mem.peak_cached_mb", "MB"), ("mem.peak_live_heap_mb", "MB"),
          ("mem.peak_rss_mb", "MB")]
OPS = [("ops.gate_calls", "count"), ("ops.gate_p50_s", "s"),
       ("ops.gate_p75_s", "s"),
       ("ops.train_s", "s"), ("ops.score_s", "s"),
       ("ops.score_rows_per_s", "rows/s")]

HIGHER = {"ops.gate_calls", "ops.score_rows_per_s"}


def spec():
    """[(name, unit, better)] of every per-layer metric, in print order."""
    out = list(COMMON) + OPS
    out += [(f"entry.build.{c}", UNITS[c]) for c in BUILD_COUNTERS]
    out += [(f"exec.{c}", UNITS[c]) for c in ALL_COUNTERS]
    for app, spans in (("train", TRAIN_SPANS), ("score", SCORE_SPANS)):
        out += [(f"{app}.{c}", UNITS[c])
                for c in ["wall_s", "driver_s", "jobs", "input_records"]]
        out += [(f"{app}.{s}.{c}", UNITS[c]) for s in spans
                for c in APP_COUNTERS]
        out += [(f"{app}.jobs_untraced", "count"),
                (f"{app}.input_records_untraced", "count"),
                (f"{app}.scan_amplification", "ratio")]
    return [(n, u, "higher" if n in HIGHER else "lower") for n, u in out]


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(r, ops, pass_s, gates):
    """{name: {"value", "unit"}} for every name of spec(), from one run's
    result file `r`, its timed calls `ops` ({operation: [seconds]}, failed
    calls already charged), the untraced `pass_s` and the gate list (None
    on the flight workload)."""
    v = {n: 0.0 for n, _, _ in spec()}
    spans = r.get("spans", [])
    by_id = {s["id"]: s for s in spans}

    def parent_name(s):
        p = by_id.get(s["parent"])
        return p["name"] if p else ""

    def add(name, s, counters):
        for c in counters:
            v[f"{name}.{c}"] += s[c]

    v["plans.optimize_ms"] = sum(s["optimize_ms"] for s in spans
                                 if s["name"] == "pass")
    v["plans.physical_ms"] = sum(s["physical_ms"] for s in spans
                                 if s["name"] == "pass")
    # gates: compiled during the warm-up; flight: during the cold pass
    v["codegen.compile_count"] = r.get("codegen_count", 0.0)
    v["codegen.compile_ms"] = r.get("codegen_ms", 0.0)
    # only where the traced pass repeats a warm untraced one: the flight
    # replay runs warm after a cold pass, so there it stays 0
    if gates and pass_s > 0:
        v["trace.overhead_frac"] = r["traced_pass_s"] / pass_s - 1.0
    for k in ("host.calib_s", "host.steal_frac", "host.loadavg"):
        v[k] = _med(r.get(k, []))
    for k in ("peak_cached_mb", "peak_live_heap_mb", "peak_rss_mb"):
        v["mem." + k] = r[k]

    if gates:
        calls = [x for k in gates for x in ops.get(k, [])]
        v["ops.gate_calls"] = len(calls)
        v["ops.gate_p50_s"] = _med(calls)
        v["ops.gate_p75_s"] = statistics.quantiles(
            calls, n=4, method="inclusive")[2] if len(calls) > 1 else _med(calls)
    else:
        v["ops.train_s"] = _med(ops.get("train", []))
        v["ops.score_s"] = _med(ops.get("score", []))
        if v["ops.score_s"]:
            v["ops.score_rows_per_s"] = r["score_rows"] / v["ops.score_s"]

    for s in spans:
        name, parent = s["name"], parent_name(s)
        if name == "entry.build":
            add("entry.build", s, BUILD_COUNTERS)
        elif name == "exec":
            add("exec", s, ALL_COUNTERS)
        elif name in ("train", "score") and parent == "pass":
            add(name, s, ["wall_s", "driver_s", "jobs", "input_records"])
        elif parent in ("train", "score") and \
                name in (TRAIN_SPANS if parent == "train" else SCORE_SPANS):
            add(f"{parent}.{name}", s, APP_COUNTERS)
    for app in ("train", "score"):
        v[f"{app}.jobs_untraced"] = r.get(f"untraced.{app}.jobs", 0.0)
        v[f"{app}.input_records_untraced"] = r.get(
            f"untraced.{app}.input_records", 0.0)
        rows = r.get(f"{app}_rows", 0.0)
        if rows:
            v[f"{app}.scan_amplification"] = v[f"{app}.input_records"] / rows
    units = {n: u for n, u, _ in spec()}
    return {n: {"value": x, "unit": units[n]} for n, x in v.items()}
