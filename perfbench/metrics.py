"""Metric math for the benchmark: medians, span self time, the union of
Spark job intervals, and the reduction of one measured process's call
records to the end-to-end and per-layer metrics BENCHMARK.json lists.
A Spark counter that never fired in a call is absent from its record."""

import statistics

# Counters that must repeat exactly for the same code, input and seed
# (checked between the traced calls of one run, and between two traced
# runs by determinism.py). Every other per-layer metric is a timing or a
# ratio of timings.
EXACT = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.file_scans",
    "spark.input_rows", "spark.shuffle_write_records",
    "validation.rules", "validation.rules_fused", "validation.fused_share",
    "validation.scans_per_rule",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.candidate_precision",
    "dedup.capped_buckets", "dedup.kept_docs",
]

# Exact counters that are not exact on one workload, and why. On
# curate_corpus one traced call in about ten runs skips a 1-task shuffle
# job over the whole corpus: which adaptive-execution stages still run
# depends on the order in which concurrent stages finish.
NOT_EXACT_ON = {
    "curate_corpus": ["spark.jobs", "spark.stages", "spark.tasks",
                      "spark.shuffle_write_records"],
}


def exact(workload):
    """The counters that must repeat exactly on `workload`."""
    return [k for k in EXACT if k not in NOT_EXACT_ON.get(workload, [])]

# Spans the benchmark records around its calls into each module.
SPANS = ["sources.load", "cli.render", "model.json", "profiler.profile",
         "validation.generate", "validation.load_rules", "validation.run",
         "text.quality", "text.lm_score", "dedup.drop"]

PASSES = ["A_fused_agg", "A1_distinct", "A2_percentiles", "B_duplicates",
          "C_frequent_values", "D_outliers", "E_samples", "F_nested"]

SPARK_COUNTS = ["jobs", "stages", "tasks", "file_scans", "input_rows", "input_bytes",
                "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
                "spill_bytes", "result_bytes", "block_write_bytes"]


def median(values):
    """Median and sample count."""
    return statistics.median(values), len(values)


def iqr_share(values):
    """Distance between the first and third quartile, as a share of the
    median (`statistics.quantiles(values, n=4)`)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ([start, end] pairs), clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(spans, name):
    """Summed self time of the spans called `name`: each span's duration
    minus the part of it covered by its children's spans. `spans` are
    (name, parent, start, end) with the parent given by name."""
    total = 0
    for n, _, s, e in spans:
        if n != name:
            continue
        children = [(cs, ce) for cn, cp, cs, ce in spans if cp == name and cn != name]
        total += (e - s) - union_length(children, s, e)
    return total


def span_total(spans, name):
    return sum(e - s for n, _, s, e in spans if n == name)


def layer_metrics(call, cores):
    """Per-layer metrics of one traced call record."""
    spans = call["spans"]
    counters = call["counters"]
    facts = call.get("facts", {})  # absent when the call threw

    def c(key):
        return counters.get(key, 0)

    out = {}
    for name in SPANS:
        out[f"{name}_s"] = span_total(spans, name) / 1e9
    for p in PASSES:
        out[f"profiler.pass.{p}_s"] = span_total(spans, f"profiler.pass.{p}") / 1e9
    out["profiler.self_s"] = self_time(spans, "profiler.profile") / 1e9
    out["call.self_s"] = self_time(spans, "call") / 1e9

    rules = facts.get("rule_count", 0)
    fused = c("rules_fused")
    out["validation.rules"] = rules
    out["validation.rules_fused"] = fused
    out["validation.fused_share"] = fused / rules if rules else 0.0
    out["validation.scans_per_rule"] = c("file_scans") / rules if rules else 0.0

    for k in SPARK_COUNTS:
        out[f"spark.{k}"] = c(k)
    busy_ms = union_length(call["jobs"], call["start_ms"], call["end_ms"])
    out["spark.job_busy_s"] = busy_ms / 1e3
    out["spark.driver_gap_s"] = (call["end_ms"] - call["start_ms"] - busy_ms) / 1e3
    out["spark.executor_cpu_s"] = c("executor_cpu_ns") / 1e9
    out["spark.executor_run_s"] = c("executor_run_ms") / 1e3
    out["spark.slot_util"] = (c("executor_run_ms") / (busy_ms * cores)) if busy_ms else 0.0
    out["jvm.gc_s"] = c("gc_ms") / 1e3
    out["jvm.jit_s"] = c("jit_ms") / 1e3
    out["spark.codegen_compiles"] = c("codegen_compiles")
    return out


def end_to_end(result, rows, launch_ns):
    """End-to-end metrics of one untraced measured process, and the number
    of warm calls behind `call_s.p50`. `result` is the process's JSON
    record; `launch_ns` the epoch time it was started."""
    calls = result["calls"]
    warm = [c for c in calls if c["phase"] == "measured"]
    p50, n = median([c["wall_ns"] / 1e9 for c in warm])
    cpu, _ = median([c["cpu_ns"] / 1e9 for c in warm])
    return {
        "setup_s": (result["ready_ns"] - launch_ns) / 1e9,
        "first_call_s": calls[0]["wall_ns"] / 1e9,
        "call_s.p50": p50,
        "rows_per_s": rows / p50,
        "cpu_s_per_call": cpu,
        "peak_rss_mb": result["peak_rss_kb"] / 1024,
    }, n


def tracing_overhead_s(calls):
    """Traced minus untraced wall time of the warm call pairs: the median
    of the per-pair differences among pairs that ran the untraced call
    first, averaged with the same median among pairs that ran it second,
    so a drift of call times during the run cancels."""
    walls = {}
    for c in calls:
        if c["phase"] in ("traced", "untraced"):
            walls.setdefault(c["pair"], {})[c["phase"]] = c["wall_ns"] / 1e9
    by_order = [[], []]
    for pair, w in walls.items():
        by_order[pair % 2].append(w["traced"] - w["untraced"])
    return statistics.mean(statistics.median(d) for d in by_order)


def per_layer(result, workload):
    """Per-layer metrics of one traced measured process (medians over its
    traced warm calls), and the exact counters that differed between those
    calls."""
    calls = result["calls"]
    first = calls[0]
    cores = result["cores"]
    traced = [c for c in calls if c["phase"] == "traced"]
    per_call = [layer_metrics(c, cores) for c in traced]
    out = {k: statistics.median(m[k] for m in per_call) for k in per_call[0]}
    first_layers = layer_metrics(first, cores)
    for k in ("jvm.gc_s", "jvm.jit_s", "spark.codegen_compiles"):
        out[f"first_call.{k}"] = first_layers[k]
    out["trace.overhead_s"] = tracing_overhead_s(calls)
    counts = result.get("traced_counts", {})
    out["dedup.candidate_pairs"] = counts.get("candidate_pairs", 0)
    out["dedup.verified_pairs"] = counts.get("verified_pairs", 0)
    out["dedup.candidate_precision"] = (
        counts["verified_pairs"] / counts["candidate_pairs"]
        if counts.get("candidate_pairs") else 0.0)
    out["dedup.capped_buckets"] = counts.get("capped_buckets", 0)
    out["dedup.kept_docs"] = first.get("facts", {}).get("kept", 0)
    unsteady = sorted(k for k in exact(workload) if k.startswith("spark.") and
                      len({m[k] for m in per_call}) > 1)
    return out, unsteady
