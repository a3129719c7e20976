"""Metric definitions, the tail-percentile rule and the output lines."""
import json
import math
import statistics

# (name, unit) — the end-to-end metrics of BENCHMARK.json, in its order
END_TO_END = [
    ("rows_per_s", "rows/s"),
    ("query_p50_s", "s"),
    ("query_tail_s", "s"),
    ("cpu_s_per_mrow", "s/Mrow"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]

OPERATORS = ["exactDedup", "minhashNearDups", "nearDupClusters", "pageRank", "degrees"]

PER_LAYER = [
    ("json.parse_ns_per_kb", "ns/KB"),
    ("json.write_ns_per_kb", "ns/KB"),
    ("json.cbor_roundtrip_ns_per_kb", "ns/KB"),
    ("jq.compile_us", "us"),
    ("jq.eval_ns_per_doc.single", "ns/doc"),
    ("jq.eval_ns_per_doc.generator", "ns/doc"),
    ("jq.parses_per_row", "count"),
    ("jq.outputs_per_doc", "count"),
    ("jq.error_row_frac", "ratio"),
    ("plans.jq_native_frac", "ratio"),
    ("plans.planning_ms_per_query", "ms"),
    ("functions.shingles_ns_per_doc", "ns/doc"),
    ("functions.minhash_ns_per_doc", "ns/doc"),
    ("functions.langid_ns_per_doc", "ns/doc"),
    ("sources.jsonl_ns_per_doc", "ns/doc"),
    ("SparkEntry.table_partitions", "count"),
    ("SparkEntry.table_max_task_share", "ratio"),
] + [("operators.%s.%s" % (op, m), u) for op in OPERATORS
     for m, u in (("wall_s", "s"), ("cpu_s", "s"), ("jobs", "count"),
                  ("shuffle_mb", "MB"), ("spill_mb", "MB"))] + [
    ("operators.minhashNearDups.verified_per_candidate", "ratio"),
    ("operators.minhashNearDups.planted_recall", "ratio"),
    ("operators.checkpoint_peak_mb", "MB"),
    ("spark.jobs_per_query", "count"),
    ("spark.stages_per_query", "count"),
    ("spark.tasks_per_query", "count"),
    ("spark.core_util", "ratio"),
    ("spark.shuffle_write_mb_per_query", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.gc_frac", "ratio"),
]

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def tail(samples, min_beyond=10):
    """The highest whole percentile p (50 <= p <= 99) of `samples` that
    leaves at least `min_beyond` samples strictly above its nearest-rank
    position. Returns (value, p, samples beyond). With fewer than
    2 * min_beyond samples no such p exists, and the median (as
    statistics.median takes it) is returned with the count beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in range(99, 49, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= min_beyond:
            return xs[rank - 1], p, n - rank
    med = statistics.median(xs)
    return med, 50, sum(1 for x in xs if x > med)


def pass_totals(records):
    """Input rows, query wall and executor CPU seconds of each battery pass
    of `records` (query executions with `pass`, `rows_in`, `wall_s` and
    their `listener` totals), in pass order. The end-to-end rates are
    medians over these, so that a burst of host load in one pass does
    not move them."""
    out = {}
    for r in records:
        p = out.setdefault(r["pass"], {"rows": 0, "wall_s": 0.0, "cpu_s": 0.0})
        p["rows"] += r["rows_in"]
        p["wall_s"] += r["wall_s"]
        p["cpu_s"] += (r["listener"] or {}).get("cpu_s", 0.0)
    return [out[k] for k in sorted(out)]


def quartile_spread(values):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def result_line(correct, attempted, failed, metrics):
    """The last stdout line: exactly correct, attempted, failed, metrics."""
    return json.dumps({"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
                      separators=(",", ":"))


def parse_result_line(stdout):
    """Parse the last non-empty stdout line as a result object; raises
    ValueError when it does not meet the contract."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        raise ValueError("no output")
    obj = json.loads(lines[-1])
    if set(obj) != RESULT_KEYS:
        raise ValueError("keys %s" % sorted(obj))
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool):
            raise ValueError("%s is not a whole number" % k)
    if obj["attempted"] < 1:
        raise ValueError("nothing attempted")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError("metric %s" % name)
    return obj


def summary_line(fields):
    """The human- and machine-readable summary printed just before the
    result line; compact and bounded in size."""
    line = json.dumps(fields, separators=(",", ":"), ensure_ascii=True)
    if len(line) > 1500:
        raise ValueError("summary line is %d chars" % len(line))
    return line
