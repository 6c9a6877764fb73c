"""Metric catalogue, summary statistics and the result line.

`END_TO_END` and `PER_LAYER` are the single source of truth for metric
names, units and directions; BENCHMARK.json repeats them and a test keeps
the two in step.
"""

from __future__ import annotations

import json
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# name -> (unit, better, bound): bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression.
# Each run times one job, and on a shared 4-core host the timings and the
# JVM's heap growth spread by 10-20% from run to run, so those bounds sit
# at the 0.25 ceiling; recall and completion are exact.
END_TO_END = {
    "job_s": ("s", "lower", 0.25),
    "docs_per_s": ("1/s", "higher", 0.25),
    "cpu_s": ("s", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
    "completed_frac": ("ratio", "higher", 0.05),
    "pair_recall": ("ratio", "higher", 0.02),
}

# Spans the tracer records; each gets the uniform SPAN_FIELDS.  call_s and
# driver_s include child spans, self_s excludes them; the job-derived fields
# count only the jobs submitted under the span's own description.
SPANS = (
    "fingerprint", "lsh.pairs", "lsh.verify", "cc", "substring", "pipeline",
    "pipeline.materialize", "incremental", "sinks", "digest", "diff",
)
SPAN_FIELDS = {
    "call_s": "s",        # wall of the calls
    "self_s": "s",        # wall of the calls outside their child spans
    "driver_s": "s",      # call wall no Spark job covers (py4j, planning)
    "jobs": "count",      # Spark jobs submitted under the span
    "task_s": "s",        # executor run time of those jobs' tasks
    "task_cpu_s": "s",    # executor CPU time of those tasks
    "gc_s": "s",          # JVM GC time of those tasks
    "shuffle_bytes": "B", # shuffle bytes written + read
}
RENAMED = {"sinks.call_s": "sinks.commit_s", "pipeline.materialize.call_s": "pipeline.materialize_s"}

LAYER_COUNTS = {
    "session.start_s": "s",
    "fingerprint.python_s": "s",
    "fingerprint.python_bytes_in": "B",
    "lsh.pairs.candidates": "count",
    "lsh.pairs.overcap_buckets": "count",
    "lsh.pairs.max_bucket": "count",
    "lsh.verify.edges": "count",
    "lsh.verify.useful_ratio": "ratio",
    "cc.edges_in": "count",
    "cc.driver_path": "count",
    "substring.python_s": "s",
    "substring.python_bytes_in": "B",
    "substring.edges": "count",
    "substring.fallback_pairs": "count",
    "pipeline.clusters_multi": "count",
    "incremental.buckets_changed": "count",
    "incremental.buckets_total": "count",
    "incremental.reuse_ratio": "ratio",
    "sinks.bytes_written": "B",
    "diff.pruned_ratio": "ratio",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}


def span_metric(span: str, fld: str) -> str:
    name = f"{span}.{fld}"
    return RENAMED.get(name, name)


PER_LAYER = {span_metric(s, f): u for s in SPANS for f, u in SPAN_FIELDS.items()}
PER_LAYER.update(LAYER_COUNTS)


def per_layer_better(name: str) -> str:
    """Ratios (useful work, reuse, pruning, span coverage) are better high;
    times, bytes and counts of work are better low."""
    return "higher" if PER_LAYER[name] == "ratio" else "lower"


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3); a single sample is its own quartiles."""
    vals = sorted(float(v) for v in values)
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    """The benchmark's last stdout line."""
    obj = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    validate_result(obj, set(units))
    return json.dumps(obj)


def validate_result(obj: dict, names: set) -> None:
    """Raise ValueError unless `obj` has the result line's exact shape."""
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a bool")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    if set(obj["metrics"]) != names:
        raise ValueError(f"metric names differ: {sorted(set(obj['metrics']) ^ names)}")
    for name, m in obj["metrics"].items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"} or not UNIT_RE.match(m["unit"]):
            raise ValueError(f"bad metric entry {name}: {m}")
        if not isinstance(m["value"], float) or not math.isfinite(m["value"]):
            raise ValueError(f"{name} value must be a finite number")
