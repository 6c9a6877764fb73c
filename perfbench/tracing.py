"""Spans around the engine's layer calls, joined to Spark's event log.

The tracer wraps the module attributes the pipeline calls through, so each
layer call becomes a span (name, start, end, parent) and every Spark job it
submits carries the span's id in its job description.  After the session
stops, the uncompressed event log is read back and each job's task metrics
are charged to the span whose description it carries.

That charge follows call boundaries, and the operators are lazy: a layer's
executor work runs in whichever call first materializes a frame downstream
of it (the pipeline's edge count inside `cc` runs fingerprinting and
verify).  Python UDF time is therefore also keyed by UDF name, from the
plan's "time to run Python workers" SQL metric, which is charged to the
layer that owns the UDF wherever it ran.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

DESC_PREFIX = "perfbench"

# Arrow UDF function names owned by each layer.
LAYER_UDFS = {
    "fingerprint": ("fingerprint",),
    "substring": ("winnow", "extend_sliced", "extend_full"),
}


@dataclass
class Span:
    sid: int
    name: str
    start: float            # epoch seconds, comparable with event-log times
    end: float
    parent: int | None

    @property
    def desc(self) -> str:
        return f"{DESC_PREFIX}:{self.name}:{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.sid]
    return span.duration - covered(kids, span.start, span.end)


def outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans called `name` that do not sit inside another span of the same
    name (cc recurses through its own module attribute)."""
    by_id = {s.sid: s for s in spans}

    def nested(s: Span) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if p.name == name:
                return True
            p = by_id.get(p.parent)
        return False

    return [s for s in spans if s.name == name and not nested(s)]


class Tracer:
    """Records spans in memory; `install` wraps module attributes so calls
    the engine makes internally are spans too."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self._saved: list[tuple[object, str, object]] = []
        # name -> [Call] in call-start order, so calls[name][0] is outermost
        self.calls: dict[str, list[Call]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        s = Span(self._next, name, time.time(), 0.0, parent.sid if parent else None)
        self._stack.append(s)
        self.sc.setJobDescription(s.desc)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(parent.desc if parent else None)
            self.spans.append(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            call = Call(args, kwargs)
            tracer.calls[name].append(call)
            with tracer.span(name):
                call.result = fn(*args, **kwargs)
            return call.result

        self._saved.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from bigtrees_spark import sinks
        from bigtrees_spark.operators import cc, lsh
        from bigtrees_spark.plans import incremental, pipeline

        self.wrap(pipeline, "fingerprint_docs", "fingerprint")
        self.wrap(incremental, "fingerprint_docs", "fingerprint")
        self.wrap(lsh, "candidate_pairs", "lsh.pairs")
        self.wrap(lsh, "verify_pairs", "lsh.verify")
        self.wrap(cc, "connected_components", "cc")
        self.wrap(sinks.SnapshotSink, "commit_snapshot", "sinks")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def take(self) -> tuple[list[Span], dict]:
        """Hand over (and forget) the spans and calls recorded so far."""
        out = self.spans, self.calls
        self.spans, self.calls = [], defaultdict(list)
        return out


@dataclass
class Call:
    """Arguments and result of one wrapped call, kept for post-job counts."""
    args: tuple
    kwargs: dict
    result: object = None


@dataclass
class Job:
    job_id: int
    desc: str | None
    submit: float           # epoch seconds
    end: float = 0.0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0  # written + read
    output_bytes: int = 0


_UDF_RE = re.compile(r"(\w+)\(")
_KNOWN_UDFS = {u for udfs in LAYER_UDFS.values() for u in udfs}
_PY_METRICS = {
    "time to run Python workers": ("python_s", 1e-3),  # ms
    "data sent to Python workers": ("python_bytes_in", 1.0),
}


def _plan_udfs(node, acc_udfs: dict) -> None:
    """Map each Python-eval node's metric accumulators to its UDF names."""
    head = node.get("simpleString", "").split("]", 1)[0]
    udfs = tuple(sorted(set(_UDF_RE.findall(head)) & _KNOWN_UDFS))
    if udfs:
        for m in node.get("metrics", []):
            acc_udfs[m["accumulatorId"]] = udfs
    for c in node.get("children", []):
        _plan_udfs(c, acc_udfs)


def _event_files(log_dir: str) -> list[str]:
    """Event files of the most recent application under `log_dir`
    (single-file or rolling v2 layout)."""
    apps = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".crc")]
    if not apps:
        raise FileNotFoundError(f"no event log under {log_dir}")
    latest = max(apps, key=os.path.getmtime)
    if os.path.isdir(latest):
        parts = glob.glob(os.path.join(latest, "events_*"))
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return [latest]


def read_event_log(log_dir: str):
    """-> (jobs by id, per-job UDF stats).

    udf_by_job[job_id][(udf, "python_s" | "python_bytes_in")] sums the
    Python-worker SQL metrics of the plan nodes that evaluate `udf`."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    acc_udfs: dict[int, tuple] = {}
    py_updates: list[tuple[int, int, str, float]] = []  # job, acc id, key, value
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get("spark.job.description"), ev["Submission Time"] / 1e3)
                    jobs[j.job_id] = j
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_udfs(ev["sparkPlanInfo"], acc_udfs)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    j = jobs[jid]
                    tm = ev.get("Task Metrics") or {}
                    j.task_s += tm.get("Executor Run Time", 0) / 1e3
                    j.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    j.shuffle_bytes += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    j.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = _PY_METRICS.get(acc.get("Name"))
                        if key is not None:
                            py_updates.append((jid, acc["ID"], key[0], float(acc.get("Update") or 0) * key[1]))
    # plans can arrive after the tasks that update their metrics (AQE
    # re-plans), so accumulators are resolved once the whole log is read
    udf_by_job: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for jid, acc_id, key, val in py_updates:
        udfs = acc_udfs.get(acc_id, ())
        for u in udfs:
            udf_by_job[jid][(u, key)] += val / len(udfs)
    return jobs, udf_by_job


def span_metrics(spans: list[Span], jobs: dict[int, Job], udf_by_job: dict, span_names) -> dict:
    """Per-layer values for the spans of ONE workload job.

    -> {(span, field): value} for every span name, plus
    {(layer, "python_s"|"python_bytes_in"): value} for UDF-owning layers."""
    descs = {s.desc: s for s in spans}
    mine = [j for j in jobs.values() if j.desc in descs]
    intervals = [(j.submit, j.end or j.submit) for j in mine]
    out: dict = {}
    for name in span_names:
        top = outermost(spans, name)
        own = [j for j in mine if descs[j.desc].name == name]
        vals = {
            "call_s": sum(s.duration for s in top),
            "self_s": sum(self_time(s, spans) for s in spans if s.name == name),
            "driver_s": sum(s.duration - covered(intervals, s.start, s.end) for s in top),
            "jobs": float(len(own)),
            "task_s": sum(j.task_s for j in own),
            "task_cpu_s": sum(j.cpu_s for j in own),
            "gc_s": sum(j.gc_s for j in own),
            "shuffle_bytes": float(sum(j.shuffle_bytes for j in own)),
            "output_bytes": float(sum(j.output_bytes for j in own)),
        }
        out.update(((name, f), v) for f, v in vals.items())
    for layer, udfs in LAYER_UDFS.items():
        for key in ("python_s", "python_bytes_in"):
            out[(layer, key)] = sum(
                udf_by_job.get(j.job_id, {}).get((u, key), 0.0) for j in mine for u in udfs
            )
    return out
