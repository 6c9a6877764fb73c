"""Tests for the benchmark's own code.  No Spark session is started.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import pytest

import corpora
import metrics
import run
import tracing
from tracing import Job, Span

BENCHMARK_JSON = Path(__file__).resolve().parents[1] / "BENCHMARK.json"


# --- generators -------------------------------------------------------------

@pytest.mark.parametrize("make", [corpora.dupmix, corpora.unique])
def test_dedup_corpora_are_deterministic_per_seed(make):
    a, b, c = make(300, 5, 60), make(300, 5, 60), make(300, 6, 60)
    pd_eq = lambda x, y: x.reset_index(drop=True).equals(y.reset_index(drop=True))  # noqa: E731
    assert pd_eq(a.pages, b.pages) and pd_eq(a.groups, b.groups) and pd_eq(a.sample, b.sample)
    assert not a.pages["text"].equals(c.pages["text"])


def test_refresh_corpus_is_deterministic_per_seed():
    a, b = corpora.refresh(300, 5), corpora.refresh(300, 5)
    assert a.v1.equals(b.v1) and a.v2.equals(b.v2) and a.deltas.equals(b.deltas)
    assert set(a.deltas["kind"]) == {"Add", "Rm", "Edit", "Mv"}


def test_unique_corpus_plants_nothing():
    u = corpora.unique(400, 3, 50)
    assert len(u.pages) == 400 and u.pages["url"].is_unique
    assert u.pages["text"].is_unique and u.groups.empty
    lengths = u.pages["text"].str.split().str.len()
    assert lengths.between(50, 800).all()


def test_oracle_sample_keeps_whole_groups():
    d = corpora.dupmix(400, 2, 80)
    picked = set(d.sample["url"])
    for _, urls in d.groups.groupby("group_id")["url"]:
        inside = picked & set(urls)
        assert not inside or inside == set(urls)
    assert 0 < len(d.sample) <= 80 + d.groups.groupby("group_id").size().max()


# --- metric names and the result line ----------------------------------------

def test_metric_names_and_units_are_valid():
    names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.match(name), name
    for unit, _, _ in metrics.END_TO_END.values():
        assert metrics.UNIT_RE.match(unit)
    for unit in metrics.PER_LAYER.values():
        assert metrics.UNIT_RE.match(unit)
    assert 1 <= len(metrics.PER_LAYER) <= 128


def test_benchmark_json_matches_catalogue():
    spec = json.loads(BENCHMARK_JSON.read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    assert e2e == metrics.END_TO_END
    assert e2e["setup_s"][2] == max(b for _, _, b in e2e.values())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    for m in spec["per_layer"]:
        assert m["better"] == metrics.per_layer_better(m["name"])


def _values(names):
    return {n: 1.5 for n in names}


def test_result_line_has_the_contract_shape():
    units = {k: v[0] for k, v in metrics.END_TO_END.items()}
    obj = json.loads(metrics.result_line(True, 3, 0, _values(units), units))
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["metrics"]["job_s"] == {"value": 1.5, "unit": "s"}
    assert set(obj["metrics"]) == set(metrics.END_TO_END)


@pytest.mark.parametrize(
    "mutate",
    [
        lambda o: o.pop("failed"),
        lambda o: o.update(extra=1),
        lambda o: o.update(attempted=0),
        lambda o: o.update(correct="yes"),
        lambda o: o["metrics"].pop("job_s"),
        lambda o: o["metrics"]["job_s"].update(value=math.inf),
        lambda o: o["metrics"]["job_s"].update(q1=1.0),
        lambda o: o["metrics"]["job_s"].update(unit="sec onds"),
    ],
)
def test_validate_result_rejects_bad_shapes(mutate):
    units = {k: v[0] for k, v in metrics.END_TO_END.items()}
    obj = json.loads(metrics.result_line(True, 3, 0, _values(units), units))
    mutate(obj)
    with pytest.raises(ValueError):
        metrics.validate_result(obj, set(units))


def test_quartiles_follow_statistics_quantiles():
    assert metrics.quartiles([4.0]) == (4.0, 4.0, 4.0)
    q1, med, q3 = metrics.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert med == 5.5 and q1 < med < q3


# --- span arithmetic -----------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([], 0, 10) == 0
    assert tracing.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert tracing.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert tracing.covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    parent = Span(1, "pipeline", 0.0, 10.0, None)
    spans = [
        parent,
        Span(2, "cc", 1.0, 4.0, 1),
        Span(3, "lsh.pairs", 3.0, 6.0, 1),       # overlaps its sibling
        Span(4, "fingerprint", 9.0, 12.0, 1),    # runs past the parent
        Span(5, "cc", 1.5, 2.0, 2),               # grandchild: not subtracted twice
    ]
    assert tracing.self_time(parent, spans) == pytest.approx(10 - 5 - 1)
    assert tracing.self_time(spans[1], spans) == pytest.approx(3 - 0.5)


def test_outermost_skips_recursive_calls():
    spans = [
        Span(1, "pipeline", 0, 10, None),
        Span(2, "cc", 1, 5, 1),
        Span(3, "cc", 2, 4, 2),
        Span(4, "cc", 6, 7, 1),
    ]
    assert [s.sid for s in tracing.outermost(spans, "cc")] == [2, 4]


def test_span_metrics_charge_jobs_by_description():
    spans = [Span(1, "pipeline", 100.0, 110.0, None), Span(2, "cc", 102.0, 108.0, 1)]
    jobs = {
        0: Job(0, spans[1].desc, 103.0, 105.0, task_s=4.0, shuffle_bytes=10),
        1: Job(1, spans[0].desc, 108.5, 109.5, task_s=1.0),
        2: Job(2, None, 103.0, 109.0, task_s=50.0),  # not ours
    }
    udf = {0: {("fingerprint", "python_s"): 2.0}}
    out = tracing.span_metrics(spans, jobs, udf, ("pipeline", "cc"))
    assert out[("cc", "call_s")] == 6.0 and out[("cc", "driver_s")] == 4.0
    assert out[("pipeline", "self_s")] == 4.0 and out[("cc", "self_s")] == 6.0
    assert out[("cc", "jobs")] == 1 and out[("cc", "task_s")] == 4.0
    assert out[("pipeline", "driver_s")] == 7.0 and out[("pipeline", "task_s")] == 1.0
    assert out[("fingerprint", "python_s")] == 2.0


def test_read_event_log_resolves_late_plans(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    node = {
        "nodeName": "ArrowEvalPython",
        "simpleString": "ArrowEvalPython [fingerprint(coalesce(text#7, ))#1], [pythonUDF0#2], 200",
        "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 9, "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"},
        ],
        "children": [],
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.job.description": "perfbench:cc:2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"ID": 9, "Name": "time to run Python workers", "Update": "1500"},
             {"ID": 8, "Name": "data sent to Python workers", "Update": "4096"},
         ]},
         "Task Metrics": {"Executor Run Time": 2000, "Executor CPU Time": 1_000_000_000,
                          "JVM GC Time": 100,
                          "Shuffle Read Metrics": {"Local Bytes Read": 5},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "sparkPlanInfo": node},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, udf = tracing.read_event_log(str(tmp_path))
    j = jobs[0]
    assert (j.desc, j.submit, j.end) == ("perfbench:cc:2", 1.0, 4.0)
    assert (j.task_s, j.cpu_s, j.gc_s, j.shuffle_bytes) == (2.0, 1.0, 0.1, 12)
    assert udf[0][("fingerprint", "python_s")] == 1.5
    assert udf[0][("fingerprint", "python_bytes_in")] == 4096
