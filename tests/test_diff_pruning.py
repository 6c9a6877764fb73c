"""diff_with_pruning on bucket-partitioned parquet snapshots: unchanged
buckets are pruned at the file scan by a literal partition filter."""

from __future__ import annotations

import re

import pytest
from bigtrees_spark.operators import diff as diffmod
from bigtrees_spark.operators.digest import bucket_of, partition_digests

N_BUCKETS = 16


def _write_snapshot(spark, rows, path):
    (
        spark.createDataFrame(rows, "url string, sha256 string, nbytes long")
        .withColumn("bucket", bucket_of("url", N_BUCKETS))
        .write.partitionBy("bucket")
        .parquet(path)
    )
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("pruning")
    v1 = [(f"d/{i:04d}", f"h{i}", 10) for i in range(400)]
    v2 = [r for r in v1 if r[0] not in ("d/0003", "d/0100")]
    v2 = [(u, "edited" if u == "d/0007" else h, b) for u, h, b in v2]
    v2.append(("d/9999", "h100", 10))  # d/0100 moved
    old = _write_snapshot(spark, v1, str(base / "v1"))
    new = _write_snapshot(spark, v2, str(base / "v2"))
    return old, new


def _digests(snap):
    return partition_digests(snap, bucket_col="bucket")


def _scan_lines(df):
    """Scan nodes of df's final (post-execution, adaptive) physical plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan, [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_scans_carry_static_bucket_filter(spark, snapshots, monkeypatch):
    old, new = snapshots
    seen = []
    real = diffmod.snapshot_diff

    def spy(o, n):
        seen.extend([o, n])
        return real(o, n)

    monkeypatch.setattr(diffmod, "snapshot_diff", spy)
    got = {
        (r.kind, r.url, r.url_new)
        for r in diffmod.diff_with_pruning(old, new, _digests(old), _digests(new)).collect()
    }
    assert got == {
        ("Rm", "d/0003", None),
        ("Edit", "d/0007", None),
        ("Mv", "d/0100", "d/9999"),
    }
    changed = {r.bucket for r in diffmod.changed_partitions(_digests(old), _digests(new)).collect()}
    assert 0 < len(changed) < N_BUCKETS
    assert len(seen) == 2
    for side in seen:
        plan, scans = _scan_lines(side)
        assert "dynamicpruning" not in plan.lower(), plan
        assert len(scans) == 1, plan
        filters = scans[0].split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        m = re.fullmatch(r"bucket#\d+ (?:IN|INSET) \(?([\d, ]+)\)?", filters)
        assert m, filters
        assert {int(b) for b in m.group(1).split(",")} == changed


def test_identical_snapshots_diff_empty(spark, snapshots):
    old, _ = snapshots
    d = _digests(old)
    assert diffmod.changed_partitions(d, d).count() == 0
    assert diffmod.diff_with_pruning(old, old, d, d).count() == 0
