"""Similarity search: brute-force cosine top-k vs numpy oracle; LSH path
recall on planted near-identical vectors."""

from __future__ import annotations

import numpy as np
import pytest

from bigtrees_spark.operators.similarity import brute_force_topk, lsh_neardup_pairs

DIM = 16


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, DIM)).astype(np.float32)
    # plant 10 near-dup pairs: id 100+i is a tiny perturbation of id i
    near = base[:10] + 0.01 * rng.standard_normal((10, DIM)).astype(np.float32)
    ids = list(range(40)) + [100 + i for i in range(10)]
    mat = np.vstack([base, near])
    return ids, mat


@pytest.fixture(scope="module")
def vec_df(spark, vectors):
    ids, mat = vectors
    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
        "vec_id long, embedding array<float>",
    ).cache()


def test_brute_force_topk_matches_numpy(spark, vec_df, vectors):
    ids, mat = vectors
    queries = vec_df.where("vec_id < 5")
    got = brute_force_topk(queries, vec_df, k=3).collect()

    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norm @ norm.T
    id_arr = np.array(ids)
    for q in range(5):
        qi = ids.index(q)
        order = [
            (ids[j], float(sims[qi, j]))
            for j in np.argsort(-sims[qi])
            if ids[j] != q
        ][:3]
        got_q = sorted([r for r in got if r.query_id == q], key=lambda r: r.rank)
        assert [r.neighbor_id for r in got_q] == [i for i, _ in order]
        for r, (_, s) in zip(got_q, order):
            assert abs(r.cosine - s) < 1e-5


def test_topk_excludes_self(vec_df):
    got = brute_force_topk(vec_df.where("vec_id < 3"), vec_df, k=5).collect()
    assert all(r.neighbor_id != r.query_id for r in got)


def test_lsh_neardup_finds_planted(vec_df):
    pairs = {
        (r.id_l, r.id_r)
        for r in lsh_neardup_pairs(vec_df, cosine_threshold=0.95, dim=DIM).collect()
    }
    planted = {(i, 100 + i) for i in range(10)}
    found = len(pairs & planted)
    assert found >= 9  # LSH recall on eps-perturbed pairs


def test_lsh_neardup_hot_bucket_keeps_connectivity(spark):
    """A hyperplane bucket larger than max_bucket (here: 30 copies of the
    SAME vector, every band collides) must NOT lose all its pairs — the old
    behavior filtered over-cap buckets out entirely; the shared skew-capped
    core rank-chains them so identical vectors stay connected."""
    rng = np.random.default_rng(3)
    v = rng.standard_normal(DIM).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [
        (r.id_l, r.id_r)
        for r in lsh_neardup_pairs(
            df, cosine_threshold=0.99, dim=DIM, max_bucket=5
        ).collect()
    ]
    assert len(got) > 0, "over-cap bucket must not lose all pairs"

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got:
        parent[find(a)] = find(b)
    roots = {find(i) for i in range(30)}
    assert len(roots) == 1, f"identical vectors split across {len(roots)} components"


def test_lsh_neardup_records_skew_metrics(spark, tmp_path):
    """Cap fires land in the skew-metrics table under stage 'lsh_ann', like
    every other capped pairing stage (SURVEY §7: skew measured, not assumed)."""
    from bigtrees_spark.plans.runmeta import RunContext

    rng = np.random.default_rng(3)
    v = rng.standard_normal(DIM).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ctx = RunContext.new(spark, str(tmp_path / "metrics"))
    lsh_neardup_pairs(df, cosine_threshold=0.99, dim=DIM, max_bucket=5, ctx=ctx).count()
    skew = {r.stage: r for r in ctx.read_skew().collect()}
    assert "lsh_ann" in skew
    s = skew["lsh_ann"]
    assert s.cap == 5
    assert s.n_overcap > 0, "the cap fired; metrics must say so"
    assert s.max_bucket >= 30


def test_lsh_neardup_small_buckets_unchanged_by_core_swap(spark, vec_df):
    """With a huge cap the shared-core path must equal the brute-force
    cosine-threshold pairs RESTRICTED to co-bucketed candidates — on this
    fixture the planted twins all co-bucket, so the planted set is exact."""
    pairs = {
        (r.id_l, r.id_r)
        for r in lsh_neardup_pairs(
            vec_df, cosine_threshold=0.95, dim=DIM, max_bucket=10**6
        ).collect()
    }
    planted = {(i, 100 + i) for i in range(10)}
    assert len(pairs & planted) >= 9
    # every returned pair is l < r exactly once
    assert all(a < b for a, b in pairs)
    assert len(pairs) == len({tuple(sorted(p)) for p in pairs})


def _ivf_recall(exact, approx) -> float:
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact_sets[q_] & approx_sets.get(q_, set())) for q_ in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    return hits / total


def test_ivf_topk_high_recall_vs_brute_force(spark, vec_df):
    from bigtrees_spark.operators.similarity import ivf_topk

    q = vec_df.where("vec_id < 5")
    exact = brute_force_topk(q, vec_df, k=3).collect()
    # k-means-trained quantizer (default): tight recall gate at n_probe=4/8
    approx = ivf_topk(q, vec_df, k=3, dim=DIM, n_centroids=8, n_probe=4).collect()
    assert _ivf_recall(exact, approx) >= 0.95


def test_ivf_trained_beats_untrained(spark, vec_df):
    from bigtrees_spark.operators.similarity import ivf_topk

    q = vec_df.where("vec_id < 5")
    exact = brute_force_topk(q, vec_df, k=3).collect()
    trained = ivf_topk(q, vec_df, k=3, dim=DIM, n_centroids=8, n_probe=4).collect()
    untrained = ivf_topk(
        q, vec_df, k=3, dim=DIM, n_centroids=8, n_probe=4, train=False
    ).collect()
    assert _ivf_recall(exact, trained) >= _ivf_recall(exact, untrained)


def test_fit_centroids_are_unit_norm_and_deterministic(spark, vec_df):
    import numpy as np

    from bigtrees_spark.operators.similarity import fit_ivf_centroids

    c1 = fit_ivf_centroids(vec_df, DIM, n_centroids=8, seed=7)
    c2 = fit_ivf_centroids(vec_df, DIM, n_centroids=8, seed=7)
    assert c1.shape == (8, DIM)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-5)
    assert np.array_equal(c1, c2)
    # layout invariance: the hash-ordered sample must not depend on
    # partitioning/row order (ADVICE r02: sample().limit() was layout-bound)
    c3 = fit_ivf_centroids(
        vec_df.repartition(13).sortWithinPartitions("vec_id"), DIM, n_centroids=8, seed=7
    )
    assert np.array_equal(c1, c3)


def test_ivf_planted_neardups_found(spark, vec_df):
    """The planted eps-perturbed twin is ~always in the same IVF list."""
    from bigtrees_spark.operators.similarity import ivf_topk

    q = vec_df.where("vec_id >= 100")  # the 10 perturbed twins
    got = ivf_topk(q, vec_df, k=1, dim=DIM, n_centroids=8, n_probe=3).collect()
    hit = sum(1 for r in got if r.neighbor_id == r.query_id - 100)
    assert hit >= 8


def test_topk_empty_vectors_score_nan_not_crash(spark):
    """Two empty vectors have a 0/0 cosine: NaN, as the Arrow path's matrix
    branch gives for any zero-norm pair, instead of a Python
    ZeroDivisionError that fails the job."""
    import math

    df = spark.createDataFrame([(1, []), (2, [])], "vec_id long, embedding array<double>")
    got = {(r.query_id, r.neighbor_id): r.cosine for r in brute_force_topk(df, df, k=1).collect()}
    assert set(got) == {(1, 2), (2, 1)}
    assert all(math.isnan(c) for c in got.values())
