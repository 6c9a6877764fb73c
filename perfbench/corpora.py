"""Seeded crawl corpora for the three benchmark workloads.

Pure pandas/numpy: nothing here starts Spark, so the tests can check the
generators without a session.  Every corpus is a function of (size, seed)
alone and is built on the repository's own generator
(`bigtrees_spark.sources.fixtures`), so the planted structure the engine is
measured on is the structure its tests and oracle already use.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from bigtrees_spark.sources import fixtures


@dataclass
class DedupInput:
    pages: pd.DataFrame      # url, warc_ts, html, text, lang
    groups: pd.DataFrame     # url, group_id, kind — planted ground truth
    sample: pd.DataFrame     # seeded subsample the recall oracle scores


@dataclass
class RefreshInput:
    v1: pd.DataFrame
    v2: pd.DataFrame
    deltas: pd.DataFrame     # expected (kind, url, url_new) from fixtures


def dupmix(n_docs: int, seed: int, sample_docs: int) -> DedupInput:
    """`generate_corpus` as is: 10% exact, 15% near, 3% substring and 10%
    hot-template documents planted among uniques."""
    c = fixtures.generate_corpus(n_docs, seed)
    return DedupInput(c.pages, c.groups, oracle_sample(c.pages, c.groups, seed, sample_docs))


def unique(n_docs: int, seed: int, sample_docs: int) -> DedupInput:
    """The generator's vocabulary, url scheme, html wrapper and 50-800 token
    length distribution, with nothing planted: every document draws fresh
    tokens, so no pair is a near or substring duplicate."""
    rng = np.random.default_rng(seed)
    vocab = np.array(fixtures._vocab())
    langs = np.array(["en", "de", "und"])
    rows = []
    for i in range(n_docs):
        text = " ".join(vocab[rng.integers(0, fixtures.VOCAB_SIZE, size=int(rng.integers(50, 800)))])
        site = int(rng.integers(0, fixtures.N_SITES))
        rows.append(
            {
                "url": fixtures._url(site, i),
                "warc_ts": fixtures.BASE_TS + timedelta(minutes=i),
                "html": fixtures._mk_html(text, site, f"doc {i}"),
                "text": text,
                "lang": str(langs[int(rng.choice(3, p=[0.90, 0.08, 0.02]))]),
            }
        )
    pages = pd.DataFrame(rows)
    groups = pd.DataFrame(columns=["url", "group_id", "kind"])
    return DedupInput(pages, groups, oracle_sample(pages, groups, seed, sample_docs))


def refresh(n_docs: int, seed: int) -> RefreshInput:
    """v1 = `generate_corpus`; v2 = `derive_snapshot_v2` (the T2 churn:
    2% Rm, 2% Add, 2% Edit, 1% Mv) with its expected deltas."""
    c = fixtures.generate_corpus(n_docs, seed)
    v2, deltas = fixtures.derive_snapshot_v2(c, seed=seed + 1)
    return RefreshInput(c.pages, v2, deltas)


def oracle_sample(pages: pd.DataFrame, groups: pd.DataFrame, seed: int, k: int) -> pd.DataFrame:
    """About `k` documents: whole planted groups (so their pairs survive the
    cut) plus as many ungrouped documents.  The brute-force oracle is
    quadratic in the hot-template site, which this keeps to a few dozen
    documents."""
    rng = np.random.default_rng(seed + 7919)
    gids = groups["group_id"].unique()
    take: set[str] = set()
    if len(gids):
        for g in rng.permutation(gids):
            if len(take) >= k // 2:
                break
            take.update(groups.loc[groups["group_id"] == g, "url"])
    rest = pages.loc[~pages["url"].isin(set(groups["url"])), "url"].to_numpy()
    take.update(rng.choice(rest, size=min(k - len(take), len(rest)), replace=False))
    return pages[pages["url"].isin(take)].reset_index(drop=True)


def write_parquet(pages: pd.DataFrame, path: str) -> None:
    """One parquet file with microsecond timestamps, the unit Spark reads."""
    table = pa.Table.from_pandas(pages, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)
