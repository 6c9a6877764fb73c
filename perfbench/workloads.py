"""The three workloads: inputs, the job each runs, its correctness check,
its post-job layer counts and its drift guard.

A job reads its input from parquet and runs through the public API until
its result is materialized on the driver.  `run` takes an optional tracer;
without one the steps are plain calls.
"""

from __future__ import annotations

import itertools
import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field, replace
from functools import cached_property

import pandas as pd
from pyspark.sql import functions as F

import corpora
from bigtrees_spark import oracle
from bigtrees_spark.config import DEFAULT_CONFIG
from bigtrees_spark.operators.diff import changed_partitions, diff_with_pruning
from bigtrees_spark.operators.digest import partition_digests, rollup_digest_tree, root_info
from bigtrees_spark.operators.substring import substring_edges
from bigtrees_spark.plans.incremental import incremental_run
from bigtrees_spark.plans.pipeline import near_dedup_pipeline

MIN_RECALL = 0.99
ORACLE_SAMPLE_DOCS = 300

# crawl_dupmix's hot-template site is 10% of the corpus, and its largest LSH
# bucket holds 79-94% of the site (24 seeds at 1500 documents: 119-141).
# The default cap of 200 first overflows on every seed near 3000 documents,
# whose job is too long for the run budget, so the cap is scaled with the
# corpus: at 1500 documents a cap of 90 sends 12-22 buckets per seed down
# the salted over-cap path.
DUPMIX_CFG = replace(DEFAULT_CONFIG, max_bucket_size=90)


@dataclass
class Outcome:
    """What one job materialized, plus the handles post-job counts need."""
    frames: dict
    handles: list = field(default_factory=list)

    def release(self) -> None:
        for h in self.handles:
            h.unpersist()


def _step(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def _pairs_within(clusters: pd.DataFrame, urls: set) -> set:
    """Unordered url pairs of `urls` that share a cluster."""
    sub = clusters[clusters["url"].isin(urls)]
    out = set()
    for members in sub.groupby("cluster_id")["url"]:
        out.update(itertools.combinations(sorted(members[1]), 2))
    return out


class DedupWorkload:
    """substring_edges fed as extra_edges into near_dedup_pipeline; the
    clusters and the report are collected."""

    def __init__(self, name: str, make, cfg, n_docs: int, work: str):
        self.name, self.make, self.cfg, self.n_docs, self.work = name, make, cfg, n_docs, work
        os.makedirs(work, exist_ok=True)

    def make_inputs(self, seed: int) -> None:
        data = self.make(self.n_docs, seed, ORACLE_SAMPLE_DOCS)
        self.path = os.path.join(self.work, "pages.parquet")
        corpora.write_parquet(data.pages, self.path)
        self.docs = len(data.pages)
        self.urls = set(data.pages["url"])
        exact = data.groups[data.groups["kind"] == "exact"]
        self.exact_groups = [list(g) for _, g in exact.groupby("group_id")["url"]]
        self.sample = data.sample

    @cached_property
    def truth(self) -> set:
        """Oracle pairs of the sample: computed once, on first check."""
        return oracle.near_pairs(self.sample, self.cfg)

    def prepare(self, spark) -> None:
        pass

    def reset(self) -> None:
        pass

    def run(self, spark, tracer=None, ctx=None) -> Outcome:
        pages = spark.read.parquet(self.path)
        handles: list = []
        with _step(tracer, "substring"):
            sub = substring_edges(pages.select("url", "text"), self.cfg, persisted=handles)
        with _step(tracer, "pipeline"):
            res = near_dedup_pipeline(pages, self.cfg, extra_edges=sub, ctx=ctx)
        with _step(tracer, "pipeline.materialize"):
            clusters = res.clusters.toPandas()
            report = res.report.toPandas()
        handles.extend(res.persisted)
        return Outcome({"clusters": clusters, "report": report, "sub": sub, "res": res}, handles)

    def check(self, out: Outcome) -> tuple[bool, float, str]:
        c = out.frames["clusters"]
        cover = len(c) == len(self.urls) and set(c["url"]) == self.urls
        label = dict(zip(c["url"], c["cluster_id"]))
        split = sum(len({label.get(u) for u in g}) != 1 for g in self.exact_groups)
        recall = oracle.recall(_pairs_within(c, set(self.sample["url"])), self.truth)
        ok = cover and split == 0 and recall >= MIN_RECALL
        return ok, recall, (
            f"cover={cover} exact_groups_split={split}/{len(self.exact_groups)} "
            f"pair_recall={recall:.4f} truth_pairs={len(self.truth)}"
        )

    def counts(self, out: Outcome, calls: dict | None, ctx) -> dict:
        """Layer counts read from the job's cached frames, after timing.
        Untraced jobs (`calls` is None) get only what the drift guard reads."""
        if calls is None:
            if self.name != "crawl_dupmix":
                # verify edges are a subset of the pipeline's edges
                return {"lsh.verify.edges": out.frames["res"].edges.count()}
            # the LSH pairing window's cache carries each bucket's size
            multi = next(h for h in out.handles if {"band_hash", "bsz"} <= set(h.columns))
            over = multi.where(F.col("bsz") > self.cfg.max_bucket_size)
            return {
                "lsh.pairs.overcap_buckets": over.select("band_idx", "band_hash").distinct().count(),
                "substring.edges": out.frames["sub"].count(),
            }
        # the engine's own skew table, written because ctx was passed
        skew = (
            ctx.read_skew()
            .where((F.col("run_id") == ctx.run_id) & (F.col("stage") == "lsh_bands"))
            .select("n_overcap", "max_bucket")
            .first()
        )
        cand = calls["lsh.pairs"][0].result.count()
        edges = calls["lsh.verify"][0].result.count()
        per_pair = [h for h in out.handles if "sat_seeds" in h.columns]
        return {
            "lsh.pairs.candidates": cand,
            "lsh.pairs.overcap_buckets": skew[0] if skew else 0,
            "lsh.pairs.max_bucket": skew[1] if skew else 0,
            "lsh.verify.edges": edges,
            "lsh.verify.useful_ratio": edges / cand if cand else 0.0,
            "cc.edges_in": calls["cc"][0].args[0].count(),
            # the distributed path recurses once into itself
            "cc.driver_path": int(len(calls["cc"]) == 1),
            "substring.edges": out.frames["sub"].count(),
            "substring.fallback_pairs": (
                per_pair[0].where(F.size("sat_seeds") > 0).count() if per_pair else 0
            ),
            "pipeline.clusters_multi": len(out.frames["report"]),
        }

    def guard(self, counts: dict) -> tuple[bool, str]:
        if self.name == "crawl_dupmix":
            ok = counts["lsh.pairs.overcap_buckets"] > 0 and counts["substring.edges"] > 0
            return ok, (
                f"overcap_buckets={counts['lsh.pairs.overcap_buckets']} (>0) "
                f"substring_edges={counts['substring.edges']} (>0)"
            )
        limit = max(1, self.docs // 1000)
        return counts["lsh.verify.edges"] <= limit, (
            f"verify_edges={counts['lsh.verify.edges']} (<={limit})"
        )


class RefreshWorkload:
    """incremental_run on the T2 snapshot over committed v1 state, then the
    new snapshot's digest tree and the diff between the snapshots, pruned by
    their level-0 digests."""

    name = "crawl_refresh"

    def __init__(self, n_docs: int, work: str):
        self.n_docs, self.work = n_docs, work
        os.makedirs(work, exist_ok=True)
        self.template = os.path.join(work, "state_v1")
        self.state = os.path.join(work, "state")

    def make_inputs(self, seed: int) -> None:
        data = corpora.refresh(self.n_docs, seed)
        self.v1_path = os.path.join(self.work, "v1.parquet")
        self.v2_path = os.path.join(self.work, "v2.parquet")
        corpora.write_parquet(data.v1, self.v1_path)
        corpora.write_parquet(data.v2, self.v2_path)
        self.docs = len(data.v2)
        self.expected = {
            (r.kind, r.url, r.url_new if isinstance(r.url_new, str) else None)
            for r in data.deltas.itertuples()
        }
        self.expected_kinds = data.deltas["kind"].value_counts().to_dict()

    def prepare(self, spark) -> None:
        """Commit the v1 state; this runs the job's incremental_run and sink
        on the same input, so it doubles as their warm-up."""
        incremental_run(spark, spark.read.parquet(self.v1_path), self.template)

    def reset(self) -> None:
        shutil.rmtree(self.state, ignore_errors=True)
        shutil.copytree(self.template, self.state)

    def run(self, spark, tracer=None, ctx=None) -> Outcome:
        v2 = spark.read.parquet(self.v2_path)
        with _step(tracer, "incremental"):
            res = incremental_run(spark, v2, self.state)
        v1_fp = spark.read.parquet(os.path.join(self.template, "docs_fp"))
        with _step(tracer, "digest"):
            tree = rollup_digest_tree(partition_digests(res.docs_fp, bucket_col="bucket"))
            root = root_info(tree).toPandas()
        level0 = [
            partition_digests(v1_fp, bucket_col="bucket"),
            tree.where(F.col("level") == 0),
        ]
        with _step(tracer, "diff"):
            deltas = diff_with_pruning(v1_fp, res.docs_fp, *level0).toPandas()
        return Outcome({"deltas": deltas, "root": root, "level0": level0, "inc": res})

    def check(self, out: Outcome) -> tuple[bool, float, str]:
        d = out.frames["deltas"]
        found = {
            (r.kind, r.url, r.url_new if isinstance(r.url_new, str) else None)
            for r in d.itertuples()
        }
        kinds = d["kind"].value_counts().to_dict()
        recall = len(found & self.expected) / len(self.expected)
        total = int(out.frames["root"]["total_docs"].iloc[0])
        ok = kinds == self.expected_kinds and total == self.docs and recall >= MIN_RECALL
        return ok, recall, (
            f"deltas={dict(sorted(kinds.items()))} expected={dict(sorted(self.expected_kinds.items()))} "
            f"v2_docs={total}/{self.docs} pair_recall={recall:.4f}"
        )

    def counts(self, out: Outcome, calls: dict | None, ctx) -> dict:
        inc = out.frames["inc"]
        c = {
            "incremental.buckets_changed": inc.n_buckets_changed,
            "incremental.buckets_total": inc.n_buckets_total,
        }
        if calls is None:
            return c
        total = max(inc.n_buckets_total, 1)
        changed = changed_partitions(*out.frames["level0"]).count()
        c["incremental.reuse_ratio"] = 1.0 - inc.n_buckets_changed / total
        c["diff.pruned_ratio"] = 1.0 - changed / total
        return c

    def guard(self, counts: dict) -> tuple[bool, str]:
        c, t = counts["incremental.buckets_changed"], counts["incremental.buckets_total"]
        ok = isinstance(c, int) and isinstance(t, int) and 0 <= c <= t and t > 0
        return ok, f"buckets_changed={c} buckets_total={t}"


def make(name: str, n_docs: int, work: str):
    if name == "crawl_dupmix":
        return DedupWorkload(name, corpora.dupmix, DUPMIX_CFG, n_docs, work)
    if name == "crawl_unique":
        return DedupWorkload(name, corpora.unique, DEFAULT_CONFIG, n_docs, work)
    if name == "crawl_refresh":
        return RefreshWorkload(n_docs, work)
    raise ValueError(f"unknown workload {name!r}")
