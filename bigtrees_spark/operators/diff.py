"""Snapshot diff: the Spark restatement of `bigtrees diff OLD NEW`.

Reference semantics (/root/reference/lib/System/Directory/BigTrees/Delta.hs):
  diff'    (Delta.hs:61-81)  match old/new dir contents BY NAME: only-in-new ->
                             Add, only-in-old -> Rm, same-name-diff-hash -> Edit;
                             equal hashes short-circuit the whole subtree
                             (Delta.hs:74-76 — the Merkle speedup)
  findMv   (Delta.hs:85-101) pair Rm(p1) + Add(p2) with equal hashes -> Mv

Spark-first:
  * the name-join is ONE full-outer join on url; its delta rows (a digest
    differs or is missing) are materialized once, and every kind is derived
    from that delta-sized frame;
  * the Merkle short-circuit becomes digest-tree pruning: compare partition
    digests first, collect the changed bucket ids to the driver and filter
    both snapshots on them (diff_with_pruning below) — a literal partition
    filter, so bucket-partitioned snapshots never scan an unchanged bucket;
  * move detection is two salted aggregates over the Add/Rm rows
    (_match_moves), never a join or window over a whole digest group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _mv_salt(url_col: str = "url"):
    """256-way salt = codepoints of the first two md5-hex chars of the url.
    Chosen over xxhash64 because DuckDB computes the IDENTICAL expression
    (md5/substring/ascii exist in both engines), so the oracle SQL can
    replicate the pairing bit-for-bit."""
    h = F.md5(F.col(url_col))
    return F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))


def _zip_round(sides: DataFrame, keys: list[str]) -> DataFrame:
    """(kind, url, *keys) -> one row per key group: `pairs`, the i-th sorted
    Rm url zipped with the i-th sorted Add url for the first least(#Rm, #Add)
    ranks, and each side's unpaired rest (`rm_left`, `add_left`)."""
    g = sides.groupBy(*keys).agg(
        *(
            F.sort_array(F.collect_list(F.when(F.col("kind") == k, F.col("url")))).alias(k)
            for k in ("Rm", "Add")
        )
    )
    n = F.least(F.size("Rm"), F.size("Add"))
    return g.select(
        *keys,
        F.arrays_zip(
            F.slice("Rm", 1, n).alias("url"), F.slice("Add", 1, n).alias("url_new")
        ).alias("pairs"),
        F.slice("Rm", n + 1, F.size("Rm") - n).alias("rm_left"),
        F.slice("Add", n + 1, F.size("Add") - n).alias("add_left"),
    )


def _match_moves(sides: DataFrame) -> DataFrame:
    """Deterministic 1:1 (Rm url, Add url_new) matching per digest.

    sides: (kind 'Add'|'Rm', url, digest).  Round 1 aggregates per (digest,
    md5 salt) and zips the sorted url lists rank for rank; round 2 explodes
    only the round-1 leftovers (the salt-count imbalance between the sides)
    and zips them per digest the same way.  No group ever holds more than
    group_size/256 urls in round 1, so a mass move of identical content has
    no single-task funnel, and only the residual is grouped by digest alone.
    Rows with a null url or a null digest never pair: they are filtered out
    before round 1."""
    live = sides.where(F.col("url").isNotNull() & F.col("digest").isNotNull())
    r1 = _zip_round(live.withColumn("s", _mv_salt()), ["digest", "s"])

    def rows_of(urls: str, kind: str):
        return F.transform(urls, lambda u: F.struct(F.lit(kind).alias("kind"), u.alias("url")))

    left = r1.select(
        "digest", F.inline(F.concat(rows_of("rm_left", "Rm"), rows_of("add_left", "Add")))
    )
    r2 = _zip_round(left, ["digest"])
    return r1.select(F.inline("pairs")).unionByName(r2.select(F.inline("pairs")))


def snapshot_diff(old: DataFrame, new: DataFrame, key: str = "url", digest: str = "sha256") -> DataFrame:
    """deltas(kind, url, url_new): Add / Rm / Edit / Mv between two fingerprint
    tables (any DataFrame with `key` and `digest` columns).

    Runs Spark jobs when called: the rows of the full-outer join on url whose
    digests differ or are missing are materialized with an eager
    localCheckpoint, the way rollup_digest_tree materializes level 0.  That
    frame is delta-sized and a derived, recomputable artifact; Add, Rm, Edit
    and Mv all read it instead of re-running the join once per kind.

    Mv pairs each Rm with at most one Add of identical digest, each side
    consumed at most once (Delta.hs:95-101 consumes each Add/Rm once; WHICH
    Rm pairs WHICH Add is unspecified there — _match_moves picks one
    deterministic 1:1 matching).  A url consumed by a Mv drops every Add
    (new side) or Rm (old side) row of that url, whatever its digest.
    """
    o = old.select(F.col(key).alias("url"), F.col(digest).alias("od"))
    n = new.select(F.col(key).alias("url"), F.col(digest).alias("nd"))
    od, nd = F.col("od"), F.col("nd")
    delta = (
        o.join(n, "url", "full_outer")
        .where(od.isNull() | nd.isNull() | (od != nd))
        .localCheckpoint(eager=True)
    )

    sides = delta.where(od.isNull()).select(
        F.lit("Add").alias("kind"), "url", nd.alias("digest")
    ).unionByName(
        delta.where(nd.isNull()).select(F.lit("Rm").alias("kind"), "url", od.alias("digest"))
    )
    mvs = _match_moves(sides)
    # the consumed-url rule as ONE aggregate per (kind, url) over the Add/Rm
    # rows and the urls the Mv pairs consumed (an anti-join would shuffle the
    # delta rows once per kind and broadcast the pairs once per kind): a url
    # consumed on its side drops every copy; otherwise each copy survives.
    # Null urls are never consumed, so their group keeps all of its copies.
    mv = F.lit(True).alias("mv")
    tagged = (
        sides.select("kind", "url", F.lit(False).alias("mv"))
        .unionByName(mvs.select(F.lit("Rm").alias("kind"), "url", mv))
        .unionByName(mvs.select(F.lit("Add").alias("kind"), F.col("url_new").alias("url"), mv))
    )
    no_url = F.lit(None).cast("string")
    pure = (
        tagged.groupBy("kind", "url")
        .agg(F.count_if(~F.col("mv")).cast("int").alias("copies"), F.max("mv").alias("consumed"))
        .where(~F.col("consumed"))
        .select("kind", "url", F.explode(F.array_repeat(no_url, F.col("copies"))).alias("url_new"))
    )
    edits = delta.where(od.isNotNull() & nd.isNotNull()).select(
        F.lit("Edit").alias("kind"), "url", no_url.alias("url_new")
    )
    moves = mvs.select(F.lit("Mv").alias("kind"), "url", "url_new")
    return pure.unionByName(edits).unionByName(moves)


def changed_partitions(old_digests: DataFrame, new_digests: DataFrame) -> DataFrame:
    """Merkle pruning (Delta.hs:74-76 at partition granularity): buckets whose
    digest differs or that exist on one side only.  Input: digest tables from
    operators/digest.py (bucket, digest).  Output: bucket rows to re-diff."""
    o = old_digests.select("bucket", F.col("digest").alias("od"))
    n = new_digests.select("bucket", F.col("digest").alias("nd"))
    return (
        o.join(n, "bucket", "full_outer")
        .where(
            F.col("od").isNull() | F.col("nd").isNull() | (F.col("od") != F.col("nd"))
        )
        .select("bucket")
    )


def diff_with_pruning(
    old: DataFrame,
    new: DataFrame,
    old_digests: DataFrame,
    new_digests: DataFrame,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Row-level diff restricted to partitions whose Merkle digest changed —
    the 100 TB path: unchanged buckets are never scanned.

    Runs Spark jobs when called: the changed bucket ids (at most n_buckets
    rows) are collected to the driver, then both sides are filtered on them
    as literals.  Snapshots partitioned by `bucket_col` prune at the
    file scan (a static partition filter, no dynamic-pruning subquery), and
    the digest comparison runs once instead of once per consumer.  Rows with
    a null bucket are never diffed.
    """
    rows = changed_partitions(old_digests, new_digests).collect()
    changed = F.col(bucket_col).isin([r.bucket for r in rows if r.bucket is not None])
    return snapshot_diff(old.where(changed), new.where(changed))


def apply_deltas(
    old: DataFrame, deltas: DataFrame, new_content: DataFrame, key: str = "url", digest: str = "sha256"
) -> DataFrame:
    """Replay an edit script against a snapshot — simDelta/simDeltas semantics
    (/root/reference/lib/System/Directory/BigTrees/Delta.hs:127-136, applied
    via addSubTree/rmSubTree, Edit.hs:49-97).

    old + deltas(kind,url,url_new) + new_content (content source for Add/Edit
    digests) -> the reconstructed new snapshot (url, digest).  Property (tested):
    apply_deltas(old, snapshot_diff(old, new), new) == new — the reference's
    incremental-update primitive, here four joins and a union.
    """
    o = old.select(F.col(key).alias("url"), F.col(digest).alias("digest"))
    n = new_content.select(F.col(key).alias("url"), F.col(digest).alias("digest"))

    rm_urls = deltas.where(F.col("kind") == "Rm").select("url")
    edit_urls = deltas.where(F.col("kind") == "Edit").select("url")
    mv = deltas.where(F.col("kind") == "Mv").select("url", "url_new")
    add_urls = deltas.where(F.col("kind") == "Add").select("url")

    untouched = (
        o.join(rm_urls, "url", "left_anti")
        .join(edit_urls, "url", "left_anti")
        .join(mv.select("url"), "url", "left_anti")
    )
    moved = mv.join(o, "url").select(F.col("url_new").alias("url"), "digest")
    edited = edit_urls.join(n, "url")   # new digest comes from new content
    added = add_urls.join(n, "url")
    return untouched.unionByName(moved).unionByName(edited).unionByName(added)
