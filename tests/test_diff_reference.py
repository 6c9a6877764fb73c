"""snapshot_diff against a pure-Python reference of its semantics.

The reference spells out every rule the Spark plan must keep, including the
exact Mv pairing (which the DuckDB `move_detect` oracle replicates):

* a full-outer join on url (null urls never join; duplicate urls join
  all-to-all); a row whose old digest is missing is an Add, one whose new
  digest is missing is a Rm, both present and different is an Edit;
* round 1 pairs Rm and Add urls per (digest, salt), salt =
  ascii(md5[0]) * 256 + ascii(md5[1]), rank-for-rank over the sorted urls;
* round 2 pairs the round-1 leftovers per digest, again rank-for-rank over
  the sorted urls;
* null urls and null digests never pair;
* a url consumed by a Mv drops every Add (new side) or Rm (old side) copy of
  that url, whatever its digest.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter, defaultdict

import pytest

from bigtrees_spark.operators.diff import snapshot_diff

SCHEMA = "url string, sha256 string"


def _salt(url: str) -> int:
    h = hashlib.md5(url.encode("utf-8")).hexdigest()
    return ord(h[0]) * 256 + ord(h[1])


def _zip_sorted(rm: list, add: list) -> tuple[list, list, list]:
    rm, add = sorted(rm), sorted(add)
    n = min(len(rm), len(add))
    return list(zip(rm[:n], add[:n])), rm[n:], add[n:]


def reference_diff(old: list, new: list) -> Counter:
    """Multiset of (kind, url, url_new) for two [(url, digest)] snapshots."""
    old_urls = {u for u, _ in old if u is not None}
    new_by_url = defaultdict(list)
    for u, d in new:
        if u is not None:
            new_by_url[u].append(d)
    joined = []
    for u, od in old:
        if u is not None and u in new_by_url:
            joined.extend((u, od, nd) for nd in new_by_url[u])
        else:
            joined.append((u, od, None))
    joined.extend((u, None, nd) for u, nd in new if u is None or u not in old_urls)

    adds = [(u, nd) for u, od, nd in joined if od is None]
    rms = [(u, od) for u, od, nd in joined if nd is None]
    out = Counter(
        ("Edit", u, None)
        for u, od, nd in joined
        if od is not None and nd is not None and od != nd
    )

    def pairable(side):
        return [(u, d) for u, d in side if u is not None and d is not None]

    r1, a1 = defaultdict(list), defaultdict(list)
    for u, d in pairable(rms):
        r1[(d, _salt(u))].append(u)
    for u, d in pairable(adds):
        a1[(d, _salt(u))].append(u)
    mvs = []
    r2, a2 = defaultdict(list), defaultdict(list)
    for key in set(r1) | set(a1):
        pairs, rl, al = _zip_sorted(r1.get(key, []), a1.get(key, []))
        mvs.extend(pairs)
        r2[key[0]].extend(rl)
        a2[key[0]].extend(al)
    for d in set(r2) | set(a2):
        mvs.extend(_zip_sorted(r2.get(d, []), a2.get(d, []))[0])

    consumed_rm = {u for u, _ in mvs}
    consumed_add = {v for _, v in mvs}
    out.update(("Mv", u, v) for u, v in mvs)
    out.update(("Add", u, None) for u, _ in adds if u is None or u not in consumed_add)
    out.update(("Rm", u, None) for u, _ in rms if u is None or u not in consumed_rm)
    return out


def _spark_diff(spark, old: list, new: list) -> Counter:
    got = snapshot_diff(
        spark.createDataFrame(old, SCHEMA), spark.createDataFrame(new, SCHEMA)
    ).collect()
    return Counter((r.kind, r.url, r.url_new) for r in got)


def _random_snapshots(seed: int, dup_urls: bool) -> tuple[list, list]:
    """Two snapshots over a shared url pool: unchanged rows, edits, adds,
    removes, moves within a few shared digests (one of them hot and
    lopsided), null urls and null digests, and optionally duplicate urls."""
    rng = random.Random(seed)
    pool = [f"site{rng.randrange(4)}/p{i:04d}" for i in range(400)]
    digests = [f"h{i}" for i in range(12)]
    hot = "hot"

    def digest():
        r = rng.random()
        if r < 0.05:
            return None
        if r < 0.30:
            return hot
        return rng.choice(digests)

    old, new = [], []
    for u in pool:
        r = rng.random()
        d = digest()
        if r < 0.35:      # unchanged
            old.append((u, d))
            new.append((u, d))
        elif r < 0.45:    # edited
            old.append((u, d))
            new.append((u, digest()))
        elif r < 0.70:    # old side only: Rm or Mv source
            old.append((u, d))
        elif r < 0.85:    # new side only: Add or Mv target
            new.append((u, d))
    # hot digest lopsided: many more removes than adds
    old.extend((f"bulk/{i:04d}", hot) for i in range(rng.randrange(40, 90)))
    new.extend((f"moved/{i:04d}", hot) for i in range(rng.randrange(5, 20)))
    # null urls on both sides
    old.extend((None, rng.choice([hot, None, digests[0]])) for _ in range(3))
    new.extend((None, rng.choice([hot, None, digests[0]])) for _ in range(3))
    if dup_urls:
        for side in (old, new):
            for u, _ in rng.sample(side, 25):
                side.append((u, digest()))
    rng.shuffle(old)
    rng.shuffle(new)
    return old, new


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_diff_matches_reference_unique_urls(spark, seed):
    old, new = _random_snapshots(seed, dup_urls=False)
    want = reference_diff(old, new)
    assert {k for k, _, _ in want} == {"Add", "Rm", "Edit", "Mv"}
    assert _spark_diff(spark, old, new) == want


@pytest.mark.parametrize("seed", [4, 5, 6])
def test_diff_matches_reference_duplicate_urls(spark, seed):
    old, new = _random_snapshots(seed, dup_urls=True)
    want = reference_diff(old, new)
    assert _spark_diff(spark, old, new) == want


def test_consumed_url_drops_every_copy(spark):
    """u is added twice with different digests; the h1 copy pairs with the
    removed r, and the h2 copy of u is dropped as well."""
    old = [("r", "h1"), ("keep", "h0")]
    new = [("u", "h1"), ("u", "h2"), ("keep", "h0")]
    want = Counter({("Mv", "r", "u"): 1})
    assert reference_diff(old, new) == want
    assert _spark_diff(spark, old, new) == want


def test_nulls_never_pair(spark):
    old = [(None, "h"), ("a", None), ("b", "h"), (None, None)]
    new = [(None, "h"), ("c", None), ("d", "h"), (None, None)]
    want = reference_diff(old, new)
    assert want[("Mv", "b", "d")] == 1
    assert sum(n for (k, _, _), n in want.items() if k == "Mv") == 1
    assert _spark_diff(spark, old, new) == want
