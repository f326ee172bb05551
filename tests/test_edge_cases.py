"""Edge-case hardening: empty queries/sketches, degenerate thresholds —
behaviors a reference user hits on day one (reference test-suite style,
tests/test_sourmash.py empty/edge coverage)."""

from __future__ import annotations

import pyspark.sql.functions as F

from sourmash_spark.operators.compare import compare_all_pairs
from sourmash_spark.operators.gather import gather, gather_unassigned, multigather
from sourmash_spark.operators.prefetch import prefetch
from sourmash_spark.operators.search import search

SIGS_SCHEMA = (
    "sig_id long, name string, md5 string, hashes array<long>, n_hashes int"
)


def _db(spark):
    rows = [
        (1, "a", "md5a", [10, 20, 30, 40], 4),
        (2, "b", "md5b", [30, 40, 50, 60], 4),
        (3, "empty", "md5e", [], 0),
    ]
    return spark.createDataFrame(rows, SIGS_SCHEMA)


def test_gather_empty_query_returns_no_rows(spark):
    out = gather(spark, _db(spark), [], scaled=4, ksize=5)
    assert out.count() == 0
    # schema stays the full GatherResult shape even when empty
    assert "f_unique_weighted" in out.columns


def test_gather_unassigned_empty_query(spark):
    out = gather_unassigned(spark, _db(spark), [], scaled=4, ksize=5)
    assert out.count() == 0
    assert out.columns == ["hashval", "abund"]


def test_gather_no_candidates_above_threshold(spark):
    # threshold higher than any overlap -> zero rows, full remainder
    qh = [10, 20, 30, 40, 50, 60]
    res = gather(
        spark, _db(spark), qh, scaled=4, ksize=5, threshold_bp=4 * 100
    )
    assert res.count() == 0
    un = gather_unassigned(
        spark, _db(spark), qh, scaled=4, ksize=5, threshold_bp=4 * 100
    )
    assert {r["hashval"] for r in un.collect()} == set(qh)


def test_search_empty_query_no_matches(spark):
    out = search(_db(spark), [], threshold=0.0, mode="jaccard", ksize=5)
    assert out.count() == 0  # jaccard 0 vs everything -> passes() fails


def test_prefetch_empty_db_sketch_never_matches(spark):
    out = prefetch(_db(spark), [10, 20], scaled=4, ksize=5)
    ids = {r["sig_id"] for r in out.collect()}
    assert 3 not in ids  # the empty sketch can't appear


def test_compare_empty_sketches_produce_no_pairs(spark):
    sigs = spark.createDataFrame(
        [(1, "a", "m1", [], 0), (2, "b", "m2", [], 0)], SIGS_SCHEMA
    )
    assert compare_all_pairs(sigs, threshold=0.0).count() == 0


def test_multigather_query_with_no_hits(spark):
    queries = spark.createDataFrame(
        [(0, [10, 20, 30]), (1, [999, 998, 997])],
        "query_id long, hashes array<long>",
    )
    out = multigather(queries, _db(spark), scaled=4, ksize=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert 0 in by_q and 1 not in by_q  # no-hit query contributes nothing


def test_gather_threshold_bp_zero_means_min_one_hash(spark):
    # reference: threshold_bp=0 keeps any overlap >= 1 hash
    res = gather(spark, _db(spark), [10, 999], scaled=4, ksize=5).collect()
    assert len(res) == 1
    assert res[0]["intersect_bp"] == 4  # one hash * scaled


def test_driver_union_find_matches_bfs_on_random_graphs(spark):
    """The vectorized min-label propagation in _driver_union_find must
    label every vertex with its component's min sig_id — checked against a
    from-scratch BFS on random graphs (chains, stars, and dense blobs all
    arise at these densities)."""
    import numpy as np
    import pandas as pd

    from sourmash_spark.operators.cluster import _driver_union_find

    rng = np.random.default_rng(7)
    for trial, (n, m) in enumerate([(80, 40), (80, 200), (200, 150)]):
        a = rng.integers(0, n, size=m)
        b = rng.integers(0, n, size=m)
        keep = a != b
        a, b = a[keep].tolist(), b[keep].tolist()
        edges = pd.DataFrame({"a": a, "b": b})
        got = {
            r.sig_id: r.cluster_id
            for r in _driver_union_find(edges, spark).collect()
        }
        # BFS reference
        adj: dict[int, set[int]] = {}
        for x, y in zip(a, b):
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        want = {}
        seen: set[int] = set()
        for v in sorted(adj):
            if v in seen:
                continue
            comp, stack = [], [v]
            seen.add(v)
            while stack:
                u = stack.pop()
                comp.append(u)
                for w in adj[u]:
                    if w not in seen:
                        seen.add(w)
                        stack.append(w)
            lab = min(comp)
            for u in comp:
                want[u] = lab
        assert got == want, f"trial {trial}"
