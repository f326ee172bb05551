"""Regression tests for the round-4 ADVICE findings.

1. cap_postings must keep NULL-key rows (a NOT-IN filter over NULL
   yields NULL and drops the row; the broadcast anti join keeps it) —
   external callers must not lose rows to the cap they do not own.
2. pack_sequences pack_id must use integer division end-to-end: at
   cumulative sums near 2^53 a correctly-rounded double quotient can
   floor into the wrong pack at exact-multiple boundaries.
3. train_ivf_codebook's empty-cell reseed must pick a DISTINCT point per
   empty cell in an iteration, not the same global farthest point.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from sourmash_spark.operators.ann import _reseed_empty_cells
from sourmash_spark.operators.compare import cap_postings
from sourmash_spark.operators.mix import pack_sequences


def test_cap_literal_path_keeps_null_keys(spark):
    """A NULL-key row survives the cap, with a one- and a two-column key."""
    rows = [(i, 100) for i in range(20)]  # hot key, df=20 > cap
    rows += [(i, 1000 + i) for i in range(20)]  # cool per-doc keys
    rows += [(999, None)]  # the NULL-key row at issue
    p = spark.createDataFrame(rows, "sig_id long, hashval long")

    kept = {(r["sig_id"], r["hashval"]) for r in cap_postings(
        p, ["hashval"], 10
    ).collect()}
    assert (999, None) in kept, "the cap must keep NULL keys"
    assert not any(k == 100 for _, k in kept)
    assert len(kept) == 21

    # two-column key: (band 0, key 100) is hot; NULL in either column stays
    p2 = p.withColumn("band_idx", F.lit(0)).unionByName(
        spark.createDataFrame(
            [(998, 100, None)], "sig_id long, hashval long, band_idx int"
        )
    )
    kept2 = {(r["sig_id"], r["band_idx"], r["hashval"]) for r in cap_postings(
        p2, ["band_idx", "hashval"], 10
    ).collect()}
    assert {(999, 0, None), (998, None, 100)} <= kept2
    assert not any(b == 0 and k == 100 for _, b, k in kept2)
    assert len(kept2) == 22


def test_pack_id_integer_division_near_2_53(spark):
    """start = 2^53 + 1 with budget 3: double division floors to
    3002399751580330 (the double rounds 2^53+1 down to 2^53); integer
    division gives the true 3002399751580331."""
    big = (1 << 53) + 1
    docs = spark.createDataFrame(
        [(0, "s", big), (1, "s", 5)],
        "doc_id long, source string, n_tokens long",
    )
    out = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_sequences(docs, budget=3).collect()
    }
    # doc 1's start == big; exact integer quotient/remainder expected
    assert out[1] == (big // 3, big % 3)
    assert out[0] == (0, 0)


def test_pack_id_exact_multiple_boundary(spark):
    """Exact-multiple boundary: start == k * budget must land in pack k
    with offset 0 (the double-quotient failure mode)."""
    budget = 4096
    docs = spark.createDataFrame(
        [(0, "s", 3 * budget), (1, "s", 10)],
        "doc_id long, source string, n_tokens long",
    )
    out = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_sequences(docs, budget=budget).collect()
    }
    assert out[1] == (3, 0)


def test_reseed_empty_cells_distinct():
    """Two empty cells in one Lloyd iteration must be reseeded to two
    DIFFERENT points: descending min-distance, index-ascending on ties."""
    X = np.array([[0.0, 0.0], [10.0, 0.0], [9.0, 0.0], [1.0, 0.0]])
    dmin = np.array([0.0, 7.0, 7.0, 1.0])  # ties at indices 1, 2
    newC = np.zeros((4, 2))
    _reseed_empty_cells(newC, [2, 3], X, dmin)
    assert (newC[2] == X[1]).all()  # farthest, lowest index on tie
    assert (newC[3] == X[2]).all()  # the NEXT farthest, not a duplicate
    assert not (newC[2] == newC[3]).all()


def test_train_ivf_codebook_centroids_distinct(spark):
    """End-to-end: duplicate-heavy input must still yield pairwise-distinct
    centroids after Lloyd iterations with empty-cell reseeding."""
    from sourmash_spark.operators.ann import train_ivf_codebook

    rows = []
    # two tight blobs + isolated outliers; more cells than natural clusters
    for i in range(30):
        rows.append((i, [0.0 + i * 1e-6, 0.0]))
    for i in range(30, 60):
        rows.append((i, [100.0 + i * 1e-6, 100.0]))
    rows.append((60, [500.0, -500.0]))
    rows.append((61, [-500.0, 500.0]))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = train_ivf_codebook(embs, n_cells=8, max_iter=10)
    cents = [tuple(r["embedding"]) for r in cb.collect()]
    assert len(cents) == len(set(cents)), "centroids must be distinct"
