"""Embedding LSH scale path: recall vs the brute-force baseline, multiprobe
behavior, and plan shape (equi-join, not cross join)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from sourmash_spark.operators import ann as ann_ops
from sourmash_spark.operators.dedup import embedding_neardup_pairs

DIM = 64


def _embs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _aug(spark):
    return ann_ops.perturb_copies(_embs(spark), n_copies=50, dim=DIM)


def test_neardup_lsh_recall_vs_bruteforce(spark):
    aug = _aug(spark).cache()
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(aug, threshold=0.9).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in ann_ops.embedding_neardup_lsh(
            aug, threshold=0.9, n_tables=8, n_planes=6, dim=DIM
        ).collect()
    }
    assert exact, "augmented corpus must contain true near-dups"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.99
    # exact within-bucket verification => no false positives
    assert got <= exact


def test_neardup_lsh_params_scaling_law():
    """VERDICT r4 #2: (T, q) must scale with N — q ~ log2(N) keeps bucket
    population (and candidate volume per vector) constant; T holds the
    analytic recall of the base configuration."""
    import math

    from sourmash_spark.operators.ann import neardup_lsh_params

    # at-or-below base N: published base config unchanged
    assert neardup_lsh_params(2_050) == (8, 6)
    assert neardup_lsh_params(100) == (8, 6)

    p = 1.0 - math.acos(0.9) / math.pi
    # analytic WORST-CASE recall for pairs at exactly cosine==threshold;
    # the measured >=0.99 corpus gate (true pairs sit well above 0.9) is
    # asserted by test_neardup_lsh_scaled_params_keep_recall
    base_recall = 1.0 - (1.0 - p**6) ** 8
    assert base_recall >= 0.98
    for factor in (10, 30, 100, 1000):
        t, q = neardup_lsh_params(2_050 * factor)
        # q tracks log2(N/base)
        assert q == 6 + round(math.log2(factor))
        # expected bucket population ~constant: N / 2^q within 2x of base
        assert 2_050 * factor / 2**q <= 2 * 2_050 / 2**6
        # analytic worst-case recall never below the base configuration's
        # (up to the ceil() granularity of T)
        recall = 1.0 - (1.0 - p**q) ** t
        assert recall >= base_recall - 1e-9
        # and the table count stays affordable: ~(1/p)^dq growth, never
        # anything like the naive candidate blowup it prevents
        assert t <= 2 * 8 * (1 / p) ** (q - 6)


def test_neardup_lsh_scaled_params_keep_recall(spark):
    """The recall gate holds under the N-SCALED parameters, not just the
    base ones: force the next scale step's (T, q) on the test corpus."""
    from sourmash_spark.operators.ann import neardup_lsh_params

    t, q = neardup_lsh_params(20_500)  # one 10x step up
    assert (t, q) != (8, 6)
    aug = _aug(spark).cache()
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(aug, threshold=0.9).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in ann_ops.embedding_neardup_lsh(
            aug, threshold=0.9, n_tables=t, n_planes=q, dim=DIM
        ).collect()
    }
    assert exact
    recall = len(got & exact) / len(exact)
    assert recall >= 0.99
    assert got <= exact


def test_lsh_pairs_are_candidate_bounded(spark):
    """The LSH path must examine only bucket-sharing candidates — with one
    plane table and many planes, far fewer than N^2."""
    aug = _aug(spark)
    plan = ann_ops.embedding_neardup_lsh(
        aug, threshold=0.9, n_tables=2, n_planes=8, dim=DIM
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_topk_multiprobe_recovers_boundary_recall(spark):
    """recall@1 of retrieving each planted near-dup (cosine ~0.99): the
    realistic ANN workload.  Multiprobe must recover bucket-boundary misses
    — with 4 probes a pair is missed only when >= 2 of 6 planes split it."""
    aug = _aug(spark).cache()
    queries = aug.filter(F.col("vec_id") >= 100_000).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def recall_at_1(df):
        best = {r["query_id"]: r["vec_id"] for r in df.filter(
            F.col("rank") == 1
        ).collect()}
        return sum(
            1 for qid, vid in best.items() if vid == qid - 100_000
        ) / 50.0

    lsh0 = ann_ops.lsh_topk(aug, queries, k=1, n_planes=6, n_probes=0, dim=DIM)
    lsh4 = ann_ops.lsh_topk(aug, queries, k=1, n_planes=6, n_probes=4, dim=DIM)
    r0, r4 = recall_at_1(lsh0), recall_at_1(lsh4)
    assert r4 >= r0  # multiprobe can only widen the candidate set
    assert r4 >= 0.9  # and recovers near-all planted near-dups


def test_bucket_cap_drops_megabuckets(spark):
    aug = _aug(spark)
    uncapped = ann_ops.embedding_neardup_lsh(
        aug, threshold=0.0, n_tables=1, n_planes=1, dim=DIM
    ).count()
    capped = ann_ops.embedding_neardup_lsh(
        aug, threshold=0.0, n_tables=1, n_planes=1, dim=DIM, bucket_cap=10
    ).count()
    assert capped < uncapped


def test_perturb_copies_shape(spark):
    embs = _embs(spark)
    n = embs.count()
    aug = ann_ops.perturb_copies(embs, n_copies=50, dim=DIM)
    assert aug.count() == n + 50
    # copies are near, not identical
    pairs = embedding_neardup_pairs(aug, threshold=0.9)
    top = pairs.filter(F.col("id_b") >= 100_000).collect()
    assert len(top) >= 50
    assert all(r["cosine"] < 1.0 for r in top if r["id_a"] + 100_000 == r["id_b"])


def test_ivf_topk_finds_planted_neardups(spark):
    from sourmash_spark.operators.ann import ivf_topk

    aug = _aug(spark).cache()
    queries = aug.filter(F.col("vec_id") >= 100_000).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(aug, queries, k=1, n_cells=16, n_probe=4)
    best = {r["query_id"]: r["vec_id"] for r in out.filter(
        F.col("rank") == 1
    ).collect()}
    recall = sum(1 for q, v in best.items() if v == q - 100_000) / 50.0
    # a near-identical copy quantizes to the same (or an adjacent probed)
    # cell almost surely
    assert recall >= 0.9


def test_ivf_candidates_bounded_by_cells(spark):
    from sourmash_spark.operators.ann import ivf_assign

    embs = _embs(spark)
    cents = embs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), "embedding"
    )
    cells = ivf_assign(embs, cents, n_probe=1)
    assert cells.count() == embs.count()  # every vector exactly one cell
    sizes = cells.groupBy("cell").count().collect()
    assert len(sizes) <= 8
    # the codebook reaches the kernel as driver data: no cross join and
    # no exchange of any kind
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan
    assert "Exchange" not in plan


def _quantization_error(embs, cents):
    """Mean squared distance of each vector to its assigned centroid."""
    from sourmash_spark.operators.ann import ivf_assign

    C = {r["cell"]: np.asarray(r["embedding"]) for r in cents.collect()}
    d = [
        ((np.asarray(r["embedding"]) - C[r["cell"]]) ** 2).sum()
        for r in ivf_assign(embs, cents, n_probe=1).collect()
    ]
    return float(np.mean(d))


def test_trained_codebook_deterministic(spark):
    from sourmash_spark.operators.ann import train_ivf_codebook

    embs = _embs(spark)
    a = train_ivf_codebook(embs, n_cells=8).collect()
    b = train_ivf_codebook(embs, n_cells=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 8


def test_trained_codebook_beats_seed(spark):
    """k-means centroids must quantize better than the arbitrary
    id<n_cells seed codebook, and IVF recall at fixed n_probe must not
    regress (VERDICT r3 #6 done-criteria)."""
    from sourmash_spark.operators.ann import ivf_topk, train_ivf_codebook

    aug = _aug(spark).cache()
    seed_cents = aug.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    trained = train_ivf_codebook(aug, n_cells=16)
    qe_seed = _quantization_error(aug, seed_cents)
    qe_trained = _quantization_error(aug, trained)
    assert qe_trained < qe_seed

    queries = aug.filter(F.col("vec_id") >= 100_000).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def recall(cents):
        out = ivf_topk(
            aug, queries, k=1, n_cells=16, n_probe=1, centroids=cents
        )
        best = {
            r["query_id"]: r["vec_id"]
            for r in out.filter(F.col("rank") == 1).collect()
        }
        return sum(1 for q, v in best.items() if v == q - 100_000) / 50.0

    r_seed, r_trained = recall(seed_cents), recall(trained)
    assert r_trained >= r_seed
    assert r_trained >= 0.9


def test_kernel_probes_match_probes_sql(spark):
    """The hyperplane kernel's probe list (base bucket, then single-bit
    flips by (|dot|, plane)) equals DuckDB's `probes_sql` on random
    vectors, with planted equal-|dot| ties: the zero and negative-zero
    vectors tie every plane at |dot| = 0, and vectors orthogonal to one
    plane put an exact 0.0 dot on the sign boundary."""
    import duckdb

    dim, q = 16, 6
    planes = ann_ops.plane_matrix(q, dim)
    rng = np.random.RandomState(11)
    vecs = rng.randn(200, dim).tolist()
    vecs += [[0.0] * dim, [-0.0] * dim]
    for p in range(q):
        v = [0.0] * dim  # c[p][5] * c[p][2] - c[p][2] * c[p][5] == 0
        v[2], v[5] = planes[p][5], -planes[p][2]
        vecs.append(v)
    rows = list(enumerate(vecs))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for n_probes in (3, q + 2):
        got = {
            r["vec_id"]: list(r["_buckets"])
            for r in ann_ops._plane_buckets(
                df, 1, q, dim, n_probes, "vec_id", "embedding"
            ).collect()
        }
        probes = ann_ops.probes_sql("embedding", planes, n_probes)
        want = dict(
            con.execute(f"SELECT vec_id, {probes} FROM t").fetchall()
        )
        assert got == want, n_probes
        assert len(got[200]) == 1 + min(n_probes, q)
        # every |dot| ties on the zero vector: flips follow plane order
        assert got[200][1:] == [
            got[200][0] ^ (1 << p) for p in range(min(n_probes, q))
        ]


def test_duplicated_id_never_pairs_with_itself(spark):
    """A vec_id that appears twice (two near-identical vectors) must not
    pair with itself: no id_a == id_b pair from embedding_neardup_lsh and
    no vector marked dup_of itself by semantic_dedup — as in the DuckDB
    twins, which join on a.vec_id < b.vec_id.  Real near-dups still pair."""
    rng = np.random.RandomState(13)
    base = rng.randn(30, 16)
    rows = [(i, base[i].tolist()) for i in range(30)]
    rows.append((7, (base[7] + 1e-3).tolist()))  # vec_id 7 twice
    rows.append((100, (base[3] + 1e-3).tolist()))  # a real near-dup of 3
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = ann_ops.embedding_neardup_lsh(
        embs, threshold=0.9, n_tables=4, n_planes=2, dim=16
    ).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert (3, 100) in {(r["id_a"], r["id_b"]) for r in pairs}

    dups = ann_ops.semantic_dedup(embs, n_cells=2, eps=0.9).collect()
    assert all(r["vec_id"] != r["dup_of"] for r in dups)
    assert (100, 3) in {(r["vec_id"], r["dup_of"]) for r in dups}


def test_kernels_reject_null_and_ragged_vectors(spark):
    """A null vector, or one whose length is not the planes' or the
    codebook's, fails both kernels loudly instead of shifting the rows
    after it onto the wrong components."""
    import pytest

    bad = {
        "null": [(0, [1.0, 2.0]), (1, None), (2, [3.0, 4.0])],
        "ragged": [(0, [1.0, 2.0]), (1, [5.0]), (2, [3.0, 4.0, 6.0])],
    }
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0])], "cell int, embedding array<double>"
    )
    for rows in bad.values():
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        for out in (
            ann_ops.hyperplane_lsh_buckets(df, n_planes=2, dim=2),
            ann_ops.ivf_assign(df, cents),
        ):
            with pytest.raises(Exception, match="non-null and of length 2"):
                out.collect()
