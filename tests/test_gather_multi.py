"""multigather + abundance search vs the oracle."""

from __future__ import annotations

import numpy as np
import pytest

from sourmash_spark.hashing import u64_to_i64
from sourmash_spark.oracle import MinHash, sketch_text
from sourmash_spark.params import SketchParams
from sourmash_spark.sketch import sketch_signatures
from sourmash_spark.operators.gather import gather, multigather
from sourmash_spark.operators.search import search_abund

PARAMS = SketchParams(ksize=21, scaled=50)


@pytest.fixture(scope="module")
def oracle_sketches(corpus):
    return {
        int(r.file_id): sketch_text(r.content, PARAMS)
        for r in corpus.code_files.itertuples()
    }


@pytest.fixture(scope="module")
def sigs(spark, corpus):
    df = spark.createDataFrame(corpus.code_files).withColumnRenamed(
        "file_id", "sig_id"
    )
    out = sketch_signatures(df, PARAMS, keep_cols=["sig_id"]).cache()
    out.count()
    return out


def test_multigather_matches_single_gather(spark, sigs, oracle_sketches):
    # two composite queries from distinct families
    comps = {100: [0, 30], 101: [10, 45]}
    qrows = []
    for qid, members in comps.items():
        mh = oracle_sketches[members[0]].copy()
        for m in members[1:]:
            mh.merge(oracle_sketches[m])
        qrows.append(
            (qid, u64_to_i64(np.array(mh.mins, dtype=np.uint64)).tolist())
        )
    queries = spark.createDataFrame(
        qrows, "query_id long, hashes array<long>"
    )
    min_bp = PARAMS.scaled * 3
    multi = multigather(
        queries, sigs, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=min_bp,
    ).collect()
    by_q = {}
    for r in multi:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(comps)
    for qid, (_, qh) in zip(comps, qrows):
        single = gather(
            spark, sigs, qh, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
            threshold_bp=min_bp,
        ).collect()
        got = sorted(by_q[qid], key=lambda r: r["gather_result_rank"])
        assert [r["md5"] for r in got] == [r["md5"] for r in single]
        assert [r["unique_intersect_bp"] for r in got] == [
            r["unique_intersect_bp"] for r in single
        ]
        assert [r["f_unique_to_query"] for r in got] == pytest.approx(
            [r["f_unique_to_query"] for r in single]
        )


def test_search_abund_matches_oracle(spark, corpus):
    p = SketchParams(ksize=21, scaled=50, track_abundance=True)
    df = spark.createDataFrame(corpus.code_files).withColumnRenamed(
        "file_id", "sig_id"
    )
    sigs = sketch_signatures(df, p, keep_cols=["sig_id"]).cache()
    oracles = {
        int(r.file_id): sketch_text(r.content, p)
        for r in corpus.code_files.head(30).itertuples()
    }
    q = oracles[0]
    qh = u64_to_i64(np.array(q.mins, dtype=np.uint64)).tolist()
    qa = [q.hashes[h] for h in q.mins]
    res = {
        r["sig_id"]: r["similarity"]
        for r in search_abund(sigs, qh, qa, threshold=0.1).collect()
        if r["sig_id"] in oracles
    }
    for fid, mh in oracles.items():
        want = q.angular_similarity(mh)
        if want >= 0.1:
            assert res[fid] == pytest.approx(want, abs=1e-9), fid
        else:
            assert fid not in res


def test_categorize_best_match(spark, sigs, oracle_sketches):
    from sourmash_spark.operators.search import categorize

    res = {
        r["query_id"]: (r["sig_id"], r["similarity"])
        for r in categorize(sigs, sigs, threshold=0.05).collect()
    }
    # oracle: best non-self (by md5) jaccard match for a few queries
    ids = sorted(oracle_sketches)
    for qid in ids[:10]:
        q = oracle_sketches[qid]
        best = None
        for oid in ids:
            m = oracle_sketches[oid]
            if m.md5sum() == q.md5sum():
                continue
            j = q.jaccard(m)
            if j >= 0.05 and (best is None or j > best[1] + 1e-15):
                best = (oid, j)
        if best is None:
            assert qid not in res
        else:
            assert qid in res, qid
            assert res[qid][1] == pytest.approx(best[1], abs=1e-12)


def test_multigather_weighted_matches_single_gather(spark, sigs, oracle_sketches):
    """With an `abunds` column on the queries table, multigather's weighted
    GatherResult columns equal single-query gather(query_abunds=...)."""
    comps = {100: [0, 30], 101: [10, 45]}
    qrows = []
    for qid, members in comps.items():
        mh = oracle_sketches[members[0]].copy()
        for m in members[1:]:
            mh.merge(oracle_sketches[m])
        hashes = u64_to_i64(np.array(mh.mins, dtype=np.uint64)).tolist()
        abunds = [1 + (h % 7) for h in hashes]
        qrows.append((qid, hashes, abunds))
    queries = spark.createDataFrame(
        qrows, "query_id long, hashes array<long>, abunds array<long>"
    )
    min_bp = PARAMS.scaled * 3
    multi = multigather(
        queries, sigs, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=min_bp,
    ).collect()
    by_q = {}
    for r in multi:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(comps)
    for qid, hashes, abunds in qrows:
        single = gather(
            spark, sigs, hashes, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
            threshold_bp=min_bp, query_abunds=abunds,
        ).collect()
        got = sorted(by_q[qid], key=lambda r: r["gather_result_rank"])
        assert [r["md5"] for r in got] == [r["md5"] for r in single]
        for col in (
            "f_unique_weighted", "average_abund", "median_abund",
            "std_abund", "query_containment_ani", "match_containment_ani",
        ):
            assert [r[col] for r in got] == pytest.approx(
                [r[col] for r in single]
            ), col
        assert all(r["query_abundance"] for r in got)


def test_gather_unassigned_remainder(spark, sigs, oracle_sketches):
    """gather_unassigned returns exactly the query hashes no greedy round
    consumed, with original-query abundances (commands.py:1094-1112)."""
    from sourmash_spark.operators.gather import gather_unassigned

    mh = oracle_sketches[0].copy()
    mh.merge(oracle_sketches[30])
    hashes = u64_to_i64(np.array(mh.mins, dtype=np.uint64)).tolist()
    abunds = [1 + (h % 7) for h in hashes]
    min_bp = PARAMS.scaled * 3
    res = gather(
        spark, sigs, hashes, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=min_bp,
    ).collect()
    un = gather_unassigned(
        spark, sigs, hashes, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=min_bp, query_abunds=abunds,
    ).collect()
    # remainder + assigned == original query size
    assigned = sum(r["unique_intersect_bp"] // PARAMS.scaled for r in res)
    assert assigned + len(un) == len(set(hashes))
    # abundances re-inflated from the original query
    amap = dict(zip(hashes, abunds))
    for r in un:
        assert r["abund"] == amap[r["hashval"]]


def test_gather_with_unassigned_matches_separate_calls(
    spark, sigs, oracle_sketches
):
    """The combined entry point (one prefetch + greedy sweep) returns
    exactly what gather() and gather_unassigned() return separately."""
    from sourmash_spark.operators.gather import (
        gather_unassigned, gather_with_unassigned,
    )

    mh = oracle_sketches[0].copy()
    mh.merge(oracle_sketches[30])
    # a few low hashes no db sketch contains -> guaranteed remainder
    qh = u64_to_i64(np.array(mh.mins + [11, 13, 17], dtype=np.uint64)).tolist()
    min_bp = PARAMS.scaled * 3

    both_res, both_un = gather_with_unassigned(
        spark, sigs, qh, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=min_bp,
    )
    solo_res = gather(
        spark, sigs, qh, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=min_bp,
    )
    solo_un = gather_unassigned(
        spark, sigs, qh, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=min_bp,
    )
    assert sorted(map(tuple, both_res.collect())) == sorted(
        map(tuple, solo_res.collect())
    )
    assert sorted(map(tuple, both_un.collect())) == sorted(
        map(tuple, solo_un.collect())
    )
    assert both_un.count() > 0  # composite query leaves a remainder here


def test_multigather_timing_column(spark, sigs, oracle_sketches):
    """timing=True appends gather_wall_ms (per-query greedy-loop wall,
    constant within a query) without changing any result value."""
    import pyspark.sql.functions as F

    from sourmash_spark.operators.gather import multigather

    queries_df = (
        sigs.filter(F.col("sig_id") < 8)
        .select(
            F.floor(F.col("sig_id") / 2).cast("long").alias("query_id"),
            F.explode("hashes").alias("h"),
        )
        .groupBy("query_id")
        .agg(F.array_sort(F.collect_set("h")).alias("hashes"))
    )
    plain = multigather(
        queries_df, sigs, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=3 * PARAMS.scaled,
    ).collect()
    timed = multigather(
        queries_df, sigs, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=3 * PARAMS.scaled, timing=True,
    ).collect()
    assert "gather_wall_ms" not in plain[0].asDict()
    assert len(timed) == len(plain)
    per_q = {}
    for r in timed:
        assert r["gather_wall_ms"] > 0.0
        per_q.setdefault(r["query_id"], set()).add(r["gather_wall_ms"])
    assert all(len(v) == 1 for v in per_q.values())  # constant per query
    key = lambda r: (r["query_id"], r["gather_result_rank"])  # noqa: E731
    for a, b in zip(sorted(plain, key=key), sorted(timed, key=key)):
        da, db = a.asDict(), b.asDict()
        db.pop("gather_wall_ms")
        assert da == db


def test_gather_driver_state_bound(spark, sigs, oracle_sketches, monkeypatch):
    """VERDICT r3 #5: the candidate fetch is one materialized pass, and the
    driver-memory bound (candidates x sketch hashes x 8 bytes) is enforced
    BEFORE any hash array reaches the driver: past the bound the sweep runs
    the cluster-side loop instead of collecting the arrays."""
    from sourmash_spark.operators import gather as gmod

    loops = []
    for name in ("_greedy_rounds", "_greedy_rounds_cluster"):
        real = getattr(gmod, name)
        monkeypatch.setattr(
            gmod, name,
            lambda *a, _f=real, _n=name, **k: loops.append(_n) or _f(*a, **k),
        )

    mh = oracle_sketches[0].copy()
    for m in (10, 30, 45):
        mh.merge(oracle_sketches[m])
    qh = u64_to_i64(np.array(mh.mins, dtype=np.uint64)).tolist()

    # a 1-byte bound keeps this many-candidate sweep off the driver
    over, _ = gmod._gather_rows(
        sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
        None, "", "sig_id", False, max_driver_bytes=1,
    )
    assert loops == ["_greedy_rounds_cluster"]

    # the default bound admits it and the sweep still gathers correctly
    loops.clear()
    results, _rem = gmod._gather_rows(
        sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
        None, "", "sig_id", False,
    )
    assert loops == ["_greedy_rounds"]
    assert results, "bound must not break the normal path"
    assert len(over) == len(results)

    with pytest.raises(ValueError, match="unknown strategy"):
        gmod._gather_rows(
            sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
            None, "", "sig_id", False, strategy="driver",
        )


def test_gather_cluster_strategy_bit_identical(spark, sigs, oracle_sketches):
    """VERDICT r4 #1: the cluster-side per-round loop must produce rows
    bit-identical to the driver loop (strategy='auto' within the default
    bound) — including when 'auto' falls back past a tiny forced
    max_driver_bytes."""
    from sourmash_spark.operators.gather import _gather_rows

    mh = oracle_sketches[0].copy()
    for m in (10, 30, 45):
        mh.merge(oracle_sketches[m])
    qh = u64_to_i64(np.array(mh.mins + [11, 13], dtype=np.uint64)).tolist()

    driver_res, driver_rem = _gather_rows(
        sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
        None, "qmd5", "sig_id", False, strategy="auto",
    )
    cluster_res, cluster_rem = _gather_rows(
        sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
        None, "qmd5", "sig_id", False, strategy="cluster",
    )
    # auto + 1-byte bound: RUNS (via the cluster loop) instead of raising
    auto_res, auto_rem = _gather_rows(
        sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
        None, "qmd5", "sig_id", False, max_driver_bytes=1,
        strategy="auto",
    )
    assert driver_res, "fixture must produce gather rows"
    for other in (cluster_res, auto_res):
        assert len(other) == len(driver_res)
        for a, b in zip(driver_res, other):
            assert set(a) == set(b)
            for key in a:
                assert a[key] == b[key], key
    assert (driver_rem == cluster_rem).all()
    assert (driver_rem == auto_rem).all()


def test_gather_cluster_strategy_edge_cases(spark, sigs, oracle_sketches):
    """Empty query and no-candidate query must return clean empties from
    BOTH strategies (schema intact, no crash)."""
    from sourmash_spark.operators.gather import gather

    for strategy in ("auto", "cluster"):
        # hashes that no db sketch contains -> prefetch yields no candidates
        out = gather(
            spark, sigs, [3, 5, 7], scaled=PARAMS.scaled,
            ksize=PARAMS.ksize, threshold_bp=PARAMS.scaled,
            strategy=strategy,
        )
        assert out.count() == 0
        assert "gather_result_rank" in out.columns

        # empty query
        out2 = gather(
            spark, sigs, [], scaled=PARAMS.scaled, ksize=PARAMS.ksize,
            strategy=strategy,
        )
        assert out2.count() == 0


def test_gather_cluster_strategy_abund_and_ci(spark, sigs, oracle_sketches):
    """Abundance-weighted columns and ANI CI columns must also agree
    bit-exactly between the two loops."""
    from sourmash_spark.operators.gather import _gather_rows

    mh = oracle_sketches[5].copy()
    mh.merge(oracle_sketches[25])
    qh = u64_to_i64(np.array(mh.mins, dtype=np.uint64)).tolist()
    abunds = [1 + (i % 7) for i in range(len(qh))]

    driver_res, _ = _gather_rows(
        sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
        abunds, "qmd5", "sig_id", True, strategy="auto",
    )
    cluster_res, _ = _gather_rows(
        sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
        abunds, "qmd5", "sig_id", True, strategy="cluster",
    )
    assert driver_res
    assert len(cluster_res) == len(driver_res)
    for a, b in zip(driver_res, cluster_res):
        assert set(a) == set(b)
        for key in a:
            assert a[key] == b[key], key


def test_gather_cluster_compaction_bit_identical(
    spark, sigs, oracle_sketches, monkeypatch
):
    """The consumed-id literal compaction (re-checkpoint every
    _CLUSTER_COMPACT_EVERY rounds) must not change results: force a
    compaction after EVERY round and require bit-identity with the
    driver loop on a multi-round query."""
    from sourmash_spark.operators import gather as gmod

    monkeypatch.setattr(gmod, "_CLUSTER_COMPACT_EVERY", 1)

    mh = oracle_sketches[0].copy()
    for m in (10, 30, 45):
        mh.merge(oracle_sketches[m])
    qh = u64_to_i64(np.array(mh.mins, dtype=np.uint64)).tolist()

    driver_res, driver_rem = gmod._gather_rows(
        sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
        None, "qmd5", "sig_id", False, strategy="auto",
    )
    cluster_res, cluster_rem = gmod._gather_rows(
        sigs, qh, PARAMS.scaled, PARAMS.ksize, PARAMS.scaled * 3,
        None, "qmd5", "sig_id", False, strategy="cluster",
    )
    assert driver_res
    assert len(driver_res) >= 2, "needs multiple rounds to exercise compaction"
    assert len(cluster_res) == len(driver_res)
    for a, b in zip(driver_res, cluster_res):
        assert set(a) == set(b)
        for key in a:
            assert a[key] == b[key], key
    assert (driver_rem == cluster_rem).all()
