"""Protocol tests: every query path (brute-force compare, LSH pipeline,
search, prefetch, gather, clustering) must agree with the pure-Python oracle
on the synthetic corpus — the analog of the reference's
tests/test_index_protocol.py (one suite, every implementation)."""

from __future__ import annotations

import numpy as np
import pytest

from sourmash_spark.hashing import u64_to_i64
from sourmash_spark.oracle import MinHash, sketch_text
from sourmash_spark.params import LSHParams, SketchParams
from sourmash_spark.sketch import sketch_signatures
from sourmash_spark.operators import cluster as cluster_ops
from sourmash_spark.operators import compare as compare_ops
from sourmash_spark.operators import lsh as lsh_ops
from sourmash_spark.operators import prefetch as prefetch_ops
from sourmash_spark.operators import search as search_ops
from sourmash_spark.operators.gather import gather

PARAMS = SketchParams(ksize=21, scaled=50)
LSH = LSHParams(num_bands=16, band_size=2)


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
    out = sketch_signatures(
        df, PARAMS, keep_cols=["sig_id", "repo", "path"]
    ).cache()
    out.count()
    return out


def oracle_pairs(oracle_sketches, threshold=0.0):
    ids = sorted(oracle_sketches)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            j = oracle_sketches[a].jaccard(oracle_sketches[b])
            if j > threshold:
                out[(a, b)] = j
    return out


def test_compare_all_pairs_matches_oracle(sigs, oracle_sketches):
    got = {
        (r.sig_id_a, r.sig_id_b): r.jaccard
        for r in compare_ops.compare_all_pairs(sigs, mode="jaccard").collect()
    }
    want = oracle_pairs(oracle_sketches)
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-12)


def test_compare_dense_equals_sparse(sigs):
    sub = sigs.limit(15).cache()
    sparse = {
        (r.sig_id_a, r.sig_id_b): r.jaccard
        for r in compare_ops.compare_all_pairs(sub).collect()
    }
    dense = {
        (r.sig_id_a, r.sig_id_b): r.jaccard
        for r in compare_ops.compare_dense(sub).collect()
        if r.jaccard > 0
    }
    assert sparse == dense


def test_compare_containment_mode(sigs, oracle_sketches):
    got = {
        (r.sig_id_a, r.sig_id_b): r.containment
        for r in compare_ops.compare_all_pairs(
            sigs, mode="containment", scaled=PARAMS.scaled
        ).collect()
    }
    for (a, b), v in list(got.items())[:50]:
        assert v == pytest.approx(
            oracle_sketches[a].contained_by(oracle_sketches[b]), abs=1e-9
        )


def test_search_jaccard_matches_oracle(sigs, oracle_sketches):
    qid = 0
    q = oracle_sketches[qid]
    qh = u64_to_i64(np.array(q.mins, dtype=np.uint64)).tolist()
    res = search_ops.search(
        sigs, qh, threshold=0.05, mode="jaccard", ksize=PARAMS.ksize
    ).collect()
    got = {r.sig_id: r.similarity for r in res}
    # oracle: md5-dedup keeps one representative per identical sketch
    by_md5 = {}
    for fid, mh in oracle_sketches.items():
        j = q.jaccard(mh)
        if j >= 0.05:
            by_md5.setdefault(mh.md5sum(), []).append((fid, j))
    assert len(got) == len(by_md5)
    for md5, matches in by_md5.items():
        fids = {f for f, _ in matches}
        assert fids & set(got)
        for f in fids & set(got):
            assert got[f] == pytest.approx(dict(matches)[f], abs=1e-12)
    # ordering is desc by similarity
    sims = [r.similarity for r in res]
    assert sims == sorted(sims, reverse=True)


def test_search_best_only(sigs, oracle_sketches):
    qid = 3
    q = oracle_sketches[qid]
    qh = u64_to_i64(np.array(q.mins, dtype=np.uint64)).tolist()
    best = search_ops.search(
        sigs, qh, threshold=0.0, mode="jaccard", best_only=True
    ).collect()
    assert len(best) == 1
    assert best[0].similarity == pytest.approx(1.0)  # self-match


def test_prefetch_stats_match_oracle(sigs, oracle_sketches):
    qid = 1
    q = oracle_sketches[qid]
    qh = u64_to_i64(np.array(q.mins, dtype=np.uint64)).tolist()
    res = prefetch_ops.prefetch(
        sigs, qh, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=PARAMS.scaled * 3, query_md5=q.md5sum(),
    ).collect()
    assert res, "expected at least the self match"
    for r in res:
        mh = oracle_sketches[r.sig_id]
        inter = len(set(q.mins) & set(mh.mins))
        assert r.intersect_hashes == inter
        assert inter * PARAMS.scaled == r.intersect_bp
        assert r.jaccard == pytest.approx(q.jaccard(mh), abs=1e-12)
        assert r.f_match_query == pytest.approx(q.contained_by(mh), abs=1e-9)
        assert r.f_query_match == pytest.approx(mh.contained_by(q), abs=1e-9)
        assert r.max_containment == pytest.approx(q.max_containment(mh), abs=1e-9)
        assert r.query_bp == len(q) * PARAMS.scaled
    # ordered by overlap desc
    overlaps = [r.intersect_hashes for r in res]
    assert overlaps == sorted(overlaps, reverse=True)


def _oracle_gather(query: MinHash, db: dict[int, MinHash], min_hashes: int):
    remaining = set(query.mins)
    cands = {i: set(m.mins) for i, m in db.items()}
    order = []
    while True:
        best, best_ov = None, -1
        for i in sorted(cands, key=lambda i: db[i].md5sum()):
            ov = len(cands[i] & remaining)
            if ov > best_ov:
                best, best_ov = i, ov
        if best is None or best_ov < min_hashes or best_ov <= 0:
            break
        order.append((best, len(cands[best] & remaining)))
        remaining -= cands.pop(best)
    return order


def test_gather_greedy_decomposition(spark, sigs, oracle_sketches):
    # query = union of three unrelated base sketches (distinct families)
    fams = [0, 6, 11]
    fam_ids = [fid for fid in fams]
    parts = [oracle_sketches[f * 5] for f in fams]  # family f starts at f*5
    q = parts[0].copy()
    for p in parts[1:]:
        q.merge(p)
    qh = u64_to_i64(np.array(q.mins, dtype=np.uint64)).tolist()
    min_bp = PARAMS.scaled * 3
    res = gather(
        spark, sigs, qh, scaled=PARAMS.scaled, ksize=PARAMS.ksize,
        threshold_bp=min_bp,
    ).collect()
    db = {int(i): m for i, m in oracle_sketches.items()}
    want = _oracle_gather(q, db, max(1, min_bp // PARAMS.scaled))
    assert [r.gather_result_rank for r in res] == list(range(len(res)))
    assert len(res) == len(want)
    for r, (wid, wov) in zip(res, want):
        assert r.md5 == db[wid].md5sum()
        assert r.unique_intersect_bp == wov * PARAMS.scaled
    # every queried family should be covered by the found matches
    found_f = {
        int(r.name) // 5 if r.name.isdigit() else None for r in res
    }
    covered = {f for f in fams}
    # f_unique sums to <= 1 and decomposition covers most of the query
    assert sum(r.f_unique_to_query for r in res) <= 1.0 + 1e-9
    assert sum(r.unique_intersect_bp for r in res) >= 0.9 * len(q) * PARAMS.scaled


def test_lsh_recall_and_verify(sigs, oracle_sketches):
    bands = lsh_ops.band_signatures(sigs, LSH, scaled=PARAMS.scaled)
    cands = lsh_ops.candidate_pairs(bands)
    edges = lsh_ops.verify_pairs(
        cands, sigs, scaled=PARAMS.scaled, ksize=PARAMS.ksize, threshold=0.5
    ).collect()
    got = {(r.sig_id_a, r.sig_id_b) for r in edges}
    want = {k for k, v in oracle_pairs(oracle_sketches).items() if v >= 0.5}
    missed = want - got
    recall = 1 - len(missed) / len(want) if want else 1.0
    assert recall >= 0.99, f"LSH recall {recall}, missed {missed}"
    # verification is exact: no false positives above threshold
    omap = oracle_pairs(oracle_sketches)
    for r in edges:
        assert omap[(r.sig_id_a, r.sig_id_b)] == pytest.approx(r.jaccard, abs=1e-12)


def _union_find(pairs, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


def test_clusters_match_oracle_single_linkage(spark, sigs, oracle_sketches):
    threshold = 0.5
    bands = lsh_ops.band_signatures(sigs, LSH, scaled=PARAMS.scaled)
    cands = lsh_ops.candidate_pairs(bands)
    edges = lsh_ops.verify_pairs(
        cands, sigs, scaled=PARAMS.scaled, threshold=threshold
    )
    clusters = {
        r.sig_id: r.cluster_id
        for r in cluster_ops.assign_clusters(sigs, edges).collect()
    }
    want_pairs = [
        k for k, v in oracle_pairs(oracle_sketches).items() if v >= threshold
    ]
    want = _union_find(want_pairs, sorted(oracle_sketches))
    # same partition: min-label representative must match exactly
    assert clusters == want


def test_cc_distributed_equals_driver_path(spark, sigs, oracle_sketches):
    """Both CC strategies (driver union-find / iterative min-label joins)
    must produce identical assignments."""
    bands = lsh_ops.band_signatures(sigs, LSH, scaled=PARAMS.scaled)
    edges = lsh_ops.verify_pairs(
        lsh_ops.candidate_pairs(bands), sigs, scaled=PARAMS.scaled,
        threshold=0.5,
    ).cache()
    drv = {
        r.sig_id: r.cluster_id
        for r in cluster_ops.assign_clusters(sigs, edges).collect()
    }
    dist = {
        r.sig_id: r.cluster_id
        for r in cluster_ops._label_propagation(
            edges.selectExpr("sig_id_a as a", "sig_id_b as b")
        ).collect()
    }
    assert dist
    assert drv == {v: dist.get(v, v) for v in drv}


def test_verify_prefilter_lossless_all_threshold_cols(spark, sigs):
    """The size-bound candidate prune inside verify_pairs must be invisible
    in the output: thresholded verify == unfiltered verify + exact jaccard
    post-filter (the prune keeps any pair whose upper bound — jaccard at
    inter=min(|A|,|B|) — clears the threshold, so no true edge can be
    lost)."""
    import pyspark.sql.functions as F

    bands = lsh_ops.band_signatures(sigs, LSH, scaled=PARAMS.scaled)
    cands = lsh_ops.candidate_pairs(bands).localCheckpoint(eager=True)
    ref_all = lsh_ops.verify_pairs(
        cands, sigs, scaled=PARAMS.scaled, ksize=PARAMS.ksize, threshold=0.0
    ).cache()
    for t in (0.3, 0.8):
        got = sorted(
            map(
                tuple,
                lsh_ops.verify_pairs(
                    cands, sigs, scaled=PARAMS.scaled,
                    ksize=PARAMS.ksize, threshold=t,
                ).collect(),
            )
        )
        want = sorted(
            map(tuple, ref_all.filter(F.col("jaccard") >= t).collect())
        )
        assert got == want, (t, len(got), len(want))
    ref_all.unpersist()
