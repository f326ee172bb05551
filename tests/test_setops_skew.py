"""Set ops, overlap report, mixed-scaled compare, and skew-guard evidence."""

from __future__ import annotations

import numpy as np
import pytest

import pyspark.sql.functions as F

from sourmash_spark.oracle import sketch_text
from sourmash_spark.params import LSHParams, SketchParams
from sourmash_spark.sketch import sketch_signatures
from sourmash_spark.operators import lsh as lsh_ops
from sourmash_spark.operators import setops
from sourmash_spark.operators.compare import compare_all_pairs

PARAMS = SketchParams(ksize=21, scaled=50)


@pytest.fixture(scope="module")
def sigs(spark, corpus):
    df = spark.createDataFrame(corpus.code_files).withColumnRenamed(
        "file_id", "sig_id"
    )
    out = sketch_signatures(df, PARAMS, keep_cols=["sig_id"]).cache()
    out.count()
    return out


def test_overlap_report(spark, sigs, corpus):
    o0 = sketch_text(corpus.code_files.loc[0, "content"], PARAMS)
    o1 = sketch_text(corpus.code_files.loc[1, "content"], PARAMS)
    row = setops.overlap_report(sigs, 0, 1, scaled=PARAMS.scaled).collect()[0]
    assert row["jaccard"] == pytest.approx(o0.jaccard(o1), abs=1e-12)
    assert row["containment_a_in_b"] == pytest.approx(
        o0.contained_by(o1), abs=1e-9
    )
    assert row["intersect_hashes"] == len(set(o0.mins) & set(o1.mins))
    assert row["union_hashes"] == len(set(o0.mins) | set(o1.mins))
    assert row["only_in_a"] == len(set(o0.mins) - set(o1.mins))


def test_merge_intersect_subtract_spark(spark, sigs, corpus):
    two = sigs.filter(F.col("sig_id") < 2).withColumn("g", F.lit(1))
    merged = setops.merge_signatures(two, ["g"]).collect()[0]
    o0 = sketch_text(corpus.code_files.loc[0, "content"], PARAMS)
    o1 = sketch_text(corpus.code_files.loc[1, "content"], PARAMS)
    u = o0.copy()
    u.merge(o1)
    assert merged["hashes"] == u.mins
    inter = setops.intersect_signatures(two, ["g"]).collect()[0]
    assert inter["hashes"] == sorted(set(o0.mins) & set(o1.mins))


def test_compare_mixed_scaled_downsamples(spark, sigs, corpus):
    # half the collection at scaled=200: compare must downsample all to 200
    coarse = setops.downsample_signatures(
        sigs.filter(F.col("sig_id") % 2 == 0), 200
    )
    mixed = sigs.filter(F.col("sig_id") % 2 == 1).unionByName(coarse)
    got = {
        (r.sig_id_a, r.sig_id_b): r.jaccard
        for r in compare_all_pairs(mixed, threshold=0.3).collect()
    }
    p200 = SketchParams(ksize=21, scaled=200)
    oracle = {
        int(r.file_id): sketch_text(r.content, p200)
        for r in corpus.code_files.itertuples()
    }
    for (a, b), v in got.items():
        assert v == pytest.approx(oracle[a].jaccard(oracle[b]), abs=1e-12)


def test_boilerplate_skew_guard(spark, corpus):
    """The shared license header creates mega-buckets; bucket_cap bounds
    them and the lineage stats expose them (north rule: measured)."""
    from sourmash_spark.synth import LICENSE_HEADER

    # corpus with 100% boilerplate makes header bands near-universal
    import pandas as pd

    pdf = corpus.code_files.copy()
    pdf["content"] = LICENSE_HEADER + pdf["content"]
    df = spark.createDataFrame(pdf).withColumnRenamed("file_id", "sig_id")
    sigs = sketch_signatures(df, PARAMS, keep_cols=["sig_id"]).cache()
    bands = lsh_ops.band_signatures(sigs, LSHParams(16, 2), PARAMS.scaled)
    stats = lsh_ops.bucket_stats(bands)
    biggest = stats.agg(F.max("bucket_size")).collect()[0][0]
    n = sigs.count()
    assert biggest > n * 0.5, "expected a boilerplate mega-bucket"

    uncapped = lsh_ops.candidate_pairs(bands).count()
    capped = lsh_ops.candidate_pairs(bands, bucket_cap=20).count()
    assert capped < uncapped
    # capping must not lose real near-dup pairs (verified at threshold)
    edges_capped = lsh_ops.verify_pairs(
        lsh_ops.candidate_pairs(bands, bucket_cap=20), sigs,
        scaled=PARAMS.scaled, threshold=0.8,
    ).count()
    edges_brute = compare_all_pairs(sigs, threshold=0.8).count()
    assert edges_capped >= 0.99 * edges_brute


def test_num_mode_jaccard_kernel(spark, corpus):
    """num-mode truncated-union jaccard as a Spark expression must equal the
    oracle (incl. hashes >= 2**63, i.e. negative i64 bit patterns)."""
    from sourmash_spark.operators import kernels
    from sourmash_spark.oracle import MinHash
    from sourmash_spark.hashing import u64_to_i64

    num = 30
    p = SketchParams(ksize=21, scaled=0, num=num)
    texts = corpus.code_files["content"].head(8).tolist()
    oracles = [sketch_text(t, p) for t in texts]
    rows = [
        (i, u64_to_i64(np.array(o.mins, dtype=np.uint64)).tolist())
        for i, o in enumerate(oracles)
    ]
    df = spark.createDataFrame(rows, "sig_id int, hashes array<long>")
    a = df.selectExpr("sig_id AS ia", "hashes AS ha")
    b = df.selectExpr("sig_id AS ib", "hashes AS hb")
    pairs = a.crossJoin(b).filter("ia < ib").select(
        "ia", "ib",
        kernels.jaccard_num(F.col("ha"), F.col("hb"), num).alias("j"),
    )
    got = {(r.ia, r.ib): r.j for r in pairs.collect()}
    for (i, j), v in got.items():
        assert v == pytest.approx(oracles[i].jaccard(oracles[j]), abs=1e-12), (i, j)

    # pinned reference semantics: {1..5} vs {1,2,3,4,6} at num=5 -> 4/5
    e1 = spark.createDataFrame([([1, 2, 3, 4, 5],)], "h1 array<long>")
    v = e1.select(
        kernels.jaccard_num(
            F.col("h1"), F.lit([1, 2, 3, 4, 6]).cast("array<long>"), 5
        ).alias("j")
    ).collect()[0]["j"]
    assert v == pytest.approx(4 / 5)


def test_lsh_tune():
    from sourmash_spark.params import LSHParams

    p = LSHParams.tune(threshold=0.5, target_recall=0.99, band_size=2)
    assert p.capture_probability(0.5) >= 0.99
    assert LSHParams.tune(0.5, 0.99, 2, max_bands=8).num_bands == 8
    # low thresholds need many bands; probability still monotone
    p2 = LSHParams.tune(threshold=0.3, target_recall=0.95, band_size=2)
    assert p2.capture_probability(0.3) >= 0.95
    assert p2.num_bands > p.num_bands


def test_compare_angular_mode(spark, corpus):
    from sourmash_spark.operators.compare import compare_dense

    p = SketchParams(ksize=21, scaled=50, track_abundance=True)
    pdf = corpus.code_files.head(8)
    df = spark.createDataFrame(pdf).withColumnRenamed("file_id", "sig_id")
    sigs = sketch_signatures(df, p, keep_cols=["sig_id"])
    got = {
        (r.sig_id_a, r.sig_id_b): r.angular
        for r in compare_dense(sigs, mode="angular").collect()
    }
    oracles = {
        int(r.file_id): sketch_text(r.content, p) for r in pdf.itertuples()
    }
    for (i, j), v in got.items():
        assert v == pytest.approx(
            oracles[i].angular_similarity(oracles[j]), abs=1e-9
        ), (i, j)


def test_abundance_filter_direct(spark, corpus):
    p = SketchParams(ksize=21, scaled=50, track_abundance=True)
    df = spark.createDataFrame(corpus.code_files.head(5)).withColumnRenamed(
        "file_id", "sig_id"
    )
    sigs = sketch_signatures(df, p, keep_cols=["sig_id"])
    filtered = setops.abundance_filter(sigs, min_abund=2)
    for r in filtered.collect():
        orig = sketch_text(
            corpus.code_files.loc[r["sig_id"], "content"], p
        )
        want = sorted(h for h, a in orig.hashes.items() if a >= 2)
        got = [h if h >= 0 else h + (1 << 64) for h in r["hashes"]]
        assert got == want
        assert all(a >= 2 for a in r["abunds"])
        assert r["n_hashes"] == len(want)


def test_ngram_hash_path_equals_string_path(spark, corpus):
    from sourmash_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(corpus.code_files.head(30)).withColumnRenamed(
        "file_id", "doc_id"
    ).withColumnRenamed("content", "text")
    a = {
        (r.id_a, r.id_b): (r.shared, r.jaccard)
        for r in ngram_jaccard_pairs(docs, hash_grams=True).collect()
    }
    b = {
        (r.id_a, r.id_b): (r.shared, r.jaccard)
        for r in ngram_jaccard_pairs(docs, hash_grams=False).collect()
    }
    assert a == b


def test_exact_dedup_ids_mega_group(spark):
    """A boilerplate mega-group (one content owning ~95% of the corpus —
    the empty-__init__.py shape) through the array-free marking: the hot
    key is an aggregate row + equi-join, never a collected array, and the
    result stays exact.  20k-row smoke of the shape AQE skew-join splits
    at corpus scale."""
    from sourmash_spark.operators import dedup as dedup_ops

    n_hot, n_cold = 19000, 1000
    docs = spark.range(n_hot + n_cold).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < n_hot, F.lit(""))  # the empty-file group
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
        .alias("text"),
    )
    marked = dedup_ops.exact_dedup_ids(docs)
    assert marked.count() == n_hot + n_cold
    agg = (
        marked.groupBy("content_md5")
        .agg(
            F.count("*").alias("n"),
            F.min("canonical_id").alias("cmin"),
            F.max("canonical_id").alias("cmax"),
            F.sum(F.col("is_canonical").cast("long")).alias("n_canon"),
        )
    ).collect()
    by_n = {r["n"]: r for r in agg}
    assert by_n[n_hot]["cmin"] == 0 and by_n[n_hot]["cmax"] == 0
    assert by_n[n_hot]["n_canon"] == 1  # exactly one canonical in the mega group
    assert len([r for r in agg if r["n"] == 1]) == n_cold
    assert all(r["n_canon"] == 1 for r in agg)
