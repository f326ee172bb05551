"""Document-frequency cap: the boilerplate guard for the inverted-index
pair joins (compare.cap_postings, applied by compare.shared_key_pairs for
compare_all_pairs / dedup.minhash_pairs60 / ngram_jaccard_pairs / ...).

A key shared by df documents yields O(df^2) pair rows before any filter —
the last quadratic blowup at corpus scale.  These tests prove: (1) the cap
bounds the join volume on a boilerplate-heavy corpus, (2) capped scores
only ever go down (lower bound), (3) the dropped-key lineage is reported,
(4) the default-on cap is a no-op below the cap.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from sourmash_spark.operators import dedup as dedup_ops
from sourmash_spark.operators.compare import (
    DEFAULT_DF_CAP,
    cap_postings,
    compare_all_pairs,
)

BOILER = "copyright license header boilerplate text "


def _boiler_docs(spark, n=60):
    """Every doc shares one boilerplate prefix; bodies are distinct."""
    rows = [
        (i, BOILER * 3 + f"unique body {i} " + f"token{i} " * 30)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_cap_bounds_join_volume(spark):
    docs = _boiler_docs(spark)
    uncapped = dedup_ops.ngram_jaccard_pairs(
        docs, n=3, threshold=0.0, hash_grams=False, df_cap=0
    )
    capped = dedup_ops.ngram_jaccard_pairs(
        docs, n=3, threshold=0.0, hash_grams=False, df_cap=10
    )
    n_un, n_cap = uncapped.count(), capped.count()
    # boilerplate grams pair every doc with every other: ~N^2/2 rows
    assert n_un == 60 * 59 // 2
    # the cap kills the boilerplate-only pairs entirely
    assert n_cap == 0


def test_capped_jaccard_is_lower_bound(spark):
    docs = _boiler_docs(spark, n=20)
    un = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup_ops.ngram_jaccard_pairs(
            docs, n=3, threshold=0.0, hash_grams=False, df_cap=0
        ).collect()
    }
    cap = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup_ops.ngram_jaccard_pairs(
            docs, n=3, threshold=0.0, hash_grams=False, df_cap=5
        ).collect()
    }
    assert set(cap) <= set(un)
    assert all(cap[k] <= un[k] + 1e-12 for k in cap)


def test_df_cap_stats_reports_dropped_volume(spark):
    docs = _boiler_docs(spark, n=30)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                __import__(
                    "sourmash_spark.operators.docops", fromlist=["word_ngrams"]
                ).word_ngrams(F.col("text"), 3)
            )
        ).alias("gram"),
    )
    stats: dict = {}
    kept = cap_postings(grams, ["gram"], 10, stats=stats)
    df = grams.toPandas().groupby("gram").size()
    hot = df[df > 10]
    assert any("boilerplate" in g for g in hot.index), "boilerplate is hot"
    assert (hot == 30).all()  # the shared prefix is in every doc
    assert stats == {
        "dropped_keys": len(hot), "dropped_postings": int(hot.sum()),
    }
    assert kept.count() == int(df.sum() - hot.sum())


def test_default_cap_is_noop_below_cap(spark):
    sigs = spark.createDataFrame(
        [(1, [1, 2, 3], 3), (2, [2, 3, 4], 3), (3, [9, 10, 11], 3)],
        "sig_id long, hashes array<long>, n_hashes int",
    ).withColumn("scaled", F.lit(8).cast("long"))
    default = compare_all_pairs(sigs).collect()
    uncapped = compare_all_pairs(sigs, df_cap=0).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, uncapped))
    assert DEFAULT_DF_CAP > 0  # the default is ON


def test_postings_cap_drops_hot_keys(spark):
    rows = [(i, [100, 1000 + i], 2) for i in range(40)]
    sigs = spark.createDataFrame(
        rows, "sig_id long, hashes array<long>, n_hashes int"
    )
    p = cap_postings(
        sigs.select("sig_id", F.explode("hashes").alias("hashval")),
        ["hashval"], 10,
    )
    vals = {r["hashval"] for r in p.collect()}
    assert 100 not in vals  # hot key dropped
    assert len(vals) == 40  # per-doc keys survive


def test_cap_bounds_max_partition_rows(spark):
    """The classic inverted-index failure mode: one boilerplate key routes
    O(N^2) pair rows through a single shuffle partition.  Measure per-partition
    row counts of the join's output: uncapped, the hot key's partition
    carries ~N^2/2 rows; capped, every partition stays tiny."""
    docs = _boiler_docs(spark, n=80)

    def max_partition_rows(df):
        rows = (
            df.withColumn("_p", F.spark_partition_id())
            .groupBy("_p")
            .count()
            .collect()
        )
        return max((r["count"] for r in rows), default=0)

    uncapped = dedup_ops.ngram_jaccard_pairs(
        docs, n=3, threshold=0.0, hash_grams=False, df_cap=0
    )
    capped = dedup_ops.ngram_jaccard_pairs(
        docs, n=3, threshold=0.0, hash_grams=False, df_cap=10
    )
    hot = max_partition_rows(uncapped)
    cool = max_partition_rows(capped)
    assert hot >= 80 * 79 // 2 // 4  # the blowup really happens uncapped
    assert cool <= 80  # and the cap bounds it to per-doc scale


def test_cap_observation_lineage(spark):
    """cap_postings reports the dropped-key volume through `stats`, read
    off an Observation on the probe it runs anyway (ADVICE r2: silent
    truncation must be visible)."""
    rows = [(i, [100, 1000 + i], 2) for i in range(40)]
    sigs = spark.createDataFrame(
        rows, "sig_id long, hashes array<long>, n_hashes int"
    )
    p = sigs.select("sig_id", F.explode("hashes").alias("hashval"))
    stats: dict = {}
    capped = cap_postings(p, ["hashval"], 10, stats=stats)
    assert capped.count() == 40  # hot key 100 dropped, 40 per-doc keys stay
    assert stats == {"dropped_keys": 1, "dropped_postings": 40}

    # no cap -> passthrough, nothing dropped
    stats = {}
    assert cap_postings(p, ["hashval"], 0, stats=stats).count() == 80
    assert stats == {"dropped_keys": 0, "dropped_postings": 0}


def test_simhash_blockpair_equals_single_chunk(spark):
    """Two-chunk blocking (HmSearch trade) is lossless: identical pair set
    to the default tiled all-pairs plan and to a Python brute force at
    every max_hamming, including h where a naive fixed chunk width would
    shift past bit 63 (JVM shifts wrap) — verified on simhash values
    planted at EXACT hamming distances."""
    import random

    rng = random.Random(17)
    base = rng.getrandbits(60)

    def flip(v, nbits, seed):
        r = random.Random(seed)
        for b in r.sample(range(60), nbits):
            v ^= 1 << b
        return v

    rows = [(0, base, 10)]
    # planted distances from base: 3, 8, 12 (in-radius at h=12), 13 (out)
    for i, d in enumerate((3, 8, 12, 13), start=1):
        rows.append((i, flip(base, d, i), 10))
    rows += [(100 + i, rng.getrandbits(60), 10) for i in range(20)]
    sims = spark.createDataFrame(
        rows, "doc_id long, simhash long, n_toks long"
    )
    vals = {r[0]: r[1] for r in rows}
    for h in (4, 8, 12):
        want = {
            (i, j, bin(vals[i] ^ vals[j]).count("1"))
            for i in vals
            for j in vals
            if i < j and bin(vals[i] ^ vals[j]).count("1") <= h
        }
        sa, sb = {}, {}
        a = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup_ops.simhash_pairs(
                sims, max_hamming=h, stats=sa
            ).collect()
        }
        b = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup_ops.simhash_pairs(
                sims, max_hamming=h, block_pairs=True, stats=sb
            ).collect()
        }
        assert a == want, (h, sa)
        assert b == want, (h, sb)
        assert a  # planted in-radius pairs exist at every tested h
        assert sa["plan"] == "tiled", (h, sa)
        assert sb["plan"] == "block_join", (h, sb)
        assert sa["n"] == sb["n"] == len(rows)
        assert sa["all_pairs"] == sb["all_pairs"] == 300


def test_compare_rejects_mixed_ksize(spark):
    """Reference parity: signatures sketched at different ksizes cannot be
    compared (the metadata check rides the existing plan-build agg)."""
    import pytest

    sigs = spark.createDataFrame(
        [(1, [1, 2], 2, 8, 21), (2, [2, 3], 2, 8, 31)],
        "sig_id long, hashes array<long>, n_hashes int, scaled long, ksize int",
    )
    with pytest.raises(ValueError, match="different ksizes"):
        compare_all_pairs(sigs).collect()
    # uniform ksize passes
    ok = spark.createDataFrame(
        [(1, [1, 2], 2, 8, 21), (2, [2, 3], 2, 8, 21)],
        "sig_id long, hashes array<long>, n_hashes int, scaled long, ksize int",
    )
    assert compare_all_pairs(ok).count() == 1
