"""Regression tests for the round-1 ADVICE findings.

1. .sig import must sort (mins, abundances) PAIRS together when mins arrive
   unordered (minhash.rs Deserialize sorts the zipped vec).
2. .sig export must emit abundances per track_abundance, not the observed
   values (an all-1s abundance sketch is still an abundance sketch).
3. downsample to scaled=2: max_hash = 2**63 == -2**63 as int64 — the signed
   range predicate alone would drop every hash.
4. distributed connected_components must converge on long chains (pointer
   doubling) and raise instead of returning fragmented labels.
"""

from __future__ import annotations

import json

import pytest

import pyspark.sql.functions as F

from sourmash_spark.hashing import i64_to_u64, u64_to_i64
from sourmash_spark.operators.cluster import _label_propagation
from sourmash_spark.operators.kernels import downsample_hashes
from sourmash_spark.operators.setops import downsample_signatures
from sourmash_spark.sources.sig_json import (
    export_signatures_json,
    import_signatures_json,
)


def _sig_record(mins, abundances=None, max_hash=0, num=0):
    sig = {
        "num": num,
        "ksize": 21,
        "seed": 42,
        "max_hash": max_hash,
        "mins": mins,
        "md5sum": "00" * 16,
        "molecule": "dna",
    }
    if abundances is not None:
        sig["abundances"] = abundances
    return {
        "class": "sourmash_signature",
        "email": "",
        "hash_function": "0.murmur64",
        "filename": "t.fa",
        "license": "CC0",
        "signatures": [sig],
        "version": 0.4,
    }


def test_import_unordered_mins_keeps_abundances_aligned(spark):
    # mins deliberately out of order; abundance i belongs to mins[i]
    mins = [500, 10, 2**63 + 7, 42]
    abunds = [5, 1, 9, 3]
    rec = _sig_record(mins, abundances=abunds, max_hash=2**60)
    df = spark.createDataFrame([(json.dumps(rec),)], "sig_json string")
    out = import_signatures_json(df).collect()[0]
    got = dict(zip(i64_to_u64(__import__("numpy").asarray(out["hashes"])), out["abunds"]))
    assert got == dict(zip(mins, abunds))
    assert out["track_abundance"] is True
    # mins sorted unsigned
    u = list(got.keys())
    assert list(i64_to_u64(__import__("numpy").asarray(out["hashes"]))) == sorted(mins)


def test_export_all_ones_abundance_roundtrips_as_abundance_sketch(spark):
    rec = _sig_record([10, 20, 30], abundances=[1, 1, 1], max_hash=2**60)
    df = spark.createDataFrame([(json.dumps(rec),)], "sig_json string")
    sigs = import_signatures_json(df)
    exported = export_signatures_json(sigs).collect()[0]["sig_json"]
    sig = json.loads(exported)["signatures"][0]
    assert sig.get("abundances") == [1, 1, 1]
    # and a flat sketch stays flat
    rec2 = _sig_record([10, 20, 30], max_hash=2**60)
    df2 = spark.createDataFrame([(json.dumps(rec2),)], "sig_json string")
    exported2 = export_signatures_json(import_signatures_json(df2)).collect()[0][
        "sig_json"
    ]
    assert "abundances" not in json.loads(exported2)["signatures"][0]
    # explicit override wins over the column
    forced = export_signatures_json(sigs, track_abundance=False).collect()[0][
        "sig_json"
    ]
    assert "abundances" not in json.loads(forced)["signatures"][0]


def test_downsample_scaled_2_keeps_unsigned_low_half(spark):
    import numpy as np

    mins_u64 = np.array([0, 5, 2**62, 2**63 - 1, 2**63, 2**63 + 1, 2**64 - 1],
                        dtype=np.uint64)
    hashes = [int(x) for x in u64_to_i64(mins_u64)]
    df = spark.createDataFrame([(hashes,)], "hashes array<long>")
    out = df.select(downsample_hashes(F.col("hashes"), 2).alias("h")).collect()[0]["h"]
    kept = sorted(int(x) for x in i64_to_u64(np.asarray(out, dtype=np.int64)))
    # keep exactly unsigned values <= 2**63 (max_hash for scaled=2)
    assert kept == [0, 5, 2**62, 2**63 - 1, 2**63]

    sigs = spark.createDataFrame(
        [(hashes, [1] * len(hashes), 1)],
        "hashes array<long>, abunds array<long>, scaled long",
    )
    out2 = downsample_signatures(sigs, 2).collect()[0]
    kept2 = sorted(int(x) for x in i64_to_u64(np.asarray(out2["hashes"], dtype=np.int64)))
    assert kept2 == kept
    assert out2["scaled"] == 2
    assert len(out2["abunds"]) == len(kept2)


def test_cc_long_chain_converges_distributed(spark):
    # chain 0-1-2-...-119: diameter 119 >> round budget without doubling
    n = 120
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    cc = _label_propagation(edges, max_iter=14)
    rows = cc.collect()
    assert len(rows) == n
    assert all(r["cluster_id"] == 0 for r in rows)


def test_cc_raises_on_exhausted_budget(spark):
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        _label_propagation(edges, max_iter=1)
