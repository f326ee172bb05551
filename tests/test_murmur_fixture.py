"""The murmur oracle fixture must be bit-identical to what the Spark engine
computes — it is the hash-function side of the DuckDB gate for the flagship
murmur queries (fixtures/murmur_sf*.parquet, tools/make_fixtures.py).

Identity here is meaningful because the fixture comes from the INDEPENDENT
pure-Python oracle (sourmash_spark.oracle.MinHash) while the Spark side is
the vectorized Arrow engine (sourmash_spark.sketch.batch_sketch).
"""

from __future__ import annotations

import os
from pathlib import Path

import duckdb
import pytest

import pyspark.sql.functions as F

REPO = Path(__file__).resolve().parents[1]

FIXTURES = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
}


@pytest.mark.parametrize("label", list(FIXTURES))
def test_fixture_matches_spark_sketches(spark, label):
    path = REPO / "fixtures" / f"murmur_sf{label}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"fixture {path} not generated (run tools/make_fixtures.py)")
    import __spark_entry__ as e

    sigs = (
        e._murmur_sigs(spark, FIXTURES[label])
        .select("sig_id", "md5", "n_hashes", "hashes")
        .toPandas()
        .sort_values("sig_id")
        .reset_index(drop=True)
    )
    fix = duckdb.sql(
        f"SELECT * FROM '{path}' ORDER BY sig_id"
    ).df()
    assert list(sigs.sig_id) == list(fix.sig_id)
    assert list(sigs.md5) == list(fix.md5)
    assert list(sigs.n_hashes) == list(fix.n_hashes)
    for a, b in zip(sigs.hashes, fix.hashes):
        assert list(a) == list(b)


@pytest.mark.parametrize("label", list(FIXTURES))
def test_dna_fixture_matches_spark_sketches(spark, label):
    """DNA twin of the murmur fixture identity: the canonical-DNA fixture
    (scalar oracle add_dna — min(kmer, revcomp), N-windows skipped) must be
    bit-identical to the vectorized batched-N Spark path over the same
    DNA-ized documents (the r4 high-severity fix's branch)."""
    path = REPO / "fixtures" / f"dna_sf{label}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"fixture {path} not generated (run tools/make_fixtures.py)")
    import __spark_entry__ as e

    sigs = (
        e._dna_sigs(spark, FIXTURES[label])
        .select("sig_id", "md5", "n_hashes", "hashes")
        .toPandas()
        .sort_values("sig_id")
        .reset_index(drop=True)
    )
    fix = duckdb.sql(f"SELECT * FROM '{path}' ORDER BY sig_id").df()
    assert list(sigs.sig_id) == list(fix.sig_id)
    assert list(sigs.md5) == list(fix.md5)
    assert list(sigs.n_hashes) == list(fix.n_hashes)
    for a, b in zip(sigs.hashes, fix.hashes):
        assert list(a) == list(b)
    # the N-mapping really produces invalid windows (the point of the gate)
    assert (fix.n_hashes > 0).any()


def test_band_range_arithmetic_is_exact(spark):
    """The OPH range index must be exact long arithmetic — float division
    would round near-boundary hashes at 2**61 magnitude and disagree with
    the oracle's integer `//`."""
    from sourmash_spark.operators.lsh import band_signatures
    from sourmash_spark.params import LSHParams

    width = 72057594037927937  # max_hash(scaled=8) // 32 + 1
    # hashes exactly at and adjacent to range boundaries, plus one whose
    # double rounding goes the wrong way: width*13 - 1 is not representable
    # in float64 (13*width > 2**53) so h/width could round UP to 13.0
    hs = [0, width - 1, width, 5 * width - 1, 5 * width, 13 * width - 1]
    df = spark.createDataFrame(
        [(1, [int(h) for h in sorted(hs)], len(hs))],
        "sig_id long, hashes array<long>, n_hashes int",
    )
    bands = band_signatures(df, LSHParams(num_bands=16, band_size=2), scaled=8)
    got = {r["band_idx"] for r in bands.collect()}
    want = {h // width // 2 for h in hs}
    assert got == want
