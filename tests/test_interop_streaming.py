"""sig JSON roundtrip, collection ops, HLL, and streaming watch tests."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from sourmash_spark.oracle import sketch_text
from sourmash_spark.params import SketchParams
from sourmash_spark.sketch import sketch_signatures
from sourmash_spark.hashing import i64_to_u64

PARAMS = SketchParams(ksize=21, scaled=50)


@pytest.fixture(scope="module")
def sigs(spark, corpus):
    df = spark.createDataFrame(corpus.code_files.head(20)).withColumnRenamed(
        "file_id", "sig_id"
    )
    out = sketch_signatures(df, PARAMS, keep_cols=["sig_id", "path"]).cache()
    out.count()
    return out


def test_sig_json_roundtrip(spark, sigs):
    from sourmash_spark.sources.sig_json import (
        export_signatures_json,
        import_signatures_json,
    )

    js = export_signatures_json(sigs, name_col="path")
    rec = json.loads(js.first()["sig_json"])
    assert rec["class"] == "sourmash_signature"
    assert rec["hash_function"] == "0.murmur64"
    assert rec["version"] == 0.4
    s = rec["signatures"][0]
    assert s["ksize"] == PARAMS.ksize * 3  # protein-path stored ksize
    assert s["num"] == 0 and s["max_hash"] > 0
    assert s["mins"] == sorted(s["mins"])

    back = import_signatures_json(js)
    orig = {
        r["md5"]: r for r in sigs.select("md5", "hashes", "scaled").collect()
    }
    got = {
        r["md5"]: r
        for r in back.select("md5", "hashes", "scaled", "ksize").collect()
    }
    assert set(got) == set(orig)
    for md5, r in got.items():
        assert r["hashes"] == orig[md5]["hashes"]
        assert r["scaled"] == orig[md5]["scaled"]
        assert r["ksize"] == PARAMS.ksize


def test_sig_file_roundtrip(spark, sigs, tmp_path):
    from sourmash_spark.sources.sig_json import from_sig_file, to_sig_file

    p = str(tmp_path / "coll.sig")
    to_sig_file(sigs.limit(5), p, name_col="path")
    data = json.load(open(p))
    assert isinstance(data, list) and len(data) == 5
    back = from_sig_file(spark, p)
    assert back.count() == 5


def test_collection_ops(spark, sigs):
    from sourmash_spark.operators import collection as C

    a = sigs.limit(10)
    both = C.cat(a, sigs)
    assert both.count() == 10 + sigs.count()
    uniq = C.dedup_by_md5(both)
    assert uniq.count() == sigs.select("md5").distinct().count()

    renamed = C.rename(sigs, "X")
    assert renamed.select("name").distinct().collect()[0]["name"] == "X"

    first_md5 = sigs.first()["md5"]
    ex = C.extract(sigs, md5_prefix=first_md5[:8])
    assert ex.count() >= 1
    pick = spark.createDataFrame([(first_md5,)], "md5 string")
    assert C.extract(sigs, picklist=pick).count() >= 1
    assert (
        C.extract(sigs, picklist=pick, exclude=True).count()
        == sigs.count() - sigs.filter(f"md5 = '{first_md5}'").count()
    )

    d = C.describe(sigs)
    assert {"md5", "ksize", "n_hashes"} <= set(d.columns)
    m = C.manifest(sigs)
    assert len(m.columns) == 11
    s = C.summarize(sigs).collect()
    assert s[0]["n_signatures"] == sigs.count()


def test_hll_cardinality(spark, sigs):
    from sourmash_spark.operators import hll

    exact = (
        sigs.selectExpr("explode(hashes) AS h").distinct().count()
    )
    import pyspark.sql.functions as F

    approx = hll.hashes_cardinality(
        sigs.withColumn("g", F.lit(0)), ["g"]
    ).collect()[0]["approx_cardinality"]
    assert abs(approx - exact) / exact < 0.15

    sk = hll.hll_sketches(
        sigs.selectExpr("sig_id % 2 AS g", "explode(hashes) AS h"), ["g"], "h"
    )
    u = hll.hll_union_cardinality(
        sk.withColumn("all", F.lit(0)), ["all"]
    ).collect()[0]["union_cardinality"]
    assert abs(u - exact) / exact < 0.15


def test_streaming_watch(spark, corpus, tmp_path):
    from sourmash_spark.streaming.watch import watch

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    pdf = corpus.code_files.head(6)[["content"]].copy()
    pdf["key"] = "q"
    # two chunks arriving over time
    spark.createDataFrame(pdf.iloc[:3]).write.parquet(src + "/b1")
    spark.createDataFrame(pdf.iloc[3:]).write.parquet(src + "/b2")

    stream = (
        spark.readStream.schema("content string, key string")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src + "/*")
    )
    out_rows = []

    q = (
        watch(stream, PARAMS, key_col="key", content_col="content")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("watch_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM watch_out").collect()
    assert rows, "no streaming output"
    final = max(rows, key=lambda r: r["n_records"])
    # oracle: union sketch of all 6 contents
    mh = None
    from sourmash_spark.oracle import sketch_text

    for c in pdf["content"]:
        s = sketch_text(c, PARAMS)
        if mh is None:
            mh = s
        else:
            mh.merge(s)
    got = i64_to_u64(np.array(final["hashes"], dtype=np.int64)).tolist()
    assert got == mh.mins
    assert final["md5"] == mh.md5sum()
    assert final["n_records"] == 6


def test_streaming_watch_checkpoint_restart(spark, corpus, tmp_path):
    """Streaming state survives a query restart via checkpointLocation —
    the second batch resumes from the first batch's sketch state."""
    from sourmash_spark.streaming.watch import watch

    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "restart_ckpt")
    os.makedirs(src)
    pdf = corpus.code_files.head(4)[["content"]].copy()
    pdf["key"] = "q"

    out_dir = str(tmp_path / "restart_out")

    def run_once(frame):
        stream = (
            spark.readStream.schema("content string, key string")
            .parquet(src + "/*")
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            watch(stream, PARAMS, key_col="key", content_col="content")
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir).collect()

    spark.createDataFrame(pdf.iloc[:2]).write.parquet(src + "/b1")
    rows1 = run_once("a")
    assert max(r["n_records"] for r in rows1) == 2

    # "crash", new data arrives, restart from checkpoint
    spark.createDataFrame(pdf.iloc[2:]).write.parquet(src + "/b2")
    rows2 = run_once("b")
    final = max(rows2, key=lambda r: r["n_records"])
    assert final["n_records"] == 4  # state carried across restart

    from sourmash_spark.oracle import sketch_text

    mh = None
    for c in pdf["content"]:
        s = sketch_text(c, PARAMS)
        mh = s if mh is None else (mh.merge(s) or mh)
    got = i64_to_u64(np.array(final["hashes"], dtype=np.int64)).tolist()
    assert got == mh.mins


def test_attach_best_match_breaks_ties_on_lowest_sig_id(spark):
    """Query `q` shares 4 of 6 hashes with sig_ids 9, 5 and 7 (jaccard
    4/6 each, a three-way tie) and 2 with sig_id 1; the best match is the
    lowest tied id on every partitioning of the db."""
    from sourmash_spark.streaming.watch import attach_best_match

    q = [1, 2, 3, 4]
    db_rows = [(9, q + [10, 11]), (1, [1, 2]), (7, q + [12, 13]),
               (5, q + [14, 15])]
    sketches = spark.createDataFrame(
        [("q", q, len(q))], "key string, hashes array<long>, n_hashes int"
    )
    for n_parts in (1, 3, 4):
        db = spark.createDataFrame(
            [(i, h, len(h)) for i, h in db_rows],
            "sig_id long, hashes array<long>, n_hashes int",
        ).repartition(n_parts)
        best = attach_best_match(sketches, db).collect()
        assert [(r["query_id"], r["sig_id"]) for r in best] == [("q", 5)]
        assert best[0]["similarity"] == pytest.approx(4 / 6)
