"""Stage checkpoints keep their lineage without extra Spark jobs: a fresh
stage runs only its write, the record's counts come from the parquet
footers, the log is crash-safe and still reads the older parquet rows,
the candidates record carries the bucket_cap drop volume, and every
stored read (a resumed stage, an ingest increment, a compaction) takes its
schema from the parquet footer instead of an inference job."""

from __future__ import annotations

import json
import os
import threading
import uuid

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from sourmash_spark.operators import compare
from sourmash_spark.operators.lsh import candidate_pairs
from sourmash_spark.params import LSHParams, SketchParams
from sourmash_spark.pipeline import (
    PipelineConfig, compact_increments, incremental_update, run_pipeline,
)
from sourmash_spark.sources import checkpoint as ckpt


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"t{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _records(base):
    """The latest lineage record of each stage, as a dict."""
    return {r["stage"]: r for r in ckpt.lineage_records(base)}


def test_fresh_stage_runs_only_its_write(spark, tmp_path):
    base = str(tmp_path)
    build = lambda: spark.range(0, 1000, 1, 4)
    (out, skipped), n_jobs = _jobs(
        spark, lambda: ckpt.run_stage(spark, base, "ids", "h0", build)
    )
    assert not skipped
    assert n_jobs == 1  # the write; no count, metrics, lineage or schema job
    # read back as a schema-inferring read would see it
    path = ckpt.stage_path(base, "ids", "h0")
    assert out.schema == spark.read.parquet(path).schema

    (again, skipped), n_jobs = _jobs(
        spark, lambda: ckpt.run_stage(spark, base, "ids", "h0", build)
    )
    assert skipped and n_jobs == 0  # the footer holds the schema

    rec = _records(base)["ids"]
    assert rec["n_rows"] == 1000 == again.count()
    parts = rec["partitions"]
    assert len(parts) == 4  # one file per write task
    assert sum(p["rows"] for p in parts) == rec["n_rows"]


def test_lineage_stays_out_of_stage_dirs(spark, tmp_path):
    base = str(tmp_path)
    ckpt.run_stage(spark, base, "ids", "h0", lambda: spark.range(0, 50, 1, 2))
    path = ckpt.stage_path(base, "ids", "h0")
    assert not any(f.endswith(".json") for f in os.listdir(path))
    assert os.listdir(os.path.join(base, "_lineage"))
    assert pq.read_table(path).num_rows == 50
    assert spark.read.parquet(path).count() == 50


def test_read_lineage_reads_older_parquet_rows(spark, tmp_path):
    """A _lineage dir holding rows appended by the earlier Spark writer
    (payload JSON string + ts, parquet) reads alongside new records."""
    base = str(tmp_path)
    old = {"stage": "signatures", "config_hash": "h0", "event": "complete",
           "n_rows": 7, "wall_sec": 1.5,
           "partitions": json.dumps([{"pid": 0, "rows": 7}])}
    (
        spark.createDataFrame([(json.dumps(old),)], "payload string")
        .withColumn("ts", F.current_timestamp())
        .coalesce(1).write.mode("append")
        .parquet(os.path.join(base, "_lineage"))
    )
    ckpt.run_stage(spark, base, "ids", "h0", lambda: spark.range(0, 5, 1, 1))

    rows = _records(base)
    assert set(rows) == {"signatures", "ids"}
    assert rows["signatures"]["n_rows"] == 7
    assert json.loads(rows["signatures"]["partitions"]) == [{"pid": 0, "rows": 7}]
    assert rows["ids"]["n_rows"] == 5
    assert rows["signatures"]["ts"] is not None and rows["ids"]["ts"] is not None
    assert rows["ids"]["ts"] >= rows["signatures"]["ts"]


def test_interrupted_append_is_invisible(spark, tmp_path, monkeypatch):
    base = str(tmp_path)
    ckpt._append_lineage(base, [{"stage": "a", "event": "complete", "n_rows": 1}])

    def crash(src, dst):
        raise OSError("killed before the rename")

    monkeypatch.setattr(ckpt.os, "replace", crash)
    with pytest.raises(OSError):
        ckpt._append_lineage(base, [{"stage": "b", "event": "complete", "n_rows": 2}])
    monkeypatch.undo()
    leftovers = os.listdir(os.path.join(base, "_lineage"))
    assert any(f.startswith(".") for f in leftovers)  # the temp file stays
    # a truncated temp file from a killed writer is hidden as well
    with open(os.path.join(base, "_lineage", ".torn.json.tmp"), "w") as f:
        f.write('{"stage": "c", "ev')

    assert [r["stage"] for r in ckpt.lineage_records(base)] == ["a"]


def _hot_bands(spark):
    """Band rows with planted hot buckets: (0, 7) is shared by 30 ids and
    (1, 9) by 12; every other bucket holds one or two ids."""
    rows = [(i, 0, 7) for i in range(30)] + [(i, 1, 9) for i in range(12)]
    rows += [(i, 2, i // 2) for i in range(40)]
    return spark.createDataFrame(rows, "sig_id long, band_idx int, band_key long")


def _pandas_drops(bands, cap):
    sizes = bands.toPandas().groupby(["band_idx", "band_key"]).size()
    hot = sizes[sizes > cap]
    return {"dropped_keys": len(hot), "dropped_postings": int(hot.sum())}


def test_cap_stats_match_pandas(spark):
    bands = _hot_bands(spark)
    for cap in (10, 20, 40):
        stats: dict = {}
        pairs = candidate_pairs(bands, bucket_cap=cap, cap_stats=stats)
        assert stats == _pandas_drops(bands, cap), cap
        assert pairs.count() >= 20  # the (2, *) buckets still pair

    # one probe plan at every hot-set size: the same jobs at 0, 2 and 3,000
    # hot keys, the counts read off the probe itself
    many = spark.createDataFrame(
        [(i, 3, i % 3000) for i in range(9000)],
        "sig_id long, band_idx int, band_key long",
    )
    keys = ["band_idx", "band_key"]
    probe_jobs = []
    for p, cap in ((bands, 40), (bands, 10), (many, 2)):
        stats = {}
        _, n = _jobs(spark, lambda: compare.cap_postings(p, keys, cap, stats=stats))
        assert stats == _pandas_drops(p, cap), cap
        probe_jobs.append(n)
    assert stats["dropped_keys"] == 3000
    assert len(set(probe_jobs)) == 1 and probe_jobs[0] >= 1, probe_jobs

    # the n_ids proof starts no job at all
    stats = {}
    _, n = _jobs(
        spark, lambda: compare.cap_postings(bands, keys, 40, n_ids=40, stats=stats)
    )
    assert n == 0 and stats == {"dropped_keys": 0, "dropped_postings": 0}


def test_cap_probe_of_empty_postings_returns(spark):
    """The probe's Observation must fire on an empty frame, or the driver
    would wait on it forever."""
    empty = spark.createDataFrame([], "sig_id long, band_idx int, band_key long")
    stats: dict = {}
    done = threading.Thread(
        target=lambda: compare.cap_postings(
            empty, ["band_idx", "band_key"], 2, stats=stats
        ),
        daemon=True,
    )
    done.start()
    done.join(timeout=120)
    assert not done.is_alive(), "cap_postings blocked on an empty frame"
    assert stats == {"dropped_keys": 0, "dropped_postings": 0}


def test_cap_stats_cost_no_job_when_nothing_is_dropped(spark):
    bands = _hot_bands(spark)
    _, plain = _jobs(spark, lambda: candidate_pairs(bands, bucket_cap=100))
    stats: dict = {}
    _, with_stats = _jobs(
        spark, lambda: candidate_pairs(bands, bucket_cap=100, cap_stats=stats)
    )
    assert with_stats == plain
    assert stats == {"dropped_keys": 0, "dropped_postings": 0}


def test_candidates_lineage_records_bucket_cap_drops(spark, corpus, tmp_path):
    cfg = PipelineConfig(
        sketch=SketchParams(ksize=21, scaled=50),
        lsh=LSHParams(num_bands=16, band_size=2),
        jaccard_threshold=0.5,
        bucket_cap=2,
    )
    base = str(tmp_path)
    df = spark.createDataFrame(corpus.code_files).withColumnRenamed(
        "file_id", "sig_id"
    )
    run_pipeline(spark, df, base, cfg, stop_after="candidates")

    bands = pq.read_table(
        ckpt.stage_path(base, "bands", cfg.config_hash())
    ).to_pandas()
    sizes = bands.groupby(["band_idx", "band_key"]).size()
    hot = sizes[sizes > cfg.bucket_cap]
    assert len(hot) > 0  # clone families fill buckets past the cap

    recs = _records(base)
    assert recs["candidates"]["bucket_cap"] == {
        "dropped_keys": len(hot), "dropped_postings": int(hot.sum()),
    }
    assert "bucket_cap" not in recs["bands"]


def test_increment_and_compaction_job_counts(spark, corpus, tmp_path):
    """Stored tables and increments are read with the schema in their
    footers, and verify_pairs joins each side's signatures once, so the
    edges stage starts at most 3 jobs, an ingest at most 14 and a
    compaction at most 9 on the synthetic corpus."""
    cfg = PipelineConfig(
        sketch=SketchParams(ksize=21, scaled=50),
        lsh=LSHParams(num_bands=16, band_size=2),
        jaccard_threshold=0.5,
    )
    base = str(tmp_path)
    pdf = corpus.code_files

    def df_of(p):
        return spark.createDataFrame(p).withColumnRenamed("file_id", "sig_id")

    first = df_of(pdf[pdf.file_id < 30])
    run_pipeline(spark, first, base, cfg, stop_after="candidates")
    _, n_jobs = _jobs(
        spark,
        lambda: run_pipeline(spark, first, base, cfg, stop_after="edges"),
    )
    assert n_jobs <= 3
    run_pipeline(spark, first, base, cfg)
    for part in (pdf[(pdf.file_id >= 30) & (pdf.file_id < 45)],
                 pdf[pdf.file_id >= 45]):
        batch = df_of(part)
        _, n_jobs = _jobs(
            spark,
            lambda: incremental_update(spark, batch, base, cfg)["clusters"].count(),
        )
        assert n_jobs <= 14
    counts, n_jobs = _jobs(spark, lambda: compact_increments(spark, base, cfg))
    assert counts["signatures"] == len(pdf)
    assert n_jobs <= 9


def test_resume_of_a_finished_pipeline_starts_no_job(spark, corpus, tmp_path):
    cfg = PipelineConfig(
        sketch=SketchParams(ksize=21, scaled=50),
        lsh=LSHParams(num_bands=16, band_size=2),
    )
    base = str(tmp_path)
    df = spark.createDataFrame(corpus.code_files).withColumnRenamed(
        "file_id", "sig_id"
    )
    first = run_pipeline(spark, df, base, cfg)
    again, n_jobs = _jobs(spark, lambda: run_pipeline(spark, df, base, cfg))
    assert n_jobs == 0
    for stage, out in first.items():
        assert again[stage].schema == out.schema, stage
    assert again["clusters"].count() == len(corpus.code_files)


@pytest.mark.parametrize("rows", [1000, 0])
def test_read_stage_takes_the_written_schema(spark, tmp_path, rows):
    """A plain Spark write (no checkpoint call) reads back with its schema
    and no job, a 0-row frame included."""
    df = spark.range(0, rows, 1, 3).select(
        "id", (F.col("id") % 7).cast("int").alias("k"),
        F.array(F.col("id")).alias("ids"), F.lit("x").alias("s"),
    )
    base = str(tmp_path)
    path = ckpt.stage_path(base, "t", "h0")
    df.write.parquet(path)
    got, n_jobs = _jobs(spark, lambda: ckpt.read_stage(spark, base, "t", "h0"))
    assert n_jobs == 0
    assert got.schema == spark.read.parquet(path).schema
    # names and types as written; a file read makes every field nullable
    assert got.schema.simpleString() == df.schema.simpleString()
    assert got.count() == rows


def test_driver_components_collect_once(spark, tmp_path):
    """`connected_components` on the driver path starts at most 2 jobs and
    evaluates its upstream once (a mapInPandas tap counts the rows that
    pass), and its labels and stats equal label propagation's."""
    import numpy as np
    import pandas as pd

    from sourmash_spark.operators import cluster

    rng = np.random.default_rng(5)
    a, b = rng.integers(0, 3000, size=(2, 2500))
    keep = a < b
    path = str(tmp_path / "edges")
    spark.createDataFrame(
        pd.DataFrame({"sig_id_a": a[keep], "sig_id_b": b[keep]})
    ).repartition(3).write.parquet(path)
    tapped = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            tapped.add(len(pdf))
            yield pdf

    edges = spark.read.parquet(path).mapInPandas(
        tap, "sig_id_a long, sig_id_b long"
    )
    drv: dict = {}
    labels, n_jobs = _jobs(
        spark, lambda: cluster.connected_components(edges, stats=drv)
    )
    assert n_jobs <= 2
    assert tapped.value == int(keep.sum())
    spread: dict = {}
    want = cluster._label_propagation(
        spark.read.parquet(path).toDF("a", "b"), stats=spread
    )
    assert sorted(map(tuple, labels.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert drv == spread
