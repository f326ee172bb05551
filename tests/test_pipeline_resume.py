"""End-to-end pipeline + resumability (kill mid-pipeline, restart, no
recompute of finished stages) — the north rule's checkpoint/lineage gate."""

from __future__ import annotations

import os
import time

import pytest

from sourmash_spark.params import LSHParams, SketchParams
from sourmash_spark.pipeline import PipelineConfig, dup_pair_recall, run_pipeline
from sourmash_spark.sources import checkpoint as ckpt

CFG = PipelineConfig(
    sketch=SketchParams(ksize=21, scaled=50),
    lsh=LSHParams(num_bands=16, band_size=2),
    jaccard_threshold=0.5,
)


@pytest.fixture(scope="module")
def base_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("pipeline"))


def test_full_pipeline_and_recall(spark, corpus, base_dir):
    df = spark.createDataFrame(corpus.code_files).withColumnRenamed(
        "file_id", "sig_id"
    )
    out = run_pipeline(spark, df, base_dir, CFG)
    assert set(out) == {
        "signatures", "bands", "candidates", "edges", "clusters"
    }
    n_sigs = out["signatures"].count()
    assert n_sigs == len(corpus.code_files)
    assert out["clusters"].count() == n_sigs

    # recall vs brute-force reference pair set at the same config
    from sourmash_spark.operators.compare import compare_all_pairs

    ref_pairs = compare_all_pairs(
        out["signatures"], threshold=CFG.jaccard_threshold
    ).select("sig_id_a", "sig_id_b")
    recall = dup_pair_recall(out["edges"], ref_pairs)
    assert recall >= 0.99

    # exact duplicates must co-cluster: same md5 -> same cluster
    sig_md5 = out["signatures"].select("sig_id", "md5")
    cl = out["clusters"].join(sig_md5, "sig_id")
    n_violations = (
        cl.groupBy("md5")
        .agg(
            {"cluster_id": "min"},
        )
        .join(cl, "md5")
        .filter("cluster_id != `min(cluster_id)`")
        .count()
    )
    assert n_violations == 0

    # lineage rows exist with per-file metrics summing to the stage size
    lineage = {r["stage"]: r for r in ckpt.lineage_records(base_dir)}
    assert {"signatures", "candidates", "edges", "clusters"} <= set(lineage)
    sig_rec = lineage["signatures"]
    assert sig_rec["n_rows"] == n_sigs
    assert sum(p["rows"] for p in sig_rec["partitions"]) == n_sigs
    assert lineage["candidates"]["n_rows"] == out["candidates"].count()
    assert lineage["candidates"]["bucket_cap"] == {
        "dropped_keys": 0, "dropped_postings": 0,
    }


def test_resume_skips_completed_stages(spark, corpus, base_dir):
    df = spark.createDataFrame(corpus.code_files).withColumnRenamed(
        "file_id", "sig_id"
    )
    # "kill" after candidates: signatures+candidates exist from prior run
    sig_path = ckpt.stage_path(base_dir, "signatures", CFG.config_hash())
    mtime_before = os.path.getmtime(os.path.join(sig_path, "_SUCCESS"))
    out = run_pipeline(spark, df, base_dir, CFG, stop_after="candidates")
    assert os.path.getmtime(os.path.join(sig_path, "_SUCCESS")) == mtime_before

    # full re-run: everything read back, nothing rebuilt
    t0 = time.time()
    out = run_pipeline(spark, df, base_dir, CFG)
    resumed_wall = time.time() - t0
    assert out["clusters"].count() > 0
    assert os.path.getmtime(os.path.join(sig_path, "_SUCCESS")) == mtime_before


def test_config_hash_is_stable():
    """Existing checkpoints resume: the stage-dir hash of the default and
    of the deploy job's config (k21, scaled 50, 16x2 bands, cap 500) must
    not move."""
    assert PipelineConfig(SketchParams(), LSHParams()).config_hash() == (
        "61397f16d8eeea44"
    )
    deploy = PipelineConfig(
        sketch=SketchParams(ksize=21, scaled=50),
        lsh=LSHParams(num_bands=16, band_size=2),
        jaccard_threshold=0.5,
        bucket_cap=500,
    )
    assert deploy.config_hash() == "ad948cf9d66ffaf7"


def test_num_mode_config_raises():
    """Range-min banding splits the scaled hash space into ranges; a
    num-mode sketch has none (max_hash 0: every band empty, no pair ever
    found), so the config refuses it."""
    with pytest.raises(ValueError, match="scaled hash space"):
        PipelineConfig(SketchParams(scaled=0, num=100), LSHParams())


def test_changed_config_recomputes(spark, corpus, base_dir):
    cfg2 = PipelineConfig(
        sketch=SketchParams(ksize=21, scaled=50),
        lsh=LSHParams(num_bands=8, band_size=4),
        jaccard_threshold=0.5,
    )
    assert cfg2.config_hash() != CFG.config_hash()
    df = spark.createDataFrame(corpus.code_files).withColumnRenamed(
        "file_id", "sig_id"
    )
    out = run_pipeline(spark, df, base_dir, cfg2, stop_after="signatures")
    path = ckpt.stage_path(base_dir, "signatures", cfg2.config_hash())
    assert ckpt.is_complete(path)


def test_incremental_update_equals_full(spark, corpus, tmp_path):
    """Incremental ingest must produce the same edges/clusters as a full
    recompute over the combined corpus."""
    from sourmash_spark.pipeline import incremental_update

    base_a = str(tmp_path / "inc_base")
    base_b = str(tmp_path / "full_base")
    pdf = corpus.code_files
    first = pdf[pdf.file_id < 40]
    extra = pdf[pdf.file_id >= 40]
    assert len(extra) > 5

    df_first = spark.createDataFrame(first).withColumnRenamed(
        "file_id", "sig_id"
    )
    df_extra = spark.createDataFrame(extra).withColumnRenamed(
        "file_id", "sig_id"
    )
    df_all = spark.createDataFrame(pdf).withColumnRenamed("file_id", "sig_id")

    run_pipeline(spark, df_first, base_a, CFG)
    inc = incremental_update(spark, df_extra, base_a, CFG)
    full = run_pipeline(spark, df_all, base_b, CFG)

    inc_edges = {
        (r.sig_id_a, r.sig_id_b) for r in inc["edges"].collect()
    }
    full_edges = {
        (r.sig_id_a, r.sig_id_b) for r in full["edges"].collect()
    }
    assert inc_edges == full_edges
    inc_cl = {r.sig_id: r.cluster_id for r in inc["clusters"].collect()}
    full_cl = {r.sig_id: r.cluster_id for r in full["clusters"].collect()}
    assert inc_cl == full_cl


def test_stream_ingest_equals_batch_incremental(spark, corpus, tmp_path):
    """Structured-Streaming ingest (foreachBatch -> incremental_update)
    lands the same edges/clusters as the batch incremental path; the
    availableNow trigger drains a file-source stream of new documents."""
    import pyspark.sql.functions as F

    from sourmash_spark.pipeline import incremental_update
    from sourmash_spark.streaming.watch import stream_ingest

    base_s = str(tmp_path / "stream_base")
    base_b = str(tmp_path / "batch_base")
    stream_src = str(tmp_path / "arrivals")
    pdf = corpus.code_files
    first = pdf[pdf.file_id < 40]
    extra = pdf[pdf.file_id >= 40]

    df_first = spark.createDataFrame(first).withColumnRenamed(
        "file_id", "sig_id"
    )
    df_extra = spark.createDataFrame(extra).withColumnRenamed(
        "file_id", "sig_id"
    )

    # identical starting state for both paths
    run_pipeline(spark, df_first, base_s, CFG)
    run_pipeline(spark, df_first, base_b, CFG)
    batch_res = incremental_update(spark, df_extra, base_b, CFG)

    # new docs arrive as files; drain with availableNow
    df_extra.write.mode("overwrite").parquet(stream_src)
    stream = (
        spark.readStream.schema(df_extra.schema).parquet(stream_src)
    )
    q = stream_ingest(
        stream, base_s, CFG, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    from sourmash_spark.sources import checkpoint as ckpt

    ch = CFG.config_hash()
    stream_edges = spark.read.parquet(
        ckpt.stage_path(base_s, "edges", ch)
    ).unionByName(
        spark.read.parquet(
            ckpt.stage_path(base_s, "edges", ch) + "_inc"
        ),
        allowMissingColumns=True,
    )
    batch_edges = batch_res["edges"]
    got = {(r.sig_id_a, r.sig_id_b) for r in stream_edges.collect()}
    want = {(r.sig_id_a, r.sig_id_b) for r in batch_edges.collect()}
    assert got == want


def test_incremental_update_without_bands_stage(spark, corpus, tmp_path):
    """Backward compat: a checkpoint written BEFORE the bands stage
    existed (bands dir absent) gets the stage written from its base
    signatures and still produces identical edges to the stored-bands
    path."""
    import shutil

    from sourmash_spark.pipeline import incremental_update

    base_a = str(tmp_path / "with_bands")
    base_b = str(tmp_path / "without_bands")
    pdf = corpus.code_files
    first = pdf[pdf.file_id < 40]
    extra = pdf[pdf.file_id >= 40]

    df_first = spark.createDataFrame(first).withColumnRenamed(
        "file_id", "sig_id"
    )
    df_extra = spark.createDataFrame(extra).withColumnRenamed(
        "file_id", "sig_id"
    )

    run_pipeline(spark, df_first, base_a, CFG)
    run_pipeline(spark, df_first, base_b, CFG)
    bands_dir = ckpt.stage_path(base_b, "bands", CFG.config_hash())
    assert ckpt.is_complete(bands_dir)
    shutil.rmtree(bands_dir)  # simulate a pre-bands-stage checkpoint

    with_bands = incremental_update(spark, df_extra, base_a, CFG)
    without_bands = incremental_update(spark, df_extra, base_b, CFG)
    assert ckpt.is_complete(bands_dir)

    ew = {(r.sig_id_a, r.sig_id_b) for r in with_bands["edges"].collect()}
    ewo = {
        (r.sig_id_a, r.sig_id_b) for r in without_bands["edges"].collect()
    }
    assert ew == ewo and len(ew) > 0


def test_two_increments_equal_full(spark, corpus, tmp_path):
    """Two successive ingests (versioned increment=k subdirs): pairs among
    increment 1 must NOT be re-joined by increment 2's call, yet the final
    edges/clusters must equal one full recompute over everything."""
    from sourmash_spark.pipeline import incremental_update

    base_a = str(tmp_path / "inc2_base")
    base_b = str(tmp_path / "full2_base")
    pdf = corpus.code_files
    first = pdf[pdf.file_id < 30]
    second = pdf[(pdf.file_id >= 30) & (pdf.file_id < 45)]
    third = pdf[pdf.file_id >= 45]
    assert len(second) > 3 and len(third) > 3

    def df_of(p):
        return spark.createDataFrame(p).withColumnRenamed(
            "file_id", "sig_id"
        )

    run_pipeline(spark, df_of(first), base_a, CFG)
    incremental_update(spark, df_of(second), base_a, CFG)
    inc = incremental_update(spark, df_of(third), base_a, CFG)
    full = run_pipeline(spark, df_of(pdf), base_b, CFG)

    ei = {(r.sig_id_a, r.sig_id_b) for r in inc["edges"].collect()}
    ef = {(r.sig_id_a, r.sig_id_b) for r in full["edges"].collect()}
    assert ei == ef
    ci = {r.sig_id: r.cluster_id for r in inc["clusters"].collect()}
    cf = {r.sig_id: r.cluster_id for r in full["clusters"].collect()}
    assert ci == cf
    assert inc["signatures"].count() == len(pdf)


def test_compact_increments_then_ingest(spark, corpus, tmp_path):
    """Compaction folds increments into the base stage tables (the
    Iceberg-compaction analog): _inc dirs disappear, the base stages are
    complete, and a FURTHER ingest on the compacted state still equals a
    full recompute over everything."""
    import os as _os

    from sourmash_spark.pipeline import compact_increments, incremental_update

    base_a = str(tmp_path / "compact_base")
    base_b = str(tmp_path / "full_base")
    pdf = corpus.code_files
    first = pdf[pdf.file_id < 30]
    second = pdf[(pdf.file_id >= 30) & (pdf.file_id < 45)]
    third = pdf[pdf.file_id >= 45]

    def df_of(p):
        return spark.createDataFrame(p).withColumnRenamed(
            "file_id", "sig_id"
        )

    run_pipeline(spark, df_of(first), base_a, CFG)
    incremental_update(spark, df_of(second), base_a, CFG)

    counts = compact_increments(spark, base_a, CFG)
    ch = CFG.config_hash()
    assert counts["signatures"] == len(first) + len(second)
    for stage in ("signatures", "bands", "edges", "clusters"):
        assert ckpt.is_complete(ckpt.stage_path(base_a, stage, ch))
        assert not _os.path.isdir(
            ckpt.stage_path(base_a, stage, ch) + "_inc"
        )

    inc = incremental_update(spark, df_of(third), base_a, CFG)
    full = run_pipeline(spark, df_of(pdf), base_b, CFG)
    ei = {(r.sig_id_a, r.sig_id_b) for r in inc["edges"].collect()}
    ef = {(r.sig_id_a, r.sig_id_b) for r in full["edges"].collect()}
    assert ei == ef
    ci = {r.sig_id: r.cluster_id for r in inc["clusters"].collect()}
    cf = {r.sig_id: r.cluster_id for r in full["clusters"].collect()}
    assert ci == cf


def test_incremental_update_applies_bucket_cap(spark, corpus, tmp_path):
    """The increment's candidate join sizes band buckets over base ∪
    increment, like a full run: with a cap that clone families cross, the
    edges touching an increment id equal a full recompute's."""
    import pyarrow.parquet as pq

    from sourmash_spark.pipeline import incremental_update

    cfg = PipelineConfig(
        sketch=CFG.sketch, lsh=CFG.lsh, jaccard_threshold=0.5, bucket_cap=2
    )
    base_a = str(tmp_path / "inc_base")
    base_b = str(tmp_path / "full_base")
    pdf = corpus.code_files
    first = pdf[pdf.file_id < 40]
    extra = pdf[pdf.file_id >= 40]
    new_ids = set(extra.file_id)

    def df_of(p):
        return spark.createDataFrame(p).withColumnRenamed("file_id", "sig_id")

    run_pipeline(spark, df_of(first), base_a, cfg)
    inc = incremental_update(spark, df_of(extra), base_a, cfg)
    full = run_pipeline(spark, df_of(pdf), base_b, cfg)

    # the cap really removes buckets holding increment ids
    bands = pq.read_table(
        ckpt.stage_path(base_b, "bands", cfg.config_hash())
    ).to_pandas()
    sizes = bands.groupby(["band_idx", "band_key"])["sig_id"].agg(list)
    hot = sizes[sizes.map(len) > cfg.bucket_cap]
    assert any(new_ids & set(ids) for ids in hot), "cap must bite the batch"

    def touching(edges):
        return {
            (r.sig_id_a, r.sig_id_b) for r in edges.collect()
            if r.sig_id_a in new_ids or r.sig_id_b in new_ids
        }

    want = touching(full["edges"])
    assert want, "the increment must form edges"
    assert touching(inc["edges"]) == want
    written = spark.read.parquet(
        ckpt.stage_path(base_a, "edges", cfg.config_hash()) + "_inc"
    )
    assert touching(written) == want


def _split(spark, corpus):
    pdf = corpus.code_files

    def df_of(p):
        return spark.createDataFrame(p).withColumnRenamed("file_id", "sig_id")

    return df_of(pdf[pdf.file_id < 40]), df_of(pdf[pdf.file_id >= 40]), df_of(pdf)


def _stored_rows(path):
    return sum(p["rows"] for p in ckpt.partition_metrics(path))


def _stored_signatures(spark, base):
    """Signature rows stored under ``base`` — the stage table plus every
    increment, committed or not — after finishing a committed compaction."""
    ch = CFG.config_hash()
    ckpt.read_stage(spark, base, "signatures", ch)
    return sum(
        _stored_rows(path(base, "signatures", ch))
        for path in (ckpt.stage_path, ckpt.increments_path)
    )


def _drain(spark, tmp_path, base, docs, tag):
    """Stream ``docs`` into ``base`` from source ``arrivals_{tag}`` under
    checkpoint dir ``ckpt_{tag}``, to the end; returns the checkpoint dir."""
    from sourmash_spark.streaming.watch import stream_ingest

    src = str(tmp_path / f"arrivals_{tag}")
    stream_ckpt = str(tmp_path / f"ckpt_{tag}")
    if not os.path.isdir(src):
        docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    stream_ingest(stream, base, CFG, checkpoint_dir=stream_ckpt) \
        .awaitTermination(120)
    return stream_ckpt


def _stream_once(spark, tmp_path, first, extra):
    """A base of ``first`` and a drained stream of ``extra``; returns the
    base dir, the stream's checkpoint dir and a `replay` that drains
    batch 0 again, as after a crash between its writes and its streaming
    commit."""
    base = str(tmp_path / "base")
    run_pipeline(spark, first, base, CFG, stop_after="edges")
    stream_ckpt = _drain(spark, tmp_path, base, extra, "a")

    def replay():
        for f in ("0", ".0.crc"):  # the batch's commit is lost
            os.remove(os.path.join(stream_ckpt, "commits", f))
        _drain(spark, tmp_path, base, extra, "a")

    return base, stream_ckpt, replay


def test_stream_ingest_replay_stores_batch_once(spark, corpus, tmp_path):
    """A micro-batch replayed after its writes but before the streaming
    commit (the commit log entry deleted) must not store its signatures a
    second time — neither while its increment is live nor after
    compaction has folded it into the stage tables."""
    from sourmash_spark.pipeline import compact_increments

    first, extra, both = _split(spark, corpus)
    base, _, replay = _stream_once(spark, tmp_path, first, extra)
    replay()
    sig_inc = ckpt.increments_path(base, "signatures", CFG.config_hash())
    assert _stored_rows(sig_inc) == extra.count()
    compact_increments(spark, base, CFG)
    replay()
    assert _stored_signatures(spark, base) == both.count()


def test_stream_replay_after_crash_past_compaction_marker(
    spark, corpus, tmp_path, monkeypatch
):
    """A compaction that crashes right after its marker commits has folded
    the batch: a replay before and after the compaction is finished stores
    it once."""
    from sourmash_spark.pipeline import compact_increments
    from sourmash_spark.streaming.watch import _stream_id

    first, extra, both = _split(spark, corpus)
    base, stream_ckpt, replay = _stream_once(spark, tmp_path, first, extra)
    ch = CFG.config_hash()
    put = ckpt._put_json

    def crash_after_marker(path, records):
        put(path, records)
        if path == ckpt._compact_marker(base, ch):
            raise RuntimeError("crash after the compaction marker")

    monkeypatch.setattr(ckpt, "_put_json", crash_after_marker)
    with pytest.raises(RuntimeError, match="compaction marker"):
        compact_increments(spark, base, CFG)
    monkeypatch.undo()
    replay()  # the marker is pending: the batch's increment is still live
    assert _stored_signatures(spark, base) == both.count()
    batch0 = f"b{_stream_id(stream_ckpt)}-000000000"
    assert ckpt.folded_increments(base, ch) == [batch0]
    replay()  # the compaction is finished: only its record is left
    assert _stored_signatures(spark, base) == both.count()


def test_new_streams_store_every_batch(spark, corpus, tmp_path):
    """Batch ids restart at 0 under a new checkpoint dir: a second stream
    into the same base, while the first one's increment is live, and a
    third after a compaction folded both, store all of their files."""
    from sourmash_spark.pipeline import compact_increments

    pdf = corpus.code_files

    def df_of(lo, hi):
        p = pdf[(pdf.file_id >= lo) & (pdf.file_id < hi)]
        return spark.createDataFrame(p).withColumnRenamed("file_id", "sig_id")

    base = str(tmp_path / "base")
    run_pipeline(spark, df_of(0, 30), base, CFG, stop_after="edges")
    _drain(spark, tmp_path, base, df_of(30, 40), "a")
    _drain(spark, tmp_path, base, df_of(40, 50), "b")
    assert _stored_signatures(spark, base) == len(pdf[pdf.file_id < 50])
    compact_increments(spark, base, CFG)
    _drain(spark, tmp_path, base, df_of(50, pdf.file_id.max() + 1), "c")
    assert _stored_signatures(spark, base) == len(pdf)


def test_increment_rerun_after_crash_before_commit(spark, corpus, tmp_path):
    """An increment whose edges never committed is invisible, and the
    re-run of the same batch overwrites it instead of adding a second
    copy of its signatures."""
    from sourmash_spark.pipeline import incremental_update

    first, extra, both = _split(spark, corpus)
    base = str(tmp_path / "inc")
    run_pipeline(spark, first, base, CFG)
    incremental_update(spark, extra, base, CFG)
    ch = CFG.config_hash()
    os.remove(os.path.join(
        ckpt.increments_path(base, "edges", ch), "increment=0", "_SUCCESS"
    ))

    inc = incremental_update(spark, extra, base, CFG)
    n_first, n_extra = first.count(), extra.count()
    assert inc["signatures"].count() == n_first + n_extra
    sig_inc = ckpt.increments_path(base, "signatures", ch)
    assert _stored_rows(sig_inc) == n_extra
    full = run_pipeline(spark, both, str(tmp_path / "full"), CFG)
    got = {(r.sig_id_a, r.sig_id_b) for r in inc["edges"].collect()}
    want = {(r.sig_id_a, r.sig_id_b) for r in full["edges"].collect()}
    assert got == want


def test_increment_rejects_unplaced_files(spark, corpus, tmp_path):
    """A data file beside the increments (such as the flat edge files an
    earlier layout appended) fails loudly instead of being skipped."""
    import re

    from sourmash_spark.pipeline import incremental_update

    first, extra, _ = _split(spark, corpus)
    base = str(tmp_path / "flat")
    run_pipeline(spark, first, base, CFG)
    edges_inc = ckpt.increments_path(base, "edges", CFG.config_hash())
    spark.read.parquet(ckpt.stage_path(base, "edges", CFG.config_hash())) \
        .write.parquet(edges_inc)
    with pytest.raises(ValueError, match=re.escape(edges_inc)):
        incremental_update(spark, extra, base, CFG)
