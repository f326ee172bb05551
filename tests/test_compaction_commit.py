"""Compaction commits once: a failure injected after any step of
`compact_increments` (each compacted-table write, the commit marker,
each rename, each delete) leaves a state from which the next compaction
and the next ingest equal a run that never crashed."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from sourmash_spark.params import LSHParams, SketchParams
from sourmash_spark.pipeline import (
    PipelineConfig, compact_increments, incremental_update, run_pipeline,
)
from sourmash_spark.sources import checkpoint as ckpt

CFG = PipelineConfig(
    sketch=SketchParams(ksize=21, scaled=50),
    lsh=LSHParams(num_bands=16, band_size=2),
    jaccard_threshold=0.5,
)


class Crash(Exception):
    pass


def _crash_after(monkeypatch, k: int) -> None:
    """Raise Crash right after the k-th file-system step of the store."""
    n = [0]

    def wrap(owner, name):
        real = getattr(owner, name)

        def step(*a, **kw):
            out = real(*a, **kw)
            n[0] += 1
            if n[0] == k:
                raise Crash(f"after step {k}: {name}{a[:1]}")
            return out

        monkeypatch.setattr(owner, name, step)

    wrap(ckpt, "_write")
    wrap(os, "replace")
    wrap(os, "rename")
    wrap(os, "remove")
    wrap(shutil, "rmtree")


def _state(base: str) -> dict:
    """Every stage table of CFG under ``base``, read with pyarrow: the
    signature ids (with multiplicity), edge pairs and cluster labels."""
    ch = CFG.config_hash()

    def read(stage, cols):
        return pq.read_table(ckpt.stage_path(base, stage, ch), columns=cols)

    e = read("edges", ["sig_id_a", "sig_id_b"]).to_pydict()
    c = read("clusters", ["sig_id", "cluster_id"]).to_pydict()
    return {
        "signatures": sorted(read("signatures", ["sig_id"])["sig_id"]
                             .to_pylist()),
        "bands": read("bands", ["sig_id"]).num_rows,
        "edges": sorted(zip(e["sig_id_a"], e["sig_id_b"])),
        "clusters": dict(zip(c["sig_id"], c["cluster_id"])),
    }


def _result(out: dict) -> tuple:
    return (
        out["signatures"].count(),
        {(r.sig_id_a, r.sig_id_b) for r in out["edges"].collect()},
        {r.sig_id: r.cluster_id for r in out["clusters"].collect()},
    )


def test_compaction_crash_at_every_step(spark, corpus, tmp_path, monkeypatch):
    pdf = corpus.code_files

    def df_of(p):
        return spark.createDataFrame(p).withColumnRenamed("file_id", "sig_id")

    first, second, third = (
        df_of(pdf[pdf.file_id < 30]),
        df_of(pdf[(pdf.file_id >= 30) & (pdf.file_id < 45)]),
        df_of(pdf[pdf.file_id >= 45]),
    )
    start = str(tmp_path / "start")
    run_pipeline(spark, first, start, CFG)
    incremental_update(spark, second, start, CFG)

    clean = str(tmp_path / "clean")
    shutil.copytree(start, clean)
    want_counts = compact_increments(spark, clean, CFG)
    assert want_counts["signatures"] == 45
    want_state = _state(clean)
    want_ingest = _result(incremental_update(spark, third, clean, CFG))
    assert want_ingest[0] == len(pdf)

    for k in range(1, 100):
        base = str(tmp_path / f"crash{k}")
        shutil.copytree(start, base)
        _crash_after(monkeypatch, k)
        try:
            compact_increments(spark, base, CFG)
        except Crash:
            crashed = True
        else:
            crashed = False
        finally:
            monkeypatch.undo()
        if not crashed:  # k is past the last step
            break
        again = base + "_again"
        shutil.copytree(base, again)
        assert compact_increments(spark, again, CFG) == want_counts, k
        assert _state(again) == want_state, k
        assert not [n for n in os.listdir(again) if "compact" in n], k
        assert _result(incremental_update(spark, third, base, CFG)) == (
            want_ingest
        ), k
    # the commit has steps before and after it: four table writes, the
    # marker, four renames and the deletes
    assert k > 12, k


def test_compacting_dir_without_marker_is_discarded(spark, corpus, tmp_path):
    pdf = corpus.code_files
    df = spark.createDataFrame(pdf[pdf.file_id < 30]).withColumnRenamed(
        "file_id", "sig_id"
    )
    base = str(tmp_path)
    run_pipeline(spark, df, base, CFG)
    stray = ckpt.stage_path(base, "clusters", CFG.config_hash()) + (
        "_compacting"
    )
    os.makedirs(stray)
    counts = compact_increments(spark, base, CFG)
    assert counts["signatures"] == 30
    assert not os.path.exists(stray)


def test_read_stage_rejects_dir_without_data(spark, tmp_path):
    base = str(tmp_path)
    path = ckpt.stage_path(base, "ids", "h0")
    for make in (lambda: None, lambda: os.makedirs(path),
                 lambda: open(os.path.join(path, "_SUCCESS"), "w").close()):
        make()
        with pytest.raises(ValueError, match=path):
            ckpt.read_stage(spark, base, "ids", "h0")
