"""The one session factory and the deploy jobs that use it: a running
session is returned unchanged, a new one defaults to the usable cores, an
in-process job leaves its caller's session as it was, and both jobs'
summaries come from footers, lineage and observed metrics with the same
counts as `.count()` and no Spark job."""

from __future__ import annotations

import importlib.util
import io
import json
import os
import subprocess
import sys
import uuid
from contextlib import redirect_stdout

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from sourmash_spark.operators.cluster import _label_propagation, connected_components
from sourmash_spark.params import LSHParams, SketchParams
from sourmash_spark.pipeline import PipelineConfig, run_pipeline
from sourmash_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "jobs", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


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


def test_get_spark_returns_running_session_unchanged(spark):
    before = spark.conf.getAll
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    # neither the environment defaults nor explicit settings that differ
    # from the running session's reach it
    assert get_spark() is spark
    get_spark("other", master="local[1]", shuffle_partitions=int(parts) + 3,
              extra_conf={"spark.sql.adaptive.enabled": "false"})
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.getAll == before
    assert spark.sparkContext.master == "local[4]"


def test_quality_filter_job_leaves_session_settings(spark, tmp_path):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    texts = [" ".join(words[(i + j) % 10] for j in range(60)) + f" doc{i}"
             for i in range(8)]
    texts += [texts[0], "too short"]
    src = str(tmp_path / "docs.parquet")
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(src)
    key = "spark.sql.adaptive.skewJoin.enabled"
    spark.conf.set(key, "false")  # a setting the job's defaults differ on
    try:
        before = spark.conf.getAll
        with redirect_stdout(io.StringIO()):
            rc = _job("quality_filter_job").main(
                ["--input", src, "--output", str(tmp_path / "out"),
                 "--min-words", "5"]
            )
        assert rc == 0
        assert spark.conf.getAll == before
    finally:
        spark.conf.unset(key)


def test_quality_filter_summary_matches_counts_and_starts_no_job(
    spark, tmp_path, monkeypatch
):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    texts = [" ".join(words[(i + j) % 10] for j in range(60)) + f" doc{i}"
             for i in range(12)]
    texts += [texts[0], texts[1], "too short", "also short"]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    ).repartition(3).write.parquet(src)
    out = str(tmp_path / "out")
    job = _job("quality_filter_job")
    real, jobs = job.summarize, []

    def counted(*a):
        got, n = _jobs(spark, lambda: real(*a))
        jobs.append(n)
        return got

    monkeypatch.setattr(job, "summarize", counted)
    buf = io.StringIO()
    with redirect_stdout(buf):
        job.main(["--input", src, "--output", out, "--min-words", "5",
                  "--redact-pii"])
    got = json.loads(buf.getvalue().splitlines()[-1])
    assert jobs == [0]
    lineage = spark.read.parquet(f"{out}/lineage.parquet")
    assert got["n_in"] == spark.read.parquet(src).count() == len(texts)
    assert got["n_out"] == spark.read.parquet(f"{out}/filtered.parquet").count()
    want = {
        r["stage"]: r["n"]
        for r in lineage.groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    assert got["dropped_by_stage"] == want
    # a stage that dropped nothing (no PII in the texts) stays absent
    assert want["exact_dup"] == 2 and "pii_redacted" not in want


def test_get_spark_defaults_to_the_usable_cores():
    env = {k: v for k, v in os.environ.items() if k not in (
        "SPARK_GRAFT_CPUS", "SOURMASH_SPARK_MASTER",
        "SOURMASH_SPARK_SHUFFLE_PARTITIONS", "OMP_NUM_THREADS",
        "OMP_THREAD_LIMIT", "PYSPARK_GATEWAY_PORT",
    )}
    env["PYTHONPATH"] = REPO
    nproc = subprocess.run(
        ["nproc"], env=env, capture_output=True, text=True, check=True
    ).stdout.strip()
    code = (
        "from sourmash_spark.session import get_spark\n"
        "s = get_spark(extra_conf={'spark.driver.memory': '512m'})\n"
        "print(s.sparkContext.master,"
        " s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    assert p.stdout.split()[-2:] == [f"local[{nproc}]", nproc]


def test_dedup_summary_matches_counts_fresh_and_resumed(
    spark, corpus, tmp_path
):
    summarize = _job("dedup_job").summarize
    cfg = PipelineConfig(
        sketch=SketchParams(ksize=21, scaled=50),
        lsh=LSHParams(num_bands=16, band_size=2),
        bucket_cap=500,
    )
    df = spark.createDataFrame(corpus.code_files).withColumnRenamed(
        "file_id", "sig_id"
    )
    base = str(tmp_path)
    for _ in ("fresh", "resumed"):
        out = run_pipeline(spark, df, base, cfg)
        want = {
            "config_hash": cfg.config_hash(),
            "n_signatures": out["signatures"].count(),
            "n_candidates": out["candidates"].count(),
            "n_edges": out["edges"].count(),
            "n_clusters": (
                out["clusters"].select("cluster_id").distinct().count()
            ),
            "master": "local[4]",
            "shuffle_partitions": 4,
        }
        got, n_jobs = _jobs(spark, lambda: summarize(spark, base, cfg))
        assert got == want
        assert n_jobs == 0
    # the clustering is not trivial: some files share a cluster
    assert 0 < want["n_clusters"] < want["n_signatures"]

    # a clusters record written before it carried the graph counts
    lineage = os.path.join(base, "_lineage")
    for name in os.listdir(lineage):
        path = os.path.join(lineage, name)
        with open(path) as f:
            recs = [json.loads(line) for line in f]
        with open(path, "w") as f:
            f.writelines(
                json.dumps({k: v for k, v in r.items() if k != "edge_graph"})
                + "\n" for r in recs
            )
    assert summarize(spark, base, cfg) == want


def test_cc_stats_match_on_both_paths(spark):
    rng = np.random.default_rng(3)
    a = rng.integers(0, 120, size=150)
    b = rng.integers(0, 120, size=150)
    keep = a < b
    edges = spark.createDataFrame(
        pd.DataFrame({"sig_id_a": a[keep], "sig_id_b": b[keep]})
    )
    driver, spread = {}, {}
    labels = connected_components(edges, stats=driver)
    _label_propagation(edges.toDF("a", "b"), stats=spread)
    assert driver == spread
    assert driver["vertices"] == labels.count()
    assert driver["components"] == (
        labels.select(F.countDistinct("cluster_id")).first()[0]
    )
