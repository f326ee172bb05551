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
import zipfile
from contextlib import redirect_stdout

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark
import pyspark.sql.functions as F
import pytest

from sourmash_spark.operators.cluster import _label_propagation, connected_components
from sourmash_spark.params import LSHParams, SketchParams
from sourmash_spark.pipeline import PipelineConfig, run_pipeline
from sourmash_spark.session import get_spark
from sourmash_spark.worker_daemon import worker_path

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
    # the session the job ran under (the test session: a running session
    # is used as it is)
    assert (got["master"], got["shuffle_partitions"]) == ("local[4]", 4)


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


def test_dedup_job_rejects_num(capsys):
    """The pipeline has no num mode (range-min bands need a scaled hash
    space), so the job has no --num flag: argparse refuses it."""
    with pytest.raises(SystemExit) as exc:
        _job("dedup_job").main(
            ["--input", "in", "--output", "out", "--num", "100"]
        )
    assert exc.value.code == 2
    assert "unrecognized arguments: --num 100" in capsys.readouterr().err


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


def test_workers_import_the_installed_pyspark(spark):
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")

    def facts(batches):
        import __main__
        import sys

        import pyspark as ps

        for _ in batches:
            yield pa.RecordBatch.from_pydict({
                "daemon": [__main__.__spec__.name],
                "pyspark": [ps.__file__],
                "path": [list(sys.path) + list(sys.path_importer_cache)],
            })

    rows = spark.range(8, numPartitions=4).mapInArrow(
        facts, "daemon string, pyspark string, path array<string>"
    ).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.daemon == "sourmash_spark.worker_daemon"
        assert r.pyspark == pyspark.__file__
        assert not r.pyspark.startswith(lib)
        # neither on the path nor left as a cached zipimporter
        assert [p for p in r.path if p.startswith(lib) or ".jar" in p] == []


def test_worker_path_keeps_spark_zips_without_a_matching_install(tmp_path):
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    zpath, jar = str(lib / "pyspark.zip"), str(tmp_path / "core.jar")
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    home = str(tmp_path)

    def write(path, files):
        with zipfile.ZipFile(path, "w") as z:
            for name, text in files.items():
                z.writestr(name, text)

    def fake_pyspark(version):
        write(zpath, {
            "pyspark/__init__.py": "",
            "pyspark/version.py": f'__version__: str = "{version}"\n',
        })

    fake_pyspark(pyspark.__version__)
    assert worker_path([zpath, site], home) == [site]
    # no installed pyspark, another version, or a zip outside Spark's lib
    assert worker_path([zpath], home) == [zpath]
    elsewhere = str(tmp_path / "elsewhere")
    assert worker_path([zpath, site], elsewhere) == [zpath, site]
    assert worker_path([zpath, site], "") == [zpath, site]
    fake_pyspark("0.0.1")
    assert worker_path([zpath, site], home) == [zpath, site]
    # a jar goes only when it holds no Python file
    write(jar, {"org/apache/X.class": ""})
    assert worker_path([jar, site], home) == [site]
    write(jar, {"pyspark/__init__.py": ""})
    assert worker_path([jar, site], home) == [jar, site]


def test_workers_import_the_package_without_the_checkout(tmp_path):
    """A driver whose cwd and PYTHONPATH lack the checkout (it finds the
    package only through its own sys.path) still runs a Python UDF: the
    worker daemon gets the package root from the session."""
    env = {k: v for k, v in os.environ.items() if k not in (
        "SPARK_GRAFT_CPUS", "SOURMASH_SPARK_MASTER",
        "SOURMASH_SPARK_SHUFFLE_PARTITIONS", "PYSPARK_GATEWAY_PORT",
    )}
    env["PYTHONPATH"] = ""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import pyarrow as pa\n"
        "from sourmash_spark.session import get_spark\n"
        "def facts(batches):\n"
        "    import __main__, sourmash_spark\n"
        "    for _ in batches:\n"
        "        yield pa.RecordBatch.from_pydict({\n"
        "            'daemon': [__main__.__spec__.name],\n"
        "            'package': [sourmash_spark.__file__]})\n"
        "s = get_spark(master='local[2]',"
        " extra_conf={'spark.driver.memory': '512m'})\n"
        "r = s.range(2, numPartitions=1).mapInArrow("
        "facts, 'daemon string, package string').first()\n"
        "print(r.daemon, r.package)\n"
        "s.stop()\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    assert p.stdout.split()[-2:] == [
        "sourmash_spark.worker_daemon",
        os.path.join(REPO, "sourmash_spark", "__init__.py"),
    ]
