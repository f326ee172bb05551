"""Exercise the documented cluster deploy path end-to-end:

    spark-submit --py-files sourmash_spark.zip jobs/dedup_job.py ...

The north rule's deployment story is spark-submit --py-files on a
multi-executor cluster; this harness proves the artifact actually ships —
the driver script is copied to an EMPTY temp directory and submitted from
there, so `sourmash_spark` is importable only from the zip (not from the
repo checkout on the driver's cwd).  Asserts:

  1. the submitted job prints its one-line summary JSON and exits 0, and
     the summary's effective master and shuffle partitions equal the
     submitted --master and --conf (spark-submit wins over get_spark's
     environment defaults);
  2. cluster count equals an in-process library run on the same input
     with the same config (bit-identical pipeline);
  3. a re-submit with the same config resumes from checkpoint (all four
     stage tables skipped) and returns the identical summary.

Records wall and process-tree CPU (RUSAGE_CHILDREN, JIT included) of
both submits, as the entry for SMOKE_FILES (synth n_base, default 300)
in BENCH/SPARK_SUBMIT_SMOKE.json.  Run: python tools/spark_submit_smoke.py
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BASE = int(os.environ.get("SMOKE_FILES", "300"))
PARTITIONS = 8
EVIDENCE = os.path.join(REPO, "BENCH", "SPARK_SUBMIT_SMOKE.json")


def build_zip(dest: str) -> str:
    """Deterministic --py-files artifact: the package tree, sorted order,
    pyc/caches excluded (the documented shutil.make_archive one-liner
    produces the same content; this adds determinism for checksumming)."""
    zpath = os.path.join(dest, "sourmash_spark.zip")
    pkg = os.path.join(REPO, "sourmash_spark")
    names = []
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith((".py", ".md")):
                names.append(os.path.join(root, f))
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for n in names:
            z.write(n, os.path.relpath(n, REPO))
    return zpath


def main() -> int:
    from sourmash_spark.synth import synth_code_files

    work = tempfile.mkdtemp(prefix="submit_smoke_")
    corpus_dir = os.path.join(work, "corpus")
    os.makedirs(corpus_dir)

    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = synth_code_files(n_base=N_BASE, seed=7)
    pq.write_table(
        pa.Table.from_pandas(corpus.code_files),
        os.path.join(corpus_dir, "part-0.parquet"),
    )
    n_files = len(corpus.code_files)

    # stage the driver script in an empty dir: imports resolve ONLY via zip
    zpath = build_zip(work)
    driver = os.path.join(work, "dedup_job.py")
    shutil.copy(os.path.join(REPO, "jobs", "dedup_job.py"), driver)
    out_dir = os.path.join(work, "ckpt")

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    master = os.environ.get("SMOKE_MASTER", "local[4]")
    cmd = [
        spark_submit,
        "--master", master,
        "--conf", f"spark.sql.shuffle.partitions={PARTITIONS}",
        "--py-files", zpath,
        driver,
        "--input", corpus_dir,
        "--output", out_dir,
        "--id-col", "file_id",
    ]

    def children_cpu() -> float:
        ru = resource.getrusage(resource.RUSAGE_CHILDREN)
        return ru.ru_utime + ru.ru_stime

    def submit() -> tuple[dict, dict]:
        t0, c0 = time.time(), children_cpu()
        p = subprocess.run(
            cmd, capture_output=True, text=True, timeout=1800, cwd=work,
            env={**os.environ, "PYTHONPATH": ""},
        )
        cost = {"wall_sec": round(time.time() - t0, 2),
                "tree_cpu_sec": round(children_cpu() - c0, 2)}
        summary = None
        for line in reversed(p.stdout.splitlines()):
            if line.startswith("{"):
                summary = json.loads(line)
                break
        if p.returncode != 0 or summary is None:
            raise RuntimeError(
                f"submit failed rc={p.returncode}\n{p.stdout[-3000:]}\n{p.stderr[-3000:]}"
            )
        # the work dir is random per run: keep the evidence file stable
        summary["output"] = os.path.relpath(summary["output"], work)
        return summary, cost

    first, cost1 = submit()
    assert first["n_signatures"] == n_files, first
    assert (first["master"], first["shuffle_partitions"]) == (
        master, PARTITIONS
    ), first

    # resume: same config hash -> every stage table is reused
    second, cost2 = submit()
    assert {**first, "wall_sec": 0} == {**second, "wall_sec": 0}, second

    # in-process library run, same input + config: cluster count must match
    from sourmash_spark.session import get_spark
    from sourmash_spark.params import LSHParams, SketchParams
    from sourmash_spark.pipeline import PipelineConfig, run_pipeline

    spark = get_spark("submit_smoke_ref", master=master,
                      shuffle_partitions=PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    src = (
        spark.read.parquet(corpus_dir)
        .withColumnRenamed("file_id", "sig_id")
    )
    ref_out = run_pipeline(
        spark, src, os.path.join(work, "ckpt_ref"),
        PipelineConfig(sketch=SketchParams(ksize=21, scaled=50),
                       lsh=LSHParams(num_bands=16, band_size=2),
                       bucket_cap=500),  # match the job's CLI default
    )
    ref = {
        "n_signatures": ref_out["signatures"].count(),
        "n_edges": ref_out["edges"].count(),
        "n_clusters": (
            ref_out["clusters"].select("cluster_id").distinct().count()
        ),
    }
    spark.stop()
    for k, v in ref.items():
        assert first[k] == v, (k, first[k], v)

    result = {
        "n_files": n_files,
        "zip_bytes": os.path.getsize(zpath),
        "submit": first,
        "resubmit": second,
        "submit_cost": cost1,
        "resubmit_cost": cost2,
        "inprocess_match": ref,
        "submitted": {"master": master, "shuffle_partitions": PARTITIONS},
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    runs = {}
    if os.path.exists(EVIDENCE):
        with open(EVIDENCE) as f:
            runs = json.load(f)
    runs[f"n_base_{N_BASE}"] = result
    with open(EVIDENCE, "w") as f:
        json.dump(runs, f, indent=1, sort_keys=True)
    print(json.dumps(result))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
