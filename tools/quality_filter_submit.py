"""Deploy witness for the REALISTIC production path: the full 6-stage
quality-filter chain driven through `spark-submit --py-files` (VERDICT
r5 #7), at sf1 (the 10x corpus, 50k docs).

Same discipline as tools/spark_submit_smoke.py: the driver script is
staged in an EMPTY temp dir and submitted with PYTHONPATH cleared, so
`sourmash_spark` resolves ONLY from the shipped zip.  Asserts the
submitted run prints its one-line summary and exits 0, then re-runs the
job IN-PROCESS on the same input/flags and requires identical
n_in/n_out/per-stage drop counts (the chain is deterministic).

Scope note (honest): quality_filter_job is a single-pass job with no
stage-checkpoint contract, so there is no mid-chain kill/RESUME witness
here — resume-after-kill is dedup_job's contract (run_pipeline
config-hash checkpoints, witnessed in BENCH/SPARK_SUBMIT_SMOKE.json and
the opt-in deploy pytest); giving the quality chain its own checkpoint
store would be new feature work outside an optimization round.

Writes BENCH/QUALITY_FILTER_SUBMIT_sf1.json.
Run: python tools/quality_filter_submit.py   (needs testdata_sf1/ —
`python tools/make_sf_big.py 10` first; env: QF_MASTER, QF_INPUT)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_submit_smoke import build_zip  # noqa: E402  (same artifact)

SF1 = os.environ.get("QF_INPUT", os.path.join(REPO, "testdata_sf1"))
CORES = len(os.sched_getaffinity(0))
MASTER = os.environ.get("QF_MASTER", f"local[{CORES}]")


def main() -> int:
    docs_path = os.path.join(SF1, "documents.parquet")
    if not os.path.exists(docs_path):
        sys.exit(f"{docs_path} missing — run `python tools/make_sf_big.py 10`")

    work = tempfile.mkdtemp(prefix="qf_submit_")
    try:
        # benchmark table: the same deterministic doc_id % 97 == 3 subset
        # the bench's quality_chain uses, written once as parquet
        import duckdb

        bench_path = os.path.join(work, "benchmark.parquet")
        # docs_path may be a Spark parquet DIRECTORY — glob for DuckDB
        src = (
            f"{docs_path}/*.parquet" if os.path.isdir(docs_path) else docs_path
        )
        duckdb.sql(
            f"COPY (SELECT doc_id AS bench_id, text FROM '{src}' "
            f"WHERE doc_id % 97 = 3) TO '{bench_path}' (FORMAT PARQUET)"
        )

        zpath = build_zip(work)
        driver = os.path.join(work, "quality_filter_job.py")
        shutil.copy(os.path.join(REPO, "jobs", "quality_filter_job.py"), driver)
        out_dir = os.path.join(work, "out")

        job_args = [
            "--input", docs_path,
            "--output", out_dir,
            "--benchmark", bench_path,
            "--id-col", "doc_id",
            "--text-col", "text",
            "--segment-min-df", "3",
            "--substring-min-len", "60",
            "--redact-pii",
        ]
        spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
        cmd = [
            spark_submit,
            "--master", MASTER,
            "--conf", f"spark.sql.shuffle.partitions={CORES}",
            "--conf", "spark.driver.memory=8g",
            "--py-files", zpath,
            driver,
            *job_args,
        ]
        t0 = time.time()
        p = subprocess.run(
            cmd, capture_output=True, text=True, timeout=1800, cwd=work,
            env={**os.environ, "PYTHONPATH": ""},
        )
        wall = time.time() - t0
        summary = None
        for line in reversed(p.stdout.splitlines()):
            if line.startswith("{"):
                summary = json.loads(line)
                break
        if p.returncode != 0 or summary is None:
            raise RuntimeError(
                f"submit failed rc={p.returncode}\n"
                f"{p.stdout[-3000:]}\n{p.stderr[-3000:]}"
            )

        # in-process replay with identical flags: the chain must be
        # deterministic end to end
        sys.path.insert(0, os.path.join(REPO, "jobs"))
        import quality_filter_job

        out2 = os.path.join(work, "out_ref")
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        t1 = time.time()
        with redirect_stdout(buf):
            quality_filter_job.main(
                [a if a != out_dir else out2 for a in job_args]
            )
        wall_ref = time.time() - t1
        ref = json.loads(
            [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")][-1]
        )
        for k in ("n_in", "n_out", "dropped_by_stage"):
            assert summary[k] == ref[k], (k, summary[k], ref[k])

        result = {
            "input": docs_path,
            "zip_bytes": os.path.getsize(zpath),
            "stages": [
                "exact_dup", "gopher_quality", "decontaminate",
                "segment_dedup", "substring_dedup", "pii_redacted",
            ],
            "submit_summary": summary,
            "submit_wall_sec": round(wall, 2),
            "inprocess_summary": ref,
            "inprocess_wall_sec": round(wall_ref, 2),
            "counts_match": True,
            "master": MASTER,
            "resume_note": (
                "no kill/resume witness: quality_filter_job is single-pass "
                "by design; the checkpoint-resume deploy contract is "
                "dedup_job's (BENCH/SPARK_SUBMIT_SMOKE.json)"
            ),
        }
        with open(
            os.path.join(REPO, "BENCH", "QUALITY_FILTER_SUBMIT_sf1.json"), "w"
        ) as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
