"""Run the chained quality-filter job at sf1 and persist its evidence
(VERDICT r3 #7): per-stage drop lineage + wall time for the deploy-shaped
exact-dedup -> Gopher-quality -> decontamination -> exact-substring-dedup
(keep-first, 60-char) -> PII-redaction pass over the 10x corpus.

The decontamination benchmark is the same deterministic subset the
text_decontaminate oracle gate uses (doc_id % 97 == 3) written out as its
own parquet, exercising the job's --benchmark path end to end.

Writes BENCH/QUALITY_FILTER_sf1.json (committed evidence); job outputs go
to a scratch dir.

Usage: python tools/quality_filter_sf1.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(ROOT))

SF1_DIR = sys.argv[1] if len(sys.argv) > 1 else str(ROOT / "testdata_sf1")
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/quality_filter_sf1"
EVIDENCE = str(ROOT / "BENCH/QUALITY_FILTER_sf1.json")


def main() -> None:
    docs_path = os.path.join(SF1_DIR, "documents.parquet")
    if not os.path.exists(docs_path):
        sys.exit(f"{docs_path} missing — run `python tools/make_sf_big.py 10`")

    bench_path = os.path.join(OUT_DIR, "benchmark.parquet")
    import duckdb

    os.makedirs(OUT_DIR, exist_ok=True)
    duckdb.sql(
        f"COPY (SELECT doc_id AS bench_id, text FROM '{docs_path}/*.parquet' "
        f"WHERE doc_id % 97 = 3) TO '{bench_path}' (FORMAT PARQUET)"
    )

    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    env["PYTHONPATH"] = str(ROOT) + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    run = subprocess.run(
        [
            sys.executable, str(ROOT / "jobs/quality_filter_job.py"),
            "--input", docs_path,
            "--output", os.path.join(OUT_DIR, "out"),
            "--benchmark", bench_path,
            "--ngram", "8",
            "--substring-min-len", "60",
            "--redact-pii",
        ],
        capture_output=True, text=True, env=env, timeout=3600,
    )
    line = next(
        (ln for ln in run.stdout.splitlines() if ln.startswith('{"n_in"')),
        None,
    )
    if line is None:
        sys.exit(
            f"job emitted no summary\n{run.stdout[-2000:]}\n{run.stderr[-2000:]}"
        )
    summary = json.loads(line)
    evidence = {
        "job": "jobs/quality_filter_job.py",
        "sf_dir": SF1_DIR,
        "stages": [
            "exact_dup", "gopher_quality", "decontaminate",
            "substring_dedup", "pii_redacted",
        ],
        "benchmark": "doc_id % 97 == 3 subset (same as the oracle gate)",
        "summary": summary,
        "harness_wall_sec": round(time.time() - t0, 2),
    }
    os.makedirs(os.path.dirname(EVIDENCE), exist_ok=True)
    with open(EVIDENCE, "w") as f:
        json.dump(evidence, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {EVIDENCE}")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
