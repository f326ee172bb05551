"""Deploy witness for both cluster jobs: submit a job under jobs/ the
documented way,

    spark-submit --py-files sourmash_spark.zip jobs/<job>.py ...

and check it against an in-process run of the same job.

    python tools/spark_submit_smoke.py {dedup,quality_filter} \
        [--files N] [--input SF_DIR]

The driver script is copied to an EMPTY temp directory and submitted from
there with PYTHONPATH cleared, so `sourmash_spark` imports only from the
shipped zip.  The master is local[<usable cores>] (get_spark's rule) and
the shuffle-partition count is twice that, so a summary that names them
shows that spark-submit's --master and --conf won.  Asserts, per job:

  1. every submit prints its one-line summary JSON and exits 0, and the
     summary's master and shuffle partitions equal the submitted ones;
  2. the summary values the job's table entry names equal an in-process
     run of the job's `main` with the same flags;
  3. dedup only: a re-submit with the same config resumes from
     checkpoint (all stage tables reused) and prints the same summary.

Inputs: dedup reads the seeded synth corpus of --files base files
(default 300); quality_filter reads --input's documents.parquet (default
$SPARK_GRAFT_SF_DIR, else sf0.1, as bench.py) plus bench.py's
doc_id % 97 == 3 benchmark table.  Records wall and process-tree CPU
(RUSAGE_CHILDREN, JIT included) of every submit: dedup as the entry
n_base_<N> of BENCH/SPARK_SUBMIT_SMOKE.json, quality_filter as
BENCH/QUALITY_FILTER_SUBMIT_<sf dir name>.json.
"""

from __future__ import annotations

import argparse
import importlib.util
import io
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _synth_corpus(work: str, opts) -> tuple[list[str], dict]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sourmash_spark.synth import synth_code_files

    corpus = synth_code_files(n_base=opts.files, seed=7).code_files
    path = os.path.join(work, "corpus")
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(corpus),
                   os.path.join(path, "part-0.parquet"))
    return ["--input", path, "--id-col", "file_id"], {"n_files": len(corpus)}


def _sf_documents(work: str, opts) -> tuple[list[str], dict]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = os.path.join(opts.input, "documents.parquet")
    df = pq.read_table(docs, columns=["doc_id", "text"]).to_pandas()
    bench = os.path.join(work, "benchmark.parquet")
    pq.write_table(pa.Table.from_pandas(
        df[df["doc_id"] % 97 == 3].rename(columns={"doc_id": "bench_id"}),
        preserve_index=False,
    ), bench)
    return [
        "--input", docs, "--benchmark", bench,
        "--segment-min-df", "3", "--substring-min-len", "60", "--redact-pii",
    ], {"input": docs}


# job -> its driver, its input (job arguments + facts for the evidence),
# the summary keys the in-process reference must reproduce, whether a
# second submit must resume with the same summary, and where the evidence
# goes (file under BENCH/, key in it or None for the whole file)
JOBS = {
    "dedup": {
        "driver": "dedup_job.py",
        "input": _synth_corpus,
        "match": ("config_hash", "n_signatures", "n_candidates", "n_edges",
                  "n_clusters"),
        "resubmit": True,
        "evidence": lambda opts: (
            "SPARK_SUBMIT_SMOKE.json", f"n_base_{opts.files}"
        ),
    },
    "quality_filter": {
        "driver": "quality_filter_job.py",
        "input": _sf_documents,
        "match": ("n_in", "n_out", "dropped_by_stage"),
        "resubmit": False,
        "evidence": lambda opts: (
            "QUALITY_FILTER_SUBMIT_"
            f"{os.path.basename(os.path.normpath(opts.input))}.json", None
        ),
    },
}


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


def _children_cpu() -> float:
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ru.ru_utime + ru.ru_stime


def _summary(stdout: str) -> dict | None:
    for line in reversed(stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    return None


def submit(cmd: list[str], work: str) -> tuple[dict, dict]:
    """Run one spark-submit from `work`: the job's summary line (its
    `output` made relative to `work`, which is random per run) and
    {wall_sec, tree_cpu_sec}."""
    t0, c0 = time.time(), _children_cpu()
    p = subprocess.run(
        cmd, capture_output=True, text=True, timeout=1800, cwd=work,
        env={**os.environ, "PYTHONPATH": ""},
    )
    cost = {"wall_sec": round(time.time() - t0, 2),
            "tree_cpu_sec": round(_children_cpu() - c0, 2)}
    summary = _summary(p.stdout)
    if p.returncode != 0 or summary is None:
        raise RuntimeError(
            f"submit failed rc={p.returncode}\n"
            f"{p.stdout[-3000:]}\n{p.stderr[-3000:]}"
        )
    if "output" in summary:
        summary["output"] = os.path.relpath(summary["output"], work)
    return summary, cost


def witness(job: str, files: int = 300, input_dir: str | None = None) -> dict:
    """Submit `job`, check it (module docstring) and record the evidence;
    returns the evidence entry."""
    spec = JOBS[job]
    opts = argparse.Namespace(files=files, input=input_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    cores = len(os.sched_getaffinity(0))
    master, partitions = f"local[{cores}]", 2 * cores
    work = tempfile.mkdtemp(prefix=f"submit_{job}_")
    try:
        input_args, facts = spec["input"](work, opts)
        zpath = build_zip(work)
        zip_bytes = os.path.getsize(zpath)
        driver = os.path.join(work, spec["driver"])
        shutil.copy(os.path.join(REPO, "jobs", spec["driver"]), driver)
        cmd = [
            shutil.which("spark-submit") or "/opt/spark/bin/spark-submit",
            "--master", master,
            "--conf", f"spark.sql.shuffle.partitions={partitions}",
            "--py-files", zpath,
            driver, *input_args, "--output", os.path.join(work, "out"),
        ]
        runs = [submit(cmd, work)]
        if spec["resubmit"]:
            runs.append(submit(cmd, work))
        for summary, _ in runs:
            assert (summary["master"], summary["shuffle_partitions"]) == (
                master, partitions
            ), summary
        first = runs[0][0]
        if spec["resubmit"]:
            # same config hash: every stage table is reused
            again = runs[1][0]
            assert {**first, "wall_sec": 0} == {**again, "wall_sec": 0}, again

        # in-process reference: the same job's main, same flags, under the
        # same master and partitions (main reuses the running session)
        from sourmash_spark.session import get_spark

        spark = get_spark(f"{job}_ref", master=master,
                          shuffle_partitions=partitions)
        mod_spec = importlib.util.spec_from_file_location(
            spec["driver"][:-3], os.path.join(REPO, "jobs", spec["driver"])
        )
        mod = importlib.util.module_from_spec(mod_spec)
        mod_spec.loader.exec_module(mod)
        buf = io.StringIO()
        with redirect_stdout(buf):
            mod.main([*input_args, "--output", os.path.join(work, "ref")])
        spark.stop()
        ref = {k: _summary(buf.getvalue())[k] for k in spec["match"]}
        for k, v in ref.items():
            assert first[k] == v, (k, first[k], v)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = {
        **facts,
        "zip_bytes": zip_bytes,
        "submitted": {"master": master, "shuffle_partitions": partitions},
        "submit": first,
        "submit_cost": runs[0][1],
        "inprocess_match": ref,
    }
    if spec["resubmit"]:
        result.update(resubmit=runs[1][0], resubmit_cost=runs[1][1])
    name, key = spec["evidence"](opts)
    path = os.path.join(REPO, "BENCH", name)
    evidence = {}
    if key and os.path.exists(path):
        with open(path) as f:
            evidence = json.load(f)
    with open(path, "w") as f:
        json.dump({**evidence, key: result} if key else result, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("job", choices=sorted(JOBS))
    ap.add_argument("--files", type=int, default=300,
                    help="dedup: synth corpus base files (n_base)")
    ap.add_argument("--input", default=None,
                    help="quality_filter: sf dir holding documents.parquet")
    args = ap.parse_args(argv)
    print(json.dumps(witness(args.job, args.files, args.input)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
