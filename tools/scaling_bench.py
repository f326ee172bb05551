"""Scaling-efficiency evidence for the north rule: run the identical
sketch+pipeline job at local[N] and local[4N] on the same input and report
throughput at both plus efficiency (sandbox stand-in for an N vs 4N
executor cluster).  Writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(ROOT))

N_SMALL = int(os.environ.get("SCALE_N", "8"))
N_BIG = 4 * N_SMALL
N_BASE = int(os.environ.get("SCALE_FILES", "3000"))


def build_corpus(path: str) -> int:
    """Deterministic synthetic code corpus written once as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sourmash_spark.synth import synth_code_files

    if os.path.exists(os.path.join(path, "done")):
        with open(os.path.join(path, "done")) as f:
            return int(f.read())
    corpus = synth_code_files(
        n_base=N_BASE, seed=42, min_len=1000, max_len=8000
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(corpus.code_files),
        os.path.join(path, "code_files.parquet"),
        row_group_size=512,  # many row groups -> many input splits
    )
    n = len(corpus.code_files)
    with open(os.path.join(path, "done"), "w") as f:
        f.write(str(n))
    return n


def cal_ok(res: dict, cal_max: float) -> bool:
    """A level run counts only when BOTH bracketing host probes were taken
    and read at or below `cal_max`; a missing probe leaves the window
    unchecked, so the run is rejected."""
    cal = res.get("host_calibration_sec") or {}
    vals = [cal.get("before"), cal.get("after")]
    return None not in vals and max(vals) <= cal_max


def run_once(cores: int, corpus_path: str, n_files: int) -> dict:
    from pyspark.sql import functions as F

    from sourmash_spark.session import ensure_parallelism, get_spark
    from sourmash_spark.params import LSHParams, SketchParams
    from sourmash_spark.sketch import sketch_signatures
    from sourmash_spark.operators.cluster import assign_clusters
    from sourmash_spark.operators.lsh import (
        band_signatures,
        candidate_pairs,
        verify_pairs,
    )

    P = SketchParams(ksize=21, scaled=50)
    L = LSHParams(num_bands=16, band_size=2)

    from bench import host_calibration as _hc

    cal_before = _hc()

    spark = get_spark(
        f"scaling_{cores}", master=f"local[{cores}]", shuffle_partitions=cores,
        # a single local parquet file must still read as many splits —
        # row-group-aligned byte ranges (a real corpus has many files)
        extra_conf={"spark.sql.files.maxPartitionBytes": str(1 << 20)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    files = ensure_parallelism(
        spark.read.parquet(os.path.join(corpus_path, "code_files.parquet"))
        .withColumnRenamed("file_id", "sig_id"),
        cores,
    )
    # warmup python workers on EVERY core (untimed; .limit() would coalesce
    # to one partition and warm a single worker)
    sketch_signatures(files, P, keep_cols=["sig_id"]).count()

    reps = int(os.environ.get("SCALE_REPS", "3"))
    # best-of-N: the host is shared and run-to-run noise is large; the
    # minimum approximates true capacity at each parallelism level
    sketch_wall = float("inf")
    for _ in range(reps):
        t0 = time.time()
        n = sketch_signatures(files, P, keep_cols=["sig_id"]).count()
        sketch_wall = min(sketch_wall, time.time() - t0)
        assert n == n_files

    pipeline_wall = float("inf")
    n_clusters = 0
    # sketch-only mode: the north rule's gated metric is SIGNATURE
    # throughput scaling; at very large corpora the full-pipeline loop
    # doesn't fit a sandbox window, so it can be skipped per-run
    pipeline_reps = 0 if os.environ.get("SCALE_SKIP_PIPELINE") else reps
    for _ in range(pipeline_reps):
        t0 = time.time()
        sigs = sketch_signatures(files, P, keep_cols=["sig_id"]).cache()
        sigs.count()
        bands = band_signatures(sigs, L, scaled=P.scaled)
        cands = candidate_pairs(bands, bucket_cap=500)
        edges = verify_pairs(cands, sigs, scaled=P.scaled, ksize=P.ksize,
                             threshold=0.5)
        n_clusters = (
            assign_clusters(sigs, edges)
            .select("cluster_id").distinct().count()
        )
        pipeline_wall = min(pipeline_wall, time.time() - t0)
        sigs.unpersist()
    spark.stop()
    # host-speed probes (same kernel as bench.host_calibration) BRACKET
    # the level: `cal_before` ran before the session came up (see below),
    # this one after the timed work — so acceptance can reject a level
    # whose window was steal-slowed on either side
    from bench import host_calibration

    res = {
        "cores": cores,
        "sketch_wall_sec": round(sketch_wall, 2),
        "sketch_sigs_per_sec": round(n_files / sketch_wall, 1),
        "n_clusters": n_clusters,
        "host_calibration_sec": {
            "before": cal_before,
            "after": host_calibration(),
        },
    }
    if pipeline_reps:
        res["pipeline_wall_sec"] = round(pipeline_wall, 2)
        res["pipeline_files_per_sec"] = round(n_files / pipeline_wall, 1)
    return res


def run_level(cores: int, corpus_path: str, n_files: int) -> dict:
    """Run one parallelism level in a CPU-pinned subprocess (taskset) so the
    JVM's background threads cannot spill past the nominal core count —
    the honest stand-in for an N-executor allocation."""
    import subprocess

    env = dict(os.environ)
    env["SCALE_RUN_CORES"] = str(cores)
    env["SCALE_RUN_NFILES"] = str(n_files)
    env["SCALE_RUN_CORPUS"] = corpus_path
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, __file__],
        env=env, capture_output=True, text=True,
        timeout=int(os.environ.get("SCALE_LEVEL_TIMEOUT", "1800")),
    )
    for line in reversed(out.stdout.splitlines()):
        if line.startswith('{"cores"'):
            return json.loads(line)
    raise RuntimeError(f"level {cores} failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    if os.environ.get("SCALE_RUN_CORES"):
        res = run_once(
            int(os.environ["SCALE_RUN_CORES"]),
            os.environ["SCALE_RUN_CORPUS"],
            int(os.environ["SCALE_RUN_NFILES"]),
        )
        print(json.dumps(res))
        return

    corpus_path = os.environ.get("SCALE_CORPUS", "/tmp/scaling_corpus")
    n_files = build_corpus(corpus_path)

    # the sandbox host is shared and noisy: alternate the two levels over
    # several rounds and keep each level's best observed walls, so slow host
    # windows hit both levels with equal probability
    rounds = int(os.environ.get("SCALE_ROUNDS", "3"))
    small: dict = {}
    big: dict = {}

    def merge(acc: dict, res: dict) -> dict:
        if not acc:
            res = dict(res)
            res["host_calibration_sec_runs"] = [
                res.pop("host_calibration_sec", None)
            ]
            return res
        best = dict(acc)
        best.setdefault("host_calibration_sec_runs", []).append(
            res.get("host_calibration_sec")
        )
        if res["sketch_wall_sec"] < acc["sketch_wall_sec"]:
            best["sketch_wall_sec"] = res["sketch_wall_sec"]
            best["sketch_sigs_per_sec"] = res["sketch_sigs_per_sec"]
        if res.get("pipeline_wall_sec") is not None and (
            acc.get("pipeline_wall_sec") is None
            or res["pipeline_wall_sec"] < acc["pipeline_wall_sec"]
        ):
            best["pipeline_wall_sec"] = res["pipeline_wall_sec"]
            best["pipeline_files_per_sec"] = res["pipeline_files_per_sec"]
        return best

    # calibration acceptance (VERDICT r5 #1): with SCALE_CAL_MAX set, a
    # level run only contributes to the two-level ratio when BOTH of its
    # bracketing host probes read at or below the threshold (~2x the
    # clean floor of 0.52-0.65 s -> default suggestion 1.3); steal-slowed
    # windows are retried up to SCALE_CAL_RETRIES times and recorded
    # (rejected walls never silently flatter or deflate the ratio)
    cal_max = float(os.environ.get("SCALE_CAL_MAX", "0") or 0)
    cal_retries = int(os.environ.get("SCALE_CAL_RETRIES", "3"))
    rejected: list[dict] = []

    def run_level_accepted(cores: int) -> dict | None:
        for _ in range(cal_retries if cal_max else 1):
            res = run_level(cores, corpus_path, n_files)
            if not cal_max or cal_ok(res, cal_max):
                return res
            rejected.append(
                {"cores": cores,
                 "host_calibration_sec": res.get("host_calibration_sec"),
                 "sketch_wall_sec": res.get("sketch_wall_sec"),
                 "pipeline_wall_sec": res.get("pipeline_wall_sec")}
            )
        return None

    n_acc = {N_SMALL: 0, N_BIG: 0}
    for _ in range(rounds):
        for cores in (N_SMALL, N_BIG):
            res = run_level_accepted(cores)
            if res is not None:
                n_acc[cores] += 1
                if cores == N_SMALL:
                    small = merge(small, res)
                else:
                    big = merge(big, res)
    calibration_accepted = (not cal_max) or (
        n_acc[N_SMALL] > 0 and n_acc[N_BIG] > 0
    )
    if not small or not big:
        sys.exit(
            f"no calibration-accepted runs at one level "
            f"(accepted small={n_acc[N_SMALL]} big={n_acc[N_BIG]}, "
            f"{len(rejected)} rejected; cal_max={cal_max}) — "
            "no ratio to report"
        )
    eff_sketch = round(
        big["sketch_sigs_per_sec"] / (4 * small["sketch_sigs_per_sec"]), 3
    )
    sketch_only = small.get("pipeline_files_per_sec") is None
    eff_pipeline = None if sketch_only else round(
        big["pipeline_files_per_sec"] / (4 * small["pipeline_files_per_sec"]), 3
    )
    result = {
        "n_files": n_files,
        "small": small,
        "big": big,
        "scaling_efficiency_sketch": eff_sketch,
        "scaling_efficiency_pipeline": eff_pipeline,
        "calibration": {
            "cal_max_sec": cal_max or None,
            "accepted_runs": {"small": n_acc[N_SMALL], "big": n_acc[N_BIG]},
            "rejected_runs": rejected,
            "accepted": calibration_accepted,
        },
    }
    print(json.dumps(result))

    os.makedirs(ROOT / "BENCH", exist_ok=True)
    out_path = os.environ.get("SCALE_OUT", str(ROOT / "BENCH/SCALING.json"))
    # machine-readable twin of the BASELINE.md scaling table (r4): lets the
    # driver/judge diff scaling-efficiency regressions mechanically
    with open(out_path, "w") as f:
        json.dump(
            {
                **result,
                "n_small_cores": N_SMALL,
                "n_big_cores": N_BIG,
                "rounds": rounds,
                "target_efficiency": 0.8,
            },
            f, indent=1, sort_keys=True,
        )
        f.write("\n")
    if sketch_only or os.environ.get("SCALE_NO_MD") or not calibration_accepted:
        # BASELINE.md's headline table is the full-pipeline protocol;
        # sketch-only runs are cited from their SCALE_OUT json instead,
        # SCALE_NO_MD lets exploratory runs record a json without
        # rewriting the headline (e.g. when notes narrate a specific run),
        # and a calibration-rejected run must never become the headline
        return
    section = (f"""# BENCH/BASELINE — scaling evidence (north rule)

Identical job (sketch -> LSH bands -> candidates -> exact verify ->
connected components) on the same synthetic code corpus
({n_files} files, k=21, scaled=50, 16x2 OPH bands, jaccard >= 0.5),
run at two parallelism levels on one machine — the sandbox stand-in
for an N vs 4N executor cluster.  Input read with row-group splits;
Python UDF workers warmed before timing (cold-start excluded at both
levels equally).

| metric | local[{N_SMALL}] (N) | local[{N_BIG}] (4N) | scaling efficiency |
|---|---|---|---|
| sketch throughput (sigs/sec) | {small["sketch_sigs_per_sec"]} | {big["sketch_sigs_per_sec"]} | **{eff_sketch}** |
| sketch wall (sec) | {small["sketch_wall_sec"]} | {big["sketch_wall_sec"]} | |
| full pipeline throughput (files/sec) | {small["pipeline_files_per_sec"]} | {big["pipeline_files_per_sec"]} | **{eff_pipeline}** |
| full pipeline wall (sec) | {small["pipeline_wall_sec"]} | {big["pipeline_wall_sec"]} | |

Target: efficiency >= 0.8 between N and 4N (BASELINE.json).
Clusters found (both levels identical): {big["n_clusters"]}.

Reproduce: `python tools/scaling_bench.py` (env: SCALE_N, SCALE_FILES).
""")
    # replace only the scaling section; preserve recall/notes sections
    path = str(ROOT / "BENCH/BASELINE.md")
    marker = "\n## Notes"
    rest = ""
    if os.path.exists(path):
        cur = open(path).read()
        idx = cur.find(marker)
        if idx != -1:
            rest = cur[idx:]
    with open(path, "w") as f:
        f.write(section + rest)


if __name__ == "__main__":
    main()
