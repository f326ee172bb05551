"""Three-point scale study for the designated ANN scale paths — VERDICT
r4 #2: `emb_neardup_lsh` and `semantic_dedup` were flagged superlinear at
sf0.1 -> sf1 under FIXED parameters; this tool measures both at sf0.1 /
sf1 (10x) / sf3 (30x) with the N-SCALED parameters the operators document
(neardup_lsh_params: q ~ log2 N, T holds recall; semantic_dedup:
n_cells ~ N/128 keeps cell population constant), recording wall AND
candidate-pair counts so the claimed ~linear growth is visible in both.

Prereqs:  python tools/make_sf_big.py 10  (-> testdata_sf1)
          python tools/make_sf_big.py 30 testdata_sf3

Writes BENCH/ANN_SCALE.json:
  {"points": [{"sf_dir", "n_embs", "lsh": {t, q, candidates, pairs, wall},
               "semdedup": {n_cells, candidates, dups, wall}}, ...]}

Run each point in its own subprocess-free session sequentially; interleaved
best-of-REPS per point (SPARK_GRAFT_BENCH_REPS, default 2).  Do not run
other Spark work concurrently.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(ROOT))

import pyspark.sql.functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from sourmash_spark.session import get_spark  # noqa: E402

POINTS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", str(ROOT / "testdata_sf1")),
    ("sf3", str(ROOT / "testdata_sf3")),
]
OUT = str(ROOT / "BENCH/ANN_SCALE.json")


def _candidate_count_lsh(aug, t, q, dim):
    """Distinct bucket-sharing candidate pairs BEFORE exact verification —
    the quantity whose growth must stay ~linear in N."""
    from sourmash_spark.operators.ann import hyperplane_lsh_tables

    tb = hyperplane_lsh_tables(aug, t, q, dim)
    a = tb.select(F.col("vec_id").alias("id_a"), "table_idx", "bucket")
    b = tb.select(F.col("vec_id").alias("id_b"), "table_idx", "bucket")
    return (
        a.join(b, ["table_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )


def _candidate_count_cells(aug, centroids):
    """Within-cell pair volume for semantic_dedup (sum cell_size^2 / 2)."""
    from sourmash_spark.operators.ann import ivf_assign

    cells = ivf_assign(aug, centroids, "vec_id", "embedding", 1)
    return int(
        cells.groupBy("cell")
        .agg(F.count("*").alias("n"))
        .agg(F.coalesce(F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0)))
        .first()[0]
    )


def main() -> None:
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    from sourmash_spark.operators.ann import (
        embedding_neardup_lsh,
        neardup_lsh_params,
        perturb_copies,
        semantic_dedup,
    )

    spark = get_spark(
        "bench_ann_scale", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for label, sf_dir in POINTS:
        if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
            print(f"skip {label}: {sf_dir} not generated", file=sys.stderr)
            continue
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        aug = perturb_copies(embs, n_copies=50, dim=entrymod.EMB_DIM).cache()
        n = aug.count()

        t, q = neardup_lsh_params(
            n, threshold=0.9,
            base_tables=entrymod.EMB_TABLES,
            base_planes=entrymod.EMB_PLANES,
        )
        lsh_cands = _candidate_count_lsh(aug, t, q, entrymod.EMB_DIM)

        def run_lsh():
            return embedding_neardup_lsh(
                aug, threshold=0.9, n_tables=t, n_planes=q,
                dim=entrymod.EMB_DIM,
            ).count()

        sd_cells = max(16, n // 128)
        centroids = aug.filter(F.col("vec_id") < sd_cells).select(
            F.col("vec_id").alias("cell"), "embedding"
        )
        cell_cands = _candidate_count_cells(aug, centroids)

        def run_sd():
            return semantic_dedup(aug, n_cells=sd_cells, eps=0.9).count()

        # one untimed warmup, then best-of-reps (interleaved)
        pairs = run_lsh()
        dups = run_sd()
        lsh_wall = sd_wall = float("inf")
        for _ in range(reps):
            s = time.time()
            run_lsh()
            lsh_wall = min(lsh_wall, time.time() - s)
            s = time.time()
            run_sd()
            sd_wall = min(sd_wall, time.time() - s)
        point = {
            "label": label,
            "sf_dir": sf_dir,
            "n_embs": n,
            "lsh": {
                "n_tables": t, "n_planes": q,
                "candidates": lsh_cands, "pairs": pairs,
                "wall_sec": round(lsh_wall, 3),
            },
            "semdedup": {
                "n_cells": sd_cells,
                "within_cell_pairs": cell_cands, "dups": dups,
                "wall_sec": round(sd_wall, 3),
            },
        }
        results.append(point)
        print(json.dumps(point))
        aug.unpersist()

    payload = {"reps": reps, "points": results}
    if len(results) >= 2:
        base = results[0]
        for p in results[1:]:
            r = p["n_embs"] / base["n_embs"]
            p["vs_base"] = {
                "n_ratio": round(r, 2),
                "lsh_cand_ratio": round(
                    p["lsh"]["candidates"] / max(1, base["lsh"]["candidates"]), 2
                ),
                "lsh_wall_ratio": round(
                    p["lsh"]["wall_sec"] / base["lsh"]["wall_sec"], 2
                ),
                "sd_cand_ratio": round(
                    p["semdedup"]["within_cell_pairs"]
                    / max(1, base["semdedup"]["within_cell_pairs"]), 2
                ),
                "sd_wall_ratio": round(
                    p["semdedup"]["wall_sec"] / base["semdedup"]["wall_sec"], 2
                ),
            }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
