"""Many-query gather bench — VERDICT r4 #7: multigather at 100+ queries on
the sf1 (10x) corpus, with the per-query greedy-decomposition wall
distribution, so the many-query capacity story is measured rather than
implied by the single-query gates.

Queries: 128 composite sketches, query j = merged hashes of db sketches
(4j, 4j+1, 4j+2) — every decomposition takes multiple greedy rounds.
Stage 1 (candidate generation for ALL queries) is one broadcast join +
one shuffle; stage 2 runs the greedy loops in parallel across queries via
applyInPandas (timing=True stamps each query's loop wall).

Writes BENCH/MULTIGATHER_sf1.json:
  {n_queries, n_db_sigs, total_wall_sec, result_rows,
   per_query_wall_ms: {p50, p90, p99, max}, rounds: {p50, max}}

Run: python tools/bench_multigather.py [sf_dir]  (default testdata_sf1)
Do not run other Spark work concurrently.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from sourmash_spark.session import get_spark  # noqa: E402

OUT = str(ROOT / "BENCH/MULTIGATHER_sf1.json")
N_QUERIES = 128


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else str(ROOT / "testdata_sf1")
    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        sys.exit(f"{sf_dir} missing — run tools/make_sf_big.py first")
    from sourmash_spark.operators.gather import multigather

    spark = get_spark(
        "bench_multigather", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    sigs = entrymod._murmur_sigs(spark, sf_dir).cache()
    n_db = sigs.count()

    queries_df = (
        sigs.filter(F.col("sig_id") < 4 * N_QUERIES)
        .select(
            F.floor(F.col("sig_id") / 4).cast("long").alias("query_id"),
            F.explode("hashes").alias("h"),
        )
        .groupBy("query_id")
        .agg(F.array_sort(F.collect_set("h")).alias("hashes"))
        .cache()
    )
    n_q = queries_df.count()

    def run():
        return multigather(
            queries_df, sigs,
            scaled=entrymod.MURMUR_PARAMS.scaled,
            ksize=entrymod.MURMUR_PARAMS.ksize,
            threshold_bp=3 * entrymod.MURMUR_PARAMS.scaled,
            timing=True,
        )

    run().count()  # untimed warmup
    t0 = time.time()
    rows = run().select(
        "query_id", "gather_result_rank", "gather_wall_ms"
    ).collect()
    total = time.time() - t0

    by_q: dict[int, dict] = {}
    for r in rows:
        d = by_q.setdefault(
            int(r["query_id"]), {"wall": r["gather_wall_ms"], "rounds": 0}
        )
        d["rounds"] = max(d["rounds"], int(r["gather_result_rank"]) + 1)
    walls = np.array([d["wall"] for d in by_q.values()])
    rounds = np.array([d["rounds"] for d in by_q.values()])
    payload = {
        "sf_dir": sf_dir,
        "n_queries": n_q,
        "n_db_sigs": n_db,
        "total_wall_sec": round(total, 3),
        "result_rows": len(rows),
        "queries_with_results": len(by_q),
        "per_query_wall_ms": {
            "p50": round(float(np.percentile(walls, 50)), 2),
            "p90": round(float(np.percentile(walls, 90)), 2),
            "p99": round(float(np.percentile(walls, 99)), 2),
            "max": round(float(walls.max()), 2),
            "sum": round(float(walls.sum()), 1),
        },
        "rounds": {
            "p50": float(np.percentile(rounds, 50)),
            "max": int(rounds.max()),
        },
        # parallel efficiency of the greedy stage: sum of per-query loop
        # walls vs the end-to-end wall (the loops overlap across cores)
        "greedy_parallelism": round(
            float(walls.sum()) / 1000.0 / max(total, 1e-9), 2
        ),
    }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
