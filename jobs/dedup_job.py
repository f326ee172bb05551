"""Cluster entry point: near-duplicate detection + clustering pipeline.

Deploy (rebuild the artifact whenever the package changes —
`python -c "import shutil; shutil.make_archive('sourmash_spark','zip','.','sourmash_spark')"`):
    spark-submit --py-files sourmash_spark.zip jobs/dedup_job.py \
        --input  <parquet path or table of (repo,path,commit,lang,content)> \
        --output <checkpoint base dir> \
        [--id-col file_id] [--ksize 21] [--scaled 50] \
        [--bands 16] [--band-size 2] [--threshold 0.5] [--bucket-cap 500]

The job is resumable: re-submitting with the same config skips completed
stages (config-hash-keyed checkpoint tables + lineage, see
sourmash_spark/sources/checkpoint.py).  Prints one summary JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default=None,
                    help="existing id column; default: assign via row id")
    ap.add_argument("--content-col", default="content")
    ap.add_argument("--ksize", type=int, default=21)
    ap.add_argument("--scaled", type=int, default=50)
    ap.add_argument("--num", type=int, default=0)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--band-size", type=int, default=2)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--bucket-cap", type=int, default=500)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    import pyspark.sql.functions as F

    spark = (
        SparkSession.builder.appName("sourmash_spark_dedup")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from sourmash_spark.params import LSHParams, SketchParams
    from sourmash_spark.pipeline import PipelineConfig, run_pipeline

    cfg = PipelineConfig(
        sketch=SketchParams(
            ksize=args.ksize, scaled=args.scaled, num=args.num
        ),
        lsh=LSHParams(num_bands=args.bands, band_size=args.band_size),
        jaccard_threshold=args.threshold,
        bucket_cap=args.bucket_cap,
    )

    src = (
        spark.read.parquet(args.input)
        if "/" in args.input or args.input.endswith(".parquet")
        else spark.read.table(args.input)
    )
    if args.id_col:
        src = src.withColumnRenamed(args.id_col, "sig_id")
    else:
        src = src.withColumn(
            "sig_id", F.monotonically_increasing_id()
        )
    if args.content_col != "content":
        src = src.withColumnRenamed(args.content_col, "content")

    t0 = time.time()
    out = run_pipeline(spark, src, args.output, cfg)
    summary = {
        "config_hash": cfg.config_hash(),
        "n_signatures": out["signatures"].count(),
        "n_candidates": out["candidates"].count(),
        "n_edges": out["edges"].count(),
        "n_clusters": out["clusters"].select("cluster_id").distinct().count(),
        "wall_sec": round(time.time() - t0, 2),
        "output": args.output,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
