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
sourmash_spark/sources/checkpoint.py).  The session is get_spark's, so
spark-submit's --master and --conf apply.  Prints one summary JSON line
from the stage lineage (no Spark job), with the effective master and
shuffle partitions.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def summarize(spark, base_dir: str, cfg) -> dict:
    """The run's counts from the latest ``complete`` lineage record of each
    stage under ``cfg``'s hash — no Spark job, fresh run or resumed.
    Clusters = signatures − edge-graph vertices + components; a clusters
    record from before the record carried those counts costs one count
    job."""
    from sourmash_spark.sources import checkpoint as ckpt

    ch = cfg.config_hash()
    latest = {
        r["stage"]: r for r in ckpt.lineage_records(base_dir)
        if r.get("config_hash") == ch and r.get("event") == "complete"
    }
    clusters = latest["clusters"]
    if "edge_graph" in clusters:
        graph = clusters["edge_graph"]
        n_clusters = (
            clusters["n_rows"] - graph["vertices"] + graph["components"]
        )
    else:  # a record written before it carried the graph counts
        n_clusters = (
            ckpt.read_stage(spark, base_dir, "clusters", ch)
            .select("cluster_id").distinct().count()
        )
    return {
        "config_hash": ch,
        "n_signatures": latest["signatures"]["n_rows"],
        "n_candidates": latest["candidates"]["n_rows"],
        "n_edges": latest["edges"]["n_rows"],
        "n_clusters": n_clusters,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default=None,
                    help="existing id column; default: assign via row id")
    ap.add_argument("--content-col", default="content")
    ap.add_argument("--ksize", type=int, default=21)
    ap.add_argument("--scaled", type=int, default=50)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--band-size", type=int, default=2)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--bucket-cap", type=int, default=500)
    args = ap.parse_args(argv)

    import pyspark.sql.functions as F

    from sourmash_spark.session import get_spark

    spark = get_spark("sourmash_spark_dedup")

    from sourmash_spark.params import LSHParams, SketchParams
    from sourmash_spark.pipeline import PipelineConfig, run_pipeline

    cfg = PipelineConfig(
        sketch=SketchParams(ksize=args.ksize, scaled=args.scaled),
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
    run_pipeline(spark, src, args.output, cfg)
    summary = {
        **summarize(spark, args.output, cfg),
        "wall_sec": round(time.time() - t0, 2),
        "output": args.output,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
