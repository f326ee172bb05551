"""Checkpointed stage tables + a stage lineage log — the resumability layer
required by the north rule (the reference has none; it re-runs, see SURVEY §4).

Production shape: each stage is an Iceberg table keyed by config hash, written
with idempotent MERGE; partition-level lineage rows make mid-pipeline restarts
skip completed work.  In this sandbox (no Iceberg runtime jar) the same
contract is implemented over parquet directories:

* a stage's output lives at ``{base}/{stage}={config_hash}`` with Spark's
  atomic ``_SUCCESS`` marker — the commit point;
* every stage run appends one event to ``{base}/_lineage/``: a JSON-lines
  file the driver writes under a dot-prefixed temp name and then renames
  into place, so a reader sees a whole event or none of it.  Parquet rows
  that earlier versions appended there with a Spark job are still read.
  The log sits outside every stage dir, so a parquet read of a stage never
  sees it;
* the bookkeeping starts no Spark job: a record's row count and
  per-file counts come from the parquet footers of the files just written,
  and a fresh stage is read back with the schema of the frame it wrote
  (no schema-inference job);
* ``run_stage`` skips recompute iff the marker exists (kill the job between
  stages and re-run: finished stages are read back, unfinished re-execute).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F


def stage_path(base: str, stage: str, config_hash: str) -> str:
    return os.path.join(base, f"{stage}={config_hash}")


def is_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _visible(name: str) -> bool:
    """Hidden-file rule shared with Spark's file index: names starting
    with ``.`` or ``_`` (temp files, markers, checksums) are not data."""
    return not name.startswith((".", "_"))


def _append_lineage(base: str, rows: list[dict]) -> None:
    """Append one lineage event (one JSON record per row) under
    ``{base}/_lineage``.  Written to a dot-prefixed temp file, then
    renamed: an interrupted append leaves only a hidden file behind."""
    path = os.path.join(base, "_lineage")
    os.makedirs(path, exist_ok=True)
    ns = time.time_ns()
    ts = ns / 1e9
    name = f"{ns:020d}-{uuid.uuid4().hex[:12]}.json"
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps({**r, "ts": ts}) + "\n")
    os.replace(tmp, os.path.join(path, name))


def read_lineage(spark: SparkSession, base: str) -> DataFrame:
    """Every lineage record under ``{base}/_lineage``: the JSON events
    and any parquet rows an earlier version appended.
    ``bucket_cap_dropped_keys`` / ``bucket_cap_dropped_postings`` (band
    buckets over the cap and the band memberships they held) are set on
    ``candidates`` records and null elsewhere."""
    path = os.path.join(base, "_lineage")
    names = (
        sorted(filter(_visible, os.listdir(path))) if os.path.isdir(path) else []
    )
    payloads = []
    for n in names:
        if n.endswith(".json"):
            with open(os.path.join(path, n)) as f:
                payloads += [(line.rstrip("\n"),) for line in f if line.strip()]
    df = spark.createDataFrame(payloads, "payload string").select(
        "payload",
        F.timestamp_seconds(
            F.get_json_object("payload", "$.ts").cast("double")
        ).alias("ts"),
    )
    old = [os.path.join(path, n) for n in names if n.endswith(".parquet")]
    if old:
        df = spark.read.parquet(*old).select("payload", "ts").unionByName(df)
    return df.select(
        F.get_json_object("payload", "$.stage").alias("stage"),
        F.get_json_object("payload", "$.config_hash").alias("config_hash"),
        F.get_json_object("payload", "$.event").alias("event"),
        F.get_json_object("payload", "$.n_rows").cast("long").alias("n_rows"),
        F.get_json_object("payload", "$.wall_sec").cast("double").alias("wall_sec"),
        F.get_json_object("payload", "$.partitions").alias("partitions"),
        "ts",
        F.get_json_object("payload", "$.bucket_cap.dropped_keys")
        .cast("long").alias("bucket_cap_dropped_keys"),
        F.get_json_object("payload", "$.bucket_cap.dropped_postings")
        .cast("long").alias("bucket_cap_dropped_postings"),
    )


def partition_metrics(path: str) -> list[dict]:
    """Per-file row counts of a written stage, read from the parquet
    footers (no Spark job) — the skew evidence the north rule asks to
    measure, not assume.  Spark writes one file per write task (per task
    and partition value under ``partitionBy``, per task and bucket under
    ``bucketBy``), so these are the sizes of the write tasks' outputs,
    not of the splits a later read would plan."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(filter(_visible, dirs))
        for f in sorted(filter(_visible, files)):
            if f.endswith(".parquet"):
                fp = os.path.join(root, f)
                out.append(
                    {
                        "file": os.path.relpath(fp, path),
                        "rows": pq.read_metadata(fp).num_rows,
                    }
                )
    return out


def run_stage(
    spark: SparkSession,
    base: str,
    stage: str,
    config_hash: str,
    build: Callable[[], DataFrame],
    partition_by: list[str] | None = None,
    bucket_by: tuple[list[str], int] | None = None,
    force: bool = False,
    lineage: dict | None = None,
) -> tuple[DataFrame, bool]:
    """Materialize `build()` at the stage path unless already complete.

    Returns (DataFrame read back from the checkpoint, skipped_recompute).
    Reading back (rather than reusing the in-memory plan) makes every stage
    restartable and cuts lineage for downstream stages.

    `bucket_by=(cols, n)` writes a bucketed table (parquet at the stage
    path, metadata in the session catalog): downstream equi-joins on the
    bucket columns skip the shuffle on this side — the Spark-native
    replacement for the reference's on-disk inverted indexes (SURVEY §4).
    On a real cluster the catalog (Hive/Iceberg) persists the bucketing
    across jobs; the local session catalog loses it on restart, in which
    case resume falls back to a plain parquet read (still correct).

    `lineage`: extra fields for this run's lineage record; `build()` may
    fill it, since it is read only after the write.
    """
    path = stage_path(base, stage, config_hash)
    table = f"ckpt_{stage}_{config_hash}"
    if is_complete(path) and not force:
        if bucket_by and spark.catalog.tableExists(table):
            return spark.read.table(table), True
        return spark.read.parquet(path), True
    t0 = time.time()
    df = build()
    if bucket_by:
        cols, n = bucket_by
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", path)
            .bucketBy(n, *cols)
            .sortBy(*cols)
            .saveAsTable(table)
        )
        out = spark.read.table(table)
    else:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = spark.read.schema(df.schema).parquet(path)
    parts = partition_metrics(path)
    _append_lineage(
        base,
        [
            {
                "stage": stage,
                "config_hash": config_hash,
                "event": "complete",
                "n_rows": sum(p["rows"] for p in parts),
                "wall_sec": round(time.time() - t0, 3),
                "partitions": parts,
                **(lineage or {}),
            }
        ],
    )
    return out, False
