"""Checkpointed stage tables, ingest increments and a stage lineage log —
the resumability layer required by the north rule (the reference has none;
it re-runs, see SURVEY §4).

Production shape: each stage is an Iceberg table keyed by config hash, written
with idempotent MERGE/append; partition-level lineage rows make mid-pipeline
restarts skip completed work.  In this sandbox (no Iceberg runtime jar) the
same contract is implemented over parquet directories, and this module is the
only code that reads, replaces or deletes a stage table:

* a stage's output lives at ``{base}/{stage}={config_hash}`` with Spark's
  atomic ``_SUCCESS`` marker — the commit point;
* an ingest increment of a stage lives at
  ``{base}/{stage}={config_hash}_inc/increment={name}``, written with
  overwrite (a replay of the same name replaces it) and committed by its own
  ``_SUCCESS``.  A caller that writes several stages per increment picks one
  of them as the commit (the pipeline uses its edges) and reads the others
  only under the names committed there, so a crash between the writes leaves
  nothing visible and the re-run overwrites it.  Any other visible entry in
  an increments dir is an error, not data;
* a stored table is read with the schema Spark keeps in the footer of
  each file it writes (``org.apache.spark.sql.parquet.row.metadata``; a
  0-row write leaves one such file too), so no read starts a
  schema-inference job.  A dir with no data file is an error;
* a compaction replaces stage tables in one commit (`compact`): each new
  table is written to ``{stage}={config_hash}_compacting``, then one
  marker ``{base}/_compact={config_hash}.json`` (temp name, then
  ``os.replace``) commits the lot and lists the dirs it supersedes and
  the increments it folds, then the tables are swapped in, the folded
  names added to ``{base}/_folded={config_hash}.json``, those dirs
  deleted and the marker removed.
  Every step after the marker can be repeated, and every read through
  this module first finishes a pending marker, so a crash anywhere leaves
  either the old tables or the new ones; a ``_compacting`` dir without a
  marker is discarded by the next compaction;
* every stage run appends one event to ``{base}/_lineage/``: a JSON-lines
  file the driver writes under a dot-prefixed temp name and then renames
  into place, so a reader sees a whole event or none of it.  Parquet rows
  that earlier versions appended there with a Spark job are still read.
  The log sits outside every stage dir, so a parquet read of a stage never
  sees it;
* the bookkeeping starts no Spark job: a record's row count and
  per-file counts come from the parquet footers of the files just written;
* ``run_stage`` skips recompute iff the marker exists (kill the job between
  stages and re-run: finished stages are read back, unfinished re-execute).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def stage_path(base: str, stage: str, config_hash: str) -> str:
    return os.path.join(base, f"{stage}={config_hash}")


def increments_path(base: str, stage: str, config_hash: str) -> str:
    return stage_path(base, stage, config_hash) + "_inc"


def is_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _visible(name: str) -> bool:
    """Hidden-file rule shared with Spark's file index: names starting
    with ``.`` or ``_`` (temp files, markers, checksums) are not data."""
    return not name.startswith((".", "_"))


def _put_json(path: str, records: list[dict]) -> None:
    """Write ``records`` as JSON lines to ``path``: to a dot-prefixed
    temp file, then renamed, so an interrupted write leaves only a hidden
    file behind."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in records)
    os.replace(tmp, path)


def _append_lineage(base: str, rows: list[dict]) -> None:
    """Append one lineage event (one JSON record per row) under
    ``{base}/_lineage``."""
    path = os.path.join(base, "_lineage")
    os.makedirs(path, exist_ok=True)
    ns = time.time_ns()
    _put_json(
        os.path.join(path, f"{ns:020d}-{uuid.uuid4().hex[:12]}.json"),
        [{**r, "ts": ns / 1e9} for r in rows],
    )


def lineage_records(base: str) -> list[dict]:
    """Every lineage record under ``{base}/_lineage`` in time order, read
    on the driver (no Spark job): the JSON events and any parquet rows an
    earlier version appended (payload JSON + ``ts`` column)."""
    path = os.path.join(base, "_lineage")
    names = (
        sorted(filter(_visible, os.listdir(path))) if os.path.isdir(path) else []
    )
    recs: list[dict] = []
    for n in names:
        fp = os.path.join(path, n)
        if n.endswith(".json"):
            with open(fp) as f:
                recs += [json.loads(line) for line in f if line.strip()]
        elif n.endswith(".parquet"):
            t = pq.read_table(fp, columns=["payload", "ts"])
            us = t["ts"].cast(pa.timestamp("us"), safe=False).cast(pa.int64())
            recs += [
                {**json.loads(p), "ts": u / 1e6}
                for p, u in zip(t["payload"].to_pylist(), us.to_pylist())
            ]
    return sorted(recs, key=lambda r: r["ts"])


def partition_metrics(path: str) -> list[dict]:
    """Per-file row counts of a written stage (or of one parquet file),
    read from the parquet footers (no Spark job) — the skew evidence the
    north rule asks to measure, not assume.  Spark writes one file per
    write task, so these are the sizes of the write tasks' outputs, not of
    the splits a later read would plan."""
    if os.path.isfile(path):
        return [{"file": os.path.basename(path),
                 "rows": pq.read_metadata(path).num_rows}]
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


_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType:
    """The schema Spark stored in the footer of the first data file in
    the dir ``path``; ValueError naming ``path`` if it holds none."""
    _, _, files = next(os.walk(path), (path, [], []))
    files = sorted(filter(_visible, files))
    meta = files and pq.read_metadata(os.path.join(path, files[0])).metadata
    if not meta or _SPARK_SCHEMA not in meta:
        raise ValueError(f"{path}: no data file written by Spark")
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA]))


def _read(spark: SparkSession, *paths: str) -> DataFrame:
    """The dirs ``paths`` as one frame, read with the schema in the last
    one's footer (no Spark job)."""
    return spark.read.schema(_footer_schema(paths[-1])).parquet(*paths)


def _write(path: str, df: DataFrame) -> DataFrame:
    """Overwrite ``path`` with ``df`` and read it back with ``df``'s
    schema (no inference job)."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def committed_increments(path: str) -> list[str]:
    """Names ``k`` of the committed ``increment=k`` dirs under ``path`` (a
    stage's ``_inc`` dir or another increments dir; none if it does not
    exist).  An increment without
    ``_SUCCESS`` is a crashed write and is left out.  Raises ValueError
    on any other visible entry, since a reader would otherwise skip data
    it cannot place."""
    if not os.path.isdir(path):
        return []
    names = []
    for d in sorted(filter(_visible, os.listdir(path))):
        inc = os.path.join(path, d)
        if not (d.startswith("increment=") and os.path.isdir(inc)):
            raise ValueError(f"{inc}: not an increment=<name> dir")
        if is_complete(inc):
            names.append(d[len("increment="):])
    return names


def write_increment(path: str, name: str, df: DataFrame) -> DataFrame:
    """Write ``df`` as increment ``name`` under the increments dir ``path``
    (overwrite: a replay of the same name replaces it); returns it read
    back."""
    return _write(os.path.join(path, f"increment={name}"), df)


def read_increments(
    spark: SparkSession, path: str, names: list[str]
) -> DataFrame | None:
    """The named increments under ``path`` as one frame with the last
    name's schema, or None for no names."""
    if not names:
        return None
    return _read(spark, *(os.path.join(path, f"increment={n}") for n in names))


def read_stage(
    spark: SparkSession,
    base: str,
    stage: str,
    config_hash: str,
    increments: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """A stage table plus its named ``increments`` (unioned by name,
    missing columns null).  Finishes a committed compaction of
    ``config_hash`` first."""
    _finish_compaction(base, config_hash)
    df = _read(spark, stage_path(base, stage, config_hash))
    inc = read_increments(
        spark, increments_path(base, stage, config_hash), list(increments)
    )
    return df if inc is None else df.unionByName(inc, allowMissingColumns=True)


def _compact_marker(base: str, config_hash: str) -> str:
    return os.path.join(base, f"_compact={config_hash}.json")


def _rmtree(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)


def _folded_path(base: str, config_hash: str) -> str:
    return os.path.join(base, f"_folded={config_hash}.json")


def folded_increments(base: str, config_hash: str) -> list[str]:
    """Names of the increments that compactions of ``config_hash`` folded
    into its stage tables — gone from every ``_inc`` dir, so a replayed
    writer can still tell its increment is stored.  Kept apart from
    `committed_increments`, which lists only the live increments."""
    path = _folded_path(base, config_hash)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["names"]


def _finish_compaction(base: str, config_hash: str) -> None:
    """Carry out a committed compaction: swap each new table in, record
    the folded increment names, delete the superseded dirs, remove the
    marker.  Each step is safe to repeat."""
    marker = _compact_marker(base, config_hash)
    if not os.path.exists(marker):
        return
    with open(marker) as f:
        plan = json.load(f)
    for stage in plan["swap"]:
        path = stage_path(base, stage, config_hash)
        if os.path.isdir(path + "_compacting"):
            _rmtree(path)
            os.rename(path + "_compacting", path)
    folded = folded_increments(base, config_hash)
    new = [n for n in plan.get("folded", ()) if n not in folded]
    if new:  # before the deletes that drop the names from the _inc dirs
        _put_json(_folded_path(base, config_hash), [{"names": folded + new}])
    for name in plan["delete"]:
        _rmtree(os.path.join(base, name))
    os.remove(marker)


def compact(
    base: str,
    config_hash: str,
    build: Callable[[Callable[[str, DataFrame], DataFrame]], list[str]],
    drop: tuple[str, ...] = (),
) -> dict[str, int]:
    """Replace stage tables of ``config_hash`` in one commit.

    ``build(write)`` computes the new tables and returns the names of the
    increments it folds in; ``write(stage, df)`` stores one beside the
    live table and returns it read back, for tables derived from it.
    Then one marker commits them: the written stages are swapped in, the
    folded names kept (`folded_increments`), and the written stages'
    increments and the ``drop`` stages deleted.  Returns {stage: n_rows}
    of the written tables.
    """
    _finish_compaction(base, config_hash)
    for name in os.listdir(base):  # a compaction that crashed uncommitted
        if name.endswith(f"={config_hash}_compacting"):
            _rmtree(os.path.join(base, name))
    t0 = time.time()
    counts: dict[str, int] = {}

    def write(stage: str, df: DataFrame) -> DataFrame:
        path = stage_path(base, stage, config_hash) + "_compacting"
        out = _write(path, df)
        counts[stage] = sum(p["rows"] for p in partition_metrics(path))
        return out

    folded = build(write)
    superseded = [increments_path(base, s, config_hash) for s in counts]
    superseded += [stage_path(base, s, config_hash) for s in drop]
    _put_json(_compact_marker(base, config_hash), [{  # the commit
        "swap": list(counts),
        "delete": [os.path.basename(p) for p in superseded],
        "folded": list(folded),
    }])
    _append_lineage(base, [{
        "stage": "compact", "config_hash": config_hash, "event": "complete",
        "wall_sec": round(time.time() - t0, 3), "compacted": counts,
    }])
    _finish_compaction(base, config_hash)
    return counts


def run_stage(
    spark: SparkSession,
    base: str,
    stage: str,
    config_hash: str,
    build: Callable[[], DataFrame],
    lineage: dict | None = None,
) -> tuple[DataFrame, bool]:
    """Materialize `build()` at the stage path unless already complete.

    Returns (DataFrame read back from the checkpoint, skipped_recompute).
    Reading back (rather than reusing the in-memory plan) makes every stage
    restartable and cuts lineage for downstream stages.

    `lineage`: extra fields for this run's lineage record; `build()` may
    fill it, since it is read only after the write.
    """
    path = stage_path(base, stage, config_hash)
    _finish_compaction(base, config_hash)
    if is_complete(path):
        return _read(spark, path), True
    t0 = time.time()
    out = _write(path, build())
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
