"""Streaming sketch maintenance — the reference's `watch` command
(/root/reference/src/sourmash/commands.py:1389-1483): build a sketch
incrementally from a record stream and report the running best match.

Spark shape: ``readStream -> applyInPandasWithState`` keeping the growing
hash set per stream key as state; each trigger emits the updated sketch
summary.  The reference's periodic best-only search maps to a foreachBatch
join against a broadcast signatures table (see `attach_best_match`).

State is bounded: scaled-mode state is the kept-hash set (∝ content/scaled);
num-mode keeps only the bottom-k.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..params import SketchParams
from ..sketch import batch_sketch, sketch_md5
from ..hashing import i64_to_u64, u64_to_i64

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("n_hashes", T.IntegerType()),
        T.StructField("md5", T.StringType()),
        T.StructField("hashes", T.ArrayType(T.LongType())),
    ]
)

STATE_SCHEMA = "hashes array<long>, n_records long"


def watch(
    stream: DataFrame,
    params: SketchParams | None = None,
    key_col: str = "key",
    content_col: str = "content",
) -> DataFrame:
    """Streaming DataFrame (key, content) -> per-trigger updated sketches."""
    params = params or SketchParams()

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (prev_hashes, n_records) = state.get
            acc = i64_to_u64(np.array(prev_hashes, dtype=np.int64))
        else:
            acc = np.empty(0, dtype=np.uint64)
            n_records = 0
        for pdf in pdfs:
            sketches = batch_sketch(pdf[content_col], params)
            n_records += len(pdf)
            for h, _ in sketches:
                acc = np.union1d(acc, h)
        if params.num and acc.size > params.num:
            acc = acc[: params.num]
        signed = u64_to_i64(acc).tolist()
        state.update((signed, n_records))
        yield pd.DataFrame(
            [
                {
                    "key": key[0],
                    "n_records": n_records,
                    "n_hashes": int(acc.size),
                    "md5": sketch_md5(acc, params.md5_ksize),
                    "hashes": signed,
                }
            ]
        )

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def attach_best_match(
    sketches: DataFrame, db: DataFrame, mode: str = "jaccard",
    scaled: int | None = None,
) -> DataFrame:
    """Per-batch best-only search of running sketches against a signatures
    table (the reference's periodic SBT search, best-only) — intended for
    use inside foreachBatch."""
    from ..operators.search import search_many
    from pyspark.sql import Window

    hits = search_many(
        db,
        sketches.select(
            F.col("key").alias("query_id"),
            "hashes",
            F.col("n_hashes"),
        ),
        threshold=0.0,
        mode=mode,
        scaled=scaled,
        query_id="query_id",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"))
    return (
        hits.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def stream_ingest(
    stream_docs: DataFrame,
    base_dir: str,
    config,
    checkpoint_dir: str,
):
    """Streaming corpus ingest: every micro-batch of new documents flows
    through `pipeline.incremental_update` (sketch only the increment, band
    it, join new x (old ∪ new) candidates, verify, re-converge clusters) —
    the Structured-Streaming face of the daily-ingest path.

    `foreachBatch` is the right tool here (not a stateful operator): each
    batch is a bounded increment against persistent stage TABLES, and the
    batch work is itself a multi-stage batch plan.  foreachBatch is
    AT-LEAST-ONCE — a batch whose writes finished but whose streaming
    commit did not replays — so the increment is named
    `b{query_id}-{batch_id:09d}`, with the query id Spark keeps in the
    streaming checkpoint (`_stream_id`): a replay of a stored batch is
    skipped (committed, or folded in by a compaction:
    `checkpoint.folded_increments`), and a replay after a crash before
    the increment's commit overwrites it (sources/checkpoint.py), so a
    batch's signatures are stored once either way.  Batch ids restart at
    0 under a new ``checkpoint_dir``, but the query id is new there too,
    so a new stream's batches never match an earlier stream's names.

    Returns the StreamingQuery (caller awaits/stops)."""
    from ..pipeline import incremental_update
    from ..sources import checkpoint as ckpt

    ch = config.config_hash()
    edges_inc = ckpt.increments_path(base_dir, "edges", ch)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        name = f"b{_stream_id(checkpoint_dir)}-{batch_id:09d}"
        stored = ckpt.committed_increments(edges_inc)
        stored += ckpt.folded_increments(base_dir, ch)
        if name in stored or batch_df.isEmpty():
            return  # a replay of a stored batch, or nothing to add
        incremental_update(
            batch_df.sparkSession, batch_df, base_dir, config,
            increment_name=name,
        )

    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _stream_id(checkpoint_dir: str) -> str:
    """The query id in ``{checkpoint_dir}/metadata``: Spark writes it when
    the query is created and keeps it for every restart from that
    checkpoint."""
    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        return json.loads(f.readline())["id"]


def stream_substring_ingest(
    stream_docs: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming exact-substring dedup: every micro-batch of new documents
    flows through `dedup.exact_substring_update` (keep-first marking
    against the gram-key store of everything already ingested, plus the
    batch's intra-batch duplicates), the deduped batch appends to
    `out_dir`, and the batch's novel gram keys append to the store.

    Keep-first is what makes a STREAMING exact-substring dedup coherent
    at all: an arriving duplicate is trimmed against the past and the
    already-emitted past never needs revision (keep-all would).

    IDEMPOTENCY (ADVICE r5): foreachBatch is AT-LEAST-ONCE — on
    failure/restart a batch replays — so every batch effect is addressed
    by batch_id and ordered so replays converge:

    * output goes to `{out_dir}/ingest_batch={batch_id}` with
      mode("overwrite") (a plain `spark.read.parquet(out_dir)` sees the
      union, with ingest_batch as a partition column);
    * the store increment is named `b{batch_id}` and written
      ONLY AFTER the output commit succeeds
      (`exact_substring_update(out_writer=..., increment_name=...)`);
    * a replay of a fully-committed batch (its increment is committed)
      is skipped outright; a replay after a crash BEFORE the store
      append recomputes against the unchanged store — identical rows —
      and overwrites both paths.

    Returns the StreamingQuery (caller awaits/stops)."""
    handle = _substring_batch_handler(
        store_dir, out_dir, min_len, id_col, text_col
    )
    return (
        stream_docs.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _substring_batch_handler(
    store_dir: str,
    out_dir: str,
    min_len: int,
    id_col: str,
    text_col: str,
):
    """The foreachBatch handler of `stream_substring_ingest`, exposed so
    the at-least-once REPLAY path is directly testable.  NOTE the skip
    guard keys on batch_id: it protects genuine replays (same checkpoint,
    same batch content); deleting the checkpoint and reprocessing under
    reused batch ids is outside the contract, as with any foreachBatch
    sink."""
    import os

    from ..operators.dedup import exact_substring_update
    from ..sources import checkpoint as ckpt

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        inc_name = f"b{batch_id:09d}"
        if inc_name in ckpt.committed_increments(store_dir):
            return  # replay of a fully-committed batch
        if batch_df.isEmpty():
            return
        batch_out = os.path.join(out_dir, f"ingest_batch={batch_id}")
        exact_substring_update(
            batch_df, store_dir, min_len=min_len,
            id_col=id_col, text_col=text_col,
            increment_name=inc_name,
            out_writer=lambda df: df.write.mode("overwrite").parquet(
                batch_out
            ),
        )

    return handle
