"""End-to-end near-duplicate pipeline: the north rule's deliverable.

code_files --sketch--> signatures --LSH bands--> candidate_pairs
          --exact verify--> edges --connected components--> clusters

Every stage checkpoints to a config-hash-keyed table and appends a
lineage record with its row count and per-file counts, taken from the
written parquet footers (sources/checkpoint.py); a killed run resumes by
skipping completed stages.  Stage plans:

* sketch: narrow Arrow-vectorized map, zero shuffle; scales with splits.
* bands: narrow projection + posexplode, zero shuffle.
* candidates: ONE shuffle on (band_idx, band_key) under AQE skew-join;
  `bucket_cap` bounds the worst (boilerplate) buckets; the candidates
  lineage record carries the dropped volume (`bucket_cap`: buckets over
  the cap and their band memberships), taken from the over-cap set the
  cap's probe already materializes.
* edges: candidates join signatures twice on sig_id (sort-merge/AQE;
  candidate side is orders of magnitude smaller than all-pairs).
* clusters: iterative min-label joins; rounds ~ clone-family diameter.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from .params import LSHParams, SketchParams
from .sketch import sketch_signatures, with_sha256
from .sources import checkpoint as ckpt
from .operators import cluster as cluster_ops
from .operators import lsh as lsh_ops


@dataclass(frozen=True)
class PipelineConfig:
    sketch: SketchParams
    lsh: LSHParams
    jaccard_threshold: float = 0.5
    bucket_cap: int = 200
    sig_id: str = "sig_id"
    # >0: write the signatures checkpoint as a table bucketed by sig_id
    # into this many buckets — verify-stage joins then skip the shuffle on
    # the (big) signatures side
    bucket_signatures: int = 0

    def config_hash(self) -> str:
        blob = (
            f"{self.sketch.config_hash()}|{self.lsh.num_bands}x"
            f"{self.lsh.band_size}|{self.jaccard_threshold}|{self.bucket_cap}"
            f"|b{self.bucket_signatures}"
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    code_files: DataFrame,
    base_dir: str,
    config: PipelineConfig | None = None,
    keep_cols: list[str] | None = None,
    stop_after: str | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns the stage DataFrames.

    `stop_after` ('signatures' | 'bands' | 'candidates' | 'edges')
    simulates a mid-pipeline kill for resumability testing.
    """
    cfg = config or PipelineConfig(SketchParams(), LSHParams())
    ch = cfg.config_hash()
    sid = cfg.sig_id
    keep = keep_cols if keep_cols is not None else [
        c for c in code_files.columns if c != "content"
    ]
    out: dict[str, DataFrame] = {}

    sigs, _ = ckpt.run_stage(
        spark, base_dir, "signatures", ch,
        lambda: sketch_signatures(
            with_sha256(code_files), cfg.sketch,
            keep_cols=keep + ["sha256"],
        ),
        bucket_by=(
            ([cfg.sig_id], cfg.bucket_signatures)
            if cfg.bucket_signatures
            else None
        ),
    )
    out["signatures"] = sigs
    if stop_after == "signatures":
        return out

    # bands persist as their own stage table — the postings/RevIndex
    # analog (SURVEY §2.1): incremental_update reads them back instead of
    # re-banding the whole corpus per increment, and a resumed run picks
    # up after banding.  Narrow table: (sig_id, band_idx, band_key).
    bands, _ = ckpt.run_stage(
        spark, base_dir, "bands", ch,
        lambda: lsh_ops.band_signatures(
            sigs, cfg.lsh, cfg.sketch.scaled, sig_id=sid
        ),
    )
    out["bands"] = bands
    if stop_after == "bands":
        return out

    cap: dict = {}
    cands, _ = ckpt.run_stage(
        spark, base_dir, "candidates", ch,
        lambda: lsh_ops.candidate_pairs(
            bands,
            bucket_cap=cfg.bucket_cap,
            sig_id=sid,
            cap_stats=cap,
        ),
        lineage={"bucket_cap": cap},
    )
    out["candidates"] = cands
    if stop_after == "candidates":
        return out

    edges, _ = ckpt.run_stage(
        spark, base_dir, "edges", ch,
        lambda: lsh_ops.verify_pairs(
            cands, sigs, scaled=cfg.sketch.scaled, ksize=cfg.sketch.ksize,
            threshold=cfg.jaccard_threshold, sig_id=sid,
        ),
    )
    out["edges"] = edges
    if stop_after == "edges":
        return out

    clusters, _ = ckpt.run_stage(
        spark, base_dir, "clusters", ch,
        lambda: cluster_ops.assign_clusters(sigs, edges, sig_id=sid),
    )
    out["clusters"] = clusters
    return out


def incremental_update(
    spark: SparkSession,
    new_files: DataFrame,
    base_dir: str,
    config: PipelineConfig | None = None,
    keep_cols: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Add NEW files to an existing pipeline state without recomputing the
    corpus — the daily-ingest path at 100 TB.

    Work done is proportional to the new data:
    * sketch only the new files (narrow map over the increment);
    * band only the new signatures — the corpus bands are READ BACK from
      the `bands` stage table (recomputed once as a fallback for
      checkpoints written before the bands stage existed);
    * candidate pairs = batch x (old ∪ all increments) band join — the
      old x old pair space is never re-enumerated, and earlier increments
      are not re-joined either (their pairs were emitted by their own
      calls — per-call work stays proportional to the batch even after
      months of daily ingests);
    * verify only the new candidate pairs;
    * clusters re-converge over (old edges ∪ new edges) — edge tables are
      O(duplicates), tiny next to the corpus.

    Stage tables are versioned under ``{stage}={hash}/increment=k`` with
    the union view read back; equivalent to Iceberg MERGE/append.
    """
    from .operators.compare import shared_key_pairs
    from .operators.lsh import band_signatures, verify_pairs

    cfg = config or PipelineConfig(SketchParams(), LSHParams())
    ch = cfg.config_hash()
    sid = cfg.sig_id
    keep = keep_cols if keep_cols is not None else [
        c for c in new_files.columns if c != "content"
    ]

    old_sigs = spark.read.parquet(ckpt.stage_path(base_dir, "signatures", ch))
    old_edges = spark.read.parquet(ckpt.stage_path(base_dir, "edges", ch))

    batch_sigs = sketch_signatures(
        with_sha256(new_files), cfg.sketch, keep_cols=keep + ["sha256"]
    )
    # versioned increments (increment=k subdir per call, partition-style
    # naming): THIS batch is the only "new" side of the candidate join, so
    # per-call work is proportional to the batch — earlier increments are
    # never re-joined (their pairs were emitted by their own calls) and
    # only ride along as stored rows on the old side.
    inc_path = ckpt.stage_path(base_dir, "signatures", ch) + "_inc"
    k = 0
    if os.path.isdir(inc_path):
        k = len(
            [d for d in os.listdir(inc_path) if d.startswith("increment=")]
        )
    batch_sigs.write.parquet(f"{inc_path}/increment={k}")
    batch_sigs = spark.read.parquet(f"{inc_path}/increment={k}")
    inc_sigs = spark.read.parquet(inc_path)

    all_sigs = old_sigs.unionByName(
        inc_sigs.drop("increment"), allowMissingColumns=True
    )
    # corpus bands: base stage table + per-increment band tables, all read
    # back — increment-proportional work.  Banding is row-wise
    # deterministic, so stored ∪ banded-batch is bit-identical to
    # re-banding all_sigs (which the fallback does for checkpoints that
    # predate the bands stage, except for the batch written here).
    bands_inc = ckpt.stage_path(base_dir, "bands", ch) + "_inc"
    band_signatures(
        batch_sigs, cfg.lsh, cfg.sketch.scaled, sig_id=sid
    ).select(sid, "band_idx", "band_key").write.parquet(
        f"{bands_inc}/increment={k}"
    )
    inc_bands = spark.read.parquet(bands_inc)
    bands_path = ckpt.stage_path(base_dir, "bands", ch)
    if ckpt.is_complete(bands_path):
        stored_bands = spark.read.parquet(bands_path)
    else:
        stored_bands = band_signatures(
            old_sigs.unionByName(
                inc_sigs.filter(F.col("increment") != k).drop("increment"),
                allowMissingColumns=True,
            ),
            cfg.lsh, cfg.sketch.scaled, sig_id=sid,
        )
        inc_bands = inc_bands.filter(F.col("increment") == k)
    all_bands = stored_bands.select(sid, "band_idx", "band_key").unionByName(
        inc_bands, allowMissingColumns=True
    )

    # pairs touching at least one new signature, under the same boilerplate
    # guard as the full pipeline: the batch's band rows are flagged, so the
    # one cap probe sizes buckets over the COMBINED bands (else capped
    # buckets would diverge from a full recompute) and its hot set leaves
    # both sides of the batch x corpus join
    cands = shared_key_pairs(
        all_bands.withColumn("_new", F.col("increment").eqNullSafe(k)),
        ["band_idx", "band_key"], sid, cfg.bucket_cap, new_col="_new",
    ).withColumnsRenamed({"id_a": "sig_id_a", "id_b": "sig_id_b"})
    new_edges = verify_pairs(
        cands, all_sigs, scaled=cfg.sketch.scaled, ksize=cfg.sketch.ksize,
        threshold=cfg.jaccard_threshold, sig_id=sid,
    )
    edges_inc = ckpt.stage_path(base_dir, "edges", ch) + "_inc"
    new_edges.write.mode("append").parquet(edges_inc)
    all_edges = old_edges.unionByName(
        spark.read.parquet(edges_inc)
    ).dropDuplicates(["sig_id_a", "sig_id_b"])

    from .operators import cluster as cluster_ops

    clusters = cluster_ops.assign_clusters(all_sigs, all_edges, sig_id=sid)
    return {
        "signatures": all_sigs,
        "edges": all_edges,
        "clusters": clusters,
    }


def compact_increments(
    spark: SparkSession,
    base_dir: str,
    config: PipelineConfig | None = None,
) -> dict[str, int]:
    """Fold accumulated ingest increments back into the base stage tables
    — the Iceberg-compaction analog.  Months of daily `incremental_update`
    calls leave one increment=k subdir per call; at cluster scale that is
    a many-small-files problem for every subsequent scan.  Compaction
    rewrites signatures/bands/edges as single stage tables (increments
    folded in), refreshes the clusters stage from the compacted state,
    removes the _inc dirs, and drops the stale candidates stage (its
    pair enumeration is superseded by the folded edges).  Subsequent
    incremental_update calls start from a clean base.

    Returns {stage: n_rows} for the rewritten stages.  The swap is
    write-to-tmp + rename: crash-safe in the sense that the base table is
    replaced only after the compacted write (and its _SUCCESS) completes;
    on a real object store the catalog swap (Iceberg commit) plays this
    role.
    """
    import shutil
    import time as _time

    from .operators import cluster as cluster_ops
    from .operators.lsh import band_signatures

    cfg = config or PipelineConfig(SketchParams(), LSHParams())
    ch = cfg.config_hash()
    sid = cfg.sig_id
    counts: dict[str, int] = {}

    def swap_in(path: str, df: DataFrame) -> int:
        tmp = path + "_compacting"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        df.write.parquet(tmp)  # materializes BEFORE sources are removed
        n = sum(p["rows"] for p in ckpt.partition_metrics(tmp))
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        return n

    t0 = _time.time()
    sig_path = ckpt.stage_path(base_dir, "signatures", ch)
    bands_path = ckpt.stage_path(base_dir, "bands", ch)
    edges_path = ckpt.stage_path(base_dir, "edges", ch)
    sig_inc, bands_inc, edges_inc = (
        sig_path + "_inc", bands_path + "_inc", edges_path + "_inc"
    )

    # a bucket_signatures config registered a catalog table over this
    # path; the compacted rewrite is plain parquet, so drop the (external,
    # metadata-only) table — readers fall back to the parquet path
    sig_table = f"ckpt_signatures_{ch}"
    if spark.catalog.tableExists(sig_table):
        spark.sql(f"DROP TABLE IF EXISTS {sig_table}")

    sigs = spark.read.parquet(sig_path)
    if os.path.isdir(sig_inc):
        sigs = sigs.unionByName(
            spark.read.parquet(sig_inc).drop("increment"),
            allowMissingColumns=True,
        )
    counts["signatures"] = swap_in(sig_path, sigs)
    sigs = spark.read.schema(sigs.schema).parquet(sig_path)

    if ckpt.is_complete(bands_path):
        bands = spark.read.parquet(bands_path).select(
            sid, "band_idx", "band_key"
        )
        if os.path.isdir(bands_inc):
            bands = bands.unionByName(
                spark.read.parquet(bands_inc).drop("increment")
            )
    else:
        # pre-bands-stage checkpoint: upgrade it here
        bands = band_signatures(
            sigs, cfg.lsh, cfg.sketch.scaled, sig_id=sid
        )
    counts["bands"] = swap_in(bands_path, bands)

    edges = spark.read.parquet(edges_path)
    if os.path.isdir(edges_inc):
        edges = edges.unionByName(
            spark.read.parquet(edges_inc)
        ).dropDuplicates(["sig_id_a", "sig_id_b"])
    counts["edges"] = swap_in(edges_path, edges)
    edges = spark.read.schema(edges.schema).parquet(edges_path)

    clusters_path = ckpt.stage_path(base_dir, "clusters", ch)
    counts["clusters"] = swap_in(
        clusters_path, cluster_ops.assign_clusters(sigs, edges, sig_id=sid)
    )

    for p in (sig_inc, bands_inc, edges_inc):
        if os.path.isdir(p):
            shutil.rmtree(p)
    cands_path = ckpt.stage_path(base_dir, "candidates", ch)
    if os.path.isdir(cands_path):
        shutil.rmtree(cands_path)  # stale pair enumeration — derivable

    ckpt._append_lineage(
        base_dir,
        [
            {
                "stage": "compact",
                "config_hash": ch,
                "event": "complete",
                "n_rows": counts["signatures"],
                "wall_sec": round(_time.time() - t0, 3),
                "compacted": counts,
            }
        ],
    )
    return counts


def dup_pair_recall(edges: DataFrame, reference_pairs: DataFrame) -> float:
    """Recall of the pipeline's verified pairs vs a reference pair set
    (both keyed sig_id_a < sig_id_b) — the north rule's >=0.99 gate."""
    total = reference_pairs.count()
    if total == 0:
        return 1.0
    found = reference_pairs.join(
        edges.select("sig_id_a", "sig_id_b"), ["sig_id_a", "sig_id_b"],
        "left_semi",
    ).count()
    return found / total
