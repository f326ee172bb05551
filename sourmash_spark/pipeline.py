"""End-to-end near-duplicate pipeline: the north rule's deliverable.

code_files --sketch--> signatures --LSH bands--> candidate_pairs
          --exact verify--> edges --connected components--> clusters

Every stage checkpoints to a config-hash-keyed table and appends a
lineage record with its row count and per-file counts, taken from the
written parquet footers (sources/checkpoint.py); a killed run resumes by
skipping completed stages.  `incremental_update` adds a batch of new files
as one committed increment of the signatures, bands and edges stages, and
`compact_increments` folds the increments back into the stage tables; the
layout and commit rule of both live in sources/checkpoint.py.  Stage plans:

* sketch: narrow Arrow-vectorized map, zero shuffle; scales with splits.
* bands: narrow projection + posexplode, zero shuffle.
* candidates: ONE shuffle on (band_idx, band_key) under AQE skew-join;
  `bucket_cap` bounds the worst (boilerplate) buckets; the candidates
  lineage record carries the dropped volume (`bucket_cap`: buckets over
  the cap and their band memberships), taken from the over-cap set the
  cap's probe already materializes.
* edges: candidates join signatures twice on sig_id (sort-merge/AQE;
  candidate side is orders of magnitude smaller than all-pairs).
* clusters: one collect of the edge list, solved on the driver (label
  propagation joins past 5M edges; operators/cluster.py).
  The clusters lineage record carries the edge graph's vertex and
  component counts (`edge_graph`), so the cluster count is
  n_rows − vertices + components without reading the table.
"""

from __future__ import annotations

import hashlib
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

    def config_hash(self) -> str:
        # "|b0" was the signature-bucketing knob (always 0 now); kept so
        # existing checkpoints resume under the same hash
        blob = (
            f"{self.sketch.config_hash()}|{self.lsh.num_bands}x"
            f"{self.lsh.band_size}|{self.jaccard_threshold}|{self.bucket_cap}"
            "|b0"
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
    out: dict[str, DataFrame] = {}

    sigs, _ = ckpt.run_stage(
        spark, base_dir, "signatures", ch,
        lambda: _sketch(code_files, cfg, keep_cols),
    )
    out["signatures"] = sigs
    if stop_after == "signatures":
        return out

    bands = _bands_stage(spark, base_dir, cfg, sigs)
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

    graph: dict = {}
    clusters, _ = ckpt.run_stage(
        spark, base_dir, "clusters", ch,
        lambda: cluster_ops.assign_clusters(
            sigs, edges, sig_id=sid, stats=graph
        ),
        lineage={"edge_graph": graph},
    )
    out["clusters"] = clusters
    return out


def _sketch(
    files: DataFrame, cfg: PipelineConfig, keep_cols: list[str] | None
) -> DataFrame:
    """Signatures of `files`, keeping `keep_cols` (default: every column
    but the content) plus the content's sha256."""
    keep = keep_cols if keep_cols is not None else [
        c for c in files.columns if c != "content"
    ]
    return sketch_signatures(
        with_sha256(files), cfg.sketch, keep_cols=keep + ["sha256"]
    )


def _bands_stage(
    spark: SparkSession, base_dir: str, cfg: PipelineConfig, sigs: DataFrame,
    increments: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """The `bands` stage table — the postings/RevIndex analog (SURVEY
    §2.1) — plus its named `increments`: incremental_update reads it back
    instead of re-banding the whole corpus per increment, and a resumed
    run picks up after banding.  Narrow table: (sig_id, band_idx,
    band_key).  `sigs` are the base signatures; a checkpoint written
    before the stage existed gets it on first use."""
    ch = cfg.config_hash()
    ckpt.run_stage(
        spark, base_dir, "bands", ch,
        lambda: lsh_ops.band_signatures(
            sigs, cfg.lsh, cfg.sketch.scaled, sig_id=cfg.sig_id
        ),
    )
    return ckpt.read_stage(spark, base_dir, "bands", ch, increments)


def incremental_update(
    spark: SparkSession,
    new_files: DataFrame,
    base_dir: str,
    config: PipelineConfig | None = None,
    keep_cols: list[str] | None = None,
    increment_name: str | None = None,
) -> dict[str, DataFrame]:
    """Add NEW files to an existing pipeline state without recomputing the
    corpus — the daily-ingest path at 100 TB.

    Work done is proportional to the new data:
    * sketch only the new files (narrow map over the increment);
    * band only the new signatures — the corpus bands are READ BACK from
      the `bands` stage table (written once from the base signatures for
      checkpoints that predate the bands stage);
    * candidate pairs = batch x (old ∪ all increments) band join — the
      old x old pair space is never re-enumerated, and earlier increments
      are not re-joined either (their pairs were emitted by their own
      calls — per-call work stays proportional to the batch even after
      months of daily ingests);
    * verify only the new candidate pairs;
    * clusters re-converge over (old edges ∪ new edges) — edge tables are
      O(duplicates), tiny next to the corpus.

    The batch lands as increment `increment_name` of the signatures, bands
    and edges stages, written in that order (sources/checkpoint.py); the
    edges write commits it, and signatures and bands are read only under
    names committed there.  The default name is the number of committed
    increments, so a call that crashed before its commit is overwritten
    by the next one, not duplicated; a replay under the same name (a
    streaming batch id) replaces the increment.  Equivalent to an Iceberg
    MERGE/append per stage.
    """
    from .operators.compare import shared_key_pairs

    cfg = config or PipelineConfig(SketchParams(), LSHParams())
    ch = cfg.config_hash()
    sid = cfg.sig_id
    sig_inc, bands_inc, edges_inc = (
        ckpt.increments_path(base_dir, s, ch)
        for s in ("signatures", "bands", "edges")
    )
    # read before listing increments: the read finishes a committed
    # compaction, whose folded increments must not count twice
    old_sigs = ckpt.read_stage(spark, base_dir, "signatures", ch)
    done = ckpt.committed_increments(edges_inc)
    name = increment_name if increment_name is not None else str(len(done))
    # a replay under a committed name replaces that increment; THIS batch
    # is the only "new" side of the candidate join, and earlier increments
    # only ride along as stored rows on the old side
    done = [n for n in done if n != name]

    stored_bands = _bands_stage(spark, base_dir, cfg, old_sigs, done)
    batch_sigs = ckpt.write_increment(
        sig_inc, name, _sketch(new_files, cfg, keep_cols)
    )
    all_sigs = ckpt.read_stage(
        spark, base_dir, "signatures", ch, done + [name]
    )
    # banding is row-wise deterministic, so stored ∪ banded-batch is
    # bit-identical to re-banding all_sigs
    batch_bands = ckpt.write_increment(bands_inc, name, lsh_ops.band_signatures(
        batch_sigs, cfg.lsh, cfg.sketch.scaled, sig_id=sid
    ))
    all_bands = stored_bands.withColumn("_new", F.lit(False)).unionByName(
        batch_bands.withColumn("_new", F.lit(True))
    )

    # pairs touching at least one new signature, under the same boilerplate
    # guard as the full pipeline: the batch's band rows are flagged, so the
    # one cap probe sizes buckets over the COMBINED bands (else capped
    # buckets would diverge from a full recompute) and its hot set leaves
    # both sides of the batch x corpus join
    cands = shared_key_pairs(
        all_bands, ["band_idx", "band_key"], sid, cfg.bucket_cap,
        new_col="_new",
    ).withColumnsRenamed({"id_a": "sig_id_a", "id_b": "sig_id_b"})
    ckpt.write_increment(edges_inc, name, lsh_ops.verify_pairs(
        cands, all_sigs, scaled=cfg.sketch.scaled, ksize=cfg.sketch.ksize,
        threshold=cfg.jaccard_threshold, sig_id=sid,
    ))
    all_edges = ckpt.read_stage(
        spark, base_dir, "edges", ch, done + [name]
    ).dropDuplicates(["sig_id_a", "sig_id_b"])

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
    calls leave one increment per call and stage; at cluster scale that
    is a many-small-files problem for every subsequent scan.  Compaction
    rewrites signatures/bands/edges as single stage tables (the committed
    increments folded in, the same view `incremental_update` reads),
    refreshes the clusters stage from the compacted state, removes the
    _inc dirs (an uncommitted increment with them; the folded names stay
    listed in `checkpoint.folded_increments`), and drops the stale
    candidates stage (its pair enumeration is superseded by the folded
    edges).  Subsequent incremental_update calls start from a clean base.

    Returns {stage: n_rows} for the rewritten stages.  The new tables
    replace the old ones in one commit (`checkpoint.compact`): a crash at
    any point leaves the old state or the new one, and the next call
    finishes a committed swap; on a real object store the catalog swap
    (Iceberg commit) plays this role.
    """
    cfg = config or PipelineConfig(SketchParams(), LSHParams())
    ch = cfg.config_hash()

    def fold(write):
        done = ckpt.committed_increments(
            ckpt.increments_path(base_dir, "edges", ch)
        )
        base_sigs = ckpt.read_stage(spark, base_dir, "signatures", ch)
        sigs = write("signatures", ckpt.read_stage(
            spark, base_dir, "signatures", ch, done
        ))
        write("bands", _bands_stage(spark, base_dir, cfg, base_sigs, done))
        edges = write("edges", ckpt.read_stage(
            spark, base_dir, "edges", ch, done
        ).dropDuplicates(["sig_id_a", "sig_id_b"]))
        write("clusters", cluster_ops.assign_clusters(
            sigs, edges, sig_id=cfg.sig_id
        ))
        return done

    return ckpt.compact(base_dir, ch, fold, drop=("candidates",))


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
