"""The benchmark's workloads: set-up, one cycle of operations with
its correctness checks, and the per-layer numbers of a traced cycle.

A workload is driven by one closed-loop client: each operation starts
after the previous one (and its check) has finished.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import inputs
from .eventlog import total
from .procrss import tree_cpu_seconds
from .spans import Tracer, self_time
from .stats import median


@dataclass
class Ledger:
    """Operation walls, attempts and failures of one run."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    op_wall: float = 0.0  # summed over every timed operation
    op_cpu: float = 0.0  # process-tree CPU
    op_work_cpu: float = 0.0  # the same without the JIT compiler threads
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    data: dict[str, list[float]] = field(default_factory=dict)

    def note(self, key: str, value: float) -> None:
        self.data.setdefault(key, []).append(float(value))

    def op(self, tracer: Tracer, name: str, fn, check):
        """Time fn() inside a span, then check its result outside the
        timing.  A raise or a failed check counts as a failed operation."""
        self.attempted += 1
        t0, (c0, w0) = time.perf_counter(), tree_cpu_seconds()
        try:
            with tracer.span(name):
                result = fn()
        except Exception as exc:  # the run goes on; the failure is counted
            self.failed += 1
            self.problems.append(f"{name}: raised {type(exc).__name__}: {exc}")
            return None
        wall = time.perf_counter() - t0
        c1, w1 = tree_cpu_seconds()
        self.op_cpu += c1 - c0
        self.op_work_cpu += w1 - w0
        self.op_wall += wall
        self.samples.setdefault(name, []).append(wall)
        problems = check(result)
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems)
        return result


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive comparison; floats to 1e-9 absolute (the rule of
    tools/rehearse_gate.compare, which cannot be imported here: it puts a
    fixed absolute repository path on sys.path)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
            ok = np.allclose(
                g[c].astype(float), w[c].astype(float), rtol=0, atol=1e-9
            )
        elif g[c].dtype.kind in "iu" and w[c].dtype.kind in "iu":
            ok = np.array_equal(g[c].to_numpy(), w[c].to_numpy())
        else:
            ok = g[c].astype(str).equals(w[c].astype(str))
        if not ok:
            return f"column {c} differs"
    return None


def _stage_layers(tracer: Tracer, within) -> list[dict]:
    """One record per executed checkpoint.run_stage span under `within`:
    the stage's own work (span minus its bookkeeping children) and the
    bookkeeping parts."""
    out = []
    for sp in tracer.named("checkpoint.run_stage", within):
        kids = tracer.children(sp)
        if not any(k.name == "checkpoint.write" for k in kids):
            continue  # resumed: the stage was read back, not run
        book = [
            k for k in kids
            if k.name in (
                "checkpoint.partition_metrics", "checkpoint.append_lineage",
                "checkpoint.readback_count",
            )
        ]
        book_groups = set().union(*(tracer.groups(k) for k in book)) if book else set()
        dur = {k.name: 0.0 for k in book}
        for k in book:
            dur[k.name] += k.duration
        out.append(
            {
                "span": sp,
                "stage": sp.attrs.get("stage"),
                "wall": self_time(sp, book),
                "work_groups": tracer.groups(sp) - book_groups,
                "write": sum(
                    k.duration for k in kids if k.name == "checkpoint.write"
                ),
                "readback": dur.get("checkpoint.readback_count", 0.0),
                "pm": dur.get("checkpoint.partition_metrics", 0.0),
                "lineage": dur.get("checkpoint.append_lineage", 0.0),
                "jobs": tracer.jobs(sp),
                "total": sp.duration,
            }
        )
    return out


class PipelineIngest:
    """The deploy path: full run_pipeline into a fresh checkpoint dir, a
    resume of its last stage, an incremental ingest of held-out
    near-duplicates, then compaction."""

    name = "pipeline_ingest"

    def __init__(self, cache_path: str, work: str):
        self.cache = cache_path
        self.work = work
        self.cfg = inputs.pipeline_config()
        self.ch = self.cfg.config_hash()
        rd = lambda n: inputs.read_dir(os.path.join(cache_path, n))
        self.digests = rd("digests.parquet")
        self.ref_pairs = _pair_set(rd("ref_pairs.parquet"))
        self.ref_pairs_all = _pair_set(rd("ref_pairs_all.parquet"))
        base = rd("base.parquet")
        self.n_base = len(base)
        self.content_mb = base["content"].str.len().sum() / 1e6
        self.inc_names = sorted(
            n for n in os.listdir(cache_path) if n.startswith("inc")
        )
        self.inc_sizes = [len(rd(n)) for n in self.inc_names]
        self.base_ids = base["sig_id"].to_numpy()
        self.all_ids = np.concatenate(
            [self.base_ids] + [rd(n)["sig_id"].to_numpy() for n in self.inc_names]
        )
        self.cycles = 0

    # -- set-up ------------------------------------------------------------
    def load(self, spark) -> None:
        from sourmash_spark.session import ensure_parallelism

        self.base_df = ensure_parallelism(
            spark.read.parquet(os.path.join(self.cache, "base.parquet"))
        )
        self.base_df.count()
        self.inc_dfs = [
            spark.read.parquet(os.path.join(self.cache, n)) for n in self.inc_names
        ]

    def unload(self) -> None:
        pass

    def after_trace(self, spark, ledger: Ledger) -> None:
        pass

    # -- one cycle ---------------------------------------------------------
    def _path(self, d: str, stage: str) -> str:
        from sourmash_spark.sources.checkpoint import stage_path

        return stage_path(d, stage, self.ch)

    def _drop_clusters(self, d: str) -> None:
        shutil.rmtree(self._path(d, "clusters"))

    def _read(self, d: str, stage: str, cols: list[str]) -> pd.DataFrame:
        import pyarrow.parquet as pq

        return pq.read_table(self._path(d, stage), columns=cols).to_pandas()

    def check_edges_clusters(self, d: str, ids, ref: set, ledger: Ledger | None) -> list[str]:
        """Edges against the exact all-pairs reference (recall >= 0.99,
        nothing outside it) and clusters against the connected components
        of those edges."""
        problems = []
        edges = self._read(d, "edges", ["sig_id_a", "sig_id_b"])
        found = _pair_set(edges)
        recall = len(found & ref) / len(ref) if ref else 1.0
        if ledger is not None:
            ledger.note("dup_pair_recall", recall)
        if recall < 0.99:
            problems.append(f"dup_pair_recall {recall:.4f} < 0.99")
        outside = len(found - ref)
        if outside:
            problems.append(f"{outside} edges outside the all-pairs reference")
        clusters = self._read(d, "clusters", ["sig_id", "cluster_id"])
        want = components(ids, edges["sig_id_a"].to_numpy(), edges["sig_id_b"].to_numpy())
        diff = frames_differ(clusters, want)
        if diff:
            problems.append(f"clusters are not the components of the edges: {diff}")
        return problems

    def check_full(self, d: str, ledger: Ledger, traced: bool) -> list[str]:
        problems = []
        sigs = self._read(d, "signatures", ["sig_id", "sha256", "n_hashes"])
        got = sigs.merge(self.digests, on="sig_id", suffixes=("", "_want"))
        if len(got) != self.n_base or not (got["sha256"] == got["sha256_want"]).all():
            problems.append("sha256 column differs from hashlib.sha256(content)")
        problems += self.check_edges_clusters(d, self.base_ids, self.ref_pairs, ledger)
        self._full_clusters = self._read(d, "clusters", ["sig_id", "cluster_id"])
        if traced:
            bands = self._read(d, "bands", ["band_idx", "band_key"])
            sizes = bands.groupby(["band_idx", "band_key"]).size()
            ledger.note("hashes_out", sigs["n_hashes"].sum())
            ledger.note("singleton_band_share", float((sizes == 1).mean()))
            ledger.note(
                "cap_dropped_memberships",
                float(sizes[sizes > self.cfg.bucket_cap].sum()),
            )
            ledger.note("candidates_rows", len(self._read(d, "candidates", ["sig_id_a"])))
            ledger.note("edges_rows", len(self._read(d, "edges", ["sig_id_a"])))
        return problems

    def check_resume(self, d: str) -> list[str]:
        got = self._read(d, "clusters", ["sig_id", "cluster_id"])
        diff = frames_differ(got, self._full_clusters)
        return [f"resumed clusters differ from the full run: {diff}"] if diff else []

    def check_compact(self, d: str, counts: dict) -> list[str]:
        problems = []
        if counts.get("signatures") != len(self.all_ids):
            problems.append(
                f"compacted {counts.get('signatures')} signatures, expected {len(self.all_ids)}"
            )
        return problems + self.check_edges_clusters(d, self.all_ids, self.ref_pairs_all, None)

    def cycle(self, spark, tracer: Tracer, ledger: Ledger, traced: bool) -> None:
        from sourmash_spark.pipeline import (
            compact_increments, incremental_update, run_pipeline,
        )

        d = os.path.join(self.work, f"ckpt-{self.cycles}")
        self.cycles += 1
        shutil.rmtree(d, ignore_errors=True)
        cfg = self.cfg
        full = ledger.op(
            tracer, "pipeline.run_pipeline",
            lambda: run_pipeline(spark, self.base_df, d, cfg),
            lambda _: self.check_full(d, ledger, traced),
        )
        if full is None:
            shutil.rmtree(d, ignore_errors=True)
            return
        self._drop_clusters(d)
        ledger.op(
            tracer, "pipeline.resume",
            lambda: run_pipeline(spark, self.base_df, d, cfg),
            lambda _: self.check_resume(d),
        )
        expect = self.n_base
        for inc_df, n_inc in zip(self.inc_dfs, self.inc_sizes):
            expect += n_inc
            if traced:
                ledger.note("files_scanned", _data_files(d))
            ledger.op(
                tracer, "pipeline.incremental_update",
                lambda: incremental_update(spark, inc_df, d, cfg)["clusters"].count(),
                lambda n, e=expect: [] if n == e else [f"{n} cluster rows, expected {e}"],
            )
        ledger.op(
            tracer, "pipeline.compact_increments",
            lambda: compact_increments(spark, d, cfg),
            lambda counts: self.check_compact(d, counts),
        )
        shutil.rmtree(d, ignore_errors=True)

    # -- per-layer numbers -------------------------------------------------
    def layers(self, tracer: Tracer, folded, ledger: Ledger) -> dict[str, float]:
        per: dict[str, list[dict]] = {}
        for cyc in tracer.named("cycle"):
            for rec in _stage_layers(tracer, cyc):
                rec["fold"] = total(folded, rec["work_groups"])
                per.setdefault(rec["stage"], []).append(rec)

        def med(stage, f):
            recs = per.get(stage, [])
            return median([f(r) for r in recs]) if recs else 0.0

        def d(key):
            return median(ledger.data[key]) if ledger.data.get(key) else 0.0

        m: dict[str, float] = {}
        m["sketch.wall_s"] = med("signatures", lambda r: r["wall"])
        m["sketch.executor_run_s"] = med("signatures", lambda r: r["fold"].executor_run_ms / 1e3)
        m["sketch.python_bytes_sent"] = med("signatures", lambda r: r["fold"].py_sent_bytes)
        m["sketch.python_bytes_returned"] = med("signatures", lambda r: r["fold"].py_returned_bytes)
        m["sketch.input_mb_per_s"] = (
            self.content_mb / m["sketch.wall_s"] if m["sketch.wall_s"] else 0.0
        )
        m["sketch.hashes_out"] = d("hashes_out")
        m["lsh.bands.wall_s"] = med("bands", lambda r: r["wall"])
        m["lsh.bands.executor_run_s"] = med("bands", lambda r: r["fold"].executor_run_ms / 1e3)
        m["lsh.bands.rows_out"] = med("bands", lambda r: r["fold"].output_records)
        m["lsh.candidates.wall_s"] = med("candidates", lambda r: r["wall"])
        m["lsh.candidates.executor_run_s"] = med("candidates", lambda r: r["fold"].executor_run_ms / 1e3)
        m["lsh.candidates.cap_probe_s"] = med(
            "candidates",
            lambda r: sum(s.duration for s in tracer.named("compare.cap_postings", r["span"])),
        )
        m["lsh.candidates.shuffle_write_bytes"] = med("candidates", lambda r: r["fold"].shuffle_write_bytes)
        m["lsh.candidates.shuffle_records"] = med("candidates", lambda r: r["fold"].shuffle_records)
        m["lsh.candidates.task_skew"] = med("candidates", lambda r: r["fold"].task_skew)
        m["lsh.candidates.singleton_band_share"] = d("singleton_band_share")
        m["lsh.candidates.cap_dropped_memberships"] = d("cap_dropped_memberships")
        m["lsh.candidates.pairs_out"] = med("candidates", lambda r: r["fold"].output_records)
        m["lsh.verify.wall_s"] = med("edges", lambda r: r["wall"])
        m["lsh.verify.executor_run_s"] = med("edges", lambda r: r["fold"].executor_run_ms / 1e3)
        m["lsh.verify.shuffle_write_bytes"] = med("edges", lambda r: r["fold"].shuffle_write_bytes)
        m["lsh.verify.pairs_in"] = d("candidates_rows")
        m["lsh.verify.edges_out"] = med("edges", lambda r: r["fold"].output_records)
        m["lsh.verify.yield"] = (
            m["lsh.verify.edges_out"] / m["lsh.verify.pairs_in"] if m["lsh.verify.pairs_in"] else 0.0
        )
        m["cluster.wall_s"] = med("clusters", lambda r: r["wall"])
        m["cluster.driver_s"] = med(
            "clusters",
            lambda r: sum(s.duration for s in tracer.named("cluster.connected_components", r["span"])),
        )
        m["cluster.jobs"] = med(
            "clusters", lambda r: sum(s.jobs for s in tracer.spans if s.group in r["work_groups"])
        )
        m["cluster.edges_in"] = d("edges_rows")

        # checkpoint bookkeeping: per cycle, summed over every stage run
        ck = []
        for cyc in tracer.named("cycle"):
            recs = _stage_layers(tracer, cyc)
            if not recs:
                continue
            tot = sum(r["total"] for r in recs)
            book = sum(r["readback"] + r["pm"] + r["lineage"] for r in recs)
            ck.append(
                {
                    "write_s": sum(r["write"] for r in recs),
                    "readback_count_s": sum(r["readback"] for r in recs),
                    "partition_metrics_s": sum(r["pm"] for r in recs),
                    "lineage_s": sum(r["lineage"] for r in recs),
                    "jobs_per_stage": sum(r["jobs"] for r in recs) / len(recs),
                    "bookkeeping_share": book / tot if tot else 0.0,
                }
            )
        for key in (
            "write_s", "readback_count_s", "partition_metrics_s", "lineage_s",
            "jobs_per_stage", "bookkeeping_share",
        ):
            m[f"checkpoint.{key}"] = median([c[key] for c in ck]) if ck else 0.0

        incs = tracer.named("pipeline.incremental_update")
        m["pipeline.incremental_update.wall_s"] = median([s.duration for s in incs]) if incs else 0.0
        m["pipeline.incremental_update.jobs"] = median([tracer.jobs(s) for s in incs]) if incs else 0.0
        m["pipeline.incremental_update.files_scanned"] = d("files_scanned")
        comp = tracer.named("pipeline.compact_increments")
        m["pipeline.compact_increments.wall_s"] = median([s.duration for s in comp]) if comp else 0.0
        m["pipeline.compact_increments.jobs"] = median([tracer.jobs(s) for s in comp]) if comp else 0.0
        m["pipeline.compact_increments.bytes_rewritten"] = (
            median([total(folded, tracer.groups(s)).output_bytes for s in comp]) if comp else 0.0
        )
        return m

    def report(self, ledger: Ledger) -> dict:
        s = ledger.samples
        out = {}
        if s.get("pipeline.run_pipeline"):
            out["pipeline_files_per_s"] = ("1/s", [self.n_base / w for w in s["pipeline.run_pipeline"]])
        out["resume_s"] = ("s", s.get("pipeline.resume", []))
        out["increment_s"] = ("s", s.get("pipeline.incremental_update", []))
        out["compact_s"] = ("s", s.get("pipeline.compact_increments", []))
        out["dup_pair_recall"] = ("ratio", ledger.data.get("dup_pair_recall", []))
        return out


def _pair_set(df: pd.DataFrame) -> set:
    return set(map(tuple, df[["sig_id_a", "sig_id_b"]].to_numpy().tolist()))


def components(ids, a, b) -> pd.DataFrame:
    """(sig_id, cluster_id): connected components of the edge list over
    every id, labelled by their smallest member (union-find)."""
    parent = {int(i): int(i) for i in ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(a.tolist(), b.tolist()):
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return pd.DataFrame(
        {"sig_id": list(parent), "cluster_id": [find(x) for x in parent]}
    )


def _data_files(d: str) -> int:
    n = 0
    for _, _, files in os.walk(d):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


class DocDedupOps:
    """The document operators bench.py times, on a seeded corpus:
    simhash near-pairs, exact-substring removal and SemDeDup over the
    embeddings plus their perturbed copies."""

    name = "doc_dedup_ops"
    OPS = ("dedup.simhash_pairs", "dedup.exact_substring_removal", "ann.semantic_dedup")

    def __init__(self, cache_path: str, work: str):
        self.cache = cache_path
        self.work = work
        rd = lambda n: inputs.read_dir(os.path.join(cache_path, n))
        self.oracles = {
            "dedup.simhash_pairs": rd("oracle_simhash_pairs.parquet"),
            "dedup.exact_substring_removal": rd("oracle_exact_substring_removal.parquet"),
            "ann.semantic_dedup": rd("oracle_semantic_dedup.parquet"),
        }
        self.n_cells = inputs.semantic_cells(len(rd("embeddings.parquet")))
        self._cell_frames = []  # semantic_dedup's cell-assigned frames
        self._tapped = False

    def load(self, spark) -> None:
        from sourmash_spark.operators.ann import perturb_copies
        from sourmash_spark.session import ensure_parallelism

        self.docs = ensure_parallelism(
            spark.read.parquet(os.path.join(self.cache, "documents.parquet"))
        )
        embs = ensure_parallelism(
            spark.read.parquet(os.path.join(self.cache, "embeddings.parquet"))
        )
        self.aug = perturb_copies(
            embs, n_copies=inputs.PERTURB_COPIES, dim=inputs.EMB_DIM
        ).cache()
        self.aug.count()
        self.docs.count()

    def unload(self) -> None:
        self.aug.unpersist()

    def _simhash_pairs(self):
        from sourmash_spark.operators import dedup

        sims = dedup.simhash(self.docs).cache()
        try:
            return dedup.simhash_pairs(sims, max_hamming=12).toPandas()
        finally:
            sims.unpersist()

    def _substring(self):
        from sourmash_spark.operators import dedup

        return dedup.exact_substring_removal(self.docs, min_len=40).toPandas()

    def _semantic(self):
        from sourmash_spark.operators.ann import semantic_dedup

        return semantic_dedup(self.aug, n_cells=self.n_cells, eps=0.9).toPandas()

    def _tap_cells(self, tracer: Tracer) -> None:
        """Keep the frame semantic_dedup groups by cell (its IVF
        assignment), so after_trace can size the cells it formed."""
        from pyspark.sql.classic.dataframe import DataFrame

        def on_call(args, kwargs):
            cur = tracer.current
            if cur is not None and cur.name == "ann.semantic_dedup" and args[1:] == ("cell",):
                self._cell_frames.append(args[0])

        tracer.tap(DataFrame, "groupBy", on_call)

    def after_trace(self, spark, ledger: Ledger) -> None:
        """Rows in the largest cell of each traced semantic_dedup call,
        counted on the program's own assignment (outside every span)."""
        from pyspark.sql import functions as F

        for df in self._cell_frames:
            top = df.groupBy("cell").count().agg(F.max("count")).first()[0]
            ledger.note("max_cell_rows", top)
        self._cell_frames.clear()

    def check(self, op: str, got: pd.DataFrame) -> list[str]:
        diff = frames_differ(got, self.oracles[op])
        return [f"differs from the DuckDB oracle: {diff}"] if diff else []

    def cycle(self, spark, tracer: Tracer, ledger: Ledger, traced: bool) -> None:
        if traced and not self._tapped:
            self._tap_cells(tracer)
            self._tapped = True
        for op, fn in zip(self.OPS, (self._simhash_pairs, self._substring, self._semantic)):
            out = ledger.op(tracer, op, fn, lambda got, op=op: self.check(op, got))
            if op == "dedup.simhash_pairs" and out is not None:
                ledger.note("simhash_pairs_rows", len(out))

    def layers(self, tracer: Tracer, folded, ledger: Ledger) -> dict[str, float]:
        def per_op(op, f):
            spans = tracer.named(op)
            return median([f(s, total(folded, tracer.groups(s))) for s in spans]) if spans else 0.0

        pairs = median(ledger.data["simhash_pairs_rows"]) if ledger.data.get("simhash_pairs_rows") else 0.0
        m: dict[str, float] = {}
        sp, sub, sem = self.OPS
        m["dedup.simhash_pairs.wall_s"] = per_op(sp, lambda s, g: s.duration)
        m["dedup.simhash_pairs.shuffle_records"] = per_op(sp, lambda s, g: g.shuffle_records)
        m["dedup.simhash_pairs.pair_yield"] = per_op(
            sp, lambda s, g: pairs / g.join_rows if g.join_rows else 0.0
        )
        m["dedup.simhash_pairs.task_skew"] = per_op(sp, lambda s, g: g.task_skew)
        m["dedup.simhash_pairs.spill_bytes"] = per_op(sp, lambda s, g: g.spill_bytes)
        m["dedup.exact_substring_removal.wall_s"] = per_op(sub, lambda s, g: s.duration)
        m["dedup.exact_substring_removal.shuffle_write_bytes"] = per_op(sub, lambda s, g: g.shuffle_write_bytes)
        m["dedup.exact_substring_removal.task_skew"] = per_op(sub, lambda s, g: g.task_skew)
        m["dedup.exact_substring_removal.spill_bytes"] = per_op(sub, lambda s, g: g.spill_bytes)
        m["ann.semantic_dedup.wall_s"] = per_op(sem, lambda s, g: s.duration)
        m["ann.semantic_dedup.executor_run_s"] = per_op(sem, lambda s, g: g.executor_run_ms / 1e3)
        m["ann.semantic_dedup.python_bytes_sent"] = per_op(sem, lambda s, g: g.py_sent_bytes)
        m["ann.semantic_dedup.task_skew"] = per_op(sem, lambda s, g: g.task_skew)
        m["ann.semantic_dedup.max_cell_rows"] = (
            median(ledger.data["max_cell_rows"]) if ledger.data.get("max_cell_rows") else 0.0
        )
        return m

    def report(self, ledger: Ledger) -> dict:
        s = ledger.samples
        return {
            "simhash_pairs_s": ("s", s.get("dedup.simhash_pairs", [])),
            "substring_cut_s": ("s", s.get("dedup.exact_substring_removal", [])),
            "semantic_dedup_s": ("s", s.get("ann.semantic_dedup", [])),
        }


WORKLOADS = {w.name: w for w in (PipelineIngest, DocDedupOps)}
