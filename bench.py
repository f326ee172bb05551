"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS] (unset: `get_spark`'s default, the usable
cores).  Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "sf": ..., "sigs_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def host_calibration() -> float:
    """Fixed single-thread CPU probe: one vectorized murmur pass over a
    constant 10M-window buffer (the suite's own hash kernel, no Spark).

    The sandbox host shows hypervisor steal bursts (15x per-batch swings
    measured on identical work — BENCH/BASELINE.md notes), so the suite
    wall alone cannot distinguish an engine regression from a slow host
    window.  This probe runs before and after the timed sweeps; a clean
    window measures ~0.65-1.0 s (observed same-minute spread on this host:
    0.66-5.15 s), and suite walls scale roughly with it.
    """
    import numpy as np

    from sourmash_spark.hashing import murmur64_fixed

    rng = np.random.default_rng(12345)
    buf = rng.integers(65, 91, size=10_000_000 + 20, dtype=np.uint8)
    windows = np.lib.stride_tricks.sliding_window_view(buf, 21)
    t0 = time.time()
    murmur64_fixed(windows, 42)
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cal_before = host_calibration()

    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from sourmash_spark.session import get_spark
    from sourmash_spark.operators import dedup as dedup_ops
    from sourmash_spark.operators import text as text_ops
    from sourmash_spark.operators.cluster import assign_clusters
    from sourmash_spark.operators.compare import compare_all_pairs
    from sourmash_spark.operators.lsh import (
        band_signatures,
        candidate_pairs,
        verify_pairs,
    )

    spark = get_spark(
        "sourmash_spark_bench", master=cpus and f"local[{cpus}]",
        shuffle_partitions=cpus and int(cpus),
    )
    cpus = int(cpus) if cpus else spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")

    P = entrymod.MURMUR_PARAMS
    L = entrymod.MURMUR_LSH
    qtimes: dict[str, float] = {}
    n_docs = 0

    # untimed warmup: spawn+import the Python UDF workers on every core so
    # timings below measure steady-state throughput, not cold start
    entrymod._murmur_sigs(spark, sf_dir).count()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

    # CANONICAL PROTOCOL (recorded in the output JSON): best-of-N with the
    # rep loop OUTSIDE the query loop — every query runs once per sweep, so
    # shared-host noise bursts hit all queries instead of whichever query
    # owned that wall-clock window (the r2 bench/BASELINE discrepancy was
    # exactly this).
    jobs: list[tuple[str, object]] = []

    def timed(name, fn):
        jobs.append((name, fn))

    # rotating-seed sketch plans: the operator-level queries below keep a
    # cached signatures table; a same-seed sketch plan would silently hit
    # that cache (and an unpersist would silently drop it), so the
    # throughput-measuring queries sketch under a fresh seed each call —
    # identical work, never cache-aliased
    from dataclasses import replace
    from itertools import count as _count

    from sourmash_spark.params import SketchParams
    from sourmash_spark.sketch import sketch_signatures

    _seed_tick = _count(1000)

    def fresh_sigs():
        p = replace(P, seed=next(_seed_tick))
        docs = entrymod._docs(spark, sf_dir).select(
            F.col("doc_id").alias("sig_id"), F.col("text").alias("content")
        )
        from sourmash_spark.session import ensure_parallelism

        return sketch_signatures(
            ensure_parallelism(docs), p, keep_cols=["sig_id"]
        )

    # signature throughput (the north-rule headline)
    def q_sketch():
        return fresh_sigs().count()

    timed("sketch_murmur", q_sketch)

    # heaviest new-moltype path (r4): 6-frame DNA->protein translation
    # sketching over the DNA-ized text (same mapping as the gate)
    def q_sketch_translate():
        from sourmash_spark.session import ensure_parallelism

        p = replace(
            SketchParams(
                ksize=entrymod.PROT_KSIZE, scaled=entrymod.PROT_SCALED,
                moltype="protein", translate=True,
            ),
            seed=next(_seed_tick),
        )
        docs = entrymod._docs(spark, sf_dir).select(
            F.col("doc_id").alias("sig_id"),
            F.translate(
                F.upper(F.col("text")), entrymod._LETTERS, entrymod._DNAIZE
            ).alias("content"),
        )
        return sketch_signatures(
            ensure_parallelism(docs), p, keep_cols=["sig_id"]
        ).count()

    timed("sketch_translate", q_sketch_translate)

    # full pipeline: sketch -> bands -> candidates -> verify -> cluster
    def q_pipeline():
        sigs = fresh_sigs().cache()
        bands = band_signatures(sigs, L, scaled=P.scaled)
        cands = candidate_pairs(bands, bucket_cap=500)
        edges = verify_pairs(cands, sigs, scaled=P.scaled, ksize=P.ksize,
                             threshold=0.5)
        n = assign_clusters(sigs, edges).count()
        sigs.unpersist()
        return n

    timed("pipeline_cluster", q_pipeline)

    # operator-level timings run on a materialized signatures table (the
    # checkpoint-table analog) — sketching is already timed above
    sigs_cached = entrymod._murmur_sigs(spark, sf_dir).cache()
    n_sigs_cached = sigs_cached.count()

    # scaled passed explicitly: skips the plan-build metadata job (the r3
    # execution-time uniformity assertion makes this safe); n_sigs passed
    # explicitly: proves the df-cap a no-op with zero probe work (r4), so
    # this is the uncapped join0 plan with the cap still default-on
    timed(
        "compare_all_pairs",
        lambda: compare_all_pairs(
            sigs_cached, threshold=0.25, scaled=P.scaled,
            n_sigs=n_sigs_cached,
        ).count(),
    )

    # many-query gather (r5): 32 composite queries decomposed in parallel
    # via applyInPandas — the per-round regression track for the gather
    # family (the r5 128-query sf1 distribution: BENCH/MULTIGATHER_sf1.json)
    def q_multigather():
        from sourmash_spark.operators.gather import multigather

        queries_df = (
            sigs_cached.filter(F.col("sig_id") < 128)
            .select(
                F.floor(F.col("sig_id") / 4).cast("long").alias("query_id"),
                F.explode("hashes").alias("h"),
            )
            .groupBy("query_id")
            .agg(F.array_sort(F.collect_set("h")).alias("hashes"))
        )
        return multigather(
            queries_df, sigs_cached, scaled=P.scaled, ksize=P.ksize,
            threshold_bp=3 * P.scaled,
        ).count()

    timed("multigather_32q", q_multigather)

    from sourmash_spark.session import ensure_parallelism

    docs = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )

    def q_simhash():
        sims = dedup_ops.simhash(docs).cache()
        n = dedup_ops.simhash_pairs(sims, max_hamming=12).count()
        sims.unpersist()
        return n

    timed("simhash_pairs", q_simhash)
    timed(
        "ngram_jaccard",
        lambda: dedup_ops.ngram_jaccard_pairs(docs, n=3, threshold=0.2).count(),
    )
    # exact suffix-array-substring removal (late r5): stride-1 hashed-gram
    # marking + island merge + fold reassembly — O(total chars) rows,
    # the linear-cost exact complement to the winnowing approximation
    # NOTE: collect()[0][0], not .agg(...).count() — Spark's one-row-plan
    # rule knows a grouping-less aggregate returns exactly one row and
    # constant-folds a count() on top of it, skipping the whole operator
    timed(
        "substring_exact",
        lambda: dedup_ops.exact_substring_removal(docs, min_len=40)
        .agg(F.sum("n_removed"))
        .collect()[0][0],
    )
    timed("text_quality", lambda: text_ops.quality_score(docs).count())
    timed(
        "winnow", lambda: text_ops.winnow_fingerprints(docs, k=8, window=4).count()
    )

    embs = ensure_parallelism(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    from sourmash_spark.operators.ann import cosine_topk

    timed(
        "ann_topk",
        lambda: cosine_topk(
            embs,
            embs.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            k=5,
        ).count(),
    )

    from sourmash_spark.operators.ann import (
        embedding_neardup_lsh,
        neardup_lsh_params,
        perturb_copies,
    )

    aug = perturb_copies(embs, n_copies=50, dim=entrymod.EMB_DIM).cache()
    n_aug = aug.count()
    # (T, q) scale with N (q ~ log2 N keeps bucket population constant,
    # T holds recall) — at sf0.1 this IS the published (8, 6) base config
    lsh_t, lsh_q = neardup_lsh_params(
        n_aug, threshold=0.9,
        base_tables=entrymod.EMB_TABLES, base_planes=entrymod.EMB_PLANES,
    )
    timed(
        "emb_neardup_lsh",
        lambda: embedding_neardup_lsh(
            aug, threshold=0.9, n_tables=lsh_t,
            n_planes=lsh_q, dim=entrymod.EMB_DIM,
        ).count(),
    )
    # NOTE: aug stays cached through the timing sweeps (queries execute
    # interleaved after registration); Spark frees it with the session.

    timed(
        "tax_metagenome",
        lambda: entrymod.queries()["tax_metagenome_murmur"](spark, sf_dir).count(),
    )

    # r3 additions: LCA classify, Gopher quality, semantic dedup
    timed(
        "lca_classify",
        lambda: entrymod.queries()["lca_classify_murmur"](spark, sf_dir).count(),
    )
    timed(
        "gopher_quality",
        lambda: text_ops.gopher_quality(docs).count(),
    )

    # the deploy-shaped chained filter (jobs/quality_filter_job.py):
    # exact dedup -> Gopher quality -> decontamination vs the deterministic
    # benchmark subset, surviving-row count
    def q_quality_chain():
        bench = docs.filter(F.col("doc_id") % 97 == 3).select(
            F.col("doc_id").alias("bench_id"), "text"
        )
        groups = dedup_ops.exact_dedup(docs)
        dup_ids = groups.select(
            F.explode("dup_ids").alias("doc_id"), "canonical_id"
        ).filter(F.col("doc_id") != F.col("canonical_id")).select("doc_id")
        d1 = docs.join(F.broadcast(dup_ids), "doc_id", "left_anti")
        bad_q = text_ops.gopher_quality(d1).filter(~F.col("passes")).select(
            "doc_id"
        )
        d2 = d1.join(bad_q, "doc_id", "left_anti")
        contaminated = text_ops.decontaminate(d2, bench, n=8).select("doc_id")
        return d2.join(contaminated, "doc_id", "left_anti").count()

    timed("quality_chain", q_quality_chain)
    from sourmash_spark.operators.ann import semantic_dedup

    # n_cells grows with the table so per-cell population (and the
    # within-cell pair volume) stays ~constant — the operator's documented
    # scale knob; a fixed cell count at 10x data costs 10x pairs per cell
    n_aug = aug.count()
    sd_cells = max(16, n_aug // 128)
    timed(
        "semantic_dedup",
        lambda: semantic_dedup(aug, n_cells=sd_cells, eps=0.9).count(),
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    timed(
        "rel_q1",
        lambda: li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count("*"))
        .count(),
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    timed(
        "events_windowed",
        lambda: ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*"))
        .count(),
    )

    # one untimed warmup sweep (codegen compile, broadcast build, UDF
    # worker spin-up), then interleaved timed sweeps: best-of-reps
    best: dict[str, float] = {}
    n_docs = 0
    for sweep in range(reps + 1):
        for name, fn in jobs:
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            if sweep > 0:
                best[name] = min(best.get(name, float("inf")), dt)
            if name == "sketch_murmur":
                n_docs = out
    qtimes = {name: round(best[name], 3) for name, _ in jobs}
    sigs_per_sec = round(n_docs / qtimes["sketch_murmur"], 1)

    total = round(sum(qtimes.values()), 3)
    payload = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": sf_dir,
        "cpus": cpus,
        "n_docs": n_docs,
        "sigs_per_sec": sigs_per_sec,
        "protocol": (
            f"1 untimed warmup sweep + best-of-{reps} "
            "interleaved sweeps"
        ),
        # host-speed normalizer (clean window ~0.65-1.0 s; see BASELINE.md)
        "host_calibration_sec": {
            "before": cal_before,
            "after": host_calibration(),
        },
    }
    # two-scale block (VERDICT r3 #4): when this is the default sf0.1 run
    # and a committed sf1 measurement exists (tools/bench_sf1.py), embed it
    # plus the per-query 10x-data ratios so scale-up regressions diff
    # mechanically from ONE json
    sf1_path = os.path.join(os.path.dirname(__file__), "BENCH", "BENCH_sf1.json")
    if sf_dir.rstrip("/").endswith("sf0.1") and os.path.exists(sf1_path):
        try:
            with open(sf1_path) as f:
                sf1 = json.load(f)
            payload["sf1_queries"] = sf1.get("queries", {})
            payload["sf1_suite_wall"] = sf1.get("value")
            payload["scaleup_ratio_10x"] = {
                q: round(sf1["queries"][q] / t, 2)
                for q, t in qtimes.items()
                if q in sf1.get("queries", {}) and t > 0
            }
        except (ValueError, KeyError):
            pass
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
