"""Profile bench.py's leaves one at a time: best-of-N wall and output rows
of each named leaf, and with ``--plan DIR`` its physical plan.

Usage: python tools/profile_leaf.py [--plan DIR] [PREFIX ...]

A leaf runs when its name starts with one of the PREFIXes (none: every
leaf).  The table holds the 19 leaves exactly as bench.py builds them,
each timed with the same action, plus sub-stage leaves named
``<leaf>/<stage>`` that stop inside a heavy leaf:
pipeline_cluster/{bands,candidates,edges}, semantic_dedup/cells,
emb_neardup_lsh/tables, simhash_pairs/simhash and substring_exact/dup_grams.
The sub-stages start from the cached inputs (the pipeline's from the
cached signatures, so they time no sketching) and are timed by a count.

Env, as in bench.py: SPARK_GRAFT_SF_DIR (input tables, default sf0.1) and
SPARK_GRAFT_BENCH_REPS (timed sweeps, default 2).  The session is
`get_spark`'s default, ``local[<usable cores>]``; a session already
running in the process is used as it is and left running.

Protocol (bench.py's): one untimed warm-up sweep, then REPS interleaved
sweeps over the selected leaves.  Prints one JSON line:
``{"sf", "master", "reps", "leaves": {name: {"best", "samples", "rows"}}}``
where ``rows`` is what the warm-up's action returned (the row count; 1 for
substring_exact, whose action collects its one aggregate row).  ``--plan
DIR`` writes each leaf's ``explain("formatted")`` to ``DIR/<leaf>.txt``
from the warm-up sweep.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from collections.abc import Callable
from contextlib import redirect_stdout
from dataclasses import replace
from functools import cache
from itertools import count
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(ROOT))


def leaves(spark, sf_dir: str) -> tuple[dict, Callable[..., None]]:
    """(builds, release): ``builds`` maps each leaf name to a function
    returning the leaf's frame.  Shared inputs are read and cached on
    first use, so building the table starts no Spark job.  ``release()``
    unpersists the frames a build cached for one run (bench.py's
    cache/unpersist around a query); ``release(inputs=True)`` the shared
    inputs too."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from sourmash_spark.operators import dedup as dedup_ops
    from sourmash_spark.operators import text as text_ops
    from sourmash_spark.operators.ann import (
        cosine_topk,
        embedding_neardup_lsh,
        hyperplane_lsh_tables,
        ivf_assign,
        neardup_lsh_params,
        perturb_copies,
        semantic_dedup,
    )
    from sourmash_spark.operators.cluster import assign_clusters
    from sourmash_spark.operators.compare import compare_all_pairs
    from sourmash_spark.operators.gather import multigather
    from sourmash_spark.operators.lsh import (
        band_signatures,
        candidate_pairs,
        verify_pairs,
    )
    from sourmash_spark.params import SketchParams
    from sourmash_spark.session import ensure_parallelism
    from sourmash_spark.sketch import sketch_signatures

    P = entrymod.MURMUR_PARAMS
    L = entrymod.MURMUR_LSH
    seeds = count(1000)
    one_run: list = []
    shared: list = []

    def cached(df, pool=one_run):
        pool.append(df)
        return df.cache()

    def release(inputs: bool = False) -> None:
        for pool in (one_run, shared) if inputs else (one_run,):
            while pool:
                pool.pop().unpersist()

    @cache
    def sigs():
        df = cached(entrymod._murmur_sigs(spark, sf_dir), shared)
        return df, df.count()

    @cache
    def read(table):
        return spark.read.parquet(f"{sf_dir}/{table}.parquet")

    @cache
    def docs():
        return ensure_parallelism(read("documents"))

    @cache
    def embs():
        return ensure_parallelism(read("embeddings"))

    @cache
    def aug():
        """The near-dup-augmented embeddings with bench.py's N-scaled
        (tables, planes) and semantic_dedup cell count."""
        df = cached(
            perturb_copies(embs(), n_copies=50, dim=entrymod.EMB_DIM), shared
        )
        n = df.count()
        t, q = neardup_lsh_params(
            n, threshold=0.9,
            base_tables=entrymod.EMB_TABLES, base_planes=entrymod.EMB_PLANES,
        )
        return df, t, q, max(16, n // 128)

    def sketch(params, content):
        # a fresh seed per call: the same sketch plan would hit the cached
        # signatures table
        return sketch_signatures(
            ensure_parallelism(
                entrymod._docs(spark, sf_dir).select(
                    F.col("doc_id").alias("sig_id"), content.alias("content")
                )
            ),
            replace(params, seed=next(seeds)),
            keep_cols=["sig_id"],
        )

    def pipeline(fresh: bool):
        s = cached(sketch(P, F.col("text"))) if fresh else sigs()[0]
        bands = band_signatures(s, L, scaled=P.scaled)
        cands = candidate_pairs(bands, bucket_cap=500)
        edges = verify_pairs(
            cands, s, scaled=P.scaled, ksize=P.ksize, threshold=0.5
        )
        return s, bands, cands, edges

    def multigather_32q():
        s = sigs()[0]
        queries = (
            s.filter(F.col("sig_id") < 128)
            .select(
                F.floor(F.col("sig_id") / 4).cast("long").alias("query_id"),
                F.explode("hashes").alias("h"),
            )
            .groupBy("query_id")
            .agg(F.array_sort(F.collect_set("h")).alias("hashes"))
        )
        return multigather(
            queries, s, scaled=P.scaled, ksize=P.ksize,
            threshold_bp=3 * P.scaled,
        )

    def quality_chain():
        d = docs()
        bench = d.filter(F.col("doc_id") % 97 == 3).select(
            F.col("doc_id").alias("bench_id"), "text"
        )
        dup_ids = (
            dedup_ops.exact_dedup(d)
            .select(F.explode("dup_ids").alias("doc_id"), "canonical_id")
            .filter(F.col("doc_id") != F.col("canonical_id"))
            .select("doc_id")
        )
        d1 = d.join(F.broadcast(dup_ids), "doc_id", "left_anti")
        bad_q = text_ops.gopher_quality(d1).filter(~F.col("passes")).select(
            "doc_id"
        )
        d2 = d1.join(bad_q, "doc_id", "left_anti")
        contaminated = text_ops.decontaminate(d2, bench, n=8).select("doc_id")
        return d2.join(contaminated, "doc_id", "left_anti")

    def dup_grams():
        # the duplicate-set phase: bucketed gram counts merged per key,
        # one row per partition (what exact_substring_removal collects)
        counts = dedup_ops._gram_counts(docs(), 40, "text", True)
        return dedup_ops._merged_keys(counts, 2)

    def emb_neardup_lsh():
        a, t, q, _ = aug()
        return embedding_neardup_lsh(
            a, threshold=0.9, n_tables=t, n_planes=q, dim=entrymod.EMB_DIM
        )

    def semantic_cells():
        a, _, _, n_cells = aug()
        centroids = a.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cell"), "embedding"
        )
        return ivf_assign(a, centroids, "vec_id", "embedding")

    def gate(name):
        return lambda: entrymod.queries()[name](spark, sf_dir)

    def clusters():
        s, _, _, edges = pipeline(fresh=True)
        return assign_clusters(s, edges)

    def simhash_pairs():
        return dedup_ops.simhash_pairs(
            cached(dedup_ops.simhash(docs())), max_hamming=12
        )

    prot = SketchParams(
        ksize=entrymod.PROT_KSIZE, scaled=entrymod.PROT_SCALED,
        moltype="protein", translate=True,
    )
    dnaized = F.translate(
        F.upper(F.col("text")), entrymod._LETTERS, entrymod._DNAIZE
    )
    builds = {
        "sketch_murmur": lambda: sketch(P, F.col("text")),
        "sketch_translate": lambda: sketch(prot, dnaized),
        "pipeline_cluster": clusters,
        "pipeline_cluster/bands": lambda: pipeline(fresh=False)[1],
        "pipeline_cluster/candidates": lambda: pipeline(fresh=False)[2],
        "pipeline_cluster/edges": lambda: pipeline(fresh=False)[3],
        "compare_all_pairs": lambda: compare_all_pairs(
            sigs()[0], threshold=0.25, scaled=P.scaled, n_sigs=sigs()[1]
        ),
        "multigather_32q": multigather_32q,
        "simhash_pairs": simhash_pairs,
        "simhash_pairs/simhash": lambda: dedup_ops.simhash(docs()),
        "ngram_jaccard": lambda: dedup_ops.ngram_jaccard_pairs(
            docs(), n=3, threshold=0.2
        ),
        # the one-row aggregate is collected, not counted: Spark knows a
        # grouping-less aggregate has one row and folds a count over it
        "substring_exact": lambda: dedup_ops.exact_substring_removal(
            docs(), min_len=40
        ).agg(F.sum("n_removed")),
        "substring_exact/dup_grams": dup_grams,
        "text_quality": lambda: text_ops.quality_score(docs()),
        "winnow": lambda: text_ops.winnow_fingerprints(docs(), k=8, window=4),
        "ann_topk": lambda: cosine_topk(
            embs(),
            embs().filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            k=5,
        ),
        "emb_neardup_lsh": emb_neardup_lsh,
        "emb_neardup_lsh/tables": lambda: hyperplane_lsh_tables(
            *aug()[:3], entrymod.EMB_DIM
        ),
        "tax_metagenome": gate("tax_metagenome_murmur"),
        "lca_classify": gate("lca_classify_murmur"),
        "gopher_quality": lambda: text_ops.gopher_quality(docs()),
        "quality_chain": quality_chain,
        "semantic_dedup": lambda: semantic_dedup(
            aug()[0], n_cells=aug()[3], eps=0.9
        ),
        "semantic_dedup/cells": semantic_cells,
        "rel_q1": lambda: read("lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count("*")),
        "events_windowed": lambda: read("events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*")),
    }
    return builds, release


def run_leaf(builds: dict, name: str, plan_dir: str | None = None):
    """(wall seconds, action result) of one build + action of leaf
    `name` — bench.py's count, or a collect for the one-row
    substring_exact; with `plan_dir`, the frame's plan is written to
    ``plan_dir/<name>.txt``."""
    t0 = time.perf_counter()
    df = builds[name]()
    out = len(df.collect()) if name == "substring_exact" else df.count()
    wall = time.perf_counter() - t0
    if plan_dir:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = Path(plan_dir) / f"{name}.txt"
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(buf.getvalue())
    return wall, out


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("prefixes", nargs="*", metavar="PREFIX")
    ap.add_argument("--plan", metavar="DIR",
                    help="write each leaf's explain('formatted') here")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

    from pyspark.sql import SparkSession

    from sourmash_spark.session import get_spark

    owned = SparkSession.getActiveSession() is None
    spark = get_spark("profile_leaf")
    if owned:
        spark.sparkContext.setLogLevel("ERROR")
    builds, release = leaves(spark, sf_dir)
    names = [
        n for n in builds
        if not args.prefixes or any(n.startswith(p) for p in args.prefixes)
    ]
    if not names:
        ap.error(f"no leaf starts with {args.prefixes}")
    samples: dict[str, list[float]] = {n: [] for n in names}
    rows = {}
    for sweep in range(reps + 1):
        for name in names:
            wall, out = run_leaf(builds, name, None if sweep else args.plan)
            release()
            if sweep:
                samples[name].append(round(wall, 3))
            else:
                rows[name] = out
    payload = {
        "sf": sf_dir,
        "master": spark.sparkContext.master,
        "reps": reps,
        "leaves": {
            n: {"best": min(samples[n], default=None),
                "samples": samples[n], "rows": rows[n]}
            for n in names
        },
    }
    print(json.dumps(payload))
    release(inputs=True)
    if owned:
        spark.stop()
    return payload


if __name__ == "__main__":
    main()
