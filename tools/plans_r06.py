"""Capture .explain('formatted') for the round-6 optimization targets.

Writes plans/r06/<query>_{before|after}.txt (suffix from argv[1], default
'before').  Mirrors the frozen bench.py construction of each query so the
plans are the ones the driver's bench actually executes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(ROOT))

SUFFIX = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2:])
OUT_DIR = str(ROOT / "plans/r06")
os.makedirs(OUT_DIR, exist_ok=True)


def main() -> None:
    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from sourmash_spark.session import get_spark, ensure_parallelism
    from sourmash_spark.operators import dedup as dedup_ops
    from sourmash_spark.operators import text as text_ops
    from sourmash_spark.operators.compare import compare_all_pairs
    from sourmash_spark.operators.lsh import (
        band_signatures,
        candidate_pairs,
        verify_pairs,
    )
    from sourmash_spark.operators.ann import (
        cosine_topk,
        embedding_neardup_lsh,
        neardup_lsh_params,
        perturb_copies,
        semantic_dedup,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plans_r06", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    P = entrymod.MURMUR_PARAMS
    L = entrymod.MURMUR_LSH

    sigs = entrymod._murmur_sigs(spark, sf_dir).cache()
    n_sigs = sigs.count()
    docs = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    embs = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    aug = perturb_copies(embs, n_copies=50, dim=entrymod.EMB_DIM).cache()
    n_aug = aug.count()
    lsh_t, lsh_q = neardup_lsh_params(
        n_aug, threshold=0.9,
        base_tables=entrymod.EMB_TABLES, base_planes=entrymod.EMB_PLANES,
    )

    plans: dict[str, object] = {}

    plans["compare_all_pairs"] = compare_all_pairs(
        sigs, threshold=0.25, scaled=P.scaled, n_sigs=n_sigs
    )
    plans["ngram_jaccard"] = dedup_ops.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2
    )
    sims = dedup_ops.simhash(docs)
    plans["simhash"] = sims
    plans["simhash_pairs"] = dedup_ops.simhash_pairs(
        sims, max_hamming=12
    )
    plans["substring_exact"] = dedup_ops.exact_substring_removal(
        docs, min_len=40
    ).agg(F.sum("n_removed"))
    bands = band_signatures(sigs, L, scaled=P.scaled)
    cands = candidate_pairs(bands, bucket_cap=500)
    plans["pipeline_edges"] = verify_pairs(
        cands, sigs, scaled=P.scaled, ksize=P.ksize, threshold=0.5
    )
    plans["emb_neardup_lsh"] = embedding_neardup_lsh(
        aug, threshold=0.9, n_tables=lsh_t, n_planes=lsh_q,
        dim=entrymod.EMB_DIM,
    )
    sd_cells = max(16, n_aug // 128)
    plans["semantic_dedup"] = semantic_dedup(aug, n_cells=sd_cells, eps=0.9)
    plans["gopher_quality"] = text_ops.gopher_quality(docs)
    plans["ann_topk"] = cosine_topk(
        embs,
        embs.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=5,
    )
    plans["tax_metagenome"] = entrymod.queries()["tax_metagenome_murmur"](
        spark, sf_dir
    )
    plans["text_quality"] = text_ops.quality_score(docs)

    # quality_chain (mirrors bench.py q_quality_chain)
    bench_docs = docs.filter(F.col("doc_id") % 97 == 3).select(
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
    contaminated = text_ops.decontaminate(d2, bench_docs, n=8).select("doc_id")
    plans["quality_chain"] = d2.join(contaminated, "doc_id", "left_anti")

    for name, df in plans.items():
        if ONLY and name not in ONLY:
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{name}_{SUFFIX}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
