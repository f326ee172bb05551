"""Round-6 optimization micro-bench: noop-sink isolated sub-stage timings
for the heavy bench queries (guide §1.4).  NOT the driver's bench —
bench.py is frozen; this file exists to attribute time inside each query.

Usage: python bench_extra.py [stage ...]   (default: all stages)
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
Prints one line per stage: name, best, samples.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import pyspark.sql.functions as F

    import __spark_entry__ as entrymod
    from sourmash_spark.session import get_spark, ensure_parallelism
    from sourmash_spark.operators import dedup as dedup_ops
    from sourmash_spark.operators import text as text_ops
    from sourmash_spark.operators.cluster import assign_clusters
    from sourmash_spark.operators.compare import compare_all_pairs
    from sourmash_spark.operators.lsh import (
        band_signatures,
        candidate_pairs,
        verify_pairs,
    )
    from sourmash_spark.operators.ann import (
        cosine_topk,
        embedding_neardup_lsh,
        hyperplane_lsh_tables,
        ivf_assign,
        neardup_lsh_params,
        perturb_copies,
        semantic_dedup,
    )

    spark = get_spark(
        "bench_extra_r06", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
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
    sd_cells = max(16, n_aug // 128)
    sims_cached = dedup_ops.simhash(docs).cache()
    sims_cached.count()

    stages: list[tuple[str, object]] = []

    def stage(name, fn):
        stages.append((name, fn))

    # --- semantic_dedup decomposition ---
    stage(
        "semdedup/cells_only",
        lambda: noop(
            ivf_assign(
                aug,
                aug.filter(F.col("vec_id") < sd_cells).select(
                    F.col("vec_id").alias("cell"), "embedding"
                ),
                id_col="vec_id", vec_col="embedding", n_probe=1,
            )
        ),
    )
    stage(
        "semdedup/full",
        lambda: noop(semantic_dedup(aug, n_cells=sd_cells, eps=0.9)),
    )

    # --- pipeline decomposition (cached sigs — isolates post-sketch) ---
    bands = band_signatures(sigs, L, scaled=P.scaled)
    cands = candidate_pairs(bands, bucket_cap=500)
    edges = verify_pairs(cands, sigs, scaled=P.scaled, ksize=P.ksize,
                         threshold=0.5)
    stage("pipeline/bands", lambda: noop(bands))
    stage("pipeline/cands", lambda: noop(cands))
    stage("pipeline/edges", lambda: noop(edges))
    stage("pipeline/cc", lambda: assign_clusters(sigs, edges).count())

    # --- simhash decomposition ---
    stage("simhash/agg", lambda: noop(dedup_ops.simhash(docs)))
    stage(
        "simhash/pairs_cachedsims",
        lambda: noop(dedup_ops.simhash_pairs(sims_cached, max_hamming=12)),
    )

    # --- substring decomposition ---
    def sub_grams_dup():
        grams = dedup_ops._doc_grams(docs, 40, "doc_id", "text", True)
        dup = (
            grams.groupBy("_k").agg(F.count("*").alias("_occ"))
            .filter(F.col("_occ") >= 2)
        )
        noop(dup)

    stage("substring/grams_dupagg", sub_grams_dup)
    stage(
        "substring/full",
        lambda: dedup_ops.exact_substring_removal(docs, min_len=40)
        .agg(F.sum("n_removed")).collect(),
    )

    # --- emb neardup decomposition ---
    stage(
        "emblsh/tables_only",
        lambda: noop(
            hyperplane_lsh_tables(
                aug, lsh_t, lsh_q, entrymod.EMB_DIM
            )
        ),
    )
    stage(
        "emblsh/full",
        lambda: noop(
            embedding_neardup_lsh(
                aug, threshold=0.9, n_tables=lsh_t, n_planes=lsh_q,
                dim=entrymod.EMB_DIM,
            )
        ),
    )

    # --- ngram / compare ---
    stage(
        "ngram/full",
        lambda: noop(dedup_ops.ngram_jaccard_pairs(docs, n=3, threshold=0.2)),
    )
    stage(
        "compare/full",
        lambda: noop(
            compare_all_pairs(
                sigs, threshold=0.25, scaled=P.scaled, n_sigs=n_sigs
            )
        ),
    )

    # --- gather family ---
    stage(
        "tax_metagenome/full",
        lambda: entrymod.queries()["tax_metagenome_murmur"](
            spark, sf_dir
        ).count(),
    )
    stage(
        "lca_classify/full",
        lambda: entrymod.queries()["lca_classify_murmur"](
            spark, sf_dir
        ).count(),
    )

    def q_multigather():
        from sourmash_spark.operators.gather import multigather

        queries_df = (
            sigs.filter(F.col("sig_id") < 128)
            .select(
                F.floor(F.col("sig_id") / 4).cast("long").alias("query_id"),
                F.explode("hashes").alias("h"),
            )
            .groupBy("query_id")
            .agg(F.array_sort(F.collect_set("h")).alias("hashes"))
        )
        return multigather(
            queries_df, sigs, scaled=P.scaled, ksize=P.ksize,
            threshold_bp=3 * P.scaled,
        ).count()

    stage("multigather/full", q_multigather)

    # --- gopher / quality chain pieces ---
    stage("gopher/full", lambda: noop(text_ops.gopher_quality(docs)))

    results = {}
    for name, fn in stages:
        if only and not any(name.startswith(o) for o in only):
            continue
        samples = []
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            fn()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = {"best": min(samples), "samples": samples}
        print(f"{name:28s} best={min(samples):7.3f}  {samples}")
    print(json.dumps({"sf": sf_dir, "stages": results}))
    spark.stop()


if __name__ == "__main__":
    main()
