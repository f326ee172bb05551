"""Dup-pair recall evidence: LSH pipeline vs the exact reference pair set.

Reference pair set = brute-force all-pairs jaccard >= threshold at the
identical shingle/scaled/seed config (the oracle the reference's own
compare would produce, validated bit-exact against the pure-Python oracle
in tests).  Appends the result to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(ROOT))


def main() -> None:
    from sourmash_spark.session import ensure_parallelism, get_spark
    from sourmash_spark.synth import synth_code_files
    from sourmash_spark.params import LSHParams, SketchParams
    from sourmash_spark.sketch import sketch_signatures
    from sourmash_spark.operators.compare import compare_all_pairs
    from sourmash_spark.operators.lsh import (
        band_signatures,
        candidate_pairs,
        verify_pairs,
    )
    from sourmash_spark.pipeline import dup_pair_recall

    P = SketchParams(ksize=21, scaled=50)
    L = LSHParams(
        num_bands=int(os.environ.get("RECALL_BANDS", "16")), band_size=2
    )
    threshold = 0.5

    spark = get_spark("recall", master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = synth_code_files(
        n_base=int(os.environ.get("RECALL_FAMILIES", "800")),
        seed=42, min_len=600, max_len=6000,
    )
    files = ensure_parallelism(
        spark.createDataFrame(corpus.code_files).withColumnRenamed(
            "file_id", "sig_id"
        )
    )
    sigs = sketch_signatures(files, P, keep_cols=["sig_id"]).cache()
    n = sigs.count()

    ref_pairs = compare_all_pairs(sigs, threshold=threshold).select(
        "sig_id_a", "sig_id_b"
    ).cache()
    n_ref = ref_pairs.count()

    bands = band_signatures(sigs, L, scaled=P.scaled)
    edges = verify_pairs(
        candidate_pairs(bands, bucket_cap=500), sigs,
        scaled=P.scaled, ksize=P.ksize, threshold=threshold,
    ).cache()
    n_edges = edges.count()
    recall = dup_pair_recall(edges, ref_pairs)
    # verification is exact -> precision vs the reference pair set is 1.0
    extra = edges.join(
        ref_pairs, ["sig_id_a", "sig_id_b"], "left_anti"
    ).count()

    result = {
        "n_files": n,
        "reference_pairs": n_ref,
        "pipeline_pairs": n_edges,
        "recall": round(recall, 6),
        "false_positives_vs_reference": extra,
        "config": f"k={P.ksize} scaled={P.scaled} seed={P.seed} "
                  f"bands={L.num_bands}x{L.band_size} jaccard>={threshold}",
    }
    print(json.dumps(result))
    with open(ROOT / "BENCH/BASELINE.md", "a") as f:
        f.write(f"""
## Dup-pair recall (north-rule gate: >= 0.99)

Synthetic code corpus, {n} files (clone families with mutation rates
0/0.5%/2%/10% + shared boilerplate): LSH pipeline
({result["config"]}) vs the exact brute-force pair set at the identical
config.

- reference pairs: {n_ref}; pipeline pairs: {n_edges}
- **recall: {result["recall"]}**; false positives vs reference: {extra}
  (verification is exact, so 0 by construction)

Reproduce: `python tools/recall_report.py` (env: RECALL_FAMILIES).
""")
    spark.stop()


if __name__ == "__main__":
    main()
