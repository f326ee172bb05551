"""Synthesize a larger scale factor deterministically from sf0.1 — no
external data (north rule).  Default: 10x -> "sf1" (50k docs, 6M lineitem).

Scaling recipe per table (copy c = 0 keeps the originals bit-identical):
* documents: ids strided; for c > 0 the word order is scrambled by sorting
  on xxhash64(word || copy) — the SAME word sorts identically across docs,
  so planted near-duplicate pairs remain near-duplicates WITHIN a copy
  while sharing almost no char-shingles ACROSS copies (the corpus grows
  without turning into a 10-way duplicate farm).
* embeddings: ids strided; for c > 0 a deterministic sin-hash perturbation
  is added and the vector renormalized (cosine structure within a copy is
  preserved approximately, across copies destroyed).
* lineitem / events: ids strided, other columns kept.

Usage: python tools/make_sf_big.py [factor] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from sourmash_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SRC_SF", "/root/testdata/sf0.1")
STRIDE = 10_000_000


def _copies(spark, n):
    return spark.range(n).select(F.col("id").cast("long").alias("_c"))


def scramble_words(text_col, copy_col):
    """Deterministic per-copy text perturbation keyed by (word, copy):
    (a) ~40% of words are rewritten (word -> word~copy) so the word
    MULTISET differs across copies (bag-of-words ops like SimHash must not
    see the copies as identical), and (b) word order is scrambled by
    sorting on xxhash64(word || copy).  Both transforms are functions of
    (word, copy) alone, so near-duplicate documents receive near-identical
    transforms WITHIN a copy and the planted dup structure is preserved."""
    words = F.split(text_col, " ")
    keyed = F.transform(
        words,
        lambda w: F.struct(
            F.xxhash64(F.concat(w, F.lit("#"), copy_col.cast("string"))).alias(
                "k"
            ),
            F.when(
                F.pmod(
                    F.xxhash64(
                        F.concat(w, F.lit("@"), copy_col.cast("string"))
                    ),
                    F.lit(5),
                )
                < 2,
                F.concat(w, F.lit("~"), copy_col.cast("string")),
            ).otherwise(w).alias("w"),
        ),
    )
    return F.array_join(
        F.transform(F.array_sort(keyed), lambda s: s["w"]), " "
    )


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "testdata_sf1")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("make_sf_big")
    spark.sparkContext.setLogLevel("ERROR")
    copies = _copies(spark, factor)

    docs = spark.read.parquet(f"{SRC}/documents.parquet").crossJoin(copies)
    docs.select(
        (F.col("doc_id") + F.col("_c") * STRIDE).alias("doc_id"),
        F.when(F.col("_c") == 0, F.col("text"))
        .otherwise(scramble_words(F.col("text"), F.col("_c")))
        .alias("text"),
        "lang",
        "source",
        F.length(
            F.when(F.col("_c") == 0, F.col("text")).otherwise(
                scramble_words(F.col("text"), F.col("_c"))
            )
        ).cast("long").alias("n_chars"),
    ).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    embs = spark.read.parquet(f"{SRC}/embeddings.parquet").crossJoin(copies)
    # Per-copy ORTHOGONAL transform (c-seeded dimension permutation + sign
    # flips) instead of additive noise: orthogonal maps preserve every
    # within-copy cosine BIT-exactly (the planted near-dup structure
    # replicates per copy) while cross-copy cosines become ~random.  The
    # r4 additive-noise version left every copy angularly correlated with
    # copy 0, so the corpus grew ~factor x MORE DUP-DENSE instead of
    # factor x LARGER — true >=0.9 pairs grew ~500x at 30x N and the ANN
    # scale study measured dup-density growth, not corpus growth.
    idx = F.sequence(F.lit(0), F.size("embedding") - 1)
    # permutation: dim j reads source dim perm[j], where perm = indices
    # sorted by xxhash64(copy, j) — a c-seeded permutation, identity-free
    # for c > 0 and never applied at c == 0
    perm = F.transform(
        F.array_sort(
            F.transform(
                idx,
                lambda j: F.struct(
                    F.xxhash64(F.col("_c"), j).alias("k"), j.alias("j")
                ),
            )
        ),
        lambda s: s["j"],
    )
    transformed = F.zip_with(
        perm,
        idx,
        lambda src, j: F.element_at(F.col("embedding"), src + 1)
        * F.when(F.xxhash64(F.col("_c"), j, F.lit("s")) % 2 == 0, 1.0)
        .otherwise(-1.0),
    )
    vec = F.when(F.col("_c") == 0, F.col("embedding")).otherwise(
        F.transform(transformed, lambda x: x.cast("float"))
    )
    embs.select(
        (F.col("vec_id") + F.col("_c") * STRIDE).alias("vec_id"),
        vec.alias("embedding"),
        "label",
    ).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    li = spark.read.parquet(f"{SRC}/lineitem.parquet").crossJoin(copies)
    li.select(
        (F.col("l_orderkey") + F.col("_c") * STRIDE).alias("l_orderkey"),
        *[c for c in li.columns if c not in ("l_orderkey", "_c")],
    ).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )

    ev = spark.read.parquet(f"{SRC}/events.parquet").crossJoin(copies)
    ev.select(
        (F.col("event_id") + F.col("_c") * STRIDE).alias("event_id"),
        *[c for c in ev.columns if c not in ("event_id", "_c")],
    ).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )

    for t in ("documents", "embeddings", "lineitem", "events"):
        n = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        print(f"{t}: {n} rows")
    spark.stop()


if __name__ == "__main__":
    main()
