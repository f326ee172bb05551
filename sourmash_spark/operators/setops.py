"""Signature set operations — `sig merge/intersect`, downsample,
flatten, abundance filters (reference: minhash.rs:432-516,
sig/__main__.py:459-923) as DataFrame transforms.

All hash arrays here are scaled-mode (values < 2**63, non-negative int64),
so `array_sort`/comparisons are unsigned-correct.  Group-wise variants use
explode + groupBy (map-side partial aggregation applies); per-row variants
are pure column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from .kernels import downsample_hashes, scaled_max_hash_lit


def merge_signatures(
    sigs: DataFrame, group_cols: list[str], track_abundance: bool = False
) -> DataFrame:
    """Union all sketches per group; abundances summed on collision
    (minhash.rs:432-516).  One shuffle on (group, hashval) with map-side
    combine; re-collect keeps unsigned-sorted order."""
    exploded = sigs.select(
        *group_cols,
        F.explode(F.arrays_zip(F.col("hashes").alias("h"), F.col("abunds").alias("a"))).alias("z"),
    ).select(*group_cols, F.col("z.h").alias("hashval"), F.col("z.a").alias("abund"))
    agg = exploded.groupBy(*group_cols, "hashval").agg(
        F.sum("abund").alias("abund")
    )
    pairs = agg.groupBy(*group_cols).agg(
        F.array_sort(
            F.collect_list(F.struct("hashval", "abund"))
        ).alias("pairs")
    )
    out = pairs.select(
        *group_cols,
        F.col("pairs.hashval").alias("hashes"),
        (
            F.col("pairs.abund")
            if track_abundance
            else F.transform(F.col("pairs.abund"), lambda _: F.lit(1).cast("long"))
        ).alias("abunds"),
    )
    return out.withColumn("n_hashes", F.size("hashes").cast("int"))


def intersect_signatures(sigs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Intersection of all sketches per group (abundances dropped — the
    reference's `sig intersect` semantics, sig/__main__.py:526-592):
    keep hashes present in every sketch of the group."""
    n_per_group = sigs.groupBy(*group_cols).agg(F.count("*").alias("_n_sigs"))
    exploded = sigs.select(*group_cols, "sig_id", F.explode("hashes").alias("hashval"))
    counts = exploded.groupBy(*group_cols, "hashval").agg(
        F.countDistinct("sig_id").alias("_cnt")
    )
    kept = counts.join(n_per_group, group_cols).filter(
        F.col("_cnt") == F.col("_n_sigs")
    )
    out = kept.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list("hashval")).alias("hashes")
    )
    return out.withColumn(
        "abunds", F.transform("hashes", lambda _: F.lit(1).cast("long"))
    ).withColumn("n_hashes", F.size("hashes").cast("int"))


def flatten(sigs: DataFrame) -> DataFrame:
    """Drop abundances (minhash.py:721-738)."""
    return sigs.withColumn(
        "abunds", F.transform("hashes", lambda _: F.lit(1).cast("long"))
    )


def abundance_filter(
    sigs: DataFrame, min_abund: int = 1, max_abund: int | None = None
) -> DataFrame:
    """Keep hashes with min_abund <= abund <= max_abund (`sig filter`,
    sig/__main__.py:830-878) — higher-order functions, no shuffle."""
    hi = F.lit(max_abund if max_abund is not None else (1 << 62))
    z = F.filter(
        F.arrays_zip(F.col("hashes").alias("h"), F.col("abunds").alias("a")),
        lambda x: (x["a"] >= min_abund) & (x["a"] <= hi),
    )
    return (
        sigs.withColumn("_z", z)
        .withColumn("hashes", F.col("_z.h"))
        .withColumn("abunds", F.col("_z.a"))
        .withColumn("n_hashes", F.size("hashes").cast("int"))
        .drop("_z")
    )


def downsample_signatures(sigs: DataFrame, new_scaled: int) -> DataFrame:
    """Downsample every sketch to a larger scaled — narrow projection
    (minhash.rs:777-798); abundances kept aligned.  new_scaled == 2 uses
    the exact unsigned-boundary predicate (see kernels.downsample_hashes):
    max_hash = 2**63 is -2**63 as int64, so the signed range test alone
    would drop every hash."""
    if new_scaled == 2:
        lo = F.lit(-(2**63)).cast("long")
        pred = lambda x: (x["h"] >= 0) | (x["h"] == lo)  # noqa: E731
    else:
        pred = lambda x: (x["h"] >= 0) & (  # noqa: E731
            x["h"] <= scaled_max_hash_lit(new_scaled)
        )
    z = F.filter(
        F.arrays_zip(F.col("hashes").alias("h"), F.col("abunds").alias("a")),
        pred,
    )
    return (
        sigs.withColumn("_z", z)
        .withColumn("hashes", F.col("_z.h"))
        .withColumn("abunds", F.col("_z.a"))
        .withColumn("n_hashes", F.size("hashes").cast("int"))
        .withColumn("scaled", F.lit(new_scaled).cast("long"))
        .drop("_z")
    )


def overlap_report(
    sigs: DataFrame, sig_id_a, sig_id_b, scaled: int, sig_id: str = "sig_id"
) -> DataFrame:
    """`sig overlap` — detailed two-signature report (sig/__main__.py:379-456):
    jaccard, both containments, set sizes, disjoint counts, union size."""
    from . import kernels

    a = sigs.filter(F.col(sig_id) == sig_id_a).select(
        F.col("hashes").alias("ha"), F.col("n_hashes").alias("size_a")
    )
    b = sigs.filter(F.col(sig_id) == sig_id_b).select(
        F.col("hashes").alias("hb"), F.col("n_hashes").alias("size_b")
    )
    ha, hb = F.col("ha"), F.col("hb")
    return a.crossJoin(b).select(
        F.lit(sig_id_a).alias("sig_id_a"),
        F.lit(sig_id_b).alias("sig_id_b"),
        kernels.jaccard(ha, hb).alias("jaccard"),
        kernels.contained_by(ha, hb, F.lit(scaled)).alias(
            "containment_a_in_b"
        ),
        kernels.contained_by(hb, ha, F.lit(scaled)).alias(
            "containment_b_in_a"
        ),
        "size_a",
        "size_b",
        kernels.intersect_size(ha, hb).alias("intersect_hashes"),
        kernels.union_size(ha, hb).alias("union_hashes"),
        F.size(F.array_except(ha, hb)).alias("only_in_a"),
        F.size(F.array_except(hb, ha)).alias("only_in_b"),
    )


def inflate(sigs: DataFrame, donor_hashes: Column, donor_abunds: Column) -> DataFrame:
    """Take abundances from a donor sketch over the intersection
    (minhash.rs:800-829): keep only hashes present in donor, with donor's
    abundances."""
    m = F.map_from_arrays(donor_hashes, donor_abunds)
    z = F.filter(F.col("hashes"), lambda h: m[h].isNotNull())
    return (
        sigs.withColumn("hashes", z)
        .withColumn("abunds", F.transform(F.col("hashes"), lambda h: m[h]))
        .withColumn("n_hashes", F.size("hashes").cast("int"))
    )
