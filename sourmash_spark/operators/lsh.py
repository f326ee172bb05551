"""LSH banding — the candidate-generation refinement the reference lacks
(its prefetch joins on *every* hash; see SURVEY §4).  Pure DataFrame ops.

Scheme: one-permutation hashing over the FracMinHash set.  The live hash
space [0, max_hash] is split into ``num_bands * band_size`` equal ranges;
each range contributes its minimum hash (or an EMPTY sentinel).  A band =
``band_size`` consecutive range-minima, reduced to one 64-bit band key with
xxhash64.  Two sketches become a candidate pair iff they share >= 1 band
key at the same band index.  `range_min_bands` builds the bands for any
hash space and key hash; its hash60 twin is `dedup.lsh_bands60`.

Why range-minima and not positional slices of the sorted sketch: positional
banding breaks under a single hash insertion (every later position shifts);
range-minima are stable under unrelated insertions, which is what gives the
S-curve recall 1-(1-s^r)^b its validity here.

Skew levers (boilerplate shingles / giant repos produce mega-buckets):
* `bucket_cap` drops band buckets with more than cap members before the
  pair join (an O(bucket^2) blowup otherwise) — `candidate_pairs`'
  `cap_stats` receives the dropped buckets and memberships for lineage,
  and `bucket_stats` gives the full per-bucket size distribution;
* the pair self-join runs under AQE skew-join splitting;
* band keys are uniformly distributed by construction (xxhash64), so the
  groupBy itself does not need salting — the cap bounds the worst bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..hashing import max_hash_for_scaled
from ..params import LSHParams

EMPTY_SENTINEL = -1  # never a valid scaled-mode hash (those are >= 0)


def range_min_bands(
    sigs: DataFrame,
    num_bands: int,
    band_size: int,
    width: int,
    band_key,
    sig_id: str = "sig_id",
) -> DataFrame:
    """(sig_id, band_idx, band_key) — one row per (sketch, non-empty band).

    Range i of ``num_bands * band_size`` covers hashes h with
    h // width == i; its minimum (or EMPTY_SENTINEL) is one band row, and
    ``band_size`` consecutive rows make a band.  ``band_key(band_idx,
    vals)`` reduces a band to its key, ``vals`` being the comma-joined
    range minima.  Narrow projection + one explode; no shuffle.  Rows whose
    sketch is empty produce all-sentinel bands and are filtered out (an
    empty sketch should never become a candidate of everything)."""
    m = num_bands * band_size
    rows = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        # range test in exact long arithmetic (h - h % w == i*w ≡ h//w == i
        # for h >= 0): float division would round near 2**61-magnitude
        # hashes and could disagree with integer `//` at range boundaries
        lambda i: F.coalesce(
            F.array_min(
                F.filter(
                    F.col("hashes"),
                    lambda h: (h - (h % F.lit(width)))
                    == i.cast("long") * F.lit(width),
                )
            ),
            F.lit(EMPTY_SENTINEL).cast("long"),
        ),
    )
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda j: F.slice(F.col("_rows"), j * band_size + 1, band_size),
    )
    return (
        sigs.filter(F.col("n_hashes") > 0)
        .select(F.col(sig_id), F.col("hashes"))
        .withColumn("_rows", rows)
        .select(
            sig_id,
            F.posexplode(bands).alias("band_idx", "band_vals"),
        )
        # all-empty bands carry no signal — drop them
        .filter(F.array_max("band_vals") != F.lit(EMPTY_SENTINEL).cast("long"))
        .select(
            sig_id,
            "band_idx",
            band_key(
                F.col("band_idx"),
                F.concat_ws(",", F.col("band_vals").cast("array<string>")),
            ).alias("band_key"),
        )
    )


def band_signatures(
    sigs: DataFrame,
    lsh: LSHParams,
    scaled: int,
) -> DataFrame:
    """(sig_id, band_idx, band_key): `range_min_bands` over the live hash
    space [0, max_hash] of `scaled`, keyed by xxhash64(band_idx, vals)."""
    m = lsh.num_bands * lsh.band_size
    max_hash = max_hash_for_scaled(scaled)  # < 2**63 for scaled >= 2
    return range_min_bands(
        sigs, lsh.num_bands, lsh.band_size, max_hash // m + 1,
        F.xxhash64,
    )


def bucket_stats(bands: DataFrame) -> DataFrame:
    """Per-bucket membership counts — the lineage/metrics feed for skew
    monitoring (north rule: measured, not assumed)."""
    return bands.groupBy("band_idx", "band_key").agg(
        F.count("*").alias("bucket_size")
    )


def candidate_pairs(
    bands: DataFrame,
    bucket_cap: int = 0,
    cap_stats: dict | None = None,
) -> DataFrame:
    """(sig_id_a, sig_id_b, n_shared_bands) with sig_id_a < sig_id_b.

    Self-join on (band_idx, band_key) — compare.shared_key_pairs; buckets
    above `bucket_cap` are removed first by its cap probe.  `cap_stats`
    receives the cap's drop counts (`dropped_keys` buckets holding
    `dropped_postings` band memberships)."""
    from .compare import shared_key_pairs

    return shared_key_pairs(
        bands, ["band_idx", "band_key"], "sig_id", bucket_cap, stats=cap_stats
    ).withColumnsRenamed({
        "id_a": "sig_id_a", "id_b": "sig_id_b", "n_shared": "n_shared_bands",
    })


def verify_pairs(
    candidates: DataFrame,
    sigs: DataFrame,
    scaled: int,
    ksize: int = 21,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact verification of candidate pairs — the edges table
    (FIXTURES.md §5; columns follow PrefetchResult semantics).

    Joins the candidates to the signatures' hash arrays once per side and
    computes exact jaccard/containment/ANI with array kernels (JVM-side);
    `threshold` keeps pairs with jaccard >= threshold.

    With a threshold, the joined pairs are first filtered on jaccard's
    size-only UPPER BOUND: |A∩B| can never exceed min(|A|,|B|), so
    jaccard at inter=min(|A|,|B|) bounds the real score from above
    (lossless — a pruned pair could not have passed the exact filter; at
    the boundary inter==min the bound IS the exact score, computed by the
    same kernel expression, so the comparison is bit-identical).  Pruned
    pairs skip the array-intersect kernel; on the perfbench
    `pipeline_ingest` corpus (seed 1) the bound keeps 3,856 of 5,741
    candidates (67%)."""
    from . import kernels

    sa = sigs.select(
        F.col("sig_id").alias("sig_id_a"), F.col("hashes").alias("_ha")
    )
    sb = sigs.select(
        F.col("sig_id").alias("sig_id_b"), F.col("hashes").alias("_hb")
    )
    ha, hb = F.col("_ha"), F.col("_hb")
    pairs = (
        candidates.join(sa, "sig_id_a")
        .join(sb, "sig_id_b")
        .withColumn("size_a", F.size(ha))
        .withColumn("size_b", F.size(hb))
    )
    if threshold > 0.0:
        na, nb = F.col("size_a"), F.col("size_b")
        pairs = pairs.filter(
            kernels.jaccard_from_counts(F.least(na, nb), na, nb) >= threshold
        )
    inter = kernels.intersect_size(ha, hb)
    out = (
        pairs.withColumn("intersect_hashes", inter.cast("long"))
        .select(
            "sig_id_a",
            "sig_id_b",
            kernels.jaccard_from_counts(
                F.col("intersect_hashes"), F.col("size_a"), F.col("size_b")
            ).alias("jaccard"),
            kernels.containment_from_counts(
                F.col("intersect_hashes"), F.col("size_a"), F.lit(scaled)
            ).alias("containment_a_in_b"),
            kernels.containment_from_counts(
                F.col("intersect_hashes"), F.col("size_b"), F.lit(scaled)
            ).alias("containment_b_in_a"),
            kernels.max_containment_from_counts(
                F.col("intersect_hashes"), F.col("size_a"), F.col("size_b"),
                F.lit(scaled),
            ).alias("max_containment"),
            "intersect_hashes",
            (F.col("intersect_hashes") * scaled).alias("intersect_bp"),
        )
        .withColumn(
            "ani_est",
            kernels.jaccard_ani_point(F.col("jaccard"), F.lit(ksize)),
        )
    )
    if threshold > 0.0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out
