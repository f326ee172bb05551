"""All-pairs compare — the reference's `sourmash compare` (commands.py:38-303,
compare.py:14-187) re-expressed as a distributed plan.

The reference materializes a dense N x N numpy matrix on one node.  At 10^12
sketches that is impossible; instead we emit the **long-form sparse matrix**
`(sig_id_a, sig_id_b, similarity, ...)` built from an inverted-index
self-join (the same candidate-generation SQL the reference's own
SqliteIndex uses: SELECT sketch_id, COUNT(hashval) ... GROUP BY sketch_id,
sqlite_index.py:612-618).  Pairs sharing zero hashes never materialize.

Scale levers:
* `df_cap` drops hashes whose document frequency exceeds a cap before the
  self-join (boilerplate guard — an O(df^2) blowup otherwise);
* AQE skew-join handles residual bucket skew;
* a dense crossJoin variant exists only for tiny-N parity testing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
import pyspark.sql.functions as F

from . import kernels

# Default document-frequency cap for the inverted-index pair joins.  A key
# (hash/shingle/gram) present in df documents contributes O(df^2) pair rows
# before any filter — the one remaining quadratic blowup at corpus scale —
# and a key shared by >10k documents is boilerplate, not evidence of
# near-duplication.  ON by default; pass df_cap=0 to disable, and pass
# `stats` to cap_postings / shared_key_pairs for the dropped volume.
DEFAULT_DF_CAP = 10_000


def cap_postings(
    p: DataFrame,
    key_cols: list[str],
    df_cap: int,
    n_ids: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Drop keys held by more than `df_cap` ids from a postings DataFrame —
    the boilerplate guard applied before any pair self-join.

    `n_ids`: number of distinct ids in `p`, valid ONLY when every id
    contributes each key at most once (true for all in-package callers:
    sketch hashes are sets, gram/fingerprint arrays are array_distinct'd,
    band keys are one-per-(band,id)).  Then df <= n_ids for every key, so
    `n_ids <= df_cap` proves the cap is a no-op and no job runs.

    Otherwise ONE eager probe materializes the over-cap key set
    (localCheckpoint of a map-side combined count — usually an EMPTY
    result) and an Observation on it yields the dropped volume with that
    same action.  An empty hot set returns the postings untouched, so the
    pair join pays no cap overhead; a non-empty one is removed by a
    broadcast LEFT ANTI join against the checkpoint, which keeps NULL-key
    rows.  The hot set is bounded by total_postings / df_cap keys; only an
    adversarial corpus with ~10^8+ hot keys would outgrow the broadcast
    budget (swap in a shuffle semi-join on the keep set then — same rows).

    `stats` (optional dict) receives `dropped_keys` (keys over the cap) and
    `dropped_postings` (the rows they held) — silent truncation must be
    visible.
    """
    if not df_cap or (n_ids is not None and n_ids <= df_cap):
        if stats is not None:
            stats.update(dropped_keys=0, dropped_postings=0)
        return p
    obs = Observation()
    hot = (
        p.groupBy(*key_cols)
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .observe(
            obs,
            F.count("*").alias("dropped_keys"),
            F.coalesce(F.sum("df"), F.lit(0)).alias("dropped_postings"),
        )
        .localCheckpoint(eager=True)
    )
    dropped = obs.get
    if stats is not None:
        stats.update(dropped)
    if not dropped["dropped_keys"]:
        return p
    return p.join(F.broadcast(hot.select(*key_cols)), key_cols, "left_anti")


def shared_key_pairs(
    postings: DataFrame,
    key_cols: list[str],
    id_col: str,
    df_cap: int,
    n_ids: int | None = None,
    size_col: str | None = None,
    stats: dict | None = None,
    new_col: str | None = None,
) -> DataFrame:
    """The inverted-index self-join every pair operator shares — the
    reference's candidate SQL (postings joined on hashval, GROUP BY sketch
    pair, COUNT; sqlite_index.py:612-618).

    `postings` holds one row per (id, key).  Keys held by more than
    `df_cap` ids are removed first (cap_postings; `n_ids` and `stats` as
    there).  Output: (id_a, id_b, n_shared[, size_a, size_b]) with
    id_a < id_b; pairs sharing no key never materialize.

    `size_col` (a per-id column such as the set size) rides the GROUP KEY,
    not first() aggregates: it is functionally determined by the id pair,
    so the groups are unchanged and the aggregate keeps a single count
    buffer per group.

    `new_col` (a boolean column) keeps only pairs touching a flagged row —
    the incremental batch x corpus join.  Only flagged rows feed the left
    side, so pairs of two unflagged ids are never enumerated, and a pair of
    two flagged ids is counted once.
    """
    p = cap_postings(postings, key_cols, df_cap, n_ids=n_ids, stats=stats)
    cols = {"id": id_col, **({"size": size_col} if size_col else {})}
    sizes = ["size_a", "size_b"] if size_col else []

    def side(s: str) -> DataFrame:
        flag = [F.col(new_col).alias(f"new_{s}")] if new_col else []
        return p.select(
            *key_cols, *[F.col(c).alias(f"{n}_{s}") for n, c in cols.items()],
            *flag,
        )

    a, b = side("a"), side("b")
    lo = F.col("id_a") < F.col("id_b")
    if new_col is None:
        j = a.join(b, key_cols).filter(lo)
    else:
        j = (
            a.filter("new_a")
            .join(b, key_cols)
            .filter((F.col("id_a") != F.col("id_b")) & (lo | ~F.col("new_b")))
            .select(*[
                F.when(lo, F.col(f"{n}_{x}")).otherwise(F.col(f"{n}_{y}"))
                .alias(f"{n}_{x}")
                for n in cols for x, y in (("a", "b"), ("b", "a"))
            ])
        )
    return (
        j.groupBy("id_a", "id_b", *sizes)
        .agg(F.count("*").alias("n_shared"))
        .select("id_a", "id_b", "n_shared", *sizes)
    )


def compare_all_pairs(
    sigs: DataFrame,
    sig_id: str = "sig_id",
    threshold: float = 0.0,
    mode: str = "jaccard",
    scaled: int | None = None,
    df_cap: int = DEFAULT_DF_CAP,
    estimate_ani: bool = False,
    ksize: int = 21,
    n_sigs: int | None = None,
) -> DataFrame:
    """Long-form pairwise similarity over one signatures DataFrame.

    `n_sigs` (collection size, if the caller knows it) proves the df-cap a
    no-op when n_sigs <= df_cap without any probe work; left None it is
    counted alongside the existing metadata job (or by one narrow count
    when `scaled` is passed).

    EAGERNESS: unless both `scaled` and `n_sigs` are supplied (or
    `df_cap=0`), building this plan runs one-to-two small driver actions
    (a metadata agg and/or the cap_postings size probe) at CALL time, not
    first-action time.  Plan-composition contexts that must stay fully
    lazy should pass `scaled=..., n_sigs=...` or `df_cap=0`.

    `estimate_ani=True` appends the reference's `compare --estimate-ani`
    column (jaccard- or containment-derived ANI point per `mode`).

    Output: (sig_id_a, sig_id_b, intersect_hashes, size_a, size_b, and the
    requested score column) with sig_id_a < sig_id_b; pairs below
    `threshold` (or sharing no hash) are dropped.

    `df_cap` (default DEFAULT_DF_CAP, 0 disables) drops hashes present in
    more than df_cap sketches from the JOIN ONLY — set sizes stay those of
    the full sketches, so capped scores are a lower bound of the true
    scores (a boilerplate hash never inflates similarity).

    Mixed-resolution collections are downsampled to the common (max)
    scaled first — the reference's compare semantics
    (commands.py:165-197, flatten_and_downsample_scaled).

    mode: jaccard | containment (a in b) | max_containment | avg_containment
    """
    # passing `scaled` asserts a uniform resolution and skips the metadata
    # job below (a driver round-trip at plan-build time); the assertion is
    # enforced cheaply at execution — a mixed-resolution collection under a
    # caller-passed scaled would silently produce wrong similarities
    if scaled is not None and "scaled" in sigs.columns:
        from ..session import assert_column_constant

        sigs = assert_column_constant(
            sigs, "scaled", int(scaled),
            msg="compare_all_pairs(scaled=...) over a mixed-scaled "
            "collection: downsample first or omit `scaled`",
        )
    if scaled is None and "scaled" in sigs.columns:
        meta_aggs = [F.collect_set("scaled").alias("_s"),
                     F.count("*").alias("_n")]
        if "ksize" in sigs.columns:
            meta_aggs.append(F.countDistinct("ksize").alias("_k"))
        meta = sigs.agg(*meta_aggs).collect()[0]
        if n_sigs is None:
            n_sigs = int(meta["_n"])
        if "ksize" in sigs.columns and meta["_k"] > 1:
            # reference parity: different ksizes cannot be compared
            # (minhash.py mismatch TypeError)
            raise ValueError(
                "compare_all_pairs: signatures with different ksizes "
                "cannot be compared"
            )
        scaled_vals = list(meta["_s"])
        if len(scaled_vals) > 1:
            from .setops import downsample_signatures

            common = int(max(scaled_vals))
            sigs = downsample_signatures(sigs, common)
            scaled = common
        elif scaled_vals:
            scaled = int(scaled_vals[0])
    if df_cap and n_sigs is None:
        # one narrow count (cheaper than the probe's explode+shuffle pass);
        # scale callers pass n_sigs to skip even this
        n_sigs = sigs.count()
    pairs = shared_key_pairs(
        sigs.select(
            F.col(sig_id), F.col("n_hashes"),
            F.explode("hashes").alias("hashval"),
        ),
        ["hashval"], sig_id, df_cap, n_ids=n_sigs, size_col="n_hashes",
    ).withColumnsRenamed({
        "id_a": "sig_id_a", "id_b": "sig_id_b", "n_shared": "intersect_hashes",
    })
    inter = F.col("intersect_hashes")
    sa, sb = F.col("size_a"), F.col("size_b")
    if mode == "jaccard":
        score = kernels.jaccard_from_counts(inter, sa, sb)
    elif mode == "containment":
        score = kernels.containment_from_counts(inter, sa, F.lit(scaled))
    elif mode == "max_containment":
        score = kernels.max_containment_from_counts(inter, sa, sb, F.lit(scaled))
    elif mode == "avg_containment":
        score = (
            kernels.containment_from_counts(inter, sa, F.lit(scaled))
            + kernels.containment_from_counts(inter, sb, F.lit(scaled))
        ) / 2.0
    else:
        raise ValueError(f"unknown mode {mode}")
    out = pairs.withColumn(mode, score)
    if estimate_ani:
        # the reference's `compare --estimate-ani` matrix (commands.py
        # compare: ANI from the chosen similarity measure)
        ani = (
            kernels.jaccard_ani_point(F.col(mode), F.lit(ksize))
            if mode == "jaccard"
            else kernels.containment_ani_point(F.col(mode), F.lit(ksize))
        )
        out = out.withColumn("ani", ani)
    if threshold > 0.0:
        out = out.filter(F.col(mode) >= threshold)
    return out


def compare_dense(
    sigs: DataFrame, sig_id: str = "sig_id", mode: str = "jaccard",
    scaled: int | None = None,
) -> DataFrame:
    """Tiny-N parity path: explicit crossJoin + array kernels.  Includes
    zero-similarity pairs (like the reference's dense matrix).  Never use at
    scale."""
    a = sigs.select(
        F.col(sig_id).alias("sig_id_a"), F.col("hashes").alias("ha")
    )
    b = sigs.select(
        F.col(sig_id).alias("sig_id_b"), F.col("hashes").alias("hb")
    )
    pairs = a.crossJoin(b).filter(F.col("sig_id_a") < F.col("sig_id_b"))
    ha, hb = F.col("ha"), F.col("hb")
    if mode == "angular":
        aa = sigs.select(
            F.col(sig_id).alias("sig_id_a"), F.col("hashes").alias("ha"),
            F.col("abunds").alias("aa"),
        )
        bb = sigs.select(
            F.col(sig_id).alias("sig_id_b"), F.col("hashes").alias("hb"),
            F.col("abunds").alias("ab"),
        )
        return (
            aa.crossJoin(bb)
            .filter(F.col("sig_id_a") < F.col("sig_id_b"))
            .select(
                "sig_id_a",
                "sig_id_b",
                kernels.intersect_size(ha, hb).alias("intersect_hashes"),
                F.size(ha).alias("size_a"),
                F.size(hb).alias("size_b"),
                kernels.angular_similarity(
                    ha, F.col("aa"), hb, F.col("ab")
                ).alias("angular"),
            )
        )
    if mode == "jaccard":
        score = kernels.jaccard(ha, hb)
    elif mode == "containment":
        score = kernels.contained_by(ha, hb, F.lit(scaled))
    elif mode == "max_containment":
        score = kernels.max_containment(ha, hb, F.lit(scaled))
    elif mode == "avg_containment":
        score = kernels.avg_containment(ha, hb, F.lit(scaled))
    else:
        raise ValueError(f"unknown mode {mode}")
    return pairs.select(
        "sig_id_a",
        "sig_id_b",
        kernels.intersect_size(ha, hb).alias("intersect_hashes"),
        F.size(ha).alias("size_a"),
        F.size(hb).alias("size_b"),
        score.alias(mode),
    )
