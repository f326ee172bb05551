"""Approximate-nearest-neighbor search over an embedding column.

Every vector primitive has ONE numpy kernel, a mapInArrow pass that sums
in Spark's HOF fold order (`_np_fold_dots`), so its results are bit-equal
to the DuckDB renderings below:

* `_plane_buckets` — random-hyperplane (SimHash-for-vectors) LSH: the
  sign pattern of the dots against deterministic planes derived from md5
  of "p<plane>:d<dim>" (the same hash60 arithmetic DuckDB can evaluate,
  so both engines and reruns derive identical planes without a stored
  model), one bucket per plane table, and for queries the multiprobe
  flips.  It serves `hyperplane_lsh_buckets`, `hyperplane_lsh_tables`
  (T tables of q planes: a pair is a candidate iff it shares a bucket in
  ANY table, recall = 1-(1-(1-theta/pi)^q)^T), `embedding_neardup_lsh`
  and both sides of `lsh_topk`.
* `ivf_assign` — each vector's `n_probe` nearest codebook cells.  It
  serves both sides of `ivf_topk` and `semantic_dedup`.

Two shared tails: `_near_pairs_by` verifies exact cosine within groups
(`embedding_neardup_lsh`'s (table, bucket) groups, `semantic_dedup`'s
cells) and `_rank_probed` ranks probed candidates (`lsh_topk`,
`ivf_topk`).  `cosine_topk` and `dedup.embedding_neardup_pairs` are the
brute-force referees; `dot_sql` / `bucket_sql` / `probes_sql` are the
DuckDB twins of the kernel's arithmetic.

Scale notes: both kernels are narrow (no shuffle) and carry the id and
vector through as Arrow; candidate stages are equi-joins or groups on the
bucket or cell — never a cross join; exact verification happens only
within them.  Plane count bounds bucket sizes (2^q expected buckets per
table); residual skew (mass near a boundary) is handled by AQE skew-join
on the bucket join.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import docops


def plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random plane component in [-0.5, 0.5):
    md5-derived hash60("p<plane>:d<dim>") / 2^60 - 0.5.  Computed in Python
    and shipped to the kernel; the identical expression is renderable in
    DuckDB SQL ((('0x'||substr(md5(s),1,15))::BIGINT)::DOUBLE / 2^60 - 0.5),
    and both fold to the same IEEE double."""
    h = int(hashlib.md5(f"p{plane}:d{dim}".encode()).hexdigest()[:15], 16)
    return h / float(1 << 60) - 0.5


def plane_matrix(n_planes: int, dim: int, plane_offset: int = 0) -> list[list[float]]:
    return [
        [plane_component(plane_offset + p, d) for d in range(dim)]
        for p in range(n_planes)
    ]


def dot_sql(vec_expr: str, comps: list[float]) -> str:
    """DuckDB rendering of one hyperplane dot: list_reduce folds
    ((p0+p1)+p2)... — the sequential order of `_np_fold_dots`' cumsum and
    of a Spark aggregate's ((0+p0)+p1)+..., because 0.0+x == x exactly in
    IEEE — over the identical Python doubles, so dot values are bit-equal
    across engines."""
    lst = "[" + ", ".join(repr(c) for c in comps) + "]"
    return (
        f"list_reduce(list_transform(range(1, {len(comps) + 1}), "
        f"i -> {vec_expr}[i::INT]::DOUBLE * ({lst})[i::INT]), "
        f"(a, b) -> a + b)"
    )


def bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB rendering of one `_plane_buckets` bucket for the
    correctness oracle."""
    parts = [
        f"(CASE WHEN {dot_sql(vec_expr, comps)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p, comps in enumerate(planes)
    ]
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def probes_sql(vec_expr: str, planes: list[list[float]], n_probes: int) -> str:
    """DuckDB rendering of `_plane_buckets`' probe list: base bucket
    prepended to the n_probes lowest-(abs(dot), mask) single-bit flips."""
    base = bucket_sql(vec_expr, planes)
    margins = ", ".join(
        f"{{'m': abs({dot_sql(vec_expr, comps)}), 'k': {1 << p}::BIGINT}}"
        for p, comps in enumerate(planes)
    )
    return (
        f"list_prepend({base}, "
        f"list_transform(list_slice(list_sort([{margins}]), 1, {n_probes}), "
        f"s -> xor({base}, s.k)))"
    )


def _norm(vec_col: str) -> F.Column:
    """sqrt(sum x^2) with the same fold docops.cosine_similarity uses —
    computed ONCE per vector, not once per pair."""
    return F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _infer_dim(embs: DataFrame, vec_col: str) -> int:
    """Fallback only — fires an extra job at plan-build time.  Callers that
    know the embedding dimension should pass `dim` explicitly."""
    return len(embs.select(vec_col).first()[0])


def perturb_copies(
    embs: DataFrame,
    n_copies: int = 50,
    noise: float = 0.05,
    id_offset: int = 100_000,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic near-duplicate injection for recall evaluation and the
    correctness gate: re-emit the corpus (cast to double) plus copies of the
    vectors with id < n_copies, offset by a fixed pseudo-random noise vector
    (noise * plane_component(999, d)) and re-identified at id + id_offset.
    Pure column arithmetic — the DuckDB twin reproduces it bit-exactly."""
    if dim is None:
        dim = _infer_dim(embs, vec_col)
    noise_arr = F.lit([noise * plane_component(999, d) for d in range(dim)])
    base = embs.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(vec_col),
    )
    pert = embs.filter(F.col(id_col) < n_copies).select(
        (F.col(id_col) + id_offset).alias(id_col),
        F.zip_with(
            F.col(vec_col), noise_arr, lambda x, c: x.cast("double") + c
        ).alias(vec_col),
    )
    return base.unionByName(pert)


def cosine_topk(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self-matches on id
    excluded).  Query side is broadcast; ranking is a per-query window.

    This is the BRUTE-FORCE baseline: the broadcast crossJoin scans the
    full corpus once per query batch — O(N x Q).  Intended for small query
    sets and as the recall referee; at corpus scale or with a large query
    table use `lsh_topk` / `ivf_topk` (candidates bounded by
    buckets/cells, never a full scan)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id), F.col(vec_col).alias("qv")
        )
    )
    scored = (
        embs.select(F.col(id_col), F.col(vec_col).alias("cv"))
        .crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id))
        .withColumn(
            "cosine",
            F.round(docops.cosine_similarity(F.col("qv"), F.col("cv")), 6),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


def _np_fold_dots(X, P):
    """Dot products of every row of X against every row of P with Spark's
    HOF-fold summation ORDER: `aggregate(zip_with(x, c, *), 0.0, +)` is the
    running sum ((0+x0*c0)+x1*c1)+..., and 0.0+v == v exactly in IEEE, so
    the fold equals the sequential prefix sum of the per-element products —
    which is exactly `np.cumsum` (np.add.accumulate, sequential by
    definition).  A BLAS matmul would sum pairwise and could differ in the
    last ulp, flipping a sign at a bucket boundary; this path is bit-equal
    to the column-expression folds (and to the DuckDB oracle's list_reduce,
    same grouping).  X: (n, d) f64; P: (m, d) f64 → (n, m)."""
    import numpy as np

    out = np.empty((X.shape[0], P.shape[0]))
    for j in range(P.shape[0]):
        out[:, j] = np.cumsum(X * P[j], axis=1)[:, -1]
    return out


def _np_fold_norms(X):
    """sqrt(fold of squares) — bit-equal to `_norm` (same cumsum argument
    as _np_fold_dots)."""
    import numpy as np

    return np.sqrt(np.cumsum(X * X, axis=1)[:, -1])


def _vectors(col, dim: int):
    """(n, dim) float64 matrix of an Arrow list column of vectors.
    float32 components widen exactly, as the SQL cast to double does.  A
    null vector, or one whose length is not `dim` (the planes' or the
    codebook's), fails loudly instead of shifting its neighbours."""
    import numpy as np
    import pyarrow.compute as pc

    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if col.null_count or (lens != dim).any():
        raise ValueError(
            f"embedding vectors must be non-null and of length {dim}"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(col), dim)


def _np_near_pairs(ids, X, min_raw, block: int = 256):
    """All within-group pairs id_a < id_b whose RAW cosine dot/(na*nb) is
    >= `min_raw` — the numpy verify kernel of `_near_pairs_by`.  `min_raw`
    must under-shoot the caller's exact threshold (the exact round+compare
    happens in Spark on the returned dot/na/nb, identical to the
    column-kernel formula), so this is a lossless pre-filter.  Dots/norms
    use the fold-order-exact kernels above.  Blocked so per-step memory is
    O(block^2 * d).

    Returns (id_a, id_b, dot, na, nb) numpy arrays; `ids` MUST be sorted
    ascending (callers sort).  Pairs are kept on the ids, not on their
    positions, so a repeated id never pairs with itself."""
    import numpy as np

    n = len(ids)
    norms = _np_fold_norms(X)
    out_a, out_b, out_d, out_na, out_nb = [], [], [], [], []
    for i0 in range(0, n, block):
        i1 = min(i0 + block, n)
        for j0 in range(i0, n, block):
            j1 = min(j0 + block, n)
            prod = X[i0:i1, None, :] * X[None, j0:j1, :]
            dots = np.cumsum(prod, axis=2)[:, :, -1]
            cos = dots / (norms[i0:i1, None] * norms[None, j0:j1])
            ii, jj = np.nonzero(cos >= min_raw)
            gi, gj = ii + i0, jj + j0
            keep = ids[gi] < ids[gj]
            gi, gj = gi[keep], gj[keep]
            out_a.append(ids[gi])
            out_b.append(ids[gj])
            out_d.append(dots[ii[keep], jj[keep]])
            out_na.append(norms[gi])
            out_nb.append(norms[gj])
    if not out_a:
        z = np.empty(0)
        return z.astype(np.int64), z.astype(np.int64), z, z, z
    return (
        np.concatenate(out_a),
        np.concatenate(out_b),
        np.concatenate(out_d),
        np.concatenate(out_na),
        np.concatenate(out_nb),
    )


# Safety under-shoot for the numpy raw-cosine pre-filter: a pair whose
# ROUNDED (6-decimal, HALF_UP) cosine meets the threshold has raw cosine
# within 5e-7 of it; 1e-5 covers that with margin to spare.
_NEAR_PAIR_TOL = 1e-5


def _plane_buckets(
    embs: DataFrame,
    n_tables: int,
    n_planes: int,
    dim: int | None,
    n_probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The hyperplane kernel: (id, vec, _buckets array<long>).  Table t
    uses planes [t*q, (t+1)*q); its slice of `_buckets` is the sign-pattern
    bucket (bit p set iff dot_p >= 0) followed by `n_probes` single-bit
    flips of its lowest-(|dot|, plane) planes — the multiprobe order that
    `probes_sql` renders.  One mapInArrow pass, no shuffle: dots in the
    HOF fold order (`_np_fold_dots`, bit-equal to `dot_sql`); the id and
    vector pass through as Arrow."""
    import numpy as np
    import pyarrow as pa

    if dim is None:
        dim = _infer_dim(embs, vec_col)
    P = np.asarray(plane_matrix(n_tables * n_planes, dim), dtype=np.float64)
    masks = np.left_shift(1, np.arange(n_planes, dtype=np.int64))

    def kernel(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            n = rb.num_rows
            dots = _np_fold_dots(_vectors(rb.column(1), dim), P)
            dots = dots.reshape(n, n_tables, n_planes)
            b = ((dots >= 0) * masks).sum(axis=2)[:, :, None]
            if n_probes:
                # stable sort: equal |dot| keeps the lower plane first
                low = np.argsort(np.abs(dots), axis=2, kind="stable")
                b = np.concatenate([b, b ^ masks[low[:, :, :n_probes]]], 2)
            width = b.shape[1] * b.shape[2]
            yield rb.append_column(
                "_buckets",
                pa.ListArray.from_arrays(
                    pa.array(np.arange(n + 1, dtype=np.int32) * width),
                    pa.array(b.ravel()),
                ),
            )

    base = embs.select(id_col, vec_col)
    schema = StructType(
        base.schema.fields + [StructField("_buckets", ArrayType(LongType()))]
    )
    return base.mapInArrow(kernel, schema)


def hyperplane_lsh_buckets(
    embs: DataFrame,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector a 2^n_planes bucket by the sign pattern of dot
    products with deterministic hyperplanes.  Narrow (`_plane_buckets`;
    no shuffle, no driver job when `dim` is given)."""
    return _plane_buckets(embs, 1, n_planes, dim, 0, id_col, vec_col).select(
        id_col, F.col("_buckets")[0].alias("bucket")
    )


def hyperplane_lsh_tables(
    embs: DataFrame,
    n_tables: int = 8,
    n_planes: int = 6,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_idx, bucket) — T independent plane tables (table t uses
    planes [t*q, (t+1)*q)).  The banding construction for all-pairs
    near-dup: candidate iff same bucket in >= 1 table."""
    tables = _plane_buckets(embs, n_tables, n_planes, dim, 0, id_col, vec_col)
    return tables.select(
        id_col, F.posexplode("_buckets").alias("table_idx", "bucket")
    )


def _near_pairs_by(
    df: DataFrame,
    keys: list[str],
    threshold: float,
    id_col: str,
    vec_col: str,
    cap: int = 0,
) -> DataFrame:
    """(keys..., id_a, id_b, cosine): every pair id_a < id_b inside one
    `keys` group whose 6-decimal cosine is >= `threshold`; groups of more
    than `cap` rows (cap > 0) are skipped.  One exchange groups the rows;
    per group, `_np_near_pairs` pre-filters on the raw cosine with the
    lossless `_NEAR_PAIR_TOL` under-shoot, and the exact round + threshold
    compare runs as a column expression on the returned (dot, na, nb)."""
    import numpy as np
    import pandas as pd

    min_raw = threshold - _NEAR_PAIR_TOL
    id_type = df.schema[id_col].dataType.simpleString()
    schema = ", ".join(
        [f"{k} {df.schema[k].dataType.simpleString()}" for k in keys]
        + [f"id_a {id_type}", f"id_b {id_type}"]
        + ["dot double", "na double", "nb double"]
    )

    def verify(key, pdf):
        z = np.empty(0)
        a, b, d, na, nb = z.astype(np.int64), z.astype(np.int64), z, z, z
        if len(pdf) >= 2 and not (cap and len(pdf) > cap):
            pdf = pdf.sort_values(id_col, kind="stable")
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            a, b, d, na, nb = _np_near_pairs(
                pdf[id_col].to_numpy(), X, min_raw
            )
        out = {k: np.full(a.size, v) for k, v in zip(keys, key)}
        out.update(id_a=a, id_b=b, dot=d, na=na, nb=nb)
        return pd.DataFrame(out)

    return (
        df.groupBy(*keys)
        .applyInPandas(verify, schema)
        .withColumn(
            "cosine",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select(*keys, "id_a", "id_b", "cosine")
    )


def embedding_neardup_lsh(
    embs: DataFrame,
    threshold: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 6,
    dim: int | None = None,
    bucket_cap: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the SCALE path: candidates
    share a (table_idx, bucket) in one of T plane tables, exact cosine
    verification within buckets only, distinct pairs.

    Recall vs the exact path is 1-(1-(1-theta/pi)^q)^T with theta =
    acos(threshold); verification is exact, so false positives are zero.
    Defaults (T=8, q=6) give >= 0.99 at cosine 0.9.  `bucket_cap` drops
    degenerate buckets (mass on a boundary) with lineage in mind — callers
    at scale should log what was dropped.

    Plan: `_plane_buckets` computes every table bucket per vector; one
    exchange groups (table_idx, bucket) and `_near_pairs_by` verifies
    within each.  A pair found in several buckets emits byte-identical
    rows (deterministic dots), collapsed by distinct()."""
    tables = _plane_buckets(
        embs, n_tables, n_planes, dim, 0, id_col, vec_col
    ).select(
        id_col, vec_col, F.posexplode("_buckets").alias("table_idx", "bucket")
    )
    return (
        _near_pairs_by(
            tables, ["table_idx", "bucket"], threshold, id_col, vec_col,
            bucket_cap,
        )
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def neardup_lsh_params(
    n_vecs: int,
    threshold: float = 0.9,
    base_tables: int = 8,
    base_planes: int = 6,
    base_n: int = 2_050,
) -> tuple[int, int]:
    """N-scaled (n_tables, n_planes) for embedding_neardup_lsh — VERDICT
    r4 #2: fixed (T, q) lets bucket populations grow ~linearly with N, so
    within-bucket verification grows ~quadratically on a dup-heavy corpus.

    Scaling law (standard hyperplane-LSH analysis, Charikar 2002):

    * q grows by ~log2(N / base_n): expected bucket count 2^q tracks N, so
      expected bucket population N / 2^q — and with it the within-bucket
      candidate volume PER VECTOR — stays ~constant; total candidate count
      and verify cost grow ~linearly in N.
    * T grows to HOLD RECALL: a true pair at cosine >= threshold collides
      in one table with p^q, p = 1 - acos(threshold)/pi, so per-table
      recall falls as q rises; T is chosen so the overall miss probability
      (1 - p^q)^T stays <= the base configuration's miss probability
      ((1 - p^base_planes)^base_tables, >= 0.99 recall at cosine 0.9 for
      the 8x6 default).

    Cost check at 1000x data: q grows by ~10, T from 8 to 46 (~5.8x) at
    threshold 0.9 — bucketing work per vector (T*q dots) grows ~15x while
    the naive fixed-parameter candidate volume would grow ~1000x.

    `base_n` defaults to the sf0.1 bench corpus (2000 embeddings + 50
    perturbed copies) so the base configuration is exactly the published
    r1-r4 bench plan at that scale; below base_n the base (T, q) is
    returned unchanged.
    """
    import math

    if n_vecs <= base_n:
        return base_tables, base_planes
    q = base_planes + int(round(math.log2(n_vecs / base_n)))
    p = 1.0 - math.acos(threshold) / math.pi
    base_miss = (1.0 - p**base_planes) ** base_tables
    t = math.ceil(math.log(base_miss) / math.log(1.0 - p**q))
    return max(base_tables, t), q


def ivf_assign(
    embs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """(id, cell, cell_rank, vec): each vector's `n_probe` nearest codebook
    cells, ranked by (squared euclidean distance, cell id) — a NaN
    distance (non-finite centroid) ranks last.  The codebook is collected
    to the driver (IVF codebooks are small: hundreds to tens of thousands
    of cells) and one mapInArrow pass ranks every cell per vector in
    numpy, with no join and no shuffle.  Distances sum in the HOF fold
    order ((0+d0^2)+d1^2)+... (cumsum, see `_np_fold_dots`), bit-equal to
    the DuckDB oracle's list_reduce.  The id and vector pass through as
    Arrow, so callers that verify within cells need no join back."""
    import numpy as np
    import pyarrow as pa

    rows = sorted(
        (int(r["cell"]), r[vec_col])
        for r in centroids.select("cell", vec_col).collect()
    )
    cells = np.asarray([c for c, _ in rows], dtype=np.int32)
    C = np.asarray([v for _, v in rows], dtype=np.float64)
    k = min(n_probe, len(rows))

    def kernel(batches):
        for rb in batches:
            if not rb.num_rows or not k:
                continue
            X = _vectors(rb.column(1), C.shape[1])
            d = np.empty((len(X), len(C)))
            for j in range(len(C)):
                diff = X - C[j]
                d[:, j] = np.cumsum(diff * diff, axis=1)[:, -1]
            # stable over cell-ascending columns: (d, cell) order, NaN last
            top = np.argsort(d, axis=1, kind="stable")[:, :k]
            out = rb.take(pa.array(np.repeat(np.arange(len(X)), k)))
            ranks = np.tile(np.arange(1, k + 1, dtype=np.int32), len(X))
            yield pa.RecordBatch.from_arrays(
                [
                    out.column(0),
                    pa.array(cells[top].ravel()),
                    pa.array(ranks),
                    out.column(1),
                ],
                names=[id_col, "cell", "cell_rank", vec_col],
            )

    base = embs.select(id_col, vec_col)
    schema = StructType(
        [
            base.schema[id_col],
            StructField("cell", IntegerType()),
            StructField("cell_rank", IntegerType()),
            base.schema[vec_col],
        ]
    )
    return base.mapInArrow(kernel, schema)


def _reseed_empty_cells(newC, empty, X, dmin):
    """Reseed each empty Lloyd cell to a DISTINCT sample point, taken in
    descending min-distance-to-current-centroids order (ascending index on
    ties, so the choice is deterministic).  Reseeding every empty cell to
    the same global argmax collapses them into duplicate centroids
    (ADVICE r4).  Mutates `newC` in place."""
    import numpy as np

    order = np.argsort(-dmin, kind="stable")
    for c, idx in zip(empty, order):
        newC[c] = X[idx]


def train_ivf_codebook(
    embs: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float = 1.0,
    sample_cap: int = 8192,
    max_iter: int = 10,
    tol: float = 1e-6,
    seed: int = 1,
) -> DataFrame:
    """Sampled Lloyd k-means codebook for `ivf_topk` / `semantic_dedup` —
    replaces the arbitrary id<n_cells seed codebook with centroids that
    actually track the data distribution (VERDICT r3 #6).

    Scale shape: the ONLY cluster-side work is one narrow filtered scan —
    a deterministic hash-threshold sample (`xxhash64(id, seed)` below a
    fraction cutoff, no sort, no shuffle) capped at `sample_cap` rows.
    The sample is then collected (bounded driver memory:
    sample_cap x dim x 8 bytes, ~4 MB at 8192x64) and Lloyd iterations run
    as vectorized numpy on the driver — the same train-small/apply-big
    split Spark MLlib's KMeans uses (centers live on the driver between
    iterations there too).  The returned centroid table is tiny
    (n_cells rows) and feeds `ivf_assign` unchanged.  At 10^12 rows, set
    `sample_fraction` so fraction x N ~ sample_cap; training cost stays
    constant in N.

    Determinism: the sample, the init (hash-ordered spread over the
    sample), tie-breaks (lowest cell id via argmin-first), and empty-cell
    reseeding (farthest point, lowest id first) are all seeded — identical
    inputs give an identical codebook on every run and at every
    parallelism level.

    Returns (cell int, `vec_col` array<double>) with cell in [0, k).
    """
    import numpy as np

    frac_bits = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 30))
    sample = embs.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
        frac_bits.alias("_h"),
    )
    if sample_fraction < 1.0:
        sample = sample.filter(
            F.col("_h") < F.lit(int(sample_fraction * (1 << 30)))
        )
    # hash order makes the cap + init a deterministic pseudo-random spread
    rows = sample.orderBy("_h", id_col).limit(sample_cap).collect()
    if not rows:
        raise ValueError("train_ivf_codebook: empty sample")
    X = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    k = min(n_cells, len(np.unique(X, axis=0)))
    # init: first k distinct vectors in hash order
    seen, init = set(), []
    for v in X:
        t = v.tobytes()
        if t not in seen:
            seen.add(t)
            init.append(v)
            if len(init) == k:
                break
    C = np.asarray(init)
    for _ in range(max_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # first (lowest cell id) wins ties
        newC = C.copy()
        empty = []
        for c in range(k):
            members = X[assign == c]
            if len(members):
                newC[c] = members.mean(axis=0)
            else:
                empty.append(c)
        if empty:
            _reseed_empty_cells(newC, empty, X, d2.min(axis=1))
        shift = float(((newC - C) ** 2).sum(axis=1).max())
        C = newC
        if shift < tol:
            break
    spark = embs.sparkSession
    return spark.createDataFrame(
        [(int(c), [float(x) for x in C[c]]) for c in range(k)],
        f"cell int, {vec_col} array<double>",
    )


def _rank_probed(
    corpus: DataFrame,
    queries: DataFrame,
    key: str,
    k: int,
    id_col: str,
    vec_col: str,
    query_id: str,
) -> DataFrame:
    """(query_id, id, cosine, rank): the shared tail of `lsh_topk` and
    `ivf_topk`.  Candidates are corpus rows sharing a `key` (bucket or
    cell) with the query, self-matches on id excluded, one row per
    (query, id); cosine is dot / (norm x norm) with norms folded once per
    vector, the same fold as docops.cosine_similarity; rank <= k by
    (cosine desc, id)."""
    cs = corpus.select(
        id_col, key, F.col(vec_col).alias("cv"), _norm(vec_col).alias("_nc")
    )
    qs = queries.select(
        query_id, key, F.col(vec_col).alias("qv"), _norm(vec_col).alias("_nq")
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("cv"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # equi-join on the key, no broadcast hint: AQE broadcasts the query
    # side when it fits; with a corpus-sized query table it stays a
    # shuffle join on the same key
    scored = (
        cs.join(qs, key)
        .filter(F.col(id_col) != F.col(query_id))
        # a candidate can surface through several probed buckets or cells
        .dropDuplicates([query_id, id_col])
        .withColumn(
            "cosine", F.round(dot / (F.col("_nq") * F.col("_nc")), 6)
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


def ivf_topk(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """IVF ANN top-k: coarse-quantize the corpus into codebook cells
    (each vector to its nearest centroid), probe each query's `n_probe`
    nearest cells, exact cosine rank within the probed cells only.

    `centroids` defaults to the vectors with id < n_cells — a deterministic
    seed codebook (callers at scale supply an offline-trained one, e.g.
    sampled k-means; the operator only needs SOME small centroid dim).
    Plan: both sides go through `ivf_assign` (narrow, no crossJoin);
    candidates via equi-join on cell — never a corpus cross join; expected
    candidate fraction ~ n_probe / n_cells of the corpus."""
    if centroids is None:
        centroids = embs.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell"), vec_col
        )
    return _rank_probed(
        ivf_assign(embs, centroids, id_col, vec_col, 1),
        ivf_assign(queries, centroids, query_id, vec_col, n_probe),
        "cell", k, id_col, vec_col, query_id,
    )


def lsh_topk(
    embs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_probes: int = 0,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """ANN top-k: exact ranking within the query's hyperplane bucket, plus
    `n_probes` multiprobe buckets (single-bit flips of the query's
    lowest-margin planes — recovers most bucket-boundary recall loss).
    Join is an equi-join on bucket — no cross join; the corpus is bucketed
    exactly once regardless of probe count."""
    if dim is None:
        dim = _infer_dim(embs, vec_col)

    def probed(df, id_, probes):
        buckets = _plane_buckets(df, 1, n_planes, dim, probes, id_, vec_col)
        return buckets.select(
            id_, vec_col, F.explode("_buckets").alias("bucket")
        )

    return _rank_probed(
        probed(embs, id_col, 0), probed(queries, query_id, n_probes),
        "bucket", k, id_col, vec_col, query_id,
    )


def semantic_dedup(
    embs: DataFrame,
    n_cells: int = 16,
    eps: float = 0.95,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    method): coarse-cluster the embeddings (IVF assignment — each vector
    to its nearest codebook cell), then WITHIN each cell mark a vector as
    a semantic duplicate when some lower-id vector in the same cell has
    cosine >= eps.  The kept set is deterministic (lowest id per epsilon
    neighborhood survives); `dup_of` is the dominating vector with the
    highest cosine (ties -> lowest id).

    Returns the duplicate rows: (vec_id, cell, dup_of, cosine).

    Scale shape: the cell is the blocking key — the only exchange is the
    groupBy(cell), with cell sizes ~ N/n_cells (grow n_cells with N; a
    real deployment feeds k-means centroids via `centroids`).

    Plan: `ivf_assign` (narrow), then `_near_pairs_by` within each cell;
    the rank-1 window picks `dup_of`."""
    if centroids is None:
        # deterministic seed codebook, same convention as ivf_topk
        centroids = embs.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell"), vec_col
        )
    cells = ivf_assign(embs, centroids, id_col, vec_col).select(
        id_col, vec_col, "cell"
    )
    pairs = _near_pairs_by(cells, ["cell"], eps, id_col, vec_col)
    w = Window.partitionBy("id_b").orderBy(
        F.desc("cosine"), F.asc("id_a")
    )
    return (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("id_b").alias(id_col),
            "cell",
            F.col("id_a").alias("dup_of"),
            "cosine",
        )
    )
