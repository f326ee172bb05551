"""Gather — greedy min-set-cover decomposition of a query against a database
(reference: GatherDatabases, /root/reference/src/sourmash/search.py:755-949;
CounterGather peek/consume, index/__init__.py:735-909; stats twin
src/core/src/index/mod.rs:210-280).

Two-stage shape (mirrors the reference's own ">=4.1 prefetch design"):

1. **prefetch sweep** (distributed, one narrow scan + threshold): collect
   the candidate sketches that overlap the query above threshold_bp.  The
   candidate set is bounded by the threshold — the reference itself holds
   exactly this in a driver-side Counter, and so do we (numpy arrays).
2. **greedy rounds** (driver, vectorized numpy): peek argmax overlap,
   emit a GatherResult row, subtract the match's hashes from the remaining
   query, decrement counters.  Rounds are inherently sequential (min-set-cov
   is greedy by definition); per-round work is O(candidates) vector ops and
   never touches the cluster again.

At 100 TB the expensive part is stage 1, which scales like `prefetch`
(narrow scan, no shuffle).  Stage 2 state is a few MB of candidate hash
arrays regardless of corpus size — and when it ISN'T (pathological
candidate sweeps past the byte bound), `strategy="auto"` switches stage 2
to a cluster-side per-round loop (_greedy_rounds_cluster: postings
groupBy-count argmax + semi-join subtraction) with bit-identical results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from ..hashing import i64_to_u64
from .prefetch import prefetch

GATHER_COLS = [
    "intersect_bp", "f_orig_query", "f_match", "f_unique_to_query",
    "f_unique_weighted", "average_abund", "median_abund", "std_abund",
    "name", "md5", "f_match_orig", "unique_intersect_bp",
    "gather_result_rank", "remaining_bp", "query_md5", "query_bp", "ksize",
    "scaled", "query_n_hashes", "query_abundance",
    "query_containment_ani", "match_containment_ani",
    "average_containment_ani", "max_containment_ani",
]


# driver-state bound of gather's greedy rounds (see _gather_rows)
MAX_DRIVER_BYTES = 4 * 1024**3


def _abund_map(
    query_hashes: list[int], query_abunds: list[int] | None
) -> dict | None:
    """u64 query hash -> abundance, or None for a flat query."""
    if query_abunds is None:
        return None
    u64 = i64_to_u64(np.array(query_hashes, dtype=np.int64)).tolist()
    return dict(zip(u64, (int(a) for a in query_abunds)))


def _bias(n: int, scaled: int) -> float:
    return 1.0 - (1.0 - 1.0 / scaled) ** float(n * scaled) if n else 1.0


def _contained(inter: int, denom: int, scaled: int) -> float:
    if not denom:
        return 0.0
    return min(1.0, max(0.0, inter / (denom * _bias(denom, scaled))))


def _ani(c: float, k: int) -> float:
    if c <= 0.0:
        return 0.0
    if c >= 1.0:
        return 1.0
    return c ** (1.0 / k)


def _gather_row(
    found: np.ndarray,
    orig_inter: int,
    match_size: int,
    remaining_size: int,
    orig_len: int,
    rank: int,
    scaled: int,
    ksize: int,
    abund_map: dict | None,
    total_weighted: int,
    estimate_ani_ci: bool,
) -> dict:
    """One GatherResult row from per-round scalars — the SINGLE source of
    the gather column math, shared bit-identically by the driver-state
    greedy loop (_greedy_rounds) and the cluster-side per-round loop
    (_greedy_rounds_cluster).  `found` is the winner's hashes intersected
    with the remaining query (u64); `orig_inter` the winner's overlap with
    the ORIGINAL query (GatherResult's `self.cmp` basis, search.py:929)."""
    track_abund = abund_map is not None
    f_match = _contained(found.size, match_size, scaled)
    f_match_orig = _contained(orig_inter, match_size, scaled)
    f_unique_to_query = found.size / orig_len if orig_len else 0.0
    q_c = _contained(orig_inter, orig_len, scaled)
    q_ani = _ani(q_c, ksize)
    m_ani = _ani(f_match_orig, ksize)
    if track_abund:
        abunds = np.array(
            [abund_map[h] for h in found.tolist()], dtype=np.int64
        )
        f_unique_weighted = (
            float(abunds.sum()) / total_weighted if total_weighted else 0.0
        )
        average_abund = float(abunds.mean()) if abunds.size else None
        median_abund = float(np.median(abunds)) if abunds.size else None
        std_abund = float(abunds.std()) if abunds.size else None
    else:
        f_unique_weighted = f_unique_to_query
        average_abund = median_abund = std_abund = None
    row = {
        "gather_result_rank": rank,
        "intersect_bp": orig_inter * scaled,
        "unique_intersect_bp": int(found.size) * scaled,
        "f_orig_query": orig_inter / orig_len if orig_len else 0.0,
        "f_match": f_match,
        "f_match_orig": f_match_orig,
        "f_unique_to_query": f_unique_to_query,
        "f_unique_weighted": f_unique_weighted,
        "average_abund": average_abund,
        "median_abund": median_abund,
        "std_abund": std_abund,
        "query_abundance": track_abund,
        "remaining_bp": int(remaining_size - found.size) * scaled,
        "query_bp": orig_len * scaled,
        "query_n_hashes": orig_len,
        "ksize": ksize,
        "scaled": scaled,
        "query_containment_ani": q_ani,
        "match_containment_ani": m_ani,
        "average_containment_ani": (q_ani + m_ani) / 2.0,
        "max_containment_ani": max(q_ani, m_ani),
    }
    if estimate_ani_ci:
        from ..distances import containment_to_distance

        q_res = containment_to_distance(
            q_c, ksize, scaled, float(orig_len) * scaled, estimate_ci=True,
        )
        m_res = containment_to_distance(
            f_match_orig, ksize, scaled, float(match_size) * scaled,
            estimate_ci=True,
        )
        row.update(
            {
                "query_containment_ani_low": q_res.ani_low,
                "query_containment_ani_high": q_res.ani_high,
                "match_containment_ani_low": m_res.ani_low,
                "match_containment_ani_high": m_res.ani_high,
            }
        )
    return row


def _greedy_rounds(
    query: np.ndarray,
    cands: dict,
    scaled: int,
    ksize: int,
    min_hashes: int,
    md5_of: dict,
    abund_map: dict | None = None,
    estimate_ani_ci: bool = False,
) -> tuple[list[dict], np.ndarray]:
    """Shared greedy min-set-cov core over numpy hash sets (CounterGather
    peek/consume semantics); returns (row dicts in rank order, remaining
    query hashes after the loop — the `--output-unassigned` set,
    commands.py:1094-1112).

    ANI semantics follow GatherResult exactly (search.py:419-434 +
    GatherDatabases.__next__ passing `self.orig_query`, search.py:929):
    both point estimates and CI columns derive from the ORIGINAL-query vs
    match comparison (`self.cmp`), not the remaining query.

    `abund_map` (hash -> count), when given, produces the reference's
    abundance columns (f_unique_weighted over total weighted hashes,
    average/median/std of the unique-intersection abundances,
    search.py:600-622); when None the flat fallbacks apply
    (f_unique_weighted == f_unique_to_query, null abund stats).
    """
    track_abund = abund_map is not None
    total_weighted = (
        sum(abund_map.values()) if track_abund else int(query.size)
    )
    results: list[dict] = []
    orig_len = int(query.size)
    orig = np.unique(query)
    if not cands or not orig.size:
        return results, orig

    # CounterGather-style bookkeeping (the reference decrements counters
    # instead of re-intersecting every candidate every round,
    # index/__init__.py:735-909): overlap counts are maintained under
    # subtraction via ONE sorted postings index, so total work over all
    # rounds is O(sum of candidate sizes), not O(rounds x candidates x
    # intersect).  Winner choice and all row math are unchanged — the
    # (md5, id) candidate order below makes np.argmax's first-max winner
    # identical to the old sorted-iteration strictly-greater scan.
    order = sorted(cands, key=lambda c: (md5_of[c], c))
    arrs = [np.unique(cands[c]) for c in order]
    n_cand = len(order)
    own = np.repeat(
        np.arange(n_cand), np.array([a.size for a in arrs], dtype=np.int64)
    )
    allh = np.concatenate(arrs) if arrs else np.empty(0, np.uint64)
    # restrict the index to postings that can ever be counted (h in query)
    pos = np.searchsorted(orig, allh)
    pos[pos == orig.size] = 0
    in_q = orig[pos] == allh
    allh, own = allh[in_q], own[in_q]
    sort_ix = np.argsort(allh, kind="stable")
    sorted_h, sorted_own = allh[sort_ix], own[sort_ix]
    # ov[c] == |c ∩ remaining| is the loop invariant; ov0 is |c ∩ query|
    # (orig_inter's definition — GatherResult's self.cmp basis)
    ov0 = np.bincount(own, minlength=n_cand).astype(np.int64)
    ov = ov0.copy()
    alive = np.ones(orig.size, dtype=bool)
    n_alive = int(orig.size)
    rank = 0
    while n_alive:
        winner = int(np.argmax(ov))
        best_ov = int(ov[winner])
        if best_ov < min_hashes or best_ov <= 0:
            break
        match = arrs[winner]
        mpos = np.searchsorted(orig, match)
        mpos[mpos == orig.size] = 0
        mvalid = (orig[mpos] == match) & alive[mpos]
        found = match[mvalid]
        row = _gather_row(
            found, int(ov0[winner]), int(match.size), n_alive,
            orig_len, rank, scaled, ksize, abund_map, total_weighted,
            estimate_ani_ci,
        )
        best_id = order[winner]
        row["sig_id"] = best_id
        row["md5"] = md5_of[best_id]
        results.append(row)
        alive[mpos[mvalid]] = False
        n_alive -= int(found.size)
        # decrement every candidate holding a removed hash: contiguous
        # [lo, hi) runs of each found hash in the sorted postings index
        lo = np.searchsorted(sorted_h, found, side="left")
        hi = np.searchsorted(sorted_h, found, side="right")
        counts = hi - lo
        total = int(counts.sum())
        if total:
            flat = np.repeat(lo, counts) + (
                np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
            )
            np.add.at(ov, sorted_own[flat], -1)
        ov[winner] = -1  # consumed
        rank += 1
    return results, orig[alive]


# Past this many unfolded rounds the cluster loop bakes the consumed-id
# NOT-IN literal into a fresh postings checkpoint and resets the list, so
# per-round plan size stays O(this) no matter how many rounds run (the
# pathological regime the cluster path exists for can run thousands).
_CLUSTER_COMPACT_EVERY = 64


def _greedy_rounds_cluster(
    joined: DataFrame,
    orig: np.ndarray,
    scaled: int,
    ksize: int,
    min_hashes: int,
    sig_id: str,
    abund_map: dict | None = None,
    estimate_ani_ci: bool = False,
) -> tuple[list[dict], np.ndarray]:
    """Cluster-side greedy min-set-cov — the regime where the candidate
    hash arrays are too large for the driver (the reference's linear-DB
    gather walks the whole database per round and has no such cliff,
    doc/sourmash-internals.md:470-483; this path restores that
    run-anywhere property at Spark scale).

    The candidate hash arrays NEVER reach the driver.  They live as a
    localCheckpointed (candidate, hashval) postings DataFrame; each round:

    * overlap counts: postings left-semi-joined to the broadcast remaining
      query, groupBy(candidate).count — ONE map-side-combined shuffle of
      8-byte keys;
    * winner: orderBy(overlap desc, md5 asc, id asc).limit(1) — the same
      deterministic tie-break as the driver loop's (md5, id) sort;
    * winner's found set: the winner's postings semi-joined to remaining —
      at most |remaining| <= |query| values collected (the query was a
      driver-side input to begin with);
    * subtraction: remaining \\ found on the driver (equivalent to the
      left-anti join — remaining IS the driver copy of the same set).

    Driver state: remaining query + consumed ids + one row of scalars per
    round — O(|query| + rounds), independent of candidate count and sketch
    size.  Row math is _gather_row, shared with _greedy_rounds, so results
    are bit-identical to the driver path.

    Cost: O(rounds) jobs over the checkpointed postings.  The driver path
    is faster when the state fits (one collect, numpy rounds) — use
    strategy="auto" to get it whenever the byte bound admits it.
    """
    from ..hashing import u64_to_i64

    spark = joined.sparkSession
    postings = joined.select(
        F.col(sig_id), F.explode("hashes").alias("hashval")
    ).localCheckpoint(eager=True)
    orig_len = int(orig.size)
    track_abund = abund_map is not None
    total_weighted = sum(abund_map.values()) if track_abund else orig_len

    def _hash_df(u64_arr: np.ndarray):
        return F.broadcast(
            spark.createDataFrame(
                pd.DataFrame({"hashval": u64_to_i64(u64_arr)}),
                schema="hashval long",
            )
        )

    # static per-candidate scalars vs the ORIGINAL query (one shuffle, no
    # hash arrays): GatherResult's self.cmp basis is the original query
    static = (
        postings.join(_hash_df(orig), "hashval", "left_semi")
        .groupBy(sig_id)
        .agg(F.count("*").alias("orig_inter"))
        .join(
            joined.select(
                F.col(sig_id), F.size("hashes").alias("match_size"),
                "match_name", "match_md5",
            ),
            sig_id,
        )
        .localCheckpoint(eager=True)
    )

    remaining = orig.copy()
    consumed: list = []
    results: list[dict] = []
    rank = 0
    while remaining.size:
        if len(consumed) >= _CLUSTER_COMPACT_EVERY:
            postings = postings.filter(
                ~F.col(sig_id).isin(consumed)
            ).localCheckpoint(eager=True)
            consumed = []
        rem_df = _hash_df(remaining)
        live = postings
        if consumed:
            # bounded literal: one id per completed round, compacted above
            # (keys are join outputs — never NULL, so NOT-IN is exact)
            live = live.filter(~F.col(sig_id).isin(consumed))
        matched = live.join(rem_df, "hashval", "left_semi")
        winner = (
            matched.groupBy(sig_id)
            .agg(F.count("*").alias("overlap"))
            .join(static, sig_id)
            .orderBy(F.desc("overlap"), F.asc("match_md5"), F.asc(sig_id))
            .limit(1)
        )
        # ONE action per round: the winner row (scalars) joined back to its
        # matched postings — every returned row is a found hash carrying
        # the winner's static scalars; <= |remaining| rows reach the driver
        rows = matched.join(F.broadcast(winner), sig_id).collect()
        if not rows:
            break
        w = rows[0]
        if int(w["overlap"]) < min_hashes or int(w["overlap"]) <= 0:
            break
        found = np.unique(
            i64_to_u64(np.array([r["hashval"] for r in rows], dtype=np.int64))
        )
        row = _gather_row(
            found, int(w["orig_inter"]), int(w["match_size"]),
            int(remaining.size), orig_len, rank, scaled, ksize, abund_map,
            total_weighted, estimate_ani_ci,
        )
        row["sig_id"] = w[sig_id]
        row["md5"] = w["match_md5"]
        row["name"] = w["match_name"]
        results.append(row)
        remaining = np.setdiff1d(remaining, found)
        consumed.append(w[sig_id])
        rank += 1
    return results, remaining


def multigather(
    queries: DataFrame,
    db: DataFrame,
    scaled: int,
    ksize: int = 21,
    threshold_bp: int = 0,
    query_id: str = "query_id",
    sig_id: str = "sig_id",
) -> DataFrame:
    """Gather for MANY queries at once (reference `multigather`,
    commands.py:1124-1386) — the distributed form.

    Stage 1 (cluster): broadcast query postings -> one hash equi-join ->
    per-(query, subject) overlap counts filtered by threshold — candidate
    generation for all queries in one shuffle.
    Stage 2 (cluster): candidates join subject hash arrays, groupBy query,
    applyInPandas runs the greedy rounds per query *in parallel across
    queries* — each group holds only that query's candidates (the same
    state the reference keeps on its driver, sharded by query).

    If `queries` carries an `abunds` column (aligned with `hashes`), the
    abundance-weighted GatherResult columns are computed per query exactly
    like single-query `gather(query_abunds=...)` (commands.py:1124-1386
    multigather carries abundances); otherwise the flat fallbacks apply.
    """
    import pyspark.sql.types as T

    min_hashes = max(1, int(threshold_bp / scaled)) if threshold_bp else 1
    track_abund = "abunds" in queries.columns

    qp = F.broadcast(
        queries.select(
            F.col(query_id), F.explode("hashes").alias("hashval")
        )
    )
    dp = db.select(F.col(sig_id), F.explode("hashes").alias("hashval"))
    cand_ids = (
        dp.join(qp, "hashval")
        .groupBy(query_id, sig_id)
        .agg(F.count("*").alias("overlap"))
        .filter(F.col("overlap") >= min_hashes)
    )
    name_col = (
        db["name"] if "name" in db.columns else F.col(sig_id).cast("string")
    )
    qcols = [query_id, F.col("hashes").alias("query_hashes")]
    if track_abund:
        qcols.append(F.col("abunds").alias("query_abunds"))
    cands = cand_ids.join(
        db.select(
            sig_id, F.col("md5").alias("match_md5"),
            name_col.alias("match_name"),
            F.col("hashes").alias("match_hashes"),
        ),
        sig_id,
    ).join(F.broadcast(queries.select(*qcols)), query_id)

    out_schema = T.StructType(
        [
            T.StructField(query_id, T.LongType()),
            T.StructField(sig_id, T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("md5", T.StringType()),
            T.StructField("gather_result_rank", T.IntegerType()),
            T.StructField("intersect_bp", T.LongType()),
            T.StructField("unique_intersect_bp", T.LongType()),
            T.StructField("f_orig_query", T.DoubleType()),
            T.StructField("f_match", T.DoubleType()),
            T.StructField("f_match_orig", T.DoubleType()),
            T.StructField("f_unique_to_query", T.DoubleType()),
            T.StructField("f_unique_weighted", T.DoubleType()),
            T.StructField("average_abund", T.DoubleType()),
            T.StructField("median_abund", T.DoubleType()),
            T.StructField("std_abund", T.DoubleType()),
            T.StructField("remaining_bp", T.LongType()),
            T.StructField("query_bp", T.LongType()),
            T.StructField("query_n_hashes", T.IntegerType()),
            T.StructField("ksize", T.IntegerType()),
            T.StructField("scaled", T.LongType()),
            T.StructField("query_abundance", T.BooleanType()),
            T.StructField("query_containment_ani", T.DoubleType()),
            T.StructField("match_containment_ani", T.DoubleType()),
            T.StructField("average_containment_ani", T.DoubleType()),
            T.StructField("max_containment_ani", T.DoubleType()),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf[query_id].iloc[0]
        qh = np.asarray(pdf["query_hashes"].iloc[0], dtype=np.int64)
        query = i64_to_u64(qh)
        if track_abund:
            qa = [int(a) for a in pdf["query_abunds"].iloc[0]]
            abund_map = dict(zip(query.tolist(), qa))
        else:
            abund_map = None
        cmap = {
            int(s): i64_to_u64(np.asarray(h, dtype=np.int64))
            for s, h in zip(pdf[sig_id], pdf["match_hashes"])
        }
        md5_of = dict(zip((int(s) for s in pdf[sig_id]), pdf["match_md5"]))
        name_of = dict(zip((int(s) for s in pdf[sig_id]), pdf["match_name"]))
        rows, _ = _greedy_rounds(
            np.unique(query), cmap, scaled, ksize, min_hashes, md5_of,
            abund_map=abund_map,
        )
        for r in rows:
            r[query_id] = qid
            r[sig_id] = r.pop("sig_id")
            r["name"] = name_of[int(r[sig_id])]
        return pd.DataFrame(
            rows, columns=[f.name for f in out_schema.fields]
        )

    return cands.groupBy(query_id).applyInPandas(run, out_schema)


def _gather_rows(
    db: DataFrame,
    query_hashes: list[int],
    scaled: int,
    ksize: int,
    threshold_bp: int,
    query_abunds: list[int] | None,
    query_md5: str,
    sig_id: str,
    estimate_ani_ci: bool,
    max_driver_bytes: int = MAX_DRIVER_BYTES,
    strategy: str = "auto",
) -> tuple[list[dict], np.ndarray]:
    """Candidate sweep + greedy rounds; returns (GatherResult row dicts,
    remaining query hashes in u64).

    Driver-state bound: the greedy rounds hold every prefetch survivor's
    hash array on the driver — candidates x mean_sketch_hashes x 8 bytes
    (the reference's own CounterGather keeps exactly this state,
    index/__init__.py:735-909; the set is threshold_bp-bounded).  The
    candidate fetch is ONE execution of the expensive plan: prefetch
    survivors join back to the db for their hash arrays (broadcast hash
    join — never a literal IN-list), the joined result is materialized
    cluster-side once (localCheckpoint), and the byte bound is checked
    with a tiny agg on the checkpoint BEFORE anything reaches the driver.

    `strategy`:
    * "auto" (default) — driver-state rounds when the candidate state fits
      the byte bound (one collect + numpy rounds, the fast common case);
      otherwise the cluster-side per-round loop (_greedy_rounds_cluster),
      so the pathological regime RUNS instead of erroring.
    * "cluster" — always cluster-side; candidate hash arrays never reach
      the driver (no bound check, no collect of arrays).

    Both loops produce bit-identical results: the row math is the shared
    _gather_row, the tie-break is (overlap desc, md5 asc, id asc) in
    both."""
    if strategy not in ("auto", "cluster"):
        raise ValueError(f"gather: unknown strategy {strategy!r}")
    min_hashes = max(1, int(threshold_bp / scaled)) if threshold_bp else 1

    # ordered=False: gather is a set consumer — the greedy loop re-sorts
    # deterministically, so prefetch's presentation sort (a global range
    # exchange) would be executed and thrown away
    cands_df = prefetch(
        db, query_hashes, scaled, ksize=ksize, threshold_bp=threshold_bp,
        query_md5=query_md5, sig_id=sig_id, ordered=False,
    ).select(sig_id, "match_name", "match_md5")
    # No broadcast hint on the candidate set: this strategy exists for the
    # regime where prefetch survivors are too numerous for the driver, so
    # forcing a driver collect here would defeat it.  AQE broadcasts the
    # join automatically whenever the runtime size fits.
    # Lazy localCheckpoint: materialized by the FIRST action below (the
    # byte-bound agg or the collect), so the checkpoint costs no extra job
    # while still guaranteeing the join plan runs exactly once.
    joined = (
        db.select(sig_id, "hashes")
        .join(cands_df, sig_id)
        .select(sig_id, "match_name", "match_md5", "hashes")
        .localCheckpoint(eager=False)
    )
    use_cluster = strategy == "cluster" or (
        joined.agg(
            F.coalesce(F.sum(F.size("hashes")), F.lit(0))
        ).first()[0] * 8
        > max_driver_bytes
    )
    orig = np.unique(
        i64_to_u64(np.array(sorted(query_hashes), dtype=np.int64))
    )
    abund_map = _abund_map(query_hashes, query_abunds)
    if use_cluster:
        results, remaining = _greedy_rounds_cluster(
            joined, orig, scaled, ksize, min_hashes, sig_id,
            abund_map=abund_map, estimate_ani_ci=estimate_ani_ci,
        )
        for r in results:
            r["query_md5"] = query_md5
        return results, remaining
    rows = joined.collect()
    cand_hashes = {
        r[sig_id]: i64_to_u64(np.array(r["hashes"], dtype=np.int64))
        for r in rows
    }
    meta = {r[sig_id]: (r["match_name"], r["match_md5"]) for r in rows}
    md5_of = {k: v[1] for k, v in meta.items()}
    results, remaining = _greedy_rounds(
        orig, cand_hashes, scaled, ksize, min_hashes, md5_of,
        abund_map=abund_map, estimate_ani_ci=estimate_ani_ci,
    )
    for r in results:
        r["name"] = meta[r["sig_id"]][0]
        r["query_md5"] = query_md5
    return results, remaining


def _unassigned_df(
    spark: SparkSession,
    remaining: np.ndarray,
    query_hashes: list[int],
    query_abunds: list[int] | None,
) -> DataFrame:
    """Remaining u64 hashes -> (hashval, abund) DataFrame, abundances
    re-inflated from the original query (minhash.inflate semantics)."""
    amap = _abund_map(query_hashes, query_abunds) or {}
    from ..hashing import u64_to_i64

    rows = [
        (int(s), int(amap.get(int(u), 1)))
        for s, u in zip(u64_to_i64(remaining).tolist(), remaining.tolist())
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["hashval", "abund"]),
        schema="hashval long, abund long",
    )


def gather_unassigned(
    spark: SparkSession,
    db: DataFrame,
    query_hashes: list[int],
    scaled: int,
    ksize: int = 21,
    threshold_bp: int = 0,
    query_abunds: list[int] | None = None,
    query_md5: str = "",
    sig_id: str = "sig_id",
    strategy: str = "auto",
) -> DataFrame:
    """The `--output-unassigned` surface (commands.py:1094-1112): the query
    hashes left after the greedy loop, one row per hash with its abundance
    (re-inflated from the original query like `minhash.inflate`, matching
    the reference's `is_abundance` branch; abund=1 for flat queries).

    Callers that also need the GatherResult rows should use
    ``gather_with_unassigned`` — it runs the prefetch + greedy sweep ONCE
    for both outputs instead of twice."""
    _, remaining = _gather_rows(
        db, query_hashes, scaled, ksize, threshold_bp, query_abunds,
        query_md5, sig_id, estimate_ani_ci=False, strategy=strategy,
    )
    return _unassigned_df(spark, remaining, query_hashes, query_abunds)


def gather(
    spark: SparkSession,
    db: DataFrame,
    query_hashes: list[int],
    scaled: int,
    ksize: int = 21,
    threshold_bp: int = 0,
    query_abunds: list[int] | None = None,
    query_md5: str = "",
    sig_id: str = "sig_id",
    estimate_ani_ci: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """Greedy decomposition; returns GatherResult-shaped rows in rank order
    (column parity with search.py:482-524).  `estimate_ani_ci` appends the
    reference's ci_cols — query/match_containment_ani_low/high — computed
    like GatherResult.handle_ani_ci from the ORIGINAL-query vs match
    comparison (search.py:419-434; `self.cmp` is built from
    `self.orig_query`, search.py:929).

    `strategy`: "auto" (driver-state rounds when the candidate state fits
    the byte bound, cluster-side per-round loop otherwise) or "cluster"
    (candidate hash arrays never reach the driver) — see _gather_rows;
    results are bit-identical across strategies."""
    results, _remaining = _gather_rows(
        db, query_hashes, scaled, ksize, threshold_bp, query_abunds,
        query_md5, sig_id, estimate_ani_ci, strategy=strategy,
    )
    return _results_df(spark, results, estimate_ani_ci)


def _results_df(
    spark: SparkSession, results: list[dict], estimate_ani_ci: bool
) -> DataFrame:
    cols = list(GATHER_COLS)
    schema = (
        "intersect_bp long, f_orig_query double, f_match double, "
        "f_unique_to_query double, f_unique_weighted double, "
        "average_abund double, median_abund double, std_abund double, "
        "name string, md5 string, f_match_orig double, "
        "unique_intersect_bp long, gather_result_rank int, "
        "remaining_bp long, query_md5 string, query_bp long, ksize int, "
        "scaled long, query_n_hashes int, query_abundance boolean, "
        "query_containment_ani double, match_containment_ani double, "
        "average_containment_ani double, max_containment_ani double"
    )
    if estimate_ani_ci:
        cols += [
            "query_containment_ani_low", "query_containment_ani_high",
            "match_containment_ani_low", "match_containment_ani_high",
        ]
        schema += (
            ", query_containment_ani_low double"
            ", query_containment_ani_high double"
            ", match_containment_ani_low double"
            ", match_containment_ani_high double"
        )
    pdf = pd.DataFrame(results, columns=cols)
    return spark.createDataFrame(pdf, schema=schema)


def gather_with_unassigned(
    spark: SparkSession,
    db: DataFrame,
    query_hashes: list[int],
    scaled: int,
    ksize: int = 21,
    threshold_bp: int = 0,
    query_abunds: list[int] | None = None,
    query_md5: str = "",
    sig_id: str = "sig_id",
    estimate_ani_ci: bool = False,
    strategy: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """The reference CLI's `gather --output-unassigned` shape: BOTH the
    GatherResult rows and the leftover-hash table from a SINGLE prefetch +
    candidate-fetch + greedy sweep (commands.py:1034-1112).  Identical to
    calling `gather()` and `gather_unassigned()` separately, at half the
    driver-side cost — the expensive part (prefetch scan, candidate hash
    collect, greedy rounds) is never repeated."""
    results, remaining = _gather_rows(
        db, query_hashes, scaled, ksize, threshold_bp, query_abunds,
        query_md5, sig_id, estimate_ani_ci, strategy=strategy,
    )
    return (
        _results_df(spark, results, estimate_ani_ci),
        _unassigned_df(spark, remaining, query_hashes, query_abunds),
    )
