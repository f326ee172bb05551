"""Skew-handling utilities: salted aggregation and salted joins.

Where each lever applies in this engine (north rule: skew handled
explicitly):

* plain counts/sums — Spark's map-side partial aggregation already absorbs
  key skew; no salting needed (documented, measured via lineage partition
  metrics);
* `collect_list`-style aggregations over skewed keys (e.g. building the
  postings list of a boilerplate shingle) — `salted_collect` two-phase;
* joins against a skewed key distribution — AQE skew-join splitting is
  Spark 4.1.2's default, so session.py sets nothing for it; `salted_join`
  is the manual fallback for engines/paths where AQE can't apply (e.g.
  aggregations feeding the join prevent AQE stats, or deterministic
  tests);
* pathological band buckets — `lsh.candidate_pairs(bucket_cap=...)` caps
  the O(bucket^2) pair blowup *before* any join (the only lever that
  bounds output size, not just shuffle balance).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def with_salt(df: DataFrame, n_salts: int, col_name: str = "_salt") -> DataFrame:
    """Deterministic salt in [0, n_salts): hash of the whole row's
    monotonically-increasing id is NOT reproducible across retries, so use
    a hash of all columns instead (stable under recompute)."""
    return df.withColumn(
        col_name, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_collect(
    df: DataFrame, key: str, value: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase collect_list: groupBy(key, salt) -> flatten per key.
    Bounds any single task's buffer to ~1/n_salts of the hottest key."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(key, "_salt").agg(
        F.collect_list(value).alias("_part")
    )
    return partial.groupBy(key).agg(
        F.flatten(F.collect_list("_part")).alias(f"{value}s")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skewed equi-join: salt the big side, replicate the small side once
    per salt, join on (key, salt).  Use when AQE skew splitting is
    unavailable; output equals a plain inner join on `key`."""
    big_s = with_salt(big, n_salts)
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).alias("_salt")
    small_r = small.select("*", salts)
    return big_s.join(small_r, [key, "_salt"]).drop("_salt")
