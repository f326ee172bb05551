"""Shared column builders for document-table operators (dedup, text, ANN).

These mirror the sketch engine's semantics with an **SQL-portable hash**:
``hash60(s) = int(md5_hex(s)[:15], 16)`` — 60 bits, identical in Spark
(`conv(substr(md5(s),1,15),16,10)`), DuckDB
(`('0x'||substr(md5(s),1,15))::BIGINT`) and Python (`hash60_py`, for
numpy kernels).  The murmur64 path (bit-parity with
the reference) lives in sketch.py; this path exists so every document-level
operator has an independent cross-engine oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
import pyspark.sql.functions as F

HASH60_SPACE = (1 << 60) - 1


def max_hash60(scaled: int) -> int:
    return HASH60_SPACE // scaled


def let(col: Column, fn) -> Column:
    """Let-binding idiom: evaluate `col` ONCE per row and bind it into `fn`
    as a lambda variable.  Lambda-bearing expressions are excluded from
    Spark's common-subexpression elimination, and an expression captured
    inside a transform lambda is re-evaluated per ELEMENT — binding first
    makes references free."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def opaque(c: Column) -> Column:
    """Make a column OPTIMIZER-OPAQUE without changing its value: a
    one-element `shuffle(array(c))[1]` is the identity, but `shuffle` is
    non-deterministic, so the optimizer may not push filters through it,
    collapse it into downstream projections, or duplicate it per
    reference.  (A `when(rand() < 2.0, c)` guard does NOT work — the
    optimizer proves rand's value range and folds the guard away.)

    Why: lambda-bearing expressions (transform/aggregate/filter HOFs) are
    excluded from Spark's common-subexpression elimination, and predicate
    pushdown SUBSTITUTES a projected column's defining expression into the
    pushed filter — a downstream `filter(f(expensive_col))` therefore
    re-evaluates the full expression tree once per reference (measured
    ~15x on gopher_quality under quality-chain filters).  Behind this
    wrapper the staged column materializes exactly once per row and all
    downstream references are plain attribute reads."""
    return F.element_at(F.shuffle(F.array(c)), 1)


def winnow_mins(text: Column, k: int, window: int) -> Column:
    """Array of winnowing window-minima (Schleimer et al.): hash60 every
    k-gram, min of each sliding window of `window` consecutive hashes.
    Pure column expression — NO shuffle (the Window-function formulation
    shuffles the whole exploded gram table on doc_id; per-document work
    belongs inside the row).  O(n_grams * window) compute per doc."""
    hashes = F.transform(char_shingles(text, k), lambda g: hash60(g))
    return let(
        hashes,
        lambda h: F.when(
            F.size(h) >= window,
            F.transform(
                F.sequence(F.lit(1), F.size(h) - (window - 1)),
                lambda i: F.array_min(F.slice(h, i, window)),
            ),
        ).otherwise(F.array().cast("array<long>")),
    )


def hash60(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """DuckDB rendering of the same function."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def hash60_py(s: str) -> int:
    """Python rendering of the same function (UTF-8 bytes, as Spark's md5)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def char_shingles(text: Column, k: int) -> Column:
    """All k-char shingles (with duplicates, in position order)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1)))
    return F.filter(
        F.transform(idx, lambda i: F.substring(text, i, k)),
        lambda s: F.length(s) == k,
    )


def char_shingles_sql(expr: str, k: int) -> str:
    """DuckDB rendering (range() excludes its stop, handles empty)."""
    return (
        f"list_filter(list_transform(range(1, greatest(length({expr})-{k}+2, 1)), "
        f"i -> substring({expr}, i::int, {k})), s -> length(s) = {k})"
    )


def words(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(text), r"\s+"), lambda w: F.length(w) > 0
    )


def words_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({expr}), '\\s+'), "
        f"w -> length(w) > 0)"
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Space-joined word n-grams."""
    w = words(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1)))
    return F.filter(
        F.transform(
            idx,
            lambda i: F.array_join(F.slice(w, i, n), " "),
        ),
        lambda s: F.size(F.split(s, " ")) == n,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<float/double> columns — aggregate HOFs,
    JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    return dot / (norm(a) * norm(b))
