"""Shared column builders for document-table operators (dedup, text, ANN).

These mirror the sketch engine's semantics with an **SQL-portable hash**:
``hash60(s) = int(md5_hex(s)[:15], 16)`` — 60 bits, identical in Spark
(`conv(substr(md5(s),1,15),16,10)`), DuckDB
(`('0x'||substr(md5(s),1,15))::BIGINT`) and Python (`hash60_py`, for
numpy kernels).  The murmur64 path (bit-parity with
the reference) lives in sketch.py; this path exists so every document-level
operator has an independent cross-engine oracle.

The numpy half (`utf8_rows`, `gram_windows`, `gram_hashes`,
`gram_bytes`) enumerates the L-code-point windows of an Arrow string
batch for the exact-substring kernels of dedup.py: `gram_hashes` equals
Spark's ``xxhash64(substring(text, pos, L))`` bit for bit.
"""

from __future__ import annotations

import hashlib

import numpy as np
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


def utf8_rows(arr):
    """The layout of an Arrow string array that the gram kernels walk:
    ``(data, off, cp, row_cp, valid)`` -- its UTF-8 bytes, the n+1 row
    byte offsets into them, the byte offset of every code point (a byte
    that is not ``10xxxxxx``) followed by ``len(data)``, the n+1 indices
    of each row's first code point in ``cp`` (a prefix search of the row
    offsets), and the non-NULL mask."""
    import pyarrow as pa

    n = len(arr)
    wide = pa.types.is_large_string(arr.type)
    odt = np.dtype(np.int64 if wide else np.int32)
    bufs = arr.buffers()
    off = np.frombuffer(
        bufs[1], odt, n + 1, arr.offset * odt.itemsize
    ).astype(np.int64)
    base, nbytes = int(off[0]), int(off[-1] - off[0])
    data = (
        np.frombuffer(bufs[2], np.uint8, nbytes, base)
        if nbytes else np.zeros(0, np.uint8)
    )
    off -= base
    cp = np.append(np.flatnonzero((data & 0xC0) != 0x80), len(data))
    valid = ~arr.is_null().to_numpy(zero_copy_only=False)
    return data, off, cp, np.searchsorted(cp, off), valid


def gram_windows(layout, L: int, chunk: int):
    """Every window of `L` code points of a `utf8_rows` layout, in chunks
    of at most `chunk` windows: yields ``(row, j, start, nbytes)`` -- the
    row, the window's first code point (an index into ``cp``; its
    1-based position in the row is ``j - row_cp[row] + 1``) and its
    byte start and length.  Memory per chunk is O(chunk)."""
    _, off, cp, row_cp, valid = layout
    per_row = np.maximum(np.diff(row_cp) - (L - 1), 0) * valid
    first = np.concatenate(([0], np.cumsum(per_row)))
    for lo in range(0, int(first[-1]), chunk):
        w = np.arange(lo, min(lo + chunk, int(first[-1])), dtype=np.int64)
        row = np.searchsorted(first, w, side="right") - 1
        j = row_cp[row] + (w - first[row])
        start = cp[j]
        end = np.minimum(cp[j + L], off[row + 1])
        yield row, j, start, end - start


_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh64_rows(b, seed: int):
    """XXH64 of each row of the (m, n) uint8 matrix `b`: little-endian
    8-byte lanes, 32-byte stripes, then a 4-byte word and single bytes,
    as Spark's ``XXH64.hashUnsafeBytes``."""
    m, n = b.shape
    lanes = np.ascontiguousarray(b[:, : n // 8 * 8]).view("<u8")
    s = np.uint64(seed)
    with np.errstate(over="ignore"):
        if n >= 32:
            v = [
                np.full(m, s + _P1 + _P2), np.full(m, s + _P2),
                np.full(m, s), np.full(m, s - _P1),
            ]
            for i in range(n // 32 * 4):
                v[i % 4] = _rotl(v[i % 4] + lanes[:, i] * _P2, 31) * _P1
            h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(
                v[3], 18
            )
            for x in v:
                h = (h ^ (_rotl(x * _P2, 31) * _P1)) * _P1 + _P4
        else:
            h = np.full(m, s + _P5)
        h += np.uint64(n)
        for i in range(n // 32 * 4, n // 8):
            h ^= _rotl(lanes[:, i] * _P2, 31) * _P1
            h = _rotl(h, 27) * _P1 + _P4
        i = n // 8 * 8
        if n - i >= 4:
            w = np.ascontiguousarray(b[:, i : i + 4]).view("<u4")[:, 0]
            h ^= w.astype(np.uint64) * _P1
            h = _rotl(h, 23) * _P2 + _P3
            i += 4
        for i in range(i, n):
            h ^= b[:, i].astype(np.uint64) * _P5
            h = _rotl(h, 11) * _P1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def gram_hashes(data, start, nbytes, seed: int = 42):
    """int64 XXH64 (Spark's ``xxhash64`` seed 42) of the byte windows
    ``data[start : start + nbytes]``, hashed one byte length at a time."""
    out = np.empty(len(start), np.int64)
    for n in np.flatnonzero(np.bincount(nbytes)):
        sel = np.flatnonzero(nbytes == n)
        rows = np.lib.stride_tricks.sliding_window_view(data, n)[start[sel]]
        out[sel] = _xxh64_rows(rows, seed)
    return out


def gram_bytes(data, start, nbytes):
    """The byte windows ``data[start : start + nbytes]`` as an Arrow
    large_binary array."""
    import pyarrow as pa

    off = np.concatenate(([0], np.cumsum(nbytes)))
    flat = np.arange(off[-1]) + np.repeat(start - off[:-1], nbytes)
    return pa.Array.from_buffers(
        pa.large_binary(), len(start),
        [None, pa.py_buffer(off), pa.py_buffer(data[flat])],
    )
