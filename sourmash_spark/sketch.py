"""Sketch construction — the "map" stage: content -> MinHash signature rows.

Reference behavior reproduced (not ported): the reference iterates records and
feeds each k-window through murmur64 into a bounded sorted vec
(/root/reference/src/core/src/signature.rs:167-399,
/root/reference/src/core/src/sketch/minhash.rs:309-383).  Here the whole stage
is ONE narrow mapInPandas over the input table — no shuffle, no per-row
Python:

* every content string in an Arrow batch is uppercased + concatenated into a
  single uint8 buffer;
* ONE vectorized murmur pass hashes every valid k-window in the batch
  (windows crossing document boundaries are excluded by index arithmetic);
* per-document reduction (scaled filter / bottom-k, unique+counts) is numpy.

At 100 TB this stage is embarrassingly parallel and scales linearly with
input splits; Catalyst prunes unused columns out of the parquet/Iceberg scan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

from .hashing import (
    PROTEIN_MOLTYPES,
    aa_encode,
    canonical_dna_windows,
    murmur64_fixed,
    translate_frames,
)
from .params import SketchParams

SKETCH_FIELDS = [
    T.StructField("md5", T.StringType()),
    T.StructField("ksize", T.IntegerType()),
    T.StructField("scaled", T.LongType()),
    T.StructField("num", T.IntegerType()),
    T.StructField("seed", T.LongType()),
    T.StructField("moltype", T.StringType()),
    T.StructField("hashes", T.ArrayType(T.LongType())),
    T.StructField("abunds", T.ArrayType(T.LongType())),
    T.StructField("n_hashes", T.IntegerType()),
]


def _segment_window_hashes(
    segments: list[np.ndarray], k: int, seed: int, dna: bool = False
) -> list[np.ndarray]:
    """Per-segment u64 window hashes from ONE concatenated murmur pass.

    All segments are joined into a single buffer, EVERY window of the
    buffer is hashed vectorized (boundary-crossing ones included — ~k
    extra per segment, <2% waste), then crossers are dropped by mask:
    masking 8-byte hashes beats gathering k-byte windows.  With
    ``dna=True`` windows are canonical min(kmer, revcomp) and windows
    containing non-ACGT bases are additionally dropped (signature.rs:
    268-306, `force` mode)."""
    empty = np.empty(0, np.uint64)
    if not segments:
        return []
    lens = np.array([s.size for s in segments], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    ends = np.cumsum(lens)
    n_windows = np.maximum(lens - k + 1, 0)
    if int(lens.sum()) < k or int(n_windows.sum()) == 0:
        return [empty] * len(segments)
    arr = segments[0] if len(segments) == 1 else np.concatenate(segments)

    if dna:
        windows, dna_valid = canonical_dna_windows(arr, k)
        all_hashes = murmur64_fixed(windows, seed)
        valid = dna_valid.copy()
    else:
        windows = np.lib.stride_tricks.sliding_window_view(arr, k)
        all_hashes = murmur64_fixed(windows, seed)
        valid = np.ones(windows.shape[0], dtype=bool)
    for i in range(len(lens) - 1):  # windows starting in the k-1 tail bytes
        lo = max(int(ends[i]) - (k - 1), int(starts[i]))
        valid[lo : int(ends[i])] = False
    # also windows starting inside a segment too short for one full window
    short = n_windows == 0
    if short.any():
        for i in np.nonzero(short)[0]:
            valid[int(starts[i]) : int(ends[i])] = False
    hashes = all_hashes[valid[: all_hashes.size]]

    # Slice by CUMULATIVE VALID count, not raw window count: the DNA branch
    # drops non-ACGT windows from `hashes` in addition to the boundary
    # crossers, so a segment's hash count can be < n_windows[i].  cv[p] =
    # number of surviving windows strictly before concatenation window p.
    cv = np.concatenate([[0], np.cumsum(valid, dtype=np.int64)])
    out = []
    for i in range(len(lens)):
        # clamp: a segment starting inside the buffer's k-1 tail has byte
        # offsets past the last window index (cv is indexed by window)
        lo = min(int(starts[i]), cv.size - 1)
        hi = min(lo + int(n_windows[i]), cv.size - 1)
        out.append(hashes[cv[lo] : cv[hi]])
    return out


def batch_sketch(
    contents: pd.Series, params: SketchParams
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Sketch every content string of a batch with one vectorized hash pass.

    Returns per-row (hashes_u64_sorted, abunds) numpy arrays (unsigned order;
    abunds all-ones when track_abundance is off).

    Moltype branches:
    * ``code``: raw uppercased byte windows (reference protein hashing
      applied to arbitrary text, signature.rs:366-370).
    * ``DNA``: canonical min(kmer, revcomp) windows, invalid bases skipped.
    * ``protein``/``dayhoff``/``hp`` with ``translate=False``: the input is
      an amino-acid sequence; residues are mapped through the moltype's
      table (identity / Dayhoff 6-group / HP 2-group) with NO case
      normalization — the reference's add_protein hashes raw residue bytes
      (signature.rs:362-392).
    * same with ``translate=True``: the input is DNA; each doc is translated
      in all SIX frames (3 forward + 3 reverse-complement, incomplete
      trailing codons dropped, unknown codons -> 'X'; signature.rs:307-351)
      and every frame's k-AA windows feed the same sketch.
    """
    k = params.ksize
    bufs = []
    lens = []
    for text in contents:
        b = (text or "").encode("utf-8")
        bufs.append(b)
        lens.append(len(b))
    if not bufs:
        return []
    arr = np.frombuffer(b"".join(bufs), dtype=np.uint8).copy()
    moltype = params.moltype.lower()
    protein_direct = moltype in PROTEIN_MOLTYPES and not params.translate
    if not protein_direct:
        # ASCII-uppercase in place (reference DNA/text normalization,
        # signature.rs:214); add_protein does NOT normalize case
        low = (arr >= 97) & (arr <= 122)
        arr[low] -= 32

    lens = np.asarray(lens, dtype=np.int64)
    doc_arrs = np.split(arr, np.cumsum(lens)[:-1])

    if params.translate:
        # 6 amino-acid segments per doc, all hashed in one pass
        segments = [
            seg for d in doc_arrs for seg in translate_frames(d, moltype)
        ]
        seg_hashes = _segment_window_hashes(segments, k, params.seed)
        per_doc = [
            np.concatenate(seg_hashes[6 * i : 6 * i + 6])
            for i in range(len(doc_arrs))
        ]
    else:
        if protein_direct:
            doc_arrs = [aa_encode(d, moltype) for d in doc_arrs]
        per_doc = _segment_window_hashes(
            doc_arrs, k, params.seed, dna=moltype == "dna"
        )

    out: list[tuple[np.ndarray, np.ndarray]] = []
    max_hash = np.uint64(params.max_hash) if params.scaled else None
    for h in per_doc:
        if params.scaled:
            h = h[h <= max_hash]
        uniq, counts = np.unique(h, return_counts=True)
        if params.num and uniq.size > params.num:
            counts = counts[: params.num]
            uniq = uniq[: params.num]
        if not params.track_abundance:
            counts = np.ones(uniq.size, dtype=np.int64)
        out.append((uniq, counts.astype(np.int64)))
    return out


def sketch_md5(hashes_u64: np.ndarray, md5_ksize: int) -> str:
    """Sketch identity: md5 over str(ksize) then each min as a decimal string
    (format parity with the reference's md5sum, minhash.rs:290-307)."""
    # one join + one update: md5 of a concatenation is insensitive to the
    # update chunking, so this equals the reference's per-min update loop
    return hashlib.md5(
        (str(md5_ksize) + "".join(map(str, hashes_u64.tolist()))).encode()
    ).hexdigest()


def sketch_signatures(
    df: DataFrame,
    params: SketchParams | None = None,
    content_col: str = "content",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """code_files-like DataFrame -> signatures DataFrame.

    Output: keep_cols + (md5, ksize, scaled, num, seed, moltype, hashes,
    abunds, n_hashes).  `hashes` are u64 bit patterns stored as LongType,
    sorted by unsigned value.
    """
    params = params or SketchParams()
    keep_cols = keep_cols if keep_cols is not None else [
        c for c in df.columns if c != content_col
    ]
    in_schema = df.select(*keep_cols, content_col).schema
    out_schema = T.StructType(
        [in_schema[c] for c in keep_cols] + SKETCH_FIELDS
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sketches = batch_sketch(pdf[content_col], params)
            res = pdf[keep_cols].copy() if keep_cols else pd.DataFrame(
                index=pdf.index
            )
            res["md5"] = [sketch_md5(h, params.md5_ksize) for h, _ in sketches]
            res["ksize"] = np.int32(params.ksize)
            res["scaled"] = np.int64(params.scaled)
            res["num"] = np.int32(params.num)
            res["seed"] = np.int64(params.seed)
            res["moltype"] = params.moltype
            res["hashes"] = [h.view(np.int64) for h, _ in sketches]
            res["abunds"] = [a for _, a in sketches]
            res["n_hashes"] = np.array([h.size for h, _ in sketches], np.int32)
            yield res

    return df.select(*keep_cols, content_col).mapInPandas(run, out_schema)


def with_sha256(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Ingest invariant column: sha256 of the utf-8 content bytes (the graft's
    per-row parity check, analog of the reference's md5-based identity)."""
    return df.withColumn("sha256", F.sha2(F.col(content_col), 256))
