"""Generate reference-semantics murmur sketch fixtures for the DuckDB oracle.

The correctness gate compares Spark queries against DuckDB SQL, but DuckDB
cannot compute MurmurHash3 x64-128 — so the flagship murmur queries were
rows-only in round 1.  This tool closes that hole: it sketches the sf
documents with the *pure-Python pinned-parity oracle* (sourmash_spark.oracle
.MinHash — an independent, scalar, set-based implementation whose murmur and
semantics are pinned to the reference's published test vectors in
tests/test_hashing.py / tests/test_oracle_minhash.py) and writes the
resulting (sig_id, md5, n_hashes, hashes) table to parquet.

Oracle SQL then does all *relational* work (banding, candidate join, verify,
connected components, greedy gather) in SQL from these hashes — the fixture
only supplies the hash function DuckDB lacks.

Hashes are stored as int64 bit patterns (u64 viewed signed), ascending by
unsigned value — exactly the representation sketch_signatures emits.

Usage: python tools/make_fixtures.py  (regenerates fixtures/murmur_sf*.parquet)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(ROOT))

from sourmash_spark.hashing import murmur64_fixed, u64_to_i64  # noqa: E402
from sourmash_spark.oracle import MinHash  # noqa: E402

KSIZE = 12
SCALED = 8
SEED = 42

SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
}


def sketch_doc(text: str) -> MinHash:
    """Oracle-semantics sketch of one document.

    Window hashing is vectorized (murmur64_fixed is itself pinned to the
    scalar reference vectors) purely for speed; reduction/identity go
    through the oracle MinHash so the FIXTURE semantics (scaled filter,
    unsigned sort, md5 identity) come from the independent implementation.
    """
    mh = MinHash(ksize=KSIZE, scaled=SCALED, seed=SEED, moltype="code")
    data = (text or "").encode("utf-8")
    data = bytes(b - 32 if 97 <= b <= 122 else b for b in data)
    if len(data) >= KSIZE:
        arr = np.frombuffer(data, dtype=np.uint8)
        windows = np.lib.stride_tricks.sliding_window_view(arr, KSIZE)
        mh.add_many(int(h) for h in murmur64_fixed(windows, SEED))
    return mh


def main() -> None:
    for label, sf_dir in SF_DIRS.items():
        t0 = time.time()
        docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        ids, md5s, ns, hash_lists = [], [], [], []
        for doc_id, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
            mh = sketch_doc(text)
            mins_u = np.array(mh.mins, dtype=np.uint64)
            ids.append(int(doc_id))
            md5s.append(mh.md5sum())
            ns.append(len(mh))
            hash_lists.append(u64_to_i64(mins_u).tolist())
        table = pa.table(
            {
                "sig_id": pa.array(ids, pa.int64()),
                "md5": pa.array(md5s, pa.string()),
                "n_hashes": pa.array(ns, pa.int32()),
                "hashes": pa.array(hash_lists, pa.list_(pa.int64())),
            }
        )
        out = str(ROOT / f"fixtures/murmur_sf{label}.parquet")
        pq.write_table(table, out, compression="zstd")
        print(
            f"{out}: {len(ids)} sketches, "
            f"{sum(ns)} hashes, {time.time()-t0:.1f}s"
        )


if __name__ == "__main__":
    main()
    main_protein()  # defined below (protein-family fixture, round 4)


# ---------------------------------------------------------------------------
# Protein-family fixture (round 4): long-form (sig_id, mode, md5, n_hashes,
# hashes) per document, fully computed by the scalar dict-based oracle
# (sourmash_spark.oracle sketch_text -> add_protein/add_sequence_translate),
# whose tables are built independently from the vectorized engine and are
# pinned to the reference's published benchmark.*prot.sig artifacts in
# tests/test_protein_sketch.py.
#
# Modes over documents.text:
#   protein / dayhoff / hp : direct amino-acid interpretation of the text
#   translate_protein      : 6-frame translation of a DNA-ized text (upper,
#                            then A..Z -> cycling ACGT; spaces untouched so
#                            they produce 'X' codons) — the same mapping the
#                            Spark gate applies with F.translate.
# ---------------------------------------------------------------------------

from sourmash_spark.oracle import sketch_text  # noqa: E402
from sourmash_spark.params import SketchParams  # noqa: E402

PROT_KSIZE = 7
PROT_SCALED = 8

LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
DNAIZE = "".join("ACGT"[i % 4] for i in range(26))
_DNAIZE_TRANS = str.maketrans(LETTERS, DNAIZE)

PROT_MODES = {
    "protein": (SketchParams(ksize=PROT_KSIZE, scaled=PROT_SCALED,
                             moltype="protein"), False),
    "dayhoff": (SketchParams(ksize=PROT_KSIZE, scaled=PROT_SCALED,
                             moltype="dayhoff"), False),
    "hp": (SketchParams(ksize=PROT_KSIZE, scaled=PROT_SCALED,
                        moltype="hp"), False),
    "translate_protein": (SketchParams(ksize=PROT_KSIZE, scaled=PROT_SCALED,
                                       moltype="protein", translate=True),
                          True),
}


def main_protein() -> None:
    for label, sf_dir in SF_DIRS.items():
        t0 = time.time()
        docs = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        )
        ids, modes, md5s, ns, hash_lists = [], [], [], [], []
        for doc_id, text in zip(
            docs["doc_id"].to_pylist(), docs["text"].to_pylist()
        ):
            for mode, (params, dnaize) in PROT_MODES.items():
                src = (
                    (text or "").upper().translate(_DNAIZE_TRANS)
                    if dnaize else (text or "")
                )
                mh = sketch_text(src, params)
                mins_u = np.array(mh.mins, dtype=np.uint64)
                ids.append(int(doc_id))
                modes.append(mode)
                md5s.append(mh.md5sum())
                ns.append(len(mh))
                hash_lists.append(u64_to_i64(mins_u).tolist())
        table = pa.table(
            {
                "sig_id": pa.array(ids, pa.int64()),
                "mode": pa.array(modes, pa.string()),
                "md5": pa.array(md5s, pa.string()),
                "n_hashes": pa.array(ns, pa.int32()),
                "hashes": pa.array(hash_lists, pa.list_(pa.int64())),
            }
        )
        out = str(ROOT / f"fixtures/protein_sf{label}.parquet")
        pq.write_table(table, out, compression="zstd")
        print(
            f"{out}: {len(ids)} sketches, "
            f"{sum(ns)} hashes, {time.time()-t0:.1f}s"
        )


# ---------------------------------------------------------------------------
# DNA fixture (round 5): (sig_id, md5, n_hashes, hashes) per document for
# the canonical-DNA sketching gate.  Text is deterministically DNA-ized
# with A..Z -> cycling "ACGTN" — every 5th letter becomes an 'N' base, so
# the fixture exercises the invalid-base window-skipping path end-to-end
# (the r4 high-severity bug lived exactly there: batched non-ACGT slicing,
# sketch.py:95-106).  Spaces/punctuation survive and are likewise invalid.
# Sketching is the scalar oracle's add_dna (min(kmer, revcomp) per valid
# window), independent of the vectorized engine; engine<->fixture
# bit-identity is pinned in tests/test_murmur_fixture.py.
# ---------------------------------------------------------------------------

DNA_KSIZE = 9
DNA_SCALED = 8
# A..Z -> cycling ACGT, except 'N' stays 'N' (~4% of document letters) so
# a realistic fraction (~30%) of k=9 windows contains an invalid base;
# non-letters are stripped first (else spaces would invalidate nearly
# every window of word-sized runs)
DNAIZE_N = "".join(
    "N" if ch == "N" else "ACGT"[i % 4] for i, ch in enumerate(LETTERS)
)
_DNAIZE_N_TRANS = str.maketrans(LETTERS, DNAIZE_N)

import re  # noqa: E402

_RE_NON_ALPHA = re.compile("[^A-Z]")


def main_dna() -> None:
    params = SketchParams(ksize=DNA_KSIZE, scaled=DNA_SCALED, moltype="DNA")
    for label, sf_dir in SF_DIRS.items():
        t0 = time.time()
        docs = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        )
        ids, md5s, ns, hash_lists = [], [], [], []
        for doc_id, text in zip(
            docs["doc_id"].to_pylist(), docs["text"].to_pylist()
        ):
            src = _RE_NON_ALPHA.sub("", (text or "").upper()).translate(
                _DNAIZE_N_TRANS
            )
            mh = sketch_text(src, params)
            mins_u = np.array(mh.mins, dtype=np.uint64)
            ids.append(int(doc_id))
            md5s.append(mh.md5sum())
            ns.append(len(mh))
            hash_lists.append(u64_to_i64(mins_u).tolist())
        table = pa.table(
            {
                "sig_id": pa.array(ids, pa.int64()),
                "md5": pa.array(md5s, pa.string()),
                "n_hashes": pa.array(ns, pa.int32()),
                "hashes": pa.array(hash_lists, pa.list_(pa.int64())),
            }
        )
        out = str(ROOT / f"fixtures/dna_sf{label}.parquet")
        pq.write_table(table, out, compression="zstd")
        print(
            f"{out}: {len(ids)} sketches, "
            f"{sum(ns)} hashes, {time.time()-t0:.1f}s"
        )
