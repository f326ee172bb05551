"""MurmurHash3 x64_128 and FracMinHash hash-space helpers.

The reference engine (sourmash) hashes every k-shingle with the low 64 bits of
MurmurHash3 x64_128 (Austin Appleby's public-domain algorithm) at seed 42, and
keeps a hash ``h`` iff ``h <= max_hash`` where ``max_hash = (u64::MAX as f64 /
scaled) as u64`` (see /root/reference/src/core/src/lib.rs:57-58 and
/root/reference/src/core/src/sketch/minhash.rs:21-27 for the behavior we
reproduce).  Spark's builtin ``hash()`` is murmur3_x86_32 and ``xxhash64`` is a
different function entirely, so bit-parity requires our own implementation.

Two implementations live here:

* :func:`murmur3_x64_128` — scalar pure-Python, the *test oracle* (slow path).
* :func:`murmur64_windows` — numpy-vectorized over the sliding k-byte windows
  of a byte buffer, the *production path* used inside Arrow-batched pandas
  UDFs.  No per-row Python: one call hashes every shingle of a document.

u64 handling: hashes are computed as ``numpy.uint64`` and *stored* in Spark as
their two's-complement ``int64`` bit pattern (``LongType``).  Arrays are kept
sorted by **unsigned** value.  For scaled >= 2 every kept hash is < 2**63, so
the signed and unsigned orders coincide and plain Spark comparisons are safe;
num-mode (bottom-k over the full u64 space) sketches may contain values >=
2**63 (negative as int64) and any order-sensitive operation must use
:func:`u64_to_i64` / :func:`i64_to_u64` or stay inside a UDF.
"""

from __future__ import annotations

import numpy as np

MASK64 = 0xFFFFFFFFFFFFFFFF
DEFAULT_SEED = 42  # sourmash default murmur seed

_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


# ---------------------------------------------------------------------------
# scalar oracle
# ---------------------------------------------------------------------------

def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & MASK64
    k ^= k >> 33
    return k


def murmur3_x64_128(data: bytes, seed: int = DEFAULT_SEED) -> tuple[int, int]:
    """Pure-Python MurmurHash3 x64_128; returns (h1, h2) as unsigned ints."""
    h1 = seed & MASK64
    h2 = seed & MASK64
    length = len(data)
    nblocks = length // 16

    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")

        k1 = (k1 * _C1) & MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & MASK64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & MASK64
        h1 = (h1 * 5 + 0x52DCE729) & MASK64

        k2 = (k2 * _C2) & MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & MASK64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & MASK64
        h2 = (h2 * 5 + 0x38495AB5) & MASK64

    tail = data[nblocks * 16 :]
    tl = len(tail)
    k1 = 0
    k2 = 0
    if tl > 8:
        for i in range(tl - 1, 7, -1):
            k2 = (k2 << 8) | tail[i]
        k2 = (k2 * _C2) & MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & MASK64
        h2 ^= k2
    if tl > 0:
        for i in range(min(tl, 8) - 1, -1, -1):
            k1 = (k1 << 8) | tail[i]
        k1 = (k1 * _C1) & MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & MASK64
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & MASK64
    h2 = (h2 + h1) & MASK64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & MASK64
    h2 = (h2 + h1) & MASK64
    return h1, h2


def hash_murmur(data: bytes | str, seed: int = DEFAULT_SEED) -> int:
    """Low 64 bits of murmur3_x64_128 — parity with the reference's
    ``hash_murmur`` (pinned: hash_murmur(b"ACG", 42) == 1731421407650554201)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    return murmur3_x64_128(data, seed)[0]


# ---------------------------------------------------------------------------
# vectorized production path
# ---------------------------------------------------------------------------

def _read_u64_cols(win: np.ndarray, off: int) -> np.ndarray:
    """Little-endian uint64 from 8 consecutive byte columns of (N, L) uint8.
    Always returns a fresh writable array (callers mutate it in place)."""
    block = np.ascontiguousarray(win[:, off : off + 8])
    out = block.view("<u8").ravel()
    if not out.flags.writeable or np.shares_memory(out, win):
        out = out.copy()
    return out


def _tail_u64(win: np.ndarray, off: int, nbytes: int) -> np.ndarray:
    """Little-endian uint from `nbytes` (<8) byte columns starting at off."""
    out = np.zeros(win.shape[0], dtype=np.uint64)
    for i in range(nbytes - 1, -1, -1):
        out = (out << np.uint64(8)) | win[:, off + i].astype(np.uint64)
    return out


def _rotl64_inplace(x: np.ndarray, r: int, tmp: np.ndarray) -> None:
    np.right_shift(x, np.uint64(64 - r), out=tmp)
    np.left_shift(x, np.uint64(r), out=x)
    np.bitwise_or(x, tmp, out=x)


def _fmix64_inplace(k: np.ndarray, tmp: np.ndarray) -> None:
    np.right_shift(k, np.uint64(33), out=tmp)
    np.bitwise_xor(k, tmp, out=k)
    np.multiply(k, np.uint64(0xFF51AFD7ED558CCD), out=k)
    np.right_shift(k, np.uint64(33), out=tmp)
    np.bitwise_xor(k, tmp, out=k)
    np.multiply(k, np.uint64(0xC4CEB9FE1A85EC53), out=k)
    np.right_shift(k, np.uint64(33), out=tmp)
    np.bitwise_xor(k, tmp, out=k)


def _murmur64_fixed_chunk(windows: np.ndarray, seed: int) -> np.ndarray:
    """One cache-sized chunk; all arithmetic in place (memory traffic, not
    FLOPs, bounds this kernel — avoid temporaries)."""
    n, length = windows.shape
    c1 = np.uint64(_C1)
    c2 = np.uint64(_C2)
    h1 = np.full(n, seed, dtype=np.uint64)
    h2 = np.full(n, seed, dtype=np.uint64)
    tmp = np.empty(n, dtype=np.uint64)

    nblocks = length // 16
    for b in range(nblocks):
        k1 = _read_u64_cols(windows, b * 16)
        k2 = _read_u64_cols(windows, b * 16 + 8)

        np.multiply(k1, c1, out=k1)
        _rotl64_inplace(k1, 31, tmp)
        np.multiply(k1, c2, out=k1)
        np.bitwise_xor(h1, k1, out=h1)
        _rotl64_inplace(h1, 27, tmp)
        np.add(h1, h2, out=h1)
        np.multiply(h1, np.uint64(5), out=h1)
        np.add(h1, np.uint64(0x52DCE729), out=h1)

        np.multiply(k2, c2, out=k2)
        _rotl64_inplace(k2, 33, tmp)
        np.multiply(k2, c1, out=k2)
        np.bitwise_xor(h2, k2, out=h2)
        _rotl64_inplace(h2, 31, tmp)
        np.add(h2, h1, out=h2)
        np.multiply(h2, np.uint64(5), out=h2)
        np.add(h2, np.uint64(0x38495AB5), out=h2)

    tl = length - nblocks * 16
    off = nblocks * 16
    if tl > 8:
        k2 = _tail_u64(windows, off + 8, tl - 8)
        np.multiply(k2, c2, out=k2)
        _rotl64_inplace(k2, 33, tmp)
        np.multiply(k2, c1, out=k2)
        np.bitwise_xor(h2, k2, out=h2)
    if tl > 0:
        k1 = (
            _read_u64_cols(windows, off)
            if tl >= 8
            else _tail_u64(windows, off, tl)
        )
        np.multiply(k1, c1, out=k1)
        _rotl64_inplace(k1, 31, tmp)
        np.multiply(k1, c2, out=k1)
        np.bitwise_xor(h1, k1, out=h1)

    ln = np.uint64(length)
    np.bitwise_xor(h1, ln, out=h1)
    np.bitwise_xor(h2, ln, out=h2)
    np.add(h1, h2, out=h1)
    np.add(h2, h1, out=h2)
    _fmix64_inplace(h1, tmp)
    _fmix64_inplace(h2, tmp)
    np.add(h1, h2, out=h1)
    return h1


def murmur64_fixed(
    windows: np.ndarray, seed: int = DEFAULT_SEED, chunk: int = 1 << 16
) -> np.ndarray:
    """Vectorized murmur3_x64_128 low-64 over an (N, L) uint8 array of
    fixed-length keys.  Returns uint64[N].  Processes in cache-sized chunks
    with in-place arithmetic — the kernel is memory-bandwidth bound."""
    if windows.ndim != 2:
        raise ValueError("windows must be 2-D (N, L) uint8")
    n = windows.shape[0]
    if n <= chunk:
        return _murmur64_fixed_chunk(windows, seed)
    out = np.empty(n, dtype=np.uint64)
    for a in range(0, n, chunk):
        b = min(a + chunk, n)
        out[a:b] = _murmur64_fixed_chunk(windows[a:b], seed)
    return out


def ascii_upper(buf: np.ndarray) -> np.ndarray:
    """ASCII-uppercase a uint8 buffer in a copy — parity with the reference's
    ``to_ascii_uppercase`` normalization before hashing (SeqToHashes)."""
    out = buf.copy()
    mask = (out >= 97) & (out <= 122)
    out[mask] -= 32
    return out


def murmur64_windows(
    data: bytes, k: int, seed: int = DEFAULT_SEED, uppercase: bool = True
) -> np.ndarray:
    """Hash every k-byte sliding window of ``data``; returns uint64[n-k+1]
    in window order (empty array when len(data) < k)."""
    arr = np.frombuffer(data, dtype=np.uint8)
    if uppercase:
        arr = ascii_upper(arr)
    if arr.size < k:
        return np.empty(0, dtype=np.uint64)
    windows = np.lib.stride_tricks.sliding_window_view(arr, k)
    return murmur64_fixed(windows, seed)


# ---------------------------------------------------------------------------
# DNA canonical k-mers
# ---------------------------------------------------------------------------

# complement lookup (encodings.rs:85-101 COMPLEMENT): A<->T, C<->G, N->N,
# everything else -> 0 (never equals a valid base, so an invalid byte can
# never win a canonical comparison into a valid-looking kmer — invalid
# windows are dropped by DNA_VALID anyway)
DNA_COMPLEMENT = np.zeros(256, dtype=np.uint8)
for _a, _b in ((b"A", b"T"), (b"C", b"G"), (b"G", b"C"), (b"T", b"A"), (b"N", b"N")):
    DNA_COMPLEMENT[_a[0]] = _b[0]

# VALID table (encodings.rs:370-377): strictly A/C/G/T
DNA_VALID = np.zeros(256, dtype=bool)
for _c in b"ACGT":
    DNA_VALID[_c] = True


def canonical_dna_windows(
    arr: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """All k-windows of a uint8 buffer in CANONICAL form: per window the
    lexicographic min of the forward kmer and its reverse complement —
    exactly the reference's DNA hashing input
    (signature.rs:268-306: `_hash_murmur(min(kmer, krc), seed)`).

    The reverse complement of window arr[i:i+k] equals
    complement(arr)[i:i+k][::-1], so both candidates come from two sliding
    views over the batch buffer — no per-kmer work.  Returns
    (canonical_windows uint8[n,k], valid bool[n]) where valid marks windows
    made only of A/C/G/T (invalid ones are skipped, the reference's
    `force` mode, signature.rs:274-285)."""
    if arr.size < k:
        return (
            np.empty((0, k), dtype=np.uint8),
            np.empty(0, dtype=bool),
        )
    wf = np.lib.stride_tricks.sliding_window_view(arr, k)
    wr = np.lib.stride_tricks.sliding_window_view(
        DNA_COMPLEMENT[arr], k
    )[:, ::-1]
    diff = wf != wr
    first = diff.argmax(axis=1)  # 0 when palindromic (either side fine)
    rows = np.arange(wf.shape[0])
    use_fwd = wf[rows, first] <= wr[rows, first]
    canonical = np.where(use_fwd[:, None], wf, wr)

    bad = (~DNA_VALID[arr]).astype(np.int64)
    c = np.concatenate([[0], np.cumsum(bad)])
    valid = (c[k:] - c[:-k]) == 0
    return canonical, valid


# ---------------------------------------------------------------------------
# FracMinHash hash-space helpers
# ---------------------------------------------------------------------------

def max_hash_for_scaled(scaled: int) -> int:
    """``(u64::MAX as f64 / scaled as f64) as u64`` — the Rust truncation
    semantics (authoritative; the Python reference uses round() and can
    differ by 1)."""
    if scaled == 0:
        return 0
    if scaled == 1:
        return MASK64
    return min(MASK64, int(np.float64(MASK64) / np.float64(scaled)))


def scaled_for_max_hash(max_hash: int) -> int:
    if max_hash == 0:
        return 0
    return int(np.float64(MASK64) / np.float64(max_hash))


def u64_to_i64(h):
    """Bit-pattern reinterpret uint64 -> int64 (scalar or ndarray)."""
    if isinstance(h, np.ndarray):
        return h.astype(np.uint64).view(np.int64)
    return h - (1 << 64) if h >= (1 << 63) else h


def i64_to_u64(h):
    if isinstance(h, np.ndarray):
        return h.astype(np.int64).view(np.uint64)
    return h + (1 << 64) if h < 0 else h


# ---------------------------------------------------------------------------
# Protein-family encodings: codon translation, dayhoff, hp
# ---------------------------------------------------------------------------

# Standard codon table incl. the reference's third-position-N wildcard rows
# (encodings.rs:103-228 CODONTABLE); unknown codons translate to 'X'
# (encodings.rs:314-339 translate_codon).
_CODON_TABLE = {
    "TTT": "F", "TTC": "F", "TTA": "L", "TTG": "L",
    "TCT": "S", "TCC": "S", "TCA": "S", "TCG": "S", "TCN": "S",
    "TAT": "Y", "TAC": "Y", "TAA": "*", "TAG": "*",
    "TGA": "*", "TGT": "C", "TGC": "C", "TGG": "W",
    "CTT": "L", "CTC": "L", "CTA": "L", "CTG": "L", "CTN": "L",
    "CCT": "P", "CCC": "P", "CCA": "P", "CCG": "P", "CCN": "P",
    "CAT": "H", "CAC": "H", "CAA": "Q", "CAG": "Q",
    "CGT": "R", "CGC": "R", "CGA": "R", "CGG": "R", "CGN": "R",
    "ATT": "I", "ATC": "I", "ATA": "I", "ATG": "M",
    "ACT": "T", "ACC": "T", "ACA": "T", "ACG": "T", "ACN": "T",
    "AAT": "N", "AAC": "N", "AAA": "K", "AAG": "K",
    "AGT": "S", "AGC": "S", "AGA": "R", "AGG": "R",
    "GTT": "V", "GTC": "V", "GTA": "V", "GTG": "V", "GTN": "V",
    "GCT": "A", "GCC": "A", "GCA": "A", "GCG": "A", "GCN": "A",
    "GAT": "D", "GAC": "D", "GAA": "E", "GAG": "E",
    "GGT": "G", "GGC": "G", "GGA": "G", "GGG": "G", "GGN": "G",
}

# Dayhoff 6-group compression (encodings.rs:230-280 DAYHOFFTABLE);
# unmapped residues -> 'X' (encodings.rs:342-348 aa_to_dayhoff).
_DAYHOFF = {
    "C": "a",
    "A": "b", "G": "b", "P": "b", "S": "b", "T": "b",
    "D": "c", "E": "c", "N": "c", "Q": "c",
    "H": "d", "K": "d", "R": "d",
    "I": "e", "L": "e", "M": "e", "V": "e",
    "F": "f", "W": "f", "Y": "f",
    "*": "*",
}

# Hydrophobic/polar 2-group compression (encodings.rs:282-312 HPTABLE).
_HP = {
    **{c: "h" for c in "AFGILMPVWY"},
    **{c: "p" for c in "NCSTDERHKQ"},
    "*": "*",
}

# base -> index over the 6-symbol alphabet {A,C,G,T,N,other}; codon value
# i0*36+i1*6+i2 indexes a 216-entry codon->aa table ('X' default)
_BASE6 = np.full(256, 5, dtype=np.uint8)
for _i, _c in enumerate(b"ACGTN"):
    _BASE6[_c] = _i

_CODON_AA = np.full(216, ord("X"), dtype=np.uint8)
for _codon, _aa in _CODON_TABLE.items():
    _i0, _i1, _i2 = (_BASE6[ord(_ch)] for _ch in _codon)
    _CODON_AA[int(_i0) * 36 + int(_i1) * 6 + int(_i2)] = ord(_aa)

_DAYHOFF_TAB = np.full(256, ord("X"), dtype=np.uint8)
for _aa, _grp in _DAYHOFF.items():
    _DAYHOFF_TAB[ord(_aa)] = ord(_grp)

_HP_TAB = np.full(256, ord("X"), dtype=np.uint8)
for _aa, _grp in _HP.items():
    _HP_TAB[ord(_aa)] = ord(_grp)

PROTEIN_MOLTYPES = ("protein", "dayhoff", "hp")


def aa_encode(arr: np.ndarray, moltype: str) -> np.ndarray:
    """Map an amino-acid uint8 buffer through the moltype's residue table:
    identity for 'protein', 6-group for 'dayhoff', 2-group for 'hp'
    (signature.rs:373-392 — the reference maps raw residue bytes with NO
    case normalization; unmapped bytes become 'X')."""
    m = moltype.lower()
    if m == "protein":
        return arr
    if m == "dayhoff":
        return _DAYHOFF_TAB[arr]
    if m == "hp":
        return _HP_TAB[arr]
    raise ValueError(f"not a protein-family moltype: {moltype}")


def translate_frames(arr: np.ndarray, moltype: str) -> list[np.ndarray]:
    """Six-frame DNA->amino-acid translation of a uint8 DNA buffer: three
    forward frames plus three frames of the reverse complement, each
    translated codon-by-codon with incomplete trailing codons dropped —
    exactly the reference's translate loop (signature.rs:307-351 driving
    encodings.rs:351-368 `to_aa`).  Codons containing bytes outside
    {A,C,G,T,N} or N-combinations absent from the wildcard rows translate
    to 'X'; the complement of a non-ACGTN byte is byte 0 (encodings.rs:
    85-101), which also lands on 'X'.  Returns 6 uint8 aa arrays already
    passed through the moltype's residue encoding."""
    rc = DNA_COMPLEMENT[arr[::-1]]
    out: list[np.ndarray] = []
    for src in (arr, rc):
        for frame in range(3):
            sub = src[frame:]
            n = sub.size // 3
            if n == 0:
                out.append(np.empty(0, dtype=np.uint8))
                continue
            cod = _BASE6[sub[: 3 * n]].reshape(-1, 3).astype(np.int64)
            aa = _CODON_AA[cod[:, 0] * 36 + cod[:, 1] * 6 + cod[:, 2]]
            out.append(aa_encode(aa, moltype))
    return out
