"""Sketch configuration — the analog of the reference's ComputeParameters
(/root/reference/src/sourmash/command_sketch.py:90-186, behavior only).

``num`` and ``scaled`` are mutually exclusive (reference minhash.py:228-232).
``moltype='code'`` means raw byte shingles over ASCII-uppercased content,
which is the reference's protein hashing path applied to arbitrary text
(signature.rs:366-370): no canonicalization, no alphabet validation.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from .hashing import DEFAULT_SEED, max_hash_for_scaled


@dataclass(frozen=True)
class SketchParams:
    ksize: int = 21          # shingle window in characters (AA units for
                             # the protein family — the reference CLI's k
                             # is 3x this and that 3x value is what the
                             # stored sketch reports, minhash.py:237-247)
    scaled: int = 200        # FracMinHash downsampling factor (0 => num mode)
    num: int = 0             # bottom-k size (0 => scaled mode)
    seed: int = DEFAULT_SEED
    moltype: str = "code"    # code | DNA | protein | dayhoff | hp
    track_abundance: bool = False
    translate: bool = False  # protein family only: input column is DNA,
                             # 6-frame translate before hashing (the
                             # reference's `sketch translate`)

    def __post_init__(self):
        if self.num and self.scaled:
            raise ValueError("num and scaled are mutually exclusive")
        if not self.num and not self.scaled:
            raise ValueError("one of num/scaled is required")
        if self.translate and not self.is_protein_family:
            raise ValueError("translate requires a protein-family moltype")

    @property
    def is_protein_family(self) -> bool:
        return self.moltype.lower() in ("protein", "dayhoff", "hp")

    @property
    def max_hash(self) -> int:
        return max_hash_for_scaled(self.scaled) if self.scaled else 0

    @property
    def md5_ksize(self) -> int:
        """ksize as it appears in the sketch identity hash.  The reference's
        protein path stores ksize*3 in the underlying sketch object (python
        multiplies by 3 before FFI; minhash.py:237-247), and md5sum() writes
        that stored value — we mirror it for 'code' and the protein family
        (protein/dayhoff/hp), whose published .sig files report the 3x
        value (e.g. benchmark.input_prot.sig: ksize 21 for a 7-AA window)."""
        if self.moltype == "code" or self.is_protein_family:
            return self.ksize * 3
        return self.ksize

    def config_hash(self) -> str:
        """Stable identity of this configuration — keys checkpoint tables."""
        blob = json.dumps(
            {
                "ksize": self.ksize,
                "scaled": self.scaled,
                "num": self.num,
                "seed": self.seed,
                "moltype": self.moltype,
                "abund": self.track_abundance,
                "translate": self.translate,
            },
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


@dataclass(frozen=True)
class LSHParams:
    """Banding params for the candidate stage.  The hash space is split
    into num_bands*band_size equal ranges whose minima are the band rows
    (operators/lsh.py); with ``num_bands`` bands of ``band_size`` rows
    each, the S-curve capture probability at jaccard s is 1-(1-s^r)^b."""

    num_bands: int = 16
    band_size: int = 2

    def capture_probability(self, jaccard: float) -> float:
        return 1.0 - (1.0 - jaccard**self.band_size) ** self.num_bands

    @staticmethod
    def tune(
        threshold: float,
        target_recall: float = 0.99,
        band_size: int = 2,
        max_bands: int = 256,
    ) -> "LSHParams":
        """Smallest band count whose S-curve capture probability at the
        jaccard `threshold` meets `target_recall` (standard LSH parameter
        selection).  More bands cost linearly in the banding/join stages."""
        import math

        p = threshold**band_size
        if p >= 1.0:
            return LSHParams(1, band_size)
        need = math.log(1.0 - target_recall) / math.log(1.0 - p)
        b = min(max_bands, max(1, math.ceil(need)))
        return LSHParams(num_bands=b, band_size=band_size)


DEFAULT_PARAMS = SketchParams()
DEFAULT_LSH = LSHParams()
