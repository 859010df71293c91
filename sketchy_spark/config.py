"""Frozen sketch/pipeline configuration.

Mirrors the reference's ``SketchParams`` (``/root/reference/src/sketchy.rs:573-600``)
and CLI defaults (``/root/reference/src/cli.rs:33-48``): k=16, s=1000,
scale=0.001, seed=0 (42 replicates Mash). Params must match between any two
compared sketch collections — the reference errors with
``InvalidSketchMatch`` (``/root/reference/src/sketchy.rs:253-269``); we carry a
``config_hash`` and assert equality before every pairwise stage
(:func:`check_compatibility`).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field

U64 = 1 << 64
I64_SHIFT = 1 << 63  # order-preserving uint64 -> int64 shift (SURVEY §4.2)

# On-disk signature format version, folded into config_hash so stored
# checkpoint stages are invalidated whenever the physical signature
# encoding changes (not just the logical sketch params). v2: sig_perm
# packed to array<int> (low 32 bits of the OPH value) — a v1 store
# (array<long>, full 64 bits) unioned with v2 batches would never match
# band keys across the boundary, silently losing cross-batch recall.
# v3: the pipeline's stages are slim and fid-keyed (no ``sig`` column;
# edges are (a_fid, b_fid)) — a v2 store's (a_id, b_id) edges must not
# resume into a reader that expects fids.
# v4: incremental ``sig_batch`` stages store ``band_keys``, which the
# resident batch reads instead of computing them.
# v5: incremental stages are fid-keyed too — ``sig_batch`` stores ``fid``
# and ``edges_batch`` holds (a_fid, b_fid) — and the unread
# ``simhash_max_hamming`` field left the config.
# v6: stored sketch stages are written by the sketch tasks (pyarrow part
# files) and ``sig_batch`` no longer stores ``band_keys``: the driver
# groups bands by their sig_perm slots, so a v5 batch stage would be
# read without the column it was written for.
SIG_FORMAT_VERSION = 6


@dataclass(frozen=True)
class SketchConfig:
    """Binding defaults: k=16, s=1000, scale=0.001, seed=0 (BASELINE.json)."""

    k: int = 16                 # shingle width in bytes (ref: kmer_size, cli.rs:36-37)
    s: int = 1000               # bottom-s sketch size (ref: sketch_size, cli.rs:33-34)
    scale: float = 0.001        # fracMinHash scale (ref: cli.rs:39-45)
    seed: int = 0               # murmur3 seed; 42 replicates Mash (cli.rs:46-48)
    mode: str = "bottom-s"      # 'bottom-s' (.msh analogue) | 'scaled' (.fsh analogue)

    # --- graft extensions (G1-G5), no reference counterpart ---
    num_perm: int = 128         # fixed-width k-permutation signature for LSH
    bands: int = 32             # LSH bands b
    rows_per_band: int = 4      # LSH rows r; b*r == num_perm
    jaccard_threshold: float = 0.7   # verification threshold tau
    winnow_window: int = 50          # winnowing window (containment fingerprints)
    containment_threshold: float = 0.9  # |A∩B|/|A| for containment verdict
    min_content_len: int = 1

    # hot band keys (SURVEY §4.1). Cold keys emit all
    # i<j pairs — O(cap²) worst case PER KEY — so the cap bounds junk
    # candidate volume, not just aggregate buffers: measured at 1.6M
    # files, boilerplate band keys sized 64..2000 generated ~3M spurious
    # pairs under a 2000 cap (cap² = 2M pairs from ONE near-cap key).
    # Keys over the cap take hub-star edges (O(group)); a true
    # near-dup clique over the cap stays one component because its
    # hub-star edges verify.
    band_skew_cap: int = 64     # band keys with > cap members get hub stars
    fp_skew_cap: int = 200      # winnow fingerprints shared by > cap docs are
                                # boilerplate, dropped before the containment join

    def __post_init__(self) -> None:
        if not (0.0 <= self.scale <= 1.0):
            # mirrors the reference's scale validation (cli.rs:135-143)
            raise ValueError(f"scale must be in [0, 1], got {self.scale}")
        if self.k < 1 or self.s < 1:
            raise ValueError("k and s must be >= 1")
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError("bands * rows_per_band must equal num_perm")
        if self.mode not in ("bottom-s", "scaled"):
            raise ValueError(f"unknown mode {self.mode!r}")

    @property
    def max_hash_u64(self) -> int:
        """Scaled-mode clamp: keep hash < u64::MAX / (1/scale as u64) —
        integer arithmetic exactly as the reference computes it
        (``src/sketchy.rs:442``: ``u64::max_value() / min_scale.recip() as
        u64``), so boundary hashes are included/excluded identically.
        A float ``U64 * scale`` differs by one ulp at the boundary."""
        if self.scale <= 0.0:
            return U64 - 1  # scale 0 disables the clamp (ref :441)
        recip = int(1.0 / self.scale)  # f64 recip truncated, as in Rust
        return (U64 - 1) // max(recip, 1)

    @property
    def config_hash(self) -> str:
        """Keyed on logical params AND the physical signature encoding
        (SIG_FORMAT_VERSION), so checkpoint stages written under an
        older on-disk layout are never silently mixed with new ones."""
        payload = json.dumps(
            {**asdict(self), "_sig_format": SIG_FORMAT_VERSION},
            sort_keys=True,
        ).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


class IncompatibleSketchError(ValueError):
    """Analogue of SketchyError::InvalidSketchMatch (src/sketchy.rs:25-26)."""


def check_compatibility(a: SketchConfig, b: SketchConfig) -> None:
    """Assert two sketch configs are comparable (ref src/sketchy.rs:253-269)."""
    if a.config_hash != b.config_hash:
        raise IncompatibleSketchError(
            f"sketch configs differ: {a.config_hash} != {b.config_hash}"
        )


DEFAULT_CONFIG = SketchConfig()
