"""Sketch stage: files -> signatures, one pass of the Python kernel.

The engine's only UDF surface (SURVEY §2.6): everything downstream is
built-in Spark SQL. Per Arrow batch, one fused numpy pass computes
shingle -> murmur3 -> {bottom-s | scaled} sketch, OPH LSH signature
(one-permutation hashing + densification — O(d), not O(d*p)),
64-bit SimHash, and winnowing fingerprints — the Spark
re-expression of the reference's per-file sketch fold
(``/root/reference/src/sketchy.rs:465-494``, rayon par_iter ->
partition parallelism; ``:291-302`` single-pass fold -> fused numpy pass).

Column contract (the ``signatures`` table, SURVEY §1.2):

- ``file_id``      string  — name projection, repo/path (src/sketchy.rs:484)
- ``repo path commit lang`` — carried metadata ("genotype" analogue)
- ``sha256``       string  — per-row invariant (BASELINE.json input_hint)
- ``n_bytes``      long    — seq_length analogue (src/sketchy.rs:481)
- ``n_shingles``   long    — num_valid_kmers analogue
- ``sig``          array<long> — MinHash sketch, ascending unsigned order
  stored as shifted int64 (SURVEY §4.2); sorted invariant mirrors
  src/sketchy.rs:414-418
- ``sig_perm``     array<int> — fixed-width num_perm signature (LSH, G1);
  low 32 bits per OPH slot (equality-only consumers, SURVEY G1/G4)
- ``simhash``      long    — Charikar fingerprint (G2)
- ``fingerprints`` array<long> — winnowing minima (containment pass, G3)

Content is intentionally NOT in the output: downstream stages scan a
narrow table (column pruning at 100 TB scale); verification re-joins
content for candidate pairs only.

The kernel (:func:`sketch_contents`) runs in two shapes: as the
``mapInPandas`` stage of :func:`sketch_files`, and as a
:class:`SketchPass`, the sketch stage of a checkpoint store, whose tasks
build each batch's columns as Arrow arrays (:func:`sketch_batch`) and
write them without a trip back through the JVM (checkpoint.py).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from sketchy_spark.config import SketchConfig
from sketchy_spark.hashing import (
    bottom_s,
    fold_shingle_hashes,
    oph_minhash,
    scaled_filter,
    simhash64,
    u64_to_i64,
    winnow,
)
from sketchy_spark.sources.tables import struct_type

# The signatures table's columns (module docstring), then a sketch pass's.
SIGNATURE_SCHEMA = struct_type(
    "file_id string, repo string, path string, commit string, lang string, "
    "sha256 string, n_bytes long, n_shingles long, sig array<long>, "
    "sig_perm array<int>, simhash long, fingerprints array<long>, fid long"
)
# (with_sig, with_fp, fid) -> the sketch's output schema, Spark and Arrow:
# each of those three columns only when its flag is on.
_SCHEMAS = {
    (sig, fp, fid): StructType([
        f for f in SIGNATURE_SCHEMA
        if {"sig": sig, "fingerprints": fp, "fid": fid}.get(f.name, True)
    ])
    for sig in (True, False) for fp in (True, False) for fid in (True, False)
}
_ARROW_SCHEMAS = {k: to_arrow_schema(v) for k, v in _SCHEMAS.items()}

_CARRY = ["file_id", "repo", "path", "commit", "lang", "sha256", "n_bytes"]


def sketch_contents(
    contents: list[bytes], cfg: SketchConfig, with_sig: bool = True,
    with_fp: bool = True,
) -> dict:
    """The sketch kernel: utf-8 contents -> the signature columns after
    ``n_bytes``, in schema order, one value per content. The sketch UDF
    runs it on each Arrow batch, the resident pipeline on the driver to
    re-sketch its borderline files."""
    sigs, perms, fps, sims = [], [], [], []

    def fold(_i: int, seg: np.ndarray) -> None:
        # one doc's positional hashes, handed in while the fused group
        # buffer is cache-hot (hashing.fold_shingle_hashes, r6 — the
        # two-pass batch array was the DRAM-contended traffic at 32
        # workers)
        distinct = np.unique(seg)  # sorted ascending (invariant)
        if with_sig:
            if cfg.mode == "scaled":
                sel = scaled_filter(distinct, cfg.max_hash_u64)
            else:
                sel = bottom_s(distinct, cfg.s)
            sigs.append(u64_to_i64(sel))
        # low 32 bits per OPH slot, stored as int32: every consumer
        # compares slots for EQUALITY only (band hashing, cascade
        # slot-match), so truncation costs a 2^-32 per-slot false match
        # and halves the signature cache + every sig_perm shuffle/scan —
        # the hottest bandwidth in the pipeline
        perms.append(
            oph_minhash(distinct, cfg.num_perm)
            .astype(np.uint32)
            .view(np.int32)
        )
        if with_fp:
            fps.append(u64_to_i64(winnow(seg, cfg.winnow_window)))
        sims.append(simhash64(distinct))

    out = {"n_shingles": fold_shingle_hashes(contents, cfg.k, cfg.seed, fold)}
    if with_sig:
        out["sig"] = sigs
    out["sig_perm"] = perms
    out["simhash"] = u64_to_i64(np.array(sims, dtype=np.uint64))
    if with_fp:
        out["fingerprints"] = fps
    return out


def _sketch_batches(
    cfg: SketchConfig, with_sig: bool = True, with_fp: bool = True
):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # content arrives as binary (cast JVM-side): Arrow hands the
            # utf-8 bytes straight through — no per-doc re-encode pass
            yield pdf[_CARRY].assign(**sketch_contents(
                list(pdf["content"]), cfg, with_sig, with_fp
            ))

    return fn


# The sketch's JVM select as one ``selectExpr`` (one call builds it):
# name projection, sha256 and length in whole-stage codegen, the content
# as binary, and for a sketch pass fid = xxhash64(file_id).
_FILE_ID = "concat_ws('/', `repo`, `path`)"
_PREPARE = (
    f"{_FILE_ID} AS `file_id`", "`repo`", "`path`", "`commit`", "`lang`",
    "sha2(`content`, 256) AS `sha256`",  # row invariant
    "CAST(octet_length(`content`) AS BIGINT) AS `n_bytes`",
    "CAST(`content` AS BINARY) AS `content`",
)


def _prepare(files: DataFrame, with_fid: bool = False) -> DataFrame:
    fid = [f"xxhash64({_FILE_ID}) AS `fid`"] if with_fid else []
    return files.selectExpr(*_PREPARE, *fid)


def sketch_files(
    files: DataFrame, cfg: SketchConfig, with_sig: bool = True,
    with_fp: bool = True,
) -> DataFrame:
    """files(repo, path, commit, lang, content) -> signatures DataFrame.

    JVM-side column ops (sha256, lengths, name projection) stay in
    whole-stage codegen; only the hash kernels cross into the Arrow UDF.

    ``with_sig=False`` omits the bottom-s ``sig`` column (8 KB/row at
    s=1000 — the bulk of Arrow transfer and cache footprint). Only the
    cascade's borderline files need it: the resident pipeline re-sketches
    them with :func:`sketch_contents` on the driver, the scan-side
    cascade with ``with_sig=True``; the full table remains the parity
    form (SURVEY §1.2).
    """
    return _prepare(files).mapInPandas(
        _sketch_batches(cfg, with_sig, with_fp),
        schema=_SCHEMAS[with_sig, with_fp, False],
    )


def sketch_batch(
    batch: pa.RecordBatch, cfg: SketchConfig, with_sig: bool, with_fp: bool
) -> pa.RecordBatch:
    """:func:`sketch_contents` over one Arrow batch of prepared rows ->
    the sketch pass's batch: the kernel's columns built as Arrow arrays,
    the rest carried from ``batch``, with no pandas frame (a list column
    converts from its per-row numpy arrays)."""
    out = sketch_contents(
        batch.column("content").to_pylist(), cfg, with_sig, with_fp
    )
    schema = _ARROW_SCHEMAS[with_sig, with_fp, True]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(out[f.name], f.type) if f.name in out
            else batch.column(f.name).cast(f.type)
            for f in schema
        ],
        schema=schema,
    )


@dataclass(frozen=True)
class SketchPass:
    """A checkpoint store's sketch stage, run by the store's writer
    (``write_stage``): the prepared file rows, with ``fid``
    (``xxhash64(file_id)``) computed in their JVM select, and the kernel
    options. Its rows are those of ``with_fid(sketch_files(files, cfg,
    with_sig, with_fp))``, in the same column order."""

    rows: DataFrame
    cfg: SketchConfig
    with_sig: bool = True
    with_fp: bool = True

    @property
    def schema(self) -> StructType:
        return _SCHEMAS[self.with_sig, self.with_fp, True]

    @property
    def arrow_schema(self) -> pa.Schema:
        return _ARROW_SCHEMAS[self.with_sig, self.with_fp, True]

    def kernel(self):
        """The pass's per-batch function (picklable: it holds no
        DataFrame): a prepared Arrow batch -> the stage's batch."""
        cfg, with_sig, with_fp = self.cfg, self.with_sig, self.with_fp
        return lambda batch: sketch_batch(batch, cfg, with_sig, with_fp)

    def frame(self) -> DataFrame:
        """The pass as a ``mapInArrow`` frame, for a store that writes
        through its session."""
        kernel = self.kernel()
        return self.rows.mapInArrow(
            lambda batches: map(kernel, batches), self.schema
        )


def sketch_pass(
    files: DataFrame, cfg: SketchConfig, with_sig: bool = True,
    with_fp: bool = True,
) -> SketchPass:
    """The :class:`SketchPass` of ``files``, for ``write_stage``."""
    return SketchPass(_prepare(files, with_fid=True), cfg, with_sig, with_fp)
