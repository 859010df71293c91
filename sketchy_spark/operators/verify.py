"""Candidate verification (G2/G3/G4): Jaccard estimate, SimHash distance,
exact-substring containment.

Jaccard verification has one kernel, :func:`_bottom_s_jaccard`: the
reference's two-pointer sorted merge (src/sketchy.rs:419-459) over the
already-sorted bottom-s sigs, ~30us per pair. :func:`verified_pairs`
runs it as a ``mapInPandas`` stage, the cascade's scan-side exact stage.
The same estimator in built-in array SQL (Catalyst builds hash sets per
row, ~ms per 1000-element pair) is the oracle the kernel is tested
against, in ``tests/test_verify_paths.py``.

Three passes pick where they run by one rule. The edges stage
(``pipeline.py``: band join, exact-sha edges and the cascade, in the
plain run and in each incremental batch) verifies with
:func:`verified_pairs_cascade`, which puts a cheap OPH slot-match stage
in front of the kernel; every Jaccard edge in the package comes from
it. The containment pass is :func:`containment_candidates` then
:func:`containment_verified`. While a pass's working set fits one
30 MB budget (``RESIDENT_BYTES``) it runs on the driver, as the
reference scans its in-memory sketch collection (src/sketchy.rs:81):
the edges stage runs the cascade's numpy core (:func:`_cascade_core`)
over one Arrow table of the signatures, the containment pass runs its
numpy kernels, none of them starts a Python UDF stage or persists
anything, and a plain run feeds both from one signature collect and one
content collect (``pipeline._resident_frames``). Above the budget each runs
scan-side on executors, and a driver run that finds it would overflow
hands over to that path, which returns the same rows; there the
cascade is always scan-side, because the edges stage has already
declined the budget. The containment pass takes a ``resident``
override; the edges stage is driven by the budget alone, read at call
time, so setting it to 0 drives its Spark stages. On small traffic the
driver path is the faster one because it starts fewer Spark jobs,
stages and Python tasks, each of which carries a fixed cost whatever
its size; the kernels are not what sets the cost there (ROADMAP.md
records the driver vs scan-side timings).

Key narrowness: the pipeline hands the cascade fid-keyed pairs
(a_fid/b_fid int64, see operators/lsh.py) so every join and shuffle there
moves 16-byte keys; string file_ids are attached once, to the final
verified set only. The public string-keyed entry points remain for tests
and ad-hoc use.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sketchy_spark.config import DEFAULT_CONFIG, SketchConfig
from sketchy_spark.operators.sketch import _prepare
from sketchy_spark.sources.tables import struct_type


# Caches persisted by the scan-side cascade and containment pass for
# callers that provided no ``persisted`` release list (ad-hoc / public
# use): the persists are required for correctness (see the comments on
# exchange reuse in verified_pairs_cascade), so rather than leaking
# anonymously they are tracked here. The resident paths persist nothing.
# Long-lived sessions reclaim executor storage with
# :func:`release_cascade_caches`.
_CASCADE_CACHES: list[DataFrame] = []


def release_cascade_caches() -> None:
    """Unpersist every cache the scan-side cascade and containment pass
    retained on behalf of callers that passed no ``persisted`` list
    (ADVICE r3: repeated ad-hoc calls in a long-lived session otherwise
    accumulate unreleasable caches)."""
    while _CASCADE_CACHES:
        df = _CASCADE_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass


def _key_cols(pairs: DataFrame) -> tuple[str, str, str, str]:
    """(a_col, b_col, signature key col, spark type) by pair key mode."""
    if "a_fid" in pairs.columns:
        return "a_fid", "b_fid", "fid", "long"
    return "a_id", "b_id", "file_id", "string"


def _keyed_signatures(signatures: DataFrame, key: str) -> DataFrame:
    if key == "fid" and "fid" not in signatures.columns:
        from sketchy_spark.operators.lsh import with_fid

        return with_fid(signatures)
    return signatures


def _with_sides(
    pairs: DataFrame, signatures: DataFrame, cols: list[str],
    broadcast_pairs: bool | None = None,
) -> DataFrame:
    """Attach both sides' signature columns to each pair.

    Plain path: two shuffle joins — but each shuffles the FULL signatures
    table (wide: sig arrays), which dwarfs the pair set. Broadcast path
    (default when the pair count is modest): broadcast the pair ids into
    two scan-side hash joins of signatures (no signature shuffle), then
    join the two halves on the pair key — shuffles only O(|pairs|) rows.
    At 100 TB the pair table after LSH is orders of magnitude smaller
    than the signatures table, so this is the scale-correct default;
    pass broadcast_pairs=False when candidate volume explodes.
    """
    if broadcast_pairs is None:
        broadcast_pairs = True
    a_col, b_col, key, _ = _key_cols(pairs)
    sigs = _keyed_signatures(signatures, key)
    a = sigs.select(
        F.col(key).alias(a_col),
        *[F.col(c).alias(f"a_{c}") for c in cols],
    )
    b = sigs.select(
        F.col(key).alias(b_col),
        *[F.col(c).alias(f"b_{c}") for c in cols],
    )
    if not broadcast_pairs:
        return pairs.join(a, a_col).join(b, b_col)
    left = F.broadcast(pairs).join(a, a_col)
    right = F.broadcast(pairs).join(b, b_col)
    return left.join(right, [a_col, b_col])


_POPCNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)

# The one driver-side byte budget that picks where the edges stage and
# the containment pass run (module docstring): within it, on the driver;
# above it, on executors.
RESIDENT_BYTES = 30_000_000
# Cascade stage 1's half-width around tau: est >= tau + margin accepts,
# est < tau - margin rejects, the band between goes to the exact stage.
CASCADE_MARGIN = 0.15
# Pairs per numpy block in the driver's stage 1: bounds the two gathered
# (block, num_perm) int32 temporaries to ~64 MB at any pair count.
_BLOCK_PAIRS = 1 << 16
_NO_SIG = np.empty(0, dtype=np.int64)


def _hamming(a_sim, b_sim) -> np.ndarray:
    """SimHash hamming distance per pair (popcount of the XOR)."""
    x = np.asarray(a_sim, dtype=np.int64) ^ np.asarray(b_sim, dtype=np.int64)
    return _POPCNT8[x.view(np.uint8).reshape(x.size, 8)].sum(axis=1)


def _slot_estimates(
    a_perm: np.ndarray, b_perm: np.ndarray, a_sim, b_sim, a_nsh, b_nsh,
    num_perm: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cascade stage 1 over a block of pairs -> (est, hamming, needs_exact).

    est = matching OPH slots / num_perm. needs_exact is the small-doc
    guard: either side has fewer shingles than signature slots (see
    :func:`verified_pairs_cascade`)."""
    est = (a_perm == b_perm).sum(axis=1) / num_perm
    small = (np.asarray(a_nsh) < num_perm) | (np.asarray(b_nsh) < num_perm)
    return est, _hamming(a_sim, b_sim), small


def _bottom_s_jaccard(a_sigs, b_sigs, s: int) -> np.ndarray:
    """Bottom-s Jaccard per pair of sorted sigs: with U = bottom_s(A ∪ B),
    j ≈ |U ∩ A ∩ B| / |U| — the reference's two-pointer kernel
    (src/sketchy.rs:419-459) as a sorted merge."""
    jac = np.empty(len(a_sigs), dtype=np.float64)
    for i, (a, b) in enumerate(zip(a_sigs, b_sigs)):
        a = np.asarray(a, dtype=np.int64)
        b = np.asarray(b, dtype=np.int64)
        union = np.union1d(a, b)
        k = min(union.size, s)
        if k == 0:
            jac[i] = 0.0
            continue
        ab = np.intersect1d(a, b, assume_unique=True)
        # U = union[:k]; x in U iff x <= union[k-1] (sorted distinct)
        jac[i] = np.searchsorted(ab, union[k - 1], side="right") / k
    return jac


def _verified_schema(a_col: str, b_col: str, key_type: str) -> str:
    return (
        f"{a_col} {key_type}, {b_col} {key_type}, "
        "jaccard double, hamming long"
    )


def verified_pairs(
    pairs: DataFrame, signatures: DataFrame, cfg: SketchConfig,
    broadcast_pairs: bool | None = None,
) -> DataFrame:
    """Arrow-kernel Jaccard verification (default path; see module doc).

    Estimator identical to the array-SQL oracle of
    ``tests/test_verify_paths.py``: with U = bottom_s(A ∪ B),
    j ≈ |U ∩ A ∩ B| / |U|. Sorted-merge per pair
    (:func:`_bottom_s_jaccard`) plus vectorized simhash hamming.
    Accepts string- (a_id/b_id) or fid- (a_fid/b_fid) keyed pairs and
    returns the same key columns it was given.
    """
    a_col, b_col, _, key_type = _key_cols(pairs)
    df = _with_sides(pairs, signatures, ["sig", "simhash"], broadcast_pairs)
    s = cfg.s
    tau = cfg.jaccard_threshold

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pd.DataFrame(
                {
                    a_col: pdf[a_col],
                    b_col: pdf[b_col],
                    "jaccard": _bottom_s_jaccard(
                        pdf["a_sig"].to_numpy(), pdf["b_sig"].to_numpy(), s
                    ),
                    "hamming": _hamming(
                        pdf["a_simhash"].to_numpy(),
                        pdf["b_simhash"].to_numpy(),
                    ),
                }
            )
            yield out[out["jaccard"] >= tau]

    return df.select(
        a_col, b_col, "a_sig", "b_sig", "a_simhash", "b_simhash"
    ).mapInPandas(fn, schema=_verified_schema(a_col, b_col, key_type))


def verified_pairs_cascade(
    pairs: DataFrame, signatures: DataFrame, cfg: SketchConfig,
    margin: float = CASCADE_MARGIN, files: DataFrame | None = None,
    attach_ids: bool = True, persisted: list | None = None,
) -> DataFrame:
    """Two-stage verification cascade (SURVEY G4: full estimator only for
    borderline pairs), on executors. Returns string-keyed (a_id, b_id,
    jaccard, hamming) by default; ``attach_ids=False`` keeps fid keys
    (the pipeline's internal flow, which stays fid-typed through
    connected components).

    Stage 1 reads only the 128-slot OPH signature (+simhash) per pair and
    computes est = matching_slots / num_perm. Pairs with
    est >= tau + margin are accepted, est < tau - margin rejected
    (binomial error at 4-sigma ~ 1e-5 — negligible vs the 0.99 recall
    budget). Stage 2 runs the bottom-s estimator only on the borderline
    band, re-sketching just the borderline files when ``signatures``
    lacks the ``sig`` column (``files`` is then required).

    Small-document guard: OPH rotation densification is biased for docs
    with fewer shingles than signature slots (A={x}, B={x,y} estimates
    0.99 vs true 0.5), so any pair where either side has
    n_shingles < num_perm bypasses BOTH the accept and the reject branch
    and goes straight to stage-2 exact verification (for such docs the
    bottom-s sketch is the full set, so stage 2 is exact).

    Executors attach both sides by scan-side joins — broadcast the PAIR
    ids, stream the signatures map-side — and run stage 1 and
    :func:`verified_pairs` as ``mapInPandas`` stages, which scales with
    workers (the 100 TB default). The driver form of both stages is
    :func:`_cascade_core`, which the edges stage runs while it fits the
    resident budget (module docstring).

    ``persisted``: list receiving every frame the call persists, for the
    caller to unpersist. Without it the caches are tracked in a module
    registry instead — reclaim with :func:`release_cascade_caches` in
    long-lived sessions.
    """
    a_col, b_col, key, key_type = _key_cols(pairs)
    sigs = _keyed_signatures(signatures, key)
    tau, num_perm = cfg.jaccard_threshold, cfg.num_perm

    def stage1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            est, ham, small = _slot_estimates(
                np.vstack(pdf["a_sig_perm"].to_numpy()),
                np.vstack(pdf["b_sig_perm"].to_numpy()),
                pdf["a_simhash"].to_numpy(),
                pdf["b_simhash"].to_numpy(),
                pdf["a_n_shingles"].to_numpy(),
                pdf["b_n_shingles"].to_numpy(),
                num_perm,
            )
            out = pd.DataFrame(
                {
                    a_col: pdf[a_col],
                    b_col: pdf[b_col],
                    "jaccard": est,
                    "hamming": ham,
                    "needs_exact": small,
                }
            )
            yield out[small | (est >= tau - margin)]

    # The scan-side attach broadcasts the pair frame twice (a- and
    # b-side). ReusedExchange can NOT be assumed to dedupe the two
    # builds: a pair DAG containing collect_list (the band groupBy) is
    # flagged non-deterministic, which disables exchange reuse — so an
    # unmaterialized pair frame would execute its full DAG twice. The
    # pipeline pre-persists pairs (candidate_pairs_fid eager path); for
    # any other caller, persist here and hand the cache to ``persisted``
    # (or track it in the module registry when no release list was
    # provided — correctness over a leak, but a reclaimable one: see
    # release_cascade_caches).
    from pyspark import StorageLevel

    keep = persisted if persisted is not None else _CASCADE_CACHES
    if pairs.storageLevel == StorageLevel.NONE:
        pairs = pairs.persist()
        keep.append(pairs)
    src = _with_sides(
        pairs, sigs, ["sig_perm", "simhash", "n_shingles"]
    ).select(
        a_col, b_col, "a_sig_perm", "b_sig_perm", "a_simhash",
        "b_simhash", "a_n_shingles", "b_n_shingles",
    )
    coarse = src.mapInPandas(
        stage1,
        schema=_verified_schema(a_col, b_col, key_type)
        + ", needs_exact boolean",
    ).persist()
    # Eager: accepted and the borderline re-sketch broadcast are separate
    # query stages; AQE materializes them concurrently, and concurrent
    # consumers of a lazily-persisted frame each run their own evaluation.
    coarse.count()
    keep.append(coarse)
    accepted = coarse.where(
        (~F.col("needs_exact")) & (F.col("jaccard") >= tau + margin)
    ).drop("needs_exact")
    borderline = coarse.where(
        F.col("needs_exact") | (F.col("jaccard") < tau + margin)
    ).select(a_col, b_col)
    wanted = (
        borderline.select(F.col(a_col).alias(key))
        .unionAll(borderline.select(F.col(b_col).alias(key)))
        .distinct()
    )
    refined = verified_pairs(
        borderline, _borderline_sigs(wanted, sigs, files, cfg), cfg
    )
    out = accepted.unionByName(refined)
    if key == "fid" and attach_ids:
        from sketchy_spark.operators.lsh import attach_file_ids

        out = attach_file_ids(out, signatures).select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            "jaccard",
            "hamming",
        )
    return out


def _borderline_sigs(
    wanted: DataFrame, sigs: DataFrame, files: DataFrame | None,
    cfg: SketchConfig,
) -> DataFrame:
    """Signatures WITH the bottom-s ``sig`` column for the keys in the
    one-column frame ``wanted`` (fid or file_id). Slim signatures are
    re-sketched from ``files`` for those files only — O(|borderline|),
    not O(corpus) — without winnow fingerprints."""
    key = wanted.columns[0]
    if "sig" in sigs.columns:
        return sigs.join(F.broadcast(wanted), key, "left_semi")
    if files is None:
        raise ValueError("signatures lack 'sig' and no files source given")
    from sketchy_spark.operators.lsh import with_fid
    from sketchy_spark.operators.sketch import sketch_files

    file_key = F.concat_ws("/", "repo", "path")  # sketch_files' file_id
    if key == "fid":
        file_key = F.xxhash64(file_key)  # with_fid's hash of file_id
    picked = files.join(
        F.broadcast(wanted), file_key == wanted[key], "left_semi"
    )
    out = sketch_files(picked, cfg, with_sig=True, with_fp=False)
    return with_fid(out) if key == "fid" else out


def _sig_perm_matrix(tbl, cfg: SketchConfig) -> np.ndarray:
    """The (rows, num_perm) int32 matrix of an Arrow ``sig_perm`` column,
    flattened without a pandas object column."""
    return np.asarray(tbl["sig_perm"].combine_chunks().flatten()).reshape(
        -1, cfg.num_perm
    )


def _cascade_core(
    mat: np.ndarray, sim: np.ndarray, nsh: np.ndarray, ai: np.ndarray,
    bi: np.ndarray, cfg: SketchConfig, margin: float,
    sig_budget: int, fetch, content_bytes: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """Both cascade stages in numpy over the pairs of matrix rows
    (``ai``, ``bi``) -> (keep, jaccard, hamming) per pair: the driver
    form of :func:`verified_pairs_cascade`.

    Stage 1 is :func:`_slot_estimates` in blocks of ``_BLOCK_PAIRS``;
    the borderline band (and every small-doc pair) gets its rows' sigs
    from ``fetch(rows, left) -> {row: sig}`` and :func:`_bottom_s_jaccard`.
    Returns None, before fetching, when those sigs (8 * s B per file,
    plus the rows' ``content_bytes`` if given) exceed ``sig_budget``."""
    tau, num_perm = cfg.jaccard_threshold, cfg.num_perm
    blocks = [
        _slot_estimates(
            mat[ai[sl]], mat[bi[sl]], sim[ai[sl]], sim[bi[sl]],
            nsh[ai[sl]], nsh[bi[sl]], num_perm,
        )
        for sl in (
            slice(lo, lo + _BLOCK_PAIRS)
            for lo in range(0, ai.size, _BLOCK_PAIRS)
        )
    ]
    est, ham, small = (np.concatenate(x) for x in zip(*blocks))
    accept = ~small & (est >= tau + margin)
    border = ~accept & (small | (est >= tau - margin))
    keep, jac = accept, est

    if border.any():
        wanted_pos = np.unique(np.concatenate([ai[border], bi[border]]))
        extra = 0 if content_bytes is None else content_bytes[wanted_pos].sum()
        left = sig_budget - 8 * cfg.s * wanted_pos.size - int(extra)
        if left < 0:
            return None
        sig_of = fetch(wanted_pos, left)  # the budget they leave
        jac = est.copy()
        jac[border] = _bottom_s_jaccard(
            [sig_of.get(i, _NO_SIG) for i in ai[border]],
            [sig_of.get(i, _NO_SIG) for i in bi[border]],
            cfg.s,
        )
        keep = accept | (border & (jac >= tau))
    return keep, jac, ham


CONTAINMENT_SCHEMA = struct_type(
    "small_id string, big_id string, containment double, overlap_chars long"
)
_CANDIDATE_SCHEMA = struct_type(
    "a_id string, b_id string, containment double, a_nb long, b_nb long"
)


def containment_candidates(
    signatures: DataFrame, cfg: SketchConfig,
    min_containment: float | None = None, persisted: list | None = None,
    n_fp: int | None = None, resident: bool | None = None,
) -> DataFrame:
    """Fingerprint-overlap containment candidates (G3, candidate stage).

    Winnowing fingerprints are position-robust: if A is embedded verbatim
    in B, most of A's fingerprints appear in B's. Group the fingerprint
    rows by fingerprint, count the groups each pair shares (``shared_fp``)
    and normalize by the smaller side's fingerprint count: containment =
    shared_fp / min(a_nfp, b_nfp). Pairs at any Jaccard can surface here —
    this is the path that catches low-Jaccard verbatim embeddings LSH
    misses. Hot fingerprints (groups above ``cfg.fp_skew_cap``: shared
    license headers, generated code — quadratic, no pair signal) emit no
    pairs and do not count in either side's ``n_fp`` (SURVEY §4.1).
    Returns (a_id, b_id, containment, a_nb, b_nb) with a_id < b_id and
    the sides' ``n_bytes``, which size :func:`containment_verified`.

    Where it runs follows the cascade's rule (one ``RESIDENT_BYTES``
    budget, 30 MB, known before each allocation it bounds):

    - Resident (``resident=True``, or by default while the fingerprint
      rows, 8 B each, fit): the driver Arrow-collects
      ``file_id, n_bytes, fingerprints``, sorts the (fingerprint, file
      rank) rows and emits each kept group's pairs with numpy. The pair
      codes, sum of m(m-1)/2 over the kept groups at 8 B each, are sized
      from the group sizes before any is emitted; if they overflow what
      the rows left, the call hands over to the scan-side path. Nothing
      persists and the result is a local frame.
    - Scan-side (``resident=False``, or above the budget): one groupBy
      over the exploded fingerprints on executors.

    ``n_fp``: the signatures' total fingerprint count,
    ``sum(size(fingerprints))``, if the caller already has it (the
    pipeline folds it into its signature count); otherwise one aggregate
    job sizes the call. ``persisted`` receives the scan-side path's
    fingerprint-group cache for the caller to unpersist (module registry
    otherwise, as in the cascade).
    """
    threshold = (
        cfg.containment_threshold if min_containment is None
        else min_containment
    )
    budget = None  # forced resident: no cap on the pair codes
    if resident is None:
        if n_fp is None:
            n_fp = signatures.agg(F.sum(F.size("fingerprints"))).first()[0]
        budget = RESIDENT_BYTES - 8 * (n_fp or 0)
        resident = budget > 0
    got = None
    if resident:
        got = _driver_containment_candidates(
            signatures.select("file_id", "n_bytes", "fingerprints").toArrow(),
            cfg, threshold, budget,
        )
    if got is not None:
        return signatures.sparkSession.createDataFrame(got, _CANDIDATE_SCHEMA)
    return _scan_side_containment_candidates(
        signatures, cfg, threshold, persisted
    )


def _driver_containment_candidates(
    tbl, cfg: SketchConfig, threshold: float, budget: int | None,
) -> pd.DataFrame | None:
    """The resident candidate stage (see :func:`containment_candidates`)
    over an Arrow ``file_id, n_bytes, fingerprints`` table. ``budget``:
    bytes left for the pair codes (None: no cap); returns None when they
    exceed it. Fingerprints are distinct within a file
    (``hashing.winnow``), so a group's members are distinct files."""
    import pyarrow.compute as pc

    # file ranks in string order, so rank order is a_id < b_id order
    ids, first, rank = np.unique(
        tbl["file_id"].to_numpy(), return_index=True, return_inverse=True
    )
    n = ids.size
    nb = tbl["n_bytes"].to_numpy()[first]
    lists = tbl["fingerprints"].combine_chunks()
    fp = np.asarray(lists.flatten(), dtype=np.int64)
    member = np.repeat(
        rank, pc.list_value_length(lists).fill_null(0).to_numpy()
    )
    order = np.lexsort((member, fp))
    fp, member = fp[order], member[order]
    _, starts, sizes = np.unique(fp, return_index=True, return_counts=True)
    hot = (sizes >= 2) & (sizes > cfg.fp_skew_cap)
    kept = (sizes >= 2) & ~hot
    # retained fingerprints per file: every membership outside hot groups
    n_fp = np.bincount(member[~np.repeat(hot, sizes)], minlength=n)
    if budget is not None:
        m = sizes[kept]
        if 8 * int((m * (m - 1) // 2).sum()) > budget:
            return None

    # members sort by rank within a group, so each code has a < b
    codes, shared = np.unique(
        _group_pair_codes(member, starts[kept], sizes[kept], n),
        return_counts=True,
    )
    a, b = np.divmod(codes, n)
    cont = shared / np.maximum(np.minimum(n_fp[a], n_fp[b]), 1)
    keep = cont >= threshold
    a, b = a[keep], b[keep]
    return pd.DataFrame({
        "a_id": ids[a], "b_id": ids[b], "containment": cont[keep],
        "a_nb": nb[a], "b_nb": nb[b],
    })


def _group_pair_codes(
    member: np.ndarray, starts: np.ndarray, sizes: np.ndarray, n: int
) -> np.ndarray:
    """Pair codes ``x * n + y`` for every i < j pair of positions inside
    each group ``member[start:start + size]``, emitted size by size with
    ``np.triu_indices`` (no Python loop over groups). ``n`` bounds the
    member values; the caller sizes the output, sum of m(m-1)/2 codes,
    before calling."""
    codes = [np.empty(0, dtype=np.int64)]
    for m in np.unique(sizes):
        groups = member[starts[sizes == m][:, None] + np.arange(m)]
        i, j = np.triu_indices(m, 1)
        codes.append((groups[:, i] * n + groups[:, j]).ravel())
    return np.concatenate(codes)


def _scan_side_containment_candidates(
    signatures: DataFrame, cfg: SketchConfig, threshold: float,
    persisted: list | None,
) -> DataFrame:
    """The candidate stage on executors (see
    :func:`containment_candidates`)."""
    fp = signatures.select(
        "file_id", F.explode("fingerprints").alias("fp")
    )
    # ONE groupBy over the exploded fingerprints (the plan-shape lesson
    # from the band join): collect member lists per fingerprint, emit
    # pairs via pipelined double-explode; the hot-group cap applies
    # inside the aggregate.
    groups = (
        fp.groupBy("fp")
        .agg(F.collect_list("file_id").alias("ids"))
        .where(F.size("ids") >= 2)  # singleton fps carry no pair signal
        .persist()
    )
    groups.count()  # eager: two consumers + AQE would double-evaluate
    (persisted if persisted is not None else _CASCADE_CACHES).append(groups)
    pairs = (
        groups.where(F.size("ids") <= cfg.fp_skew_cap)
        .select(F.explode("ids").alias("a_id"), "ids")
        .select("a_id", F.explode("ids").alias("b_id"))
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("shared_fp"))
    )
    # retained-fingerprint count per file = total minus hot memberships
    hot = groups.where(F.size("ids") > cfg.fp_skew_cap).select("fp")
    n_hot = (
        fp.join(F.broadcast(hot), "fp")
        .groupBy("file_id")
        .agg(F.count("*").alias("n_hot"))
    )
    counts = (
        signatures.select(
            "file_id", "n_bytes", F.size("fingerprints").alias("n_all")
        )
        .join(n_hot, "file_id", "left")
        .select(
            "file_id", "n_bytes",
            (F.col("n_all") - F.coalesce("n_hot", F.lit(0))).alias("n_fp"),
        )
    )
    a_cnt, b_cnt = (
        counts.selectExpr(
            f"file_id AS {s}_id", f"n_fp AS {s}_nfp", f"n_bytes AS {s}_nb"
        )
        for s in "ab"
    )
    return (
        pairs.join(a_cnt, "a_id")
        .join(b_cnt, "b_id")
        .withColumn(
            "containment",
            F.col("shared_fp") / F.greatest(F.least("a_nfp", "b_nfp"), F.lit(1)),
        )
        .where(F.col("containment") >= threshold)
        .select("a_id", "b_id", "containment", "a_nb", "b_nb")
    )


def containment_verified(
    candidates: DataFrame, files: DataFrame,
    cfg: SketchConfig | None = None, min_overlap_chars: int = 512,
    persisted: list | None = None, resident: bool | None = None,
) -> DataFrame:
    """Exact-substring containment verification (G3, verify stage).

    Two tiers over the fingerprint candidates (from
    :func:`containment_candidates`):

    1. WHOLE-FILE embedding: the smaller content (by byte length; ``a``
       on ties) is a verbatim substring of the larger. The fast, common
       case (a vendored file, a concatenated bundle).
    2. PARTIAL overlap — pairs that fail tier 1 go through a
       positional-winnowing kernel (:func:`_overlap_rows`): both sides'
       sliding-window minima are recomputed WITH positions, shared minima
       are grouped by alignment diagonal (pos_small - pos_big), the
       longest gap-free diagonal segment marks a candidate run, and the
       run's span is byte-compared for exact equality. Detects a shared
       verbatim block >= ``min_overlap_chars`` even when neither file
       embeds the other — the suffix-array behavior of SURVEY §2.8 G3 at
       candidate-pair (not corpus) cost.

    Output: (small_id, big_id, containment, overlap_chars) — containment
    is the verified overlap fraction of the smaller side (1.0 and the
    small side's byte length for tier 1).

    Where it runs follows the cascade's rule, under the same
    ``RESIDENT_BYTES`` budget:

    - Resident (``resident=True``, or by default while the candidate
      rows, 8 B each, plus the candidate files' content bytes, the sum of
      their ``n_bytes``, fit): the driver collects the candidates, then
      ``content`` for the candidate files only with one broadcast
      ``left_semi`` Arrow collect (:func:`_file_contents`), runs tier 1
      as a bytes ``in`` and tier 2 as :func:`_overlap_rows` over the
      pairs sorted by (big_id, small_id), and returns a local frame. No
      Python UDF stage runs and nothing persists.
    - Scan-side (``resident=False``, or above the budget): both tiers run
      on executors over a content-wide candidate join — tier 1 as JVM
      ``instr``, tier 2 as a ``mapInPandas`` stage; when only the
      contents overflowed, the candidate rows the check collected are
      the join's (local) candidate side, not a second candidate stage.
      ``persisted`` receives its staged pair cache for the caller to
      unpersist (module registry otherwise, as in the cascade).
    """
    cfg = cfg or DEFAULT_CONFIG
    if resident is not False:
        src = candidates.select("a_id", "b_id", "a_nb", "b_nb")
        if not resident:  # never collect an unbounded set
            src = src.limit(RESIDENT_BYTES // 8 + 1)
        cand = src.toArrow()
        ids, cost = _containment_files(cand)
        if resident or cost <= RESIDENT_BYTES:
            return _driver_containment_verified(
                files.sparkSession, cand, _file_contents(files, ids), cfg,
                min_overlap_chars,
            )
        if cand.num_rows <= RESIDENT_BYTES // 8:  # the rows are complete
            candidates = files.sparkSession.createDataFrame(cand)
    return _scan_side_containment_verified(
        candidates, files, cfg, min_overlap_chars, persisted
    )


def _containment_files(cand) -> tuple[np.ndarray, int]:
    """The file_ids of the candidate rows ``cand`` and the driver bytes
    their verify holds: the rows (8 B each) and the files' ``n_bytes``."""
    ids, first = np.unique(
        np.r_[cand["a_id"].to_numpy(), cand["b_id"].to_numpy()],
        return_index=True,
    )
    nbytes = np.r_[cand["a_nb"].to_numpy(), cand["b_nb"].to_numpy()][first]
    return ids, 8 * len(cand) + int(nbytes.sum())


def _file_contents(files: DataFrame, ids) -> dict:
    """{file_id: utf-8 content} of ``ids`` by a broadcast ``left_semi``
    collect (none for no ids); of every file by one scan for None."""
    if ids is not None and not len(ids):
        return {}
    got = _prepare(files).select("file_id", "content")
    if ids is not None:
        wanted = files.sparkSession.createDataFrame(
            pa.table({"file_id": pa.array(ids, pa.string())})
        )
        got = got.join(F.broadcast(wanted), "file_id", "left_semi")
    got = got.toArrow()
    return dict(zip(got["file_id"].to_pylist(), got["content"].to_pylist()))


def _driver_containment_verified(
    spark, cand, content: dict, cfg: SketchConfig,
    min_overlap_chars: int = 512,
) -> DataFrame:
    """The resident verify stage (see :func:`containment_verified`) over
    the candidate rows ``cand`` and the ``content`` of their files."""
    a_id, b_id = cand["a_id"].to_numpy(), cand["b_id"].to_numpy()
    # positions in string order, so sorting by them sorts by file_id
    fids = np.array(sorted(content), dtype=object)
    text = np.array([content[f] for f in fids], dtype=object)
    nb = np.fromiter(map(len, text), dtype=np.int64, count=text.size)
    index = pd.Index(fids)
    ia, ib = index.get_indexer(a_id), index.get_indexer(b_id)
    found = (ia >= 0) & (ib >= 0)  # the scan-side joins drop the rest
    ia, ib = ia[found], ib[found]
    small_first = nb[ia] <= nb[ib]
    small = np.where(small_first, ia, ib)
    big = np.where(small_first, ib, ia)

    full = np.fromiter(
        (s in b for s, b in zip(text[small], text[big])),
        dtype=bool, count=small.size,
    )
    rest = np.lexsort((small[~full], big[~full]))
    rs, rb = small[~full][rest], big[~full][rest]
    partial = _overlap_rows(
        pd.DataFrame({
            "small_id": fids[rs], "big_id": fids[rb],
            "small_c": text[rs], "big_c": text[rb],
        }),
        cfg, min_overlap_chars,
    )
    whole = pd.DataFrame({
        "small_id": fids[small[full]], "big_id": fids[big[full]],
        "containment": 1.0, "overlap_chars": nb[small[full]],
    })
    return spark.createDataFrame(
        pa.Table.from_pandas(
            pd.concat(
                [df for df in (whole, partial) if len(df)] or [whole],
                ignore_index=True,
            ),
            preserve_index=False,
        ),
        CONTAINMENT_SCHEMA,
    )


def _scan_side_containment_verified(
    candidates: DataFrame, files: DataFrame, cfg: SketchConfig,
    min_overlap_chars: int, persisted: list | None,
) -> DataFrame:
    """The verify stage on executors (see :func:`containment_verified`)."""
    c = files.selectExpr(
        "concat_ws('/', repo, path) AS id", "content",
        "octet_length(content) AS nb",
    )
    a, b = (
        c.selectExpr(*(f"{x} AS {side}_{x}" for x in ("id", "content", "nb")))
        for side in "ab"
    )
    df = candidates.select("a_id", "b_id").join(a, "a_id").join(b, "b_id")
    small_first = F.col("a_nb") <= F.col("b_nb")
    staged = df.select(
        F.when(small_first, F.col("a_id")).otherwise(F.col("b_id")).alias("small_id"),
        F.when(small_first, F.col("b_id")).otherwise(F.col("a_id")).alias("big_id"),
        F.when(small_first, F.col("a_content")).otherwise(F.col("b_content")).alias("small_c"),
        F.when(small_first, F.col("b_content")).otherwise(F.col("a_content")).alias("big_c"),
        F.when(small_first, F.col("a_nb")).otherwise(F.col("b_nb")).alias("small_nb"),
    ).persist()  # two tiers consume it
    # Eager: the two tiers materialize concurrently under one action and
    # would otherwise race the unpopulated cache, re-running the
    # content-wide candidate joins twice.
    staged.count()
    (persisted if persisted is not None else _CASCADE_CACHES).append(staged)
    # instr's substring must be a Column: a plain string is taken as a
    # literal, and the whole-file tier would never match
    found_at = F.instr("big_c", F.col("small_c"))
    full = staged.where(found_at > 0).select(
        "small_id",
        "big_id",
        F.lit(1.0).alias("containment"),
        F.col("small_nb").cast("long").alias("overlap_chars"),
    )
    rest = staged.where(found_at == 0).select(
        "small_id", "big_id", "small_c", "big_c", "small_nb"
    )
    partial = _partial_overlap_kernel(rest, cfg, min_overlap_chars)
    return full.unionByName(partial)


def _positional_minima(content: bytes, cfg: SketchConfig) -> np.ndarray:
    """Sliding-window minima of positional shingle hashes (one value per
    window start) — the positional form of hashing.winnow."""
    from sketchy_spark.hashing import _sliding_min, batch_shingle_hashes

    hashes, _ = batch_shingle_hashes([content], cfg.k, cfg.seed)
    w = cfg.winnow_window
    if hashes.size == 0:
        return hashes
    if hashes.size <= w:
        return hashes.min(keepdims=True)
    return _sliding_min(hashes, w)


class _MinimaCache:
    """Bounded LRU of (encoded bytes, positional minima) keyed by file id.

    Lifetime is one mapInPandas PARTITION, not one Arrow batch (VERDICT
    r4 minor #4), or one resident verify call on the driver: a hub file
    whose pairs span several batches of the same partition is sketched
    once per partition, deterministically — the kernel's input is sorted
    by big_id so a hub's rows are contiguous and LRU eviction never
    thrashes. Byte-bounded because a partition can hold arbitrarily many
    distinct files' contents."""

    def __init__(self, max_bytes: int = 128 << 20):
        from collections import OrderedDict

        self._d: OrderedDict[str, tuple[bytes, np.ndarray]] = OrderedDict()
        self._bytes = 0
        self.max_bytes = max_bytes

    def get(
        self, fid: str, text: str, cfg: SketchConfig
    ) -> tuple[bytes, np.ndarray]:
        e = self._d.get(fid)
        if e is not None:
            self._d.move_to_end(fid)
            return e
        if isinstance(text, str):  # the driver hands in bytes
            text = text.encode("utf-8", "surrogatepass")
        e = (text, _positional_minima(text, cfg))
        cost = len(text) + e[1].nbytes
        if cost > self.max_bytes:
            # ADVICE r5: an entry whose cost alone exceeds the budget
            # must not be cached — inserting it after evicting everything
            # would hold _bytes > max_bytes for the rest of the
            # partition, breaking the documented executor-memory bound.
            return e
        while self._bytes + cost > self.max_bytes and self._d:
            _, (ob, om) = self._d.popitem(last=False)
            self._bytes -= len(ob) + om.nbytes
        self._d[fid] = e
        self._bytes += cost
        return e


def _overlap_rows(
    pdf: pd.DataFrame,
    cfg: SketchConfig,
    min_overlap_chars: int,
    cache: "_MinimaCache | None" = None,
) -> pd.DataFrame:
    """Candidate pairs (one Arrow batch on executors, every tier-2 pair on
    the driver) -> verified partial overlaps.

    Positional minima (and the encoded bytes) are computed ONCE PER
    DISTINCT FILE, keyed by file id: a big file appearing in p pairs is
    sketched once, not p times (VERDICT r3 #5 — the per-pair re-hash made
    the kernel quadratic in the pair multiplicity of popular files). The
    scan-side caller passes a partition-lifetime :class:`_MinimaCache` so
    the guarantee spans Arrow batches (VERDICT r4 minor #4); the resident
    caller hands over every pair in one call."""
    k, w = cfg.k, cfg.winnow_window

    if cache is None:
        cache = _MinimaCache()

    def entry(fid: str, text: str) -> tuple[bytes, np.ndarray]:
        return cache.get(fid, text, cfg)

    def longest_run(
        sa: bytes, ma: np.ndarray, sb: bytes, mb: np.ndarray
    ) -> int:
        if ma.size == 0 or mb.size == 0:
            return 0
        shared, ia, ib = np.intersect1d(ma, mb, return_indices=True)
        # intersect1d returns FIRST occurrence indices; winnow minima
        # repeat across adjacent windows, so first-occurrence alignment
        # is stable for runs. Group by diagonal.
        if shared.size == 0:
            return 0
        diag = ia - ib
        order = np.lexsort((ia, diag))
        d_s, ia_s = diag[order], ia[order]
        best = 0
        start = 0
        for i in range(1, ia_s.size + 1):
            boundary = (
                i == ia_s.size
                or d_s[i] != d_s[start]
                or ia_s[i] - ia_s[i - 1] > 2 * w
            )
            if not boundary:
                continue
            lo, hi = ia_s[start], ia_s[i - 1]
            span = int(hi - lo) + w + k - 1
            if span > best and span >= min_overlap_chars:
                off = int(d_s[start])
                a0, b0 = int(lo), int(lo - off)
                if sa[a0 : a0 + span] == sb[b0 : b0 + span]:
                    best = span
            start = i
        return best

    rows = []
    for r in pdf.itertuples(index=False):
        sa, ma = entry(r.small_id, r.small_c)
        sb, mb = entry(r.big_id, r.big_c)
        run = longest_run(sa, ma, sb, mb)
        if run >= min_overlap_chars:
            rows.append(
                (
                    r.small_id,
                    r.big_id,
                    round(min(run / max(len(sa), 1), 1.0), 6),
                    run,
                )
            )
    return pd.DataFrame(
        rows,
        columns=["small_id", "big_id", "containment", "overlap_chars"],
    )


def _partial_overlap_kernel(
    pairs: DataFrame, cfg: SketchConfig, min_overlap_chars: int
) -> DataFrame:
    """Per-pair longest shared verbatim run via diagonal-aligned winnow
    minima + exact byte comparison (see containment_verified); the
    per-batch kernel is :func:`_overlap_rows`.

    Input rows are locally sorted by (big_id, small_id) — no shuffle of
    the content-wide pair rows, but a hub file's pairs become contiguous
    within each partition, so the partition-lifetime minima cache hits
    deterministically even when the hub spans several Arrow batches
    (VERDICT r4 minor #4)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = _MinimaCache()  # per-partition: shared across batches
        for pdf in batches:
            yield _overlap_rows(pdf, cfg, min_overlap_chars, cache)

    return pairs.sortWithinPartitions("big_id", "small_id").mapInPandas(
        fn, schema=CONTAINMENT_SCHEMA
    )
