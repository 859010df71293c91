"""End-to-end dedup pipeline orchestration.

files(repo, path, commit, lang, content)
  -> sketch (mapInPandas, the only UDF stage)
  -> signatures            [narrow table: content pruned, cached]
  -> edges: LSH candidates -> Jaccard-verified pairs, + exact (sha256)
  -> connected components  -> clusters
  -> containment pairs     [fingerprint candidates -> substring verification]

The Spark re-expression of `sketchy predict` end-to-end (SURVEY §3.1),
with the all-pairs kernel replaced by LSH (G1) and ranking replaced by
clustering (the dedup graft's goal).

The edges stage has one driver kernel, :func:`_resident_edges`, and one
Spark form, :func:`_spark_edges`, each with a new-rows mask: the
incremental batch (streaming/incremental.py) runs both over its
fid-keyed store with its new rows marked, and a plain run is the batch
over an empty store, where every row is new. The stage follows the
verify passes' resident rule (operators/verify.py, one
``RESIDENT_BYTES`` budget). While the signature rows fit it, at
:func:`_resident_row_bytes` each, ONE Arrow table feeds the band join,
the exact-sha edges and the cascade on the driver, as the reference
re-ranks its in-memory sketch collection (src/sketchy.rs:81); a plain
run gets it from one collect of the cached signatures, which also feeds
the union-find, so the sketch and the cascade's borderline re-sketch are
its only Python stages. Above the budget, or when the pair codes or the
borderline sigs would overflow what the table left, the stage hands over
to Spark stages (:func:`candidate_pairs_fid`,
:func:`verified_pairs_cascade`, :func:`exact_dup_edges_fid`, then
:func:`assign_clusters_fid`), with identical rows.

Every run labels a cluster by its least file_id (string order), the
rule of operators/cluster.py, whether its clusters come from the driver
stage, from :func:`assign_clusters_fid` or from a checkpoint store
(``run_pipeline(store=...)``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from sketchy_spark.config import DEFAULT_CONFIG, SketchConfig
from sketchy_spark.operators import verify
from sketchy_spark.operators.cluster import (
    assign_clusters_fid,
    least_member_labels,
)
from sketchy_spark.operators.lsh import (
    attach_file_ids,
    band_keys_expr,
    candidate_pairs_fid,
    driver_band_pairs,
    driver_exact_edges,
    exact_dup_edges_fid,
    with_fid,
)
from sketchy_spark.operators.sketch import sketch_files
from sketchy_spark.operators.verify import (
    CONTAINMENT_SCHEMA,
    containment_candidates,
    containment_verified,
    verified_pairs_cascade,
)


@dataclass
class PipelineResult:
    signatures: DataFrame
    candidates: DataFrame | None  # None when the edges stage was resumed
    verified: DataFrame | None  # None when the edges stage was resumed
    clusters: DataFrame
    containment: DataFrame
    edges: DataFrame | None = None
    persisted: tuple = ()  # internal fid frames to release on unpersist
    resumed: dict | None = None  # stage -> read back (store runs only)

    def unpersist(self) -> None:
        """Release every frame the pipeline persisted (bench hygiene)."""
        for df in (self.signatures, self.edges, *self.persisted):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass


def run_pipeline(
    files: DataFrame,
    cfg: SketchConfig = DEFAULT_CONFIG,
    with_containment: bool = True,
    cache_signatures: bool = True,
    range_partition: bool = False,
    store=None,
) -> PipelineResult:
    """Run the full dedup pipeline; materialization points are the
    caller's choice (tests collect; bench writes; a ``store`` checkpoints
    every stage).

    ``range_partition=True`` inserts ``repartitionByRange('lang','repo')``
    at ingest (north-star partitioning): co-locates same-language/repo
    files so the cached signature table — and every map-side stage over
    it — clusters near-duplicate-dense neighborhoods together, which
    raises map-side combine hit rates in the band groupBy and keeps
    per-task working sets coherent. Off by default in local mode (a
    content-width shuffle only pays for itself on multi-executor runs
    where locality persists across stages).

    With ``cache_signatures`` (the default) the edges and clusters run on
    the driver while the signature rows fit the resident budget (module
    docstring) and come back as local frames; without it, as Spark
    stages.

    ``store`` (a :mod:`sketchy_spark.checkpoint` store) makes the run
    resumable: each stage of ``checkpoint.STAGES`` — the slim fid-keyed
    signatures, the ``(a_fid, b_fid)`` edges, the clusters and, with
    ``with_containment``, the containment pairs — goes through
    ``store.get_or_compute``, so a stage the store holds complete is read
    back and any other is computed by the same code as a run without a
    store, then written and read back. ``resumed`` maps each of those
    stages to whether it was read back; ``candidates`` and ``verified``
    are None when the edges stage was. Clusters recomputed over resumed
    edges come from :func:`assign_clusters_fid`, with the same labels
    (module docstring).
    """
    if range_partition:
        files = files.repartitionByRange("lang", "repo")
    resumed = None if store is None else {}

    def stage(name, compute):
        if store is None:
            return compute()
        df, resumed[name] = store.get_or_compute(
            files.sparkSession, name, compute
        )
        return df

    # Slim sketch pass: the bottom-s sig column (8 KB/row) is only ever
    # read for borderline pairs, which the cascade re-sketches on demand —
    # the cached working set stays ~2 KB/row. Winnow fingerprints are
    # skipped when the containment pass is off, unless the stage is
    # stored, where a later run with the pass may resume it.
    sketch = with_fid(
        sketch_files(
            files, cfg, with_sig=False,
            with_fp=with_containment or store is not None,
        )
    )
    signatures = stage("signatures", lambda: sketch)
    # ``internal`` collects every frame the Spark stages persist (band
    # cache, candidate pairs, verified pairs, and the scan-side cascade
    # estimates, containment groups and staged pairs) so unpersist() can
    # release them. The resident stages persist nothing.
    internal: list[DataFrame] = []
    n_files = n_fp = None
    if cache_signatures:
        # signatures feed every later stage; recomputing the UDF stage
        # per consumer would multiply the dominant cost. This aggregate
        # is the run's first action after any stage write: it populates
        # the cache and, in the same job, counts the rows that size the
        # resident stage and the cascade, and the fingerprint rows that
        # size the containment pass. Every later read of the signatures
        # is a memory scan.
        signatures = signatures.cache()
        n_files, n_fp = signatures.agg(
            F.count("*"),
            F.sum(F.size("fingerprints")) if with_containment else F.lit(0),
        ).first()

    # (candidates, verified, edges, clusters) when the edges stage is
    # computed in this run; empty when the store resumed it.
    fresh: list = []

    def compute_edges():
        # the resident stage reads verify.RESIDENT_BYTES at call time, so
        # a caller that sets it to 0 drives the Spark stages.
        got = None
        if n_files is not None:
            got = _resident_frames(signatures, files, cfg, n_files)
        if got is None:
            got = (*_spark_edges(signatures, files, cfg, internal), None)
        fresh.extend(got)
        return fresh[2]

    edges = stage("edges", compute_edges)
    candidates, verified, _, fresh_clusters = fresh or (None,) * 4
    clusters = stage(
        "clusters",
        lambda: fresh_clusters if fresh_clusters is not None
        else assign_clusters_fid(signatures, edges),
    )

    if with_containment:
        cont = stage(
            "containment",
            lambda: containment_pairs(
                signatures, files, cfg, persisted=internal, n_fp=n_fp
            ),
        )
    else:
        cont = signatures.sparkSession.createDataFrame([], CONTAINMENT_SCHEMA)
    return PipelineResult(
        signatures, candidates, verified, clusters, cont, edges,
        persisted=tuple(internal), resumed=resumed,
    )


# The stored or collected signature columns the resident edges stage
# reads (band_keys: band_keys_expr, computed in the sketch job).
RESIDENT_COLS = [
    "fid", "sha256", "sig_perm", "simhash", "n_shingles", "band_keys",
]


def _resident_row_bytes(cfg: SketchConfig) -> int:
    """Driver bytes per signature row in the resident edges stage:
    sig_perm (4 B a slot), band keys (8 B a band), fid, simhash,
    n_shingles and the new-row flag (32 B), the sha256 hex (64 B) and the
    file_id that a plain run attaches and a batch's clusters read
    (counted as 64 B): ~0.93 KB at the defaults."""
    return 4 * cfg.num_perm + 8 * cfg.bands + 32 + 64 + 64


def _resident_edges(
    tbl: pa.Table, is_new: np.ndarray, cfg: SketchConfig, budget: int,
    fetch,
) -> tuple | None:
    """The edges stage on the driver -> (first, rank, candidates,
    verified, edges), or None.

    ``tbl`` holds :data:`RESIDENT_COLS`, one row per signature row, and
    ``is_new`` flags its new rows (every row, in a plain run). Files rank
    in fid order: ``rank`` maps each row to its file and ``first`` each
    file to its first row. The pairs are rank pairs with a < b, each
    touching a new row: the candidates (a, b) of
    :func:`driver_band_pairs`, the verified (a, b, jaccard, hamming)
    that the cascade core keeps, and the edges (a, b), those plus
    :func:`driver_exact_edges`, as :func:`_spark_edges` computes them.
    ``fetch(fids)`` returns the ``fid, sig`` rows of the cascade's
    borderline files. ``budget``: driver bytes left after the table;
    returns None, for the caller to hand over to :func:`_spark_edges`,
    when the pair codes or the borderline sigs would overflow it."""
    fids, first, rank = np.unique(
        tbl["fid"].to_numpy(), return_index=True, return_inverse=True
    )
    n = fids.size
    got = driver_band_pairs(tbl["band_keys"], rank, cfg, budget, is_new)
    if got is None:
        return None
    ca, cb, budget = got
    keep, jac, ham = np.zeros(0, dtype=bool), np.empty(0), np.empty(0)
    if ca.size:

        def fetch_rows(pos: np.ndarray) -> dict:
            sigs = fetch(fids[pos])
            return dict(zip(
                np.searchsorted(fids, sigs["fid"].to_numpy()),
                sigs["sig"].to_numpy(),
            ))

        kept = verify._cascade_core(
            verify._sig_perm_matrix(tbl, cfg)[first],
            tbl["simhash"].to_numpy()[first],
            tbl["n_shingles"].to_numpy()[first],
            ca, cb, cfg, verify.CASCADE_MARGIN, budget, fetch_rows,
        )
        if kept is None:
            return None
        keep, jac, ham = kept
    va, vb = ca[keep], cb[keep]
    xa, xb = driver_exact_edges(tbl["sha256"].to_numpy(), rank, is_new)
    ea, eb = np.divmod(
        np.unique(np.concatenate([va * n + vb, xa * n + xb])), n
    )
    return first, rank, (ca, cb), (va, vb, jac[keep], ham[keep]), (ea, eb)


def _resident_frames(
    signatures: DataFrame, files: DataFrame, cfg: SketchConfig,
    n_files: int,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None:
    """A plain run's (candidates, verified, edges, clusters) as local
    frames, with the schemas and rows of the Spark stages: ONE Arrow
    collect of the cached signatures feeds :func:`_resident_edges`, every
    row new, whose borderline files are re-sketched from ``files``, and
    the union-find, which labels each file with its component's least
    file_id. None when the stage hands over (see there)."""
    budget = verify.RESIDENT_BYTES - n_files * _resident_row_bytes(cfg)
    if budget <= 0:
        return None
    tbl = signatures.select(
        "file_id", *RESIDENT_COLS[:-1], band_keys_expr(cfg).alias("band_keys")
    ).toArrow()
    spark = signatures.sparkSession

    def fetch(fids: np.ndarray) -> pa.Table:
        wanted = spark.createDataFrame(pd.DataFrame({"fid": fids}), "fid long")
        return verify._borderline_sigs(
            wanted, signatures, files, cfg
        ).select("fid", "sig").toArrow()

    got = _resident_edges(
        tbl, np.ones(tbl.num_rows, dtype=bool), cfg, budget, fetch
    )
    if got is None:
        return None
    first, rank, (ca, cb), (va, vb, jac, ham), (ea, eb) = got
    names = tbl["file_id"].to_numpy()[first]
    fids = tbl["fid"].to_numpy()[first]
    labels = least_member_labels(names, ea, eb)

    def id_pairs(a, b, **cols):
        sa, sb = names[a], names[b]
        lo = sa <= sb
        return pd.DataFrame({
            "a_id": np.where(lo, sa, sb), "b_id": np.where(lo, sb, sa),
            **cols,
        })

    return (
        spark.createDataFrame(id_pairs(ca, cb), "a_id string, b_id string"),
        spark.createDataFrame(
            id_pairs(va, vb, jaccard=jac, hamming=ham),
            verify._verified_schema("a_id", "b_id", "string"),
        ),
        spark.createDataFrame(
            pd.DataFrame({"a_fid": fids[ea], "b_fid": fids[eb]}),
            "a_fid long, b_fid long",
        ),
        spark.createDataFrame(
            pd.DataFrame({
                "file_id": tbl["file_id"].to_numpy(),
                "cluster_id": labels[rank],
            }),
            "file_id string, cluster_id string",
        ),
    )


def _spark_edges(
    signatures: DataFrame, files: DataFrame | None, cfg: SketchConfig,
    internal: list, new: Column | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(candidates, verified, edges) as Spark stages: the scale path, and
    the resident stage's hand-over. ``new`` marks the new rows (a
    boolean Column; None: every row, the plain run), as the driver
    kernel's mask does.

    The whole pair/edge flow stays in fid longs (16-byte shuffle keys,
    operators/lsh.py); file_id strings attach once, to the candidates and
    verified outputs. The cascade runs scan-side: the edges stage has
    already declined the budget. ``internal`` receives every persisted
    frame, the edges included, for the caller to release."""
    fid_candidates = candidate_pairs_fid(
        signatures, cfg, persisted=internal, new=new
    )
    verified_fid = verified_pairs_cascade(
        fid_candidates, signatures, cfg, files=files, attach_ids=False,
        persisted=internal,
    ).persist()  # consumed by edges AND exposed as .verified
    edges = (
        exact_dup_edges_fid(signatures, new)
        .unionByName(verified_fid.select("a_fid", "b_fid"))
        .distinct()
        .persist()  # connected_components probes size + labels
    )
    internal += [verified_fid, edges]

    # public result keeps the string pair contract (lazy attachment)
    candidates = attach_file_ids(fid_candidates, signatures).select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
    )
    verified = attach_file_ids(verified_fid, signatures).select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
        "jaccard",
        "hamming",
    )
    return candidates, verified, edges


def containment_pairs(
    signatures: DataFrame, files: DataFrame, cfg: SketchConfig,
    persisted: list | None = None, n_fp: int | None = None,
) -> DataFrame:
    """The containment pass (G3): fingerprint candidates, then
    substring verification. ``n_fp``: the signatures' total
    fingerprint count if known (see
    :func:`~sketchy_spark.operators.verify.containment_candidates`).

    The candidate threshold drops to a quarter of the small side's
    fingerprints: partial verbatim overlaps (a shared block that is NOT a
    whole-file embedding) must reach the run-verify kernel. Both stages
    follow the cascade's budget: within it they run on the driver and
    return local frames (no Python UDF stage, no persist); above it,
    scan-side on executors."""
    return containment_verified(
        containment_candidates(
            signatures, cfg,
            min_containment=min(0.25, cfg.containment_threshold),
            persisted=persisted, n_fp=n_fp,
        ),
        files,
        cfg,
        persisted=persisted,
    )


def cluster_consensus(
    clusters: DataFrame, signatures: DataFrame
) -> DataFrame:
    """Per-cluster majority metadata (the 'genotype' of a cluster, SURVEY
    §1.4): majority lang + member count + representative (min file_id)."""
    joined = clusters.join(
        signatures.select("file_id", "lang", "repo"), "file_id"
    )
    lang_counts = joined.groupBy("cluster_id", "lang").agg(
        F.count("*").alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("cnt"), F.asc("lang")
    )
    majority = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("cluster_id", F.col("lang").alias("majority_lang"))
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.min("file_id").alias("representative"),
    )
    return sizes.join(majority, "cluster_id")
