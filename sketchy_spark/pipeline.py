"""End-to-end dedup pipeline orchestration.

files(repo, path, commit, lang, content)
  -> sketch (mapInPandas, the only UDF stage)
  -> signatures            [narrow table: content pruned]
  -> exact edges (sha256)  + LSH candidates -> Jaccard-verified pairs
  -> connected components  -> clusters
  -> containment pairs     [fingerprint candidates -> substring verification]

The Spark re-expression of `sketchy predict` end-to-end (SURVEY §3.1),
with the all-pairs kernel replaced by LSH (G1) and ranking replaced by
clustering (the dedup graft's goal).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sketchy_spark.config import DEFAULT_CONFIG, SketchConfig
from sketchy_spark.operators.cluster import assign_clusters_fid
from sketchy_spark.operators.lsh import (
    attach_file_ids,
    candidate_pairs_fid,
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
    candidates: DataFrame
    verified: DataFrame
    clusters: DataFrame
    containment: DataFrame
    edges: DataFrame | None = None
    persisted: tuple = ()  # internal fid frames to release on unpersist

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
) -> PipelineResult:
    """Run the full dedup pipeline lazily; materialization points are the
    caller's choice (tests collect; bench writes; checkpointed runs go
    through streaming/incremental.py).

    ``range_partition=True`` inserts ``repartitionByRange('lang','repo')``
    at ingest (north-star partitioning): co-locates same-language/repo
    files so the cached signature table — and every map-side stage over
    it — clusters near-duplicate-dense neighborhoods together, which
    raises map-side combine hit rates in the band groupBy and keeps
    per-task working sets coherent. Off by default in local mode (a
    content-width shuffle only pays for itself on multi-executor runs
    where locality persists across stages).
    """
    if range_partition:
        files = files.repartitionByRange("lang", "repo")
    # Slim sketch pass: the bottom-s sig column (8 KB/row) is only ever
    # read for borderline pairs, which the cascade re-sketches on demand —
    # the cached working set stays ~2 KB/row. Winnow fingerprints are
    # skipped entirely when the containment pass is off.
    signatures = with_fid(
        sketch_files(files, cfg, with_sig=False, with_fp=with_containment)
    )
    if cache_signatures:
        # signatures feed 3+ downstream stages; recomputing the UDF stage
        # per consumer would triple the dominant cost. The cache is
        # populated by candidate_pairs_fid's hot-key collect — the FIRST
        # action below — in the same job that shuffles the band table, so
        # no separate eager count pass runs (one barrier fewer; that job
        # also reports n_files for the cascade's resident sizing).
        signatures = signatures.cache()

    # The whole pair/edge flow stays in fid longs (16-byte shuffle keys,
    # operators/lsh.py); file_id strings attach once, to final outputs.
    # ``internal`` collects every frame the stages persist (band cache,
    # candidate pairs, and the scan-side cascade estimates, containment
    # groups and staged pairs) so unpersist() can release them.
    internal: list[DataFrame] = []
    fid_candidates = candidate_pairs_fid(signatures, cfg, persisted=internal)
    # the cache is populated by the candidate stage's first action, so
    # this count is a memory scan (cheap), not a second sketch pass; the
    # same job sums the fingerprint rows that size the containment pass
    n_files = n_fp = None
    if cache_signatures:
        n_files, n_fp = signatures.agg(
            F.count("*"),
            F.sum(F.size("fingerprints")) if with_containment else F.lit(0),
        ).first()
    # Within the cascade's 30 MB budget (signature matrix + candidate
    # pairs + borderline sigs) the cascade runs on the driver: the only
    # Python stage it starts is one re-sketch of the borderline files,
    # and its result is a local frame. At dup-dense sizes the verify
    # layer's wall time tracks the fixed cost of its Spark jobs, stages
    # and Python tasks, not its kernels. Above the budget it runs
    # scan-side on executors (operators/verify.py).
    verified_fid = verified_pairs_cascade(
        fid_candidates, signatures, cfg, files=files, n_files=n_files,
        attach_ids=False, persisted=internal,
    ).persist()  # consumed by edges AND exposed as .verified
    edges_fid = (
        exact_dup_edges_fid(signatures)
        .unionByName(verified_fid.select("a_fid", "b_fid"))
        .distinct()
        .persist()  # connected_components probes size + labels
    )
    clusters = assign_clusters_fid(signatures, edges_fid)

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
    edges = edges_fid

    if with_containment:
        cont = containment_pairs(
            signatures, files, cfg, persisted=internal, n_fp=n_fp
        )
    else:
        cont = signatures.sparkSession.createDataFrame([], CONTAINMENT_SCHEMA)
    return PipelineResult(
        signatures, candidates, verified, clusters, cont, edges,
        persisted=(verified_fid, *internal),
    )


def containment_pairs(
    signatures: DataFrame, files: DataFrame, cfg: SketchConfig,
    persisted: list | None = None, n_fp: int | None = None,
) -> DataFrame:
    """The containment pass (G3): fingerprint candidates, then
    substring verification — the one stage both the plain and the
    checkpointed pipeline run. ``n_fp``: the signatures' total
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
