"""End-to-end pipeline tests: planted-truth recall gate + invariants.

SURVEY §5 'End-to-end' tier: synthetic corpus with planted clusters ->
full pipeline -> dup-pair recall >= 0.99, sha256 invariant, determinism.
"""

import hashlib

import pyspark.sql.functions as F
import pytest

from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import (
    corpus_df,
    corpus_pandas,
    truth_containment_pairs,
    truth_dup_pairs,
    truth_pandas,
)
from sketchy_spark.pipeline import cluster_consensus, run_pipeline

N = 1000
CFG = SketchConfig()


@pytest.fixture(scope="module")
def result(spark):
    files = corpus_df(spark, N).cache()
    res = run_pipeline(files, CFG)
    res.clusters = res.clusters.cache()
    res.verified = res.verified.cache()
    yield res


def _cluster_pairs(clusters_df):
    rows = clusters_df.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["file_id"])
    pairs = set()
    for members in by_cluster.values():
        members = sorted(members)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def test_dup_pair_recall_gate(result):
    """THE gate: recall >= 0.99 vs planted truth (BASELINE.json)."""
    gold = truth_dup_pairs(truth_pandas(N))
    found = _cluster_pairs(result.clusters)
    hit = len(gold & found)
    recall = hit / len(gold)
    assert recall >= 0.99, f"recall {recall:.4f} ({hit}/{len(gold)})"


def test_dup_pair_precision(result):
    """Clusters should not glue unrelated files together: every found pair
    is either a planted dup pair or intra-boilerplate/containment overlap.
    Precision vs planted-dup truth stays high."""
    truth = truth_pandas(N)
    gold = truth_dup_pairs(truth)
    found = _cluster_pairs(result.clusters)
    precision = len(gold & found) / max(1, len(found))
    assert precision >= 0.95, f"precision {precision:.4f}"


def test_containment_pairs_found(result):
    gold = truth_containment_pairs(truth_pandas(N))
    got = {
        (r["small_id"], r["big_id"]) for r in result.containment.collect()
    }
    hit = len(gold & got)
    assert hit / len(gold) >= 0.95, f"{hit}/{len(gold)}"


def test_sha256_invariant_through_pipeline(result):
    """Per-row sha256(content) equality: signatures table values match a
    driver-side hashlib recomputation (BASELINE.json input_hint)."""
    pdf = corpus_pandas(N)
    want = {
        f"{r.repo}/{r.path}": hashlib.sha256(r.content.encode()).hexdigest()
        for r in pdf.itertuples()
    }
    got = {
        r["file_id"]: r["sha256"]
        for r in result.signatures.select("file_id", "sha256").collect()
    }
    assert got == want


def test_every_file_assigned_exactly_once(result):
    """Public partition invariant (VERDICT r5 #8, stated in the
    assign_clusters docstrings): every distinct input file_id appears in
    exactly one clusters row, and a file in NO edge is a singleton
    cluster labeled by its own file_id."""
    n_total = result.clusters.count()
    n_distinct = result.clusters.select("file_id").distinct().count()
    assert n_total == N and n_distinct == N
    # edge-less files label themselves: any file absent from the edge
    # set must have cluster_id == file_id
    edge_members = (
        result.edges.selectExpr("a_fid as fid")
        .union(result.edges.selectExpr("b_fid as fid"))
        .distinct()
    )
    mislabeled_singletons = (
        result.clusters.join(
            result.signatures.select("file_id", "fid"), "file_id"
        )
        .join(edge_members, "fid", "left_anti")
        .where(F.col("cluster_id") != F.col("file_id"))
        .count()
    )
    assert mislabeled_singletons == 0


def test_verified_pairs_have_high_jaccard(result):
    assert (
        result.verified.where(
            F.col("jaccard") < CFG.jaccard_threshold
        ).count()
        == 0
    )


def test_consensus_metadata(result):
    cons = cluster_consensus(result.clusters, result.signatures)
    assert cons.count() == result.clusters.select("cluster_id").distinct().count()
    assert set(cons.columns) == {
        "cluster_id", "n_members", "representative", "majority_lang",
    }


def test_permutation_invariance(spark):
    """Shuffling input row order does not change cluster pairs
    (SURVEY §5 property tier)."""
    small = 400
    files = corpus_df(spark, small)
    shuffled = files.orderBy(F.rand(seed=7))
    p1 = run_pipeline(files, CFG, with_containment=False)
    p2 = run_pipeline(shuffled, CFG, with_containment=False)
    assert _cluster_pairs(p1.clusters) == _cluster_pairs(p2.clusters)


def test_unpersist_releases_every_pipeline_cache(spark):
    """PipelineResult.unpersist() releases every frame the run persisted,
    containment fingerprint groups and staged pairs included: the JVM's
    persistent-RDD registry returns to its pre-run size."""

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_persistent()
    # a corpus no other test builds: identical plans share one cache
    files = corpus_df(spark, 300, seed=7)
    res = run_pipeline(files, CFG, with_containment=True)
    res.clusters.collect()
    assert res.containment.count() > 0
    assert n_persistent() > base
    res.unpersist()
    assert n_persistent() == base
