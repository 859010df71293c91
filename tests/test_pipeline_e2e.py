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


def _python_nodes(spark, group):
    """Output descriptions of the ``MapInPandas`` nodes that received
    rows in the SQL executions of job group ``group``: a node whose
    subtree a cached table serves reports no data sent to Python."""
    group_jobs = {
        str(j) for j in spark.sparkContext.statusTracker()
        .getJobIdsForGroup(group)
    }
    sql = spark._jsparkSession.sharedState().statusStore()
    ran = []
    execs = sql.executionsList().iterator()
    while execs.hasNext():
        e = execs.next()
        if not group_jobs & set(e.jobs().keySet().mkString(",").split(",")):
            continue
        values = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name() != "MapInPandas":
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if m.name() != "data sent to Python workers":
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined() and v.get() != "0.0 B":
                    ran.append(node.desc())
    return ran


def _is_sketch(desc):
    # the sketch UDF reads content and emits n_shingles
    return "content#" in desc and "n_shingles#" in desc


def _asked(budget, name):
    """(bytes left, taken) of each charge ``name`` that the driver ledger
    ``budget`` records."""
    return [(c.left, c.ok) for c in budget.charges if c.name == name]


def test_resident_edges_match_spark_path(spark, monkeypatch):
    """The plain pipeline's resident stage (one Arrow collect: band join,
    exact-sha edges, cascade, union-find) gives the same clusters,
    candidates, verified and edges rows as its Spark stages
    (``RESIDENT_BYTES`` = 0), and as a run whose borderline sigs overflow
    what the collect and the pair codes left, which hands over to the
    Spark stages. The corpus is the planted corpus plus an over-cap
    near-dup clique at cap 8 (20 members), two empty files, which have
    no shingles, so their only link is the exact-sha edge, six small
    documents (fewer shingles than signature slots), which verify
    through the cascade's exact stage, and singletons; its candidates
    cover every stage-1 branch. The resident run's only Python stage is
    the sketch (the driver re-sketches the borderline files), also with
    the containment pass on, whose run gives the same rows, and its
    frames are local."""
    import numpy as np
    import pandas as pd

    from sketchy_spark.operators import verify as V
    from sketchy_spark.operators.lsh import band_table, hot_band_keys
    from sketchy_spark.plans.explain import physical_plan

    cfg = SketchConfig(band_skew_cap=8)
    cols = ["repo", "path", "commit", "lang", "content"]
    body = "\n".join(f"def fn_{i}(x): return x + {i * 7}" for i in range(120))
    rng = np.random.default_rng(5)
    extra = pd.DataFrame(
        [("org/clique", f"src/m{m}.py", "c", "py", body + f"\n# member {m}")
         for m in range(20)]
        + [("org/tiny", f"t{i}.py", "c", "py", "") for i in range(2)]
        + [("org/solo", f"s{i}.py", "c", "py", rng.bytes(900).hex())
           for i in range(3)]
        + [("org/small", f"s{i}.py", "c", "py",
            "alpha = beta(1)\n" * 2 + f"gamma = {i % 2}") for i in range(6)],
        columns=cols,
    )
    pdf = pd.concat([corpus_pandas(600)[cols], extra], ignore_index=True)
    files = spark.createDataFrame(pdf).cache()

    def run(group, with_containment=False):
        sc = spark.sparkContext
        sc.setJobGroup(group, "resident edges parity")
        try:
            res = run_pipeline(files, cfg, with_containment)
            rows = {
                k: sorted(tuple(r) for r in getattr(res, k).collect())
                for k in ("clusters", "candidates", "verified", "edges")
            }
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return res, rows

    res, resident = run("resident-edges")
    with monkeypatch.context() as mp:
        mp.setattr(V, "RESIDENT_BYTES", 0)
        handed_res, handed = run("handed-over-edges")
    assert resident == handed
    assert _asked(handed_res.budget, "rows") == [(0, False)]
    # the rows, the pair codes and the borderline sigs fit; squeezed,
    # the rows and the pair codes fit, the borderline sigs do not
    (left, fits), = _asked(res.budget, "borderline_sigs")
    assert fits
    with monkeypatch.context() as mp:
        mp.setattr(V, "RESIDENT_BYTES", V.RESIDENT_BYTES - left + 1)
        overflow_res, overflow = run("borderline-overflow")
    assert _asked(overflow_res.budget, "borderline_sigs") == [(1, False)]
    assert overflow == resident
    overflow_res.unpersist()

    # every stage-1 branch: accepted, borderline and small-doc pairs
    sig = res.signatures.select(
        "file_id", "sig_perm", "simhash", "n_shingles"
    ).toPandas().set_index("file_id")
    a = sig.loc[[p[0] for p in resident["candidates"]]]
    b = sig.loc[[p[1] for p in resident["candidates"]]]
    est, _, small = V._slot_estimates(
        np.vstack(a["sig_perm"]), np.vstack(b["sig_perm"]),
        a["simhash"], b["simhash"], a["n_shingles"], b["n_shingles"],
        cfg.num_perm,
    )
    tau, margin = cfg.jaccard_threshold, V.CASCADE_MARGIN
    assert (~small & (est >= tau + margin)).any()
    assert (~small & (est >= tau - margin) & (est < tau + margin)).any()
    verified = {r[:2] for r in resident["verified"]}
    assert ("org/small/s0.py", "org/small/s1.py") in verified
    assert ("org/small/s0.py", "org/small/s2.py") in verified

    bands = band_table(res.signatures, cfg, id_col="fid")
    assert hot_band_keys(bands, cfg.band_skew_cap).count() > 0
    labels = dict(resident["clusters"])
    assert len({labels[f"org/clique/src/m{m}.py"] for m in range(20)}) == 1
    tiny = ("org/tiny/t0.py", "org/tiny/t1.py")
    assert tiny in resident["candidates"]
    assert tiny not in {r[:2] for r in resident["verified"]}
    assert labels[tiny[0]] == labels[tiny[1]]
    for i in range(3):
        assert labels[f"org/solo/s{i}.py"] == f"org/solo/s{i}.py"

    ran = _python_nodes(spark, "resident-edges")
    assert len(ran) == 1 and all(map(_is_sketch, ran)), ran
    cont_res, with_cont = run("resident-containment", with_containment=True)
    assert with_cont == resident
    assert cont_res.containment.count() > 0
    ran = _python_nodes(spark, "resident-containment")
    assert len(ran) == 1 and all(map(_is_sketch, ran)), ran
    cont_res.unpersist()
    assert not all(map(_is_sketch, _python_nodes(spark, "handed-over-edges")))
    # the resident frames are local; the Spark stages' plans read the
    # signature cache, whose plan holds the sketch
    frames = ("clusters", "candidates", "verified", "edges")
    plans = [physical_plan(getattr(res, k)) for k in frames]
    assert not any("MapInPandas" in p for p in plans)
    plans = [physical_plan(getattr(handed_res, k)) for k in frames]
    assert all("MapInPandas" in p for p in plans)
    res.unpersist()
    handed_res.unpersist()
    files.unpersist()


def test_resident_containment_yields_to_edges_stage(spark, monkeypatch):
    """The plain run's containment pass takes its candidate rows and
    contents out of what the signature table left, before the edges stage
    runs. When the edges stage would not fit after it, the pass yields:
    the edges stage stays on the driver with the whole remainder, and
    ``containment_pairs`` computes the containment rows on its own, equal
    to the shared pass's. The budgets are read from the run's ledger."""
    from sketchy_spark import pipeline as P
    from sketchy_spark.operators import verify as V

    files = corpus_df(spark, 300).cache()

    def rows(res):
        return {
            k: sorted(tuple(r) for r in getattr(res, k).collect())
            for k in ("clusters", "edges", "containment")
        }

    shared = run_pipeline(files, CFG)
    want = rows(shared)
    n_files, n_fp = shared.signatures.agg(
        F.count("*"), F.sum(F.size("fingerprints"))
    ).first()
    shared.unpersist()
    assert len(want["containment"]) > 0
    left = (
        V.RESIDENT_BYTES
        - n_files * (P._resident_row_bytes(CFG) + 8) - 8 * n_fp
    )
    alone, budgets = [], []
    pairs, sizes = P.containment_pairs, V._containment_files
    monkeypatch.setattr(
        P, "containment_pairs",
        lambda *a, **k: alone.append(1) or pairs(*a, **k),
    )
    # the pass's rows and contents leave the edges stage 1 B, then none
    for cost in (left - 1, left):
        monkeypatch.setattr(
            V, "_containment_files", lambda c, n=cost: (sizes(c)[0], n)
        )
        res = run_pipeline(files, CFG)
        assert res.edges.isLocal() and rows(res) == want
        # the shared pass's pair codes get what the table left
        assert _asked(res.budget, "containment_codes") == [(left, True)]
        budgets += [b for b, _ in _asked(res.budget, "band_codes")]
        res.unpersist()
    assert alone == [1, 1]
    assert budgets == [1, left, left]


def test_sizing_never_blocks_on_empty_input(spark, tmp_path):
    """The run takes its row and fingerprint counts from an Observation
    on its one noop write, and ``Observation.get`` waits for that action.
    A 0-row frame, a ``limit(0)`` frame (0 partitions) and a store run
    whose signatures stage is resumed each return their empty results
    within a join timeout."""
    import threading

    from sketchy_spark.checkpoint import CheckpointStore

    files = corpus_df(spark, 50)
    store = CheckpointStore(str(tmp_path / "empty"), CFG.config_hash)
    runs = [
        ("0 rows", lambda: run_pipeline(files.where("false"), CFG)),
        ("limit(0)", lambda: run_pipeline(files.limit(0), CFG)),
        ("stored", lambda: run_pipeline(files.limit(0), CFG, store=store)),
        ("resumed", lambda: run_pipeline(files.limit(0), CFG, store=store)),
    ]
    assert files.limit(0).rdd.getNumPartitions() == 0
    for name, run in runs:
        got = {}

        def body():
            res = run()
            got["rows"] = [
                res.signatures.count(), res.clusters.count(),
                res.containment.count(),
            ]
            got["resumed"] = res.resumed
            res.unpersist()

        worker = threading.Thread(target=body, daemon=True)
        worker.start()
        worker.join(timeout=180)
        assert not worker.is_alive(), f"{name}: sizing blocked"
        assert got["rows"] == [0, 0, 0], name
    assert got["resumed"]["signatures"] is True


def test_resident_run_starts_three_jobs(spark, monkeypatch):
    """A warm resident run with containment on starts three Spark jobs:
    the sketch (its noop write fills the signature cache, and an
    Observation sizes the run), the signature collect and one content
    scan, which collects every file because the whole input fits what
    the budget has left at that fetch. With ``RESIDENT_BYTES`` set so
    the wanted files fit but the whole input does not, the fetch takes
    the broadcast ``left_semi`` form of the wanted files, and every row
    is the same. The left bytes are read from the run's ledger."""
    from sketchy_spark.operators import verify as V

    files = corpus_df(spark, 300).cache()
    files.count()
    sc = spark.sparkContext
    lefts, fetched = [], []
    contents = V._file_contents
    monkeypatch.setattr(
        V, "_file_contents",
        lambda f, ids: fetched.append(ids is None) or contents(f, ids),
    )

    def run(group):
        sc.setJobGroup(group, "resident job count")
        try:
            res = run_pipeline(files, CFG)
            rows = {
                k: sorted(tuple(r) for r in getattr(res, k).collect())
                for k in ("clusters", "candidates", "verified", "edges",
                          "containment")
            }
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        total = res.signatures.agg(F.sum("n_bytes")).first()[0]
        lefts.extend(_asked(res.budget, "whole_input"))
        res.unpersist()
        return rows, len(sc.statusTracker().getJobIdsForGroup(group)), total

    run("three-jobs-warm")
    want, jobs, total = run("three-jobs")
    assert jobs == 3
    assert len(want["containment"]) > 0
    # one borderline fetch a run, the whole input each time
    assert fetched == [True, True] and len(lefts) == 2
    assert lefts[1][0] >= total and lefts[1][1]
    squeezed = V.RESIDENT_BYTES - lefts[1][0] + total - 1
    monkeypatch.setattr(V, "RESIDENT_BYTES", squeezed)
    got, _, _ = run("semi-join-contents")
    assert lefts[2] == (total - 1, False) and fetched[2] is False
    assert got == want
    files.unpersist()
