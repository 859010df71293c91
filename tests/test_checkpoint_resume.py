"""Checkpoint/resume (G6) and incremental-mode (R38 analogue) tests."""

import pyspark.sql.functions as F
import pytest

from sketchy_spark.checkpoint import STAGES, CheckpointStore
from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import corpus_df, truth_dup_pairs, truth_pandas
from sketchy_spark.pipeline import run_pipeline
from sketchy_spark.streaming.incremental import IncrementalDedup

CFG = SketchConfig()
N = 600
# A clique member name whose fid (xxhash64 of "org/clique/src/a129.py") is
# below the fid of every member named m10..m29: arriving later, it is the
# new minimum of the clique's hot bands.
_NEW_MIN = "a129"


def _pairs(clusters_df):
    by_c = {}
    for r in clusters_df.collect():
        by_c.setdefault(r["cluster_id"], []).append(r["file_id"])
    out = set()
    for ms in by_c.values():
        ms = sorted(ms)
        out |= {(ms[i], ms[j]) for i in range(len(ms)) for j in range(i + 1, len(ms))}
    return out


def test_checkpoint_run_and_resume(spark, tmp_path):
    files = corpus_df(spark, N).cache()
    store = CheckpointStore(str(tmp_path / "ckpt"), CFG.config_hash)

    first = run_pipeline(files, CFG, store=store)
    assert first.resumed == {s: False for s in STAGES}
    pairs1 = _pairs(first.clusters)

    # simulate a crash after 'edges': drop later stages, rerun
    store.invalidate_from(STAGES, "clusters")
    second = run_pipeline(files, CFG, store=store)
    assert second.resumed["signatures"] is True
    assert second.resumed["edges"] is True
    assert second.resumed["clusters"] is False
    assert _pairs(second.clusters) == pairs1

    # full resume: everything skipped, identical output
    third = run_pipeline(files, CFG, store=store)
    assert third.resumed == {s: True for s in STAGES}
    assert _pairs(third.clusters) == pairs1

    # one verifier: the checkpointed clusters equal the plain pipeline's
    plain = run_pipeline(files, CFG, with_containment=False)
    assert _pairs(plain.clusters) == pairs1
    plain.unpersist()


def test_manifest_lineage(spark, tmp_path):
    files = corpus_df(spark, 200)
    store = CheckpointStore(str(tmp_path / "c2"), CFG.config_hash)
    run_pipeline(files, CFG, store=store)
    m = store.manifest("signatures")
    assert m["status"] == "complete"
    assert m["rows"] == 200
    # per-partition lineage present and consistent (G7)
    assert sum(p["rows"] for p in m["partitions"]) == 200
    assert m["config_hash"] == CFG.config_hash
    # the stored stage is the slim sketch: no 8 KB bottom-s column
    cols = store.read_stage(spark, "signatures").columns
    assert "fid" in cols and "sig" not in cols


def test_config_change_invalidates(spark, tmp_path, monkeypatch):
    files = corpus_df(spark, 200)
    store = CheckpointStore(str(tmp_path / "c3"), CFG.config_hash)
    run_pipeline(files, CFG, store=store)
    other = SketchConfig(seed=42)
    store2 = CheckpointStore(str(tmp_path / "c3"), other.config_hash)
    assert not store2.is_complete("signatures")

    # A store marked complete under the v2 format (the string-keyed
    # stages: full signatures, (a_id, b_id) edges) is not resumed.
    import sketchy_spark.config as config

    with monkeypatch.context() as mp:
        mp.setattr(config, "SIG_FORMAT_VERSION", 2)
        v2_hash = CFG.config_hash
    assert v2_hash != CFG.config_hash
    v2 = CheckpointStore(str(tmp_path / "v2"), v2_hash)
    pair = spark.createDataFrame([("a", "b")], "a_id string, b_id string")
    for s in STAGES:
        v2.write_stage(s, pair)
    store3 = CheckpointStore(str(tmp_path / "v2"), CFG.config_hash)
    assert not any(store3.is_complete(s) for s in STAGES)
    r = run_pipeline(files, CFG, store=store3)
    assert r.resumed == {s: False for s in STAGES}
    assert r.edges.columns == ["a_fid", "b_fid"]
    r.unpersist()


def test_incremental_equals_single_shot(spark, tmp_path):
    """FIXTURES §3: 5 batches, appended one at a time; clusters after the
    last batch equal the single-shot run (order-insensitive)."""
    files = corpus_df(spark, N).cache()
    single = run_pipeline(files, CFG, with_containment=False)
    want = _pairs(single.clusters)

    store = CheckpointStore(str(tmp_path / "inc"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG)
    batched = files.withColumn(
        "batch",
        F.abs(F.hash(F.concat_ws("/", "repo", "path"))) % 5,
    ).cache()
    for b in range(5):
        inc.ingest_batch(b, batched.where(F.col("batch") == b).drop("batch"))
    got = _pairs(inc.clusters())
    assert got == want


def test_one_label_across_runs(spark, tmp_path, monkeypatch):
    """One label rule on every path: the plain run (driver stage, and
    Spark stages with ``RESIDENT_BYTES`` = 0), a fresh store run, store
    runs resumed after the edges and after the clusters stage were
    dropped, and a 5-batch incremental ingest give identical
    ``(file_id, cluster_id)`` rows, each label its cluster's least
    file_id."""
    from sketchy_spark.operators import verify as V

    files = corpus_df(spark, N).cache()

    def rows(r):
        got = sorted(tuple(x) for x in r.clusters.collect())
        r.unpersist()
        return got

    runs = {"plain": rows(run_pipeline(files, CFG, with_containment=False))}
    with monkeypatch.context() as mp:
        mp.setattr(V, "RESIDENT_BYTES", 0)
        runs["spark stages"] = rows(
            run_pipeline(files, CFG, with_containment=False)
        )

    store = CheckpointStore(str(tmp_path / "ckpt"), CFG.config_hash)
    for name, drop, want in [
        ("fresh store", None, {s: False for s in STAGES}),
        ("edges dropped", "edges", {"signatures": True, "edges": False,
                                    "clusters": False, "containment": False}),
        ("clusters dropped", "clusters", {"signatures": True, "edges": True,
                                          "clusters": False,
                                          "containment": False}),
    ]:
        if drop:
            store.invalidate_from(STAGES, drop)
        r = run_pipeline(files, CFG, store=store)
        assert r.resumed == want, name
        runs[name] = rows(r)

    inc = IncrementalDedup(
        spark, CheckpointStore(str(tmp_path / "inc"), CFG.config_hash), CFG
    )
    batched = files.withColumn(
        "batch", F.abs(F.hash(F.concat_ws("/", "repo", "path"))) % 5
    ).cache()
    for b in range(5):
        inc.ingest_batch(b, batched.where(F.col("batch") == b).drop("batch"))
    runs["incremental"] = sorted(tuple(x) for x in inc.clusters().collect())

    want = runs["plain"]
    assert len(want) == N
    for name, got in runs.items():
        assert got == want, name
    least: dict = {}
    for fid, cid in want:
        least[cid] = min(least.get(cid, fid), fid)
    assert all(cid == least[cid] for _, cid in want)
    assert len(least) < N  # the corpus has multi-file clusters
    batched.unpersist()
    files.unpersist()


def test_hot_band_rule_one_label_across_runs(spark, tmp_path, monkeypatch):
    """One hot-band rule on every path: at ``band_skew_cap=8`` the
    planted corpus plus a 20-member over-cap near-dup clique arrives in
    3 batches, the last holding a member whose fid is below every earlier
    member's (a new minimum of the clique's hot bands). The plain driver
    run, the plain Spark run (``RESIDENT_BYTES`` = 0), and the resident
    and hand-over incremental runs give identical sorted ``(file_id,
    cluster_id)`` rows, with the clique in one cluster."""
    import pandas as pd

    from sketchy_spark.corpus import corpus_pandas
    from sketchy_spark.operators import verify as V

    cfg = SketchConfig(band_skew_cap=8)
    corpus = corpus_pandas(N)[["repo", "path", "commit", "lang", "content"]]
    names = [f"m{i}" for i in range(10, 29)] + [_NEW_MIN]
    clique = _clique(names)
    batches = [
        pd.concat([corpus.iloc[0::3], clique.iloc[:12]]),
        pd.concat([corpus.iloc[1::3], clique.iloc[12:16]]),
        pd.concat([corpus.iloc[2::3], clique.iloc[16:]]),
    ]
    files = spark.createDataFrame(pd.concat(batches, ignore_index=True))
    files = files.cache()
    fid = dict(
        files.select(
            F.concat_ws("/", "repo", "path").alias("file_id")
        ).select("file_id", F.xxhash64("file_id")).collect()
    )
    ids = [f"org/clique/src/{m}.py" for m in names]
    assert fid[ids[-1]] < min(fid[i] for i in ids[:-1])

    def plain():
        r = run_pipeline(files, cfg, with_containment=False)
        got = sorted(tuple(x) for x in r.clusters.collect())
        r.unpersist()
        return got

    def incremental(name):
        store = CheckpointStore(str(tmp_path / name), cfg.config_hash)
        inc = IncrementalDedup(spark, store, cfg)
        for b, pdf in enumerate(batches):
            inc.ingest_batch(b, spark.createDataFrame(pdf))
        return sorted(tuple(x) for x in inc.clusters().collect())

    runs = {
        "plain driver": plain(), "incremental resident": incremental("res")
    }
    with monkeypatch.context() as mp:
        mp.setattr(V, "RESIDENT_BYTES", 0)
        runs["plain spark"] = plain()
        runs["incremental hand-over"] = incremental("handover")
    want = runs["plain driver"]
    assert len(want) == N + len(names)
    for name, got in runs.items():
        assert got == want, name
    labels = dict(want)
    assert len({labels[i] for i in ids}) == 1
    files.unpersist()


@pytest.mark.parametrize("resident", [True, False])
def test_incremental_resumes_store_with_fingerprint_stages(
    spark, tmp_path, monkeypatch, resident
):
    """Batches are sketched without winnow fingerprints, which nothing on
    the incremental path reads. A store whose earlier batch stages carry
    them still resumes: later batches (resident, and handed over to Spark
    stages with ``RESIDENT_BYTES`` = 0) ingest against the mixed stages,
    compaction folds both kinds, and the clusters equal the single-shot
    run's."""
    import sketchy_spark.streaming.incremental as incremental
    from sketchy_spark.operators import verify as V
    from sketchy_spark.operators.sketch import sketch_pass

    if not resident:
        monkeypatch.setattr(V, "RESIDENT_BYTES", 0)
    files = corpus_df(spark, 300).cache()
    batched = files.withColumn(
        "batch", F.abs(F.hash(F.concat_ws("/", "repo", "path"))) % 3
    ).cache()

    def batch(b):
        return batched.where(F.col("batch") == b).drop("batch")

    store = CheckpointStore(str(tmp_path / "mixed"), CFG.config_hash)
    with monkeypatch.context() as mp:  # a store written with fingerprints
        mp.setattr(
            incremental, "sketch_pass", lambda f, cfg, **kw: sketch_pass(f, cfg)
        )
        IncrementalDedup(spark, store, CFG).ingest_batch(0, batch(0))
    inc = IncrementalDedup(spark, store, CFG)  # resumed run
    for b in (0, 1, 2):
        inc.ingest_batch(b, batch(b))

    def columns(stage):
        return store.read_stage(spark, stage).columns

    assert "fingerprints" in columns("sig_batch_00000")
    assert "fingerprints" not in columns("sig_batch_00001")
    assert inc.compact()
    assert inc.view_stages("sig") == ["sig_compact_00002"]
    assert inc.signatures().count() == 300
    single = run_pipeline(files, CFG, with_containment=False)
    assert _pairs(inc.clusters()) == _pairs(single.clusters)
    single.unpersist()
    batched.unpersist()
    files.unpersist()


def test_incremental_resume_skips_done_batches(spark, tmp_path):
    files = corpus_df(spark, 200).cache()
    store = CheckpointStore(str(tmp_path / "inc2"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG)
    inc.ingest_batch(0, files.limit(100))
    n_manifests = len(store.manifests())
    # re-ingesting the same batch is a no-op (resume semantics)
    inc.ingest_batch(0, files.limit(100))
    assert len(store.manifests()) == n_manifests


def test_incremental_crash_window_idempotent(spark, tmp_path):
    """ADVICE r1: a run killed AFTER the batch's signatures are stored but
    BEFORE its edges marker lands must re-ingest idempotently — no
    duplicated signature rows, correct final edges."""
    files = corpus_df(spark, 200).cache()
    store = CheckpointStore(str(tmp_path / "inc3"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG)
    inc.ingest_batch(0, files.limit(100))
    second = files.subtract(files.limit(100))
    inc.ingest_batch(1, second)
    want_edges = inc.edges().count()
    want_sigs = inc.signatures().count()
    # simulate the crash window: batch 1's terminal marker is lost
    store._manifest_path("edges_batch_00001").unlink()
    inc.ingest_batch(1, second)  # re-ingest
    assert inc.signatures().count() == want_sigs  # no duplicated rows
    assert inc.edges().count() == want_edges
    got = _pairs(inc.clusters())
    single = run_pipeline(files, CFG, with_containment=False)
    assert got == _pairs(single.clusters)


def test_incremental_hot_band_arrivals_stay_connected(spark, tmp_path):
    """A near-dup clique larger than band_skew_cap keeps absorbing NEW
    arrivals: hot band keys are excluded from the incremental all-pairs
    join, so without the hub-star rule a new member of an over-cap
    clique would be silently dropped (the one hot-band rule of
    operators/lsh.py)."""
    import pandas as pd

    base = "\n".join(
        f"def fn_{i}(x): return x + {i * 7}" for i in range(120)
    )

    def clique_rows(lo, hi):
        return [
            ("org/clique", f"src/f{m}.py", f"c{m}", "py",
             base + f"\n# member {m}")
            for m in range(lo, hi)
        ]

    def df(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                rows, columns=["repo", "path", "commit", "lang", "content"]
            )
        )

    cfg = SketchConfig(band_skew_cap=8)
    store = CheckpointStore(str(tmp_path / "inc5"), cfg.config_hash)
    inc = IncrementalDedup(spark, store, cfg)
    # batch 0: 20 members -> every band key of the clique is hot (> 8)
    inc.ingest_batch(0, df(clique_rows(0, 20)))
    # batch 1: 5 NEW members arrive into the now-hot bands
    inc.ingest_batch(1, df(clique_rows(20, 25)))
    clusters = inc.clusters().toPandas()
    clique = clusters[clusters.file_id.str.startswith("org/clique")]
    assert len(clique) == 25
    assert clique.cluster_id.nunique() == 1, clique


def test_incremental_hot_band_new_global_min_stays_connected(spark, tmp_path):
    """ADVICE r2 (high): a NEW arrival whose fid is below every
    previously-ingested member's in an over-cap (hot-band) clique must
    still connect to the existing component. The old hub choice — the
    minimum over the ACCUMULATED bands — made such an arrival the hub
    itself: it matched the ``fid != hub`` star filter nowhere (zero
    edges, silently dropped) and the rest of its batch linked only to it,
    splitting the clique from the prior component. Hubs now come from the
    pre-batch corpus."""
    import pandas as pd

    base = "\n".join(
        f"def fn_{i}(x): return x + {i * 7}" for i in range(120)
    )

    def rows(names):
        return [
            ("org/clique", f"src/{m}.py", f"c{m}", "py",
             base + f"\n# member {m}")
            for m in names
        ]

    def df(r):
        return spark.createDataFrame(
            pd.DataFrame(
                r, columns=["repo", "path", "commit", "lang", "content"]
            )
        )

    cfg = SketchConfig(band_skew_cap=8)
    store = CheckpointStore(str(tmp_path / "inc6"), cfg.config_hash)
    inc = IncrementalDedup(spark, store, cfg)
    # batch 0: 20 members named m10..m29 -> every clique band key is hot
    inc.ingest_batch(0, df(rows([f"m{i}" for i in range(10, 30)])))
    # batch 1: arrival a129's fid is below every existing member's, so
    # it is the new global minimum of every hot band
    inc.ingest_batch(1, df(rows([_NEW_MIN, "a1", "a2"])))
    clusters = inc.clusters().toPandas()
    clique = clusters[clusters.file_id.str.startswith("org/clique")]
    assert len(clique) == 23
    assert clique.cluster_id.nunique() == 1, clique.sort_values("file_id")


def test_incremental_compaction_bounds_view_fanin(spark, tmp_path):
    """VERDICT r2 #5: without compaction the rolling views union EVERY
    batch stage ever ingested (N scan legs + N listings per read). With
    ``compact_every=3`` the view must stay bounded at 1 compact + <
    compact_every tail stages after many ingests, clusters unchanged,
    and a compaction crash window (edges_compact marker lost) must be
    retried idempotently."""
    files = corpus_df(spark, 240).cache()
    single = run_pipeline(files, CFG, with_containment=False)
    want = _pairs(single.clusters)

    store = CheckpointStore(str(tmp_path / "inc7"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG, compact_every=3)
    batched = files.withColumn(
        "batch", F.abs(F.hash(F.concat_ws("/", "repo", "path"))) % 8
    ).cache()
    for b in range(8):
        inc.ingest_batch(b, batched.where(F.col("batch") == b).drop("batch"))

    sig_stages = inc.view_stages("sig")
    assert len(sig_stages) <= 3, sig_stages  # 1 compact + tail < 3
    assert any("compact" in s for s in sig_stages), sig_stages
    assert inc.signatures().count() == 240  # no dup/lost rows
    assert _pairs(inc.clusters()) == want

    # crash window: terminal compact marker lost -> retried, same view
    last_compact = [s for s in inc.view_stages("edges") if "compact" in s]
    if last_compact:
        store._manifest_path(
            last_compact[0].replace("sig_", "edges_")
        ).unlink(missing_ok=True)
        assert inc.compact() is True
        assert inc.signatures().count() == 240
        assert _pairs(inc.clusters()) == want


def test_compaction_excludes_batches_past_fold_point(spark, tmp_path):
    """ADVICE r3 (medium): a sig batch BEYOND the last fully-ingested
    batch (crash between ingest_batch's two writes) must not be folded
    into the compact — folding it double-counted the batch in every
    rolling view (the compact held its rows AND view_stages appended the
    batch itself as tail)."""
    files = corpus_df(spark, 240).cache()
    store = CheckpointStore(str(tmp_path / "inc8"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG)
    batched = files.withColumn(
        "batch", F.abs(F.hash(F.concat_ws("/", "repo", "path"))) % 3
    ).cache()
    for b in range(3):
        inc.ingest_batch(b, batched.where(F.col("batch") == b).drop("batch"))
    # crash window on the NEWEST batch: sig stored, edges marker lost
    store._manifest_path("edges_batch_00002").unlink()
    assert inc.compact() is True
    # fold point is batch 1; batch 2's sig stays in the rolling tail
    assert inc.view_stages("sig") == ["sig_compact_00001", "sig_batch_00002"]
    assert inc.signatures().count() == 240  # every row exactly once
    # idempotent re-ingest of the crashed batch restores full equality
    inc.ingest_batch(2, batched.where(F.col("batch") == 2).drop("batch"))
    assert inc.signatures().count() == 240
    single = run_pipeline(files, CFG, with_containment=False)
    assert _pairs(inc.clusters()) == _pairs(single.clusters)


def test_compaction_orphan_sig_retry_without_new_batches(spark, tmp_path):
    """ADVICE r3: a compaction killed between its two writes must be
    completable on retry even when NO new batches arrive afterwards (the
    old 'nothing to fold' guard ran first and returned False, leaving
    the sig compact permanently orphaned)."""
    files = corpus_df(spark, 160).cache()
    store = CheckpointStore(str(tmp_path / "inc9"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG)
    inc.ingest_batch(0, files.limit(80))
    inc.ingest_batch(1, files.subtract(files.limit(80)))
    want = _pairs(inc.clusters())
    assert inc.compact() is True
    # crash window: edges_compact marker lost; no further batches arrive
    store._manifest_path("edges_compact_00001").unlink()
    assert inc.compact() is True  # retry completes the orphan
    assert inc.view_stages("edges") == ["edges_compact_00001"]
    assert inc.signatures().count() == 160
    assert _pairs(inc.clusters()) == want


def test_compaction_folds_sparse_ids_and_backfill(spark, tmp_path):
    """Batch ids need no contiguity (date-shaped ids compact fine), and a
    batch BACKFILLED below an existing compact's fold_max stays visible
    in every rolling view — exactly once — until a later compact folds
    it (the pre-folded-set design either dropped it from views or
    blocked compaction entirely at the first id gap)."""
    files = corpus_df(spark, 200).cache()
    store = CheckpointStore(str(tmp_path / "incA"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG)
    batched = files.withColumn(
        "batch", F.abs(F.hash(F.concat_ws("/", "repo", "path"))) % 4
    ).cache()
    part = lambda b: batched.where(F.col("batch") == b).drop("batch")  # noqa: E731
    for b, bid in ((0, 0), (1, 1), (2, 5)):  # sparse: ids 2-4 never used
        inc.ingest_batch(bid, part(b))
    n3 = files.count() - part(3).count()
    assert inc.compact() is True  # sparse ids fold without contiguity
    assert inc.view_stages("sig") == ["sig_compact_00005"]
    assert inc.signatures().count() == n3
    m = store.manifest("edges_compact_00005")
    assert m["meta"] == {"fold_max": 5, "folded": [0, 1, 5]}
    # backfill BELOW the fold_max: visible in the tail, counted once
    inc.ingest_batch(3, part(3))
    assert inc.view_stages("sig") == ["sig_compact_00005", "sig_batch_00003"]
    assert inc.signatures().count() == files.count()
    # c unchanged (5): the compact name would collide with the immutable
    # existing stage, so the backfill waits in the tail
    assert inc.compact() is False
    # a later batch raises c; the next compact folds the backfill too
    inc.ingest_batch(6, spark.createDataFrame([], part(0).schema))
    assert inc.compact() is True
    assert inc.view_stages("sig") == ["sig_compact_00006"]
    assert inc.signatures().count() == files.count()
    m = store.manifest("edges_compact_00006")
    assert m["meta"]["folded"] == [0, 1, 3, 5, 6]
    single = run_pipeline(files, CFG, with_containment=False)
    assert _pairs(inc.clusters()) == _pairs(single.clusters)


def test_incremental_appends_only(spark, tmp_path):
    """O(batch) ingest: each batch adds exactly two immutable stages and
    never rewrites earlier ones (VERDICT r1 #7)."""
    files = corpus_df(spark, 300).cache()
    store = CheckpointStore(str(tmp_path / "inc4"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG)
    inc.ingest_batch(0, files.limit(100))
    stamps0 = {m["stage"]: m["ts"] for m in store.manifests()}
    assert set(stamps0) == {"sig_batch_00000", "edges_batch_00000"}
    inc.ingest_batch(1, files.subtract(files.limit(100)))
    stamps1 = {m["stage"]: m["ts"] for m in store.manifests()}
    assert set(stamps1) == set(stamps0) | {
        "sig_batch_00001", "edges_batch_00001"
    }
    for s, ts in stamps0.items():  # earlier stages untouched
        assert stamps1[s] == ts


def test_store_factory_backend_selection(spark, tmp_path):
    """make_store routes to Iceberg only when the runtime has the jar +
    a configured Iceberg catalog; this sandbox has neither, so detection
    must return [] and the factory must hand back the parquet shim with
    the full resume contract intact."""
    from sketchy_spark.checkpoint import (
        _stage_ident,
        iceberg_catalogs,
        make_store,
    )

    assert iceberg_catalogs(spark) == []  # no Iceberg jar in sandbox
    store = make_store(spark, str(tmp_path / "ckpt"), CFG.config_hash)
    assert isinstance(store, CheckpointStore)

    df = spark.range(5).select(F.col("id").cast("long"))
    assert not store.is_complete("s1")
    out, resumed = store.get_or_compute(spark, "s1", lambda: df)
    assert resumed is False and out.count() == 5
    out2, resumed2 = store.get_or_compute(
        spark, "s1", lambda: (_ for _ in ()).throw(AssertionError("recomputed"))
    )
    assert resumed2 is True and out2.count() == 5

    # pure identifier mapping (the part of the Iceberg path that can be
    # verified without the jar)
    assert _stage_ident("ice", "ns", "edges") == "ice.ns.ckpt_edges"
    assert _stage_ident("ice", "ns", "a-b.c") == "ice.ns.ckpt_a_b_c"


def test_edges_view_distinct_and_manifest_n_edges(spark, tmp_path):
    """ADVICE r4: a batch retried after a later batch landed can re-emit
    the same cross-batch pair in its own stage; the public edges() view
    deduplicates, while n_edges() (VERDICT r4 #7) sums the manifests'
    recorded row counts driver-side — an upper bound, no Spark action."""
    store = CheckpointStore(str(tmp_path / "ckpt"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG)
    pair = spark.createDataFrame([(1, 2)], "a_fid long, b_fid long")
    store.write_stage("edges_batch_00001", pair)
    store.write_stage("edges_batch_00002", pair)  # retry-style duplicate
    assert inc.edges().count() == 1  # public view: set semantics
    assert inc.n_edges() == 2  # manifest sum: raw upper bound


def test_clusters_skips_edge_count_action(spark, tmp_path):
    """VERDICT r4 #7 done-criterion: clusters() feeds the CC strategy
    choice from the stage manifests' row counts instead of running its
    own count() over the edge union — zero count() jobs on the clusters
    path (the driver union-find materializes via toPandas)."""
    from pyspark.sql.classic.dataframe import DataFrame

    files = corpus_df(spark, 200).cache()
    store = CheckpointStore(str(tmp_path / "ckpt"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG)
    rows = files.collect()
    half = len(rows) // 2
    schema = files.schema
    inc.ingest_batch(1, spark.createDataFrame(rows[:half], schema))
    inc.ingest_batch(2, spark.createDataFrame(rows[half:], schema))

    calls = {"n": 0}
    orig = DataFrame.count

    def counted(self):
        calls["n"] += 1
        return orig(self)

    import pytest

    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(DataFrame, "count", counted)
        got = _pairs(inc.clusters())
    finally:
        mp.undo()
    assert calls["n"] == 0, calls
    single = run_pipeline(files, CFG, with_containment=False)
    assert got == _pairs(single.clusters)
    single.unpersist()
    files.unpersist()


def _sorted_rows(dicts):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in d.values())
        for d in dicts
    )


def test_read_stage_pins_recorded_schema(spark, tmp_path):
    """write_stage records the Spark schema from the part footers (from
    the Arrow schema for a stage written from an Arrow table), so
    read_stage reads against it: same schema and rows as an inferring
    read, and no schema-inference job. read_table gives the same rows,
    for the Spark-written and the Arrow-written stages alike. A manifest
    without the key (an older store) still reads, by inference."""
    import json

    from sketchy_spark.operators.sketch import sketch_files

    files = corpus_df(spark, 120)
    store = CheckpointStore(str(tmp_path / "pin"), CFG.config_hash)
    sigs, _ = store.get_or_compute(
        spark, "sig_batch_00000", lambda: sketch_files(files, CFG)
    )
    store.write_stage(
        "edges_batch_00000",
        sigs.select(
            F.col("file_id").alias("a_id"), F.col("file_id").alias("b_id")
        ),
    )
    # the same pairs written from an Arrow table: one part file on the
    # driver, its schema from from_arrow_schema
    store.write_stage(
        "edges_batch_00001",
        store.read_table("edges_batch_00000", ["a_id", "b_id"]),
    )
    assert len(store.manifest("edges_batch_00001")["partitions"]) == 1
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for stage in (
        "sig_batch_00000", "edges_batch_00000", "edges_batch_00001"
    ):
        assert store.manifest(stage)["schema"]
        inferred = spark.read.parquet(store.stage_path(stage))

        group = f"pin-{stage}"
        sc.setJobGroup(group, "schema-pinned read")
        try:
            pinned = store.read_stage(spark, stage)
            jobs = list(tracker.getJobIdsForGroup(group))
            spark.read.parquet(store.stage_path(stage))
            inferring_jobs = list(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == [], jobs
        assert inferring_jobs, "an inferring read should run a job"
        assert pinned.schema == inferred.schema
        key = pinned.columns[0]
        assert sorted(pinned.select(key).collect()) == sorted(
            inferred.select(key).collect()
        )
        # the driver's Arrow read gives the rows Spark reads
        assert _sorted_rows(
            store.read_table(stage, pinned.columns).to_pylist()
        ) == _sorted_rows(r.asDict() for r in pinned.collect())

        path = store._manifest_path(stage)
        m = json.loads(path.read_text())
        del m["schema"]
        path.write_text(json.dumps(m))
        legacy = store.read_stage(spark, stage)
        assert legacy.schema == inferred.schema
        assert legacy.count() == store.manifest(stage)["rows"]


def test_sketch_pass_stage_matches_sketch_files(spark, tmp_path, monkeypatch):
    """A ``sig_batch`` stage written by the sketch tasks (``write_stage``
    of a ``sketch_pass``: one part file a task, no Spark write) holds the
    rows of ``with_fid(sketch_files(files, cfg, with_fp=False))``, in
    every column and the same column order, ``sig`` order included. It
    reads back the same through ``read_stage`` (the manifest's schema, no
    inference job) and ``read_table``, and its manifest lineage sums to
    its row count. A leftover ``.tmp`` directory and a killed attempt's
    temp part are neither committed nor read, and an empty batch still
    stores its schema."""
    from pathlib import Path

    from sketchy_spark import checkpoint
    from sketchy_spark.operators.lsh import with_fid
    from sketchy_spark.operators.sketch import sketch_files, sketch_pass

    files = corpus_df(spark, 150, partitions=3).cache()
    want = with_fid(sketch_files(files, CFG, with_fp=False))
    expected = want.toArrow()  # populates the files cache
    store = CheckpointStore(str(tmp_path / "pass"), CFG.config_hash)
    stage = "sig_batch_00000"
    stale = Path(store.stage_path(stage) + ".tmp")
    stale.mkdir(parents=True)
    (stale / "part-00007-sketch.parquet").write_bytes(b"killed write")
    write_parts = checkpoint._write_sketch_parts

    def killed_attempt_first(sp, tmp):
        (Path(tmp) / ".part-00000-sketch.parquet.0").write_bytes(b"killed")
        write_parts(sp, tmp)

    sc = spark.sparkContext
    with monkeypatch.context() as mp:
        mp.setattr(checkpoint, "_write_sketch_parts", killed_attempt_first)
        sc.setJobGroup("sketch-pass", "sketch pass write")
        try:
            store.write_stage(stage, sketch_pass(files, CFG, with_fp=False))
            jobs = list(sc.statusTracker().getJobIdsForGroup("sketch-pass"))
            read = store.read_stage(spark, stage)
            read_jobs = list(
                sc.statusTracker().getJobIdsForGroup("sketch-pass")
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1 and read_jobs == jobs, (jobs, read_jobs)
    m = store.manifest(stage)
    assert [p["file"] for p in m["partitions"]] == [
        f"part-{i:05d}-sketch.parquet" for i in range(3)
    ]
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"] == 150
    assert sorted(f.name for f in Path(store.stage_path(stage)).iterdir()) == [
        p["file"] for p in m["partitions"]
    ]

    def rows(tbl):
        return tbl.sort_by("file_id").to_pylist()

    assert read.columns == want.columns
    assert rows(read.toArrow()) == rows(expected)
    assert rows(store.read_table(stage, want.columns)) == rows(expected)

    # empty partitions, each task writing an empty part, and a plan with
    # no partition at all, whose empty part the driver writes
    for b, empty in enumerate(
        (spark.createDataFrame([], files.schema), files.where("false")),
        start=1,
    ):
        name = f"sig_batch_{b:05d}"
        store.write_stage(name, sketch_pass(empty, CFG))
        assert store.manifest(name)["rows"] == 0
        assert store.manifest(name)["partitions"]
        got = store.read_stage(spark, name)
        assert got.columns == [*sketch_files(empty, CFG).columns, "fid"]
        assert got.count() == 0
    files.unpersist()


def _clique(names):
    """Near-duplicate files sharing one 120-line body, each with its own
    last line: above cap 8 their common band keys are hot."""
    import pandas as pd

    base = "\n".join(
        f"def fn_{i}(x): return x + {i * 7}" for i in range(120)
    )
    return pd.DataFrame(
        [
            ("org/clique", f"src/{m}.py", f"c{m}", "py",
             base + f"\n# member {m}")
            for m in names
        ],
        columns=["repo", "path", "commit", "lang", "content"],
    )


def _band_truth(new_bands, prev_bands, cap):
    """Pandas truth for the incremental candidate set, from collected
    (fid, band_key) band tables: all pairs over cold keys that touch a
    new file, plus new member -> hub edges on hot keys (hub = the
    prior-corpus minimum fid, else the batch minimum)."""
    import pandas as pd

    every = pd.concat([prev_bands, new_bands])
    counts = every.groupby("band_key").size()
    hot = set(counts[counts > cap].index)
    want = set()
    cold_new = new_bands[~new_bands.band_key.isin(hot)]
    cold_all = every[~every.band_key.isin(hot)]
    members = cold_all.groupby("band_key").fid.apply(set)
    for n_id, key in zip(cold_new.fid, cold_new.band_key):
        for m_id in members[key]:
            if m_id != n_id:
                want.add((min(n_id, m_id), max(n_id, m_id)))
    prev_min = prev_bands.groupby("band_key").fid.min()
    new_min = new_bands.groupby("band_key").fid.min()
    hot_new = new_bands[new_bands.band_key.isin(hot)]
    for f_id, key in zip(hot_new.fid, hot_new.band_key):
        hub = prev_min.get(key, new_min[key])
        if f_id != hub:
            want.add((min(f_id, hub), max(f_id, hub)))
    return want, hot


def _stage_table(sigs):
    """The columns the resident edges stage reads from a stored sig
    stage, from a fid-keyed sketch frame."""
    from sketchy_spark.pipeline import RESIDENT_COLS

    return sigs.select(*RESIDENT_COLS).toArrow()


def test_new_vs_all_candidates_match_band_truth(spark):
    """The incremental candidate set, from the Spark band join
    (``candidate_pairs_fid`` with the new-rows mask, eager and lazy) and
    from the driver's (``driver_band_pairs`` over the stored sig_perm
    matrix), equals a pandas truth built from the collected band tables,
    with hot keys present (cap 8, a new arrival whose fid is the minimum
    of every hot band) and with an empty hot set (default cap), whose
    eager Spark plan has no hub branch. The driver's (band, slot tuple)
    groups are the band-key groups of ``band_keys_expr``."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from sketchy_spark.corpus import corpus_pandas
    from sketchy_spark.operators.lsh import (
        _band_groups,
        band_keys_expr,
        band_table,
        candidate_pairs_fid,
        driver_band_pairs,
        with_fid,
    )
    from sketchy_spark.operators.sketch import sketch_files
    from sketchy_spark.operators.verify import DriverBudget, _sig_perm_matrix
    from sketchy_spark.plans.explain import physical_plan

    corpus = corpus_pandas(160)[["repo", "path", "commit", "lang", "content"]]
    prev_pdf = pd.concat(
        [corpus.iloc[::2], _clique([f"m{i}" for i in range(10, 30)])]
    )
    new_pdf = pd.concat(
        [corpus.iloc[1::2], _clique([_NEW_MIN, "a1", "a2"])]
    )

    for cap, expect_hot in ((8, True), (CFG.band_skew_cap, False)):
        cfg = SketchConfig(band_skew_cap=cap)
        prev, new = (
            with_fid(sketch_files(spark.createDataFrame(pdf), cfg)).cache()
            for pdf in (prev_pdf, new_pdf)
        )
        want, hot = _band_truth(
            band_table(new, cfg, id_col="fid").toPandas(),
            band_table(prev, cfg, id_col="fid").toPandas(),
            cap,
        )
        assert bool(hot) == expect_hot
        sigs = prev.withColumn("is_new", F.lit(False)).unionByName(
            new.withColumn("is_new", F.lit(True))
        )
        internal = []
        cand = candidate_pairs_fid(
            sigs, cfg, persisted=internal, new=F.col("is_new")
        )
        got = {(r.a_fid, r.b_fid) for r in cand.collect()}
        assert got == want
        lazy = candidate_pairs_fid(sigs, cfg, new=F.col("is_new"))
        assert {(r.a_fid, r.b_fid) for r in lazy.collect()} == want

        prev_tbl = _stage_table(prev)
        tbl = pa.concat_tables([prev_tbl, _stage_table(new)])
        fids, rank = np.unique(tbl["fid"].to_numpy(), return_inverse=True)
        mat = _sig_perm_matrix(tbl, cfg)
        a, b = driver_band_pairs(
            mat, rank, cfg, DriverBudget(),
            np.arange(tbl.num_rows) >= prev_tbl.num_rows,
        )
        assert set(zip(fids[a], fids[b])) == got
        # one (band, slot tuple) group per band key, and back
        keys = np.concatenate([
            np.asarray(
                sigs.select(band_keys_expr(cfg).alias("k")).toArrow()["k"]
                .combine_chunks().flatten()
            )
            for sigs in (prev, new)
        ])
        groups = _band_groups(mat, cfg)
        assert len(set(zip(groups, keys))) == len(set(keys)) == groups.max() + 1

        assert ("hub#" in physical_plan(cand)) == expect_hot
        if expect_hot:
            fid = dict(sigs.select("file_id", "fid").collect())
            hub = min(fid[f"org/clique/src/m{i}.py"] for i in range(10, 30))
            new_min = fid[f"org/clique/src/{_NEW_MIN}.py"]
            assert new_min < hub and (new_min, hub) in got
        for df in internal:
            df.unpersist()
        prev.unpersist()
        new.unpersist()


def test_resident_ingest_matches_scan_side(spark, tmp_path, monkeypatch):
    """The resident batch (one Arrow collect, driver band join, anchors
    and cascade) writes the same edges stage rows as the hand-over Spark
    path (``RESIDENT_BYTES`` = 0) for every batch, and the same clusters.
    The planted corpus arrives in 3 interleaved batches with
    ``compact_every=2``, beside an over-cap clique (cap 8) whose later
    arrivals include a new global minimum of its hot bands (by fid), so
    hot-band hubs with prior members decide star edges that verify. The
    resident edges stage is an Arrow table written on the driver."""
    import pandas as pd
    import pyarrow as pa

    from sketchy_spark.corpus import corpus_pandas
    from sketchy_spark.operators import verify as V
    from sketchy_spark.plans.explain import physical_plan

    corpus = corpus_pandas(N)[["repo", "path", "commit", "lang", "content"]]
    clique = _clique(
        [f"m{i}" for i in range(10, 30)] + ["a1", "a0", _NEW_MIN]
    )
    batches = [
        pd.concat([corpus.iloc[0::3], clique.iloc[:20]]),
        pd.concat([corpus.iloc[1::3], clique.iloc[20:21]]),
        pd.concat([corpus.iloc[2::3], clique.iloc[21:]]),
    ]
    cfg = SketchConfig(band_skew_cap=8)

    def ingest(name):
        store = CheckpointStore(str(tmp_path / name), cfg.config_hash)
        plans = {}
        orig = CheckpointStore.write_stage

        def write_stage(self, stage, df, meta=None):
            if stage.startswith("edges_batch_"):
                plans[stage] = (
                    df if isinstance(df, pa.Table) else physical_plan(df)
                )
            return orig(self, stage, df, meta)

        with monkeypatch.context() as mp:
            mp.setattr(CheckpointStore, "write_stage", write_stage)
            inc = IncrementalDedup(spark, store, cfg, compact_every=2)
            for b, pdf in enumerate(batches):
                inc.ingest_batch(b, spark.createDataFrame(pdf))
        edges = {
            s: sorted(tuple(r) for r in store.read_stage(spark, s).collect())
            for s in plans
        }
        return edges, _pairs(inc.clusters()), plans

    resident, res_pairs, res_plans = ingest("resident")
    with monkeypatch.context() as mp:
        mp.setattr(V, "RESIDENT_BYTES", 0)
        handed, hand_pairs, hand_plans = ingest("handover")
    assert sorted(resident) == [f"edges_batch_{b:05d}" for b in range(3)]
    assert resident == handed
    assert res_pairs == hand_pairs
    assert ("org/clique/src/a0.py", "org/clique/src/m10.py") in res_pairs
    assert all(isinstance(p, pa.Table) for p in res_plans.values())
    assert all("MapInPandas" in p for p in hand_plans.values())


def test_resident_ingest_runs_one_job_per_batch(spark, tmp_path):
    """While the store fits the resident budget, a batch's one Spark job
    is its sketch pass: the stage reads, the borderline sigs, the edges
    stage, compaction and the clusters move with Arrow on the driver.
    Jobs are counted by job group over a 3-batch ingest with
    ``compact_every=2`` (batch 1 compacts), a compact() that folds batch
    2, and clusters(), which equal the single-shot run's."""
    from sketchy_spark.corpus import corpus_pandas

    corpus = corpus_pandas(N)[["repo", "path", "commit", "lang", "content"]]
    batches = [spark.createDataFrame(corpus.iloc[b::3]) for b in range(3)]
    store = CheckpointStore(str(tmp_path / "jobs"), CFG.config_hash)
    inc = IncrementalDedup(spark, store, CFG, compact_every=2)
    sc = spark.sparkContext
    out = {}

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out[group] = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    for b, files in enumerate(batches):
        run(f"jobs-batch-{b}", lambda: inc.ingest_batch(b, files))
    run("jobs-compact", inc.compact)
    run("jobs-clusters", inc.clusters)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # every job is counted
    jobs = {
        g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in out
    }
    assert jobs == {
        "jobs-batch-0": 1, "jobs-batch-1": 1, "jobs-batch-2": 1,
        "jobs-compact": 0, "jobs-clusters": 0,
    }
    assert out["jobs-compact"] is True
    assert inc.view_stages("sig") == ["sig_compact_00002"]
    single = run_pipeline(corpus_df(spark, N), CFG, with_containment=False)
    assert _pairs(out["jobs-clusters"]) == _pairs(single.clusters)
    single.unpersist()


def test_checkpointed_containment_matches_plain(
    spark, tmp_path, monkeypatch
):
    """The checkpointed pipeline's containment stage holds the same rows
    as the plain pipeline's containment output on the planted corpus, as
    do standalone ``containment_pairs``, the Spark flow
    (``RESIDENT_BYTES`` = 0) and a stored run whose edges stage is
    resumed and whose containment stage is computed. The plain run's
    containment pass shares the resident edges stage's collects; the
    others run it alone, through ``containment_pairs``."""
    from sketchy_spark import pipeline as P
    from sketchy_spark.operators import verify as V

    containment_pairs = P.containment_pairs
    alone = []  # the runs' calls of containment_pairs
    monkeypatch.setattr(
        P, "containment_pairs",
        lambda *a, **k: alone.append(1) or containment_pairs(*a, **k),
    )
    files = corpus_df(spark, N).cache()

    def rows(df):
        return sorted(
            (r.small_id, r.big_id, r.containment, r.overlap_chars)
            for r in df.collect()
        )

    plain = run_pipeline(files, CFG, with_containment=True)
    want = rows(plain.containment)
    assert alone == [] and plain.containment.isLocal()
    assert rows(containment_pairs(plain.signatures, files, CFG)) == want
    plain.unpersist()
    with monkeypatch.context() as mp:
        mp.setattr(V, "RESIDENT_BYTES", 0)
        scan = run_pipeline(files, CFG, with_containment=True)
        assert rows(scan.containment) == want and alone == [1]
        assert not scan.containment.isLocal()
        scan.unpersist()
    store = CheckpointStore(str(tmp_path / "cont"), CFG.config_hash)
    got = rows(run_pipeline(files, CFG, store=store).containment)
    assert got == want and len(want) > 0
    store.invalidate_from(STAGES, "containment")
    res = run_pipeline(files, CFG, store=store)
    assert res.resumed == {
        "signatures": True, "edges": True, "clusters": True,
        "containment": False,
    }
    assert rows(res.containment) == want and alone == [1, 1]
    assert res.budget is None  # the edges stage was resumed
    res.unpersist()


# The charges of a resident plain run with containment on, in order.
_PLAIN_CHARGES = [
    "rows", "fingerprints", "containment_codes", "containment",
    "band_codes", "borderline_sigs", "borderline_contents", "whole_input",
    "pairs",
]


def test_driver_budget_bounds_every_resident_pass(
    spark, tmp_path, monkeypatch
):
    """Every resident decision charges one ``DriverBudget`` ledger: a
    plain run with containment on, each batch of a 3-batch
    ``IncrementalDedup`` ingest, and its ``clusters()``. In each ledger
    the held bytes never exceed the capacity, the charges come in the
    passes' order, and a finished decision holds only what it keeps. A
    run squeezed 1 B below one named charge records it as its first
    failed charge, hands over, and gives identical rows: the plain run
    below its fingerprints (its containment pass goes to
    ``containment_pairs``) and the last batch below its borderline sigs
    (its edges stage goes to the Spark form)."""
    from sketchy_spark import pipeline as P
    from sketchy_spark.corpus import corpus_pandas
    from sketchy_spark.operators import verify as V
    from sketchy_spark.streaming import incremental as I

    ledgers = []

    class Recorded(V.DriverBudget):
        def __init__(self):
            super().__init__()
            ledgers.append(self)

    monkeypatch.setattr(V, "DriverBudget", Recorded)
    calls = []
    for mod, name in ((P, "containment_pairs"), (I, "_spark_edges")):
        monkeypatch.setattr(
            mod, name,
            lambda *a, f=getattr(mod, name), n=name, **k:
            calls.append(n) or f(*a, **k),
        )

    def names(budget, order):
        """``budget``'s charge names, its releases aside, after checking
        that its held bytes stay within its capacity and that the names
        follow ``order``."""
        held = 0
        for c in budget.charges:
            held += c.nbytes if c.ok else 0
            assert 0 <= held <= budget.capacity
        assert budget.left == budget.capacity - held
        got = [c.name for c in budget.charges if c.name != "release"]
        assert got == [n for n in order if n in got]
        return got

    def held_at_end(budget, kept):
        """The bytes ``budget`` holds when its decision is done: the
        charges named ``kept``; every other charge was given back."""
        return budget.capacity - budget.left == sum(
            c.nbytes for c in budget.charges if c.ok and c.name in kept
        )

    def squeeze(charge, strict=False):
        """The capacity that leaves ``charge`` 1 B short."""
        return V.RESIDENT_BYTES - (charge.left - charge.nbytes) - (not strict)

    def failed(budget):
        return [c.name for c in budget.charges if not c.ok]

    def asked(budget, name):
        """The one charge ``name`` in ``budget``'s record."""
        got, = [c for c in budget.charges if c.name == name]
        return got

    files = corpus_df(spark, 300).cache()

    def plain():
        res = run_pipeline(files, CFG)
        got = {
            k: sorted(tuple(r) for r in getattr(res, k).collect())
            for k in ("clusters", "candidates", "verified", "edges",
                      "containment")
        }
        res.unpersist()
        return res.budget, got

    budget, want = plain()
    assert ledgers == [budget] and calls == []
    assert names(budget, _PLAIN_CHARGES) == _PLAIN_CHARGES
    kept = ["rows", "fingerprints", "containment", "pairs"]
    assert held_at_end(budget, kept)
    fp = asked(budget, "fingerprints")
    with monkeypatch.context() as mp:
        mp.setattr(V, "RESIDENT_BYTES", squeeze(fp, strict=True))
        budget, got = plain()
    assert failed(budget)[0] == "fingerprints"
    assert calls == ["containment_pairs"] and got == want
    for b in ledgers:
        names(b, _PLAIN_CHARGES)
    files.unpersist()

    corpus = corpus_pandas(300)[["repo", "path", "commit", "lang", "content"]]
    batch_order = ["rows", "band_codes", "borderline_sigs"]

    def ingest(name, last=None):
        """Each batch's edges stage rows, the clusters' pairs and the
        ledgers; the last batch runs at capacity ``last`` if given."""
        store = CheckpointStore(str(tmp_path / name), CFG.config_hash)
        inc = IncrementalDedup(spark, store, CFG)
        del ledgers[:], calls[:]
        for b in range(3):
            with monkeypatch.context() as mp:
                if b == 2 and last is not None:
                    mp.setattr(V, "RESIDENT_BYTES", last)
                inc.ingest_batch(b, spark.createDataFrame(corpus.iloc[b::3]))
        pairs = _pairs(inc.clusters())
        edges = [
            sorted(zip(*store.read_table(
                f"edges_batch_{b:05d}", ["a_fid", "b_fid"]
            ).to_pydict().values()))
            for b in range(3)
        ]
        return edges, pairs, list(ledgers)

    edges, pairs, got = ingest("resident")
    assert len(got) == 4 and calls == []
    for b in got[:3]:
        assert names(b, batch_order)[:2] == ["rows", "band_codes"]
        assert held_at_end(b, ["rows"])
    assert names(got[3], ["labels"]) == ["labels"]
    last = squeeze(asked(got[2], "borderline_sigs"))
    squeezed_edges, squeezed_pairs, got = ingest("squeezed", last)
    assert failed(got[2]) == ["borderline_sigs"] and failed(got[3]) == []
    assert calls == ["_spark_edges"]
    assert squeezed_edges == edges and squeezed_pairs == pairs
