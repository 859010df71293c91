"""Checkpoint/resume (G6) and incremental-mode (R38 analogue) tests."""

import pyspark.sql.functions as F
import pytest

from sketchy_spark.checkpoint import STAGES, CheckpointStore, run_pipeline_checkpointed
from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import corpus_df, truth_dup_pairs, truth_pandas
from sketchy_spark.pipeline import run_pipeline
from sketchy_spark.streaming.incremental import IncrementalDedup

CFG = SketchConfig()
N = 600


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

    first = run_pipeline_checkpointed(files, CFG, store)
    assert first["resumed"] == {s: False for s in STAGES}
    pairs1 = _pairs(first["clusters"])

    # simulate a crash after 'edges': drop later stages, rerun
    store.invalidate_from(STAGES, "clusters")
    second = run_pipeline_checkpointed(files, CFG, store)
    assert second["resumed"]["signatures"] is True
    assert second["resumed"]["edges"] is True
    assert second["resumed"]["clusters"] is False
    assert _pairs(second["clusters"]) == pairs1

    # full resume: everything skipped, identical output
    third = run_pipeline_checkpointed(files, CFG, store)
    assert third["resumed"] == {s: True for s in STAGES}
    assert _pairs(third["clusters"]) == pairs1

    # one verifier: the checkpointed clusters equal the plain pipeline's
    plain = run_pipeline(files, CFG, with_containment=False)
    assert _pairs(plain.clusters) == pairs1
    plain.unpersist()


def test_manifest_lineage(spark, tmp_path):
    files = corpus_df(spark, 200)
    store = CheckpointStore(str(tmp_path / "c2"), CFG.config_hash)
    run_pipeline_checkpointed(files, CFG, store)
    m = store.manifest("signatures")
    assert m["status"] == "complete"
    assert m["rows"] == 200
    # per-partition lineage present and consistent (G7)
    assert sum(p["rows"] for p in m["partitions"]) == 200
    assert m["config_hash"] == CFG.config_hash


def test_config_change_invalidates(spark, tmp_path):
    files = corpus_df(spark, 200)
    store = CheckpointStore(str(tmp_path / "c3"), CFG.config_hash)
    run_pipeline_checkpointed(files, CFG, store)
    other = SketchConfig(seed=42)
    store2 = CheckpointStore(str(tmp_path / "c3"), other.config_hash)
    assert not store2.is_complete("signatures")


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
    join, so without the hub-star fallback a new member of an over-cap
    clique would be silently dropped (mirror of the batch path's salted
    stars, operators/lsh.py)."""
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
    """ADVICE r2 (high): a NEW arrival that sorts lexicographically before
    every previously-ingested member of an over-cap (hot-band) clique must
    still connect to the existing component. The old hub choice —
    min(file_id) over the ACCUMULATED bands — made such an arrival the hub
    itself: it matched the ``file_id != hub`` star filter nowhere (zero
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
    # batch 1: arrivals a0..a2 sort BEFORE every existing member; a0 is
    # the new global minimum of every hot band
    inc.ingest_batch(1, df(rows(["a0", "a1", "a2"])))
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
    pair = spark.createDataFrame([("a", "b")], "a_id string, b_id string")
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


def test_read_stage_pins_recorded_schema(spark, tmp_path):
    """write_stage records the Spark schema from the part footers, so
    read_stage reads against it: same schema and rows as an inferring
    read, and no schema-inference job. A manifest without the key (an
    older store) still reads, by inference."""
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
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for stage in ("sig_batch_00000", "edges_batch_00000"):
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

        path = store._manifest_path(stage)
        m = json.loads(path.read_text())
        del m["schema"]
        path.write_text(json.dumps(m))
        legacy = store.read_stage(spark, stage)
        assert legacy.schema == inferred.schema
        assert legacy.count() == store.manifest(stage)["rows"]


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
    (file_id, band_key) band tables: all pairs over cold keys that touch
    a new file, plus new member -> hub edges on hot keys (hub = the
    prior-corpus minimum, else the batch minimum)."""
    import pandas as pd

    every = pd.concat([prev_bands, new_bands])
    counts = every.groupby("band_key").size()
    hot = set(counts[counts > cap].index)
    want = set()
    cold_new = new_bands[~new_bands.band_key.isin(hot)]
    cold_all = every[~every.band_key.isin(hot)]
    members = cold_all.groupby("band_key").file_id.apply(set)
    for n_id, key in zip(cold_new.file_id, cold_new.band_key):
        for m_id in members[key]:
            if m_id != n_id:
                want.add((min(n_id, m_id), max(n_id, m_id)))
    prev_min = prev_bands.groupby("band_key").file_id.min()
    new_min = new_bands.groupby("band_key").file_id.min()
    hot_new = new_bands[new_bands.band_key.isin(hot)]
    for f_id, key in zip(hot_new.file_id, hot_new.band_key):
        hub = prev_min.get(key, new_min[key])
        if f_id != hub:
            want.add((min(f_id, hub), max(f_id, hub)))
    return want, hot


def test_new_vs_all_candidates_match_band_truth(spark):
    """The incremental candidate set, from the Spark band join and from
    the driver's, equals a pandas truth built from the collected band
    tables, with hot keys present (cap 8, a new arrival that is the
    global minimum of every hot band) and with an empty hot set (default
    cap), whose Spark plan joins no hot-key frame."""
    import pandas as pd

    from sketchy_spark.corpus import corpus_pandas
    from sketchy_spark.operators.lsh import band_table
    from sketchy_spark.operators.sketch import sketch_files
    from sketchy_spark.operators.verify import RESIDENT_BYTES
    from sketchy_spark.plans.explain import physical_plan
    from sketchy_spark.streaming.incremental import (
        _driver_candidates,
        _new_vs_all_candidates,
        _resident_collect,
    )

    corpus = corpus_pandas(160)[["repo", "path", "commit", "lang", "content"]]
    prev_pdf = pd.concat(
        [corpus.iloc[::2], _clique([f"m{i}" for i in range(10, 30)])]
    )
    new_pdf = pd.concat([corpus.iloc[1::2], _clique(["a0", "a1", "a2"])])

    for cap, expect_hot in ((8, True), (CFG.band_skew_cap, False)):
        cfg = SketchConfig(band_skew_cap=cap)
        prev = sketch_files(spark.createDataFrame(prev_pdf), cfg).cache()
        new = sketch_files(spark.createDataFrame(new_pdf), cfg).cache()
        want, hot = _band_truth(
            band_table(new, cfg).toPandas(),
            band_table(prev, cfg).toPandas(),
            cap,
        )
        assert bool(hot) == expect_hot
        cand = _new_vs_all_candidates(new, prev, cfg)
        got = {(r["a_id"], r["b_id"]) for r in cand.collect()}
        assert got == want
        collected = _resident_collect(new, prev, cfg)
        a, b, _ = _driver_candidates(collected, cfg, RESIDENT_BYTES)
        ids = collected.ids
        assert set(zip(ids[a], ids[b])) == want
        plan = physical_plan(cand)
        hot_joins = "LeftAnti" in plan or "LeftSemi" in plan
        assert hot_joins == expect_hot, plan
        if expect_hot:
            assert ("org/clique/src/a0.py", "org/clique/src/m10.py") in got
        prev.unpersist()
        new.unpersist()


def test_resident_ingest_matches_scan_side(spark, tmp_path, monkeypatch):
    """The resident batch (one Arrow collect, driver band join, anchors
    and cascade) writes the same edges stage rows as the hand-over Spark
    path (``RESIDENT_BYTES`` = 0) for every batch, and the same clusters.
    The planted corpus arrives in 3 interleaved batches with
    ``compact_every=2``, beside an over-cap clique (cap 8) whose later
    arrivals include a new global minimum of its hot bands, so hot-band
    hubs with prior members decide star edges that verify. The resident
    edges frame runs no Python stage."""
    import pandas as pd

    from sketchy_spark.corpus import corpus_pandas
    from sketchy_spark.operators import verify as V
    from sketchy_spark.plans.explain import physical_plan

    corpus = corpus_pandas(N)[["repo", "path", "commit", "lang", "content"]]
    clique = _clique([f"m{i}" for i in range(10, 30)] + ["a1", "a0"])
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
                plans[stage] = physical_plan(df)
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
    assert not any("MapInPandas" in p for p in res_plans.values())
    assert all("MapInPandas" in p for p in hand_plans.values())


def test_checkpointed_containment_matches_plain(spark, tmp_path):
    """The checkpointed pipeline's containment stage holds the same rows
    as the plain pipeline's containment output on the planted corpus."""
    files = corpus_df(spark, N).cache()

    def rows(df):
        return sorted(
            (r.small_id, r.big_id, r.containment, r.overlap_chars)
            for r in df.collect()
        )

    plain = run_pipeline(files, CFG, with_containment=True)
    want = rows(plain.containment)
    plain.unpersist()
    store = CheckpointStore(str(tmp_path / "cont"), CFG.config_hash)
    got = rows(run_pipeline_checkpointed(files, CFG, store)["containment"])
    assert got == want and len(want) > 0
