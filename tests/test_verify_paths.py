"""Arrow and SQL verification paths must agree exactly."""

import pyspark.sql.functions as F
import pytest

from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import corpus_pandas
from sketchy_spark.operators.lsh import attach_file_ids, candidate_pairs_fid
from sketchy_spark.operators.sketch import sketch_files
from sketchy_spark.operators.verify import _with_sides, verified_pairs

CFG = SketchConfig()


def verified_pairs_sql(pairs, signatures, cfg, broadcast_pairs=None):
    """The array-SQL oracle of ``verified_pairs``: estimate Jaccard per
    candidate pair; keep pairs >= tau.

    Bottom-s estimator (unbiased for sets larger than s): with
    U = bottom_s(A ∪ B), j ≈ |U ∩ A ∩ B| / |U|. The shifted-int64 storage
    (SURVEY §4.2) makes ``array_sort``'s signed order equal unsigned hash
    order, so slice-after-sort is exactly bottom-s of the union. For docs
    with < s shingles the sketches are the full sets and the estimate is
    exact. SimHash hamming distance is reported (filtering on it is the
    caller's choice — G2 is a secondary signal, not a recall gate).
    """
    df = _with_sides(pairs, signatures, ["sig", "simhash"], broadcast_pairs)
    # materialize union_s as a column so the sort/union evaluates once per
    # row instead of once per referencing expression
    staged = df.select(
        "a_id",
        "b_id",
        "a_sig",
        "b_sig",
        F.slice(F.array_sort(F.array_union("a_sig", "b_sig")), 1, cfg.s).alias(
            "union_s"
        ),
        F.bit_count(
            F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))
        ).alias("hamming"),
    )
    inter3 = F.array_intersect(
        F.array_intersect("union_s", "a_sig"), F.col("b_sig")
    )
    return (
        staged.select(
            "a_id",
            "b_id",
            "hamming",
            F.when(
                F.size("union_s") > 0,
                F.size(inter3) / F.size("union_s"),
            ).otherwise(F.lit(0.0)).alias("jaccard"),
        )
        .where(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("a_id", "b_id", "jaccard", "hamming")
    )


def test_arrow_and_sql_verify_agree(spark):
    sigs = sketch_files(
        spark.createDataFrame(corpus_pandas(400)), CFG
    ).cache()
    cand = attach_file_ids(candidate_pairs_fid(sigs, CFG), sigs).cache()
    arrow = {
        (r["a_id"], r["b_id"]): (round(r["jaccard"], 9), r["hamming"])
        for r in verified_pairs(cand, sigs, CFG).collect()
    }
    sql = {
        (r["a_id"], r["b_id"]): (round(r["jaccard"], 9), r["hamming"])
        for r in verified_pairs_sql(cand, sigs, CFG).collect()
    }
    assert arrow == sql
    assert len(arrow) > 0


def test_overcap_neardup_group_hub_star_recall(spark):
    """A near-dup clique LARGER than band_skew_cap must still land in one
    cluster: over-cap band keys emit hub-star edges (member -> the band's
    minimum fid) instead of being dropped, so recall cannot silently fall
    when a true duplicate group exceeds the cap (VERDICT r1 #3)."""
    import pandas as pd

    from sketchy_spark.operators.cluster import assign_clusters
    from sketchy_spark.operators.lsh import candidate_pairs_fid
    from sketchy_spark.operators.verify import verified_pairs_cascade

    base = "\n".join(
        f"def fn_{i}(x): return x + {i * 7}" for i in range(120)
    )
    rows = []
    for m in range(40):  # clique of 40 >> cap of 8
        # tiny unique suffix: near-dup (not sha-identical), so the exact
        # sha256 path cannot shortcut connectivity
        rows.append(
            ("org/clique", f"src/f{m}.py", f"c{m}", "py",
             base + f"\n# member {m}")
        )
    for m in range(30):  # unrelated singletons
        body = "\n".join(
            f"val v_{m}_{i} = compute_{m}({i * m + 3})" for i in range(80)
        )
        rows.append(("org/other", f"src/s{m}.rs", f"d{m}", "rs", body))
    files = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["repo", "path", "commit", "lang", "content"]
        )
    )
    cfg = SketchConfig(band_skew_cap=8)
    sigs = sketch_files(files, cfg).cache()
    cand = candidate_pairs_fid(sigs, cfg)
    verified = verified_pairs_cascade(cand, sigs, cfg)
    clusters = assign_clusters(
        sigs, verified.select("a_id", "b_id")
    ).toPandas()
    clique = clusters[clusters.file_id.str.startswith("org/clique")]
    assert clique.cluster_id.nunique() == 1, clique
    assert len(clique) == 40
    others = clusters[clusters.file_id.str.startswith("org/other")]
    assert others.cluster_id.nunique() == 30  # no false merges


def test_overcap_fallback_broadcast_hot_classification(spark, monkeypatch):
    """Degenerate hot-set fallback (VERDICT r2 #4): when the number of
    over-cap band keys exceeds HOT_LITERAL_MAX, the eager path must
    switch from literal create_map/isin inlining (plan-size bomb at
    ~10^5+ hot keys) to a broadcast-join hot classification — with the
    hub-star recall guarantee intact. Forced here by dropping the
    bound to 0 so every hot key takes the fallback path."""
    import pandas as pd

    from sketchy_spark.operators import lsh
    from sketchy_spark.operators.cluster import assign_clusters
    from sketchy_spark.operators.lsh import candidate_pairs_fid
    from sketchy_spark.operators.verify import verified_pairs_cascade
    from sketchy_spark.plans.explain import physical_plan

    monkeypatch.setattr(lsh, "HOT_LITERAL_MAX", 0)
    base = "\n".join(
        f"def fn_{i}(x): return x + {i * 7}" for i in range(120)
    )
    rows = [
        ("org/clique", f"src/f{m}.py", f"c{m}", "py",
         base + f"\n# member {m}")
        for m in range(40)
    ]
    files = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["repo", "path", "commit", "lang", "content"]
        )
    )
    cfg = SketchConfig(band_skew_cap=8)
    sigs = sketch_files(files, cfg).cache()
    internal = []
    cand = candidate_pairs_fid(sigs, cfg, persisted=internal)
    plan = physical_plan(cand)
    # sane plan: hot classification joins a broadcast table instead of
    # inlining a literal map (no create_map / giant isin in the plan)
    assert "create_map" not in plan and "BroadcastExchange" in plan, plan
    verified = verified_pairs_cascade(cand, sigs, cfg, persisted=internal)
    clusters = assign_clusters(
        sigs, verified.select("a_id", "b_id")
    ).toPandas()
    assert clusters.cluster_id.nunique() == 1
    assert len(clusters) == 40
    for df in internal:
        df.unpersist()


def test_partial_overlap_containment(spark):
    """G3 contract: a shared verbatim run >= L chars is detected even when
    NEITHER file embeds the other (VERDICT r1 #6). Fixture: two files
    sharing a ~50% middle block with different heads/tails."""
    import pandas as pd

    from sketchy_spark.operators.verify import (
        containment_candidates,
        containment_verified,
    )

    block = "\n".join(
        f"shared_line_{i} = compute({i}) + offset_{i * 13}" for i in range(60)
    )  # ~2.4 KB verbatim block
    head_a = "\n".join(f"a_only_{i} = {i}" for i in range(40))
    tail_a = "\n".join(f"a_tail_{i} = {i * 3}" for i in range(40))
    head_b = "\n".join(f"b_prefix_{i} = {i * 7}" for i in range(40))
    tail_b = "\n".join(f"b_suffix_{i} = {i * 11}" for i in range(40))
    doc_a = head_a + "\n" + block + "\n" + tail_a
    doc_b = head_b + "\n" + block + "\n" + tail_b
    assert block not in (head_a + tail_a) and doc_a not in doc_b

    rows = [
        ("org/x", "a.py", "c1", "py", doc_a),
        ("org/x", "b.py", "c2", "py", doc_b),
    ]
    # noise singletons so fingerprint groups are non-trivial
    for m in range(20):
        body = "\n".join(f"noise_{m}_{i} = f({i * m})" for i in range(60))
        rows.append(("org/n", f"n{m}.py", f"d{m}", "py", body))
    files = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["repo", "path", "commit", "lang", "content"]
        )
    )
    sigs = sketch_files(files, CFG).cache()
    cand = containment_candidates(sigs, CFG, min_containment=0.25)
    got = containment_verified(cand, files, CFG, min_overlap_chars=512)
    hits = {
        (r["small_id"], r["big_id"]): r["overlap_chars"]
        for r in got.collect()
    }
    key = ("org/x/a.py", "org/x/b.py")
    key_rev = ("org/x/b.py", "org/x/a.py")
    assert key in hits or key_rev in hits, hits
    run = hits.get(key, hits.get(key_rev))
    assert run >= len(block) - 2 * CFG.winnow_window, run


def test_partial_overlap_kernel_sketches_each_file_once(monkeypatch):
    """VERDICT r3 #5: a big file appearing in 50 pairs of one batch must
    be re-sketched ONCE, not once per pair — 51 sketch passes total for
    50 pairs + 1 shared big file, with unchanged output."""
    import pandas as pd

    import sketchy_spark.hashing as H
    from sketchy_spark.operators.verify import _overlap_rows

    import random

    rng = random.Random(3)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 _"
    block = "".join(rng.choice(alphabet) for _ in range(2000))
    big = (
        "".join(rng.choice(alphabet) for _ in range(400))
        + block
        + "".join(rng.choice(alphabet) for _ in range(400))
    )
    pairs = pd.DataFrame(
        {
            "small_id": [f"s{i:02d}" for i in range(50)],
            "big_id": ["big"] * 50,
            "small_c": [f"head{i}|" + block + f"|tail{i}" for i in range(50)],
            "big_c": [big] * 50,
        }
    )
    calls = {"n": 0}
    orig = H.batch_shingle_hashes

    def counted(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(H, "batch_shingle_hashes", counted)
    out = _overlap_rows(pairs, CFG, min_overlap_chars=512)
    assert calls["n"] == 51, calls
    assert len(out) == 50
    assert (out["overlap_chars"] >= len(block) - 2 * CFG.winnow_window).all()


def test_partial_overlap_cache_spans_arrow_batches(monkeypatch):
    """VERDICT r4 minor #4 done-criterion: the hub file's minima survive
    across Arrow batches — the 50 hub pairs split into 3 batches still
    cost exactly 51 sketch passes (50 smalls + 1 hub), because the cache
    now has partition lifetime (one _MinimaCache threaded through every
    batch, as _partial_overlap_kernel's fn does)."""
    import pandas as pd

    import sketchy_spark.hashing as H
    from sketchy_spark.operators.verify import _MinimaCache, _overlap_rows

    import random

    rng = random.Random(3)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 _"
    block = "".join(rng.choice(alphabet) for _ in range(2000))
    big = (
        "".join(rng.choice(alphabet) for _ in range(400))
        + block
        + "".join(rng.choice(alphabet) for _ in range(400))
    )
    pairs = pd.DataFrame(
        {
            "small_id": [f"s{i:02d}" for i in range(50)],
            "big_id": ["big"] * 50,
            "small_c": [f"head{i}|" + block + f"|tail{i}" for i in range(50)],
            "big_c": [big] * 50,
        }
    )
    calls = {"n": 0}
    orig = H.batch_shingle_hashes

    def counted(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(H, "batch_shingle_hashes", counted)
    cache = _MinimaCache()
    outs = [
        _overlap_rows(pairs.iloc[lo:hi], CFG, 512, cache)
        for lo, hi in ((0, 17), (17, 34), (34, 50))
    ]
    out = pd.concat(outs, ignore_index=True)
    assert calls["n"] == 51, calls
    assert len(out) == 50
    assert (out["overlap_chars"] >= len(block) - 2 * CFG.winnow_window).all()


def test_minima_cache_byte_bound_evicts():
    """The partition-lifetime cache is byte-bounded: filling it past
    max_bytes evicts the least-recently-used entry and keeps the
    accounting consistent (no unbounded executor memory growth when a
    partition holds many distinct large files)."""
    from sketchy_spark.operators.verify import _MinimaCache

    cache = _MinimaCache(max_bytes=1_000_000)  # ~2 entries' worth
    for i in range(10):
        cache.get(f"f{i}", "x" * 50_000, CFG)  # ~450 KB each with minima
    assert len(cache._d) < 10  # evictions happened
    assert 0 < cache._bytes <= cache.max_bytes
    # re-fetch of a live entry is a hit (no recompute -> same object)
    fid = next(reversed(cache._d))
    before = cache._d[fid]
    assert cache.get(fid, "ignored-on-hit", CFG) is before


def test_minima_cache_refuses_oversized_entry():
    """ADVICE r5: an entry whose cost alone exceeds max_bytes is computed
    and returned but NOT cached — a single file larger than the budget
    must not pin _bytes above the documented bound for the rest of the
    partition (and must not evict the whole working set either)."""
    from sketchy_spark.operators.verify import _MinimaCache

    cache = _MinimaCache(max_bytes=1_000_000)
    cache.get("small", "x" * 50_000, CFG)
    held = dict(cache._d)
    b, minima = cache.get("huge", "y" * 2_000_000, CFG)  # > max_bytes
    assert len(b) == 2_000_000 and minima.size > 0  # still computed
    assert "huge" not in cache._d  # not cached
    assert dict(cache._d) == held  # working set untouched
    assert cache._bytes <= cache.max_bytes


def test_release_cascade_caches_reclaims_storage(spark):
    """VERDICT r4 #8: ad-hoc cascades (no ``persisted`` list) park their
    required persists in _CASCADE_CACHES; release_cascade_caches() must
    actually unpersist them: every RDD the call persisted leaves the
    JVM's persistent-RDD registry, and the caller's own cache stays. So
    repeated ad-hoc use in a long-lived session cannot accumulate
    executor storage. The test compares RDD ids, not registry sizes: the
    JVM context cleaner may unpersist earlier tests' unreachable caches
    at any point."""
    import pandas as pd

    from sketchy_spark.operators import verify as V
    from sketchy_spark.operators.lsh import candidate_pairs_fid

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    V.release_cascade_caches()  # clean slate from earlier tests
    rows = [
        ("org/r", f"f{i}.py", f"c{i}", "py",
         "\n".join(f"def g_{i}_{j}(): return {i + j}" for j in range(60)))
        for i in range(30)
    ]
    files = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["repo", "path", "commit", "lang", "content"]
        )
    )
    before_sigs = persistent_ids()
    sigs = sketch_files(files, CFG).cache()
    sigs.count()
    sigs_ids = persistent_ids() - before_sigs
    assert sigs_ids
    cand = candidate_pairs_fid(sigs, CFG)
    before = persistent_ids()
    # ad-hoc call: no persisted list -> caches tracked module-side
    V.verified_pairs_cascade(cand, sigs, CFG).count()
    assert len(V._CASCADE_CACHES) > 0
    call_ids = persistent_ids() - before
    assert call_ids  # the cascade's persists
    V.release_cascade_caches()
    assert len(V._CASCADE_CACHES) == 0
    after = persistent_ids()
    assert not call_ids & after  # all of the call's RDDs unpersisted
    assert sigs_ids <= after  # and nothing of the caller's
    sigs.unpersist(blocking=True)
    assert not sigs_ids & persistent_ids()


def test_candidate_sets_agree_across_eager_and_lazy_paths(spark):
    """r6: the eager path's band cache is now PARTITIONED by band_key
    (one shuffle feeds both the hot-count and the groups aggregation);
    the candidate SET must stay exactly the lazy broadcast path's,
    including hub-star edges for over-cap keys."""
    from sketchy_spark.corpus import corpus_df
    from sketchy_spark.operators.lsh import candidate_pairs_fid, with_fid
    from sketchy_spark.operators.sketch import sketch_files

    cfg = SketchConfig(band_skew_cap=4)  # boilerplate rows go over cap
    sigs = with_fid(
        sketch_files(corpus_df(spark, 400), cfg, with_sig=False)
    ).cache()
    sigs.count()
    internal = []
    eager = {
        (r.a_fid, r.b_fid)
        for r in candidate_pairs_fid(sigs, cfg, persisted=internal).collect()
    }
    lazy = {
        (r.a_fid, r.b_fid)
        for r in candidate_pairs_fid(sigs, cfg).collect()
    }
    assert eager == lazy and len(eager) > 0
    for df in internal:
        df.unpersist()
    sigs.unpersist()


def _containment_rows(df):
    return sorted(
        (r.small_id, r.big_id, r.containment, r.overlap_chars)
        for r in df.collect()
    )


@pytest.mark.parametrize("resident", [False, True])
def test_whole_file_embedding_is_tier_one(spark, resident):
    """A file embedded verbatim in a bigger one comes back from the
    whole-file tier: containment 1.0 and overlap_chars equal to the small
    side's byte length. One small side is above 512 chars, one below:
    the partial-overlap kernel alone reports the first with a shorter
    run and misses the second (its run is under ``min_overlap_chars``)."""
    import pandas as pd

    from sketchy_spark.operators.verify import (
        containment_candidates,
        containment_verified,
    )

    long_small = "\n".join(
        f"vendored_{i} = décode({i * 17})" for i in range(60)
    )  # ~1.6 KB, multi-byte chars: bytes != chars
    short_small = "\n".join(f"tiny_{i} = ünit({i})" for i in range(20))
    assert len(short_small.encode()) < 512 < len(long_small)

    def host(tag, inner):
        head = "\n".join(f"{tag}_head_{i} = {i * 3}" for i in range(50))
        tail = "\n".join(f"{tag}_tail_{i} = {i * 5}" for i in range(50))
        return head + "\n" + inner + "\n" + tail

    rows = [
        ("org/e", "long_small.py", "c1", "py", long_small),
        ("org/e", "long_big.py", "c2", "py", host("lb", long_small)),
        ("org/e", "short_small.py", "c3", "py", short_small),
        ("org/e", "short_big.py", "c4", "py", host("sb", short_small)),
    ]
    for m in range(10):
        body = "\n".join(f"noise_{m}_{i} = f({i * m})" for i in range(60))
        rows.append(("org/n", f"n{m}.py", f"d{m}", "py", body))
    files = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["repo", "path", "commit", "lang", "content"]
        )
    )
    sigs = sketch_files(files, CFG).cache()
    cand = containment_candidates(sigs, CFG, min_containment=0.25)
    got = {
        (r[0], r[1]): r[2:]
        for r in _containment_rows(
            containment_verified(cand, files, CFG, resident=resident)
        )
    }
    for small, big, text in (
        ("org/e/long_small.py", "org/e/long_big.py", long_small),
        ("org/e/short_small.py", "org/e/short_big.py", short_small),
    ):
        assert got.get((small, big)) == (1.0, len(text.encode())), got
    sigs.unpersist()


def test_resident_containment_matches_scan_side(spark, monkeypatch):
    """The driver-side (resident) containment pass and the executor
    (scan-side) one return identical candidate and verified rows on the
    planted corpus, at the pipeline's 0.25 candidate threshold and at the
    default, and at a small ``fp_skew_cap`` where hot fingerprints are
    excluded. Budget hand-overs still equal the scan-side result: pair
    codes that overflow after the fingerprint rows fit, and candidate
    contents that overflow. An ad-hoc resident call retains no cache and
    runs no Python UDF."""
    from sketchy_spark.operators import verify as V
    from sketchy_spark.plans.explain import physical_plan

    files = spark.createDataFrame(corpus_pandas(600)).cache()
    sigs = sketch_files(files, CFG, with_sig=False).cache()
    n_fp = sigs.selectExpr("sum(size(fingerprints))").first()[0]
    internal = []

    def cand_rows(df):
        return sorted(tuple(r) for r in df.collect())

    def both(cfg, mc):
        res = V.containment_candidates(sigs, cfg, mc, resident=True)
        scan = V.containment_candidates(
            sigs, cfg, mc, persisted=internal, resident=False
        )
        assert cand_rows(res) == cand_rows(scan)
        want = _containment_rows(
            V.containment_verified(
                scan, files, cfg, persisted=internal, resident=False
            )
        )
        got = _containment_rows(
            V.containment_verified(res, files, cfg, resident=True)
        )
        assert got == want and len(want) > 0
        return want

    for mc in (0.25, None):
        both(CFG, mc)
    capped = SketchConfig(fp_skew_cap=3)
    capped_rows = both(capped, 0.25)
    # the cap removed some fingerprint groups from the pair counts
    assert cand_rows(
        V.containment_candidates(sigs, capped, 0.25, resident=True)
    ) != cand_rows(V.containment_candidates(sigs, CFG, 0.25, resident=True))

    # ad-hoc default calls within the budget: driver only, nothing kept
    V.release_cascade_caches()
    res_cand = V.containment_candidates(sigs, capped, 0.25)
    resident = V.containment_verified(res_cand, files, capped)
    assert len(V._CASCADE_CACHES) == 0
    plan = physical_plan(resident)
    for node in ("MapInPandas", "PythonMapInArrow", "BatchEvalPython"):
        assert node not in plan, plan
    assert _containment_rows(resident) == capped_rows

    # the fingerprint rows fit the budget, the pair codes do not
    monkeypatch.setattr(V, "RESIDENT_BYTES", 8 * n_fp + 1)
    handed_over = V.containment_candidates(
        sigs, capped, 0.25, persisted=internal, n_fp=n_fp
    )
    assert "Generate explode" in physical_plan(handed_over)
    assert cand_rows(handed_over) == cand_rows(res_cand)
    # the candidate rows fit, their contents do not
    monkeypatch.setattr(V, "RESIDENT_BYTES", 8 * res_cand.count() + 1)
    handed_over = V.containment_verified(
        res_cand, files, capped, persisted=internal
    )
    assert "MapInPandas" in physical_plan(handed_over)
    assert _containment_rows(handed_over) == capped_rows
    for df in internal:
        df.unpersist()
    sigs.unpersist()
    files.unpersist()


def _plans_naming(spark, group: str, name: str) -> int:
    """How many SQL executions of job group ``group`` have a physical
    plan that names the column ``name``."""
    jobs = {
        str(j)
        for j in spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    }
    store = spark._jsparkSession.sharedState().statusStore()
    execs, n = store.executionsList().iterator(), 0
    while execs.hasNext():
        e = execs.next()
        if jobs & set(e.jobs().keySet().mkString(",").split(",")):
            n += f"{name}#" in e.physicalPlanDescription()
    return n


def test_content_overflow_verifies_the_probed_candidates(spark, monkeypatch):
    """With the candidate stage scan-side (the fingerprint rows exceed
    ``RESIDENT_BYTES``), ``containment_verified``'s ``limit`` probe
    collects every candidate row, and only their contents overflow: the
    scan-side verify joins those collected rows as a local frame, so the
    candidate aggregation (its ``shared_fp`` count) runs once, in the
    probe, and the rows equal the resident pass's."""
    from sketchy_spark.operators import verify as V

    files = spark.createDataFrame(corpus_pandas(600)).cache()
    sigs = sketch_files(files, CFG, with_sig=False).cache()
    n_fp = sigs.selectExpr("sum(size(fingerprints))").first()[0]
    cand = V.containment_candidates(sigs, CFG, 0.25, resident=True)
    want = _containment_rows(
        V.containment_verified(cand, files, CFG, resident=True)
    )
    rows = cand.count()
    _, cost = V._containment_files(cand.toArrow())
    budget = min(8 * n_fp, cost - 1)
    assert 8 * rows <= budget and len(want) > 0
    monkeypatch.setattr(V, "RESIDENT_BYTES", budget)
    internal = []
    sc = spark.sparkContext
    sc.setJobGroup("probe-once", "containment candidates evaluated once")
    try:
        got = _containment_rows(V.containment_verified(
            V.containment_candidates(
                sigs, CFG, 0.25, persisted=internal, n_fp=n_fp
            ),
            files, CFG, persisted=internal,
        ))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == want
    assert _plans_naming(spark, "probe-once", "shared_fp") == 1
    for df in internal:
        df.unpersist()
    sigs.unpersist()
    files.unpersist()
