"""Driver-contract emulation: run every ``queries()`` entry in Spark and
its ``oracle_sql()`` in DuckDB on the same sf0.01 parquet; compare
row count, schema width, and exact values (columns sorted by name, rows
sorted) — the same comparison the driver's CORRECTNESS gate performs.
"""

import math
import pathlib
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()
SQL_CHECKED = sorted(set(QUERIES) & set(ORACLES))
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(spark, duck, name):
    got = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
    want = _normalize(duck.sql(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: schema {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    if len(got):
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
        )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_sql_checked_queries_return_rows(spark, duck):
    """Every SQL-checked query should exercise real data at sf0.01 —
    a 0==0 match proves nothing. (Containment-style queries excluded
    by construction: all here return rows.)"""
    empty = []
    for name in SQL_CHECKED:
        if duck.sql(f"select count(*) from ({ORACLES[name]})").fetchall()[0][0] == 0:
            empty.append(name)
    assert not empty, f"queries with empty oracle results: {empty}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"file_id", "cluster_id", "n_members"}


def test_ann_multiprobe_recall(spark):
    """VERDICT r1 #10 done-criterion: multi-probe sign-LSH recall >= 0.9
    vs the exact embedding_dup_pairs truth at threshold 0.45 on sf0.01."""
    from sketchy_spark.functions import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    truth = {
        (r["a_id"], r["b_id"])
        for r in sim.embedding_dup_pairs(emb, threshold=0.45).collect()
    }
    got = {
        (r["a_id"], r["b_id"])
        for r in sim.ann_multiprobe(
            emb, threshold=0.45, bits=4, probes=12
        ).collect()
    }
    assert len(truth) > 0
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f} ({len(got)}/{len(truth)})"
    assert got <= truth  # exact verify: no false positives


def test_ann_params_derivation():
    """VERDICT r4 #1: (bits, probes) derived from the threshold — the
    dup-detection default lands on sparse 1024-way buckets, the oracle
    fixture's (4, 12) is reproduced at its own probe budget, and
    LSH-hostile thresholds raise instead of going quadratic."""
    from sketchy_spark.functions import similarity as sim

    assert sim.ann_params(0.9) == (10, 10)
    assert sim.ann_params(0.45, max_probes=12) == (4, 12)
    with pytest.raises(ValueError):
        sim.ann_params(-0.95, max_probes=2)
    # density criterion: bits grows with log2(n) (constant bucket
    # occupancy), probes grows gently (~1.17x per extra bit at c=0.9) —
    # candidate volume stays ~n^1.2 instead of the fixed-bits n^2 floor
    small = sim.ann_params(0.9, n=1000)
    big = sim.ann_params(0.9, n=50_000)
    huge = sim.ann_params(0.9, n=1_000_000_000)
    assert small == (10, 10)  # density slack: recall criterion binds
    assert big[0] == 14 and big[1] < 2.5 * big[0]  # log2(50k/4) ~ 13.6
    assert huge[0] == 28 and huge[1] < 200
    assert small[0] <= big[0] <= huge[0]


def test_ann_params_dim_caps_probe_diversity():
    """ADVICE r5 (medium): probe t reads the window starting at
    (t*bits) mod dim, so only dim/gcd(bits, dim) offsets exist — any
    probe past that period duplicates an earlier one exactly and the
    1-(1-q)^T recall model overstates recall. With ``dim``, every
    returned config must fit its distinct-window budget; unreachable
    targets raise (-> IVF) instead of silently shipping a config whose
    real recall is a fraction of the target."""
    import math

    from sketchy_spark.functions import similarity as sim

    # fixture-scale configs are diversity-safe: dim changes nothing
    assert sim.ann_params(0.9, dim=64) == (10, 10)
    assert sim.ann_params(0.45, max_probes=12, dim=64) == (4, 12)
    assert sim.ann_params(0.9, n=50_000, dim=64) == sim.ann_params(
        0.9, n=50_000
    )
    # n=262k: the uncapped density walk lands on 16 bits, whose offsets
    # repeat after 64/gcd(16,64) = 4 windows — far under the ~27 probes
    # the recall target needs (real recall ~0.29). The cap must walk to
    # a width whose required probes fit its window count.
    unc_bits, unc_probes = sim.ann_params(0.9, n=262_144)
    assert unc_probes > 64 // math.gcd(unc_bits, 64)  # the silent breakage
    bits, probes = sim.ann_params(0.9, n=262_144, dim=64)
    assert probes <= 64 // math.gcd(bits, 64)  # every probe distinct
    assert bits >= unc_bits  # density criterion still satisfied
    # n=1e9 at 64 dims: no width under 62 bits offers enough distinct
    # windows for the ~178+ probes the target needs — honest refusal
    with pytest.raises(ValueError, match="IVF"):
        sim.ann_params(0.9, n=1_000_000_000, dim=64)
    # dim omitted: prior behavior bit-for-bit (direct callers, oracle)
    assert sim.ann_params(0.9, n=1_000_000_000)[0] == 28


def test_ann_params_refuses_bits_at_or_above_dim():
    """A bucket window of bits >= dim covers every dim, so all its probes
    are the same bucket table: (19, 5) on 8 dims would ship one real
    probe. Such widths are infeasible and the derivation routes to IVF."""
    from sketchy_spark.functions import similarity as sim

    with pytest.raises(ValueError, match="IVF"):
        sim.ann_params(0.99, n=10**6, dim=8)
    bits, _ = sim.ann_params(0.9, n=40, dim=8)
    assert bits < 8


def test_ann_multiprobe_derivation_reads_dim(spark):
    """The derivation path must feed the MEASURED embedding width into
    ann_params' diversity cap (one fused agg job: n + dim). On 8-dim
    data no bucket width at the required density offers enough distinct
    probe windows for 0.9 recall — the derivation must refuse (-> IVF)
    instead of shipping duplicate probes; on the 64-dim shape every
    fixture uses, the derived config is the same (10, 10) as before."""
    import pyspark.sql.functions as F

    from sketchy_spark.functions import similarity as sim

    def synth(n, d):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {d - 1}), d -> "
                "cast(pmod(xxhash64(id, d), 200) as float) / 100.0 - 1.0)"
            ).alias("embedding"),
        )

    # n=4096 forces density_bits >= 10, and no width >= 10 offers the
    # required probes within 8 dims' distinct windows (max 8)
    with pytest.raises(ValueError, match="IVF"):
        sim.ann_multiprobe(synth(4096, 8), threshold=0.9)
    # small-n 8-dim derivations stay feasible: density doesn't bind and
    # the capped search returns a config whose probes are all distinct
    import math

    bits, probes = sim.ann_params(0.9, n=40, dim=8)
    assert probes <= 8 // math.gcd(bits, 8)
    # 64-dim: derivation succeeds and executes end-to-end
    out = sim.ann_multiprobe(synth(200, 64), threshold=0.9)
    assert out.columns == ["a_id", "b_id", "cosine"]
    out.collect()


def test_ann_multiprobe_sparse_default_recall(spark):
    """VERDICT r4 #1 done-criterion: the DEFAULT ann_multiprobe call
    (threshold 0.9, bits/probes derived -> 1024-way buckets) reaches
    recall >= 0.9 on a planted corpus of c >~ 0.95 twins. The sf0.01
    embeddings have no c >= 0.9 pairs, so the truth is planted: 100
    base vectors each get one twin at cosine ~0.958 (unit base + 0.3 x
    orthogonalized noise); inter-base cosines concentrate near 0."""
    import numpy as np

    from sketchy_spark.functions import similarity as sim

    rng = np.random.RandomState(11)
    dim, n_base = 64, 100
    base = rng.randn(n_base, dim)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noise = rng.randn(n_base, dim)
    noise -= (noise * base).sum(axis=1, keepdims=True) * base
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    twins = base + 0.3 * noise  # cos(base, twin) = 1/sqrt(1.09) ~ 0.958
    vecs = np.vstack([base, twins])
    rows = [
        (i, [float(x) for x in vecs[i]]) for i in range(len(vecs))
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()
    truth = {
        (r["a_id"], r["b_id"])
        for r in sim.embedding_dup_pairs(emb, threshold=0.9).collect()
    }
    assert len(truth) >= n_base  # every planted twin pair is in truth
    got = {
        (r["a_id"], r["b_id"])
        for r in sim.ann_multiprobe(emb).collect()  # all defaults
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f} ({len(got)}/{len(truth)})"
    assert got <= truth  # exact cosine verify: no false positives
    emb.unpersist()


def test_ann_ivf_recall_default_quantizer(spark):
    """ann_ivf completes the decision tree ann_params points to ("use
    IVF, not sign-LSH" at low thresholds): on the planted-twins corpus
    (cos ~0.958 pairs), the DEFAULT call — n_cells derived as
    ceil(sqrt(n)), nprobe=2 — must catch >= 0.9 of the exact truth with
    zero false positives (exact cosine verify). Twins are near-identical
    so their centroid-cosine rankings agree; nprobe=2 covers boundary
    flips."""
    import numpy as np

    from sketchy_spark.functions import similarity as sim

    rng = np.random.RandomState(7)
    dim, n_base = 64, 100
    base = rng.randn(n_base, dim)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noise = rng.randn(n_base, dim)
    noise -= (noise * base).sum(axis=1, keepdims=True) * base
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    twins = base + 0.3 * noise
    vecs = np.vstack([base, twins])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()
    truth = {
        (r["a_id"], r["b_id"])
        for r in sim.embedding_dup_pairs(emb, threshold=0.9).collect()
    }
    assert len(truth) >= n_base
    got = {
        (r["a_id"], r["b_id"])
        for r in sim.ann_ivf(emb, threshold=0.9).collect()  # all defaults
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f} ({len(got)}/{len(truth)})"
    assert got <= truth
    assert sim.ivf_cells(200) == 15  # ceil(sqrt(200)): quantizer sizing
    emb.unpersist()


def test_ann_ivf_plan_pins_scale_properties(spark):
    """Pins the two plan properties ann_ivf's scale story depends on, so
    a refactor can't silently drop either:

    1. a NUMBERED repartition on the cell key before the self-join —
       without it AQE coalesces the tiny-bytes cid exchange to one
       partition and a single task runs the whole occupancy-fold join
       expansion (measured >500s single-core at 50k vectors);
    2. the per-vector top-nprobe compiles to a map-side Partial
       WindowGroupLimit BEFORE the vec_id exchange, and (runtime, AQE)
       the b-side of the self-join reuses the a-side's assignment
       pipeline via ReusedExchange instead of recomputing the O(n*C)
       centroid scoring."""
    from sketchy_spark.functions import similarity as sim
    from sketchy_spark.plans.explain import physical_plan

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    df = sim.ann_ivf(emb, threshold=0.30, n_cells=8, nprobe=2)
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    nparts = spark.conf.get("spark.sql.shuffle.partitions")
    assert f"Exchange hashpartitioning(cid#" in plan or (
        f"hashpartitioning(cid" in plan
    ), plan
    # REPARTITION_BY_NUM marks the user-numbered repartition AQE must
    # not coalesce (ENSURE_REQUIREMENTS exchanges are fair game)
    assert "REPARTITION_BY_NUM" in plan, plan
    ipartial = plan.find("row_number(), 2, Partial")
    ifinal = plan.find("row_number(), 2, Final")
    assert ipartial != -1 and ifinal != -1, plan
    assert "Exchange hashpartitioning(vec_id" in plan[ifinal:ipartial]
    # runtime: AQE stage reuse must collapse the b-side assignment scan.
    # Two hermeticity constraints, both verified by direct experiment:
    # 1. non-broadcast regime forced (at test sizes AQE may broadcast
    #    one side of the cells self-join — then there is no shuffle
    #    pair to reuse and the property is moot; at scale cells never
    #    broadcast and both sides shuffle on cid, where recomputing the
    #    O(n*C) assignment would hurt);
    # 2. the input must NOT be cached: a cached source wraps each join
    #    side in its own TableCacheQueryStage (distinct stage ids), the
    #    exchange subtrees stop canonicalizing equal, and reuse is
    #    defeated (measured: ReusedExchange 0, every ShuffleQueryStage
    #    id unique). Acceptable operator behavior — a cached input
    #    makes the recompute an in-memory rescan, and a 100 TB input is
    #    never fully cached — but it means this check needs a fresh
    #    never-cached DataFrame, not the shared parquet another test
    #    may have cached. Collect df2 ITSELF (an action on a derived
    #    frame finalizes the derived plan, not this one).
    rows = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    fresh = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: conf.get(k, None) for k in keys}  # None = was unset
    try:
        for k in keys:
            conf.set(k, "-1")
        df2 = sim.ann_ivf(fresh, threshold=0.30, n_cells=8, nprobe=2)
        df2.collect()
        executed = df2._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in executed, executed[:4000]
    finally:
        for k, v in saved.items():
            conf.set(k, v) if v is not None else conf.unset(k)
