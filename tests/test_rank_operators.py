"""Operator-level tests (SURVEY §5): rank/top-k/consensus/cumsum/joins
against brute-force python oracles on the same rows."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import corpus_pandas
from sketchy_spark.operators.lsh import (
    attach_file_ids,
    band_table,
    candidate_pairs_fid,
    exact_dup_edges_fid,
)
from sketchy_spark.operators.rank import (
    MissingMetadataError,
    congruence_check,
    consensus_mode,
    cumulative_shared,
    genotype_join,
    rank_top_k,
    shared_counts_broadcast,
    shared_counts_exploded,
)
from sketchy_spark.operators.sketch import sketch_files

CFG = SketchConfig()


@pytest.fixture(scope="module")
def sigs(spark):
    df = spark.createDataFrame(corpus_pandas(120))
    return sketch_files(df, CFG).cache()


def test_shared_counts_forms_agree(spark, sigs):
    """Broadcast nested-loop (R16) and exploded shuffle join (R15 scale
    form) must produce identical shared counts."""
    q = sigs.limit(15)
    bc = {
        (r["query_id"], r["ref_id"]): r["shared"]
        for r in shared_counts_broadcast(q, sigs).collect()
    }
    ex = {
        (r["query_id"], r["ref_id"]): r["shared"]
        for r in shared_counts_exploded(q, sigs).collect()
    }
    # exploded form omits zero-intersection pairs; broadcast keeps them
    assert ex == {k: v for k, v in bc.items() if v > 0}


def test_self_shared_equals_sketch_size(spark, sigs):
    """docs/index.md:136-150 golden semantics: self-match == |sig|."""
    shared = shared_counts_broadcast(sigs, sigs)
    self_rows = shared.where(F.col("query_id") == F.col("ref_id"))
    joined = self_rows.join(
        sigs.select(F.col("file_id").alias("query_id"), F.size("sig").alias("sz")),
        "query_id",
    )
    assert joined.where(F.col("shared") != F.col("sz")).count() == 0


def test_rank_top_k_deterministic_ties(spark):
    rows = [
        ("q1", "r1", 10), ("q1", "r2", 10), ("q1", "r3", 5),
        ("q2", "r9", 1),
    ]
    df = spark.createDataFrame(rows, "query_id string, ref_id string, shared int")
    top = rank_top_k(df, top=1).collect()
    got = {(r["query_id"], r["ref_id"]) for r in top}
    assert got == {("q1", "r1"), ("q2", "r9")}  # tie broken by ref_id asc


def test_rank_top_k_partial_limit_before_exchange(spark, sigs):
    """Exploded-predict top-k pushdown (VERDICT r3 #7): the row_number
    rank filter must compile to a map-side Partial WindowGroupLimit
    BEFORE the query_id exchange, so at most k rows per (query,
    partition) cross the shuffle. Spark >= 3.5 plans this natively from
    the `row_number() <= k` pattern; this test pins the pattern so a
    refactor (renamed rank column, filter detached from the window)
    doesn't silently drop the pushdown."""
    from sketchy_spark.plans.explain import physical_plan

    q = sigs.limit(15)
    plan = physical_plan(rank_top_k(shared_counts_exploded(q, sigs), top=3))
    plan = plan.split("== Initial Plan ==")[0]
    ipartial = plan.find("row_number(), 3, Partial")
    ifinal = plan.find("row_number(), 3, Final")
    assert ipartial != -1 and ifinal != -1, plan
    # textual plan prints downstream nodes first: Final ... Exchange ...
    # Partial, so the partition exchange must sit between the two.
    between = plan[ifinal:ipartial]
    assert "Exchange hashpartitioning(query_id" in between, between


def test_consensus_mode_majority_and_tiebreak(spark):
    rows = [
        ("q1", "py", "teamA"), ("q1", "py", "teamB"), ("q1", "rs", "teamB"),
        ("q2", "go", "teamC"), ("q2", "js", "teamA"),  # 1-1 tie -> value asc
    ]
    df = spark.createDataFrame(rows, "query_id string, lang string, team string")
    got = {
        r["query_id"]: (r["lang"], r["team"])
        for r in consensus_mode(df, ["lang", "team"]).collect()
    }
    assert got["q1"] == ("py", "teamB")
    assert got["q2"] == ("go", "teamA")  # deterministic tiebreak by value


def test_cumulative_shared_matches_oracle(spark):
    rows = [(read, ref, (read * 7 + len(ref)) % 5)
            for read in range(1, 6) for ref in ("a", "b")]
    df = spark.createDataFrame(rows, "read int, ref_id string, shared int")
    got = {
        (r["ref_id"], r["read"]): r["cum_shared"]
        for r in cumulative_shared(df).collect()
    }
    run = {}
    for read, ref, sh in sorted(rows):
        run[ref] = run.get(ref, 0) + sh
        assert got[(ref, read)] == run[ref]


def test_genotype_join_strict_guard(spark, sigs):
    meta = sigs.select("file_id").withColumn("team", F.lit("t1"))
    ok = genotype_join(sigs.select("file_id"), meta)
    assert ok.count() == sigs.count()
    with pytest.raises(MissingMetadataError):
        genotype_join(sigs.select("file_id"), meta.limit(50))


def test_congruence_check_fails_on_mismatch(spark, sigs):
    """R19/R35 — including the order/identity mismatch the reference
    silently drops (src/sketchy.rs:222-227): our check must fail."""
    meta = sigs.select("file_id")
    congruence_check(sigs, meta)  # ok
    renamed = meta.withColumn(
        "file_id", F.concat(F.col("file_id"), F.lit("-x"))
    )
    with pytest.raises(MissingMetadataError):
        congruence_check(sigs, renamed)
    with pytest.raises(MissingMetadataError):
        congruence_check(sigs, meta.limit(10))


def test_band_table_shape(sigs):
    bands = band_table(sigs, CFG)
    assert bands.count() == sigs.count() * CFG.bands


def test_lsh_recall_vs_bruteforce(spark, sigs):
    """G1 gate (SURVEY §7 step 4): LSH candidates cover >= 99% of true
    high-Jaccard pairs found by brute force."""
    rows = sigs.select("file_id", "sig").collect()
    ids = [r["file_id"] for r in rows]
    arrs = [np.array(r["sig"], dtype=np.int64) for r in rows]
    true_pairs = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            inter = len(np.intersect1d(arrs[i], arrs[j], assume_unique=True))
            union = len(arrs[i]) + len(arrs[j]) - inter
            if union and inter / union >= CFG.jaccard_threshold:
                true_pairs.add(tuple(sorted((ids[i], ids[j]))))
    def id_pairs(fid_pairs):
        return {
            tuple(sorted((r["a_id"], r["b_id"])))
            for r in attach_file_ids(fid_pairs, sigs).collect()
        }

    cand = id_pairs(candidate_pairs_fid(sigs, CFG))
    exact = id_pairs(exact_dup_edges_fid(sigs))
    missed = true_pairs - cand - exact
    assert len(missed) / max(1, len(true_pairs)) <= 0.01, missed
