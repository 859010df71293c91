"""Sketch-stage tests: Spark mapInPandas output vs pure-numpy oracle."""

import hashlib

import numpy as np
import pyspark.sql.functions as F
import pytest

from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import corpus_pandas
from sketchy_spark.hashing import (
    batch_shingle_hashes,
    bottom_s,
    i64_to_u64,
    u64_to_i64,
)
from sketchy_spark.operators.sketch import sketch_files

CFG = SketchConfig()


@pytest.fixture(scope="module")
def signatures(spark):
    pdf = corpus_pandas(300)
    df = spark.createDataFrame(pdf)
    return sketch_files(df, CFG).cache()


def test_row_count_preserved(signatures):
    assert signatures.count() == 300


def test_sha256_invariant(spark, signatures):
    """Per-row sha256(content) equality (BASELINE.json input_hint)."""
    pdf = corpus_pandas(300)
    want = {
        f"{r.repo}/{r.path}": hashlib.sha256(r.content.encode()).hexdigest()
        for r in pdf.itertuples()
    }
    got = {r["file_id"]: r["sha256"] for r in signatures.collect()}
    assert got == want


def test_sig_matches_numpy_oracle(signatures):
    pdf = corpus_pandas(300)
    rows = {r["file_id"]: r for r in signatures.collect()}
    for t in pdf.head(25).itertuples():
        fid = f"{t.repo}/{t.path}"
        h, _ = batch_shingle_hashes([t.content.encode()], CFG.k, CFG.seed)
        want = u64_to_i64(bottom_s(np.unique(h), CFG.s)).tolist()
        assert rows[fid]["sig"] == want, fid


def test_sig_sorted_ascending_unsigned(signatures):
    """The reference's sorted-hashes invariant (src/sketchy.rs:414-418),
    in unsigned order after the i64 shift."""
    for r in signatures.limit(50).collect():
        u = i64_to_u64(np.array(r["sig"], dtype=np.int64))
        assert (np.diff(u.astype(np.uint64)) > 0).all()


def test_self_shared_equals_sketch_size(spark, signatures):
    """docs/index.md:149 invariant: self-intersection == |sig|, in SQL."""
    bad = signatures.where(
        F.size(F.array_intersect("sig", "sig")) != F.size("sig")
    ).count()
    assert bad == 0


def test_n_shingles(signatures):
    bad = signatures.where(
        (F.col("n_bytes") >= CFG.k)
        & (F.col("n_shingles") != F.col("n_bytes") - CFG.k + 1)
    ).count()
    assert bad == 0


def test_sig_perm_fixed_width(signatures):
    assert (
        signatures.where(F.size("sig_perm") != CFG.num_perm).count() == 0
    )


def test_exact_dups_identical_signatures(spark, signatures):
    """Exact-duplicate rows (same sha256) must have identical sig/simhash."""
    diff = (
        signatures.groupBy("sha256")
        .agg(
            F.countDistinct(F.hash("sig")).alias("nsig"),
            F.countDistinct("simhash").alias("nsim"),
        )
        .where((F.col("nsig") > 1) | (F.col("nsim") > 1))
        .count()
    )
    assert diff == 0


def test_no_content_column_downstream(signatures):
    """Narrow signatures table: content must be pruned after the sketch."""
    assert "content" not in signatures.columns


def test_band_keys_match_per_band_oracle(spark):
    """The one-string band_keys_expr yields the same b keys as band i's
    xxhash64(i, sig_perm[i*r+1 .. i*r+r]) built per band from Columns."""
    from sketchy_spark.operators.lsh import band_keys_expr

    r = CFG.rows_per_band
    sig_perm = [
        (j * 0x9E3779B97F4A7C15) % (1 << 64) - (1 << 63)
        for j in range(CFG.num_perm)
    ]
    df = spark.createDataFrame([(sig_perm,)], "sig_perm array<long>")
    oracle = [
        F.xxhash64(
            F.lit(i),
            *[F.element_at("sig_perm", i * r + j + 1) for j in range(r)],
        ).alias(f"k{i}")
        for i in range(CFG.bands)
    ]
    row = df.select(band_keys_expr(CFG).alias("keys"), *oracle).first()
    assert len(row["keys"]) == CFG.bands
    assert row["keys"] == [row[f"k{i}"] for i in range(CFG.bands)]
    assert len(set(row["keys"])) == CFG.bands
