"""Sources/sinks, plan-shape assertions, streaming."""

import pyspark.sql.functions as F

from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import corpus_df, corpus_pandas
from sketchy_spark.operators.sketch import sketch_files
from sketchy_spark.plans.explain import (
    broadcast_join_count,
    column_crosses_shuffle,
    has_pushed_filters,
    scan_read_schema,
    wholestage_codegen_spans,
)
from sketchy_spark.sources.tables import (
    documents_as_files,
    load_files,
    manifest_from_paths,
    read_metadata_tsv,
    write_results,
)

CFG = SketchConfig()


# ----------------------------------------------------------- sources/sinks


def test_files_roundtrip_and_pruned_scan(spark, tmp_path):
    files = corpus_df(spark, 100)
    path = str(tmp_path / "files")
    write_results(files, path, partition_by=["lang"])
    back = load_files(spark, path)
    assert back.count() == 100
    # column pruning reaches the scan: a 2-column projection must not
    # read content
    proj = back.select("repo", "path")
    cols = scan_read_schema(proj)
    assert "content" not in cols, cols
    # predicate pushdown reaches the scan
    filt = back.where(F.col("repo") == "org1/repo1")
    assert has_pushed_filters(filt)


def test_metadata_tsv_source(spark, tmp_path):
    p = tmp_path / "meta.tsv"
    p.write_text("name\tteam\treviewed\na/b\tcore\tR\nc/d\tinfra\tS\n")
    df = read_metadata_tsv(spark, str(p))
    assert df.columns == ["file_id", "team", "reviewed"]
    assert df.count() == 2


def test_manifest_source(spark):
    m = manifest_from_paths(spark, ["/a/b.py", "/c/d.rs"])
    assert m.count() == 2


def test_documents_as_files(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    files = documents_as_files(docs)
    assert files.columns == ["repo", "path", "commit", "lang", "content"]
    assert files.count() == docs.count()


# ------------------------------------------------------------- plan shape


def test_signature_pipeline_plan_properties(spark):
    files = corpus_df(spark, 200)
    sigs = sketch_files(files, CFG)
    # content never crosses a shuffle after the sketch UDF
    from sketchy_spark.operators.lsh import (
        attach_file_ids,
        candidate_pairs_fid,
    )
    from sketchy_spark.plans.explain import physical_plan

    cand = attach_file_ids(candidate_pairs_fid(sigs, CFG), sigs)
    assert not column_crosses_shuffle(cand, "content")
    assert wholestage_codegen_spans(cand) > 0
    # the candidate stage's claim: every heavy shuffle moves 16-byte fid
    # keys, never file_id strings; strings attach only via broadcast
    # joins after the distinct. Hash-exchange budget for the fid path:
    # hot-key count groupBy + cold groupBy + hub groupBy + pair distinct
    # = 4 (of which only count/cold/distinct carry full-size data; the
    # hub groupBy sees the boilerplate subset).
    fid_plan = physical_plan(candidate_pairs_fid(sigs, CFG)).split(
        "== Initial Plan =="
    )[0]
    # Textual plans print shared broadcast subtrees once per consumer
    # (ReuseExchange dedupes at runtime), so count UNIQUE partitioning
    # signatures: band groupBys (band_key), pair distinct (a_fid, b_fid)
    # -> <= 4 distinct shuffle keys, all fid/long — file_id strings never
    # cross a shuffle.
    import re

    sigs_seen = set()
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", fid_plan):
        assert "file_id" not in m.group(1), m.group(0)
        sigs_seen.add(re.sub(r"#\d+", "", m.group(1)))
    assert len(sigs_seen) <= 4, sigs_seen
    # over-cap keys take the hub-star branch
    assert "hub" in fid_plan
    # public string form adds only the attach joins + normalize distinct
    final_plan = physical_plan(cand).split("== Initial Plan ==")[0]
    n_exchanges = final_plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 8, final_plan


# -------------------------------------------------------------- streaming


def test_stream_dedup_available_now(spark, tmp_path):
    from sketchy_spark.checkpoint import CheckpointStore
    from sketchy_spark.streaming.stream import stream_dedup

    pdf = corpus_pandas(200)
    # drop the corpus as 2 parquet "arrivals"
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(pdf.iloc[:100]).coalesce(1).write.parquet(
        str(in_dir / "batch0")
    )
    spark.createDataFrame(pdf.iloc[100:]).coalesce(1).write.parquet(
        str(in_dir / "batch1")
    )
    store = CheckpointStore(str(tmp_path / "store"), CFG.config_hash)
    q = stream_dedup(
        spark, str(in_dir / "*"), store, CFG, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    inc_clusters = None
    from sketchy_spark.streaming.incremental import IncrementalDedup

    inc = IncrementalDedup(spark, store, CFG)
    inc_clusters = inc.clusters()
    # clusters over the streamed corpus match the single-shot run
    from sketchy_spark.pipeline import run_pipeline

    single = run_pipeline(
        spark.createDataFrame(pdf), CFG, with_containment=False
    )

    def _pairs(df):
        by_c = {}
        for r in df.collect():
            by_c.setdefault(r["cluster_id"], []).append(r["file_id"])
        out = set()
        for ms in by_c.values():
            ms = sorted(ms)
            out |= {
                (ms[i], ms[j])
                for i in range(len(ms))
                for j in range(i + 1, len(ms))
            }
        return out

    assert _pairs(inc_clusters) == _pairs(single.clusters)


def test_range_partition_ingest_plan(spark):
    """north-star: repartitionByRange('lang','repo') at pipeline ingest —
    the range exchange must be present in the signature plan when the
    flag is on, absent when off."""
    from sketchy_spark.pipeline import run_pipeline
    from sketchy_spark.plans.explain import physical_plan

    files = corpus_df(spark, 100)
    on = run_pipeline(
        files, CFG, with_containment=False, cache_signatures=False,
        range_partition=True,
    )
    plan_on = physical_plan(on.signatures)
    assert "rangepartitioning" in plan_on, plan_on
    assert "lang" in plan_on.split("rangepartitioning")[1][:80]
    off = run_pipeline(
        files, CFG, with_containment=False, cache_signatures=False,
    )
    assert "rangepartitioning" not in physical_plan(off.signatures)


def test_struct_type_matches_spark_ddl(spark):
    """The module schema constants, built in Python by ``struct_type``,
    equal Spark's own parse of the same DDL, the sketch's output schemas
    included."""
    from pyspark.sql.types import StructType

    from sketchy_spark.operators import sketch as S
    from sketchy_spark.sources.tables import struct_type

    ddl = "a string, b long, d double, e array<long>, f array<int>"
    assert struct_type(ddl) == StructType.fromDDL(ddl)
    head = (
        "file_id string, repo string, path string, commit string, "
        "lang string, sha256 string, n_bytes long, n_shingles long, "
    )
    for (sig, fp, fid), ddl in {
        (True, True, False): "sig array<long>, sig_perm array<int>, "
        "simhash long, fingerprints array<long>",
        (False, True, False): "sig_perm array<int>, simhash long, "
        "fingerprints array<long>",
        (False, False, True): "sig_perm array<int>, simhash long, fid long",
        (True, True, True): "sig array<long>, sig_perm array<int>, "
        "simhash long, fingerprints array<long>, fid long",
    }.items():
        assert S._SCHEMAS[sig, fp, fid] == StructType.fromDDL(head + ddl)
    assert S.SIGNATURE_SCHEMA == S._SCHEMAS[True, True, True]
