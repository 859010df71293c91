"""Stage checkpointing + resume (G6) over a parquet-backed table store.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". The store is an Iceberg-shaped shim (SURVEY §7 hard part 6):
each stage is a table directory plus a JSON manifest row carrying row
count, per-partition lineage, wall time, and the config hash. On a real
cluster the same API maps 1:1 onto Iceberg tables
(``df.writeTo(...).createOrReplace()`` + snapshot metadata); the shim
keeps tests hermetic in the sandbox.

Resume contract: a completed stage (manifest status=complete, matching
config_hash) is read back, not recomputed; an incomplete/missing stage
recomputes. Stage outputs are immutable once complete.

The store only keeps tables; what goes in them is its callers' business:
``pipeline.run_pipeline(store=...)`` writes the :data:`STAGES` of one
run, and ``streaming.incremental.IncrementalDedup`` its per-batch stages.

A stage moves as a Spark DataFrame, as a ``pyarrow.Table`` or as a
sketch pass (``operators.sketch.SketchPass``), the one input whose rows
the store's own writer computes. The parquet shim writes a DataFrame
with a Spark job, one part file per write task; a sketch pass with one
``mapInArrow`` job whose tasks sketch their rows and write their own
part files (:func:`_write_sketch_parts`), so the signatures never cross
back into the JVM; and it moves everything else with Arrow on the
driver, with no Spark job: a table is written by ``pq.write_table`` as
one part file,
:meth:`~CheckpointStore.read_table` reads columns (and a row filter)
through ``pyarrow.dataset``, and :meth:`~CheckpointStore.concat_stages`
folds stages into one with a streaming ``pyarrow.dataset`` rewrite.
:meth:`~CheckpointStore.read_stage` returns a DataFrame either way. The
Iceberg store has no driver-side file access, so it moves all of these
through its session: a table becomes a local frame and a sketch pass
a ``mapInArrow`` frame before ``writeTo``, ``read_table`` is
``read_stage(...).toArrow()``, and ``concat_stages`` is a union written
by ``createOrReplace``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from sketchy_spark.operators.sketch import SketchPass
from sketchy_spark.sources.tables import struct_type

MANIFEST_DIR = "_manifest"
# Footer key under which Spark's parquet writer stores the row schema.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# The one part file of a stage written on the driver (write task 0).
ARROW_PART = "part-00000-arrow.parquet"
# Hash columns of a sketch pass: one distinct value a file (or a slot),
# so a dictionary page only costs the writer time.
HASH_COLS = {"sig", "sig_perm", "simhash", "fingerprints", "fid", "sha256"}
_PARTS_SCHEMA = struct_type("part long, rows long")


def _write_sketch_parts(sp: SketchPass, tmp: str) -> None:
    """Run the sketch pass ``sp`` as one ``mapInArrow`` stage whose tasks
    write the stage's part files into ``tmp``.

    Each task runs the kernel on every Arrow batch of its partition and
    writes the results with ``pq.ParquetWriter`` to a ``.``-prefixed temp
    name, then ``os.replace`` s it to ``part-NNNNN-sketch.parquet``
    (NNNNN: the partition): a retried task leaves exactly one part, and
    readers skip a half-written one. A task writes its part even when its
    partition is empty, so the stage keeps its schema; when no task runs
    at all, the driver writes the empty part. The tasks return (part,
    rows) to one small collect; a killed attempt's temp part is deleted
    after it, so the stage commits only whole parts."""
    schema = sp.arrow_schema
    kernel = sp.kernel()
    dictionary = [f.name for f in schema if f.name not in HASH_COLS]

    def write(part: int, attempt: int, batches) -> int:
        name = f"part-{part:05d}-sketch.parquet"
        temp = f"{tmp}/.{name}.{attempt}"
        rows = 0
        with pq.ParquetWriter(temp, schema, use_dictionary=dictionary) as w:
            for batch in batches:
                out = kernel(batch)
                w.write_batch(out)
                rows += out.num_rows
        os.replace(temp, f"{tmp}/{name}")
        return rows

    def task(batches):
        ctx = TaskContext.get()
        part = ctx.partitionId()
        yield pa.record_batch({
            "part": [part], "rows": [write(part, ctx.attemptNumber(), batches)],
        })

    if not sp.rows.mapInArrow(task, _PARTS_SCHEMA).collect():
        write(0, 0, [])
    for temp in Path(tmp).glob(".part-*"):  # a killed attempt's leftover
        temp.unlink()


class _StoreBase:
    """Behavior shared by every checkpoint backend (shim + Iceberg)."""

    def get_or_compute(
        self, spark: SparkSession, stage: str, compute
    ) -> tuple[DataFrame, bool]:
        """Returns (df, resumed): resumed=True when read from checkpoint.

        Reads resolve to the store's OWN session when it has one (a
        catalog-owning backend can only serve its catalog's tables);
        ``spark`` serves session-agnostic backends like the parquet
        shim. Keeping the resolution here means both backends see the
        same contract (ADVICE r5) and read_stage can refuse a foreign
        session loudly instead of silently substituting its own."""
        rs = getattr(self, "spark", None) or spark
        if self.is_complete(stage):
            return self.read_stage(rs, stage), True
        self.write_stage(stage, compute())
        return self.read_stage(rs, stage), False


class CheckpointStore(_StoreBase):
    def __init__(self, root: str, config_hash: str):
        self.root = Path(root)
        self.config_hash = config_hash
        (self.root / MANIFEST_DIR).mkdir(parents=True, exist_ok=True)

    # -- manifest -----------------------------------------------------
    def _manifest_path(self, stage: str) -> Path:
        return self.root / MANIFEST_DIR / f"{stage}.json"

    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not p.exists():
            return None
        return json.loads(p.read_text())

    def manifests(self) -> list[dict]:
        return [
            json.loads(p.read_text())
            for p in sorted((self.root / MANIFEST_DIR).glob("*.json"))
        ]

    def is_complete(self, stage: str) -> bool:
        m = self.manifest(stage)
        return (
            m is not None
            and m["status"] == "complete"
            and m["config_hash"] == self.config_hash
        )

    # -- stage io -----------------------------------------------------
    def stage_path(self, stage: str) -> str:
        return str(self.root / stage)

    def write_stage(
        self, stage: str, df: DataFrame | pa.Table | SketchPass,
        meta: dict | None = None,
    ) -> None:
        """Write a stage table + manifest with per-WRITE-TASK lineage.

        A DataFrame is written by Spark; a ``pyarrow.Table`` by
        ``pq.write_table`` on the driver, as one part file (task 0), with
        no Spark job; a :class:`SketchPass` by its own tasks
        (:func:`_write_sketch_parts`), one part file each.

        Each parquet part file is the output of exactly one write task,
        so lineage = (part file, row count from its parquet footer) audits
        what each task actually produced (G7) — unlike a re-scan, whose
        partitioning reflects the read side, not the write. Footers are
        read driver-side (metadata only, no data scan). On Iceberg this
        maps to the snapshot's manifest-entry (file, record_count) list.

        ``meta``: small JSON-able dict stored verbatim in the manifest
        (e.g. the compaction's folded-batch set) — the writer's own
        bookkeeping, opaque to the store.

        ``schema``: the Spark schema (StructType JSON) of the first part
        file: the one Spark records in its footer under
        ``SPARK_SCHEMA_KEY``, else ``from_arrow_schema`` of its Arrow
        schema. :meth:`read_stage` pins it so a read runs no
        schema-inference job.
        """
        t0 = time.time()
        tmp = self.stage_path(stage) + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if isinstance(df, DataFrame):
            df.write.mode("overwrite").parquet(tmp)
        else:
            Path(tmp).mkdir(parents=True)
            if isinstance(df, SketchPass):
                _write_sketch_parts(df, tmp)
            else:
                pq.write_table(df, f"{tmp}/{ARROW_PART}")
        self._commit(stage, tmp, t0, meta)

    def _commit(
        self, stage: str, tmp: str, t0: float, meta: dict | None
    ) -> None:
        """Move the written ``tmp`` directory into place and write the
        stage's manifest (see :meth:`write_stage`)."""
        lineage = []
        schema = None
        for part in sorted(Path(tmp).glob("part-*.parquet")):
            pf = pq.ParquetFile(part)
            lineage.append(
                {
                    "file": part.name,
                    "task_id": int(part.name.split("-")[1]),
                    "rows": pf.metadata.num_rows,
                }
            )
            if schema is None:
                raw = (pf.metadata.metadata or {}).get(SPARK_SCHEMA_KEY)
                schema = (
                    json.loads(raw) if raw
                    else from_arrow_schema(pf.schema_arrow).jsonValue()
                )
        n_rows = sum(e["rows"] for e in lineage)
        path = self.stage_path(stage)
        shutil.rmtree(path, ignore_errors=True)
        Path(tmp).rename(path)
        self._manifest_path(stage).write_text(
            json.dumps(
                {
                    "stage": stage,
                    "status": "complete",
                    "rows": n_rows,
                    "partitions": lineage,
                    "wall_ms": int((time.time() - t0) * 1000),
                    "config_hash": self.config_hash,
                    "ts": time.time(),
                    "meta": meta or {},
                    "schema": schema,
                }
            )
        )

    def _dataset(self, stage: str) -> ds.Dataset:
        # the default ignore prefixes skip Spark's _SUCCESS and .crc files
        return ds.dataset(self.stage_path(stage), format="parquet")

    def read_table(
        self, stage: str, columns: list[str], filter=None
    ) -> pa.Table:
        """The stage's ``columns``, with the rows ``filter`` (a
        ``pyarrow.dataset`` expression) keeps, read on the driver through
        ``pyarrow.dataset``: no Spark job."""
        return self._dataset(stage).to_table(columns=columns, filter=filter)

    def concat_stages(
        self, sources: list[str], dest: str, meta: dict | None = None
    ) -> None:
        """Write stage ``dest`` as the rows of every ``sources`` stage:
        a streaming ``pyarrow.dataset`` rewrite into one part file on the
        driver, one record batch in memory at a time, with no Spark job.
        Schemas unify permissively: a column some sources lack reads null
        and types widen, so stages sketched before the store dropped
        winnow fingerprints fold with later ones."""
        t0 = time.time()
        parts = [self._dataset(s) for s in sources]
        # unify_schemas keeps the first source's metadata, whose Spark
        # footer schema would misdescribe the union
        schema = pa.unify_schemas(
            [p.schema for p in parts], promote_options="permissive"
        ).remove_metadata()
        tmp = self.stage_path(dest) + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        Path(tmp).mkdir(parents=True)
        with pq.ParquetWriter(f"{tmp}/{ARROW_PART}", schema) as out:
            for batch in ds.dataset(parts, schema=schema).to_batches():
                out.write_batch(batch)
        self._commit(dest, tmp, t0, meta)

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        """Read a stage against the schema its manifest recorded — no
        footer-inference job. A manifest without one (older store, or a
        stage written without part files) falls back to inference."""
        m = self.manifest(stage)
        reader = spark.read
        if m is not None and m.get("schema"):
            reader = reader.schema(StructType.fromJson(m["schema"]))
        return reader.parquet(self.stage_path(stage))

    def invalidate_from(self, stages: list[str], failed: str) -> None:
        """Drop manifests for ``failed`` and everything after it."""
        idx = stages.index(failed)
        for s in stages[idx:]:
            self._manifest_path(s).unlink(missing_ok=True)
            shutil.rmtree(self.stage_path(s), ignore_errors=True)


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of configured Spark catalogs backed by Iceberg (empty when
    the runtime has no Iceberg jar or no catalog configured)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — jar probe
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        return []
    out = []
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and (
            "iceberg" in v.lower()
        ):
            out.append(k.rsplit(".", 1)[1])
    return sorted(out)  # deterministic selection when several configured


def _stage_ident(catalog: str, namespace: str, stage: str) -> str:
    """Fully-qualified Iceberg table identifier for a stage (pure —
    unit-testable without the jar)."""
    safe = stage.replace("-", "_").replace(".", "_")
    return f"{catalog}.{namespace}.ckpt_{safe}"


def _same_session(a: SparkSession, b: SparkSession) -> bool:
    """Whether two session handles wrap the same JVM session."""
    if a is b:
        return True
    ja = getattr(a, "_jsparkSession", None)
    jb = getattr(b, "_jsparkSession", None)
    return ja is not None and jb is not None and ja.equals(jb)


class IcebergCheckpointStore(_StoreBase):
    """CheckpointStore contract over real Iceberg tables (SURVEY §7 hard
    part 6). Selected by :func:`make_store` only when the runtime has the
    Iceberg jar AND a configured Iceberg catalog; the sandbox has
    neither, so this class is exercised there only through its pure
    helpers and the factory's fallback path — the body maps 1:1 onto the
    shim's semantics:

    - ``write_stage`` -> ``df.writeTo(ident).createOrReplace()`` (an
      atomic snapshot commit replaces the shim's tmp-dir rename);
      per-write-task lineage comes from the snapshot's own manifest
      entries (the ``<table>.files`` metadata table: file_path,
      record_count) instead of driver-side parquet footer reads.
    - completion + config-hash are snapshot-visible table properties,
      set ATOMICALLY in the same snapshot commit as the data
      (``tableProperty`` on the writeTo builder — ADVICE r4: a separate
      ALTER left a stale-marker crash window); ``is_complete`` checks
      them.
    - ``invalidate_from`` drops the stage tables (Iceberg DROP TABLE
      PURGE), mirroring the shim's rmtree.
    """

    def __init__(
        self, spark: SparkSession, catalog: str, namespace: str,
        config_hash: str,
    ):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.config_hash = config_hash
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"
        )

    def _ident(self, stage: str) -> str:
        return _stage_ident(self.catalog, self.namespace, stage)

    def _props(self, stage: str) -> dict:
        try:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {self._ident(stage)}"
            ).collect()
        except Exception:
            return {}
        return {r["key"]: r["value"] for r in rows}

    def is_complete(self, stage: str) -> bool:
        p = self._props(stage)
        return (
            p.get("sketchy.status") == "complete"
            and p.get("sketchy.config_hash") == self.config_hash
        )

    def manifest(self, stage: str) -> dict | None:
        p = self._props(stage)
        if "sketchy.status" not in p:
            return None
        lineage = [
            {"file": r["file_path"], "rows": r["record_count"]}
            for r in self.spark.read.table(
                f"{self._ident(stage)}.files"
            ).select("file_path", "record_count").collect()
        ]
        return {
            "stage": p.get("sketchy.stage", stage),
            "status": p["sketchy.status"],
            "config_hash": p.get("sketchy.config_hash"),
            "rows": sum(e["rows"] for e in lineage),
            "partitions": lineage,
            "meta": json.loads(p.get("sketchy.meta", "{}")),
        }

    def manifests(self) -> list[dict]:
        """All stage manifests in the namespace (the shim's directory
        listing, expressed as SHOW TABLES over ``ckpt_*``). The stage
        name comes from the ``sketchy.stage`` property, not un-mangling
        the table identifier (``_stage_ident`` is not reversible)."""
        rows = self.spark.sql(
            f"SHOW TABLES IN {self.catalog}.{self.namespace}"
        ).collect()
        out = []
        for r in rows:
            name = r["tableName"]
            if not name.startswith("ckpt_"):
                continue
            p = self._props_by_table(name)
            if "sketchy.stage" not in p:
                continue
            m = self.manifest(p["sketchy.stage"])
            if m is not None:
                out.append(m)
        return sorted(out, key=lambda m: m["stage"])

    def _props_by_table(self, table_name: str) -> dict:
        try:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {self.catalog}.{self.namespace}."
                f"{table_name}"
            ).collect()
        except Exception:
            return {}
        return {r["key"]: r["value"] for r in rows}

    def write_stage(
        self, stage: str, df: DataFrame | pa.Table | SketchPass,
        meta: dict | None = None,
    ) -> None:
        """One ATOMIC createOrReplace commit carrying the completion
        properties (ADVICE r4): the former separate ALTER TABLE left a
        crash window where Iceberg's REPLACE had preserved a stale
        'complete' marker (old config_hash) on freshly replaced data —
        a later run at the old hash would wrongly resume from it. With
        the properties on the writeTo builder itself, status=complete
        exists only in the same snapshot commit as the data. A
        ``pyarrow.Table`` is written as a local frame of the store's
        session, a :class:`SketchPass` as its ``mapInArrow`` frame."""
        if isinstance(df, pa.Table):
            df = self.spark.createDataFrame(df)
        elif isinstance(df, SketchPass):
            df = df.frame()
        self._create_or_replace(
            self._ident(stage),
            df,
            {
                "sketchy.status": "complete",
                "sketchy.stage": stage,
                "sketchy.config_hash": self.config_hash,
                "sketchy.meta": json.dumps(meta or {}),
            },
        )

    def _create_or_replace(
        self, ident: str, df: DataFrame, props: dict[str, str]
    ) -> None:
        """The single non-SQL executor boundary (seam for the no-jar
        contract tests, VERDICT r4 #3): everything else the store does
        goes through ``self.spark.sql`` / ``spark.read.table``."""
        w = df.writeTo(ident).using("iceberg")
        for k, v in props.items():
            w = w.tableProperty(k, v)
        w.createOrReplace()

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        # Reads go through the store's own session — the one whose
        # catalog holds the tables. The parquet shim honors the
        # parameter, so a caller handing a DIFFERENT session here would
        # silently diverge between backends (ADVICE r5): refuse loudly.
        # Sessions compare by their JVM session, so another Python
        # wrapper of the store's session is accepted.
        if spark is not None and not _same_session(spark, self.spark):
            raise ValueError(
                "IcebergCheckpointStore serves reads through the session "
                "that owns its catalog; pass that session (or None)"
            )
        return self.spark.read.table(self._ident(stage))

    def read_table(
        self, stage: str, columns: list[str], filter=None
    ) -> pa.Table:
        """:meth:`CheckpointStore.read_table` through the store's
        session; ``filter`` applies to the collected table, so it may
        name only ``columns``."""
        tbl = self.read_stage(None, stage).select(*columns).toArrow()
        return tbl if filter is None else tbl.filter(filter)

    def concat_stages(
        self, sources: list[str], dest: str, meta: dict | None = None
    ) -> None:
        """:meth:`CheckpointStore.concat_stages` as a union of the source
        tables (a column some lack reads null) written by one
        createOrReplace."""
        self.write_stage(
            dest,
            reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                [self.read_stage(None, s) for s in sources],
            ),
            meta,
        )

    def invalidate_from(self, stages: list[str], failed: str) -> None:
        for s in stages[stages.index(failed):]:
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self._ident(s)} PURGE"
            )


def make_store(
    spark: SparkSession, root: str, config_hash: str,
    namespace: str = "sketchy_ckpt",
):
    """Checkpoint-store factory: a real Iceberg store when the runtime
    provides the jar + a configured Iceberg catalog, else the parquet
    shim rooted at ``root``. Same API either way, so
    ``pipeline.run_pipeline(store=...)`` and the incremental ingest are
    backend-agnostic."""
    cats = iceberg_catalogs(spark)
    if cats:
        return IcebergCheckpointStore(spark, cats[0], namespace, config_hash)
    return CheckpointStore(root, config_hash)


# The stages ``pipeline.run_pipeline(store=...)`` writes, in run order:
# invalidate_from(STAGES, s) drops s and every stage computed from it.
STAGES = ["signatures", "edges", "clusters", "containment"]
