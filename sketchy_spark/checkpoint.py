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
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST_DIR = "_manifest"
# Footer key under which Spark's parquet writer stores the row schema.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


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
        self, stage: str, df: DataFrame, meta: dict | None = None
    ) -> None:
        """Write a stage table + manifest with per-WRITE-TASK lineage.

        Each parquet part file is the output of exactly one write task,
        so lineage = (part file, row count from its parquet footer) audits
        what each task actually produced (G7) — unlike a re-scan, whose
        partitioning reflects the read side, not the write. Footers are
        read driver-side (metadata only, no data scan). On Iceberg this
        maps to the snapshot's manifest-entry (file, record_count) list.

        ``meta``: small JSON-able dict stored verbatim in the manifest
        (e.g. the compaction's folded-batch set) — the writer's own
        bookkeeping, opaque to the store.

        ``schema``: the Spark schema (StructType JSON) Spark records in
        every part footer under ``SPARK_SCHEMA_KEY``, taken from the
        first footer already opened for lineage; :meth:`read_stage`
        pins it so a read runs no schema-inference job.
        """
        t0 = time.time()
        path = self.stage_path(stage)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        import pyarrow.parquet as pq

        lineage = []
        schema = None
        for part in sorted(Path(tmp).glob("part-*.parquet")):
            footer = pq.ParquetFile(part).metadata
            lineage.append(
                {
                    "file": part.name,
                    "task_id": int(part.name.split("-")[1]),
                    "rows": footer.num_rows,
                }
            )
            raw = (footer.metadata or {}).get(SPARK_SCHEMA_KEY)
            if schema is None and raw:
                schema = json.loads(raw)
        n_rows = sum(e["rows"] for e in lineage)
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
        self, stage: str, df: DataFrame, meta: dict | None = None
    ) -> None:
        """One ATOMIC createOrReplace commit carrying the completion
        properties (ADVICE r4): the former separate ALTER TABLE left a
        crash window where Iceberg's REPLACE had preserved a stale
        'complete' marker (old config_hash) on freshly replaced data —
        a later run at the old hash would wrongly resume from it. With
        the properties on the writeTo builder itself, status=complete
        exists only in the same snapshot commit as the data."""
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
        if spark is not None and spark is not self.spark:
            raise ValueError(
                "IcebergCheckpointStore serves reads through the session "
                "that owns its catalog; pass that session (or None)"
            )
        return self.spark.read.table(self._ident(stage))

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
    run_pipeline_checkpointed and the incremental ingest are
    backend-agnostic."""
    cats = iceberg_catalogs(spark)
    if cats:
        return IcebergCheckpointStore(spark, cats[0], namespace, config_hash)
    return CheckpointStore(root, config_hash)


STAGES = ["signatures", "edges", "clusters", "containment"]


def run_pipeline_checkpointed(
    files: DataFrame, cfg, store: CheckpointStore
) -> dict:
    """Checkpointed end-to-end run; each completed stage is skipped on
    resume. Returns {stage: DataFrame} plus a ``resumed`` map."""
    from sketchy_spark.operators.cluster import assign_clusters
    from sketchy_spark.operators.lsh import candidate_pairs, exact_dup_edges
    from sketchy_spark.operators.sketch import sketch_files
    from sketchy_spark.operators.verify import verified_pairs_cascade
    from sketchy_spark.pipeline import containment_pairs

    spark = files.sparkSession
    resumed: dict[str, bool] = {}

    signatures, resumed["signatures"] = store.get_or_compute(
        spark, "signatures", lambda: sketch_files(files, cfg)
    )

    held: list[DataFrame] = []

    def _edges():
        # candidate_pairs is lazy (single-evaluation contract) but the
        # cascade reads the pair frame more than once; persist it for the
        # duration of the stage write, released right after with the
        # scan-side cascade's own caches. The signature count comes from
        # the stage manifest, so sizing the cascade runs no count job.
        cand = candidate_pairs(signatures, cfg).persist()
        held.append(cand)
        ver = verified_pairs_cascade(
            cand, signatures, cfg,
            n_files=store.manifest("signatures")["rows"], persisted=held,
        )
        return (
            exact_dup_edges(signatures)
            .unionByName(ver.select("a_id", "b_id"))
            .distinct()
        )

    edges, resumed["edges"] = store.get_or_compute(spark, "edges", _edges)
    for df in held:  # stage parquet is written; the cache served its job
        df.unpersist()

    clusters, resumed["clusters"] = store.get_or_compute(
        spark, "clusters", lambda: assign_clusters(signatures, edges)
    )
    containment, resumed["containment"] = store.get_or_compute(
        spark,
        "containment",
        lambda: containment_pairs(signatures, files, cfg),
    )
    return {
        "signatures": signatures,
        "edges": edges,
        "clusters": clusters,
        "containment": containment,
        "resumed": resumed,
    }
