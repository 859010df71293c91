"""The benchmark's workloads: seeded input staging, one timed iteration,
and the correctness checks that follow it outside the timed region.

Every workload drives ``sketchy_spark`` through its public API and hands it
only the parquet inputs staged here. An iteration's timed region starts at
the parquet read and ends when every output column has been written by a
parquet sink, the way the CLI writes its outputs.
"""

from __future__ import annotations

import hashlib
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import (
    BLOCK,
    FILES_COLUMNS,
    render_rows,
    truth_containment_pairs,
    truth_dup_pairs,
)

CFG = SketchConfig()

# Sizes fit one run (session start, staging, a cold warm-up iteration and
# the measured window) into about a minute on a 4-core host.
DENSE_BLOCKS = 6           # 80 dense positions per 200-row block -> 480 files
INGEST_FILES = 450
INGEST_BATCHES = 3
INGEST_COMPACT_EVERY = 2   # below the batch count: every iteration compacts
SHA_SAMPLE = 16
# The warm-up iteration runs on the first 1/WARM_FRACTION of the files.
WARM_FRACTION = 8
MIN_RECALL = 0.99
MIN_CONTAINMENT_RECALL = 0.9


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def write_parquet(pdf: pd.DataFrame, dest: Path, parts: int) -> None:
    """Write ``pdf`` as ``parts`` files, so the scan splits across cores."""
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
            dest / f"part-{i:05d}.parquet",
        )


def _truth(rows: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({
        "file_id": rows["repo"] + "/" + rows["path"],
        "cluster_id": rows["cluster_id"],
        "kind": rows["kind"],
    })


def cluster_pairs(clusters: pd.DataFrame) -> set[tuple[str, str]]:
    pairs: set[tuple[str, str]] = set()
    for _, grp in clusters.groupby("cluster_id"):
        members = sorted(grp["file_id"])
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pairs.add((a, b))
    return pairs


class Workload:
    """Seeded input plus the checks shared by the pipeline workloads."""

    name = ""
    n_files = 0

    def __init__(self, seed: int, parts: int, tracer) -> None:
        self.seed = seed
        self.parts = parts
        self.tracer = tracer

    # -- staging ---------------------------------------------------------
    def ids(self) -> np.ndarray:
        raise NotImplementedError

    def stage(self, dest: Path) -> None:
        """Render the seeded corpus rows and write them as parquet."""
        ids = self.ids()
        with self.tracer.span("corpus.render_rows", "corpus"):
            rows = render_rows(ids, self.seed)
        with self.tracer.span("corpus.truth", "corpus"):
            self.truth = _truth(rows)
            self.dup_pairs = truth_dup_pairs(self.truth)
            self.cont_pairs = truth_containment_pairs(self.truth)
        self.n_files = len(rows)
        self.content_bytes = int(rows["content"].str.len().sum())
        rng = np.random.default_rng(self.seed)
        sample = rng.choice(len(rows), size=SHA_SAMPLE, replace=False)
        self.sha_sample = {
            self.truth["file_id"].iat[i]: hashlib.sha256(
                rows["content"].iat[i].encode("utf-8")
            ).hexdigest()
            for i in sample
        }
        files = rows[FILES_COLUMNS]
        self.inputs = self.write_inputs(files, dest / "full")
        self.small_inputs = self.write_inputs(
            files.iloc[: len(files) // WARM_FRACTION], dest / "small"
        )

    def write_inputs(self, files: pd.DataFrame, dest: Path):
        write_parquet(files, dest, self.parts)
        return dest

    # -- checks (outside the timed region) -------------------------------
    def check_clusters(self, clusters: pd.DataFrame, out: dict) -> list[str]:
        errors = []
        ids = clusters["file_id"]
        if not ids.is_unique or set(ids) != set(self.truth["file_id"]):
            errors.append("clusters are not a partition of the input files")
        pred = cluster_pairs(clusters)
        hit = len(pred & self.dup_pairs)
        out["dup_pair_recall"] = hit / len(self.dup_pairs)
        out["dup_pair_precision"] = hit / len(pred) if pred else 1.0
        out["components"] = int(clusters["cluster_id"].nunique())
        if out["dup_pair_recall"] < MIN_RECALL:
            errors.append(f"dup_pair_recall {out['dup_pair_recall']:.4f}")
        return errors

    def check_sha(self, signatures) -> list[str]:
        import pyspark.sql.functions as F

        got = {
            r["file_id"]: r["sha256"]
            for r in signatures.where(
                F.col("file_id").isin(list(self.sha_sample))
            ).select("file_id", "sha256").collect()
        }
        if got != self.sha_sample:
            return ["sha256 spot-check of input rows failed"]
        return []


class DedupDense(Workload):
    """Only block positions 120-199: every file is an exact or near
    duplicate, a containment partner or a shared-header file. Containment
    is on."""

    name = "dedup_dense"

    def ids(self) -> np.ndarray:
        pos = np.arange(120, BLOCK)
        return np.concatenate(
            [b * BLOCK + pos for b in range(DENSE_BLOCKS)]
        )

    def run(self, spark, out_dir: Path, inputs: Path) -> dict:
        from sketchy_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        files = spark.read.parquet(str(inputs))
        with self.tracer.span("pipeline.run_pipeline", "pipeline"):
            res = run_pipeline(files, CFG, with_containment=True)
        with self.tracer.span("materialize.clusters", "materialize"):
            res.clusters.write.parquet(str(out_dir / "clusters"))
        with self.tracer.span("materialize.containment", "materialize"):
            res.containment.write.parquet(str(out_dir / "containment"))
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "result": res}

    def check(self, spark, out_dir: Path, it: dict) -> list[str]:
        clusters = pd.read_parquet(out_dir / "clusters")
        errors = self.check_clusters(clusters, it)
        cont = pd.read_parquet(out_dir / "containment")
        found = set(zip(cont["small_id"], cont["big_id"]))
        it["containment_recall"] = (
            len(found & self.cont_pairs) / len(self.cont_pairs)
        )
        it["containment_rows"] = len(cont)
        if it["containment_recall"] < MIN_CONTAINMENT_RECALL:
            errors.append(
                f"containment_recall {it['containment_recall']:.4f}"
            )
        errors += self.check_sha(it["result"].signatures)
        return errors

    def count_layers(self, spark, out_dir: Path, it: dict) -> dict:
        """Row counts for the traced iteration, taken after its timed
        region from the frames the pipeline persisted or returned."""
        import pyspark.sql.functions as F
        from sketchy_spark.operators.lsh import band_table, hot_band_keys

        res = it["result"]
        bands = band_table(res.signatures, CFG, id_col="fid")
        c = {
            "lsh.band_rows": bands.count(),
            "lsh.hot_keys": hot_band_keys(bands, CFG.band_skew_cap).count(),
            "lsh.candidates": res.candidates.count(),
            "verify.verified": res.verified.count(),
            "cluster.edges": res.edges.count(),
            "cluster.components": it["components"],
            "containment.fp_rows": res.signatures.select(
                F.explode("fingerprints")
            ).count(),
            "containment.verified": it["containment_rows"],
        }
        refined = 0
        for name, args, result in self.tracer.calls:
            if name == "verify.verified_pairs":
                c["verify.borderline"] = (
                    c.get("verify.borderline", 0) + args[0].count()
                )
                refined += result.count()
            elif name == "containment.containment_candidates":
                c["containment.candidates"] = (
                    c.get("containment.candidates", 0) + result.count()
                )
        c["verify.accepted"] = c["verify.verified"] - refined
        return c

    def release(self, spark, it: dict) -> int:
        res = it.get("result")
        if res is not None:
            res.unpersist()
        return spark.sparkContext._jsc.getPersistentRDDs().size()


class IncrementalIngest(Workload):
    """Planted files in interleaved batches (batch b holds ids with
    id % B == b), ingested through IncrementalDedup over a CheckpointStore;
    then the clusters are read."""

    name = "incremental_ingest"

    def ids(self) -> np.ndarray:
        return np.arange(INGEST_FILES)

    def write_inputs(self, files: pd.DataFrame, dest: Path) -> list[Path]:
        # the frame's index is the corpus row id
        paths = []
        for b in range(INGEST_BATCHES):
            path = dest / f"batch_{b:02d}"
            write_parquet(
                files[files.index % INGEST_BATCHES == b], path,
                max(1, self.parts // 2),
            )
            paths.append(path)
        return paths

    def run(self, spark, out_dir: Path, inputs: list[Path]) -> dict:
        from sketchy_spark.checkpoint import CheckpointStore
        from sketchy_spark.streaming.incremental import IncrementalDedup

        store = CheckpointStore(str(out_dir / "store"), CFG.config_hash)
        inc = IncrementalDedup(
            spark, store, CFG, compact_every=INGEST_COMPACT_EVERY
        )
        t0 = time.perf_counter()
        batch_s = []
        for b, path in enumerate(inputs):
            tb = time.perf_counter()
            inc.ingest_batch(b, spark.read.parquet(str(path)))
            batch_s.append(time.perf_counter() - tb)
        tc = time.perf_counter()
        clusters = inc.clusters()
        with self.tracer.span("materialize.clusters", "materialize"):
            clusters.write.parquet(str(out_dir / "clusters"))
        end = time.perf_counter()
        return {
            "wall_s": end - t0,
            "batch_s": batch_s,
            "clusters_read_s": end - tc,
            "inc": inc,
        }

    def check(self, spark, out_dir: Path, it: dict) -> list[str]:
        clusters = pd.read_parquet(out_dir / "clusters")
        errors = self.check_clusters(clusters, it)
        store_bytes = dir_bytes(out_dir / "store")
        it["store_bytes"] = store_bytes
        it["store_bytes_per_input_byte"] = store_bytes / self.content_bytes
        errors += self.check_sha(it["inc"].signatures())
        return errors

    def count_layers(self, spark, out_dir: Path, it: dict) -> dict:
        inc = it["inc"]
        c = {
            "checkpoint.bytes_written": it["store_bytes"],
            "incremental.view_stages": len(inc.view_stages("sig"))
            + len(inc.view_stages("edges")),
            "cluster.edges": inc.edges().count(),
            "cluster.components": it["components"],
        }
        for name, args, result in self.tracer.calls:
            if name == "verify.verified_pairs":
                n_cand = args[0].count()
                c["lsh.candidates"] = c.get("lsh.candidates", 0) + n_cand
                c["verify.borderline"] = c.get("verify.borderline", 0) + n_cand
                c["verify.verified"] = (
                    c.get("verify.verified", 0) + result.count()
                )
        return c

    def release(self, spark, it: dict) -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()


WORKLOADS = {w.name: w for w in (DedupDense, IncrementalIngest)}


def summarize_batches(iterations: list[dict]) -> dict:
    """Median and highest per-batch ingest time over every batch measured."""
    batch = [b for it in iterations for b in it.get("batch_s", ())]
    if not batch:
        return {}
    return {
        "ingest_batch_p50_s": statistics.median(batch),
        "ingest_tail_s": max(batch),
        "ingest_batches": len(batch),
    }
