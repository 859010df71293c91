"""Incremental-arrival dedup (the reference's streaming analogue).

The reference's stream mode re-ranks after every read with a running
sum-of-shared state vector (``/root/reference/src/sketchy.rs:317-356``).
The dedup graft models incremental arrival as snapshot-increment batches
(SURVEY §1.5, §2.7 R38): each new batch is sketched, banded against the
*accumulated* signature store (new x all — never all x all), verified,
and the edge set grows monotonically; clusters are recomputed from the
full edge set (cheap: edges ≪ files). Invariant (FIXTURES §3): after N
batches the clusters equal the single-shot run on the union.

Write I/O is O(batch), not O(corpus): every batch APPENDS two immutable
stages — ``sig_batch_NNNNN`` and ``edges_batch_NNNNN`` — and the rolling
views (:meth:`IncrementalDedup.signatures` / :meth:`edges`) read the
newest ``*_compact_NNNNN`` snapshot plus the batch tail after it
(``compact_every`` bounds the tail; see the class docstring — without
compaction the union fan-in grows with every ingest). Nothing is ever
rewritten, and batch completion
has ONE terminal marker (the edges stage manifest), so a run killed at
any point resumes idempotently: re-ingesting a finished batch is a no-op,
and a batch that died between its two writes recomputes edges from its
already-stored signatures without duplicating rows (the r1 crash-window
bug: promoting a rewritten sig_all before the edges marker permanently
double-counted the batch).

Every stored key is a fid long (``with_fid``, operators/lsh.py): a
``sig_batch`` stage carries each file's ``fid``, computed in the
sketch's JVM select, and an ``edges_batch`` stage holds ``(a_fid,
b_fid)`` rows with a_fid < b_fid. The ``sig_batch`` stage is written by
the sketch tasks themselves: the store runs the batch's
:func:`sketch_pass` as one stage whose tasks sketch their rows and
write their own part files (checkpoint.py), so the 8 KB bottom-s
``sig`` never crosses back into the JVM. A batch runs the plain
pipeline's own edges stage (pipeline.py) over the stored signatures with
its new rows marked: new x all candidates under the one hot-band rule
(each new member of a hot band pairs with the band's pre-batch minimum),
the cascade, and exact-sha edges from each new row to its sha group's
pre-batch minimum.

Where the stage runs follows the verify passes' resident rule
(operators/verify.py): while the accumulated store fits the batch's
``DriverBudget`` ledger, judged from the stage manifests' row counts,
the batch's one Spark job is its sketch pass, and the bytes after it
move with Arrow on the driver, as the reference re-ranks its in-memory
sketch collection on every arrival (src/sketchy.rs:81). On the parquet
shim (checkpoint.py) that means no further Spark job:
``store.read_table`` reads the stored signature columns for the driver
kernel (``pipeline._resident_edges``), one filtered ``read_table`` per
stage fetches the borderline files' stored ``sig``, the edges stage is
written as an Arrow table, compaction is ``store.concat_stages`` and
:meth:`IncrementalDedup.clusters` labels the files on the driver. The
Iceberg store moves the same tables through its session. When the
rows, the pair codes or the borderline sigs do not fit the ledger, the
batch hands over to the Spark form (``pipeline._spark_edges``),
with identical rows, and the clusters come from
:func:`assign_clusters_fid`. Every stage is read back against the Spark
schema its manifest recorded, so no read runs a schema-inference job
(checkpoint.py ``read_stage``).

True sub-second streaming would swap the batch source for
``readStream`` + ``applyInPandasWithState``; the north rule requires
resumable incremental batches, which is what this is.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from sketchy_spark.checkpoint import CheckpointStore
from sketchy_spark.config import SketchConfig
from sketchy_spark.operators import verify
from sketchy_spark.operators.cluster import (
    CLUSTERS_SCHEMA,
    assign_clusters_fid,
    least_member_labels,
)
from sketchy_spark.operators.sketch import sketch_pass
from sketchy_spark.pipeline import (
    RESIDENT_COLS,
    _resident_edges,
    _resident_row_bytes,
    _spark_edges,
)

# Unused here, but perfbench/spans.py wraps this module's names for them.
from sketchy_spark.operators.cluster import assign_clusters  # noqa: F401
from sketchy_spark.operators.lsh import band_table  # noqa: F401
from sketchy_spark.operators.sketch import sketch_files  # noqa: F401
from sketchy_spark.operators.verify import verified_pairs  # noqa: F401


def _concat(tables: list[pa.Table]) -> pa.Table:
    # stages written by Spark and by Arrow may differ in nullability
    return pa.concat_tables(tables, promote_options="permissive")


def _stage_id(stage: str) -> int:
    return int(stage.rsplit("_", 1)[1])


class IncrementalDedup:
    """Accumulates signatures and verified edges across arriving batches
    through a CheckpointStore, so a killed run resumes at the last batch.

    ``compact_every``: after that many batch stages accumulate beyond the
    last compaction, fold them into one ``*_compact_NNNNN`` stage (the
    Iceberg-snapshot analogue). Without compaction the rolling views are
    an N-way unionByName of every batch ever ingested — N directory
    listings + N scan legs per read, unbounded over the job's lifetime.
    With it, a view reads 1 compact + <= compact_every tail stages.
    Compaction appends (never rewrites): raw batch stages stay on disk,
    so ``signatures(before=b)`` for b below the compact point still
    resolves from them, and a compaction killed mid-write is simply
    retried (its terminal marker is the edges_compact manifest)."""

    def __init__(self, spark: SparkSession, store: CheckpointStore,
                 cfg: SketchConfig, compact_every: int | None = None):
        self.spark = spark
        self.store = store
        self.cfg = cfg
        self.compact_every = compact_every

    # -- rolling views (compact snapshot + immutable batch tail) --------
    def _completed(self, prefix: str) -> list[str]:
        return sorted(
            m["stage"]
            for m in self.store.manifests()
            if m["stage"].startswith(prefix)
            and m["status"] == "complete"
            and m["config_hash"] == self.store.config_hash
        )

    def _union(self, stages: list[str]) -> DataFrame | None:
        # a catalog-owning store serves reads through its own session
        # (checkpoint.py get_or_compute has the same resolution)
        rs = getattr(self.store, "spark", None) or self.spark
        dfs = [self.store.read_stage(rs, s) for s in stages]
        if not dfs:
            return None
        # stages sketched before the store dropped winnow fingerprints
        # still carry them: a mixed union keeps the column, null where
        # a stage lacks it
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def _compacts(self, kind: str) -> list[tuple[int, set[int], str]]:
        """Completed compacts of ``kind`` as (fold_max, folded_ids, stage).

        ``folded_ids`` comes from the compact manifest's meta (written by
        :meth:`compact`); a pre-meta compact (older store) folded exactly
        the contiguous terminal-marked prefix, i.e. every completed batch
        id <= its fold_max — reconstructed here for back-compat."""
        batch_ids = {_stage_id(s) for s in self._completed(f"{kind}_batch_")}
        out = []
        for m in self.store.manifests():
            s = m["stage"]
            if not s.startswith(f"{kind}_compact_"):
                continue
            if (
                m["status"] != "complete"
                or m["config_hash"] != self.store.config_hash
            ):
                continue
            c = _stage_id(s)
            folded = (m.get("meta") or {}).get("folded")
            folded = (
                set(folded)
                if folded is not None
                else {i for i in batch_ids if i <= c}
            )
            out.append((c, folded, s))
        return out

    def view_stages(self, kind: str, before: int | None = None) -> list[str]:
        """Stages a rolling view reads: the newest usable compact plus
        every completed batch NOT folded into it. kind: 'sig' | 'edges'.

        Usable (given ``before``) means the compact folds only batches
        < ``before``; the tail is the completed batches outside the
        compact's folded set — which keeps a BACKFILLED batch (id below
        the compact's fold_max, ingested after it) visible in every view
        until a later compact folds it."""
        batches = self._completed(f"{kind}_batch_")
        if before is not None:
            batches = [s for s in batches if _stage_id(s) < before]
        usable = [
            (c, folded, s)
            for c, folded, s in self._compacts(kind)
            if before is None or all(i < before for i in folded)
        ]
        if not usable:
            return batches
        c, folded, stage = max(usable, key=lambda t: t[0])
        return [stage] + [s for s in batches if _stage_id(s) not in folded]

    def signatures(self, before: int | None = None) -> DataFrame | None:
        return self._union(self.view_stages("sig", before))

    def edges(self) -> DataFrame | None:
        """Distinct verified + exact ``(a_fid, b_fid)`` edges across every
        ingested batch.

        The distinct is load-bearing for EXTERNAL consumers (ADVICE r4):
        a batch retried after a LATER batch already landed re-emits the
        same cross-batch pairs in its own stage (each stage's internal
        distinct cannot see across stages), so the raw union may contain
        duplicate pairs. Connected components is insensitive to them
        (it deduplicates its symmetrized edge table anyway — see
        _distributed_components / union-find), which is why
        :meth:`clusters` reads the raw stages;
        the public view pays one edge-sized shuffle for set semantics.
        """
        raw = self._union(self.view_stages("edges"))
        return raw.distinct() if raw is not None else None

    def n_edges(self) -> int:
        """Edge-count UPPER BOUND from manifests alone (VERDICT r4 #7):
        the sum of every edge stage's recorded row count — no Spark
        action. Cross-stage retry duplicates may inflate it slightly
        (see :meth:`edges`), which only ever pushes the CC strategy
        choice toward 'distributed', the safe direction."""
        by_stage = {m["stage"]: m["rows"] for m in self.store.manifests()}
        return sum(by_stage[s] for s in self.view_stages("edges"))

    # -- compaction ------------------------------------------------------
    def compact(self) -> bool:
        """Fold batches into one compact stage pair; returns True when a
        new compaction was written. Append-only and idempotent: the
        edges_compact manifest is the terminal marker, a half-written
        compaction (sig stored, edges missing) is finished on retry from
        the folded set recorded in the sig compact's manifest meta, and
        raw batch stages are never deleted.

        The folded set is EXPLICIT: each compact's manifest meta records
        ``{"fold_max": c, "folded": [ids]}`` where c = the largest
        terminal-marked (edges-complete) batch id and folded = the
        previous compact's set plus every newly terminal-marked batch.
        Batch ids therefore need no contiguity — date-shaped ids
        (20240101, 20240103, ...) compact normally, and a BACKFILLED
        batch below an existing fold_max is folded by the next compact
        rather than silently dropped (it stays in the rolling tail until
        then: view_stages keeps every completed batch outside the folded
        set visible). The one deferral: a backfill arriving when no new
        batch has raised c keeps the same stage name ``*_compact_c`` —
        stages are immutable, so that compaction is skipped until a
        higher c exists. A half-ingested batch (sig stored, edges marker
        missing) is never folded — folding it double-counted its rows in
        every view (compact contained them AND the tail re-appended the
        batch)."""
        edge_ids = {_stage_id(s) for s in self._completed("edges_batch_")}
        sig_ids = {_stage_id(s) for s in self._completed("sig_batch_")}
        done_ids = edge_ids & sig_ids  # edges is terminal; & is belt+braces

        # Crash-retry first: a sig_compact_k whose edges_compact_k never
        # landed is finished from ITS OWN recorded folded set (not from
        # current state, which may have moved on). Raw batch stages are
        # never deleted, so the union is rebuildable verbatim.
        for k, folded, _s in sorted(
            self._compacts("sig"), key=lambda t: t[0]
        ):
            stage_edge = f"edges_compact_{k:05d}"
            if not self.store.is_complete(stage_edge):
                self.store.concat_stages(
                    [f"edges_batch_{i:05d}" for i in sorted(folded)],
                    stage_edge,
                    meta={"fold_max": k, "folded": sorted(folded)},
                )
                return True

        if not done_ids:
            return False
        c = max(done_ids)
        prev = self._compacts("edges")
        prev_folded: set[int] = (
            max(prev, key=lambda t: t[0])[1] if prev else set()
        )
        to_fold = done_ids - prev_folded
        stage_sig = f"sig_compact_{c:05d}"
        stage_edge = f"edges_compact_{c:05d}"
        if self.store.is_complete(stage_edge):
            return False  # name collision: backfill with unchanged c waits
        if not prev and len(to_fold) < 2:
            return False  # nothing to fold
        if not to_fold:
            return False
        folded = prev_folded | to_fold
        meta = {"fold_max": c, "folded": sorted(folded)}
        prev_sig = (
            [max(self._compacts("sig"), key=lambda t: t[0])[2]]
            if prev
            else []
        )
        prev_edge = [max(prev, key=lambda t: t[0])[2]] if prev else []
        self.store.concat_stages(
            prev_sig + [f"sig_batch_{i:05d}" for i in sorted(to_fold)],
            stage_sig,
            meta=meta,
        )
        self.store.concat_stages(
            prev_edge + [f"edges_batch_{i:05d}" for i in sorted(to_fold)],
            stage_edge,
            meta=meta,
        )
        return True

    # -- ingest ----------------------------------------------------------
    def ingest_batch(self, batch_id: int, files: DataFrame) -> None:
        """Sketch one arriving batch, then run the pipeline's edges stage
        over the store with the batch's rows marked new, and write its
        edges stage.

        Where the edges are computed follows the module docstring's
        resident rule, with one ``operators.verify.DriverBudget`` per
        batch: on the driver while its charges fit (the stored rows at
        ``pipeline._resident_row_bytes`` each, from the manifests, then
        the pair codes and the borderline sigs), else
        ``pipeline._spark_edges`` over the stored signature frames. Both
        paths write identical rows.

        Idempotent: the batch's edges stage is the single completion
        marker; a finished batch returns immediately, a half-finished one
        (signatures stored, edges missing) recomputes edges from the
        stored signatures — no rolling table is ever rewritten.
        """
        stage_sig = f"sig_batch_{batch_id:05d}"
        stage_edge = f"edges_batch_{batch_id:05d}"
        if self.store.is_complete(stage_edge):
            return  # terminal marker present -> fully ingested
        if not self.store.is_complete(stage_sig):
            # winnow fingerprints: nothing on the incremental path reads them
            self.store.write_stage(
                stage_sig, sketch_pass(files, self.cfg, with_fp=False)
            )
        # "prev" = every OTHER ingested batch, by INGEST-TIME order, not
        # id order: an out-of-order BACKFILL (id below already-ingested
        # ids) must still pair against the higher-id batches already in
        # the store — with id-ordered prev (signatures(before=batch_id),
        # the r4-early bug) a backfill's cross-batch pairs to higher ids
        # were never generated by either side. Every pair (x, y) is
        # covered by whichever batch ingests later. The new batch's own
        # sig stage is excluded by name; it can never hide inside a
        # compact here because compaction folds only terminal-marked
        # (edges-complete) batches and this batch's edges marker does
        # not exist yet. The new stage goes last.
        stages = [
            s for s in self.view_stages("sig") if s != stage_sig
        ] + [stage_sig]
        n_rows = sum(self.store.manifest(s)["rows"] for s in stages)
        budget, edges = verify.DriverBudget(), None
        if budget.charge(
            "rows", n_rows * _resident_row_bytes(self.cfg), strict=True
        ):
            tbl = _concat(
                [self.store.read_table(s, RESIDENT_COLS) for s in stages]
            )
            n_new = self.store.manifest(stage_sig)["rows"]
            is_new = np.arange(tbl.num_rows) >= tbl.num_rows - n_new

            def fetch(fids: np.ndarray) -> pa.Table:
                wanted = ds.field("fid").isin(pa.array(fids, pa.int64()))
                return _concat([
                    self.store.read_table(s, ["fid", "sig"], filter=wanted)
                    for s in stages
                ])

            got = _resident_edges(tbl, is_new, self.cfg, budget, fetch)
            if got is not None:
                first, _, _, _, (a, b) = got
                fids = tbl["fid"].to_numpy()[first]
                edges = pa.table({"a_fid": fids[a], "b_fid": fids[b]})
        held: list[DataFrame] = []
        if edges is None:
            sigs = self._union([stage_sig]).withColumn("is_new", F.lit(True))
            if len(stages) > 1:
                sigs = self._union(stages[:-1]).withColumn(
                    "is_new", F.lit(False)
                ).unionByName(sigs, allowMissingColumns=True)
            _, _, edges = _spark_edges(
                sigs, None, self.cfg, held, new=F.col("is_new")
            )
        self.store.write_stage(stage_edge, edges)
        for df in held:  # the stage is written; the caches served it
            df.unpersist()
        if self.compact_every:
            tail = [
                s for s in self.view_stages("edges") if "_batch_" in s
            ]
            if len(tail) >= self.compact_every:
                self.compact()

    def clusters(self) -> DataFrame:
        """(file_id, cluster_id) for every stored signature row, each
        label its component's least file_id (operators/cluster.py).

        While the fid and file_id of every row and the edge ends fit a
        ``verify.DriverBudget``, counted from the manifests, the store's
        tables are read with ``read_table`` and labeled on the driver by
        :func:`least_member_labels`, and the result is a local frame.
        Above it, :func:`assign_clusters_fid` runs over the raw stage
        union, not the public :meth:`edges` view: CC dedupes its own edge
        table, so the view's distinct shuffle would be paid twice. Its
        edge count is the manifest sum, an upper bound under cross-stage
        retry duplicates, which can only shift the strategy cutoff toward
        the distributed (always-correct) path."""
        sig_stages = self.view_stages("sig")
        if not sig_stages:
            raise ValueError("no ingested batches")
        edge_stages = self.view_stages("edges")
        n_edges = self.n_edges()
        n_rows = sum(self.store.manifest(s)["rows"] for s in sig_stages)
        # fid (8 B) and file_id (64 B) a row, two fids an edge
        held = 72 * n_rows + 16 * n_edges
        if not verify.DriverBudget().charge("labels", held):
            return assign_clusters_fid(
                self._union(sig_stages), self._union(edge_stages),
                n_edges=n_edges,
            )
        rows = _concat(
            [self.store.read_table(s, ["fid", "file_id"]) for s in sig_stages]
        )
        fids, first, rank = np.unique(
            rows["fid"].to_numpy(), return_index=True, return_inverse=True
        )
        a = b = np.empty(0, dtype=np.int64)
        if edge_stages:
            e = _concat([
                self.store.read_table(s, ["a_fid", "b_fid"])
                for s in edge_stages
            ])
            a = np.searchsorted(fids, e["a_fid"].to_numpy())
            b = np.searchsorted(fids, e["b_fid"].to_numpy())
        labels = least_member_labels(rows["file_id"].to_numpy()[first], a, b)
        return self.spark.createDataFrame(
            pa.table({"file_id": rows["file_id"], "cluster_id": labels[rank]}),
            CLUSTERS_SCHEMA,
        )
