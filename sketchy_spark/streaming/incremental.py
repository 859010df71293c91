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

Per-batch work follows the verify passes' resident rule
(operators/verify.py): while the accumulated store fits the 30 MB
``RESIDENT_BYTES`` budget, judged from the stage manifests' row counts,
the batch's one Spark job is its sketch write, which also stores each
file's ``band_keys`` (:func:`band_keys_expr`, the one band-hash
implementation), and the bytes after it move with Arrow on the driver,
as the reference re-ranks its in-memory sketch collection on every
arrival (src/sketchy.rs:81). On the parquet shim (checkpoint.py) that
means no further Spark job: ``store.read_table`` reads the stored
signature columns, the driver runs the new x all band join, the
exact-sha anchors and the cascade's numpy core on them, one filtered
``read_table`` per stage fetches the borderline files' stored ``sig``,
the edges stage is written as an Arrow table, compaction is
``store.concat_stages`` and :meth:`IncrementalDedup.clusters` labels the
files on the driver. The Iceberg store moves the same tables through its
session. Above the budget, or when the pair codes or the borderline sigs
would overflow it, the batch hands over to the same computation as Spark
stages, with identical rows, and the clusters come from
:func:`assign_clusters`. Every stage is read back against the Spark
schema its manifest recorded, so no read runs a schema-inference job
(checkpoint.py ``read_stage``).

True sub-second streaming would swap the batch source for
``readStream`` + ``applyInPandasWithState``; the north rule requires
resumable incremental batches, which is what this is.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from sketchy_spark.checkpoint import CheckpointStore
from sketchy_spark.config import SketchConfig
from sketchy_spark.operators import verify
from sketchy_spark.operators.cluster import (
    assign_clusters,
    least_member_labels,
)
from sketchy_spark.operators.lsh import (
    band_keys_expr,
    band_table,
    driver_band_pairs,
    driver_exact_edges,
    hot_band_keys,
    hub_stars,
)
from sketchy_spark.operators.sketch import sketch_files

# Unused here, but perfbench/spans.py wraps this module's name for it.
from sketchy_spark.operators.verify import verified_pairs  # noqa: F401

# Stored signature columns the resident batch reads.
_RESIDENT_COLS = [
    "file_id", "sha256", "sig_perm", "simhash", "n_shingles", "band_keys",
]
# Driver bytes counted for one file_id string.
_ID_BYTES = 64


def _resident_row_bytes(cfg: SketchConfig) -> int:
    """Driver bytes per stored file in the resident batch's read:
    sig_perm (4 B a slot), band keys (8 B a band), simhash, n_shingles
    and the flag (24 B), the sha256 hex (64 B) and the file_id."""
    return cfg.num_perm * 4 + 8 * cfg.bands + 24 + 64 + _ID_BYTES


def _sig_stage(files: DataFrame, cfg: SketchConfig) -> DataFrame:
    """A batch's ``sig_batch`` stage: the sketch without winnow
    fingerprints, which nothing on the incremental path reads, plus the
    ``band_keys`` of :func:`band_keys_expr`, computed in the same write
    job."""
    return sketch_files(files, cfg, with_fp=False).select(
        "*", band_keys_expr(cfg).alias("band_keys")
    )


def _concat(tables: list[pa.Table]) -> pa.Table:
    # stages written by Spark and by Arrow may differ in nullability
    return pa.concat_tables(tables, promote_options="permissive")


def _new_vs_all_candidates(
    new_sigs: DataFrame, prev_sigs: DataFrame | None, cfg: SketchConfig
) -> DataFrame:
    """Band join restricted to pairs touching a new file: the incremental
    form of G1. Work is O(|new| x collision) instead of O(|all|²).

    The batch bands each side once — ``new_bands`` and ``prev_bands``,
    whose union is the accumulated band table — and collects its hot set
    (> cap members in the accumulated corpus) in ONE job. An empty hot
    set, the usual case, leaves a plain cold join: no anti-joins and no
    hub branch. A non-empty one comes back as a small broadcast table
    (the ``candidate_pairs_fid`` over-cap fallback's shape), so the
    joins that consume it never re-plan the band aggregation.

    Hot band keys are excluded from the all-pairs join and handled like
    the batch path's salted stars (operators/lsh.py): each NEW member of
    a hot band pairs with the band's hub, so an over-cap near-dup clique
    keeps absorbing arrivals through its hub instead of silently
    dropping them — O(|new|) extra candidates.

    The hub MUST come from the pre-batch corpus when the band has prior
    members: taking min(file_id) over the accumulated bands (old bug)
    let a new arrival that sorts below all existing members become the
    hub itself — it then matched the ``file_id != hub`` filter nowhere,
    got zero edges, and every other new member linked only to it,
    splitting the clique from its previously-ingested component. With a
    pre-batch hub every new member (including a new global minimum)
    links into the existing component; the batch-local minimum is the
    hub only for bands with no prior members at all.
    """
    new_bands = band_table(new_sigs, cfg)
    prev_bands = band_table(prev_sigs, cfg) if prev_sigs is not None else None
    all_bands = (
        prev_bands.unionByName(new_bands)
        if prev_bands is not None
        else new_bands
    )
    hot_keys = [
        r["band_key"]
        for r in hot_band_keys(all_bands, cfg.band_skew_cap).collect()
    ]

    new_cold, all_cold = new_bands, all_bands
    if hot_keys:
        hot = F.broadcast(
            new_sigs.sparkSession.createDataFrame(
                [(k,) for k in hot_keys], "band_key long"
            )
        )
        new_cold = new_bands.join(hot, "band_key", "left_anti")
        all_cold = all_bands.join(hot, "band_key", "left_anti")
    n = new_cold.select(F.col("file_id").alias("n_id"), "band_key")
    m = all_cold.select(F.col("file_id").alias("m_id"), "band_key")
    pairs = (
        n.join(m, "band_key")
        .where(F.col("n_id") != F.col("m_id"))
        .select(
            F.least("n_id", "m_id").alias("a_id"),
            F.greatest("n_id", "m_id").alias("b_id"),
        )
    )
    if not hot_keys:
        return pairs.distinct()
    batch_hub = (
        new_bands.join(hot, "band_key", "left_semi")
        .groupBy("band_key")
        .agg(F.min("file_id").alias("bhub"))
    )
    if prev_bands is not None:
        prev_hub = (
            prev_bands.join(hot, "band_key", "left_semi")
            .groupBy("band_key")
            .agg(F.min("file_id").alias("phub"))
        )
        hubs = batch_hub.join(prev_hub, "band_key", "left").select(
            "band_key", F.coalesce("phub", "bhub").alias("hub")
        )
    else:
        hubs = batch_hub.select("band_key", F.col("bhub").alias("hub"))
    hot_star = (
        new_bands.join(F.broadcast(hubs), "band_key")
        .where(F.col("file_id") != F.col("hub"))
        .select(
            F.least("file_id", "hub").alias("a_id"),
            F.greatest("file_id", "hub").alias("b_id"),
        )
    )
    return pairs.unionByName(hot_star).distinct()


def _incremental_exact_edges(
    new_sigs: DataFrame, prev_sigs: DataFrame | None
) -> DataFrame:
    """Sha-identical edges touching the new batch only, O(|new|) output.

    Each new file links to its sha-group's anchor: the group minimum of
    the PREVIOUS corpus when the sha was already seen (keeps the new
    member connected to the existing component), else the batch-local
    minimum. Connectivity is what connected components needs — the edge
    sets differ from the single-shot run, the clusters do not.
    """
    batch_min = new_sigs.groupBy("sha256").agg(
        F.min("file_id").alias("bhub")
    )
    if prev_sigs is not None:
        prev_min = prev_sigs.groupBy("sha256").agg(
            F.min("file_id").alias("phub")
        )
        anchors = batch_min.join(prev_min, "sha256", "left").select(
            "sha256", F.coalesce("phub", "bhub").alias("hub")
        )
    else:
        anchors = batch_min.select("sha256", F.col("bhub").alias("hub"))
    return (
        new_sigs.select("sha256", "file_id")
        .join(anchors, "sha256")
        .where(F.col("file_id") != F.col("hub"))
        .select(F.col("hub").alias("a_id"), F.col("file_id").alias("b_id"))
    )


class _Collected(NamedTuple):
    """The resident batch's stored rows, with their file ranks."""

    tbl: pa.Table
    ids: np.ndarray     # distinct file_ids in string order
    first: np.ndarray   # each id's first row
    rank: np.ndarray    # each row's index into ids: rank order is id order
    is_new: np.ndarray  # each row's batch flag


def _resident_collect(prev: list[pa.Table], new: pa.Table) -> _Collected:
    """The rows of the previous stages' tables, then the new stage's
    (each with :data:`_RESIDENT_COLS`), flagged and ranked by file_id."""
    tbl = _concat([*prev, new])
    ids, first, rank = np.unique(
        tbl["file_id"].to_numpy(), return_index=True, return_inverse=True
    )
    is_new = np.arange(tbl.num_rows) >= tbl.num_rows - new.num_rows
    return _Collected(tbl, ids, first, rank, is_new)


def _driver_candidates(
    c: _Collected, cfg: SketchConfig, budget: int
) -> tuple[np.ndarray, np.ndarray, int] | None:
    """:func:`_new_vs_all_candidates` on the driver -> (a, b, budget
    left): rank pairs with a < b, the same set under the same hot-key and
    hub rule (:func:`~sketchy_spark.operators.lsh.driver_band_pairs` over
    the new rows, with :func:`~sketchy_spark.operators.lsh.hub_stars`).
    Returns None when the pair codes, 8 B each, exceed ``budget``."""
    return driver_band_pairs(
        c.tbl["band_keys"], c.rank, cfg, budget,
        hub_stars(c.rank, c.is_new), new=c.is_new,
    )


def _resident_batch_edges(
    store, stages: list[str], cfg: SketchConfig, budget: int
) -> pa.Table | None:
    """The batch's edges stage computed on the driver, as an Arrow table:
    the rows the hand-over path writes (:func:`_new_vs_all_candidates`
    verified by :func:`verified_pairs_cascade`, plus
    :func:`_incremental_exact_edges`), from the signature ``stages``,
    the new batch's last. The cascade's borderline files get their
    stored ``sig`` from one filtered ``read_table`` per stage; nothing
    is re-sketched.

    ``budget``: driver bytes left after the read. Returns None, for the
    caller to hand over to the Spark path, when the pair codes or the
    borderline sigs (8 * s B per file) would overflow it."""
    c = _resident_collect(
        [store.read_table(s, _RESIDENT_COLS) for s in stages[:-1]],
        store.read_table(stages[-1], _RESIDENT_COLS),
    )
    got = _driver_candidates(c, cfg, budget)
    if got is None:
        return None
    a, b, budget = got
    n = c.ids.size
    verified = a * n + b
    if a.size:

        def fetch(pos: np.ndarray) -> dict:
            wanted = ds.field("file_id").isin(
                pa.array(c.ids[pos], pa.string())
            )
            got = _concat([
                store.read_table(s, ["file_id", "sig"], filter=wanted)
                for s in stages
            ])
            return dict(zip(
                np.searchsorted(c.ids, got["file_id"].to_numpy()),
                got["sig"].to_numpy(),
            ))

        kept = verify._cascade_core(
            verify._sig_perm_matrix(c.tbl, cfg)[c.first],
            c.tbl["simhash"].to_numpy()[c.first],
            c.tbl["n_shingles"].to_numpy()[c.first],
            a, b, cfg, verify.CASCADE_MARGIN, budget, fetch,
        )
        if kept is None:
            return None
        verified = verified[kept[0]]
    hub, member = driver_exact_edges(
        c.tbl["sha256"].to_numpy(), c.rank, c.is_new
    )
    ea, eb = np.divmod(
        np.unique(np.concatenate([verified, hub * n + member])), n
    )
    return pa.table({
        "a_id": pa.array(c.ids[ea], pa.string()),
        "b_id": pa.array(c.ids[eb], pa.string()),
    })


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
        """Distinct verified + exact edges across every ingested batch.

        The distinct is load-bearing for EXTERNAL consumers (ADVICE r4):
        a batch retried after a LATER batch already landed re-emits the
        same cross-batch pairs in its own stage (each stage's internal
        distinct cannot see across stages), so the raw union may contain
        duplicate pairs. Connected components is insensitive to them
        (it deduplicates its symmetrized edge table anyway — see
        _distributed_components / union-find), which is why
        :meth:`clusters` and the ingest pairing read the raw stages;
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
        """Sketch one arriving batch, then band-join, verify and anchor
        it against the store, and write its edges stage.

        Where the edges are computed follows the verify passes' rule
        (``operators.verify.RESIDENT_BYTES``, 30 MB), decided from the
        stage manifests' row counts:

        - Resident, while the stored rows fit at
          :func:`_resident_row_bytes` each (sig_perm, band keys, simhash,
          n_shingles, sha256 and file_id; ~0.9 KB at the defaults): the
          sketch write is the batch's one Spark job.
          :func:`_resident_batch_edges` reads the previous and new
          signature stages with ``store.read_table`` and runs the new x
          all band join, the exact-sha anchors and the cascade on the
          driver, fetching the borderline files' stored ``sig`` with one
          filtered ``read_table`` per stage, and the edges stage is
          written as an Arrow table.
        - Hand-over, above the budget or when the pair codes (8 B each)
          or the borderline sigs (8 * s B per file) would overflow what
          the read left: :func:`_new_vs_all_candidates`,
          :func:`verified_pairs_cascade` scan-side and
          :func:`_incremental_exact_edges` as Spark stages over the
          stored signature frames. Both paths write identical rows.

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
            self.store.write_stage(stage_sig, _sig_stage(files, self.cfg))
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
        # not exist yet.
        prev_stages = [
            s for s in self.view_stages("sig") if s != stage_sig
        ]
        n_rows = sum(
            self.store.manifest(s)["rows"] for s in prev_stages + [stage_sig]
        )
        budget = verify.RESIDENT_BYTES - n_rows * _resident_row_bytes(
            self.cfg
        )
        edges = None
        if budget > 0:
            edges = _resident_batch_edges(
                self.store, prev_stages + [stage_sig], self.cfg, budget
            )
        held: list[DataFrame] = []
        if edges is None:
            new_sigs = self._union([stage_sig])
            prev_sigs = self._union(prev_stages)
            all_sigs = (
                prev_sigs.unionByName(new_sigs, allowMissingColumns=True)
                if prev_sigs is not None
                else new_sigs
            )
            cand = _new_vs_all_candidates(new_sigs, prev_sigs, self.cfg)
            ver = verify.verified_pairs_cascade(
                cand, all_sigs, self.cfg, resident=False, persisted=held
            ).select("a_id", "b_id")
            exact = _incremental_exact_edges(new_sigs, prev_sigs)
            edges = ver.unionByName(exact).distinct()
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

        While the file_ids and edge endpoints fit
        ``verify.RESIDENT_BYTES``, counted from the manifests, the store's
        tables are read with ``read_table`` and labeled on the driver by
        :func:`least_member_labels`, and the result is a local frame.
        Above it, :func:`assign_clusters` runs over the raw stage union,
        not the public :meth:`edges` view: CC dedupes its own edge table,
        so the view's distinct shuffle would be paid twice. Its edge
        count is the manifest sum, an upper bound under cross-stage
        retry duplicates, which can only shift the strategy cutoff
        toward the distributed (always-correct) path."""
        sig_stages = self.view_stages("sig")
        if not sig_stages:
            raise ValueError("no ingested batches")
        edge_stages = self.view_stages("edges")
        n_edges = self.n_edges()
        n_rows = sum(self.store.manifest(s)["rows"] for s in sig_stages)
        if (n_rows + 2 * n_edges) * _ID_BYTES > verify.RESIDENT_BYTES:
            return assign_clusters(
                self._union(sig_stages), self._union(edge_stages),
                n_edges=n_edges,
            )
        names = _concat(
            [self.store.read_table(s, ["file_id"]) for s in sig_stages]
        )["file_id"].to_numpy()
        ends = [names]
        if edge_stages:
            e = _concat([
                self.store.read_table(s, ["a_id", "b_id"])
                for s in edge_stages
            ])
            ends += [e["a_id"].to_numpy(), e["b_id"].to_numpy()]
        ids, vertex = np.unique(np.concatenate(ends), return_inverse=True)
        n = names.size
        m = (vertex.size - n) // 2
        labels = least_member_labels(ids, vertex[n:n + m], vertex[n + m:])
        return self.spark.createDataFrame(
            pd.DataFrame({"file_id": names, "cluster_id": labels[vertex[:n]]}),
            "file_id string, cluster_id string",
        )
