"""LSH banding + candidate self-join (G1) — the scale replacement for the
reference's all-pairs nested loop (src/sketchy.rs:251-277).

b bands x r rows over the fixed-width permutation signature; files sharing
any band key become candidate pairs. With b=32, r=4 the capture probability
at Jaccard j is 1-(1-j^4)^32 (≥ 0.9998 at j=0.7), which is what makes the
recall ≥ 0.99 gate achievable without the O(n²) join.

Shuffle narrowness: every internal shuffle keys on ``fid`` — a 64-bit
xxhash of the string file_id — instead of the string itself, cutting
band/pair shuffle bytes ~4x. A fid collision can only create a spurious
CANDIDATE pair, which downstream Jaccard verification rejects, so
correctness never depends on fid uniqueness. Strings are re-attached only
to final (post-distinct) pair sets.

Skew (SURVEY §4.1): boilerplate-heavy shingles create hot band keys whose
self-join is quadratic. Defenses: (1) band keys hotter than
``cfg.band_skew_cap`` do not emit all-pairs — each new member pairs with
the band's HUB, its minimum fid before the batch, else its minimum (in a
plain run, where every row is new, a star to the band's minimum fid),
keeping recall (members stay connectable through the hub) at O(group)
instead of O(group²) cost; (2) AQE skew-join splitting handles residual
skew. The one rule has a Spark form (:func:`candidate_pairs_fid`), which
groups by band key, and a driver form (:func:`driver_band_pairs`), which
groups by the exact slot tuple, and the incremental batch runs the same
two with a new-rows mask.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from sketchy_spark.config import SketchConfig
from sketchy_spark.operators.verify import DriverBudget, _group_pair_codes


def with_fid(signatures: DataFrame) -> DataFrame:
    """Attach the narrow internal id (fid = xxhash64(file_id)) if absent."""
    if "fid" in signatures.columns:
        return signatures
    return signatures.withColumn("fid", F.xxhash64("file_id"))


def _new_flag(new: Column | None) -> Column:
    """The rows' ``is_new`` column: ``new``, or True for every row."""
    return (F.lit(True) if new is None else new).alias("is_new")


def exact_dup_edges_fid(
    signatures: DataFrame, new: Column | None = None
) -> DataFrame:
    """Star edges (a_fid, b_fid), a_fid < b_fid, within identical-sha256
    groups: each row ``new`` marks (a boolean Column, the incremental
    batch's flag; None marks every row, the plain run) links to its
    group's minimum fid before the batch, else to its minimum. Exact
    duplicates connect in O(group) edges, shuffling (sha256, fid) rows
    only.

    Needed despite LSH catching identical content too: degenerate
    identical files (empty / shorter than a shingle) have no shingles, so
    the Jaccard estimator scores them 0 — sha equality is the only signal
    that pairs them."""
    from pyspark.sql import Window

    w = Window.partitionBy("sha256")
    fid, is_new = F.col("fid"), F.col("is_new")
    return (
        with_fid(signatures)
        .select("sha256", "fid", _new_flag(new))
        .withColumn(
            "hub",
            F.coalesce(
                F.min(F.when(~is_new, fid)).over(w), F.min(fid).over(w)
            ),
        )
        .where(is_new & (fid != F.col("hub")))
        .select(
            F.least("fid", "hub").alias("a_fid"),
            F.greatest("fid", "hub").alias("b_fid"),
        )
    )


def driver_exact_edges(
    sha256: np.ndarray, rank: np.ndarray, new: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`exact_dup_edges_fid` on one driver collect -> (a, b) file
    ranks, a < b: each row ``new`` flags links its file to its sha
    group's minimum rank before the batch, else to its minimum."""
    n = int(rank.max()) + 1 if rank.size else 0
    _, sha = np.unique(sha256, return_inverse=True)
    prev_min = np.full(sha.max() + 1 if sha.size else 0, n)
    group_min = prev_min.copy()
    np.minimum.at(prev_min, sha[~new], rank[~new])
    np.minimum.at(group_min, sha, rank)
    hub = np.where(prev_min < n, prev_min, group_min)[sha[new]]
    member = rank[new]
    keep = hub != member
    return np.minimum(hub, member)[keep], np.maximum(hub, member)[keep]


def band_keys_expr(cfg: SketchConfig):
    """array<long> of b band keys, computed from scalar element_at refs —
    stays in whole-stage codegen with no per-row array slicing.

    Band i hashes its int index with its r slots:
    ``xxhash64(i, element_at(sig_perm, i*r+1), ..., element_at(sig_perm,
    i*r+r))``. The expression is built as ONE SQL string parsed by a
    single ``F.expr`` call: composing it from Column objects costs one
    py4j round trip per node (b*(r+2) nodes, ~700 at b=32, r=4, ~0.2 s
    per call), while the parsed string gives the same executed plan."""
    r = cfg.rows_per_band
    bands = ", ".join(
        "xxhash64({}, {})".format(
            i,
            ", ".join(
                f"element_at(sig_perm, {i * r + j + 1})" for j in range(r)
            ),
        )
        for i in range(cfg.bands)
    )
    return F.expr(f"array({bands})")


def band_table(
    signatures: DataFrame, cfg: SketchConfig, id_col: str = "file_id"
) -> DataFrame:
    """(id, band_key) — one row per band per file.

    ``id_col='file_id'`` keeps the public string contract (streaming /
    tests); the pipeline's candidate generator shuffles fid longs instead.
    """
    src = with_fid(signatures) if id_col == "fid" else signatures
    return src.select(
        id_col, F.explode(band_keys_expr(cfg)).alias("band_key")
    )


def hot_band_keys(bands: DataFrame, cap: int) -> DataFrame:
    """Band keys with more than ``cap`` members (the skew set)."""
    return (
        bands.groupBy("band_key")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > cap)
        .select("band_key")
    )


# Above this many hot band keys a literal ``isin`` would bloat the plan
# (degenerate corpora: ~10^5+ distinct over-cap keys); the eager path
# then ships the collected keys back as a broadcast hot-key table.
HOT_LITERAL_MAX = 50_000


def candidate_pairs_fid(
    signatures: DataFrame, cfg: SketchConfig,
    persisted: list | None = None, new: Column | None = None,
) -> DataFrame:
    """Distinct candidate (a_fid, b_fid) longs with a_fid < b_fid, each
    touching a row ``new`` marks (a boolean Column over ``signatures``,
    the incremental batch's flag; None marks every row, the plain run),
    so a batch's work is new x all, never all x all.

    Two-pass plan (SURVEY §4.1 skew defense):

    1. A count groupBy finds the HOT band keys (> ``cfg.band_skew_cap``
       members).
    2. Each cold key collects its members in two lists, new and prior,
       each bounded by the cap, and emits every pair with a new member.
       A hot key runs only a ``min`` aggregate: its hub is its minimum
       prior fid, else its minimum, and each new member pairs with it
       (in a plain run, a star to the band's minimum). Every member of a
       true over-cap near-dup clique stays connected to one hub in
       O(group) candidates, also when an arrival is the clique's new
       minimum (recall preserved; no O(group²) blowup, no silent drop).
       :func:`driver_band_pairs` is the same rule on the driver.

    All shuffled rows are (fid, band key, flag); strings never enter.

    ``persisted`` selects the execution mode:

    - Provided (the pipeline path): the band table and the final pair
      frame are persisted (appended to the list for the caller to
      release) and the hot set is collected eagerly — a small hot set
      inlines as a literal ``isin`` (no broadcast-build jobs), a set
      above ``HOT_LITERAL_MAX`` falls back to a broadcast join (plan
      size stays bounded on degenerate corpora), and an empty one, the
      usual case, leaves the cold pass alone.
    - None (public/ad-hoc): the plan is fully LAZY — hot classification
      is a broadcast subquery, nothing persists, no jobs run at
      construction time. A consumer that evaluates the result twice
      recomputes it; persist externally for repeated consumption.
    """
    bands = with_fid(signatures).select(
        "fid", F.explode(band_keys_expr(cfg)).alias("band_key"),
        _new_flag(new),
    )
    hot = keys = None
    if persisted is None:
        # Lazy public path: no collect, no persist, no construction-time
        # jobs (candidate frames built for a single evaluation).
        hot = hot_band_keys(bands, cfg.band_skew_cap)
    else:
        # ONE materialization of the band rows: the hot-key job below
        # populates the cache, and both later passes (cold groups, hot
        # hubs) read it — the 32-hash band projection over the signature
        # cache runs once, not once per consumer. Spark's ReuseExchange
        # CANNOT be relied on here (collect_list downstream is flagged
        # non-deterministic, and broadcast subtrees were measured to
        # re-execute: six full scans per run before this design).
        #
        # r6 (guide §2.4 — share one exchange): the cache is PARTITIONED
        # BY band_key, so every aggregation over it — the hot-key count
        # here, the cold groups and the hot hubs below — satisfies its
        # distribution from the cached partitioning and runs
        # exchange-free. One shuffle of the 32x-exploded band table, the
        # largest recurring shuffle in the pipeline at scale, serves all
        # three. NUMBERED width (session shuffle partitions): a
        # by-column repartition is AQE-coalescible by INPUT bytes, and
        # the small band rows coalesce to a handful of partitions —
        # which then caps the parallelism of the pair-explode fan-out
        # that reads the cache (the same tiny-input/large-output shape
        # ann_ivf's numbered repartition defends against).
        nparts = int(
            bands.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        bands = bands.repartition(nparts, "band_key").persist()
        persisted.append(bands)
        # The hot set is boilerplate bands — typically tiny (tens to
        # thousands of keys) — so it is COLLECTED and inlined, removing
        # every broadcast-build job. This collect doubles as the eager
        # materialization barrier for the band cache, in the same job as
        # the band shuffle. Keep it single-branch: mapInPandas subtrees
        # are non-deterministic, so Spark does not reuse their exchanges
        # across union branches.
        keys = [
            r["band_key"]
            for r in hot_band_keys(bands, cfg.band_skew_cap).collect()
        ]
        if len(keys) > HOT_LITERAL_MAX:
            hot = bands.sparkSession.createDataFrame(
                [(k,) for k in keys], "band_key long"
            )
    if hot is not None:
        hot = F.broadcast(hot)
        cold = bands.join(hot, "band_key", "left_anti")
        hot_rows = bands.join(hot, "band_key", "left_semi")
    elif keys:
        is_hot = F.col("band_key").isin(keys)
        cold, hot_rows = bands.where(~is_hot), bands.where(is_hot)
    else:
        cold, hot_rows = bands, None

    fid, is_new = F.col("fid"), F.col("is_new")
    # The cold groups exchange has exactly ONE consumer (this chain).
    # collect_list is flagged non-deterministic, which disables Spark's
    # ReusedExchange for any subtree containing it — every additional
    # consumer would re-shuffle the full band table (measured: 6
    # identical ~290 MB exchanges in one pipeline run). Each new member
    # x pairs with the new members below it and with every prior one (a
    # position past the new list's length), all in codegen expressions.
    out = (
        cold.groupBy("band_key")
        .agg(
            F.collect_list(F.when(is_new, fid)).alias("nids"),
            F.collect_list(F.when(~is_new, fid)).alias("oids"),
        )
        .select(F.explode("nids").alias("x"), "nids", "oids")
        .select(
            "x", F.size("nids").alias("n_new"),
            F.posexplode(F.concat("nids", "oids")).alias("pos", "y"),
        )
        .where(
            (F.col("y") < F.col("x"))
            | ((F.col("pos") >= F.col("n_new")) & (F.col("y") > F.col("x")))
        )
        .select(
            F.least("x", "y").alias("a_fid"),
            F.greatest("x", "y").alias("b_fid"),
        )
    )
    if hot_rows is not None:
        hubs = hot_rows.groupBy("band_key").agg(
            F.coalesce(F.min(F.when(~is_new, fid)), F.min(fid)).alias("hub")
        )
        out = out.unionByName(
            hot_rows.where(is_new)
            .join(F.broadcast(hubs), "band_key")
            .where(fid != F.col("hub"))
            .select(
                F.least("fid", "hub").alias("a_fid"),
                F.greatest("fid", "hub").alias("b_fid"),
            )
        )
    out = out.distinct()
    # Eager pipeline path: materialize the (small, post-distinct) pair
    # set once — the cascade broadcasts it twice and ReusedExchange
    # cannot dedupe through the non-deterministic collect_list, so an
    # unmaterialized pair frame re-runs this whole DAG per consumer. One
    # eager count amortizes across every downstream read; ``persisted``
    # receives the cache for the caller to release. Lazy public path:
    # no persist (single-evaluation contract, see docstring).
    if persisted is not None:
        out = out.persist()
        out.count()
        persisted.append(out)
    return out


def _band_groups(sig_perm: np.ndarray, cfg: SketchConfig) -> np.ndarray:
    """Each (row, band) membership's group, row-major, as dense ids from
    0: two memberships share one iff their band and the band's
    ``cfg.rows_per_band`` sig_perm slots are equal. The slot tuple is
    exact, where a band key (:func:`band_keys_expr`) is its 64-bit hash.
    ``sig_perm``: the (rows, num_perm) int32 matrix."""
    r = cfg.rows_per_band
    slots = sig_perm.reshape(-1, r).view(np.uint32).astype(np.uint64)
    slots = np.pad(slots, ((0, 0), (0, r % 2)))  # two slots a uint64
    group = np.tile(np.arange(cfg.bands, dtype=np.int64), sig_perm.shape[0])
    for pair in (slots[:, 0::2] << np.uint64(32) | slots[:, 1::2]).T:
        # dense ranks at every step keep the combined key below n^2
        values, rank = np.unique(pair, return_inverse=True)
        _, group = np.unique(
            group * values.size + rank, return_inverse=True
        )
    return group


def driver_band_pairs(
    sig_perm: np.ndarray, rank: np.ndarray, cfg: SketchConfig,
    budget: DriverBudget, new: np.ndarray,
) -> tuple[np.ndarray, np.ndarray] | None:
    """:func:`candidate_pairs_fid` on one driver collect -> (a, b):
    distinct file-rank pairs with a < b, each touching a row ``new``
    flags.

    ``sig_perm``: the (rows, num_perm) int32 matrix of the collected
    rows; ``rank``: each row's file rank (rank order is fid order;
    duplicate rows of a file share one). The (band, slot tuple)
    memberships (:func:`_band_groups`) sort into groups once. A cold
    group (at most ``cfg.band_skew_cap`` members) emits every pair of its
    rows that touches a new row. In a hot group each new member pairs
    with the hub: the group's minimum prior rank, else its minimum.

    The pair codes, 8 B each, are sized from the group sizes and
    charged to ``budget`` before any is emitted; returns None when they
    do not fit it."""
    n = int(rank.max()) + 1 if rank.size else 0
    group = _band_groups(sig_perm, cfg)
    row = np.argsort(group) // cfg.bands
    sizes = np.bincount(group)
    starts = np.cumsum(sizes) - sizes
    em = new[row]
    hot = sizes > cfg.band_skew_cap
    has_new = np.add.reduceat(em.astype(np.int64), starts) > 0
    cold = ~hot & has_new & (sizes >= 2)
    star = np.repeat(hot, sizes) & em
    m = sizes[cold]
    codes = int((m * (m - 1) // 2).sum()) + int(star.sum())
    if not budget.charge("band_codes", 8 * codes):
        return None

    x, y = np.divmod(
        _group_pair_codes(row, starts[cold], sizes[cold], rank.size),
        rank.size,
    )
    touch = new[x] | new[y]
    r = rank[row]
    prev_min = np.minimum.reduceat(np.where(em, n, r), starts)
    hub = np.where(prev_min < n, prev_min, np.minimum.reduceat(r, starts))
    a = np.concatenate([rank[x[touch]], r[star]])
    b = np.concatenate([rank[y[touch]], np.repeat(hub, sizes)[star]])
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    return np.divmod(np.unique(lo[lo != hi] * n + hi[lo != hi]), n)


def attach_file_ids(
    fid_pairs: DataFrame, signatures: DataFrame
) -> DataFrame:
    """(a_fid, b_fid, ...) -> (a_id, b_id, ...) via the slim fid->file_id
    map. Post-distinct pair sets are small, so these joins broadcast."""
    idmap = with_fid(signatures).select("fid", "file_id")
    a = idmap.select(
        F.col("fid").alias("a_fid"), F.col("file_id").alias("a_id")
    )
    b = idmap.select(
        F.col("fid").alias("b_fid"), F.col("file_id").alias("b_id")
    )
    other = [c for c in fid_pairs.columns if c not in ("a_fid", "b_fid")]
    return (
        fid_pairs.join(a, "a_fid")
        .join(b, "b_fid")
        .select("a_id", "b_id", *other)
    )
