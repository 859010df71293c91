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
``cfg.band_skew_cap`` do not emit all-pairs — they emit SALTED star edges
(each member pairs with its salt-group minimum plus group-min chaining),
keeping recall (members stay connectable through the hub) at O(group)
instead of O(group²) cost; (2) AQE skew-join splitting handles residual
skew.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sketchy_spark.config import SketchConfig
from sketchy_spark.operators.verify import _group_pair_codes


def with_fid(signatures: DataFrame) -> DataFrame:
    """Attach the narrow internal id (fid = xxhash64(file_id)) if absent."""
    if "fid" in signatures.columns:
        return signatures
    return signatures.withColumn("fid", F.xxhash64("file_id"))


def exact_dup_edges_fid(signatures: DataFrame) -> DataFrame:
    """Star edges (a_fid, b_fid) within identical-sha256 groups: each
    member links to its group's minimum fid, so exact duplicates connect
    in O(group) edges, shuffling (sha256, fid) rows only.

    Needed despite LSH catching identical content too: degenerate
    identical files (empty / shorter than a shingle) have no shingles, so
    the Jaccard estimator scores them 0 — sha equality is the only signal
    that pairs them."""
    from pyspark.sql import Window

    w = Window.partitionBy("sha256")
    return (
        with_fid(signatures).select("sha256", "fid")
        .withColumn("hub", F.min("fid").over(w))
        .where(F.col("fid") != F.col("hub"))
        .select(F.col("hub").alias("a_fid"), F.col("fid").alias("b_fid"))
    )


def driver_exact_edges(
    sha256: np.ndarray, rank: np.ndarray, new: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`exact_dup_edges_fid` on one driver collect -> (hub, member)
    file ranks: each row's file links to its sha group's minimum rank.
    Given ``new`` (a row flag, the incremental batch's), only new rows
    link, to the group's pre-batch minimum when the sha was seen before,
    else to the batch minimum (unnormalized, as ``streaming/
    incremental.py``'s Spark form writes them)."""
    n = int(rank.max()) + 1 if rank.size else 0
    is_new = np.ones(rank.size, dtype=bool) if new is None else new
    _, sha = np.unique(sha256, return_inverse=True)
    prev_min = np.full(sha.max() + 1 if sha.size else 0, n)
    new_min = prev_min.copy()
    np.minimum.at(prev_min, sha[~is_new], rank[~is_new])
    np.minimum.at(new_min, sha[is_new], rank[is_new])
    hub = np.where(prev_min < n, prev_min, new_min)[sha[is_new]]
    member = rank[is_new]
    return hub[hub != member], member[hub != member]


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


# Above this many hot band keys the literal create_map/isin inlining
# would bloat the plan (degenerate corpora: ~10^5+ distinct over-cap
# keys); the eager path then falls back to a broadcast-join hot
# classification built from the same collected counts.
HOT_LITERAL_MAX = 50_000


def _salt_by_hot_df(bands: DataFrame, hot_df: DataFrame) -> DataFrame:
    """Attach (salt, is_hot) via a broadcast join on the (band_key,
    nsalt) hot table — the plan-size-safe twin of the literal inlining."""
    salted = bands.join(F.broadcast(hot_df), "band_key", "left")
    return (
        salted.withColumn(
            "salt",
            F.pmod(F.xxhash64("fid"), F.coalesce("nsalt", F.lit(1))),
        )
        .withColumn("is_hot", F.col("nsalt").isNotNull())
        .drop("nsalt")
    )


def _hot_counts(bands: DataFrame, cap: int) -> DataFrame:
    return (
        bands.groupBy("band_key")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > cap)
        .select(
            "band_key", F.ceil(F.col("cnt") / cap).cast("long").alias("nsalt")
        )
    )


def candidate_pairs_fid(
    signatures: DataFrame, cfg: SketchConfig,
    persisted: list | None = None,
) -> DataFrame:
    """Distinct candidate (a_fid, b_fid) longs with a_fid < b_fid.

    Two-pass plan (SURVEY §4.1 skew defense, north-star band-key
    salting):

    1. A count groupBy finds HOT band keys (> ``cfg.band_skew_cap``
       members) and their salt fan-out nsalt = ceil(count/cap).
    2. ONE grouped pass over (band_key, salt) emits everything else.
       Cold keys use a single salt bucket (whole group in one bounded
       buffer, all i<j pairs). Hot keys are SALTED with the per-key
       dynamic fan-out, so every aggregation buffer stays ~cap
       regardless of key degeneracy; each member star-connects to its
       salt group's minimum and salt minima chain to the band's global
       minimum — every member of a true over-cap near-dup clique stays
       connected to one hub in O(group) candidate edges (recall
       preserved; the O(group²) blowup and the silent drop are both
       gone).

    All shuffled rows are 16-byte (fid, key) pairs; strings never enter.

    ``persisted`` selects the execution mode:

    - Provided (the pipeline path): the band table and the final pair
      frame are persisted (appended to the list for the caller to
      release) and the hot set is collected eagerly — small hot sets
      inline as literal expressions (no broadcast-build jobs), sets
      above ``HOT_LITERAL_MAX`` fall back to a broadcast join (plan
      size stays bounded on degenerate corpora).
    - None (public/ad-hoc): the plan is fully LAZY — hot classification
      is a broadcast subquery, nothing persists, no jobs run at
      construction time. A consumer that evaluates the result twice
      recomputes it; persist externally for repeated consumption.
    """
    cap = cfg.band_skew_cap
    bands = band_table(signatures, cfg, id_col="fid")
    if persisted is None:
        # Lazy public path: no collect, no persist, no construction-time
        # jobs (candidate frames built for a single evaluation).
        salted = _salt_by_hot_df(bands, _hot_counts(bands, cap))
    else:
        # ONE materialization of the 16-byte band rows: the hot-count job
        # below populates the cache, and every later pass (salted groups,
        # hot subset) reads it — the 32-hash band projection over the
        # signature cache runs once, not once per consumer. Spark's
        # ReuseExchange CANNOT be relied on here (collect_list downstream
        # is flagged non-deterministic, and broadcast subtrees were
        # measured to re-execute: six full scans per run before this
        # design).
        #
        # r6 (guide §2.4 — share one exchange): the cache is PARTITIONED
        # BY band_key, so BOTH aggregations over it — the hot-count
        # groupBy(band_key) here and the groups
        # groupBy(band_key, salt) below — satisfy their distribution
        # from the cached partitioning and run exchange-free
        # (HashPartitioning(band_key) clusters every (band_key, salt)
        # group too). One shuffle of the 32x-exploded band table
        # replaces two — the largest recurring shuffle in the pipeline
        # at scale. Hot keys land whole in one partition, but band rows
        # are 16 bytes and the skew cap bounds any key's group work
        # downstream. NUMBERED width (session shuffle partitions):
        # a by-column repartition is AQE-coalescible by INPUT bytes, and
        # the 16-byte band rows coalesce to a handful of partitions —
        # which then caps the parallelism of the pair-explode fan-out
        # that reads the cache (the same tiny-input/large-output shape
        # ann_ivf's numbered repartition defends against). Measured at
        # 100k files (warm, interleaved): candidate phase 4.0-5.7s
        # (round-start) -> 3.8s; pair stage 1.2-2.2s -> 0.85s; candidate
        # set identical.
        nparts = int(
            bands.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        bands = bands.repartition(nparts, "band_key").persist()
        persisted.append(bands)
        # Hot keys (> cap members) with their counts, COLLECTED: the hot
        # set is boilerplate bands — typically tiny (tens to thousands of
        # keys) — so it inlines as literal expressions, removing every
        # broadcast-build job and re-evaluation of the count subtree.
        # This collect doubles as the eager materialization barrier for
        # the band cache, in the same job as the band shuffle. The
        # pipeline's signature aggregate, which runs before it, has
        # already populated the caller's signature cache, so the band
        # projection reads memory, not a second sketch pass. Keep this
        # collect single-branch: mapInPandas subtrees are
        # non-deterministic, so Spark does not reuse their exchanges
        # across union branches.
        hot_rows = (
            bands.groupBy("band_key")
            .agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") > cap)
            .collect()
        )
        hot_nsalt = {r["band_key"]: -(-r["cnt"] // cap) for r in hot_rows}
        if len(hot_nsalt) > HOT_LITERAL_MAX:
            # Degenerate corpus: literal inlining would bloat the plan;
            # ship the collected counts back as a broadcast hot table.
            hot_df = bands.sparkSession.createDataFrame(
                [(k, int(v)) for k, v in hot_nsalt.items()],
                "band_key long, nsalt long",
            )
            salted = _salt_by_hot_df(bands, hot_df)
        else:
            if hot_nsalt:
                nsalt_map = F.create_map(
                    *[F.lit(x) for kv in hot_nsalt.items() for x in kv]
                )
                nsalt_col = F.coalesce(
                    F.element_at(nsalt_map, F.col("band_key")), F.lit(1)
                ).cast("long")
                is_hot_col = F.element_at(
                    nsalt_map, F.col("band_key")
                ).isNotNull()
            else:
                nsalt_col = F.lit(1)
                is_hot_col = F.lit(False)
            salted = (
                bands.withColumn(
                    "salt", F.pmod(F.xxhash64("fid"), nsalt_col)
                )
                .withColumn("is_hot", is_hot_col)
            )
    # ONE groupBy shuffle keyed (band_key, salt): cold keys (nsalt=1) keep
    # their whole member list in a single bounded buffer; hot keys split
    # into ~cap-sized salt groups. Downstream, cold groups emit all i<j
    # pairs (double explode, x>y keeps each unordered pair once); hot
    # groups emit member->salt-group-minimum star edges (x>smin keeps each
    # member once) — O(group) edges that keep every member of a true
    # over-cap clique connected through its hub (recall preserved, no
    # O(group²) blowup, no silent drop).
    groups = (
        salted.groupBy("band_key", "salt")
        .agg(
            F.collect_list("fid").alias("ids"),
            F.max("is_hot").alias("is_hot"),
        )
        .where(F.size("ids") >= 2)
    )
    # The big groups exchange has exactly ONE consumer (this chain).
    # collect_list is flagged non-deterministic, which disables Spark's
    # ReusedExchange for any subtree containing it — every additional
    # consumer would re-shuffle the full band table (measured: 6 identical
    # ~290 MB exchanges in one pipeline run). Keep it single-consumer.
    pairs_main = (
        groups.select(
            "is_hot",
            F.array_min("ids").alias("smin"),
            "ids",
            F.explode("ids").alias("x"),
        )
        .select(
            "x",
            F.explode(
                F.when(F.col("is_hot"), F.array("smin")).otherwise(
                    F.col("ids")
                )
            ).alias("y"),
        )
        .where(F.col("x") > F.col("y"))
        .select(F.col("y").alias("a_fid"), F.col("x").alias("b_fid"))
    )
    # Salt-group minima chain to the band's global minimum so the hot
    # key's salt groups stay one component. Recomputed from the HOT
    # subset of the (cached, in the eager path) band table — a map-side
    # is_hot filter, so only hot rows shuffle — rather than from the
    # groups exchange: keeps the big exchange single-consumer.
    hotb = salted.where(F.col("is_hot"))
    sub = hotb.groupBy("band_key", "salt").agg(F.min("fid").alias("smin"))
    hub = sub.groupBy("band_key").agg(F.min("smin").alias("hub"))
    hub_edges = (
        sub.join(F.broadcast(hub), "band_key")
        .where(F.col("smin") != F.col("hub"))
        .select(
            F.least("smin", "hub").alias("a_fid"),
            F.greatest("smin", "hub").alias("b_fid"),
        )
    )
    out = pairs_main.unionByName(hub_edges).distinct()
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


def driver_band_pairs(
    band_keys, rank: np.ndarray, cfg: SketchConfig, budget: int,
    hot_stars, new: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, int] | None:
    """The band join on one driver collect -> (a, b, budget left):
    distinct file-rank pairs with a < b.

    ``band_keys``: the Arrow list column of :func:`band_keys_expr`, one
    list per collected row; ``rank``: each row's file rank (duplicate
    rows of a file share one). The (band key, row) memberships sort
    into groups once. A cold group (at most ``cfg.band_skew_cap``
    members) emits every pair of its rows; given ``new`` (a row flag),
    only the pairs that touch a new row. A hot group is left to
    ``hot_stars(row, starts, sizes, hot)``, which returns rank pairs, at
    most one per hot membership of a new row. The hot rule is the one
    place the two driver joins differ:

    - :func:`salted_stars`, the plain pipeline's, is
      :func:`candidate_pairs_fid`'s rule;
    - :func:`hub_stars`, the incremental batch's, pairs each new member
      with a hub that the batch keeps stable across arrivals.

    Returns None when the pair codes, 8 B each, sized from the group
    sizes before any is emitted, exceed ``budget``."""
    n = int(rank.max()) + 1 if rank.size else 0
    row = np.repeat(np.arange(rank.size), cfg.bands)
    bkeys = np.asarray(band_keys.combine_chunks().flatten())
    order = np.lexsort((row, bkeys))
    bkeys, row = bkeys[order], row[order]
    _, starts, sizes = np.unique(bkeys, return_index=True, return_counts=True)
    emits = np.ones(rank.size, dtype=bool) if new is None else new
    em = emits[row]
    hot = sizes > cfg.band_skew_cap
    has_new = np.add.reduceat(em.astype(np.int64), starts) > 0
    cold = ~hot & has_new & (sizes >= 2)
    m = sizes[cold]
    budget -= 8 * (
        int((m * (m - 1) // 2).sum()) + int((np.repeat(hot, sizes) & em).sum())
    )
    if budget < 0:
        return None

    x, y = np.divmod(
        _group_pair_codes(row, starts[cold], sizes[cold], rank.size),
        rank.size,
    )
    touch = emits[x] | emits[y]
    ha, hb = hot_stars(row, starts, sizes, hot)
    a = np.concatenate([rank[x[touch]], ha])
    b = np.concatenate([rank[y[touch]], hb])
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    a, b = np.divmod(np.unique(lo[lo != hi] * n + hi[lo != hi]), n)
    return a, b, budget


def salted_stars(rank: np.ndarray, salt_hash: np.ndarray, cap: int):
    """:func:`candidate_pairs_fid`'s hot rule for
    :func:`driver_band_pairs`: a hot band's members split into
    ceil(count / cap) salt groups by ``salt_hash`` (each row's
    ``xxhash64(fid)``; numpy's ``%`` by a positive divisor is Spark's
    ``pmod``), each member pairs with its salt group's minimum, and each
    salt-group minimum with the band's minimum."""

    def stars(row, starts, sizes, hot):
        h = np.repeat(hot, sizes)
        gid = np.repeat(np.arange(sizes.size), sizes)[h]
        r = rank[row[h]]
        nsalt = -(-sizes[gid] // cap)
        width = int(nsalt.max()) if nsalt.size else 1
        sub, inv = np.unique(
            gid * width + salt_hash[row[h]] % nsalt, return_inverse=True
        )
        smin = np.full(sub.size, np.iinfo(np.int64).max)
        np.minimum.at(smin, inv, r)
        band_min = np.minimum.reduceat(rank[row], starts)[sub // width]
        star, chain = r != smin[inv], smin != band_min
        return (
            np.concatenate([smin[inv][star], band_min[chain]]),
            np.concatenate([r[star], smin[chain]]),
        )

    return stars


def hub_stars(rank: np.ndarray, is_new: np.ndarray):
    """The incremental batch's hot rule for :func:`driver_band_pairs`
    (``_new_vs_all_candidates`` in ``streaming/incremental.py`` is its
    Spark form): each new member of a hot band pairs with the band's hub,
    its pre-batch minimum if the band has prior members, else its batch
    minimum."""
    n = int(rank.max()) + 1 if rank.size else 0

    def stars(row, starts, sizes, hot):
        r, nw = rank[row], is_new[row]
        prev_min = np.minimum.reduceat(np.where(nw, n, r), starts)
        new_min = np.minimum.reduceat(np.where(nw, r, n), starts)
        hub = np.repeat(np.where(prev_min < n, prev_min, new_min), sizes)
        star = np.repeat(hot, sizes) & nw & (r != hub)
        return r[star], hub[star]

    return stars


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
