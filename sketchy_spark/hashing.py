"""Vectorized hashing kernels (pure numpy — no Spark, no per-row Python).

These run inside Arrow-batched pandas UDFs (``input_hint`` mandates
vectorized UDFs). The hash is MurmurHash3 x64_128 (low 64 bits), the hash the
reference uses via finch [finch, public knowledge — murmurhash3 in
``/root/reference/Cargo.lock:230``]; seed 0 default, 42 replicates Mash
(``/root/reference/src/cli.rs:46-48``). Shingles are byte k-grams of the raw
content (the code-domain analogue of k-mers; no reverse-complement
canonicalization — that is DNA-specific, SURVEY §1.3).

Unsigned order note (SURVEY §4.2): Rust compares u64; Spark LongType is
signed. All selection here happens in uint64 domain; :func:`u64_to_i64`
applies the order-preserving shift ``x - 2**63`` before values leave numpy,
so downstream Spark SQL comparisons/sorts preserve unsigned order.
"""

from __future__ import annotations

import numpy as np

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_F1 = np.uint64(0xFF51AFD7ED558CCD)
_F2 = np.uint64(0xC4CEB9FE1A85EC53)
_M5 = np.uint64(5)
_N1 = np.uint64(0x52DCE729)
_N2 = np.uint64(0x38495AB5)
_U64_SHIFT = np.uint64(1) << np.uint64(63)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r_ = np.uint64(r)
    inv = np.uint64(64 - r)
    return (x << r_) | (x >> inv)


def _rotl_inplace(x: np.ndarray, r: int, tmp: np.ndarray) -> None:
    """x = rotl(x, r) using one scratch buffer (no fresh allocations)."""
    np.left_shift(x, np.uint64(r), out=tmp)
    np.right_shift(x, np.uint64(64 - r), out=x)
    np.bitwise_or(x, tmp, out=x)


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * _F1
    k = k ^ (k >> np.uint64(33))
    k = k * _F2
    k = k ^ (k >> np.uint64(33))
    return k


def _le_u64(block: np.ndarray) -> np.ndarray:
    """Read a (n, 8) uint8 slice as little-endian uint64 (writable copy
    when the input is a read-only view, e.g. from sliding_window_view)."""
    arr = np.ascontiguousarray(block)
    if not arr.flags.writeable:
        arr = arr.copy()
    return arr.view("<u8").ravel()


def murmur3_x64_128_low(keys: np.ndarray, seed: int = 0) -> np.ndarray:
    """MurmurHash3 x64_128, low 64 bits (h1), over n uniform-length keys.

    ``keys``: (n, L) uint8 matrix. Returns (n,) uint64. Public-domain
    algorithm (Appleby); implemented from the published spec.
    """
    if keys.ndim != 2 or keys.dtype != np.uint8:
        raise ValueError("keys must be a 2-D uint8 matrix")
    n, length = keys.shape
    with np.errstate(over="ignore"):
        h1 = np.full(n, np.uint64(seed & 0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
        h2 = h1.copy()
        nblocks = length // 16
        tmp = np.empty(n, dtype=np.uint64)  # shared scratch (in-place ops
        # keep the hot loop's DRAM traffic down — the sketch stage is
        # memory-bandwidth-bound at full parallelism)
        for i in range(nblocks):
            k1 = _le_u64(keys[:, i * 16 : i * 16 + 8])
            k2 = _le_u64(keys[:, i * 16 + 8 : i * 16 + 16])
            np.multiply(k1, _C1, out=k1)
            _rotl_inplace(k1, 31, tmp)
            np.multiply(k1, _C2, out=k1)
            np.bitwise_xor(h1, k1, out=h1)
            _rotl_inplace(h1, 27, tmp)
            np.add(h1, h2, out=h1)
            np.multiply(h1, _M5, out=h1)
            np.add(h1, _N1, out=h1)
            np.multiply(k2, _C2, out=k2)
            _rotl_inplace(k2, 33, tmp)
            np.multiply(k2, _C1, out=k2)
            np.bitwise_xor(h2, k2, out=h2)
            _rotl_inplace(h2, 31, tmp)
            np.add(h2, h1, out=h2)
            np.multiply(h2, _M5, out=h2)
            np.add(h2, _N2, out=h2)
        tail_len = length - nblocks * 16
        if tail_len > 0:
            pad = np.zeros((n, 16), dtype=np.uint8)
            pad[:, :tail_len] = keys[:, nblocks * 16 :]
            t1 = _le_u64(pad[:, :8])
            t2 = _le_u64(pad[:, 8:16])
            if tail_len > 8:
                h2 = h2 ^ (_rotl(t2 * _C2, 33) * _C1)
            h1 = h1 ^ (_rotl(t1 * _C1, 31) * _C2)
        ln = np.uint64(length)
        h1 = h1 ^ ln
        h2 = h2 ^ ln
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 = h1 + h2
    return h1


def shingle_windows(content: bytes, k: int) -> np.ndarray:
    """(m, k) uint8 matrix of byte k-grams in positional order.

    Content shorter than k yields one zero-padded whole-content shingle
    (deviation from the reference, which emits no k-mers for short
    sequences — we keep tiny files dedupable; documented in SURVEY §1.3).
    """
    buf = np.frombuffer(content, dtype=np.uint8)
    if buf.size == 0:
        return np.zeros((0, k), dtype=np.uint8)
    if buf.size < k:
        row = np.zeros((1, k), dtype=np.uint8)
        row[0, : buf.size] = buf
        return row
    return np.lib.stride_tricks.sliding_window_view(buf, k)


# shingles per scratch chunk: 2^16 keeps the whole scratch working set
# (~3.5 MB: window buffer + five u64 arrays) cache-resident — measured
# 5x faster than a DRAM-sized 2^19 chunk, and it cuts the cross-worker
# memory-bandwidth contention that limits multi-core scaling
_CHUNK = 1 << 16


class _Scratch:
    """Per-process preallocated buffers for the k=16 murmur hot loop.

    The sketch stage runs in 32+ concurrent worker processes; per-call
    temporary arrays of tens of MB turn into mmap/munmap churn, huge-page
    faults, and cross-core TLB-shootdown storms (observed: 98% system
    time). Preallocating once per process and computing fully in-place
    removes every large allocation from the hot path.
    """

    def __init__(self, n: int):
        self.n = n
        self.win = np.empty((n, 16), dtype=np.uint8)
        self.k1 = np.empty(n, dtype=np.uint64)
        self.k2 = np.empty(n, dtype=np.uint64)
        self.h1 = np.empty(n, dtype=np.uint64)
        self.h2 = np.empty(n, dtype=np.uint64)
        self.tmp = np.empty(n, dtype=np.uint64)


_scratch: _Scratch | None = None


def _get_scratch(n: int) -> _Scratch:
    global _scratch
    if _scratch is None or _scratch.n < n:
        _scratch = _Scratch(max(n, _CHUNK))
    return _scratch


def _fmix64_inplace(k: np.ndarray, tmp: np.ndarray) -> None:
    np.right_shift(k, np.uint64(33), out=tmp)
    np.bitwise_xor(k, tmp, out=k)
    np.multiply(k, _F1, out=k)
    np.right_shift(k, np.uint64(33), out=tmp)
    np.bitwise_xor(k, tmp, out=k)
    np.multiply(k, _F2, out=k)
    np.right_shift(k, np.uint64(33), out=tmp)
    np.bitwise_xor(k, tmp, out=k)


def _murmur16_into(s: _Scratch, n: int, seed: int, out: np.ndarray) -> None:
    """murmur3 x64_128 low 64 bits of s.win[:n] (16-byte keys: exactly one
    block, no tail) written into ``out`` — zero allocations."""
    v = s.win[:n].view(np.uint64)  # contiguous (n, 2)
    k1, k2 = s.k1[:n], s.k2[:n]
    h1, h2, tmp = s.h1[:n], s.h2[:n], s.tmp[:n]
    np.copyto(k1, v[:, 0])
    np.copyto(k2, v[:, 1])
    h1.fill(seed & 0xFFFFFFFFFFFFFFFF)
    h2.fill(seed & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        np.multiply(k1, _C1, out=k1)
        _rotl_inplace(k1, 31, tmp)
        np.multiply(k1, _C2, out=k1)
        np.bitwise_xor(h1, k1, out=h1)
        _rotl_inplace(h1, 27, tmp)
        np.add(h1, h2, out=h1)
        np.multiply(h1, _M5, out=h1)
        np.add(h1, _N1, out=h1)
        np.multiply(k2, _C2, out=k2)
        _rotl_inplace(k2, 33, tmp)
        np.multiply(k2, _C1, out=k2)
        np.bitwise_xor(h2, k2, out=h2)
        _rotl_inplace(h2, 31, tmp)
        np.add(h2, h1, out=h2)
        np.multiply(h2, _M5, out=h2)
        np.add(h2, _N2, out=h2)
        ln = np.uint64(16)
        np.bitwise_xor(h1, ln, out=h1)
        np.bitwise_xor(h2, ln, out=h2)
        np.add(h1, h2, out=h1)
        np.add(h2, h1, out=h2)
        _fmix64_inplace(h1, tmp)
        _fmix64_inplace(h2, tmp)
        np.add(h1, h2, out=h1)
    np.copyto(out[:n], h1)


def batch_shingle_hashes(
    contents: list[bytes], k: int, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Hash every positional shingle of every content, chunked through
    per-process scratch buffers (k=16 fast path; generic path otherwise).

    Returns (hashes: uint64 concat of all docs' positional shingle hashes,
    counts: int64 per-doc shingle counts).
    """
    counts = np.array(
        [max(len(c) - k + 1, 1) if len(c) else 0 for c in contents],
        dtype=np.int64,
    )
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.uint64), counts
    if k != 16:
        mats = [shingle_windows(c, k) for c in contents]
        stacked = np.vstack([m for m in mats if m.size])
        return murmur3_x64_128_low(stacked, seed), counts

    s = _get_scratch(_CHUNK)
    # reuse a per-process output buffer too: a fresh ~40 MB allocation per
    # Arrow batch is exactly the mmap churn the scratch design removes
    if not hasattr(s, "out") or s.out.size < total:
        s.out = np.empty(max(total, 1 << 22), dtype=np.uint64)
    out = s.out[:total]
    pos = 0       # write position in `out`
    filled = 0    # rows currently in the window buffer
    for c, cnt in zip(contents, counts):
        if cnt == 0:
            continue
        w = shingle_windows(c, k)  # view (no copy) for len >= k
        woff = 0
        while woff < cnt:
            take = min(cnt - woff, s.n - filled)
            s.win[filled : filled + take] = w[woff : woff + take]
            filled += take
            woff += take
            if filled == s.n:
                _murmur16_into(s, filled, seed, out[pos : pos + filled])
                pos += filled
                filled = 0
    if filled:
        _murmur16_into(s, filled, seed, out[pos : pos + filled])
        pos += filled
    return out, counts


def fold_shingle_hashes(
    contents: list[bytes], k: int, seed: int, consume
) -> np.ndarray:
    """Hash every positional shingle of every content in CACHE-RESIDENT
    groups and hand each doc's positional hash segment to ``consume(i,
    seg)`` while the group's output buffer is still hot (r6).

    The two-pass form (:func:`batch_shingle_hashes` then a per-doc loop
    over the returned concat array) writes and re-reads a whole-batch
    hash buffer (~100 MB at 4096 docs) through DRAM per Arrow batch; at
    32 concurrent sketch workers that round trip is the contended
    traffic the host's streaming calibration flags (BENCH/BASELINE.md).
    Fusing hashing with consumption keeps the per-group buffer
    (~512 KB — window scratch + hash output) L2-resident: measured 16
    concurrent kernel processes at 4096 docs each, per-proc wall
    15-17s (two-pass) -> 2.4-3.3s (fused); identical outputs.

    ``consume(i, seg)``: ``i`` is the doc's index in ``contents``;
    ``seg`` the positional uint64 hash array (VALID ONLY DURING THE
    CALL — it aliases the reused group buffer). Zero-length contents get
    an empty seg. Returns per-doc shingle counts.
    """
    counts = np.array(
        [max(len(c) - k + 1, 1) if len(c) else 0 for c in contents],
        dtype=np.int64,
    )
    empty = np.zeros(0, dtype=np.uint64)
    if k != 16:
        # generic width (non-hot path): per-doc matrix hash, same values
        for i, c in enumerate(contents):
            if counts[i] == 0:
                consume(i, empty)
                continue
            consume(i, murmur3_x64_128_low(shingle_windows(c, k), seed))
        return counts

    s = _get_scratch(_CHUNK)
    if not hasattr(s, "fout") or s.fout.size < s.n:
        s.fout = np.empty(s.n, dtype=np.uint64)
    group: list[tuple[int, int, int]] = []  # (doc idx, start, count)
    filled = 0

    def flush() -> None:
        _murmur16_into(s, filled, seed, s.fout[:filled])
        for di, st, c in group:
            consume(di, s.fout[st : st + c])

    for i, c in enumerate(contents):
        cnt = int(counts[i])
        if cnt == 0:
            # flush pending docs first: consume must fire in doc order
            if filled:
                flush()
                group, filled = [], 0
            consume(i, empty)
            continue
        if cnt > s.n:
            # oversized doc: chunk it through the window scratch into a
            # reusable per-doc buffer (positional order preserved); the
            # buffer exceeds cache by construction, but docs this large
            # are rare and the group path stays resident
            if filled:
                flush()
                group, filled = [], 0
            if not hasattr(s, "bigout") or s.bigout.size < cnt:
                s.bigout = np.empty(cnt, dtype=np.uint64)
            w = shingle_windows(c, k)
            woff = 0
            while woff < cnt:
                take = min(cnt - woff, s.n)
                s.win[:take] = w[woff : woff + take]
                _murmur16_into(s, take, seed, s.bigout[woff : woff + take])
                woff += take
            consume(i, s.bigout[:cnt])
            continue
        if cnt > s.n - filled:
            flush()
            group, filled = [], 0
        s.win[filled : filled + cnt] = shingle_windows(c, k)
        group.append((i, filled, cnt))
        filled += cnt
    if filled:
        flush()
    return counts


def bottom_s(distinct_sorted: np.ndarray, s: int) -> np.ndarray:
    """Bottom-s MinHash: s numerically smallest distinct hashes, ascending
    (the reference's sorted-hashes invariant, src/sketchy.rs:414-418)."""
    return distinct_sorted[:s]


def scaled_filter(distinct_sorted: np.ndarray, max_hash: int) -> np.ndarray:
    """FracMinHash: keep hash < u64::MAX*scale (src/sketchy.rs:441-457)."""
    return distinct_sorted[distinct_sorted < np.uint64(max_hash)]


def oph_minhash(distinct_sorted: np.ndarray, num_perm: int) -> np.ndarray:
    """One-permutation hashing (Li, Owen, Zhang 2012) with rotation
    densification: bucket hashes into ``num_perm`` bins by their top
    bits, take the min per bin, fill empty bins from the next non-empty
    bin (cyclic). O(d) per doc vs O(d * p) for k-permutation — the
    difference between a DRAM-bandwidth-bound sketch stage and a
    compute-light one at 100 TB scale. Requires ``num_perm`` a power of
    two and ``distinct_sorted`` ascending (np.unique output).
    """
    p = num_perm
    bits = p.bit_length() - 1
    if 1 << bits != p:
        raise ValueError("num_perm must be a power of two")
    sig = np.full(p, np.iinfo(np.uint64).max, dtype=np.uint64)
    if distinct_sorted.size == 0:
        return sig
    bins = (distinct_sorted >> np.uint64(64 - bits)).astype(np.int64)
    # sorted input => bins is NON-DECREASING and per-bin min is the first
    # element of each bin run; run starts come from one O(d) neighbor
    # compare (r6: np.unique here re-SORTED the already-sorted bins —
    # the second-largest cost of the per-doc fold after np.unique(seg))
    if bins.size == 1:
        first_idx = np.zeros(1, dtype=np.int64)
    else:
        change = np.empty(bins.size, dtype=bool)
        change[0] = True
        np.not_equal(bins[1:], bins[:-1], out=change[1:])
        first_idx = np.flatnonzero(change)
    filled = bins[first_idx]
    sig[filled] = distinct_sorted[first_idx]
    if filled.size < p:
        # rotation densification: empty bin j borrows from the nearest
        # filled bin to its left (cyclic wrap)
        has = np.zeros(p, dtype=bool)
        has[filled] = True
        idx = np.where(has, np.arange(p), -1)
        np.maximum.accumulate(idx, out=idx)
        if idx[0] == -1:  # leading empties wrap around from the end
            idx[idx == -1] = idx[-1]
        sig = sig[idx]
    return sig


_BIT_SHIFTS = np.arange(64, dtype=np.uint64)
# (256, 8) lookup: bit i of each byte value
_BYTE_BITS = ((np.arange(256)[:, None] >> np.arange(8)) & 1).astype(np.int64)


def simhash64(distinct: np.ndarray) -> int:
    """64-bit Charikar SimHash of one doc's distinct shingle hashes.

    Bit b is 1 iff >= half the hashes have bit b set. Per-bit sums come
    from 8 byte-histograms (np.bincount) folded through a 256x8 bit
    table — O(n) with only a 256-long temp, no (n, 64) bit matrix
    (allocation churn in the sketch workers is the scaling bottleneck).
    """
    n = distinct.size
    if n == 0:
        return 0
    byte_view = distinct.view(np.uint8).reshape(n, 8)
    sums = np.empty((8, 8), dtype=np.int64)
    for j in range(8):  # little-endian: byte j carries bits 8j..8j+7
        hist = np.bincount(byte_view[:, j], minlength=256)
        sums[j] = hist @ _BYTE_BITS
    majority = (2 * sums.ravel() >= n).astype(np.uint64)
    return int((majority << _BIT_SHIFTS).sum(dtype=np.uint64))


def _sliding_min(a: np.ndarray, w: int) -> np.ndarray:
    """O(m) sliding-window minimum via block prefix/suffix minima
    (van Herk / Gil-Werman), instead of the O(m*w) strided reduction."""
    m = a.size
    nb = -(-m // w)
    pad = np.full(nb * w, np.iinfo(np.uint64).max, dtype=np.uint64)
    pad[:m] = a
    blocks = pad.reshape(nb, w)
    pref = np.minimum.accumulate(blocks, axis=1).ravel()
    suf = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suf[: m - w + 1], pref[w - 1 : m])


def winnow(pos_hashes: np.ndarray, window: int) -> np.ndarray:
    """Winnowing fingerprints (Schleimer et al. 2003): distinct minima of a
    sliding window over positional shingle hashes. Position-robust document
    fingerprints — shared fingerprints signal exact-substring overlap
    (our suffix-array-containment stand-in's candidate generator, G3)."""
    if pos_hashes.size == 0:
        return pos_hashes
    if pos_hashes.size <= window:
        return np.unique(pos_hashes.min(keepdims=True))
    return np.unique(_sliding_min(pos_hashes, window))


def u64_to_i64(u: np.ndarray) -> np.ndarray:
    """Order-preserving uint64 -> int64 shift (x - 2^63); inverse of
    :func:`i64_to_u64`. Keeps unsigned comparison semantics in LongType."""
    return (u ^ _U64_SHIFT).view(np.int64)


def i64_to_u64(i: np.ndarray) -> np.ndarray:
    return (i.view(np.uint64) ^ _U64_SHIFT)
