"""Pure-python kernel tests (no Spark) — SURVEY §5 'Unit' tier."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sketchy_spark.hashing import (
    batch_shingle_hashes,
    bottom_s,
    i64_to_u64,
    murmur3_x64_128_low,
    scaled_filter,
    shingle_windows,
    simhash64,
    u64_to_i64,
    winnow,
)


def hash_u64_of_int(value: int, seed: int = 0) -> int:
    """Deterministic u64 from an integer (for permutation constants)."""
    key = np.frombuffer(int(value).to_bytes(8, "little"), dtype=np.uint8)
    return int(murmur3_x64_128_low(key.reshape(1, 8), seed)[0])


def perm_constants(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) multiply-shift constants for k-permutation MinHash, derived
    from murmur so they are stable across numpy versions."""
    a = np.array(
        [hash_u64_of_int(j, seed) | 1 for j in range(num_perm)], dtype=np.uint64
    )
    b = np.array(
        [hash_u64_of_int(j, seed + 1) for j in range(num_perm)], dtype=np.uint64
    )
    return a, b


def perm_minhash(
    distinct: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Fixed-width signature sig[j] = min_x (a[j]*x + b[j] mod 2^64): the
    classic k-permutation MinHash, the oracle the one-permutation
    ``oph_minhash`` of the sketch stage stands in for."""
    if distinct.size == 0:
        return np.full(a.shape[0], np.iinfo(np.uint64).max, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return (distinct[:, None] * a[None, :] + b[None, :]).min(axis=0)


def simhash_batch(all_distinct: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """:func:`simhash64` over concatenated distinct arrays (``offsets`` =
    start index per doc)."""
    ends = np.append(offsets[1:], all_distinct.size)
    return np.array(
        [simhash64(all_distinct[o:e]) for o, e in zip(offsets, ends)],
        dtype=np.uint64,
    )


def _h(s: bytes, seed: int = 0) -> int:
    mat = (
        np.frombuffer(s, dtype=np.uint8).reshape(1, -1)
        if s
        else np.zeros((1, 0), dtype=np.uint8)
    )
    return int(murmur3_x64_128_low(mat, seed)[0])


class TestMurmur3:
    def test_empty_is_zero(self):
        # public murmur3 x64_128 spec: hash of b"" with seed 0 is 0
        assert _h(b"") == 0

    def test_known_vector_foo(self):
        # mmh3.hash64(b"foo") == (-2129773440516405919, ...) [public vector]
        v = _h(b"foo")
        assert v - (1 << 64) == -2129773440516405919

    def test_seed_changes_hash(self):
        assert _h(b"foo", 0) != _h(b"foo", 42)

    def test_block_and_tail_paths(self):
        # 16 bytes = exactly one block (the k=16 hot path); 17 adds a tail
        a = _h(b"0123456789abcdef")
        b = _h(b"0123456789abcdefg")
        assert a != b != 0

    def test_batch_matches_single(self):
        keys = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz012345", dtype=np.uint8)
        mat = keys.reshape(2, 16)
        batch = murmur3_x64_128_low(mat, 0)
        for i in range(2):
            assert int(batch[i]) == int(
                murmur3_x64_128_low(mat[i : i + 1], 0)[0]
            )

    @given(st.binary(min_size=1, max_size=64), st.integers(0, 2**32 - 1))
    @settings(max_examples=50, deadline=None)
    def test_deterministic(self, data, seed):
        assert _h(data, seed) == _h(data, seed)


class TestShingles:
    def test_window_count(self):
        w = shingle_windows(b"abcdefghijklmnopqrst", 16)  # 20 bytes -> 5
        assert w.shape == (5, 16)

    def test_short_content_single_padded(self):
        w = shingle_windows(b"abc", 16)
        assert w.shape == (1, 16)
        assert bytes(w[0][:3]) == b"abc" and w[0][3:].sum() == 0

    def test_empty(self):
        assert shingle_windows(b"", 16).shape == (0, 16)

    def test_batch_offsets(self):
        hashes, counts = batch_shingle_hashes(
            [b"a" * 20, b"b" * 16, b"xy"], 16, 0
        )
        assert counts.tolist() == [5, 1, 1]
        assert hashes.shape[0] == 7
        # identical shingles hash identically
        assert len(set(hashes[:5].tolist())) == 1


class TestSelection:
    def test_bottom_s_sorted_ascending(self):
        h = np.unique(np.array([9, 1, 5, 3, 7], dtype=np.uint64))
        assert bottom_s(h, 3).tolist() == [1, 3, 5]

    def test_bottom_s_fewer_than_s(self):
        h = np.array([1, 2], dtype=np.uint64)
        assert bottom_s(h, 1000).tolist() == [1, 2]

    def test_scaled_filter(self):
        h = np.array([1, 10, 100], dtype=np.uint64)
        assert scaled_filter(h, 50).tolist() == [1, 10]

    def test_self_intersection_equals_size(self):
        # the docs' free invariant: self-shared == sketch size
        # (/root/reference/docs/index.md:149)
        h, counts = batch_shingle_hashes([b"hello world, hello spark!" * 4], 16, 0)
        sig = bottom_s(np.unique(h), 1000)
        assert len(np.intersect1d(sig, sig)) == len(sig)


class TestPermMinhash:
    def test_jaccard_concentration(self):
        # MinHash estimate within bounds of exact Jaccard (SURVEY §5 property)
        a_const, b_const = perm_constants(256, 0)
        rng = np.random.default_rng(7)
        base = rng.integers(0, 2**63, 3000).astype(np.uint64)
        set_a = base[:2000]
        set_b = base[1000:3000]  # exact J = 1000/3000
        sa = perm_minhash(np.unique(set_a), a_const, b_const)
        sb = perm_minhash(np.unique(set_b), a_const, b_const)
        est = (sa == sb).mean()
        assert abs(est - 1 / 3) < 0.12

    def test_identical_sets_match_fully(self):
        a_const, b_const = perm_constants(64, 0)
        s = np.unique(np.arange(100, dtype=np.uint64) * 7919)
        assert (perm_minhash(s, a_const, b_const)
                == perm_minhash(s, a_const, b_const)).all()


class TestSimhash:
    def test_similar_docs_close_hamming(self):
        base = " ".join(f"token{i} value{i * 7}" for i in range(120))
        h1, _ = batch_shingle_hashes([base.encode()], 16, 0)
        h2, _ = batch_shingle_hashes([(base + " one extra clause").encode()], 16, 0)
        d1, d2 = np.unique(h1), np.unique(h2)
        both = np.concatenate([d1, d2])
        offs = np.array([0, len(d1)])
        s = simhash_batch(both, offs)
        ham = bin(int(s[0]) ^ int(s[1])).count("1")
        assert ham <= 8

    def test_different_docs_far_hamming(self):
        a, _ = batch_shingle_hashes([b"x" + bytes(range(200)) * 3], 16, 0)
        b, _ = batch_shingle_hashes([("totally different words here " * 20).encode()], 16, 0)
        da, db = np.unique(a), np.unique(b)
        s = simhash_batch(np.concatenate([da, db]), np.array([0, len(da)]))
        ham = bin(int(s[0]) ^ int(s[1])).count("1")
        assert ham > 8


class TestWinnow:
    def test_contained_doc_fingerprints_subset(self):
        small = ("def foo():\n    return sym_001 + sym_002\n" * 8).encode()
        big = b"HEADER " * 40 + small + b" FOOTER" * 40
        hs, _ = batch_shingle_hashes([small], 16, 0)
        hb, _ = batch_shingle_hashes([big], 16, 0)
        fs = set(winnow(hs, 50).tolist())
        fb = set(winnow(hb, 50).tolist())
        # most of the small doc's fingerprints survive inside the big doc
        assert len(fs & fb) / len(fs) >= 0.5

    def test_short_doc(self):
        h = np.array([5, 3, 9], dtype=np.uint64)
        assert winnow(h, 50).tolist() == [3]


class TestU64Shift:
    @given(st.integers(0, 2**64 - 1), st.integers(0, 2**64 - 1))
    @settings(max_examples=100, deadline=None)
    def test_order_preserving_roundtrip(self, x, y):
        arr = np.array([x, y], dtype=np.uint64)
        shifted = u64_to_i64(arr)
        assert i64_to_u64(shifted).tolist() == [x, y]
        assert (x < y) == (int(shifted[0]) < int(shifted[1])) or x == y


class TestFoldShingleHashes:
    """r6: the fused cache-resident fold must hand every doc the same
    positional segment, in doc order, as the two-pass batch form."""

    def _collect(self, contents, k, seed):
        from sketchy_spark.hashing import fold_shingle_hashes

        order, segs = [], []

        def consume(i, seg):
            order.append(i)
            segs.append(seg.copy())  # seg aliases the reused buffer

        counts = fold_shingle_hashes(contents, k, seed, consume)
        return counts, order, segs

    @pytest.mark.parametrize("k,seed", [(16, 0), (16, 42), (8, 0)])
    def test_matches_two_pass_batch(self, k, seed):
        rng = np.random.RandomState(7)
        contents = [
            bytes(rng.randint(0, 256, n, dtype=np.uint8).tobytes())
            for n in (0, 2, 15, 16, 17, 300, 5000)
        ]
        hashes, counts = batch_shingle_hashes(contents, k, seed)
        c2, order, segs = self._collect(contents, k, seed)
        assert counts.tolist() == c2.tolist()
        assert order == list(range(len(contents)))  # strict doc order
        off = 0
        for cnt, seg in zip(counts, segs):
            assert np.array_equal(hashes[off : off + cnt], seg)
            off += cnt

    def test_oversized_doc_chunks_through_scratch(self):
        # one doc far above the group-buffer capacity, surrounded by
        # small docs: order and values must still match the batch form
        big = b"q" * 300_000
        contents = [b"aaaa" * 10, big, b"", b"tail tail tail tail"]
        hashes, counts = batch_shingle_hashes(contents, 16, 0)
        c2, order, segs = self._collect(contents, 16, 0)
        assert counts.tolist() == c2.tolist()
        assert order == [0, 1, 2, 3]
        off = 0
        for cnt, seg in zip(counts, segs):
            assert np.array_equal(hashes[off : off + cnt], seg)
            off += cnt


class TestOphSortedFastPath:
    """r6: the run-start detection over NON-DECREASING bins (replacing a
    second sort) must reproduce oph_minhash's documented behavior."""

    @given(
        st.lists(st.integers(0, (1 << 64) - 1), max_size=400),
        st.sampled_from([16, 128]),
    )
    @settings(max_examples=60, deadline=None)
    def test_matches_unique_based_reference(self, vals, p):
        from sketchy_spark.hashing import oph_minhash

        distinct = np.unique(np.array(vals, dtype=np.uint64))
        sig = oph_minhash(distinct, p)
        # reference form (pre-r6): np.unique over the bin keys
        bits = p.bit_length() - 1
        ref = np.full(p, np.iinfo(np.uint64).max, dtype=np.uint64)
        if distinct.size:
            bins = (distinct >> np.uint64(64 - bits)).astype(np.int64)
            filled, first_idx = np.unique(bins, return_index=True)
            ref[filled] = distinct[first_idx]
            if filled.size < p:
                has = np.zeros(p, dtype=bool)
                has[filled] = True
                idx = np.where(has, np.arange(p), -1)
                np.maximum.accumulate(idx, out=idx)
                if idx[0] == -1:
                    idx[idx == -1] = idx[-1]
                ref = ref[idx]
        assert sig.tolist() == ref.tolist()
