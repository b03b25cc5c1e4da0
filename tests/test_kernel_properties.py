"""Property tests of the fused numpy kernels against small pure-Python
references: the MinHash band kernel (``hashing.batch_band_sigs``), the
SimHash vote (``dedup.batch_simhash``), the winnowing UDF
(``dedup.winnow_fingerprints``) and the hyperplane-LSH bucket UDF
(``similarity_search.make_hyperplane_buckets_udf``). Drawn rows include
empty and None rows and slab budgets small enough to spread a batch over
many slabs."""

from __future__ import annotations

from hashlib import sha256

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sbb_ned_spark.functions import hashing
from sbb_ned_spark.operators import dedup, similarity_search

_INT64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_ROWS = st.lists(st.one_of(st.none(), st.lists(_INT64, max_size=12)), max_size=8)
_MASK64 = (1 << 64) - 1


def _band_sig_reference(row, n_perms: int, n_bands: int) -> list[int]:
    """One row's band signature, with Python integers: the minimum of
    each multiply-shift permutation, then a polynomial hash per band."""
    if not row:
        return [0] * n_bands
    a, b = hashing._perm_params(n_perms)
    mins = [
        min((((x & _MASK64) * int(aj) + int(bj)) & _MASK64) >> 32 for x in row)
        for aj, bj in zip(a, b)
    ]
    r = n_perms // n_bands
    out = []
    for band in range(n_bands):
        h = 0
        for m in mins[band * r : (band + 1) * r]:
            h = (h * 1000003 + m) & ((1 << 63) - 1)
        out.append(h)
    return out


@settings(max_examples=60, derandomize=True, deadline=None)
@example(rows=[None, [], [1, 2, 3], [5] * 10, []], slab_tokens=2)
@given(rows=_ROWS, slab_tokens=st.sampled_from([1, 3, 7, 1 << 11]))
def test_batch_band_sigs_matches_per_row_reference(rows, slab_tokens):
    n_perms, n_bands = 16, 4
    a, b = hashing._perm_params(n_perms)
    got = hashing.batch_band_sigs(rows, n_perms, n_bands, a, b, slab_tokens=slab_tokens)
    assert got.shape == (len(rows), n_bands)
    assert got.tolist() == [_band_sig_reference(r, n_perms, n_bands) for r in rows]


def _simhash_reference(row, bits: int = 64) -> int:
    """The +1/-1 vote: bit b is set iff more tokens have it set than not."""
    if not row:
        return 0
    sig = 0
    for bit in range(bits):
        if sum(1 if (x >> bit) & 1 else -1 for x in row) > 0:
            sig |= 1 << bit
    return sig - (1 << 64) if sig >= 1 << 63 else sig


@settings(max_examples=60, derandomize=True, deadline=None)
@example(rows=[None, [], [7] * 9, [-1, 0, -1]], slab_tokens=4)
@given(rows=_ROWS, slab_tokens=st.sampled_from([1, 4, 1 << 17]))
def test_batch_simhash_matches_vote_reference(rows, slab_tokens):
    got = dedup.batch_simhash(rows, len(rows), slab_tokens=slab_tokens)
    assert got.tolist() == [_simhash_reference(r) for r in rows]


def _winnow_reference(tokens: list[str], k: int, w: int) -> set[int]:
    """Distinct minima of every w-window (tail windows truncated) over the
    sha-60 hashes of the positional k-token shingles; a stream shorter
    than k is one shingle, an empty stream has no fingerprints."""
    if not tokens:
        return set()
    if len(tokens) >= k:
        shingles = ["\x01".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)]
    else:
        shingles = ["\x01".join(tokens)]
    hs = [int(sha256(s.encode()).hexdigest()[:15], 16) for s in shingles]
    return {min(hs[i : i + w]) for i in range(len(hs))}


@settings(max_examples=15, derandomize=True, deadline=None)
@example(streams=[[], ["a"], ["a", "b"], ["a", "b", "c", "a"], ["b"] * 9], k=3, w=4)
@given(
    streams=st.lists(st.lists(st.sampled_from(["a", "b", "c", "dd"]), max_size=10), min_size=1, max_size=6),
    k=st.integers(1, 4),
    w=st.integers(1, 5),
)
def test_winnow_udf_matches_reference(spark, streams, k, w):
    df = spark.createDataFrame(
        [(i, " ".join(s)) for i, s in enumerate(streams)], "doc_id long, text string"
    )
    got: dict[int, set[int]] = {i: set() for i in range(len(streams))}
    for r in dedup.winnow_fingerprints(df, "doc_id", "text", k=k, w=w).collect():
        got[r["id"]].add(r["fp"])
    assert got == {i: _winnow_reference(s, k, w) for i, s in enumerate(streams)}


def _hyperplane_bucket_reference(vec, dim: int, n_planes: int, n_tables: int, seed: int):
    """Table i's bucket: the sign bits of the vector's projections on the
    planes of default_rng(seed + i), packed little-endian into an int."""
    out = []
    for i in range(n_tables):
        planes = np.random.default_rng(seed + i).standard_normal((dim, n_planes))
        bits = (np.asarray(vec, dtype=np.float64) @ planes > 0).astype(np.uint8)
        out.append(int.from_bytes(np.packbits(bits, bitorder="little").tobytes(), "little"))
    return out


@settings(max_examples=30, derandomize=True, deadline=None)
@example(vecs=[[1.0] * 6, [0.0] * 6, [-1.0] * 6], n_planes=31, n_tables=3)
@given(
    vecs=st.lists(st.lists(st.floats(-4, 4), min_size=6, max_size=6), min_size=1, max_size=8),
    n_planes=st.sampled_from([1, 16, 31]),
    n_tables=st.integers(1, 4),
)
def test_hyperplane_buckets_udf_matches_bitpack_reference(spark, vecs, n_planes, n_tables):
    """Bucket ids equal the bit-packed sign pattern; at 31 planes the top
    sign bit lands in bit 30, so no id overflows the ``array<int>``
    column into a negative number."""
    udf = similarity_search.make_hyperplane_buckets_udf(6, n_planes, n_tables, seed=500)
    got = [list(map(int, row)) for row in udf.func(pd.Series(vecs))]
    want = [_hyperplane_bucket_reference(v, 6, n_planes, n_tables, 500) for v in vecs]
    assert got == want
    assert all(0 <= x < 2**31 for row in got for x in row)
