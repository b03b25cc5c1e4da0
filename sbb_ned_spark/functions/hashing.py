"""MinHash signatures, LSH band keys, char-trigram profiles.

Two Arrow-vectorized pandas-UDF kernels live here: the fused Stage-1
feature kernel and the dedup family's shingle-MinHash kernel — the
analog of the reference's embedding plug-ins
(`/root/reference/qurator/sbb_ned/embeddings/base.py:12-21`, batched in
worker processes `base.py:200-231`). Everything operates on whole Arrow
batches with numpy; no per-row Python UDFs (input_hint).

MinHash uses the multiply-shift universal family over the full 64-bit
shingle hashes (Dietzfelbinger et al., "A reliable randomized algorithm
for the closest-pair problem"):
    h_j(x) = (a_j * x + b_j) >> 32,  a_j odd 64-bit, b_j 64-bit
with a fixed seed so signatures are deterministic across runs/executors.
Chosen over the classic `(a*x+b) mod p` prime family because the mod is
a 64-bit hardware division per element — measured 2.3x slower than the
multiply+shift on the band-signature matrices that dominate the feature
kernel — and because it consumes all 64 key bits instead of a 32-bit
truncation. Band-recall analysis (1-(1-j^r)^b) is family-agnostic; the
measured gates (bench F1 >= 0.99, recall floor 0.997, dedup oracle
equality at three fixture scales) re-verified after the switch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

_MASK32 = np.uint64(0xFFFFFFFF)
_SHIFT32 = np.uint64(32)
_SEED = 42


def _perm_params(n_perms: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(_SEED)
    a = rng.integers(1, 1 << 63, size=n_perms, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 63, size=n_perms, dtype=np.uint64)
    return a, b


_BAND_POLY = np.uint64(1000003)
_BAND_MOD63 = np.uint64((1 << 63) - 1)


def batch_band_sigs(
    rows: list,
    n_perms: int,
    n_bands: int,
    a: np.ndarray,
    b: np.ndarray,
    slab_tokens: int = 1 << 11,
) -> np.ndarray:
    """Whole-batch MinHash band signatures.

    ``rows`` is a sequence of per-row uint64 hash arrays (None/empty rows
    produce all-zero bands). Returns an (n_rows, n_bands) int64 matrix,
    bit-identical to the per-row formulation: every row's hashes are
    flattened into one (L, n_perms) universal-hash matrix and the per-row
    permutation minima come from ONE ``np.minimum.reduceat`` over the row
    offsets — the ragged-bincount pattern of the SimHash kernel — instead
    of a numpy dispatch per row. The flat matrix is bounded by
    ``slab_tokens`` rows of hashes at a time; the default keeps each
    (slab, n_perms) uint64 temporary ~1 MB, i.e. L2-resident — measured
    4x faster than a single batch-wide matrix, whose 100s-of-MB
    elementwise temporaries are memory-bandwidth-bound.
    """
    rows_per_band = n_perms // n_bands
    n = len(rows)
    out = np.zeros((n, n_bands), dtype=np.int64)
    lens = np.fromiter(
        (0 if r is None else len(r) for r in rows), dtype=np.int64, count=n
    )
    idx = np.flatnonzero(lens > 0)
    pos = 0
    while pos < idx.size:
        end, budget = pos, 0
        while end < idx.size and (budget == 0 or budget + lens[idx[end]] <= slab_tokens):
            budget += lens[idx[end]]
            end += 1
        slab = idx[pos:end]
        flat = np.concatenate(
            [np.asarray(rows[i], dtype=np.int64) for i in slab]
        ).astype(np.uint64)
        sig = (flat[:, None] * a[None, :] + b[None, :]) >> _SHIFT32
        starts = np.zeros(slab.size, dtype=np.int64)
        np.cumsum(lens[slab[:-1]], out=starts[1:])
        mins = np.minimum.reduceat(sig, starts, axis=0)
        bands = mins.reshape(slab.size, n_bands, rows_per_band)
        h = np.zeros((slab.size, n_bands), dtype=np.uint64)
        for r in range(rows_per_band):
            h = (h * _BAND_POLY + bands[:, :, r]) & _BAND_MOD63
        out[slab] = h.astype(np.int64)
        pos = end
    return out


def make_shingle_minhash_udf(n_perms: int = 64, n_bands: int = 16, k: int = 3):
    """pandas UDF: array<bigint> TOKEN xxhash64s -> struct(set_hashes,
    band_keys) — the whole shingle+MinHash derivation in ONE Arrow pass.

    Optimization-round rewrite of the dedup_minhash_lsh hot path (guide
    §4.1/§4.2): the previous formulation built k-gram shingles as STRINGS
    with a chain of Catalyst higher-order functions (sequence → transform
    → slice → concat_ws → array_distinct), hashed them with a second
    transform, and banded them in a third (Python) pass. Higher-order
    lambdas are CodegenFallback — interpreted, one allocation per element
    — and the giant expression tree also paid seconds of one-time plan
    compilation. Here Catalyst only tokenizes + xxhash64s (small codegen
    unit); everything derived from the token hashes is numpy:

    - shingle hash  = shift/XOR combine of k consecutive token hashes
      (the ``grams`` scheme of ``make_fused_features_udf``); rows with
      fewer than k tokens fall back to their raw token hashes — exactly
      mirroring the string fallback;
    - set_hashes    = np.unique of those (== array_distinct of shingle
      strings up to a ~2^-62-per-pair hash collision, far below the
      round-to-6-decimals noise floor of the verified Jaccard);
    - band_keys     = ``batch_band_sigs`` minhash bands with the band
      index XOR-mixed in (8-byte join keys instead of "band:hash"
      strings — guide §2.3, narrower shuffle keys). Empty docs emit NO
      keys: a doc with no shingles can never reach tau, and the oracle's
      posting table has no rows for it either.
    """
    a, b = _perm_params(n_perms)
    band_salt = np.arange(1, n_bands + 1, dtype=np.uint64) * np.uint64(
        0x9E3779B97F4A7C15
    )
    kk = k

    @F.pandas_udf("set_hashes array<bigint>, band_keys array<bigint>")
    def shingle_minhash(th_s: pd.Series) -> pd.DataFrame:
        rows: list = []
        sets: list = []
        for th in th_s:
            if th is None or len(th) == 0:
                rows.append(None)
                sets.append([])
                continue
            u = np.asarray(th, dtype=np.int64).astype(np.uint64)
            n = u.size
            if n < kk:
                s = np.unique(u)
            else:
                g = u[: n - kk + 1] << np.uint64(kk - 1)
                for j in range(1, kk):
                    g = g ^ (u[j : n - kk + 1 + j] << np.uint64(kk - 1 - j))
                s = np.unique(g)
            rows.append(s)
            sets.append(s.astype(np.int64))
        bands = batch_band_sigs(rows, n_perms, n_bands, a, b)
        keys = (bands.astype(np.uint64) ^ band_salt[None, :]).astype(np.int64)
        out_keys = [
            keys[i].tolist() if rows[i] is not None else []
            for i in range(len(rows))
        ]
        return pd.DataFrame({"set_hashes": sets, "band_keys": out_keys})

    return shingle_minhash


def _trigram_counts(s: str, dim: int) -> np.ndarray:
    if not s or len(s) < 3:
        return np.zeros(dim, dtype=np.float32)
    arr = np.frombuffer(s.encode("utf-8", "replace"), dtype=np.uint8).astype(np.int64)
    h = arr[:-2] * 961 + arr[1:-1] * 31 + arr[2:]
    counts = np.bincount(h % dim, minlength=dim).astype(np.float64)
    norm = np.sqrt((counts * counts).sum())
    return (counts / norm if norm > 0 else counts).astype(np.float32)


# identifiers collapse to this constant in the hash-space skeleton
_ID_HASH = np.uint64(0x9E3779B97F4A7C15)


def make_fused_features_udf(
    n_perms: int = 64,
    n_bands: int = 16,
    k: int = 3,
    k_skel: int = 4,
    trigram_dim: int = 64,
    max_skeleton: int = 200,
):
    """ONE Arrow round-trip for every derived feature of a record.

    Input: (tok_hashes array<bigint>, fixed_mask array<boolean>,
    norm_content string). Output struct: token_set, skeleton_seq,
    mh_content bands, mh_skeleton bands, trigram_vec.

    Motivation (measured at bench, 117k files, 8 cores): the Catalyst
    higher-order-function formulation of these features — zip_with
    shingle chains, per-token ``try_cast`` numeric test, array literals
    inside lambdas — costs 3-10x the same arithmetic in numpy, because
    each lambda evaluation allocates. Tokenization and xxhash64 stay
    JVM-side (regexp_extract_all + transform are cheap and Arrow ships
    compact int64 arrays); everything derived from the hashes happens
    here in one pass: skeleton = where(mask, hash, ID), k-gram shingles
    by shift/XOR of consecutive hashes, sorted-unique token set, MinHash
    band signatures for both gram families, and the char-trigram profile.
    """
    assert n_perms % n_bands == 0
    rows_per_band = n_perms // n_bands
    a, b = _perm_params(n_perms)
    poly = np.uint64(1000003)
    mod63 = np.uint64((1 << 63) - 1)
    zero_bands = [0] * n_bands

    def grams(u: np.ndarray, kk: int) -> np.ndarray:
        # No dedup: duplicate grams cannot change a permutation MINIMUM,
        # so the per-row np.unique sort the first version ran here was
        # pure overhead (band signatures are bit-identical without it).
        n = len(u)
        if n < kk:
            return u
        g = u[: n - kk + 1] << np.uint64(kk - 1)
        for j in range(1, kk):
            g = g ^ (u[j : n - kk + 1 + j] << np.uint64(kk - 1 - j))
        return g

    def band_sig(g: np.ndarray) -> list:
        # Deliberately per-row, NOT batch_band_sigs: feature rows are
        # whole files (hundreds-thousands of grams), where one (L, 64)
        # matrix per row amortizes the numpy dispatch and stays
        # cache-resident — measured 15% FASTER end-to-end at bench scale
        # than routing through the slabbed whole-batch kernel, whose
        # flatten/concat overhead only pays off for the dedup path's
        # many-tiny-rows regime (where it measured ~20x).
        if len(g) == 0:
            return zero_bands
        sig = ((g[:, None] * a[None, :] + b[None, :]) >> _SHIFT32).min(axis=0)
        bands = sig.reshape(n_bands, rows_per_band)
        h = np.zeros(n_bands, dtype=np.uint64)
        for r in range(rows_per_band):
            h = (h * poly + bands[:, r]) & mod63
        return h.astype(np.int64).tolist()

    @F.pandas_udf(
        "token_set array<int>, skeleton_seq array<int>, "
        "mh_content array<bigint>, mh_skeleton array<bigint>, "
        "trigram_vec array<float>"
    )
    def fused(th_s: pd.Series, mask_s: pd.Series, nc_s: pd.Series) -> pd.DataFrame:
        # token_set / skeleton_seq ship as 32-bit truncations of the token
        # hashes: these columns only feed Stage-2's set/sequence similarity
        # kernels, where a 32-bit in-pair collision shifts one jaccard by
        # ~1/|set| with probability ~|set|^2/2^32 — far below the decision
        # band — while HALVING the dominant pairs-join shuffle payload.
        # The MinHash/gram computation stays on the full 64-bit hashes.
        tok_sets, skels, mhc, mhs, trigs = [], [], [], [], []
        for th, mask, nc in zip(th_s, mask_s, nc_s):
            if th is None or len(th) == 0:
                tok_sets.append([])
                skels.append([])
                mhc.append(zero_bands)
                mhs.append(zero_bands)
            else:
                u = np.asarray(th, dtype=np.int64).astype(np.uint64)
                m = np.asarray(mask, dtype=bool)
                skel = np.where(m, u, _ID_HASH)
                tok_sets.append(
                    np.unique((u & _MASK32).astype(np.int64)).astype(np.int32)
                )
                skels.append(
                    (skel[:max_skeleton] & _MASK32).astype(np.int64).astype(np.int32)
                )
                mhc.append(band_sig(grams(u, k)))
                mhs.append(band_sig(grams(skel, k_skel)))
            trigs.append(_trigram_counts(nc, trigram_dim))
        return pd.DataFrame(
            {
                "token_set": tok_sets,
                "skeleton_seq": skels,
                "mh_content": mhc,
                "mh_skeleton": mhs,
                "trigram_vec": trigs,
            }
        )

    return fused

