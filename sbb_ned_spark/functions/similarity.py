"""Pairwise similarity kernels used inside the Stage-2 scoring UDF.

Plays the role of the reference's BERT cross-encoder + ranking features
(`/root/reference/qurator/sbb_ned/models/bert.py:307-326` softmax probas;
`index.py:692-703` match_uniqueness/coverage/dist) with deterministic,
model-free similarity families:

- token-set Jaccard / containment ~ match_coverage / match_uniqueness
- token-set Levenshtein           ~ indel similarity of the sorted unique
                                    token sequences (fuzzywuzzy
                                    token_set_ratio semantics) — derived
                                    EXACTLY from the intersection count
- skeleton sequence ratio         ~ pairwise BERT proba (structure
                                    agreement); bigram-multiset estimate
                                    for every pair, exact difflib only in
                                    the decision-ambiguous band
- trigram cosine                  ~ summarized embedding distance
- path Jaro-Winkler               ~ surface-form similarity of the file
                                    path (north_star scoring family)
- size ratio                      ~ len_guessed ranking feature

Everything here is WHOLE-BATCH numpy (Arrow columns in, float arrays
out); the only per-row Python left is difflib on the small ambiguous
fraction that the batch estimate cannot safely decide.
"""

from __future__ import annotations

from difflib import SequenceMatcher

import numpy as np


def seq_ratio(a, b, max_seq: int = 400) -> float:
    """difflib ratio over (hashed) token sequences, length-capped."""
    a = list(a[:max_seq]) if a is not None else []
    b = list(b[:max_seq]) if b is not None else []
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    return SequenceMatcher(None, a, b, autojunk=False).ratio()


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    if a is None or b is None or len(a) == 0 or len(b) == 0:
        return 0.0
    num = float(np.dot(a, b))
    den = float(np.linalg.norm(a) * np.linalg.norm(b))
    return num / den if den > 0 else 0.0


def size_ratio(na: int, nb: int) -> float:
    hi = max(na, nb)
    return (min(na, nb) / hi) if hi > 0 else 1.0


# ---------------------------------------------------------------------------
# Whole-batch kernels (vectorized over Arrow batches; no per-row Python)
# ---------------------------------------------------------------------------

def _ragged(arrs, n: int, dtype=np.uint64):
    """Flatten an iterable of optional arrays -> (values, lengths, row_idx)."""
    lens = np.zeros(n, dtype=np.int64)
    chunks = []
    for i, a in enumerate(arrs):
        if a is None:
            continue
        aa = np.asarray(a, dtype=np.int64).astype(dtype)
        lens[i] = aa.size
        if aa.size:
            chunks.append(aa)
    vals = np.concatenate(chunks) if chunks else np.empty(0, dtype=dtype)
    idx = np.repeat(np.arange(n, dtype=np.int64), lens)
    return vals, lens, idx


def batch_set_intersections(ts_a, ts_b, n: int):
    """(inter, len_a, len_b) for n pairs of unique-element arrays.

    Sort-based: concatenate both sides tagged with the pair index; a
    (pair, value) appearing twice is in the intersection. O(N log N) numpy
    over the whole batch — no per-row loop. Token sets arrive as int32
    truncated hashes (hashing.make_fused_features_udf); sorting the
    4-byte values directly halves the bandwidth of the dominant lexsort."""
    va, la, ia = _ragged(ts_a, n, dtype=np.uint32)
    vb, lb, ib = _ragged(ts_b, n, dtype=np.uint32)
    if len(va) == 0 or len(vb) == 0:
        return np.zeros(n, dtype=np.int64), la, lb
    idx = np.concatenate([ia, ib])
    vals = np.concatenate([va, vb])
    order = np.lexsort((vals, idx))
    si, sv = idx[order], vals[order]
    dup = (si[1:] == si[:-1]) & (sv[1:] == sv[:-1])
    inter = np.bincount(si[1:][dup], minlength=n)
    return inter.astype(np.int64), la, lb


def _bigrams(vals: np.ndarray, idx: np.ndarray, lens: np.ndarray, n: int):
    """Positional bigram multiset per row from ragged sequences; rows of
    length 1 contribute their single element so short sequences are not
    empty. Unsigned wraparound arithmetic in the input's own dtype
    (well-defined in numpy; the shifted-XOR gram keeps its quality at
    32 bits)."""
    if len(vals) == 0:
        return vals, np.zeros(0, dtype=np.int64)
    adj = idx[1:] == idx[:-1]
    one = vals.dtype.type(1)
    bg = (vals[:-1][adj] << one) ^ vals[1:][adj]
    bg_idx = idx[:-1][adj]
    singles = lens == 1
    if singles.any():
        # rows with a single element: the element itself is the gram
        first_pos = np.concatenate([[0], np.cumsum(lens)[:-1]])
        sp = first_pos[singles]
        bg = np.concatenate([bg, vals[sp]])
        bg_idx = np.concatenate([bg_idx, np.arange(n, dtype=np.int64)[singles]])
    return bg, bg_idx


def batch_multiset_intersections(vals_a, idx_a, vals_b, idx_b, n: int):
    """Multiset intersection sizes: sum over distinct values of
    min(count_a, count_b), per pair — sort once, run-length count."""
    if len(vals_a) == 0 or len(vals_b) == 0:
        return np.zeros(n, dtype=np.int64)
    side = np.concatenate(
        [np.zeros(len(idx_a), dtype=np.int8), np.ones(len(idx_b), dtype=np.int8)]
    )
    idx = np.concatenate([idx_a, idx_b])
    vals = np.concatenate([vals_a, vals_b])
    order = np.lexsort((side, vals, idx))
    si, sv, ss = idx[order], vals[order], side[order]
    new_run = np.empty(len(si), dtype=bool)
    new_run[0] = True
    new_run[1:] = (si[1:] != si[:-1]) | (sv[1:] != sv[:-1])
    run_id = np.cumsum(new_run) - 1
    n_runs = int(run_id[-1]) + 1
    c0 = np.bincount(run_id[ss == 0], minlength=n_runs)
    c1 = np.bincount(run_id[ss == 1], minlength=n_runs)
    m = np.minimum(c0, c1)
    return np.bincount(si[new_run], weights=m, minlength=n).astype(np.int64)


def batch_seq_ratio_estimate(sk_a, sk_b, n: int):
    """Bigram-multiset indel similarity 2·|G_a ∩ G_b| / (|G_a| + |G_b|) —
    the whole-batch estimate of difflib's 2M/(la+lb) ratio over hashed
    skeleton sequences. Exact at 1.0 for identical sequences."""
    va, la, ia = _ragged(sk_a, n, dtype=np.uint32)
    vb, lb, ib = _ragged(sk_b, n, dtype=np.uint32)
    ga_vals, ga_idx = _bigrams(va, ia, la, n)
    gb_vals, gb_idx = _bigrams(vb, ib, lb, n)
    ga = np.where(la > 0, np.maximum(la - 1, 1), 0)
    gb = np.where(lb > 0, np.maximum(lb - 1, 1), 0)
    inter = batch_multiset_intersections(ga_vals, ga_idx, gb_vals, gb_idx, n)
    denom = ga + gb
    est = np.where(denom > 0, 2.0 * inter / np.maximum(denom, 1), 1.0)
    # one side empty, other not -> 0
    est = np.where((la == 0) != (lb == 0), 0.0, est)
    return est, la, lb


def batch_cosine(tv_a, tv_b, n: int, dim: int) -> np.ndarray:
    """Row-wise cosine over fixed-dim float vectors: one stack + einsum."""
    A = np.zeros((n, dim), dtype=np.float64)
    B = np.zeros((n, dim), dtype=np.float64)
    for i in range(n):  # slice-assign per row (cheap); vectors are L2-normed upstream
        if tv_a[i] is not None and len(tv_a[i]) == dim:
            A[i] = tv_a[i]
        if tv_b[i] is not None and len(tv_b[i]) == dim:
            B[i] = tv_b[i]
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return np.where(den > 0, num / np.maximum(den, 1e-300), 0.0)


_JW_MAXL = 64


def batch_jaro_winkler(strs_a, strs_b) -> np.ndarray:
    """Vectorized Jaro-Winkler over two equal-length string sequences.

    The classic matching loop runs over CHARACTER POSITIONS (<= 64
    iterations per batch), not rows: at each position p every pair
    simultaneously claims its leftmost unmatched in-window partner via a
    masked argmax. Transpositions via cumsum-compaction of the matched
    characters. Exact Jaro-Winkler (prefix scale 0.1, max prefix 4) for
    strings up to ``_JW_MAXL`` bytes (longer ones are truncated)."""
    n = len(strs_a)
    enc_a = [(s or "").encode("utf-8")[:_JW_MAXL] for s in strs_a]
    enc_b = [(s or "").encode("utf-8")[:_JW_MAXL] for s in strs_b]
    la = np.fromiter((len(x) for x in enc_a), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in enc_b), dtype=np.int64, count=n)
    L = max(1, int(max(la.max(initial=0), lb.max(initial=0))))
    A = np.zeros((n, L), dtype=np.uint8)
    B = np.zeros((n, L), dtype=np.uint8)
    if la.sum():
        A[np.repeat(np.arange(n), la), np.concatenate([np.arange(x) for x in la])] = (
            np.frombuffer(b"".join(enc_a), dtype=np.uint8)
        )
    if lb.sum():
        B[np.repeat(np.arange(n), lb), np.concatenate([np.arange(x) for x in lb])] = (
            np.frombuffer(b"".join(enc_b), dtype=np.uint8)
        )
    w = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    cols = np.arange(L)
    in_b = cols[None, :] < lb[:, None]
    matched_b = np.zeros((n, L), dtype=bool)
    a_matched = np.zeros((n, L), dtype=bool)
    for p in range(L):
        ap = A[:, p]
        lo = np.maximum(p - w, 0)[:, None]
        hi = np.minimum(p + w, L - 1)[:, None]
        cand = (
            (B == ap[:, None])
            & ~matched_b
            & (cols[None, :] >= lo)
            & (cols[None, :] <= hi)
            & in_b
            & (ap != 0)[:, None]
            & (p < la)[:, None]
        )
        has = cand.any(axis=1)
        q = cand.argmax(axis=1)
        matched_b[has, q[has]] = True
        a_matched[:, p] = has
    m = a_matched.sum(axis=1)
    # compact matched chars in order on both sides, compare for transpositions
    bufA = np.zeros((n, L), dtype=np.uint8)
    bufB = np.zeros((n, L), dtype=np.uint8)
    ra, ca = np.nonzero(a_matched)
    posA = np.cumsum(a_matched, axis=1) - 1
    bufA[ra, posA[ra, ca]] = A[ra, ca]
    rb, cb = np.nonzero(matched_b)
    posB = np.cumsum(matched_b, axis=1) - 1
    bufB[rb, posB[rb, cb]] = B[rb, cb]
    t = ((bufA != bufB) & (cols[None, :] < m[:, None])).sum(axis=1) // 2
    m_safe = np.maximum(m, 1)
    la_safe = np.maximum(la, 1)
    lb_safe = np.maximum(lb, 1)
    jaro = (m / la_safe + m / lb_safe + (m - t) / m_safe) / 3.0
    jaro = np.where(m == 0, np.where((la == 0) & (lb == 0), 1.0, 0.0), jaro)
    k = min(4, L)
    eqp = (A[:, :k] == B[:, :k]) & (A[:, :k] != 0)
    prefix = (np.cumprod(eqp, axis=1) > 0).sum(axis=1)
    return jaro + 0.1 * prefix * (1.0 - jaro)

