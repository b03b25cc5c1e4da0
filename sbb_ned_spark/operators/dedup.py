"""Deduplication operators for large-scale training-data pipelines.

Five families, all set-oriented DataFrame plans with exact verification
in native JVM expressions (no Python):

- exact         : hash-groupBy on sha256(text)
- ngram_jaccard : brute-force shingle-set Jaccard — the exact
                  oracle-checkable baseline
- containment   : winnowed-fingerprint coverage of the smaller document
- minhash_lsh   : MinHash band candidates -> exact Jaccard verification
- simhash       : 64-bit SimHash, banded into 4x16-bit chunks -> verified
                  Hamming distance via native bit ops

Every pair family posts ids under keys (shingle, fingerprint, band,
chunk) and forms the pairs sharing a key with
:func:`blocking.posting_pairs` — never the cross product. The verify
joins its payload back with :func:`blocking.join_sides`, except SimHash,
whose posted id carries its 8-byte signature. Brute-force paths carry
a skew cutoff mirroring the reference's
max_frequency rule (`/root/reference/qurator/sbb_ned/index.py:652-653`).
"""

from __future__ import annotations

from hashlib import sha256

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sbb_ned_spark.functions.partitioning import ensure_min_parallelism
from sbb_ned_spark.operators.blocking import join_sides, posting_pairs


def _token_array(text_col: str):
    # one precompiled-regex extraction pass == split on \s+ then drop
    # empties (extract-all of \S+ runs is the exact complement of a \s+
    # split under Java regex), without the per-element filter lambda —
    # the normalize.py measurement (split+filter 15.7s vs extract 2.0s
    # at bench scale) applied to the dedup family (guide §4.1)
    return F.regexp_extract_all(F.lower(F.trim(F.col(text_col))), F.lit(r"\S+"), 0)


def _shingle_array(text_col: str, k: int = 3):
    """Distinct k-gram token shingles (joined with \\x01); documents with
    fewer than k tokens fall back to their raw tokens. Shingling keeps
    near-identical-vocabulary corpora discriminative — unigram token sets
    degenerate when the corpus vocabulary is small."""
    toks = _token_array(text_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws("\x01", F.slice(toks, i + 1, k)))
    return F.array_distinct(F.when(n >= k, grams).otherwise(toks))


def doc_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) posting list — distinct token k-gram shingles."""
    return ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(_shingle_array(text_col, k)).alias("token")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, keeper_id, group_size): keeper = min id per identical text."""
    hashed = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("text_sha")
    )
    groups = hashed.groupBy("text_sha").agg(
        F.min("id").alias("keeper_id"), F.count("*").alias("group_size")
    )
    return hashed.join(groups, "text_sha").select("id", "keeper_id", "group_size")


def _posting_overlap(posting: DataFrame, key: str, max_key_freq: int | None) -> DataFrame:
    """(id_a, id_b, n_shared_keys, n_a, n_b) over an (id, ``key``)
    posting list: the :func:`~blocking.posting_pairs` count of distinct
    keys the pair has in common (id_a < id_b), and each side's posting
    size ``n``.

    ``max_key_freq`` drops keys posted by more than that many ids before
    the self-join (hot-key skew guard; sizes still count them, so the
    overlap ratios can only shrink). The posting list has three consumers
    (sizes, both join sides): an eager localCheckpoint runs its lineage
    once and lets every consumer read stored blocks — without it the
    lineage re-ran once per consumer (measured for winnowing at sf0.1:
    46 s -> 18 s), and a LAZY checkpoint would be raced by the consumers'
    concurrent subtree jobs (guide §5 caching note).
    """
    posting = posting.localCheckpoint(eager=True)
    sizes = posting.groupBy("id").agg(F.count("*").alias("n"))
    if max_key_freq is not None:
        hot = (
            posting.groupBy(key)
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") > max_key_freq)
            .select(key)
        )
        posting = posting.join(F.broadcast(hot), key, "left_anti")
    pairs = posting_pairs(posting.select(F.col("id").alias("id_a"), key), key)
    return join_sides(pairs, sizes)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: float = 0.8,
    max_token_freq: int | None = None,
    k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard >= tau via posting-list self-join.

    |A ∩ B| from the shingle join; |A|,|B| from per-doc counts — never
    materializes the full cross product. Optional hot-shingle cutoff drops
    shingles appearing in more than ``max_token_freq`` docs (skew guard;
    correctness unaffected for high tau when paired with verification).
    """
    out = _posting_overlap(
        doc_shingles(df, id_col, text_col, k), "token", max_token_freq
    ).withColumn(
        "jaccard",
        F.col("n_shared_keys") / (F.col("n_a") + F.col("n_b") - F.col("n_shared_keys")),
    )
    return out.filter(F.col("jaccard") >= tau).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """(id, fp) winnowing fingerprints (Schleimer-Wilkerson-Aiken, the
    MOSS scheme): POSITIONAL k-token shingles (ordered, duplicates kept —
    unlike the distinct-set shingles of the Jaccard family), sha-60
    hashed, then the distinct minima of every ``w``-window of consecutive
    shingle hashes. Guarantee: two documents sharing any token run of
    length >= w + k - 1 share at least one fingerprint, at ~2/(w+1) the
    density of full shingling. Hashes are the sha256-derived family
    (:func:`_sha60`) so DuckDB can recompute the exact fingerprint set —
    the operator is oracle-checkable end to end.

    Round-6 rewrite (guide §4.2): the Catalyst formulation — transform/
    slice/concat_ws shingling, sha2 per shingle, then an O(n*w)
    interpreted transform(slice/array_min) window pass — measured 16 s at
    sf0.1 PER EVALUATION (higher-order lambdas are CodegenFallback and
    allocate per element). The kernel now runs in one Arrow pass:
    positional shingle strings and their sha-60s via hashlib (identical
    bytes -> identical digests, so the DuckDB oracle contract is
    unchanged), window minima via one numpy sliding_window_view (tail
    windows padded with uint64-max so truncated slices keep the same
    minima), distinct via np.unique. Measured ~16 s -> ~1 s.
    """
    pad_val = np.uint64(0xFFFFFFFFFFFFFFFF)

    @F.pandas_udf("array<bigint>")
    def winnow(tok_s: pd.Series) -> pd.Series:
        out = []
        for toks in tok_s:
            if toks is None or len(toks) == 0:
                out.append([])
                continue
            n = len(toks)
            if n >= k:
                sh = ["\x01".join(toks[i : i + k]) for i in range(n - k + 1)]
            else:
                sh = ["\x01".join(toks)]
            hs = _sha60_hashes(sh)
            padded = np.concatenate([hs, np.full(w - 1, pad_val, dtype=np.uint64)])
            wins = np.lib.stride_tricks.sliding_window_view(padded, w).min(axis=1)
            out.append(np.unique(wins).astype(np.int64))
        return pd.Series(out)

    return ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(winnow(_token_array(text_col))).alias("fp"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: float = 0.8,
    k: int = 3,
    w: int = 4,
    max_fp_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC containment near-dups: the smaller document's
    fingerprint coverage ``|FP_A ∩ FP_B| / min(|FP_A|, |FP_B|) >= tau``.

    Catches subset/quote/concatenation relations that symmetric Jaccard
    misses — ``|A∩B|/|A∪B|`` is small when ``|B| >> |A|`` even at FULL
    overlap of the smaller side; this is the standard containment measure
    of the LLM-training near-dup literature (Broder's containment, MOSS).
    Blocking is the winnowed fingerprint equi-join (never all-pairs);
    ``max_fp_freq`` is the hot-fingerprint skew guard, same contract as
    the Jaccard family's hot-shingle cutoff.
    """
    out = _posting_overlap(
        winnow_fingerprints(df, id_col, text_col, k, w), "fp", max_fp_freq
    ).withColumn(
        "containment", F.col("n_shared_keys") / F.least(F.col("n_a"), F.col("n_b"))
    )
    return out.filter(F.col("containment") >= tau).select(
        "id_a", "id_b", F.round("containment", 6).alias("containment")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: float = 0.8,
    n_perms: int = 64,
    n_bands: int = 16,
) -> DataFrame:
    """MinHash-LSH candidates, verified with exact native Jaccard.

    Verification is `size(array_intersect)/size(array_union)` — JVM
    expressions — so the output equals the brute-force result whenever
    band recall is complete at the chosen (perms, bands, tau).

    Defaults are 16 bands x 4 rows (the ER pipeline's own band analysis,
    `config.py:26-32`): band recall at jaccard 0.8 is 1-(1-0.8^4)^16 ~
    0.9998 — empirically complete on the driver fixtures (the operator's
    oracle IS the brute-force result) — at HALF the signature/posting
    cost of 128x32.

    Round-6 rewrite (guide §4.1/§4.2/§2.3): Catalyst computes ONLY
    tokenize + per-token xxhash64; shingling, dedup and MinHash banding
    happen in one fused Arrow UDF (`make_shingle_minhash_udf`). The old
    string-shingle HOF chain (sequence/transform/slice/concat_ws/
    array_distinct) was interpreted (CodegenFallback), paid seconds of
    one-time plan compilation, and shipped/verified multi-KB string
    arrays; the fused path joins on 8-byte band keys and verifies exact
    Jaccard on distinct int64 shingle-hash sets (same value as the
    string-set Jaccard up to a ~2^-62-per-pair hash collision). Measured
    first-run 23.5s -> ~3s, warm 2.7s -> ~1s at sf0.1 (bench_extra).

    The (id, set_hashes, band_keys) base is localCheckpoint'ed ONCE:
    the posting explode and BOTH verification join sides read the stored
    blocks, so the UDF lineage runs a single time. The durable-pipeline
    analog is the blocking_keys stage checkpoint (`plans/pipeline.py`).
    """
    from sbb_ned_spark.functions.hashing import make_shingle_minhash_udf

    fused = make_shingle_minhash_udf(n_perms, n_bands, k=3)
    base = (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.transform(_token_array(text_col), lambda t: F.xxhash64(t)).alias("th"),
        )
        .select("id", fused("th").alias("f"))
        .select("id", "f.set_hashes", "f.band_keys")
        # eager: the base feeds the posting explode AND both verify join
        # sides; a lazy checkpoint is materialized by those consumers'
        # concurrent subtree jobs, which race and duplicate the UDF pass
        .localCheckpoint(eager=True)
    )
    keys = base.select(F.col("id").alias("id_a"), F.explode("band_keys").alias("key"))
    cand = posting_pairs(keys, "key")
    verified = (
        join_sides(cand, base.select("id", F.col("set_hashes").alias("set")))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("set_a", "set_b"))
            / F.size(F.array_union("set_a", "set_b")),
        )
        .filter(F.col("jaccard") >= tau)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def batch_simhash(
    hash_rows: list, n_rows: int, bits: int = 64, slab_tokens: int = 1 << 17
) -> np.ndarray:
    """Whole-batch SimHash kernel (the ragged-bincount pattern of
    ``functions.similarity.batch_set_intersections``): flatten every row's
    hashes into one (L, bits) bit matrix, per-row bit votes via ONE
    ``add.reduceat`` over the row boundaries, majority -> signature via a
    single weighted sum. Bit b is set iff strictly more than half the
    tokens have bit b set (2*ones > len), identical to the +1/-1 vote.

    ``hash_rows`` yields per-row uint64 arrays (or None/empty -> signature
    0); returns an int64 signature per row. Slab budget (ADVICE r4 #3):
    the (tokens, bits) int64 bit matrix costs bits*8 bytes per token hash
    (~512 B at 64 bits). Unbounded, a 10k-row Arrow batch of ~1k-token
    documents would peak ~5 GB; slabbing at 128k token hashes caps the
    matrix at 64 MiB while keeping the reduceat fully vectorized within
    each slab. A single over-budget row still processes (its own slab) —
    per-row cost is irreducible."""
    ar = np.arange(bits, dtype=np.uint64)
    one = np.uint64(1)
    weights = one << ar
    out = np.zeros(n_rows, dtype=np.uint64)
    rows: list[tuple[int, np.ndarray]] = []
    for i, arr in enumerate(hash_rows):
        if arr is None or len(arr) == 0:
            continue
        rows.append((i, np.asarray(arr, dtype=np.int64).astype(np.uint64)))
    pos = 0
    while pos < len(rows):
        end, tok = pos, 0
        while end < len(rows) and (end == pos or tok + rows[end][1].size <= slab_tokens):
            tok += rows[end][1].size
            end += 1
        slab = rows[pos:end]
        vals = np.concatenate([a for _, a in slab])
        lens = np.array([a.size for _, a in slab], dtype=np.int64)
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        bit_matrix = ((vals[:, None] >> ar[None, :]) & one).astype(np.int64)
        ones = np.add.reduceat(bit_matrix, starts, axis=0)  # (slab_rows, bits)
        majority = (2 * ones) > lens[:, None]
        idx = np.fromiter((i for i, _ in slab), dtype=np.int64, count=len(slab))
        out[idx] = (majority.astype(np.uint64) * weights).sum(axis=1)
        pos = end
    return out.astype(np.int64)


def _sha60(t):
    """60-bit token hash = first 15 hex chars of sha256, parsed as int.

    Chosen over xxhash64 because BOTH engines can compute it (DuckDB:
    ``CAST('0x' || substring(sha256(t),1,15) AS BIGINT)``), making the
    SimHash signature — and therefore the whole operator — oracle-checkable
    end to end. Always non-negative (fits in 60 bits)."""
    return F.conv(F.substring(F.sha2(t, 256), 1, 15), 16, 10).cast("long")


def _sha60_hashes(strings) -> np.ndarray:
    """:func:`_sha60` in Python, for the Arrow kernels: uint64 array of
    the first 15 hex chars of sha256(utf-8 bytes) of each string. The
    same bytes give the same digests, so kernel output stays equal to
    the Catalyst/DuckDB formulation."""
    return np.fromiter(
        (int(sha256(s.encode("utf-8")).hexdigest()[:15], 16) for s in strings),
        dtype=np.uint64,
        count=len(strings),
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocking: split the 64-bit signature into 4 x 16-bit chunks; any pair
    within Hamming distance 3 shares at least one exact chunk (pigeonhole)
    -> equi-join per chunk, then verify with native bit_count(xor).

    Token hashes are the sha256-derived 60-bit family (:func:`_sha60`) so
    the signature is reproducible in ANSI-ish SQL — the driver oracle
    recomputes the full SimHash in DuckDB and compares pairs exactly.

    Round-6 kernel (guide §4.2): shingle construction + sha-60 moved from
    the interpreted Catalyst chain (_shingle_array's transform/concat_ws/
    slice lambdas + a sha2-per-element transform) into ONE Arrow pass —
    distinct k-gram shingle strings via dict.fromkeys, hashlib sha256 on
    the identical UTF-8 bytes (same digests, so the DuckDB oracle
    contract is unchanged), then the whole-batch :func:`batch_simhash`
    vote kernel. Bit-identical signatures, one Python round-trip.
    """
    k = 3  # _shingle_array's default — the oracle recomputes with k=3

    @F.pandas_udf("long")
    def shingle_sha60_simhash(tok_s: pd.Series) -> pd.Series:
        rows = []
        for toks in tok_s:
            if toks is None or len(toks) == 0:
                rows.append(None)
                continue
            n = len(toks)
            if n >= k:
                # dict.fromkeys == array_distinct (first-occurrence order;
                # order is irrelevant to the bit votes anyway)
                sh = dict.fromkeys(
                    "\x01".join(toks[i : i + k]) for i in range(n - k + 1)
                )
            else:
                sh = dict.fromkeys(toks)
            rows.append(_sha60_hashes(sh))
        return pd.Series(batch_simhash(rows, len(tok_s)))

    # eager checkpoint: the chunk posting feeds BOTH self-join sides; the
    # signature lineage (the operator's dominant cost) must run once, not
    # once per side — and a lazy checkpoint would be raced by the sides'
    # concurrent subtree jobs
    sigs = (
        ensure_min_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            shingle_sha60_simhash(_token_array(text_col)).alias("sig"),
        )
        .localCheckpoint(eager=True)
    )
    # the posted id is the (id, sig) struct, so the 8-byte sig rides
    # through the pair exchange instead of a join-back per side (which
    # re-shuffles the pair stream once sigs no longer broadcast)
    chunks = sigs.select(
        F.struct("id", "sig").alias("id_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("sig"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id_a", "c.chunk", "c.val")
    pairs = posting_pairs(
        chunks, ["chunk", "val"], where=F.col("id_a.id") < F.col("id_b.id"), combine=True
    )
    hamming = F.bit_count(F.col("id_a.sig").bitwiseXOR(F.col("id_b.sig")))
    return pairs.select(
        F.col("id_a.id").alias("id_a"), F.col("id_b.id").alias("id_b"), hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
