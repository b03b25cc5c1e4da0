"""Stage 1 — candidate blocking.

Re-expresses the reference's ANN candidate lookup
(`/root/reference/qurator/sbb_ned/index.py:652-719`: per-part Annoy
query -> frequency filter -> group by candidate -> rank -> top-k) as a
set-oriented posting-table join:

  files --(normalize, JVM-side)--> record features
        --(MinHash bands, pandas UDF)--> blocking_keys(record_id, key, key_kind)
        --(hot-key cutoff, the reference's own skew mitigation
           `index.py:652-653,669-674`)--> cold posting lists
        --(self equi-join on key, id_a < id_b)--> candidate_pairs

The point-query ANN 'join' (J1 in SURVEY.md §2.3) becomes a shuffle
equi-join on blocking keys that Catalyst/AQE can optimize; skew is
bounded *by construction* via the frequency cutoff, with AQE skew-join
as the second line of defense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig
from sbb_ned_spark.functions.hashing import make_fused_features_udf
from sbb_ned_spark.functions.normalize import with_normalized_columns

US = "\x1f"
# 200 skeleton tokens bound both the feature-row allocation (the features
# stage is allocation-limited in a shared JVM) and the worst-case difflib
# cost; near-dup discrimination is unaffected at this length (F1 gates
# re-verified after the change)
MAX_SKELETON_SEQ = 200


def with_ids(files: DataFrame) -> DataFrame:
    """Add the per-row identity columns a caller did not supply (input_hint):
    ``record_id`` = sha256 of (repo, path, commit) joined by US, and
    ``sha256`` of the content. Cheap JVM-side hashes, no feature
    extraction. :func:`sbb_ned_spark.fixtures.record_id` is the
    pure-Python reference for the id."""
    if "record_id" not in files.columns:
        files = files.withColumn(
            "record_id", F.sha2(F.concat_ws(US, "repo", "path", "commit"), 256)
        )
    if "sha256" not in files.columns:
        files = files.withColumn("sha256", F.sha2(F.col("content"), 256))
    return files


def record_features(files: DataFrame, config: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """One pass over `files` producing the compact per-record feature row.

    Raw ``content`` is projected OUT here: downstream shuffles carry only
    hashes/sets/vectors (SURVEY.md §7.4.4 — hash early, ship sha256 + token
    sets, not raw content; mirrors the reference's column pruning R5).

    Catalyst computes only tokenization + xxhash64 + the keyword/numeral
    mask (`functions/normalize.py` documents why); ONE fused Arrow UDF
    (`make_fused_features_udf`) derives token_set, skeleton_seq, both
    MinHash band families and the trigram profile from the hash arrays —
    a single Python round-trip per batch instead of three, and no
    higher-order Catalyst lambdas in the hot path (1.9x on the whole
    stage at bench scale).
    """
    fused = make_fused_features_udf(
        n_perms=config.minhash_perms,
        n_bands=config.lsh_bands,
        k=config.shingle_size,
        k_skel=config.shingle_size + 1,
        max_skeleton=MAX_SKELETON_SEQ,
    )

    df = with_normalized_columns(with_ids(files), "content", min_len=config.min_token_len)
    return df.select(
        "record_id",
        "repo",
        "path",
        "commit",
        "lang",
        "sha256",
        "norm_sha",
        "n_tokens",
        F.length("content").alias("n_chars"),
        fused("tok_hashes", "fixed_mask", "norm_content").alias("f"),
    ).select(
        "record_id",
        "repo",
        "path",
        "commit",
        "lang",
        "sha256",
        "norm_sha",
        "n_tokens",
        "n_chars",
        "f.token_set",
        "f.skeleton_seq",
        "f.mh_content",
        "f.mh_skeleton",
        "f.trigram_vec",
    )


def blocking_keys(features: DataFrame, config: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """blocking_keys(record_id, key, key_kind) posting table.

    Four key families (the Annoy mapping `(ann_index -> page_title)`
    analog, `index.py:545-579`):
      sha   exact content duplicate
      nsha  whitespace/comment-insensitive duplicate
      mh    MinHash band over token shingles (band index mixed in)
      mhs   MinHash band over skeleton shingles (rename-invariant)

    ``key`` is a 64-bit xxhash64 of (family tag, band index, band value)
    — NOT a formatted string: the posting table is the pipeline's
    dominant shuffle (SCALE.md: ~66 keys/record), and an 8-byte fixed
    key shuffles/compares/aggregates ~3x leaner than a ~25-byte string.
    A 64-bit key collision merges two unrelated blocks; the pair it can
    admit is then exactly-verified by Stage-2 scoring, so collisions
    cost noise, never correctness.
    """
    # Single-pass: build array<struct<key,key_kind>> and explode ONCE. A
    # 4-way union of selects over `features` would replay the upstream
    # Arrow UDF projection once per branch in a composed (un-checkpointed)
    # plan; one explode keeps the feature computation single-evaluation.
    #
    # record_id rides the posting table (and everything downstream of it:
    # the pair join, the pair groupBy, both cap windows, the scoring
    # joins) as its 32-byte unhex BINARY form — bytewise order equals the
    # lowercase-hex order, so id_a < id_b, min-id tie-breaks and window
    # orders are unchanged while the id share of every one of those
    # shuffles halves. Stage outputs that face external consumers
    # (clusters, membership) are hexed back at the boundary.
    def kk(key_col, kind: str):
        return F.struct(key_col.alias("key"), F.lit(kind).alias("key_kind"))

    key_structs = F.concat(
        F.array(
            kk(F.xxhash64(F.lit("sha"), F.col("sha256")), "sha"),
            kk(F.xxhash64(F.lit("nsha"), F.col("norm_sha")), "nsha"),
        ),
        F.transform(
            "mh_content",
            lambda h, i: kk(F.xxhash64(F.lit("mh"), i, h), "minhash_band"),
        ),
        F.transform(
            "mh_skeleton",
            lambda h, i: kk(F.xxhash64(F.lit("mhs"), i, h), "minhash_skeleton_band"),
        ),
    )
    # guarded decode (ADVICE r4 #1): run_pipeline accepts a caller-supplied
    # record_id column as-is, so a non-hex id would silently unhex to NULL
    # here, vanish from every candidate equi-join, and surface only as
    # all-singleton clusters. Fail loudly at the decode instead.
    from sbb_ned_spark.functions.ids import guarded_unhex

    return features.select(
        guarded_unhex("record_id", "blocking_keys").alias("record_id"),
        F.explode(key_structs).alias("kk"),
    ).select("record_id", F.col("kk.key").alias("key"), F.col("kk.key_kind").alias("key_kind"))


def split_hot_keys(
    keys: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> tuple[DataFrame, DataFrame]:
    """(cold_posting, hot_key_stats).

    The reference drops ANN hits whose index maps to more than
    `max_frequency` entities (`index.py:652-653,669-674`); we drop blocking
    keys matching more than `max_key_frequency` records. hot_key_stats is
    kept for the metrics/lineage table (hot_keys_dropped must be measured,
    not assumed — SURVEY.md §7.4.2).

    Round 5: cold ALSO drops singleton keys (key_freq == 1) — a key held
    by one record can never form a pair, and after the exact-dup collapse
    MOST keys are singletons (bench: 3.48M -> 0.62M posting rows, -82%).
    That shrinks the stage checkpoint and the candidate self-join input
    by the same factor. The frequency count stays a groupBy (map-side
    partial aggregation keeps a mega-hot key from concentrating its raw
    rows in one task — a window count would); the pair-capable key set
    then inner-joins back, replacing the old broadcast anti-join: the
    filtered freq table is already hash-partitioned on key from its own
    aggregation, so the join adds ONE posting exchange and stays safe
    when the pair-capable key set is itself too big to broadcast
    (broadcasting it would OOM at 10^12 files; AQE still picks broadcast
    at runtime when it genuinely fits).
    """
    freq = keys.groupBy("key").agg(F.count("*").alias("key_freq"))
    hot = freq.filter(F.col("key_freq") > config.max_key_frequency)
    pairable = freq.filter(
        (F.col("key_freq") >= 2) & (F.col("key_freq") <= config.max_key_frequency)
    )
    cold = keys.join(pairable.select("key"), "key")
    return cold, hot


def posting_pairs(
    left: DataFrame,
    on,
    right: DataFrame | None = None,
    a="id_a",
    b="id_b",
    where=None,
    combine=False,
) -> DataFrame:
    """(``a``, ``b``, n_shared_keys) for ids posted under a shared key
    ``on``: ``left`` posts ``a``, ``right`` posts ``b`` (``None``: ``left``
    with ``a`` renamed to ``b``). ``where`` filters the joined rows before
    any exchange (default ``a < b``: each unordered pair once). The one
    candidate join of ER blocking, the dedup families and the ANN paths.

    A pair arrives as one joined row per shared key; ``combine`` picks how
    those rows meet. Each caller's choice was timed against the old plan
    (SCALE.md "Stage 1c"):

    - ``False``: the raw rows take ONE exchange on ``a`` alone. Hash
      partitioning on a subset of the grouping keys satisfies the
      groupBy(a, b) clustering AND a following window on ``a``
      (candidate_pairs' rank_a, VERDICT r4 ask #4). ER keys, shingles,
      fingerprints and MinHash bands use it: most of their pairs share a
      key or two, so a map-side count merges little. Every row of one
      ``a`` lands in one task; that skew is bounded only where the caller
      caps key frequency (ER: ~66 keys/record x max_key_frequency).
    - ``True``: Spark's map-side partial count, then an exchange on
      (a, b), so the per-pair work after it spreads over pairs, not over
      ``a``. The hyperplane-LSH and IVF paths and SimHash use it.
    """
    right = left.withColumnRenamed(a, b) if right is None else right
    joined = left.join(right, on).filter(F.col(a) < F.col(b) if where is None else where)
    if not combine:
        joined = joined.repartition(a)
    return joined.groupBy(a, b).agg(F.count("*").alias("n_shared_keys"))


def join_sides(pairs, side, id_col="id", a="id_a", b="id_b", right=None) -> DataFrame:
    """``pairs`` with both endpoints' payloads: every ``side`` column but
    ``id_col`` joins back as ``{c}_a`` on ``a`` and ``{c}_b`` on ``b``
    (``right``, when given, supplies the ``b`` payload)."""

    def suffixed(df: DataFrame, key: str, sfx: str) -> DataFrame:
        cols = [F.col(c).alias(c + sfx) for c in df.columns if c != id_col]
        return df.select(F.col(id_col).alias(key), *cols)

    other = side if right is None else right
    return pairs.join(suffixed(side, a, "_a"), a).join(suffixed(other, b, "_b"), b)


def candidate_pairs(
    posting: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    delta_flag: str | None = None,
) -> DataFrame:
    """:func:`posting_pairs` self-join of the cold posting table on ``key``
    (``id_a < id_b``, J6 pattern, `data_processor.py:191-196`) with the
    per-pair shared-key count, capped per record at
    ``max_candidates_per_record`` (reference `max_candidates`=25,
    `index.py:209-211`) via window top-k (W4): agg + sort + rank_a share
    the one id_a exchange, then one id_b exchange serves rank_b.

    ``delta_flag``: name of a boolean posting column marking NEW records
    (the batch-incremental path, plans/incremental.py). Pairs between two
    un-flagged records are dropped straight after the key join — their
    decisions are already baked into the existing cluster state — so the
    pair stream, both cap windows and Stage 2 all scale with the DELTA,
    not the corpus. The old-old join rows that do materialize are bounded
    per key by max_key_frequency² and filtered before the first exchange.

    The cap is SYMMETRIC: a pair survives if it ranks in the top-k of
    EITHER endpoint (the reference semantics — each record fetches its own
    top 25 candidates; the pair set is the union) AND within the opposite
    endpoint's ``max_fan_in`` ceiling. Capping only the id_a side leaves
    the lexicographically-largest records of a big block with unbounded
    Stage-2 fan-in; the union rank alone still lets a popular min-id
    record accumulate O(cluster) nominations — the fan-in ceiling bounds
    EVERY record's pair count at k + max_fan_in while chains of mutual
    nominations keep large clusters connected for Stage 3.
    """
    fa = [F.col(delta_flag).alias("new_a")] if delta_flag else []
    fb = [F.col(delta_flag).alias("new_b")] if delta_flag else []
    left = posting.select("key", F.col("record_id").alias("id_a"), *fa)
    right = posting.select("key", F.col("record_id").alias("id_b"), *fb)
    where = F.col("id_a") < F.col("id_b")
    if delta_flag:
        where &= F.col("new_a") | F.col("new_b")
    pairs = posting_pairs(left, "key", right, where=where)
    # evidence floor: true near-dups share many band keys (j^rows_per_band
    # per band over many bands); singleton collisions are noise. This is
    # the blocking-precision knob that bounds Stage-2 cost at scale.
    if config.min_shared_keys > 1:
        pairs = pairs.filter(F.col("n_shared_keys") >= config.min_shared_keys)
    # per-record candidate cap on BOTH orientations: strongest-evidence-
    # first, deterministic tie-break on the partner id (SURVEY.md §7.4.1).
    # The tie-break directions OPPOSE each other (id_a nominates its
    # smallest-id partners, id_b its largest): if both sides preferred low
    # ids, every record in an equal-evidence block would nominate the same
    # few min-id records — they saturate their fan-in ceiling and the
    # block falls apart; opposing directions form nearest-neighbor chains
    # that keep even a fan-in-capped giant block connected.
    wa = Window.partitionBy("id_a").orderBy(
        F.col("n_shared_keys").desc(), F.col("id_b").asc()
    )
    wb = Window.partitionBy("id_b").orderBy(
        F.col("n_shared_keys").desc(), F.col("id_a").desc()
    )
    k = config.max_candidates_per_record
    kf = config.max_fan_in
    return (
        pairs.withColumn("rank_a", F.row_number().over(wa))
        # the survival condition implies rank_a <= max(k, kf) on every
        # surviving pair — WHICHEVER of the two knobs is larger — so
        # hot-id_a fan-out is pruned BEFORE the id_b exchange instead of
        # after both windows (max(k, kf), not kf: a config with
        # max_fan_in < max_candidates_per_record is legal, and pruning at
        # kf alone would silently drop pairs the second disjunct admits).
        # rank_b is then computed over the pruned set: pairs whose
        # id_b-competitors fell to the ceiling move UP in rank_b, so this
        # can only ADMIT extra candidates (scored exactly in Stage 2),
        # never drop a pair the unpruned ranking accepted; every record
        # still holds <= max(k, kf) pairs per orientation.
        .filter(F.col("rank_a") <= max(k, kf))
        .withColumn("rank_b", F.row_number().over(wb))
        .filter(
            ((F.col("rank_a") <= k) & (F.col("rank_b") <= kf))
            | ((F.col("rank_b") <= k) & (F.col("rank_a") <= kf))
        )
        .drop("rank_a", "rank_b")
    )
