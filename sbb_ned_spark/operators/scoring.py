"""Stage 2 — batched pairwise scoring.

The analog of the reference's evidence cross-product + BERT pair scoring
(`/root/reference/qurator/sbb_ned/models/sentence_lookup.py:102-136`,
`models/classifier_decider_queue.py:50-82`): candidate pairs are joined
with the compact per-record features and scored in Arrow batches.

Scoring is a *stateless per-pair map* — no grouping semantics needed —
so it runs as one narrow, shuffle-free ``mapInPandas`` over the joined
pairs.

Per-candidate statistical aggregation (the decider's feature matrix,
`models/decider.py:88-166`) is pure native aggregation — no Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)
from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig
from sbb_ned_spark.functions import similarity as sim
from sbb_ned_spark.operators.blocking import join_sides

SCORE_SCHEMA = StructType(
    [
        # pair ids are the 32-byte BINARY form of the sha256 record ids
        # end-to-end through scoring (see blocking.blocking_keys); the
        # clusters stage hexes back at the pipeline boundary
        StructField("id_a", BinaryType()),
        StructField("id_b", BinaryType()),
        StructField("n_shared_keys", IntegerType()),
        StructField("token_jaccard", DoubleType()),
        StructField("token_containment", DoubleType()),
        StructField("token_set_lev", DoubleType()),
        StructField("skeleton_ratio", DoubleType()),
        StructField("trigram_cosine", DoubleType()),
        StructField("size_ratio", DoubleType()),
        StructField("path_jw", DoubleType()),
        StructField("exact_match", IntegerType()),
        StructField("score", DoubleType()),
    ]
)

_TRIGRAM_DIM = 64


def _score_batch(pdf: pd.DataFrame, config: PipelineConfig) -> pd.DataFrame:
    """Whole-batch scoring: every similarity family is a vectorized numpy
    kernel over the Arrow batch. The single remaining per-row Python —
    difflib over skeleton sequences — runs ONLY for pairs whose blended
    score (with the bigram-multiset estimate) lands within
    ``skel_exact_band`` of the decision threshold, so the expensive exact
    kernel touches just the decision-ambiguous fraction."""
    n = len(pdf)

    ts_a = pdf["token_set_a"].to_numpy()
    ts_b = pdf["token_set_b"].to_numpy()
    sk_a = pdf["skeleton_seq_a"].to_numpy()
    sk_b = pdf["skeleton_seq_b"].to_numpy()

    inter, la, lb = sim.batch_set_intersections(ts_a, ts_b, n)
    union = la + lb - inter
    both_empty = (la == 0) & (lb == 0)
    tj = np.where(both_empty, 1.0, inter / np.maximum(union, 1))
    mn = np.minimum(la, lb)
    tc = np.where(mn > 0, inter / np.maximum(mn, 1), 0.0)
    # indel/difflib similarity of the two sorted unique token sequences is
    # EXACTLY 2I/(la+lb): LCS of sorted unique sequences = intersection
    tslev = np.where(both_empty, 1.0, 2.0 * inter / np.maximum(la + lb, 1))

    sr, ska_len, skb_len = sim.batch_seq_ratio_estimate(sk_a, sk_b, n)
    cs = sim.batch_cosine(
        pdf["trigram_vec_a"].to_numpy(), pdf["trigram_vec_b"].to_numpy(), n, _TRIGRAM_DIM
    )
    jw = sim.batch_jaro_winkler(pdf["path_a"].to_numpy(), pdf["path_b"].to_numpy())

    nt_a = pdf["n_tokens_a"].to_numpy().astype(np.float64)
    nt_b = pdf["n_tokens_b"].to_numpy().astype(np.float64)
    hi = np.maximum(nt_a, nt_b)
    szr = np.where(hi > 0, np.minimum(nt_a, nt_b) / np.maximum(hi, 1), 1.0)

    sha_eq = (
        (pdf["sha_sig_a"] == pdf["sha_sig_b"]) | (pdf["nsha_sig_a"] == pdf["nsha_sig_b"])
    ).to_numpy()
    exact = sha_eq.astype(np.int32)

    def blend(skel):
        token_ev = np.maximum(tj, 0.7 * tc + 0.3 * tj)
        return (
            config.w_token_jaccard * token_ev
            + config.w_token_set_lev * tslev
            + config.w_skeleton_ratio * skel
            + config.w_trigram_cosine * cs
            + config.w_size_ratio * szr
            + config.w_path_jw * jw
        )

    score = blend(sr)
    # exact difflib pass for the decision-ambiguous band only
    need = (
        (np.abs(score - config.decision_threshold) < config.skel_exact_band)
        & ~sha_eq
        & (config.w_skeleton_ratio > 0)
    )
    for i in np.flatnonzero(need):
        sr[i] = sim.seq_ratio(sk_a[i], sk_b[i])
    if need.any():
        score = blend(sr)
    score = np.where(exact == 1, 1.0, score)

    return pd.DataFrame(
        {
            "id_a": pdf["id_a"],
            "id_b": pdf["id_b"],
            "n_shared_keys": pdf["n_shared_keys"].astype("int32"),
            "token_jaccard": tj,
            "token_containment": tc,
            "token_set_lev": tslev,
            "skeleton_ratio": sr,
            "trigram_cosine": cs,
            "size_ratio": szr,
            "path_jw": jw,
            "exact_match": exact,
            "score": score,
        }
    )


def _paired_features(pairs: DataFrame, features: DataFrame) -> DataFrame:
    """Join pair ids with both sides' compact features.

    Two shuffle hash joins on record_id (J2 analog `index.py:680-684`);
    features carry no raw content — and the wide string columns are
    narrowed map-side BEFORE the joins (sha/norm_sha to 8-byte sigs,
    path to the JW kernel's 64-byte cap) so the pair-side shuffles ship
    the minimum bytes the kernel can consume.
    """
    # null-safe sigs: xxhash64(NULL) is the constant seed for EVERY row,
    # which would mark any two null-sha records exact; a null hash gets a
    # per-record sig (salted differently per column) so it never equals
    # anything — matching string-equality semantics where NULL == NULL
    # is not a match
    def sig(col: str, salt: int):
        return F.when(
            F.col(col).isNull(), F.xxhash64(F.col("record_id"), F.lit(salt))
        ).otherwise(F.xxhash64(F.col(col)))

    # columns shipped per pair side through the two scoring joins. sha256 /
    # norm_sha ride as 8-byte xxhash64 SIGS, not 64-char hex strings: the
    # kernel only ever tests EQUALITY, and a 64-bit sig collision (prob
    # ~2^-63 per pair) merely marks one unrelated pair exact — far below the
    # decision noise floor — while cutting ~224 bytes off every pair row of
    # the pipeline's dominant shuffle. `path` is pre-truncated to the Jaro-
    # Winkler kernel's own 64-byte cap (`similarity._JW_MAXL`), so scores
    # are byte-identical.
    compact = features.select(
        F.unhex("record_id").alias("record_id"),
        "token_set",
        "skeleton_seq",
        "trigram_vec",
        "n_tokens",
        F.substring("path", 1, 64).alias("path"),
        sig("sha256", 1).alias("sha_sig"),
        sig("norm_sha", 2).alias("nsha_sig"),
    )
    return join_sides(pairs, compact, id_col="record_id")


def score_pairs(
    pairs: DataFrame,
    features: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _score_batch(pdf, config)

    return _paired_features(pairs, features).mapInPandas(run, SCORE_SCHEMA)


# ---------------------------------------------------------------------------
# Decider-style per-candidate statistics (A3/A4, `models/decider.py:88-166`)
# ---------------------------------------------------------------------------

_STAT_COLS = (
    "score",
    "token_jaccard",
    "token_containment",
    "token_set_lev",
    "skeleton_ratio",
    "trigram_cosine",
    "path_jw",
)
QUANTILE_GRID = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0)
AMONG_TOP_FRACTIONS = (0.5, 0.75, 0.9, 0.95, 0.99)


def candidate_stats(
    scores: DataFrame,
    stat_cols: tuple = _STAT_COLS,
    quantiles: tuple = QUANTILE_GRID,
    among_fractions: tuple = AMONG_TOP_FRACTIONS,
    symmetric: bool = True,
) -> DataFrame:
    """Per-record aggregate features over its candidate scores, in the
    decider's FULL shape (`models/decider.py:88-166`): for every score
    component, case_* stats + the 0.1..1.0 quantile grid (this record),
    overall_* (all records, broadcast back), diff_* (case - overall); plus
    among-top occupancy against a grid of global score percentiles (the
    reference's rank-interval features, `decider.py:115-121`).

    ``symmetric=True`` (default) aggregates over EVERY pair a record
    participates in — the b-side is unioned back with swapped ids before
    the groupBy, matching the reference's decider, which sees each
    candidate's full pair list regardless of orientation
    (`models/decider.py:88-96`). A record appearing only as ``id_b``
    still gets a stats row. Global (overall_*/threshold) references are
    computed over the PAIR set, each pair once.

    Entirely native aggregation — whole-stage codegen, no Python. The
    global references are ONE-ROW aggregates broadcast back (J3 pattern),
    never a global ORDER BY window: a single-partition sort would not
    survive a 100x scale-up.

    The primary component (``score``) keeps unsuffixed legacy names;
    other components are suffixed ``_<col>``.
    """
    grid_sql = ",".join(str(q) for q in quantiles)
    per = scores.select(F.col("id_a").alias("record_id"), "score", *[
        c for c in stat_cols if c != "score"
    ])
    if symmetric:
        per = per.unionByName(
            scores.select(F.col("id_b").alias("record_id"), "score", *[
                c for c in stat_cols if c != "score"
            ])
        )
    aggs, overall_aggs = [], []
    for c in stat_cols:
        sfx = "" if c == "score" else f"_{c}"
        aggs += [
            F.min(c).alias(f"case_min{sfx}"),
            F.max(c).alias(f"case_max{sfx}"),
            F.avg(c).alias(f"case_mean{sfx}"),
            F.coalesce(F.stddev(c), F.lit(0.0)).alias(f"case_std{sfx}"),
            F.expr(f"percentile_approx({c}, 0.5)").alias(f"case_median{sfx}"),
            F.expr(f"percentile_approx({c}, array({grid_sql}))").alias(
                f"case_quantiles{sfx}"
            ),
        ]
        overall_aggs += [
            F.min(c).alias(f"overall_min{sfx}"),
            F.max(c).alias(f"overall_max{sfx}"),
            F.avg(c).alias(f"overall_mean{sfx}"),
            F.coalesce(F.stddev(c), F.lit(0.0)).alias(f"overall_std{sfx}"),
        ]
    aggs.append(F.count("*").alias("case_n"))
    case = per.groupBy("record_id").agg(*aggs)
    overall = scores.agg(*overall_aggs)
    # global one-row aggregate joined back — broadcast nested loop of a
    # single row (J3 pattern: ranking ⋈ tiny dim, `index.py:73`)
    out = case.crossJoin(F.broadcast(overall))
    for c in stat_cols:
        sfx = "" if c == "score" else f"_{c}"
        for s in ("min", "max", "mean", "std"):
            out = out.withColumn(
                f"diff_{s}{sfx}", F.col(f"case_{s}{sfx}") - F.col(f"overall_{s}{sfx}")
            )

    # among-top occupancy grid: fraction of this record's pairs at or above
    # each global score percentile — map-side comparisons against one
    # broadcast row of thresholds
    fr_sql = ",".join(str(f) for f in among_fractions)
    thr = scores.agg(
        F.expr(f"percentile_approx(score, array({fr_sql}))").alias("thr")
    )
    among_aggs = [
        F.avg((F.col("score") >= F.element_at("thr", i + 1)).cast("double")).alias(
            f"among_top{round((1 - f) * 100)}"
        )
        for i, f in enumerate(among_fractions)
    ]
    among = per.crossJoin(F.broadcast(thr)).groupBy("record_id").agg(*among_aggs)
    out = out.join(among, "record_id", "left")
    return out.fillna(
        {f"among_top{round((1 - f) * 100)}": 0.0 for f in among_fractions}
    )
