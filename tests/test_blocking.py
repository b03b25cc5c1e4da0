"""Stage-1 blocking unit tests (SURVEY.md §2.3 J1/J2, §2.2 P5)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sbb_ned_spark.config import PipelineConfig
from sbb_ned_spark.operators import blocking


@pytest.fixture(scope="module")
def feats(tiny_files):
    # unpersist at teardown — the cached subtree would substitute into
    # later record_features plans (see tests/test_dedup.py docs fixture)
    df = blocking.record_features(tiny_files).persist()
    yield df
    df.unpersist()


def test_features_carry_invariants_and_no_content(feats, tiny_files):
    assert "content" not in feats.columns  # hash early, never ship content
    assert feats.count() == tiny_files.count()
    # sha256 preserved exactly (per-row invariant, input_hint)
    mismatch = (
        feats.select("record_id", "sha256")
        .join(tiny_files.select("record_id", F.col("sha256").alias("sha_in")), "record_id")
        .filter(F.col("sha256") != F.col("sha_in"))
        .count()
    )
    assert mismatch == 0


def test_minhash_determinism(feats, tiny_files):
    again = blocking.record_features(tiny_files)
    a = {r["record_id"]: r["mh_content"] for r in feats.select("record_id", "mh_content").collect()}
    b = {r["record_id"]: r["mh_content"] for r in again.select("record_id", "mh_content").collect()}
    assert a == b


def test_exact_duplicates_share_sha_key(feats):
    keys = blocking.blocking_keys(feats)
    sha_keys = keys.filter(F.col("key_kind") == "sha")
    # the vendored file copies all share one sha key
    top = sha_keys.groupBy("key").count().agg(F.max("count")).first()[0]
    assert top >= 10


def test_hot_key_cutoff(feats):
    cfg = PipelineConfig(max_key_frequency=5)
    keys = blocking.blocking_keys(feats)
    cold, hot = blocking.split_hot_keys(keys, cfg)
    assert hot.count() > 0  # vendored/license keys are hot at cutoff 5
    max_freq = cold.groupBy("key").count().agg(F.max("count")).first()[0]
    assert max_freq <= 5


def test_candidate_pairs_oriented_and_capped(feats):
    cfg = PipelineConfig(max_candidates_per_record=7, max_fan_in=14)
    keys = blocking.blocking_keys(feats)
    cold, _ = blocking.split_hot_keys(keys, cfg)
    pairs = blocking.candidate_pairs(cold, cfg)
    assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0
    assert pairs.groupBy("id_a", "id_b").count().filter("count > 1").count() == 0
    # symmetric cap: per-record appearances over BOTH orientations are
    # bounded by own-nominations (k) + opposite-side fan-in ceiling (kf)
    both = pairs.select(F.col("id_a").alias("rid")).unionAll(
        pairs.select(F.col("id_b").alias("rid"))
    )
    max_cands = both.groupBy("rid").count().agg(F.max("count")).first()[0]
    assert max_cands <= 7 + 14


def test_candidate_pairs_fan_in_below_k_keeps_first_disjunct(spark):
    """Regression: max_fan_in < max_candidates_per_record is a legal
    config, and the hot-id_a pre-prune must use max(k, kf), not kf.

    Star block: pair (r0, ri) shares exactly i distinct keys, so r0's
    own-nomination ranking is r9, r8, ..., r1 while every ri has r0 as
    its ONLY partner (rank_b = 1). With k=5, kf=2 the survival rule
    (rank_a<=5 & rank_b<=2) admits (r0, r5..r9); a pre-prune at kf=2
    alone silently dropped rank_a in {3,4,5} before rank_b was computed.
    """
    rows = []
    for i in range(1, 10):
        for j in range(i):
            rows.append((f"h{i}_{j}", "r0"))
            rows.append((f"h{i}_{j}", f"r{i}"))
    posting = spark.createDataFrame(rows, ["key", "record_id"])
    cfg = PipelineConfig(min_shared_keys=1, max_candidates_per_record=5, max_fan_in=2)
    got = sorted(
        (r.id_a, r.id_b)
        for r in blocking.candidate_pairs(posting, cfg).collect()
    )
    assert got == [("r0", f"r{i}") for i in range(5, 10)]


def test_low_id_record_fan_in_bounded_in_huge_block(spark):
    """A popular min-id record inside one giant block (e.g. a vendored
    file cluster) must not accumulate O(cluster) pairs: every endpoint is
    nominated by at most max_fan_in partners, yet chained nominations keep
    the block connected for Stage-3 clustering."""
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.operators.clustering import connected_components

    n = 200
    posting = spark.createDataFrame(
        [("k", f"r{i:04d}") for i in range(n)], ["key", "record_id"]
    )
    cfg = PipelineConfig(min_shared_keys=1, max_candidates_per_record=5, max_fan_in=10)
    pairs = blocking.candidate_pairs(posting, cfg)
    per_record = (
        pairs.select(F.col("id_a").alias("rid"))
        .unionAll(pairs.select(F.col("id_b").alias("rid")))
        .groupBy("rid")
        .count()
    )
    assert per_record.agg(F.max("count")).first()[0] <= 5 + 10
    # min-id record specifically: bounded by the fan-in ceiling
    low = per_record.filter(F.col("rid") == "r0000").first()
    assert low is not None and low["count"] <= 10
    # the capped pair graph still connects the whole block
    records = posting.select(F.col("record_id"))
    clusters = connected_components(pairs.select("id_a", "id_b"), records, cfg)
    assert clusters.select("cluster_id").distinct().count() == 1


def test_blocking_recall_on_true_pairs(spark, feats, tiny_truth):
    """Blocking-level pair recall must be ~1: a tiny remainder of
    heavily-perturbed variant pairs (multiple stacked perturbations away
    from each other) may share no key directly — the pipeline contract is
    that transitive clustering bridges them (verified by the end-to-end
    F1 gate in test_pipeline.py)."""
    members, lp = tiny_truth
    keys = blocking.blocking_keys(feats)
    cold, _ = blocking.split_hot_keys(keys, PipelineConfig())
    # pair ids ride binary inside the pipeline; hex back for the
    # string-id ground-truth join
    pairs = blocking.candidate_pairs(cold, PipelineConfig()).select(
        F.lower(F.hex("id_a")).alias("id_a"), F.lower(F.hex("id_b")).alias("id_b")
    )
    pos = spark.createDataFrame(lp[lp.label == 1][["id_a", "id_b"]])
    n_pos = pos.count()
    missed = pos.join(pairs, ["id_a", "id_b"], "left_anti").count()
    # 1% direct-miss budget: 16 bands x 4 rows has ~0.9998 band recall at
    # j>=0.8, and heavily-perturbed variant pairs sit further below that;
    # the END-TO-END gate (exact cluster match, test_pipeline.py) stays
    # tight — transitive clustering must bridge every one of these
    assert missed <= max(1, int(0.01 * n_pos)), (missed, n_pos)


def test_blocking_keys_reject_non_hex_record_id_loudly(spark):
    """run_pipeline accepts a pre-existing record_id column as-is; a
    non-hex id must FAIL the job at the blocking_keys decode — never
    silently unhex to NULL and fall out of every candidate join as
    all-singleton clusters (ADVICE r4 #1)."""
    bad = spark.createDataFrame(
        [("file-123", "r", "p", "c", "py", "x" * 40)],
        ["record_id", "repo", "path", "commit", "lang", "content"],
    )
    feats = blocking.record_features(bad)
    with pytest.raises(Exception) as ei:
        blocking.blocking_keys(feats).collect()
    assert "not lowercase hex" in str(ei.value)


def test_fused_udf_matches_perrow_reference(spark):
    """The whole-batch fused feature kernel (batch_band_sigs over ragged
    gram arrays + one-bincount trigram profiles) must be bit-identical to
    the straightforward per-row formulation it replaced, including empty
    rows, sub-k rows, and duplicate tokens (dedup of grams cannot change
    a permutation minimum)."""
    import numpy as np
    import pandas as pd

    from sbb_ned_spark.functions import hashing as H

    n_perms, n_bands, k = 64, 16, 3
    a, b = H._perm_params(n_perms)
    rng = np.random.default_rng(7)

    def ref_band_sig(g):
        if len(g) == 0:
            return [0] * n_bands
        sig = ((g[:, None] * a[None, :] + b[None, :]) >> np.uint64(32)).min(axis=0)
        bands = sig.reshape(n_bands, n_perms // n_bands)
        h = np.zeros(n_bands, dtype=np.uint64)
        for r in range(n_perms // n_bands):
            h = (h * np.uint64(1000003) + bands[:, r]) & np.uint64((1 << 63) - 1)
        return h.astype(np.int64).tolist()

    def ref_grams(u, kk):
        n = len(u)
        if n < kk:
            return np.unique(u)
        g = u[: n - kk + 1] << np.uint64(kk - 1)
        for j in range(1, kk):
            g = g ^ (u[j : n - kk + 1 + j] << np.uint64(kk - 1 - j))
        return np.unique(g)

    def ref_trigram(s, dim=64):
        if not s or len(s) < 3:
            return np.zeros(dim, dtype=np.float32)
        arr = np.frombuffer(s.encode("utf-8", "replace"), dtype=np.uint8).astype(np.int64)
        h = arr[:-2] * 961 + arr[1:-1] * 31 + arr[2:]
        counts = np.bincount(h % dim, minlength=dim).astype(np.float64)
        norm = np.sqrt((counts * counts).sum())
        return (counts / norm if norm > 0 else counts).astype(np.float32)

    # rows: empty, None-ish short, duplicate-heavy, random long
    rows = [
        [],
        [5],
        [3, 3, 3, 3],
        rng.integers(-(2**63), 2**63 - 1, size=500).tolist(),
        rng.integers(0, 50, size=80).tolist(),  # many duplicate tokens
    ]
    texts = ["", "ab", "the quick brown fox", "aaaaaa", "mixed τεχτ bytes"]
    masks = [[True] * len(r) for r in rows]

    fused = H.make_fused_features_udf(n_perms=n_perms, n_bands=n_bands, k=k, k_skel=4)
    pdf = pd.DataFrame(
        {"th": rows, "mask": masks, "nc": texts}
    )
    sdf = spark.createDataFrame(
        pdf, "th array<bigint>, mask array<boolean>, nc string"
    ).select(fused("th", "mask", "nc").alias("f")).select("f.*")
    got = sdf.toPandas()

    for i, (r, t) in enumerate(zip(rows, texts)):
        u = np.asarray(r, dtype=np.int64).astype(np.uint64)
        exp_mhc = ref_band_sig(ref_grams(u, k)) if len(u) else [0] * n_bands
        assert list(got["mh_content"][i]) == exp_mhc, f"row {i} mh_content"
        skel = u  # mask all-True: skeleton == tokens
        exp_mhs = ref_band_sig(ref_grams(skel, 4)) if len(u) else [0] * n_bands
        assert list(got["mh_skeleton"][i]) == exp_mhs, f"row {i} mh_skeleton"
        assert np.array_equal(
            np.asarray(got["trigram_vec"][i], dtype=np.float32), ref_trigram(t)
        ), f"row {i} trigram"
        assert list(got["token_set"][i]) == np.unique(
            (u & np.uint64(0xFFFFFFFF)).astype(np.int64)
        ).astype(np.int32).tolist(), f"row {i} token_set"


def _ref_candidate_pairs(posting, k: int, kf: int, min_shared: int, flagged: bool):
    """Pure-pandas candidate_pairs over (key, record_id[, is_new]) rows,
    written from the documented rules: shared-key count on id_a < id_b
    (old-old pairs dropped when flagged) with the evidence floor; rank_a
    by evidence desc, id_b asc; prune at rank_a <= max(k, kf); rank_b over
    the pruned set by evidence desc, id_a desc; then a pair survives when
    (rank_a <= k and rank_b <= kf) or (rank_b <= k and rank_a <= kf)."""
    m = posting.merge(posting, on="key", suffixes=("_a", "_b"))
    m = m[m["record_id_a"] < m["record_id_b"]]
    if flagged:
        m = m[m["is_new_a"] | m["is_new_b"]]
    n = m.groupby(["record_id_a", "record_id_b"]).size().reset_index(name="n")
    n.columns = ["id_a", "id_b", "n"]
    n = n[n["n"] >= min_shared]

    def rank(df, part, partner, partner_asc):
        order = df.sort_values([part, "n", partner], ascending=[True, False, partner_asc])
        return order.groupby(part).cumcount().add(1).reindex(df.index)

    n = n.assign(rank_a=rank(n, "id_a", "id_b", True))
    n = n[n["rank_a"] <= max(k, kf)]
    n = n.assign(rank_b=rank(n, "id_b", "id_a", False))
    keep = ((n["rank_a"] <= k) & (n["rank_b"] <= kf)) | (
        (n["rank_b"] <= k) & (n["rank_a"] <= kf)
    )
    return set(zip(n.loc[keep, "id_a"], n.loc[keep, "id_b"]))


@st.composite
def _posting_draw(draw):
    """Small random postings: 2-byte binary ids (high bytes >= 0x80 test
    unsigned order), a few random keys per record, plus one block whose
    members all hold the same extra keys (equal evidence, so the
    tie-breaks decide)."""
    ids = draw(st.lists(st.integers(0, 0xFFFF), min_size=2, max_size=9, unique=True))
    ids = [v.to_bytes(2, "big") for v in ids]
    block = draw(st.sets(st.sampled_from(ids), min_size=2))
    n_block_keys = draw(st.integers(1, 3))
    rows = []
    for rid in ids:
        keys = draw(st.sets(st.integers(0, 4), max_size=3))
        if rid in block:
            keys = keys | {100 + j for j in range(n_block_keys)}
        new = draw(st.booleans())
        rows += [(key, rid, new) for key in sorted(keys)]
    return rows


@settings(max_examples=6, derandomize=True, deadline=None)
# an evidence floor of 2 with a pair sharing one key, which the
# derandomized draws do not reach on their own
@example(
    rows=[(1, b"\x00\x01", False), (2, b"\x00\x01", False), (1, b"\x80\x00", False),
          (2, b"\x80\x00", False), (1, b"\x00\x02", False)],
    k=2, kf=2, min_shared=2, flagged=False,
)
@given(
    rows=_posting_draw(),
    k=st.integers(1, 4),
    kf=st.integers(1, 4),
    min_shared=st.integers(1, 3),
    flagged=st.booleans(),
)
def test_candidate_pairs_property_matches_pandas_reference(
    spark, rows, k, kf, min_shared, flagged
):
    """For drawn postings and caps (max_fan_in < k included), the pair
    set equals the pandas reference of the documented survival rule, and
    no record holds more than max(k, kf) pairs in either orientation."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["key", "record_id", "is_new"])
    posting = spark.createDataFrame(pdf, "key long, record_id binary, is_new boolean")
    cfg = PipelineConfig(
        max_candidates_per_record=k, max_fan_in=kf, min_shared_keys=min_shared
    )
    pairs = blocking.candidate_pairs(posting, cfg, delta_flag="is_new" if flagged else None)
    got = [(bytes(r.id_a), bytes(r.id_b)) for r in pairs.collect()]
    assert len(got) == len(set(got))
    assert set(got) == _ref_candidate_pairs(pdf, k, kf, min_shared, flagged)
    for side in (0, 1):
        per = pd.Series([p[side] for p in got], dtype=object).value_counts()
        assert per.empty or per.max() <= max(k, kf)


@pytest.mark.parametrize("combine", [False, True])
def test_posting_pairs_matches_counter_reference(spark, combine):
    """posting_pairs equals a Counter over the key join, for the
    self-join (default a < b), a two-sided join with its own id names,
    and a self-join kept in both orientations (a != b), with and without
    the map-side combine."""
    from collections import Counter

    left = [(1, "r1"), (2, "r1"), (1, "r2"), (2, "r2"), (3, "r2"), (3, "r3"), (1, "r3")]
    left.append((4, "r4"))
    right = [(1, "r1"), (3, "r1"), (3, "r5"), (2, "r3"), (1, "r2"), (5, "r6")]

    def ref(lrows, rrows, keep):
        return dict(
            Counter((ia, ib) for ka, ia in lrows for kb, ib in rrows if ka == kb and keep(ia, ib))
        )

    def got(df, a="id_a", b="id_b"):
        return {(r[a], r[b]): r["n_shared_keys"] for r in df.collect()}

    L = spark.createDataFrame(left, ["key", "id_a"])
    assert got(blocking.posting_pairs(L, "key", combine=combine)) == ref(
        left, left, lambda a, b: a < b
    )
    q = spark.createDataFrame(left, ["key", "query_id"])
    v = spark.createDataFrame(right, ["key", "neighbor_id"])
    two = blocking.posting_pairs(
        q, "key", v, a="query_id", b="neighbor_id",
        where=F.col("query_id") != F.col("neighbor_id"), combine=combine,
    )
    assert got(two, "query_id", "neighbor_id") == ref(left, right, lambda a, b: a != b)
    both = blocking.posting_pairs(
        L, "key", where=F.col("id_a") != F.col("id_b"), combine=combine
    )
    assert got(both) == ref(left, left, lambda a, b: a != b)
