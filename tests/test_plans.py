"""Physical-plan regression tests: the optimizations SURVEY.md §4 claims
Catalyst provides must actually appear in the plans (pushdown, pruning,
broadcast choice, no content column in shuffled stages)."""

from __future__ import annotations

import pytest

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = _formatted(spark, em.queries()["p4_threshold"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_discount), LessThan(l_discount,0.05)" in plan


def test_column_pruning_in_read_schema(spark):
    plan = _formatted(spark, em.queries()["p4_threshold"](spark, SF))
    # only the 3 projected columns reach the parquet scan
    line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in line and "l_discount" in line
    assert "l_extendedprice" not in line and "l_partkey" not in line


def test_dim_joins_are_broadcast(spark):
    plan = _formatted(spark, em.queries()["j3_broadcast_dim_join"](spark, SF))
    # formatted mode prints each op in the tree AND a detail section
    n_ops = sum(
        1 for l in plan.splitlines() if l.strip().startswith("(") and "BroadcastHashJoin" in l
    )
    assert n_ops == 3, plan
    assert "SortMergeJoin" not in plan


def test_agg_has_mapside_partial(spark):
    plan = _formatted(spark, em.queries()["a1_group_ranking_stats"](spark, SF))
    assert "partial_sum" in plan or "partial_count" in plan


def test_no_content_column_in_blocking_plan(spark, tiny_files):
    """raw content must never enter a shuffle: record_features projects it
    out before any wide transformation (SURVEY.md §7.4.4)."""
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.operators import blocking

    feats = blocking.record_features(tiny_files, PipelineConfig())
    keys = blocking.blocking_keys(feats, PipelineConfig())
    plan = _formatted(spark, keys)
    exchanges = [
        chunk for chunk in plan.split("\n\n") if chunk.strip().startswith("(")
    ]
    # find Exchange op ids, ensure the columns listed for them omit content
    for line in plan.splitlines():
        if "Exchange" in line and "content" in line:
            pytest.fail(f"content column crosses a shuffle: {line}")


def test_scoring_uses_arrow_map_not_python_udf(spark, tiny_files):
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.operators import blocking, scoring

    cfg = PipelineConfig()
    feats = blocking.record_features(tiny_files, cfg)
    cold, _ = blocking.split_hot_keys(blocking.blocking_keys(feats, cfg), cfg)
    pairs = blocking.candidate_pairs(cold, cfg)
    plan = _formatted(spark, scoring.score_pairs(pairs, feats, cfg))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python would show here


def test_ann_near_dup_plan_is_bucket_join_not_cartesian(spark):
    """The near-dup scale path must be an equi-join on (table, bucket)
    with Arrow-batched bucketing — never a cross join, never row-at-a-
    time Python — and the pair-dedup exchange must ship bare ids, not
    embedding arrays."""
    plan = _formatted(spark, em.queries()["embedding_near_dup"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning(id_a" in line:
            assert "va" not in line and "vb" not in line, line


def test_minhash_lsh_posting_computed_once(spark):
    """The slim posting table is localCheckpoint'ed before the self-join:
    the operator's plan reads the materialized RDD on both sides instead
    of replaying the MinHash UDF lineage per side."""
    plan = _formatted(spark, em.queries()["dedup_minhash_lsh"](spark, SF))
    assert "Scan ExistingRDD" in plan
    assert "ArrowEvalPython" not in plan  # UDF lineage lives behind the checkpoint


def test_ivf_plan_is_cell_join_not_cartesian(spark):
    """The IVF candidate path must be an equi-join on the int cell key
    with Arrow-batched probing — no cross join, no row-at-a-time Python
    (the bounded codebook collect happens at TRAIN time, not in the
    query plan)."""
    plan = _formatted(spark, em.queries()["ann_ivf_topk"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_candidate_pairs_single_endpoint_exchange(spark, tiny_files):
    """The pair stream must cross exactly ONE exchange keyed on id_a
    (serving dedup-agg + rank_a window together) and one on id_b — no
    separate (id_a, id_b) composite exchange (the round-4 2.2x/4 stage's
    fourth wide pass), and the rank_a<=max_fan_in prune must reach the
    plan as a WindowGroupLimit before the id_b exchange."""
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.operators import blocking

    cfg = PipelineConfig()
    feats = blocking.record_features(tiny_files, cfg)
    cold, _ = blocking.split_hot_keys(blocking.blocking_keys(feats, cfg), cfg)
    plan = _formatted(spark, blocking.candidate_pairs(cold, cfg))
    import re

    # formatted mode lists each Exchange's keys on an Arguments line
    ex_keys = [
        re.findall(r"(\w+)#\d+", m)
        for m in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    ]
    assert ["id_a"] in ex_keys and ["id_b"] in ex_keys, (ex_keys, plan)
    assert ["id_a", "id_b"] not in ex_keys, ("composite pair exchange", ex_keys)
    assert sum(k[:1] == ["id_a"] for k in ex_keys) == 1, ex_keys
    assert "WindowGroupLimit" in plan


def test_containment_plan_is_fp_join_not_cartesian(spark):
    """The containment path must be an equi-join on the winnowed
    fingerprint key — never all-pairs — and the whole fingerprint
    derivation (shingles, sha-60 hashes, window minima) must stay
    JVM-side: no Python evaluation anywhere in the plan."""
    plan = _formatted(spark, em.queries()["dedup_containment"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_chunk_dedup_plan_hashes_keys_and_prunes_columns(spark):
    """The C4 chunk-dedup wide stages must be equi-joins/aggs (no
    cartesian, no Python anywhere — the operator is fully native), and
    the parquet scan must prune to (doc_id, text)."""
    plan = _formatted(spark, em.queries()["dedup_chunk_lines"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert all("lang" not in l and "source" not in l for l in scan), plan


def test_repetition_stats_partial_aggregates_map_side(spark):
    """The gram-count agg must run partial (map-side combine) before its
    exchange: HashAggregate appears both below and above the exchange,
    and no Python evaluator is in the plan."""
    plan = _formatted(spark, em.queries()["text_repetition"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def _hash_exchanges(plan: str, first_key: str) -> list[list[str]]:
    """Key lists of the plan's hashpartitioning exchanges led by ``first_key``."""
    import re

    keys = [
        re.findall(r"(\w+)#\d+", m)
        for m in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    ]
    return [k for k in keys if k[:1] == [first_key]]


@pytest.mark.parametrize(
    "query, keys",
    [("dedup_minhash_lsh", ["id_a"]), ("embedding_near_dup", ["id_a", "id_b"])],
)
def test_near_dup_pair_stream_has_one_exchange(spark, query, keys):
    """The near-dup pairs cross ONE pair-stream exchange in
    blocking.posting_pairs, and the verify's join-back adds none: on id_a
    alone for MinHash bands, on (id_a, id_b) after a map-side count for
    the hyperplane-LSH tables."""
    ex = _hash_exchanges(_formatted(spark, em.queries()[query](spark, SF)), "id_a")
    assert ex == [keys], ex


@pytest.mark.parametrize("query", ["ann_lsh_topk", "ann_ivf_topk"])
def test_ann_pairs_take_composite_exchange_and_own_window_exchange(spark, query):
    """The ANN candidate pairs go through posting_pairs(combine=True): a
    map-side count before ONE composite (query_id, neighbor_id) exchange,
    so the cosine verify spreads over pairs, not queries; the top-k window
    then takes its own query_id exchange."""
    ex = _hash_exchanges(_formatted(spark, em.queries()[query](spark, SF)), "query_id")
    assert sorted(ex) == [["query_id"], ["query_id", "neighbor_id"]], ex


def test_simhash_pairs_carry_sig_without_join_back(spark):
    """SimHash posts (id, sig) structs, so the Hamming verify reads both
    sigs off the pair row: the chunk self-join is the plan's only join."""
    tree = _formatted(spark, em.queries()["dedup_simhash"](spark, SF)).split("\n\n")[0]
    assert sum("Join" in line for line in tree.splitlines()) == 1, tree
