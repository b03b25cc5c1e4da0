"""Stage-3 connected-components unit tests."""

from __future__ import annotations

import pyspark.sql.functions as F

from sbb_ned_spark.config import PipelineConfig
from sbb_ned_spark.operators.clustering import connected_components


def _run(spark, edges, nodes):
    e = spark.createDataFrame(edges, ["id_a", "id_b"])
    n = spark.createDataFrame([(x,) for x in nodes], ["record_id"])
    out = connected_components(e, n, PipelineConfig())
    return {r["record_id"]: r["cluster_id"] for r in out.collect()}


def test_simple_chain(spark):
    # a-b, b-c, d-e ; f isolated
    got = _run(spark, [("a", "b"), ("b", "c"), ("d", "e")], list("abcdef"))
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}


def test_long_path_converges(spark):
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(11)]
    got = _run(spark, edges, nodes)
    assert set(got.values()) == {"n00"}


def test_cluster_id_is_min_member(spark):
    got = _run(spark, [("x", "m"), ("m", "z"), ("q", "z")], ["x", "m", "z", "q"])
    assert set(got.values()) == {"m"}


def test_deterministic_across_runs(spark):
    edges = [("a", "c"), ("b", "c"), ("d", "f"), ("e", "f"), ("g", "h")]
    nodes = list("abcdefgh")
    assert _run(spark, edges, nodes) == _run(spark, edges, nodes)


def test_duplicate_and_reversed_edges(spark):
    got = _run(spark, [("a", "b"), ("a", "b"), ("b", "c"), ("a", "c")], list("abc"))
    assert set(got.values()) == {"a"}


def test_binary_codec_rejects_string_edges_loudly(spark):
    """A stale pre-binary-refactor checkpoint (string id columns) fed to
    the binary path would be double-hexed into silent all-singleton
    clusters; the plan-time type assert must catch it (ADVICE r4 #2)."""
    import pytest

    e = spark.createDataFrame([("aa", "bb")], ["id_a", "id_b"])
    n = spark.createDataFrame([("aa",)], ["record_id"])
    with pytest.raises(TypeError) as ei:
        connected_components(e, n, PipelineConfig(), id_codec="binary")
    assert "stale string-id checkpoint" in str(ei.value)


def test_star_form_convergence_test(spark):
    """Round-6 internals pin: the structural convergence test must accept
    exactly star forests — member->root edges, one distinct root per
    member, no node on both sides — and reject chains and multi-root
    members (the shapes another star round would still change)."""
    from sbb_ned_spark.operators.clustering import _converged_star_form

    star = spark.createDataFrame(
        [("b", "a"), ("c", "a"), ("e", "d")], ["id_a", "id_b"]
    )
    assert _converged_star_form(star)
    chain = spark.createDataFrame([("b", "a"), ("c", "b")], ["id_a", "id_b"])
    assert not _converged_star_form(chain)
    two_roots = spark.createDataFrame(
        [("c", "a"), ("c", "b")], ["id_a", "id_b"]
    )
    assert not _converged_star_form(two_roots)


def test_cc_stops_at_true_fixpoint_iteration(spark):
    """A 3-chain converges to one star; with the structural test the loop
    must not need a confirm round beyond the fixpoint iteration, and the
    labels must still be the min id per component."""
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("f", "e")], ["id_a", "id_b"]
    )
    records = spark.createDataFrame(
        [(x,) for x in "abcdefg"], ["record_id"]
    )
    out = connected_components(edges, records, PipelineConfig())
    got = {r["record_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "e", "g": "g"
    }
    n_iter = out.select("n_iter").first()["n_iter"]
    assert n_iter <= 3  # fingerprint-equality needed an extra confirm round
