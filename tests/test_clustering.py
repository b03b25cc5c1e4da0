"""Stage-3 connected-components unit tests."""

from __future__ import annotations

import dataclasses
from unittest import mock

import pyspark.sql.functions as F
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sbb_ned_spark.config import PipelineConfig
from sbb_ned_spark.operators import clustering
from sbb_ned_spark.operators.clustering import connected_components


def union_find_min_root(nodes, edges) -> dict:
    """Pure-Python reference CC: node -> the minimum node of its component
    (union by smaller root, with path halving)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


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


def test_cc_fails_loudly_when_rounds_run_out(spark):
    """A graph that needs more star rounds than cc_max_iterations allows
    must raise, not label a half-converged edge set (which would split a
    component into several clusters)."""
    nodes = [f"n{i:02d}" for i in range(12)]
    e = spark.createDataFrame([(nodes[i], nodes[i + 1]) for i in range(11)], ["id_a", "id_b"])
    n = spark.createDataFrame([(x,) for x in nodes], ["record_id"])
    full = connected_components(e, n, PipelineConfig())
    assert full.select("n_iter").first()["n_iter"] >= 2
    with pytest.raises(RuntimeError, match=r"after 1 rounds \(cc_max_iterations=1\)"):
        connected_components(e, n, PipelineConfig(cc_max_iterations=1))


@st.composite
def _graphs(draw):
    """(n_nodes, edges) over ids 0..n_nodes-1: a few components, each a
    chain, star, clique or random forest, plus isolated nodes, under a
    random relabelling and random edge orientation."""
    n, edges = 0, []
    for kind in draw(st.lists(st.sampled_from(["chain", "star", "clique", "forest"]), min_size=1, max_size=3)):
        ids = list(range(n, n + draw(st.integers(1, 6))))
        n += len(ids)
        if kind == "chain":
            edges += list(zip(ids, ids[1:]))
        elif kind == "star":
            edges += [(ids[0], x) for x in ids[1:]]
        elif kind == "clique":
            edges += [(x, y) for i, x in enumerate(ids) for y in ids[i + 1 :]]
        else:
            edges += [
                (x, ids[draw(st.integers(0, j - 1))])
                for j, x in enumerate(ids)
                if j and draw(st.booleans())
            ]
    n += draw(st.integers(0, 3))
    label = draw(st.permutations(range(n)))
    edges = [(label[x], label[y]) if draw(st.booleans()) else (label[y], label[x]) for x, y in edges]
    return n, edges


@pytest.mark.parametrize("id_codec", ["string", "binary"])
@settings(max_examples=8, derandomize=True, deadline=None)
@example(graph=(7, [(6, 5), (5, 4), (4, 3), (3, 2), (2, 1), (1, 0)]))
@given(graph=_graphs())
def test_cc_property_matches_union_find(spark, id_codec, graph):
    """On drawn chains, stars, cliques and forests with isolated nodes,
    CC labels equal the union-find minimum-id root, under both id codecs,
    within cc_max_iterations rounds. The star-form stop agrees with
    running on to the last allowed round: with the check wrapped to
    report convergence only there, the labels are the same."""
    n, edges = graph
    config = PipelineConfig()
    if id_codec == "string":
        key = lambda i: f"n{i:03d}"  # noqa: E731 - fixed width keeps the order numeric
        edge_ids = [(key(x), key(y)) for x, y in edges]
        schema = "id_a string, id_b string"
    else:
        key = lambda i: i.to_bytes(2, "big").hex()  # noqa: E731
        edge_ids = [(bytes.fromhex(key(x)), bytes.fromhex(key(y))) for x, y in edges]
        schema = "id_a binary, id_b binary"

    def labels(cfg):
        return connected_components(
            spark.createDataFrame(edge_ids, schema),
            spark.createDataFrame([(key(i),) for i in range(n)], "record_id string"),
            cfg,
            id_codec=id_codec,
        ).collect()

    out = labels(config)
    want = union_find_min_root(range(n), edges)
    assert {r["record_id"]: r["cluster_id"] for r in out} == {key(i): key(r) for i, r in want.items()}
    assert all(r["n_iter"] <= config.cc_max_iterations for r in out)

    # run two rounds past the star-form stop, and stop only on the last one
    last = dataclasses.replace(config, cc_max_iterations=max(r["n_iter"] for r in out) + 2)
    star_form, rounds = clustering._converged_star_form, []

    def converged_on_last_round(cur):
        rounds.append(cur)
        return len(rounds) == last.cc_max_iterations and star_form(cur)

    with mock.patch.object(clustering, "_converged_star_form", converged_on_last_round):
        late = labels(last)
    assert len(rounds) == last.cc_max_iterations
    assert {r["record_id"]: r["cluster_id"] for r in late} == {
        r["record_id"]: r["cluster_id"] for r in out
    }
