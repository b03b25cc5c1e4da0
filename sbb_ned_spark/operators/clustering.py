"""Stage 3 — decision + transitive clustering.

Decision: accept a candidate pair when ``score >= threshold`` OR the
exact-content override fires (sha256/norm-sha equality) — the analog of
the reference's ``proba_1 >= threshold OR exact lowercase surface ==
title`` rule (`/root/reference/qurator/sbb_ned/models/decider.py:47-48`).

Clustering: iterative **large-star / small-star** connected components
(Kiveris et al., "Connected Components in MapReduce and Beyond") over the
accepted edges, expressed purely as DataFrame windows/aggregations with
``localCheckpoint()`` per iteration to truncate lineage (SURVEY.md §7.4.3).
Cluster labels are deterministic min-record-ids, so the output
``cluster_id`` is directly comparable to the fixture's ``entity_id``
(min record id per planted cluster, FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sbb_ned_spark.config import DEFAULT_CONFIG, PipelineConfig


def accepted_edges(scores: DataFrame, config: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    return scores.filter(
        (F.col("score") >= F.lit(config.decision_threshold)) | (F.col("exact_match") == 1)
    ).select("id_a", "id_b")


def _symmetric(edges: DataFrame) -> DataFrame:
    # ONE explode pass, not union(fwd, rev): a union evaluates its child
    # subtree once per branch (Catalyst has no cross-branch common
    # subexpression reuse), so the previous formulation re-ran the whole
    # upstream lineage — a star-pass window, or on iteration 1 the full
    # scoring chain behind a lazy localCheckpoint — twice per iteration,
    # with the two branches racing to populate the same checkpoint blocks
    # ("Block rdd_N already exists" warnings). Same output multiset.
    p = F.explode(
        F.array(
            F.struct(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
            F.struct(F.col("id_b").alias("u"), F.col("id_a").alias("v")),
        )
    ).alias("e")
    return edges.select(p).select("e.u", "e.v")


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(u): m = min(N(u) ∪ {u}); connect every strictly larger
    neighbor v > u to m.

    Window formulation (round-5 2.1x/4 fix): the per-u minimum is an
    unordered window over partitionBy(u) computed IN PLACE on the edge
    rows — ONE exchange per pass instead of the join formulation's
    groupBy exchange + join-probe exchange, and no join fan-out. Skew
    profile is identical (a hot u concentrates its rows either way).
    """
    from pyspark.sql.window import Window

    m = F.min(F.least("u", "v")).over(Window.partitionBy("u"))
    # no distinct here: duplicates don't affect the min-aggregations in the
    # following small-star pass, and the per-iteration dedup there keeps
    # the edge set bounded — saves one shuffle per iteration.
    # v > u >= m, so the id_a != id_b guard is implied.
    return (
        edges.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("id_a"), F.col("m").alias("id_b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(u): over neighbors v <= u, m = min(N<=(u) ∪ {u});
    connect each of those neighbors and u itself to m.

    Same window rewrite as :func:`_large_star`, with the two output
    families (every v -> m, plus u -> m once) fused into one explode —
    the union formulation would re-run the window sort for each branch.
    One ordered window computes both min(v) (= m, since every v <= u)
    and the once-per-u row marker.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("u").orderBy("v")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    le = (
        edges.filter(F.col("v") <= F.col("u"))
        .withColumn("m", F.min("v").over(frame))
        .withColumn("rn", F.row_number().over(w))
    )
    pair = lambda a: F.struct(F.col(a).alias("id_a"), F.col("m").alias("id_b"))  # noqa: E731
    out = le.select(
        F.explode(
            F.when(F.col("rn") == 1, F.array(pair("v"), pair("u"))).otherwise(
                F.array(pair("v"))
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return out.filter(F.col("id_a") != F.col("id_b")).distinct()


def _converged_star_form(edges: DataFrame) -> bool:
    """True iff the edge set is a star forest: every ``id_a`` points at
    exactly one ``id_b`` and no node appears on both sides (no chains).

    That is EXACTLY the large-star/small-star fixpoint: on a star forest
    large-star re-emits the same member->root edges and small-star's
    per-root minimum is the root itself, so the next round is a no-op —
    and conversely any non-star edge set changes under the next round.
    Because small-star only ever emits ``id_b = min(N<=(u) ∪ u) < id_a``
    and both passes preserve connectivity, a star forest's root is its
    component's global minimum, so stopping here yields the same labels.

    Round-6 convergence test (replaces the fingerprint-equality check):
    fingerprints could only detect stabilization ONE ROUND LATE — the
    loop always paid a full confirm round of 2 window shuffles + a
    distinct on an already-converged edge set. This structural test
    detects convergence at the true fixpoint iteration, in the same
    single aggregate job that materializes the iteration's checkpoint
    (explode is narrow; one groupBy node)."""
    id_t = dict(edges.dtypes)["id_b"]
    e = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("n"),
                    F.lit(1).alias("a"),
                    F.lit(0).alias("b"),
                    F.col("id_b").alias("partner"),
                ),
                F.struct(
                    F.col("id_b").alias("n"),
                    F.lit(0).alias("a"),
                    F.lit(1).alias("b"),
                    F.lit(None).cast(id_t).alias("partner"),
                ),
            )
        ).alias("e")
    ).select("e.n", "e.a", "e.b", "e.partner")
    bad = (
        e.groupBy("n")
        .agg(
            F.max("a").alias("ha"),
            F.max("b").alias("hb"),
            F.countDistinct("partner").alias("np"),
        )
        .filter(((F.col("ha") == 1) & (F.col("hb") == 1)) | (F.col("np") > 1))
        .limit(1)
        .count()
    )
    return bad == 0


def connected_components(
    edges: DataFrame,
    records: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    id_codec: str = "string",
    assume_unique_records: bool = False,
) -> DataFrame:
    """clusters(record_id, cluster_id, n_iter) for every record (singletons
    cluster with themselves).

    ``records`` needs a ``record_id`` column; ``edges`` needs id_a/id_b.
    Each iteration alternates large-star / small-star and checkpoints to
    cut lineage; convergence = the edge set is a star forest
    (:func:`_converged_star_form`), tested after every round.

    ``id_codec='binary'``: edge ids ARRIVE binary (the scoring stage
    already runs on unhexed ids, see ``blocking.blocking_keys``); the
    loop uses them as-is and the output is hexed back to the lowercase
    string form ``records`` uses.
    """
    spark = edges.sparkSession
    hex_ids = id_codec == "binary"
    if hex_ids:
        # Defense-in-depth against a stale pre-binary-refactor checkpoint
        # (ADVICE r4 #2): string ids reaching the binary path would be
        # double-hexed downstream and every record would silently become a
        # singleton cluster. The commit's format version is the primary
        # gate; this plan-time type assert makes the failure loud even for
        # callers that bypass the catalog.
        from pyspark.sql.types import BinaryType

        types = {f.name: f.dataType for f in edges.schema.fields}
        bad = [c for c in ("id_a", "id_b") if not isinstance(types.get(c), BinaryType)]
        if bad:
            raise TypeError(
                "connected_components(id_codec='binary'): edge columns "
                f"{bad} are not BinaryType ({[types[c].simpleString() for c in bad]}) "
                "— likely a stale string-id checkpoint from before the "
                "binary-id refactor; recompute the stage (delete its "
                "checkpoint)."
            )
    # the CC loop runs many small jobs over a shrinking edge set; a large
    # shuffle-partition count would pay per-task scheduling for mostly
    # empty partitions each iteration
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        cur = (
            edges.select("id_a", "id_b").filter(F.col("id_a") != F.col("id_b")).distinct()
        )
        # materialize the deduplicated input once, so no star round's plan
        # carries the scoring lineage behind it. eager=True for THIS first
        # checkpoint only: the scoring lineage then runs in one job of its
        # own, before iteration 1's window exchanges read the blocks. The
        # per-iteration checkpoints below stay lazy because their
        # materializing action is the single-aggregate star-form test.
        cur = cur.localCheckpoint(eager=True)
        n_iter = 0
        for i in range(config.cc_max_iterations):
            n_iter = i + 1
            sym = _symmetric(cur)
            after_large = _large_star(sym)
            sym2 = _symmetric(after_large)
            cur = _small_star(sym2).localCheckpoint(eager=False)
            # the convergence check is a BARRIER (one driver action per
            # round, which is also the pass that materializes the lazy
            # checkpoint above). The structural star-form test stops at
            # the TRUE fixpoint iteration — the old fingerprint-equality
            # check always needed one extra confirm round to see "no
            # change" (measured: n_iter 3 -> 2 on the bench fixtures,
            # saving two window shuffles + a distinct per CC call).
            if _converged_star_form(cur):
                break
        else:
            # labelling from a graph that is not yet a star forest would
            # split a component into several clusters: fail loudly instead
            raise RuntimeError(
                f"connected_components: not converged after {n_iter} rounds "
                f"(cc_max_iterations={config.cc_max_iterations})"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # after convergence every edge is (member -> root); roots may only
    # appear on the id_b side
    member_root = cur.select(
        F.col("id_a").alias("record_id"), F.col("id_b").alias("cluster_id")
    )
    assignment = member_root.groupBy("record_id").agg(
        F.min("cluster_id").alias("cluster_id")
    )
    if hex_ids:
        assignment = assignment.select(
            F.lower(F.hex("record_id")).alias("record_id"),
            F.lower(F.hex("cluster_id")).alias("cluster_id"),
        )
    # ``assume_unique_records=True`` skips the distinct (one whole-table
    # shuffle): the pipeline's features table is keyed by record_id by
    # construction, and the clusters stage is barrier-bound at small edge
    # counts, so a no-op shuffle is pure latency there
    all_records = records.select("record_id")
    if not assume_unique_records:
        all_records = all_records.distinct()
    out = all_records.join(assignment, "record_id", "left").select(
        "record_id",
        F.coalesce("cluster_id", "record_id").alias("cluster_id"),
        F.lit(n_iter).alias("n_iter"),
    )
    # roots themselves: ensure root maps to itself even if it appeared as a
    # member of nothing (coalesce above covers it)
    return out
