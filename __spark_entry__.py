"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: MinHash-LSH near-duplicate detection +
connected-components clustering over the `documents` table (the engine's
blocking/decide core applied to driver data).

`queries()` / `oracle_sql()` — one entry per implemented operator from
SURVEY.md §2 (ids in the names: s*/p*/j*/a*/w*/o*/u*/f* map to the
operator inventory), plus the training-data-pipeline operators (dedup
family, similarity search, text analysis, multimodal decode/plumbing).
Every query has a full DuckDB value oracle — including er_clusters, the
full ER pipeline, whose oracle is the planted tiny-fixture ground truth
as a VALUES table; the dict is ORDERED so the driver's 50-query cap
covers never-checked and changed entries first.
Every aggregate/computed column is aliased identically in the Spark
plan and the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SF_DEFAULT = "/root/testdata/sf0.001"


_CATALOGS: dict[str, object] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # all table access goes through the catalog seam (Iceberg when the
    # runtime is configured, parquet dirs otherwise) by BARE table name;
    # the storage layout (dir vs .parquet file vs Iceberg FQN) is the
    # catalog's concern
    from sbb_ned_spark.sources.catalog import get_catalog

    cat = _CATALOGS.get(sf_dir)
    if cat is None:
        cat = _CATALOGS[sf_dir] = get_catalog(spark, sf_dir)
    # NO unconditional fan-out repartition here: for pure-native queries
    # the extra shuffle costs more than the single-threaded scan it fixes
    # (measured r2->r3: a1/s2/j3/ann_bruteforce regressed 35-46%). The
    # Arrow-UDF operators (dedup, similarity_search, multimodal) call
    # ensure_min_parallelism at their own entry points, where the fan-out
    # pays for the expensive narrow stage that follows.
    return cat.read_table(spark, name)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Near-dup document clustering: MinHash-LSH blocking -> exact Jaccard
    verification -> large-star/small-star connected components."""
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.operators import dedup
    from sbb_ned_spark.operators.clustering import connected_components

    docs = _t(spark, SF_DEFAULT, "documents").withColumn(
        "doc_key", F.col("doc_id").cast("string")
    )
    pairs = dedup.minhash_lsh_pairs(docs, "doc_key", "text", tau=0.8)
    edges = pairs.select(F.col("id_a"), F.col("id_b"))
    nodes = docs.select(F.col("doc_key").alias("record_id"))
    clusters = connected_components(edges, nodes, PipelineConfig())
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        clusters.join(sizes, "cluster_id")
        .select("record_id", "cluster_id", "cluster_size")
        .orderBy("record_id")
    )


# ---------------------------------------------------------------------------
# operator queries (SURVEY.md §2)
# ---------------------------------------------------------------------------

def q_s1_full_scan(spark, sf):
    # S1: full table scan of the KB registry analog (`index.py:241-245`)
    return _t(spark, sf, "customer")


def q_s2_per_key_limit(spark, sf):
    # S2: per-target indexed scan with LIMIT (`sentence_lookup.py:36-39`)
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")
    )


def q_p1_projection(spark, sf):
    # P1: column projection + derived column (`index.py:536`)
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # raw double product: bit-identical across engines (IEEE); rounding
        # at 2dp would hit .xx5 boundaries where Spark HALF_UP and DuckDB
        # binary rounding disagree
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


def q_p2_filter_eq(spark, sf):
    # P2: equality predicate (`index.py:539`)
    return _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "A").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def q_p4_threshold(spark, sf):
    # P4: distance-threshold filter (`index.py:688`)
    return _t(spark, sf, "lineitem").filter(F.col("l_discount") < 0.05).select(
        "l_orderkey", "l_linenumber", "l_discount"
    )


def q_p5_hot_key_filter(spark, sf):
    # P5: frequency (stop-key) filter — drop hot keys (`index.py:669-674`)
    li = _t(spark, sf, "lineitem")
    freq = li.groupBy("l_partkey").agg(F.count("*").alias("key_freq"))
    hot = freq.filter(F.col("key_freq") > 40).select("l_partkey")
    return li.join(F.broadcast(hot), "l_partkey", "left_anti").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )


def q_p6_sanity_filter(spark, sf):
    # P6: title sanity filter (`index.py:645`)
    p = _t(spark, sf, "part")
    return p.filter(
        (F.length("p_name") >= 3) & (~F.col("p_name").rlike(r"^[0-9]+$"))
    ).select("p_partkey", "p_name")


def q_p7_prefix_filter(spark, sf):
    # P7: 'Liste ' prefix exclusion (`sentence_lookup.py:52`)
    d = _t(spark, sf, "documents")
    return d.filter(~F.col("source").startswith("src1")).select("doc_id", "source")


def q_p9_temporal_filter(spark, sf):
    # P9: not-after temporal filter (`index.py:116-197`)
    o = _t(spark, sf, "orders")
    return o.filter(
        F.col("o_orderdate").isNull() | (F.col("o_orderdate") < F.lit("1997-06-01").cast("date"))
    ).select("o_orderkey", "o_orderdate")


def q_p11_overlap_filter(spark, sf):
    # P11: tag-set relevance filter via arrays_overlap (`index.py:324-332`)
    d = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != "")
    return d.withColumn("toks", toks).filter(
        F.arrays_overlap("toks", F.lit(["spark", "vector"]))
    ).select("doc_id", "lang")


def q_p12_fillna(spark, sf):
    # P12: null/NaN handling before model (`decider.py:210`)
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.coalesce("c_acctbal", F.lit(0.0)).alias("acctbal_filled"),
        F.when(F.col("c_acctbal") < 0, 0.0).otherwise(F.col("c_acctbal")).alias("acctbal_clipped"),
    )


def q_j2_hash_join(spark, sf):
    # J2: many-to-many equi join mapping⋈lookup (`index.py:680-684`)
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def q_j3_broadcast_dim_join(spark, sf):
    # J3: broadcast dimension join chain (`index.py:73,77-78`)
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("r_name").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


def q_j4_evidence_join(spark, sf):
    # J4: inverted-index equi-join + per-candidate limit (`sentence_lookup.py:34-45`)
    s = _t(spark, sf, "supplier")
    li = _t(spark, sf, "lineitem")
    j = s.join(li, s.s_suppkey == li.l_suppkey)
    w = Window.partitionBy("s_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("s_suppkey", "s_name", "l_orderkey", "l_extendedprice", "rn")
    )


def q_j5_bounded_cross(spark, sf):
    # J5: bounded per-group cross join (`sentence_lookup.py:124-135`)
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    wc = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    ws = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    topc = c.withColumn("rc", F.row_number().over(wc)).filter(F.col("rc") <= 2)
    tops = s.withColumn("rs", F.row_number().over(ws)).filter(F.col("rs") <= 2)
    return topc.join(tops, topc.c_nationkey == tops.s_nationkey).select(
        "c_nationkey", "c_custkey", "s_suppkey"
    )


def q_j6_self_pairs(spark, sf):
    # J6: within-group combinations a<b (`data_processor.py:191-196`)
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    a = li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber").alias("ln_a"),
        F.col("l_quantity").alias("qty_a"),
    )
    b = li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber").alias("ln_b"),
        F.col("l_quantity").alias("qty_b"),
    )
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("ln_a") < F.col("ln_b"))
        .select("l_orderkey", "ln_a", "ln_b", (F.col("qty_a") + F.col("qty_b")).alias("qty_sum"))
    )


def q_j7_good_bad_pairs(spark, sf):
    # J7: good x bad grouped cross product (`data_processor.py:198-208`)
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    best = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", F.col("l_linenumber").alias("best_ln"))
    )
    return (
        li.join(best, "l_orderkey")
        .filter(F.col("l_linenumber") != F.col("best_ln"))
        .select("l_orderkey", F.col("l_linenumber").alias("other_ln"), "best_ln")
    )


def q_j_semi(spark, sf):
    # semi join: customers with orders (`index.py:682` isin)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


def q_j_anti(spark, sf):
    # anti join: customers without orders (hot-key exclusion pattern P5)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q_j11_point_lookup(spark, sf):
    # J11: broadcast-map point lookup (`decider.py:55-58`)
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name"
    )


def q_a1_group_ranking_stats(spark, sf):
    # A1: group-by + per-group ranking stats (`index.py:692-703`); TPC-H Q1 shape
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


def q_a2_value_counts(spark, sf):
    # A2: value_counts (`index.py:641`)
    return _t(spark, sf, "orders").groupBy("o_custkey").agg(F.count("*").alias("n_orders"))


def q_a3_multi_stat(spark, sf):
    # A3: multi-stat agg matrix incl. quantiles (`decider.py:88-151`)
    li = _t(spark, sf, "lineitem")
    # one array-percentile buffer/sort instead of three scalar ones (same
    # rationale and value-identity as a3_decider_matrix)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_quantity"), 6).alias("q_min"),
            F.round(F.max("l_quantity"), 6).alias("q_max"),
            F.round(F.avg("l_quantity"), 6).alias("q_mean"),
            F.round(F.stddev("l_quantity"), 6).alias("q_std"),
            F.expr("percentile(l_quantity, array(0.5, 0.25, 0.9))").alias("_parr"),
        )
        .select(
            "l_returnflag",
            "q_min",
            "q_max",
            "q_mean",
            "q_std",
            F.round(F.element_at("_parr", 1), 6).alias("q_median"),
            F.round(F.element_at("_parr", 2), 6).alias("q_p25"),
            F.round(F.element_at("_parr", 3), 6).alias("q_p90"),
        )
    )


def q_a3_decider_matrix(spark, sf):
    # A3 full decider matrix (`models/decider.py:88-166`): per-"record"
    # (l_orderkey) stats over its candidate values (l_extendedprice) —
    # exact 0.1..1.0 quantile grid, mean/std from exact decimal sums,
    # among-top occupancy vs global percentiles, diff vs overall. Exact
    # decimal accumulation keeps both engines bit-identical before the
    # single double division (w3_cumsum pattern).
    from sbb_ned_spark.functions.partitioning import ensure_min_parallelism

    # fan out the single-row-group scan BEFORE the percentile-heavy aggs
    # (exact percentile buffers are CPU-bound per row, unlike the cheap
    # native aggs where the r3 measurement showed fan-out regressing);
    # narrow projection first so the repartition ships 2 columns. The
    # one exchange is shared by all three agg subtrees via ReuseExchange.
    # Aggregate values are partitioning-invariant (exact decimal sums,
    # min/max, value->count percentile buffers). Measured 4.8s -> 3.3s.
    li = ensure_min_parallelism(
        _t(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice")
    )
    x = F.col("l_extendedprice").cast("decimal(18,2)")
    n = F.count("*")
    s1 = F.sum(x).cast("double")
    s2 = F.sum(x * x).cast("double")
    mean = s1 / n
    var = F.when(n > 1, (s2 - s1 * s1 / n) / (n - 1)).otherwise(F.lit(0.0))
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    # ONE array-percentile aggregate per group, not ten scalar ones: each
    # exact percentile() keeps its own buffer of the group's values and
    # sorts it independently, so the 10-point grid buffered and sorted the
    # same values 10x (measured 7.1s -> ~1.5s at sf0.1). Same function,
    # same interpolation — values are identical (round 6, guide §1.2).
    quantiles = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0)
    grid = ",".join(str(q) for q in quantiles)
    case = (
        li.groupBy("l_orderkey")
        .agg(
            n.alias("c_n"),
            F.round(F.min("l_extendedprice"), 2).alias("c_min"),
            F.round(F.max("l_extendedprice"), 2).alias("c_max"),
            F.round(mean, 6).alias("c_mean"),
            F.round(std, 6).alias("c_std"),
            F.expr(f"percentile(l_extendedprice, array({grid}))").alias("_qarr"),
        )
        .select(
            "l_orderkey",
            "c_n",
            "c_min",
            "c_max",
            "c_mean",
            "c_std",
            *[
                F.round(F.element_at("_qarr", i + 1), 6).alias(f"q{int(q * 100)}")
                for i, q in enumerate(quantiles)
            ],
        )
    )
    overall = li.agg(
        (F.sum(x).cast("double") / F.count("*")).alias("o_mean"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("_parr"),
    ).select(
        "o_mean",
        F.element_at("_parr", 1).alias("p50"),
        F.element_at("_parr", 2).alias("p90"),
        F.element_at("_parr", 3).alias("p99"),
    )
    among = (
        li.crossJoin(F.broadcast(overall))
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") >= F.col("p50")).cast("int")) / F.count("*"), 6
            ).alias("among_p50"),
            F.round(
                F.sum((F.col("l_extendedprice") >= F.col("p90")).cast("int")) / F.count("*"), 6
            ).alias("among_p90"),
            F.round(
                F.sum((F.col("l_extendedprice") >= F.col("p99")).cast("int")) / F.count("*"), 6
            ).alias("among_p99"),
            F.round(
                F.sum(x).cast("double") / F.count("*") - F.first("o_mean"), 6
            ).alias("d_mean"),
        )
    )
    return case.join(among, "l_orderkey")


def q_a4_cumulative(spark, sf):
    # A4: cumulative occupancy / running share (`decider.py:115-121`)
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    tot = Window.partitionBy("o_custkey")
    # exact decimal accumulation on both engines (w3_cumsum pattern):
    # 2dp money is exact in decimal(18,2); DuckDB's segment-tree windowed
    # double-sum would otherwise drift by a ulp at rounding boundaries
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    num = F.sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
    den = F.sum(dec).over(tot).cast("double")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(num / den, 6).alias("cum_share"),
    )


def q_a5_mean_pool(spark, sf):
    # A5: mean-pool embedding aggregation (`embeddings/base.py:236-253`)
    e = _t(spark, sf, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    # exact decimal accumulation: float -> decimal(25,10) is a per-value
    # deterministic conversion, the SUM is exact, and the single division
    # of identical doubles is IEEE-identical across engines
    return ex.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(25,10)")).cast("double") / F.count("*"), 6
        ).alias("mean_v")
    )


def q_a6_global_totals(spark, sf):
    # A6: counter totals (`cli.py:124`)
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.avg("l_discount"), 6).alias("mean_discount"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


def q_a7_distinct_first(spark, sf):
    # A7: order-sensitive dedup via explicit total order (`index.py:67`)
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


def q_w1_rank(spark, sf):
    # W1: rank by position after sort (`index.py:444-445`)
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rank"))


def q_w2_norm_rank(spark, sf):
    # W2: normalized rank in [0,1] (`decider.py:95`)
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    cnt = Window.partitionBy("o_custkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            (F.row_number().over(w) - 1)
            / F.greatest(F.count("*").over(cnt) - 1, F.lit(1)),
            6,
        ).alias("norm_rank"),
    )


def q_w3_cumsum(spark, sf):
    # W3: cumulative sum (`decider.py:117`)
    li = _t(spark, sf, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the data — the frame
    # order must be total or tied rows accumulate in engine-dependent
    # order (tie-break fidelity, SURVEY.md §7.4.1); rows tied on
    # (linenumber, quantity) are swap-invariant for the sum
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # exact decimal accumulation (DuckDB's windowed double-sum uses a
    # segment tree -> different addition order -> ulp drift), surfaced
    # back as double: exact decimal -> double conversion is deterministic
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w).cast("double").alias("cum_qty"),
    )


def q_w5_session_renumber(spark, sf):
    # W5: segment re-numbering with conditional reset (`clef_hipe_2022.py:49-60`)
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap contract: integer seconds on BOTH engines (Spark unix_timestamp
    # truncates; the oracle uses floor(epoch(ts))) and session_id is BIGINT
    # on both (oracle wraps its windowed SUM in CAST(.. AS BIGINT))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    bounded = F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
    sess = F.sum(bounded).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return e.select(
        "user_id", "event_id", sess.alias("session_id")
    ).withColumn(
        "pos_in_session",
        F.row_number().over(Window.partitionBy("user_id", "session_id").orderBy("event_id")),
    )


def q_o1_multikey_topk(spark, sf):
    # O1: THE multi-key candidate sort + limit (`index.py:303-305`)
    li = _t(spark, sf, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(50)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


def q_u1_union(spark, sf):
    # U1: union all (`index.py:302`)
    c = _t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey", "c_mktsegment")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    return a.unionByName(b)


def q_u2_intersect(spark, sf):
    # U2: set intersection (`index.py:324`)
    c = _t(spark, sf, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.intersect(o)


def q_u3_except(spark, sf):
    # U3/U4: set difference (`decider.py:99`)
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("custkey"))
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.subtract(o)  # EXCEPT (distinct) directly — one agg, not exceptAll+distinct


def q_u5_split(spark, sf):
    # U5: deterministic train/test split (`cli.py:766-774`, seeded-hash variant)
    c = _t(spark, sf, "customer")
    return c.filter(F.col("c_custkey") % 10 < 8).select("c_custkey")


def q_f1_tokenize(spark, sf):
    # F1: surface tokenization + frequency (`embeddings/base.py:49-76`)
    d = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != "")
    return (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 20)
    )


def q_f7_string_predicates(spark, sf):
    # F7: length / numeric / startswith tests (`index.py:645,708`)
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.length("p_name").alias("name_len"),
        F.col("p_name").rlike(r"^[0-9]+$").alias("is_numeric"),
        F.col("p_name").startswith("red").alias("is_red"),
    )


def q_f8_date_extract(spark, sf):
    # F8: date parse + year extract (`index.py:119-130`)
    o = _t(spark, sf, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.count("*").alias("n"))


def q_f9_haversine(spark, sf):
    # F9: haversine distance (`index.py:99-109`) — synthetic nation coords
    n = _t(spark, sf, "nation")
    pts = n.select(
        "n_nationkey",
        (F.col("n_nationkey") * 3.0 - 30.0).alias("lat"),
        (F.col("n_regionkey") * 20.0 - 100.0).alias("lon"),
    )
    a = pts.select(
        F.col("n_nationkey").alias("k_a"), F.col("lat").alias("lat_a"), F.col("lon").alias("lon_a")
    )
    b = pts.select(
        F.col("n_nationkey").alias("k_b"), F.col("lat").alias("lat_b"), F.col("lon").alias("lon_b")
    )
    j = a.crossJoin(b).filter(F.col("k_a") < F.col("k_b"))
    dlat = F.radians(F.col("lat_b") - F.col("lat_a"))
    dlon = F.radians(F.col("lon_b") - F.col("lon_a"))
    h = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians("lat_a")) * F.cos(F.radians("lat_b")) * F.pow(F.sin(dlon / 2), 2)
    )
    # clamp to [0,1]: near-antipodal pairs push h a ulp above 1.0 and
    # sqrt(1-h) goes NaN (oracle applies the identical LEAST/GREATEST)
    h = F.least(F.greatest(h, F.lit(0.0)), F.lit(1.0))
    km = 6371.0 * 2 * F.atan2(F.sqrt(h), F.sqrt(F.lit(1.0) - h))
    return j.select("k_a", "k_b", F.round(km, 3).alias("dist_km"))


def q_f4_translate(spark, sf):
    # F4: char-map normalization via translate (`webapp/app.py:331-333`)
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", F.translate(F.lower(F.trim("text")), "aeiou", "@31OU").alias("folded")
    )


def q_f11_softmax(spark, sf):
    # F11: softmax within a group (`models/bert.py:321`) — window max/sum
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey")
    x = F.col("l_extendedprice") / 10000.0
    mx = F.max(x).over(w)
    e = F.exp(x - mx)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(e / F.sum(e).over(w), 6).alias("softmax"),
    )


def q_f12_run_length(spark, sf):
    # F12: run-length grouping (`models/sentence_lookup.py:57-84`) —
    # longest run of equal adjacent event_types per user
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    seg = F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0))
    runs = e.select("user_id", "event_type", seg.alias("seg"))
    run_lens = runs.groupBy("user_id", "event_type", "seg").agg(
        F.count("*").alias("run_len")
    )
    return run_lens.groupBy("user_id", "event_type").agg(
        F.max("run_len").alias("longest_run")
    )


def q_f10_log_odds(spark, sf):
    # F10: log-odds transform (`classifier_decider_queue.py:74`)
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.log((F.col("l_discount") + 0.01) / (1 - F.col("l_discount") + 0.01)), 6
        ).alias("log_odds"),
    )


def q_f14_sha2(spark, sf):
    # F14: request-hash key (`webapp/app.py:289-291`)
    c = _t(spark, sf, "customer")
    return c.select("c_custkey", F.sha2(F.col("c_name"), 256).alias("name_sha"))


def q_f15_json(spark, sf):
    # F15: JSON-in-column decode (`cli.py:580-582`)
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count("*").alias("n")
    )


# --- training-data pipeline operators --------------------------------------

def q_dedup_exact(spark, sf):
    from sbb_ned_spark.operators import dedup

    d = _t(spark, sf, "documents")
    return dedup.exact_dedup(d, "doc_id", "text")


def q_dedup_ngram_jaccard(spark, sf):
    from sbb_ned_spark.operators import dedup

    d = _t(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", tau=0.8)


def q_dedup_minhash_lsh(spark, sf):
    from sbb_ned_spark.operators import dedup

    d = _t(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(d, "doc_id", "text", tau=0.8)


def q_dedup_simhash(spark, sf):
    from sbb_ned_spark.operators import dedup

    d = _t(spark, sf, "documents")
    return dedup.simhash_pairs(d, "doc_id", "text", max_hamming=3)


def q_dedup_containment(spark, sf):
    # asymmetric containment via winnowing fingerprints (the MOSS scheme):
    # catches subset/quote relations symmetric Jaccard misses; sha-60
    # hashed so DuckDB recomputes the exact fingerprint sets
    from sbb_ned_spark.operators import dedup

    d = _t(spark, sf, "documents")
    return dedup.containment_pairs(d, "doc_id", "text", tau=0.8)


def q_ann_bruteforce_topk(spark, sf):
    from sbb_ned_spark.operators import similarity_search as ss

    e = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") < 10)
    return ss.brute_force_topk(e, q, k=3)


def q_ann_lsh_topk(spark, sf):
    from sbb_ned_spark.operators import similarity_search as ss

    e = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") < 10)
    return ss.lsh_topk(e, q, k=3)


def q_ann_ivf_topk(spark, sf):
    # IVF variant of the ANN path: k-means coarse cells instead of LSH
    # buckets (the Annoy-tree analog by space partitioning rather than
    # hashing, `index.py:436-440`)
    from sbb_ned_spark.operators import similarity_search as ss

    e = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") < 10)
    # exhaustive probes (n_probe == n_cells): equality with brute force
    # holds BY CONSTRUCTION, so the oracle checks the IVF machinery
    # (codebook training, postings, join, re-rank) rather than an
    # empirical recall pin; the approximate default (8 probes, measured
    # recall 0.80-0.83 on the uniform fixtures) is pytest-gated instead
    return ss.ivf_topk(e, q, k=3, n_probe=16)


def q_embedding_near_dup(spark, sf):
    from sbb_ned_spark.operators import similarity_search as ss

    e = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return ss.embedding_near_dup_pairs(e, tau=0.5)


def q_text_language_id(spark, sf):
    from sbb_ned_spark.functions import text as T

    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.language_id(F.col("text")).alias("lang_guess"))


def q_text_quality(spark, sf):
    from sbb_ned_spark.functions import text as T

    d = _t(spark, sf, "documents")
    feats = T.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["mean_tok_len"], 6).alias("mean_tok_len"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        F.round(feats["stop_ratio"], 6).alias("stop_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
    )


def q_text_token_count(spark, sf):
    from sbb_ned_spark.functions import text as T

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_ws_tokens"),
        T.word_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def q_doc_fingerprint(spark, sf):
    from sbb_ned_spark.functions import text as T

    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


def q_dedup_chunk_lines(spark, sf):
    # C4-style cross-document boilerplate removal (Raffel et al. 2020
    # §2.2: drop any line occurring more than once in the corpus), over
    # non-overlapping 8-token chunks because the corpus has no newlines;
    # survivors reassembled in order, output as plain strings (canon-safe)
    from sbb_ned_spark.operators import corpus

    d = _t(spark, sf, "documents")
    return corpus.chunk_dedup(d, "doc_id", "text", chunk_tokens=8, min_docs=2)


def q_text_repetition(spark, sf):
    # Gopher-style repetition signals (Rae et al. 2021 A1.1): duplicated
    # token fraction, top-bigram fraction, duplicated-trigram fraction —
    # one tagged n-gram explode, two partial-agg shuffles on 60-bit keys
    from sbb_ned_spark.operators import corpus

    d = _t(spark, sf, "documents")
    return corpus.repetition_stats(d, "doc_id", "text")


def q_text_pii_scrub(spark, sf):
    # PII redaction pass (the C4/Dolma scrub): emails, IPv4s, phone
    # numbers -> typed placeholders, with per-doc match counts. PII is
    # PLANTED deterministically from doc_id (the raw fixture text is
    # token words with nothing to scrub) so the oracle verifies real
    # replacements: docs ≡0 mod 5 get an email, ≡1 a phone, ≡2 an IPv4.
    from sbb_ned_spark.operators import corpus

    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    suffix = (
        F.when(
            i % 5 == 0,
            F.concat(F.lit(" contact user"), i.cast("string"), F.lit("@example.com")),
        )
        .when(
            i % 5 == 1,
            F.concat(F.lit(" call 555-"), F.lpad((i % 10000).cast("string"), 4, "0")),
        )
        .when(
            i % 5 == 2,
            F.concat(
                F.lit(" from 10."),
                (i % 256).cast("string"),
                F.lit("."),
                (i * 7 % 256).cast("string"),
                F.lit("."),
                (i % 250).cast("string"),
            ),
        )
        .otherwise(F.lit(""))
    )
    planted = d.select("doc_id", F.concat(F.col("text"), suffix).alias("text"))
    return corpus.pii_scrub(planted, "doc_id", "text")


def q_multimodal_features(spark, sf):
    from sbb_ned_spark.operators import multimodal as mm

    d = _t(spark, sf, "documents")
    media = mm.to_media_table(d, "doc_id", "text", kind="image")
    return mm.extract_features(media, stub=True)


def q_multimodal_decode(spark, sf):
    # REAL header decode end-to-end: Catalyst-encoded PNG/WAV/MP4 bytes ->
    # struct-parsed width/height/duration; the oracle recomputes the
    # planted dimensions arithmetically
    from sbb_ned_spark.operators import multimodal as mm

    d = _t(spark, sf, "documents")
    return mm.decode_features(mm.synthesize_media(d, "doc_id"))


def q_p10_context_rerank(spark, sf):
    # P10 complete: geo-context re-rank of candidates (`index.py:75-197`,
    # webapp __CONTEXT__ flow `app.py:361-368`) — candidates per customer
    # (same-nation suppliers), base score = normalized s_acctbal, context
    # decay = 1/(1+haversine/1000), blended 0.6/0.4, per-query top-3
    from sbb_ned_spark.operators import rerank as R

    c = _t(spark, sf, "customer").select(
        "c_custkey",
        "c_nationkey",
        ((F.col("c_custkey") % 35) * 4.0 - 68.0).alias("lat_c"),
        ((F.col("c_custkey") % 67) * 5.0 - 165.0).alias("lon_c"),
    )
    s = _t(spark, sf, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        ((F.col("s_suppkey") % 37) * 4.0 - 72.0).alias("lat_s"),
        ((F.col("s_suppkey") % 71) * 5.0 - 175.0).alias("lon_s"),
    )
    ext = s.agg(F.min("s_acctbal").alias("mn"), F.max("s_acctbal").alias("mx"))
    cand = (
        c.join(s, c.c_nationkey == s.s_nationkey)
        .crossJoin(F.broadcast(ext))
        .withColumn("base_score", (F.col("s_acctbal") - F.col("mn")) / (F.col("mx") - F.col("mn")))
        .withColumn(
            "decay",
            R.geo_decay(R.haversine_km(F.col("lat_c"), F.col("lon_c"), F.col("lat_s"), F.col("lon_s"))),
        )
    )
    out = R.context_rerank(cand, "c_custkey", "s_suppkey", "base_score", "decay", k=3)
    return out.select(
        "c_custkey", "s_suppkey", F.round("rerank_score", 6).alias("rerank_score"), "ctx_rank"
    )


def q_p3_flag_filter(spark, sf):
    # P3: boolean-flag filter — compute flags, then filter ON the flag
    # column (the reference's drop-by-computed-flag shape, `index.py:539`)
    p = _t(spark, sf, "part")
    flagged = p.select(
        "p_partkey",
        "p_name",
        (F.length("p_name").between(4, 12) & ~F.col("p_name").rlike(r"[0-9]")).alias(
            "name_ok"
        ),
    )
    return flagged.filter(F.col("name_ok")).select("p_partkey", "p_name")


def q_p8_first_word_filter(spark, sf):
    # P8: redirect-first-word exclusion (`sentence_lookup.py:52`,
    # `index.py:645`): drop documents whose FIRST token is a redirect/
    # listing marker word
    d = _t(spark, sf, "documents")
    first = F.element_at(F.split(F.lower(F.trim("text")), r"\s+"), 1)
    return d.withColumn("first_word", first).filter(
        ~F.col("first_word").isin("the", "liste", "redirect")
    ).select("doc_id", "first_word")


def q_a8_grouped_assembly(spark, sf):
    # A8: grouped assembly — per-group ordered id list (the reference's
    # per-mention candidate-list assembly, `sentence_lookup.py:124-135`):
    # deterministic order via array_sort over (date, key) structs.
    # The ordered list ships as a '|'-joined STRING, not array<bigint>:
    # the driver's canon pandas-sorts every output column and cannot
    # factorize list cells (r4 red — VERDICT r4 ask #1); the string form
    # carries the identical ordered-assembly evidence.
    o = _t(spark, sf, "orders")
    assembled = o.groupBy("o_custkey").agg(
        F.array_sort(
            F.collect_list(F.struct("o_orderdate", "o_orderkey"))
        ).alias("ordered"),
        F.count("*").alias("n_orders"),
    )
    return assembled.select(
        "o_custkey",
        F.concat_ws(
            "|", F.transform("ordered", lambda s: s["o_orderkey"].cast("string"))
        ).alias("order_keys"),
        "n_orders",
    )


def q_p10_temporal_rerank(spark, sf):
    # P10 temporal path (`index.py:116-197`: not-after filter + age decay,
    # the reference's __CONTEXT__ temporal flow): per customer, re-rank
    # their orders — base score = min-max-normalized o_totalprice, decay =
    # 1/(1+age_days/365) vs a reference date, blended 0.6/0.4, top-3
    from sbb_ned_spark.operators import rerank as R

    o = _t(spark, sf, "orders")
    ref = F.lit("1998-01-01").cast("date")
    ext = o.agg(F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx"))
    cand = (
        o.filter(F.col("o_orderdate") <= ref)  # not-after filter
        .crossJoin(F.broadcast(ext))
        .withColumn(
            "base_score", (F.col("o_totalprice") - F.col("mn")) / (F.col("mx") - F.col("mn"))
        )
        .withColumn(
            "decay", R.temporal_decay(F.datediff(ref, F.col("o_orderdate")).cast("double"))
        )
    )
    out = R.context_rerank(cand, "o_custkey", "o_orderkey", "base_score", "decay", k=3)
    return out.select(
        "o_custkey", "o_orderkey", F.round("rerank_score", 6).alias("rerank_score"), "ctx_rank"
    )


def q_j10_gt_alignment(spark, sf):
    # J10: ground-truth alignment join (`clef_hipe_2022.py:378-439`): the
    # reference re-syncs its system token stream against the gold stream
    # by dropping marker tokens, renumbering the survivors positionally,
    # and matching on (doc, aligned position). Declaratively: a running
    # non-marker count renumbers the system side, a row_number renumbers
    # the gold side, and ONE equi-join on (doc_id, gpos) aligns them —
    # no per-token driver loop.
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != "")
        ).alias("pos", "token"),
    )
    markers = ("the", "of", "a")
    marked = toks.withColumn("is_marker", F.col("token").isin(*markers))
    w = Window.partitionBy("doc_id").orderBy("pos")
    sys_aligned = (
        marked.withColumn("gpos", F.sum((~F.col("is_marker")).cast("int")).over(w) - 1)
        .filter(~F.col("is_marker"))
        .select("doc_id", "pos", "gpos", F.col("token").alias("sys_token"))
    )
    gold = (
        marked.filter(~F.col("is_marker"))
        .withColumn("gpos", F.row_number().over(w) - 1)
        .select("doc_id", "gpos", F.col("token").alias("gold_token"))
    )
    return sys_aligned.join(gold, ["doc_id", "gpos"]).select(
        "doc_id",
        "pos",
        "gpos",
        "sys_token",
        "gold_token",
        (F.col("sys_token") == F.col("gold_token")).cast("int").alias("aligned"),
    )


def q_j8_decision_merge(spark, sf):
    # J8/J9 + O2: the decider's decision⋈candidate merges and final sort
    # as one contract query (previously covered only by ER pytest —
    # VERDICT r4 "What's missing" #5). Shape mirrors `models/decider.py`:
    # candidates are (surface=o_custkey, guessed_title=o_orderpriority)
    # pairs with per-pair stats (case_rank_min: min rank of the pair's
    # orders within the surface, the `case_rank_min` of `decider.py:96`);
    # J9 (`decider.py:45`) joins the per-title prediction (proba_1, the
    # classifier-output analog) onto candidates on guessed_title; J8
    # (`decider.py:98-100`) re-joins per-title candidate info onto the
    # decision frame on the same key. Both dims are tiny (one row per
    # priority class) — at scale these are broadcast joins against the
    # streaming decision side; AQE picks broadcast from runtime sizes.
    # O2 (`decider.py:49`): sort_values(['proba_1','case_rank_min'],
    # ascending=[False,True]) is MATERIALIZED as decision_rank
    # (row_number over that exact order, unique pair key as tie-break) so
    # the sort semantics survive the driver's canon re-sort. The global
    # window is the decider-output analog (per-mention-tiny in the
    # reference); scale note: a global rank at 100 TB would zipWithIndex
    # per-partition instead — this query IS the small decision table.
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    cand = (
        o.withColumn("case_rank", F.row_number().over(w))
        .groupBy("o_custkey", "o_orderpriority")
        .agg(
            F.min("case_rank").alias("case_rank_min"),
            F.count("*").alias("n_cases"),
        )
    )
    # exact decimal accumulation before the one double division (the
    # a3_decider_matrix pattern) keeps both engines bit-identical
    x = F.col("o_totalprice").cast("decimal(18,2)")
    pred = o.groupBy("o_orderpriority").agg(
        F.round(F.sum(x).cast("double") / F.count("*") / F.lit(200000.0), 6).alias(
            "proba_1"
        )
    )
    title_info = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("title_n_orders")
    )
    dec = cand.join(pred, "o_orderpriority")        # J9
    merged = dec.join(title_info, "o_orderpriority")  # J8
    w2 = Window.orderBy(
        F.col("proba_1").desc(),
        F.col("case_rank_min").asc(),
        "o_custkey",
        "o_orderpriority",
    )
    return merged.select(
        "o_custkey",
        "o_orderpriority",
        "case_rank_min",
        "n_cases",
        "proba_1",
        "title_n_orders",
        F.row_number().over(w2).alias("decision_rank"),
    )


def q_f2_dehyphenate(spark, sf):
    # F2: OCR de-hyphenation (`embeddings/base.py:24-46`: drop the `¬`
    # line-break marker and re-join the split word). The documents table
    # has no OCR marks, so the query PLANTS one deterministically (after
    # the 5th character of every long-enough text) and then removes it —
    # exercising the real regex machinery end-to-end; `rejoined_ok`
    # proves the round trip restored the original bytes.
    d = _t(spark, sf, "documents")
    marked = F.when(
        F.length("text") > 5,
        F.concat(F.substring("text", 1, 5), F.lit("¬\n  "), F.expr("substring(text, 6)")),
    ).otherwise(F.col("text"))
    cleaned = F.regexp_replace(marked, "¬\\s*", "")
    return d.select(
        "doc_id",
        F.length(marked).alias("n_marked"),
        F.length(cleaned).alias("n_cleaned"),
        (cleaned == F.col("text")).cast("int").alias("rejoined_ok"),
    )


def q_f5_stem(spark, sf):
    # F5: stemming slot (`webapp/app.py:106-108`: Snowball-stem each
    # surface part). Model-free rule stemmer: longest-suffix strip of
    # (ing|edly|ed|es|ly|s) keeping a stem of >= 3 chars — the token
    # canonicalization is per-token inside a higher-order transform, the
    # same shape the reference applies per surface part.
    # capture-group formulation (not lookbehind): DuckDB's RE2 oracle has
    # no lookbehind, and the non-greedy min-3 prefix is equivalent to
    # "leftmost suffix with >= 3 chars before it" on both engines
    d = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != "")
    stemmed = F.transform(
        toks,
        lambda t: F.regexp_replace(t, "^(.{3,}?)(ing|edly|ed|es|ly|s)$", "$1"),
    )
    return d.select(
        "doc_id",
        F.array_join(stemmed, " ").alias("stemmed_text"),
        F.size(stemmed).alias("n_tokens"),
    )


def q_er_clusters(spark, sf):
    # the ER core on the synthetic files table (fixtures are deterministic)
    from sbb_ned_spark import fixtures
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.plans import pipeline as P

    files = fixtures.load_files_df(spark, "tiny")
    res = P.run_pipeline(files, PipelineConfig(), light=True)
    return res.clusters.select("record_id", "cluster_id")


def _er_clusters_oracle_sql() -> str:
    """VALUE oracle for the full ER pipeline: the PLANTED ground truth of
    the tiny fixture as a VALUES table. ``memberships.entity_id`` is the
    min record id of each planted cluster (FIXTURES.md §3,
    `fixtures.py:generate_files_pdf`), and the engine's cluster labels are
    min-record-id by construction (`operators/clustering.py:12-15`), so
    planted truth == expected engine output whenever clustering is exact —
    which the tiny/small exact-cluster equality pytest gates enforce
    independently. Derived from the generator, NOT from running the
    engine: a clustering regression mismatches here instead of being
    silently re-pinned."""
    from sbb_ned_spark import fixtures

    _, members = fixtures.generate_files_pdf("tiny")
    rows = ",".join(
        f"('{r.record_id}','{r.entity_id}')"
        for r in members.sort_values("record_id").itertuples()
    )
    return (
        "SELECT record_id, cluster_id FROM (VALUES "
        + rows
        + ") t(record_id, cluster_id)"
    )


def q_er_incremental(spark, sf):
    # the batch-incremental ER path (plans/incremental.py) end to end:
    # resolve 70% of the tiny fixture into a fresh checkpoint state, then
    # attach the other 30% via incremental_update. The updated A∪B
    # clusters must equal the planted ground truth — the SAME VALUES
    # oracle as er_clusters, so the driver verifies the incremental
    # partition is indistinguishable from a from-scratch rebuild
    # (tests/test_incremental.py asserts the equality directly too).
    import tempfile

    from sbb_ned_spark import fixtures
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.plans import incremental as I
    from sbb_ned_spark.plans import pipeline as P

    files = fixtures.load_files_df(spark, "tiny")
    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
    base_files, batch = files.filter(h < 7), files.filter(h >= 7)
    # fresh state root per call (deterministic output; the returned frame
    # scans the committed clusters segment, so the dir must outlive the query
    # — registered for interpreter-exit cleanup so repeated driver/oracle
    # runs don't accumulate checkpoint trees in /tmp, ADVICE r5 low #2)
    import atexit
    import shutil

    state_dir = tempfile.mkdtemp(prefix="er_inc_")
    atexit.register(shutil.rmtree, state_dir, True)
    cfg = PipelineConfig(checkpoint_dir=state_dir)
    P.run_pipeline(base_files, cfg)
    res = I.incremental_update(batch, cfg)
    return res.clusters.select("record_id", "cluster_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver checks the first 50 entries per round.
    # Round-6 priority (VERDICT r5 ask #7 — keep the window rotating):
    # (1) every query whose PLAN changed in the round-6 optimization pass
    #     (dedup family, ANN family, a3 quantile grids, the ER pipeline
    #     queries) — changed entries must get a driver row;
    # (2) the 26-query tail whose last driver row was r1–r4 (rotated out
    #     of the r5 window; re-verified every session by the local sf0.01
    #     oracle replica, tests/test_entry_oracle) — rotates back IN;
    # (3) the bench-headline natives + round-5's newly-added operators —
    #     all driver-green in r5 — fill the remaining slots / tail.
    return {
        # --- (1) plans changed in round 6 ---------------------------------
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_containment": q_dedup_containment,
        "ann_bruteforce_topk": q_ann_bruteforce_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "a3_multi_stat": q_a3_multi_stat,
        "a3_decider_matrix": q_a3_decider_matrix,
        "er_clusters": q_er_clusters,
        "er_incremental": q_er_incremental,
        # --- (2) last driver row r1–r4: rotate back in --------------------
        "a6_global_totals": q_a6_global_totals,
        "a7_distinct_first": q_a7_distinct_first,
        "w1_rank": q_w1_rank,
        "w2_norm_rank": q_w2_norm_rank,
        "w3_cumsum": q_w3_cumsum,
        "u1_union": q_u1_union,
        "u2_intersect": q_u2_intersect,
        "u3_except": q_u3_except,
        "u5_split": q_u5_split,
        "f1_tokenize": q_f1_tokenize,
        "f4_translate": q_f4_translate,
        "f7_string_predicates": q_f7_string_predicates,
        "f8_date_extract": q_f8_date_extract,
        "f10_log_odds": q_f10_log_odds,
        "f11_softmax": q_f11_softmax,
        "f12_run_length": q_f12_run_length,
        "f14_sha2": q_f14_sha2,
        "f15_json": q_f15_json,
        "o1_multikey_topk": q_o1_multikey_topk,
        "s1_full_scan": q_s1_full_scan,
        "p1_projection": q_p1_projection,
        "p2_filter_eq": q_p2_filter_eq,
        "p4_threshold": q_p4_threshold,
        "p12_fillna": q_p12_fillna,
        "j_semi": q_j_semi,
        "j_anti": q_j_anti,
        # --- (3) bench headline + r5-green, filling the window ------------
        "a1_group_ranking_stats": q_a1_group_ranking_stats,
        "j3_broadcast_dim_join": q_j3_broadcast_dim_join,
        "s2_per_key_limit": q_s2_per_key_limit,
        "w5_session_renumber": q_w5_session_renumber,
        "dedup_exact": q_dedup_exact,
        "dedup_chunk_lines": q_dedup_chunk_lines,
        "text_repetition": q_text_repetition,
        "text_pii_scrub": q_text_pii_scrub,
        "j8_decision_merge": q_j8_decision_merge,
        "j10_gt_alignment": q_j10_gt_alignment,
        "p10_context_rerank": q_p10_context_rerank,
        "p10_temporal_rerank": q_p10_temporal_rerank,
        # ---- 50-query cap usually lands here ------------------------------
        # driver-green in round 5, rotating to the tail this round (all
        # still locally verified each session):
        "p3_flag_filter": q_p3_flag_filter,
        "p8_first_word_filter": q_p8_first_word_filter,
        "a8_grouped_assembly": q_a8_grouped_assembly,
        "f2_dehyphenate": q_f2_dehyphenate,
        "f5_stem": q_f5_stem,
        "f9_haversine": q_f9_haversine,
        "multimodal_features": q_multimodal_features,
        "multimodal_decode": q_multimodal_decode,
        "text_language_id": q_text_language_id,
        "text_quality": q_text_quality,
        "text_token_count": q_text_token_count,
        "doc_fingerprint": q_doc_fingerprint,
        "p5_hot_key_filter": q_p5_hot_key_filter,
        "p6_sanity_filter": q_p6_sanity_filter,
        "p7_prefix_filter": q_p7_prefix_filter,
        "p9_temporal_filter": q_p9_temporal_filter,
        "p11_overlap_filter": q_p11_overlap_filter,
        "j2_hash_join": q_j2_hash_join,
        "j4_evidence_join": q_j4_evidence_join,
        "j5_bounded_cross": q_j5_bounded_cross,
        "j6_self_pairs": q_j6_self_pairs,
        "j7_good_bad_pairs": q_j7_good_bad_pairs,
        "j11_point_lookup": q_j11_point_lookup,
        "a2_value_counts": q_a2_value_counts,
        "a4_cumulative": q_a4_cumulative,
        "a5_mean_pool": q_a5_mean_pool,
    }


_TOK = "list_distinct(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''))"
_TOK_ALL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')"


def oracle_sql() -> dict[str, str]:
    sql = {
        "s1_full_scan": "SELECT * FROM customer",
        "s2_per_key_limit": """
            SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
              SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                     ROW_NUMBER() OVER (PARTITION BY l_suppkey
                       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
              FROM lineitem) WHERE rn <= 5""",
        "p1_projection": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1 - l_discount) AS revenue
            FROM lineitem""",
        "p2_filter_eq": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_returnflag = 'A'""",
        "p4_threshold": """
            SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
            WHERE l_discount < 0.05""",
        "p5_hot_key_filter": """
            SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
            WHERE l_partkey NOT IN (
              SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING COUNT(*) > 40)""",
        "p6_sanity_filter": """
            SELECT p_partkey, p_name FROM part
            WHERE LENGTH(p_name) >= 3 AND NOT regexp_full_match(p_name, '[0-9]+')""",
        "p7_prefix_filter": """
            SELECT doc_id, source FROM documents WHERE NOT starts_with(source, 'src1')""",
        "p9_temporal_filter": """
            SELECT o_orderkey, o_orderdate FROM orders
            WHERE o_orderdate IS NULL OR o_orderdate < DATE '1997-06-01'""",
        "p11_overlap_filter": f"""
            SELECT doc_id, lang FROM documents
            WHERE list_has_any({_TOK_ALL}, ['spark', 'vector'])""",
        "p12_fillna": """
            SELECT c_custkey, COALESCE(c_acctbal, 0.0) AS acctbal_filled,
                   CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS acctbal_clipped
            FROM customer""",
        "j2_hash_join": """
            SELECT o_orderstatus, COUNT(*) AS n_lines,
                   ROUND(SUM(l_extendedprice), 2) AS sum_price
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderstatus""",
        "j3_broadcast_dim_join": """
            SELECT r_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS sum_total
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "j4_evidence_join": """
            SELECT s_suppkey, s_name, l_orderkey, l_extendedprice, rn FROM (
              SELECT s_suppkey, s_name, l_orderkey, l_extendedprice,
                     ROW_NUMBER() OVER (PARTITION BY s_suppkey
                       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
              FROM supplier JOIN lineitem ON s_suppkey = l_suppkey)
            WHERE rn <= 3""",
        "j5_bounded_cross": """
            WITH topc AS (
              SELECT c_nationkey, c_custkey,
                     ROW_NUMBER() OVER (PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey) AS rc
              FROM customer),
            tops AS (
              SELECT s_nationkey, s_suppkey,
                     ROW_NUMBER() OVER (PARTITION BY s_nationkey
                       ORDER BY s_acctbal DESC, s_suppkey) AS rs
              FROM supplier)
            SELECT c_nationkey, c_custkey, s_suppkey
            FROM topc JOIN tops ON c_nationkey = s_nationkey
            WHERE rc <= 2 AND rs <= 2""",
        "j6_self_pairs": """
            SELECT a.l_orderkey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
                   a.l_quantity + b.l_quantity AS qty_sum
            FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_linenumber < b.l_linenumber""",
        "j7_good_bad_pairs": """
            WITH best AS (
              SELECT l_orderkey, l_linenumber AS best_ln FROM (
                SELECT l_orderkey, l_linenumber,
                       ROW_NUMBER() OVER (PARTITION BY l_orderkey
                         ORDER BY l_extendedprice DESC, l_linenumber) AS rn
                FROM lineitem) WHERE rn = 1)
            SELECT l.l_orderkey, l.l_linenumber AS other_ln, best.best_ln
            FROM lineitem l JOIN best ON l.l_orderkey = best.l_orderkey
            WHERE l.l_linenumber <> best.best_ln""",
        "j_semi": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "j_anti": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "j11_point_lookup": """
            SELECT c_custkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey""",
        "a1_group_ranking_stats": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "a2_value_counts": """
            SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey""",
        "a3_multi_stat": """
            SELECT l_returnflag,
                   ROUND(MIN(l_quantity), 6) AS q_min,
                   ROUND(MAX(l_quantity), 6) AS q_max,
                   ROUND(AVG(l_quantity), 6) AS q_mean,
                   ROUND(STDDEV_SAMP(l_quantity), 6) AS q_std,
                   ROUND(quantile_cont(l_quantity, 0.5), 6) AS q_median,
                   ROUND(quantile_cont(l_quantity, 0.25), 6) AS q_p25,
                   ROUND(quantile_cont(l_quantity, 0.9), 6) AS q_p90
            FROM lineitem GROUP BY l_returnflag""",
        "a3_decider_matrix": """
            WITH case_ AS (
              SELECT l_orderkey,
                     COUNT(*) AS c_n,
                     ROUND(MIN(l_extendedprice), 2) AS c_min,
                     ROUND(MAX(l_extendedprice), 2) AS c_max,
                     ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*), 6) AS c_mean,
                     ROUND(CASE WHEN COUNT(*) > 1 THEN sqrt(GREATEST(
                       (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                        - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                          * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                          / COUNT(*))
                       / (COUNT(*) - 1), 0.0)) ELSE 0.0 END, 6) AS c_std,
                     ROUND(quantile_cont(l_extendedprice, 0.1), 6) AS q10,
                     ROUND(quantile_cont(l_extendedprice, 0.2), 6) AS q20,
                     ROUND(quantile_cont(l_extendedprice, 0.3), 6) AS q30,
                     ROUND(quantile_cont(l_extendedprice, 0.4), 6) AS q40,
                     ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS q50,
                     ROUND(quantile_cont(l_extendedprice, 0.6), 6) AS q60,
                     ROUND(quantile_cont(l_extendedprice, 0.7), 6) AS q70,
                     ROUND(quantile_cont(l_extendedprice, 0.8), 6) AS q80,
                     ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS q90,
                     ROUND(quantile_cont(l_extendedprice, 1.0), 6) AS q100
              FROM lineitem GROUP BY l_orderkey),
            o AS (
              SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*) AS o_mean,
                     quantile_cont(l_extendedprice, 0.5) AS p50,
                     quantile_cont(l_extendedprice, 0.9) AS p90,
                     quantile_cont(l_extendedprice, 0.99) AS p99
              FROM lineitem),
            among AS (
              SELECT l_orderkey,
                     ROUND(SUM(CASE WHEN l_extendedprice >= p50 THEN 1 ELSE 0 END)
                           * 1.0 / COUNT(*), 6) AS among_p50,
                     ROUND(SUM(CASE WHEN l_extendedprice >= p90 THEN 1 ELSE 0 END)
                           * 1.0 / COUNT(*), 6) AS among_p90,
                     ROUND(SUM(CASE WHEN l_extendedprice >= p99 THEN 1 ELSE 0 END)
                           * 1.0 / COUNT(*), 6) AS among_p99,
                     ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*) - ANY_VALUE(o_mean), 6) AS d_mean
              FROM lineitem CROSS JOIN o GROUP BY l_orderkey)
            SELECT * FROM case_ JOIN among USING (l_orderkey)""",
        "a4_cumulative": """
            SELECT o_custkey, o_orderkey,
                   ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                             PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                         / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                             PARTITION BY o_custkey) AS DOUBLE), 6) AS cum_share
            FROM orders""",
        "a5_mean_pool": """
            SELECT label, pos,
                   ROUND(CAST(SUM(CAST(v AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*), 6) AS mean_v
            FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) - 1 AS pos FROM embeddings)
            GROUP BY label, pos""",
        "a6_global_totals": """
            SELECT COUNT(*) AS n_rows,
                   ROUND(SUM(l_extendedprice), 2) AS total_price,
                   ROUND(AVG(l_discount), 6) AS mean_discount,
                   COUNT(DISTINCT l_orderkey) AS n_orders
            FROM lineitem""",
        "a7_distinct_first": """
            SELECT o_custkey, o_orderkey, o_orderdate FROM (
              SELECT o_custkey, o_orderkey, o_orderdate,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders) WHERE rn = 1""",
        "w1_rank": """
            SELECT o_custkey, o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS rank
            FROM orders""",
        "w2_norm_rank": """
            SELECT o_custkey, o_orderkey,
                   ROUND((ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) - 1)
                         * 1.0 / GREATEST(COUNT(*) OVER (PARTITION BY o_custkey) - 1, 1),
                         6) AS norm_rank
            FROM orders""",
        "w3_cumsum": """
            SELECT l_orderkey, l_linenumber,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                        OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_qty
            FROM lineitem""",
        "w5_session_renumber": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN LAG(ts) OVER w IS NULL
                               OR CAST(floor(epoch(ts)) AS BIGINT)
                                  - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
                          THEN 1 ELSE 0 END AS boundary
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id, event_id,
                     CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g)
            SELECT user_id, event_id, session_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                     ORDER BY event_id) AS pos_in_session
            FROM s""",
        "o1_multikey_topk": """
            SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
            ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 50""",
        "u1_union": """
            SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
            UNION ALL
            SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'""",
        "u2_intersect": """
            SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
            INTERSECT
            SELECT o_custkey AS custkey FROM orders""",
        "u3_except": """
            SELECT c_custkey AS custkey FROM customer
            EXCEPT
            SELECT o_custkey AS custkey FROM orders""",
        "u5_split": "SELECT c_custkey FROM customer WHERE c_custkey % 10 < 8",
        "f1_tokenize": f"""
            SELECT token, COUNT(*) AS n
            FROM (SELECT unnest({_TOK_ALL}) AS token FROM documents)
            GROUP BY token HAVING COUNT(*) > 20""",
        "f7_string_predicates": """
            SELECT p_partkey, LENGTH(p_name) AS name_len,
                   regexp_full_match(p_name, '[0-9]+') AS is_numeric,
                   starts_with(p_name, 'red') AS is_red
            FROM part""",
        "f8_date_extract": """
            SELECT EXTRACT(year FROM o_orderdate) AS yr,
                   EXTRACT(month FROM o_orderdate) AS mo, COUNT(*) AS n
            FROM orders GROUP BY yr, mo""",
        "f9_haversine": """
            WITH pts AS (
              SELECT n_nationkey, n_nationkey * 3.0 - 30.0 AS lat,
                     n_regionkey * 20.0 - 100.0 AS lon FROM nation),
            h AS (
              SELECT a.n_nationkey AS k_a, b.n_nationkey AS k_b,
                     LEAST(GREATEST(
                       pow(sin(radians(b.lat - a.lat) / 2), 2)
                       + cos(radians(a.lat)) * cos(radians(b.lat))
                         * pow(sin(radians(b.lon - a.lon) / 2), 2), 0.0), 1.0) AS hv
              FROM pts a, pts b WHERE a.n_nationkey < b.n_nationkey)
            SELECT k_a, k_b,
                   ROUND(6371.0 * 2 * atan2(sqrt(hv), sqrt(1.0 - hv)), 3) AS dist_km
            FROM h""",
        "f4_translate": """
            SELECT doc_id, translate(lower(trim(text)), 'aeiou', '@31OU') AS folded
            FROM documents""",
        "f11_softmax": """
            WITH m AS (
              SELECT l_orderkey, l_linenumber,
                     exp(l_extendedprice / 10000.0
                         - MAX(l_extendedprice / 10000.0)
                             OVER (PARTITION BY l_orderkey)) AS e
              FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   ROUND(e / SUM(e) OVER (PARTITION BY l_orderkey), 6) AS softmax
            FROM m""",
        "f12_run_length": """
            WITH g AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN LAG(event_type) OVER w IS NULL
                               OR LAG(event_type) OVER w <> event_type
                          THEN 1 ELSE 0 END AS chg
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id, event_type,
                     SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
              FROM g),
            r AS (
              SELECT user_id, event_type, seg, COUNT(*) AS run_len
              FROM s GROUP BY user_id, event_type, seg)
            SELECT user_id, event_type, MAX(run_len) AS longest_run
            FROM r GROUP BY user_id, event_type""",
        "f10_log_odds": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(ln((l_discount + 0.01) / (1 - l_discount + 0.01)), 6) AS log_odds
            FROM lineitem""",
        "f14_sha2": "SELECT c_custkey, sha256(c_name) AS name_sha FROM customer",
        "f15_json": """
            SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
                   COUNT(*) AS n
            FROM events GROUP BY event_type""",
        "dedup_exact": """
            WITH h AS (SELECT doc_id AS id, sha256(text) AS text_sha FROM documents),
            g AS (SELECT text_sha, MIN(id) AS keeper_id, COUNT(*) AS group_size
                  FROM h GROUP BY text_sha)
            SELECT h.id, g.keeper_id, g.group_size FROM h JOIN g USING (text_sha)""",
        "dedup_ngram_jaccard": f"""
            WITH base AS (SELECT doc_id AS id, {_TOK_ALL} AS toks FROM documents),
            sh AS (SELECT id, unnest(list_distinct(
                     CASE WHEN len(toks) >= 3
                          THEN list_transform(generate_series(1, len(toks) - 2),
                                 i -> toks[i] || chr(1) || toks[i+1] || chr(1) || toks[i+2])
                          ELSE toks END)) AS token FROM base),
            sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS ni
              FROM sh a JOIN sh b USING (token) WHERE a.id < b.id GROUP BY 1, 2)
            SELECT id_a, id_b,
                   ROUND(ni * 1.0 / (sa.n + sb.n - ni), 6) AS jaccard
            FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
            WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.8""",
        "ann_bruteforce_topk": """
            WITH scored AS (
              SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 6) AS cosine
              FROM embeddings q, embeddings v
              WHERE q.vec_id < 10 AND q.vec_id <> v.vec_id)
            SELECT query_id, neighbor_id, cosine, rank FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
              FROM scored) WHERE rank <= 3""",
        "text_token_count": f"""
            SELECT doc_id, len({_TOK_ALL}) AS n_ws_tokens,
                   len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))
                   + LENGTH(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_bpe_tokens
            FROM documents""",
        "doc_fingerprint": """
            SELECT doc_id,
                   sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents""",
        "p10_context_rerank": """
            WITH c AS (
              SELECT c_custkey, c_nationkey,
                     (c_custkey % 35) * 4.0 - 68.0 AS lat_c,
                     (c_custkey % 67) * 5.0 - 165.0 AS lon_c
              FROM customer),
            s AS (
              SELECT s_suppkey, s_nationkey, s_acctbal,
                     (s_suppkey % 37) * 4.0 - 72.0 AS lat_s,
                     (s_suppkey % 71) * 5.0 - 175.0 AS lon_s
              FROM supplier),
            ext AS (SELECT MIN(s_acctbal) AS mn, MAX(s_acctbal) AS mx FROM supplier),
            hv_ AS (
              SELECT c.c_custkey, s.s_suppkey, s.s_acctbal, ext.mn, ext.mx,
                     LEAST(GREATEST(
                       pow(sin(radians(lat_s - lat_c) / 2), 2)
                       + cos(radians(lat_c)) * cos(radians(lat_s))
                         * pow(sin(radians(lon_s - lon_c) / 2), 2), 0.0), 1.0) AS hv
              FROM c JOIN s ON c.c_nationkey = s.s_nationkey CROSS JOIN ext),
            cand AS (
              SELECT c_custkey, s_suppkey,
                     0.6 * ((s_acctbal - mn) / (mx - mn))
                     + 0.4 * (1.0 / (1.0 +
                         (6371.0 * 2 * atan2(sqrt(hv), sqrt(1.0 - hv))) / 1000.0))
                       AS rerank_score
              FROM hv_)
            SELECT c_custkey, s_suppkey, ROUND(rerank_score, 6) AS rerank_score, ctx_rank
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                          ORDER BY rerank_score DESC, s_suppkey ASC) AS ctx_rank
              FROM cand)
            WHERE ctx_rank <= 3""",
        "p3_flag_filter": """
            SELECT p_partkey, p_name FROM (
              SELECT p_partkey, p_name,
                     (LENGTH(p_name) BETWEEN 4 AND 12)
                       AND NOT regexp_matches(p_name, '[0-9]') AS name_ok
              FROM part)
            WHERE name_ok""",
        "p8_first_word_filter": f"""
            SELECT doc_id, first_word FROM (
              SELECT doc_id,
                     list_extract(string_split_regex(lower(trim(text)), '\\s+'), 1)
                       AS first_word
              FROM documents)
            WHERE first_word NOT IN ('the', 'liste', 'redirect')""",
        "a8_grouped_assembly": """
            SELECT o_custkey,
                   array_to_string(
                     ARRAY_AGG(CAST(o_orderkey AS VARCHAR)
                               ORDER BY o_orderdate, o_orderkey), '|')
                     AS order_keys,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY o_custkey""",
        "p10_temporal_rerank": """
            WITH ext AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders),
            cand AS (
              SELECT o_custkey, o_orderkey,
                     0.6 * ((o_totalprice - mn) / (mx - mn))
                     + 0.4 * (1.0 / (1.0 + GREATEST(
                         date_diff('day', o_orderdate, DATE '1998-01-01'), 0) / 365.0))
                       AS rerank_score
              FROM orders CROSS JOIN ext
              WHERE o_orderdate <= DATE '1998-01-01')
            SELECT o_custkey, o_orderkey, ROUND(rerank_score, 6) AS rerank_score, ctx_rank
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                          ORDER BY rerank_score DESC, o_orderkey ASC) AS ctx_rank
              FROM cand)
            WHERE ctx_rank <= 3""",
        "multimodal_features": """
            WITH s AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id, 'image' AS kind,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     sha256(text) AS content_sha,
                     CAST('0x' || substring(sha256(text), 1, 8) AS BIGINT) AS seed
              FROM documents)
            SELECT media_id, kind, n_bytes, content_sha,
                   CAST(64 + seed % 1024 AS INTEGER) AS fake_width,
                   CAST(64 + (seed >> 10) % 1024 AS INTEGER) AS fake_height,
                   CAST(1000 + (seed >> 20) % 60000 AS INTEGER) AS fake_duration_ms
            FROM s""",
        "multimodal_decode": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'video' END AS kind,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 33
                                        WHEN 1 THEN 44
                                        ELSE 132 END AS INTEGER) AS n_bytes,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 512 END AS INTEGER) AS width,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 384 END AS INTEGER) AS height,
                   CAST(CASE WHEN doc_id % 3 = 1 THEN 1 + doc_id % 5000
                             WHEN doc_id % 3 = 2 THEN 1 + doc_id % 9000 END AS INTEGER)
                       AS duration_ms
            FROM documents""",
    }
    # minhash-LSH verified pairs == brute-force pairs at this tau (recall
    # is complete for j >= 0.9 with 32 bands x 4 rows; verified in tests)
    sql["dedup_minhash_lsh"] = sql["dedup_ngram_jaccard"]
    # SimHash: the engine hashes shingles with the sha256-derived 60-bit
    # family (dedup._sha60) precisely so DuckDB can recompute the full
    # signature; the oracle brute-forces all pairs (oracle cost is fine at
    # sf0.01 — the ENGINE blocks via 16-bit chunks, the oracle need not)
    sql["dedup_simhash"] = f"""
        WITH base AS (SELECT doc_id AS id, {_TOK_ALL} AS toks FROM documents),
        sh AS (SELECT id, unnest(list_distinct(
                 CASE WHEN len(toks) >= 3
                      THEN list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || chr(1) || toks[i+1] || chr(1) || toks[i+2])
                      ELSE toks END)) AS token FROM base),
        th AS (SELECT id, CAST('0x' || substring(sha256(token), 1, 15) AS BIGINT) AS h
               FROM sh),
        votes AS (
          SELECT id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bits
          GROUP BY id, b),
        sigs AS (
          SELECT id, CAST(SUM(CASE WHEN vote > 0
                                   THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
          FROM votes GROUP BY id),
        sig0 AS (
          SELECT base.id, COALESCE(sigs.sig, 0) AS sig
          FROM base LEFT JOIN sigs ON base.id = sigs.id)
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM sig0 a JOIN sig0 b ON a.id < b.id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3"""
    # containment: winnowing fingerprints recomputed EXACTLY (positional
    # shingles — ordered, duplicates kept — sha-60 hashes, distinct minima
    # of every 4-window with DuckDB's truncating 1-based inclusive slice
    # matching Spark's truncating F.slice); the containment measure is the
    # smaller doc's fingerprint coverage, threshold 0.8
    sql["dedup_containment"] = f"""
        WITH base AS (SELECT doc_id AS id, {_TOK_ALL} AS toks FROM documents),
        sgl AS (SELECT id,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(generate_series(1, len(toks) - 2),
                              i -> toks[i] || chr(1) || toks[i+1] || chr(1) || toks[i+2])
                       WHEN len(toks) > 0 THEN [array_to_string(toks, chr(1))]
                       ELSE CAST([] AS VARCHAR[]) END AS s FROM base),
        hs AS (SELECT id, list_transform(s,
                 x -> CAST('0x' || substring(sha256(x), 1, 15) AS BIGINT)) AS h
               FROM sgl),
        fp AS (SELECT id, unnest(list_distinct(
                 list_transform(generate_series(1, len(h)),
                                i -> list_min(h[i : i + 3])))) AS f
               FROM hs WHERE len(h) > 0),
        sizes AS (SELECT id, COUNT(*) AS n_fp FROM fp GROUP BY id),
        inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared
                  FROM fp a JOIN fp b ON a.f = b.f AND a.id < b.id
                  GROUP BY a.id, b.id)
        SELECT id_a, id_b,
               ROUND(n_shared / LEAST(sa.n_fp, sb.n_fp), 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE n_shared / LEAST(sa.n_fp, sb.n_fp) >= 0.8"""
    # C4 chunk dedup: non-overlapping 8-token chunks recomputed EXACTLY
    # (DuckDB's truncating 1-based inclusive slice matches Spark's
    # truncating F.slice); chunk keys are the shared sha-60 family so the
    # >= 2-distinct-docs boilerplate cut agrees bit-for-bit
    sql["dedup_chunk_lines"] = f"""
        WITH base AS (SELECT doc_id AS id, {_TOK_ALL} AS toks FROM documents),
        chunked AS (
          SELECT id, i - 1 AS pos,
                 array_to_string(toks[(i-1)*8+1 : (i-1)*8+8], ' ') AS chunk
          FROM (SELECT id, toks,
                       unnest(generate_series(1,
                         CAST(ceil(len(toks)/8.0) AS BIGINT))) AS i
                FROM base WHERE len(toks) > 0)),
        keyed AS (SELECT id, pos, chunk,
                         CAST('0x' || substring(sha256(chunk), 1, 15) AS BIGINT)
                           AS ck
                  FROM chunked),
        boiler AS (SELECT ck FROM keyed GROUP BY ck
                   HAVING COUNT(DISTINCT id) >= 2),
        flagged AS (SELECT k.id, k.pos, k.chunk, (b.ck IS NOT NULL) AS is_boiler
                    FROM keyed k LEFT JOIN boiler b ON k.ck = b.ck)
        SELECT id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COALESCE(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_boiler,
               COALESCE(array_to_string(
                 list_transform(
                   list_sort(list({{'pos': pos, 'chunk': chunk}})
                             FILTER (WHERE NOT is_boiler)),
                   s -> s.chunk), ' '), '') AS kept_text
        FROM flagged GROUP BY id"""
    # Gopher repetition signals: the tagged {{1,2,3}}-gram explode replayed
    # with the same sha-60 gram keys; every SUM is CAST/divided as double
    # before ROUND 6 and n_tokens CAST to BIGINT (the j10 HUGEINT lesson)
    sql["text_repetition"] = f"""
        WITH base AS (SELECT doc_id AS id, {_TOK_ALL} AS toks FROM documents),
        grams AS (
          SELECT id, 1 AS n, unnest(toks) AS gram FROM base
          UNION ALL
          SELECT id, 2 AS n, unnest(CASE WHEN len(toks) >= 2
              THEN list_transform(generate_series(1, len(toks)-1),
                     i -> toks[i] || ' ' || toks[i+1])
              ELSE CAST([] AS VARCHAR[]) END) AS gram FROM base
          UNION ALL
          SELECT id, 3 AS n, unnest(CASE WHEN len(toks) >= 3
              THEN list_transform(generate_series(1, len(toks)-2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ELSE CAST([] AS VARCHAR[]) END) AS gram FROM base),
        counts AS (SELECT id, n,
                          CAST('0x' || substring(sha256(gram),1,15) AS BIGINT)
                            AS gk,
                          COUNT(*) AS c
                   FROM grams GROUP BY id, n, gk),
        stats AS (SELECT id,
            SUM(CASE WHEN n=1 THEN c END) AS tot1,
            SUM(CASE WHEN n=1 AND c>1 THEN c END) AS dup1,
            MAX(CASE WHEN n=2 THEN c END) AS top2,
            SUM(CASE WHEN n=2 THEN c END) AS tot2,
            SUM(CASE WHEN n=3 AND c>1 THEN c END) AS dup3,
            SUM(CASE WHEN n=3 THEN c END) AS tot3
          FROM counts GROUP BY id)
        SELECT b.id AS doc_id,
          CAST(COALESCE(tot1, 0) AS BIGINT) AS n_tokens,
          ROUND(CASE WHEN COALESCE(tot1, 0) > 0
                     THEN COALESCE(dup1, 0) / (tot1 * 1.0)
                     ELSE 0.0 END, 6) AS dup_token_frac,
          ROUND(CASE WHEN COALESCE(tot2, 0) > 0
                     THEN COALESCE(top2, 0) / (tot2 * 1.0)
                     ELSE 0.0 END, 6) AS top_bigram_frac,
          ROUND(CASE WHEN COALESCE(tot3, 0) > 0
                     THEN COALESCE(dup3, 0) / (tot3 * 1.0)
                     ELSE 0.0 END, 6) AS dup_trigram_frac
        FROM base b LEFT JOIN stats s ON b.id = s.id"""
    # PII scrub: identical RE2-compatible patterns replayed in the same
    # fixed order (email -> ip -> phone, PII_ORDER in operators/corpus.py);
    # counts from the pre-scrub planted text on both sides
    sql["text_pii_scrub"] = r"""
        WITH planted AS (
          SELECT doc_id, text ||
            CASE doc_id % 5
              WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com'
              WHEN 1 THEN ' call 555-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              WHEN 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                          || CAST(doc_id * 7 % 256 AS VARCHAR) || '.'
                          || CAST(doc_id % 250 AS VARCHAR)
              ELSE '' END AS text
          FROM documents),
        scrubbed AS (
          SELECT doc_id, text,
            regexp_replace(regexp_replace(regexp_replace(text,
              '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
              '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
              '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS clean
          FROM planted)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
          CAST(len(regexp_extract_all(text,
            '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT)
            AS n_ips,
          CAST(len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS INT)
            AS n_phones,
          CAST(LENGTH(clean) AS INT) AS n_chars,
          sha256(clean) AS scrubbed_sha
        FROM scrubbed"""
    # ann_lsh_topk: tau-derived (planes, tables) make the candidate set a
    # verified superset of the true top-k on the driver fixtures, and the
    # exact re-rank then makes the output identical to brute force — so
    # the brute-force SQL IS its oracle. NOTE the operator's contract is
    # probabilistic (per-pair recall >= 0.995); exact equality is an
    # EMPIRICAL pin of (seed=100, driver fixtures sf0.001/0.01/0.1).
    # The pin has TWO local tripwires (VERDICT r4 ask #6), both in
    # tests/test_similarity_and_text.py and both parametrized over ALL
    # three fixture scales: test_lsh_topk_recall_gate_equals_bruteforce
    # (output equality) and test_lsh_candidate_set_covers_true_topk (the
    # structural superset property equality follows from). A fixture or
    # seed change breaks those tests BEFORE the driver sees a red; a
    # mismatch there is a re-pin requirement, not necessarily a code bug.
    sql["ann_lsh_topk"] = sql["ann_bruteforce_topk"]
    # ann_ivf_topk: the contract query probes EVERY cell (n_probe ==
    # n_cells), which is exhaustive by construction — equality with the
    # brute-force SQL verifies the IVF machinery itself, with no
    # empirical-pin caveat; the approximate-probe recall knob is gated
    # separately in pytest (test_ivf_default_probe_recall_floor).
    sql["ann_ivf_topk"] = sql["ann_bruteforce_topk"]
    # embedding_near_dup: recall derived from tau (>= 0.995 for a pair AT
    # tau; better above), verified exact at the fixture scales -> the
    # brute-force all-pairs cosine is the oracle
    sql["embedding_near_dup"] = """
        WITH scored AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                              b.embedding::DOUBLE[]), 6) AS cosine
          FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.5"""
    # full-pipeline value oracle: the planted tiny-fixture ground truth
    # (every contract entry is now value-checkable; r3 ask #2)
    sql["er_clusters"] = _er_clusters_oracle_sql()
    # the incremental partition must equal the SAME planted ground truth —
    # a from-scratch rebuild and an incremental attach are indistinguishable
    sql["er_incremental"] = _er_clusters_oracle_sql()
    sql["f2_dehyphenate"] = """
        WITH m AS (
          SELECT doc_id, text,
                 CASE WHEN LENGTH(text) > 5
                      THEN substring(text, 1, 5) || '¬' || chr(10) || '  '
                           || substring(text, 6)
                      ELSE text END AS marked
          FROM documents),
        c AS (SELECT doc_id, text, marked,
                     regexp_replace(marked, '¬\\s*', '', 'g') AS cleaned FROM m)
        SELECT doc_id, LENGTH(marked) AS n_marked, LENGTH(cleaned) AS n_cleaned,
               CAST(cleaned = text AS INT) AS rejoined_ok
        FROM c"""
    sql["f5_stem"] = f"""
        SELECT doc_id,
               array_to_string(list_transform({_TOK_ALL},
                 t -> regexp_replace(t, '^(.{{3,}}?)(ing|edly|ed|es|ly|s)$', '\\1')),
                 ' ') AS stemmed_text,
               len({_TOK_ALL}) AS n_tokens
        FROM documents"""
    sql["j10_gt_alignment"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_transform({_TOK_ALL},
                   (t, i) -> struct_pack(pos := i - 1, token := t))) AS s
          FROM documents),
        marked AS (
          SELECT doc_id, s.pos AS pos, s.token AS token,
                 s.token IN ('the', 'of', 'a') AS is_marker
          FROM toks),
        sys_aligned AS (
          SELECT doc_id, pos, gpos, token AS sys_token FROM (
            SELECT doc_id, pos, token, is_marker,
                   -- CAST: DuckDB types the windowed SUM as HUGEINT, which
                   -- pandas fetches as float64 (0.0 vs Spark's int 0) and
                   -- the driver's value hash diverges — same trap the w5
                   -- oracle documents (r4 red — VERDICT r4 ask #2)
                   CAST(SUM(CASE WHEN is_marker THEN 0 ELSE 1 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS BIGINT) AS gpos
            FROM marked)
          WHERE NOT is_marker),
        gold AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS gpos,
                 token AS gold_token
          FROM marked WHERE NOT is_marker)
        SELECT s.doc_id, s.pos, s.gpos, s.sys_token, g.gold_token,
               CAST(s.sys_token = g.gold_token AS INT) AS aligned
        FROM sys_aligned s
        JOIN gold g ON s.doc_id = g.doc_id AND s.gpos = g.gpos"""
    # J8/J9/O2: same exact-decimal-sum-then-one-double-division shape as
    # the Spark side; ROW_NUMBER casts to BIGINT naturally (int widths
    # hash equal — only int-vs-float drifts, see driver_canon)
    sql["j8_decision_merge"] = """
        WITH ranked AS (
          SELECT o_custkey, o_orderpriority,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS case_rank
          FROM orders),
        cand AS (
          SELECT o_custkey, o_orderpriority,
                 MIN(case_rank) AS case_rank_min, COUNT(*) AS n_cases
          FROM ranked GROUP BY o_custkey, o_orderpriority),
        pred AS (
          SELECT o_orderpriority,
                 ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*) / 200000.0, 6) AS proba_1
          FROM orders GROUP BY o_orderpriority),
        title_info AS (
          SELECT o_orderpriority, COUNT(*) AS title_n_orders
          FROM orders GROUP BY o_orderpriority)
        SELECT c.o_custkey, c.o_orderpriority, c.case_rank_min, c.n_cases,
               p.proba_1, t.title_n_orders,
               ROW_NUMBER() OVER (ORDER BY p.proba_1 DESC, c.case_rank_min ASC,
                                  c.o_custkey, c.o_orderpriority) AS decision_rank
        FROM cand c
        JOIN pred p USING (o_orderpriority)
        JOIN title_info t USING (o_orderpriority)"""
    sql["text_language_id"] = _LANGID_SQL
    sql["text_quality"] = _QUALITY_SQL
    return sql


_SCORE = {
    "en": "len(list_intersect({t}, ['the','and','of','to','a']))",
    "de": "len(list_intersect({t}, ['der','die','das','und','nicht']))",
    "es": "len(list_intersect({t}, ['el','la','los','que','y']))",
    "fr": "len(list_intersect({t}, ['le','la','les','et','des']))",
}

_LANGID_SQL = f"""
WITH s AS (
  SELECT doc_id,
         {_SCORE['en'].format(t=_TOK_ALL)} AS s_en,
         {_SCORE['de'].format(t=_TOK_ALL)} AS s_de,
         {_SCORE['es'].format(t=_TOK_ALL)} AS s_es,
         {_SCORE['fr'].format(t=_TOK_ALL)} AS s_fr
  FROM documents)
SELECT doc_id,
       CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
            WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS lang_guess
FROM s"""

_STOPS = "['a','and','das','der','des','die','el','et','la','le','les','los','nicht','of','que','the','to','und','y']"

_QUALITY_SQL = f"""
WITH f AS (
  SELECT doc_id, LENGTH(text) AS n_chars,
         len({_TOK_ALL}) AS n_tokens,
         CASE WHEN len({_TOK_ALL}) > 0
              THEN list_sum(list_transform({_TOK_ALL}, t -> LENGTH(t))) * 1.0 / len({_TOK_ALL})
              ELSE 0.0 END AS mean_tok_len_raw,
         CASE WHEN LENGTH(text) > 0
              THEN LENGTH(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 / LENGTH(text)
              ELSE 0.0 END AS punct_ratio_raw,
         CASE WHEN len({_TOK_ALL}) > 0
              THEN len(list_filter({_TOK_ALL}, t -> list_contains({_STOPS}, t))) * 1.0
                   / len({_TOK_ALL})
              ELSE 0.0 END AS stop_ratio_raw
  FROM documents)
SELECT doc_id, n_chars, n_tokens,
       ROUND(mean_tok_len_raw, 6) AS mean_tok_len,
       ROUND(punct_ratio_raw, 6) AS punct_ratio,
       ROUND(stop_ratio_raw, 6) AS stop_ratio,
       ROUND(LEAST(n_tokens / 20.0, 1.0) * 0.4
             + (CASE WHEN mean_tok_len_raw >= 3 AND mean_tok_len_raw <= 10
                     THEN 1.0 ELSE 0.5 END) * 0.3
             + (1.0 - LEAST(punct_ratio_raw * 5, 1.0)) * 0.3, 6) AS quality
FROM f"""
