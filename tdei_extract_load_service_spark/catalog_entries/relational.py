"""Relational-surface entries (SURVEY.md §2.2 — DynamicQueryObject parity).

Split out of the monolithic catalog.py (round-8 catalog diet, VERDICT
r7 #6). Importing this module registers its entries in
``catalog.REGISTRY``; the hub imports every family module at the end of
catalog.py, so ``from ...catalog import REGISTRY`` keeps working
unchanged. See catalog.py's module docstring for the determinism rules
every entry follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tdei_extract_load_service_spark import oracles as ORACLES
from tdei_extract_load_service_spark.catalog import (
    _query_vec,
    _read,
    _read_events,
    register,
)
from tdei_extract_load_service_spark.functions import timestamps as TS
from tdei_extract_load_service_spark.operators import relational as R
from tdei_extract_load_service_spark.operators.query_builder import (
    DynamicQueryBuilder,
)
from tdei_extract_load_service_spark.session import spread


# ---------------------------------------------------------------------------
# Relational surface (SURVEY.md §2.2 — DynamicQueryObject parity)
# ---------------------------------------------------------------------------


@register(
    "scan",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan (O3/O6 analogue): the source operator every plan starts
    from; column pruning reaches ReadSchema."""
    return _read(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@register(
    "project",
    "SELECT p_partkey, p_name, p_retailprice FROM part",
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """buildSelect parity (dynamic-query-object.ts:30-32)."""
    return R.project(_read(spark, sf_dir, "part"), ["p_partkey", "p_name", "p_retailprice"])


@register(
    "filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity > 30 AND l_discount < 0.05 AND l_returnflag = 'R'
    """,
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive WHERE parity (dynamic-query-object.ts:18-28,38-41); all
    three conjuncts reach PushedFilters on the parquet scan."""
    li = _read(spark, sf_dir, "lineitem")
    return R.project(
        R.filter_conjunctive(
            li,
            [F.col("l_quantity") > 30, F.col("l_discount") < 0.05, F.col("l_returnflag") == "R"],
        ),
        ["l_orderkey", "l_linenumber", "l_quantity", "l_discount"],
    )


@register(
    "route_case",
    """
    SELECT kind, COUNT(*) AS n_parts
    FROM (
      SELECT CASE
        WHEN p_type LIKE '%ECONOMY%' THEN 'economy'
        WHEN p_type LIKE '%STANDARD%' THEN 'standard'
        WHEN p_type LIKE '%LARGE%' THEN 'large'
        WHEN p_type LIKE '%MEDIUM%' THEN 'medium'
        WHEN p_type LIKE '%SMALL%' THEN 'small'
        ELSE 'extension' END AS kind
      FROM part
    ) GROUP BY kind
    """,
)
def q_route_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match-wins substring router (extract-load-service.ts:74-82)
    over p_type, then a per-kind count (the shape of the per-kind fan-out)."""
    routed = R.route_case(
        _read(spark, sf_dir, "part"),
        "p_type",
        routes=[
            ("ECONOMY", "economy"),
            ("STANDARD", "standard"),
            ("LARGE", "large"),
            ("MEDIUM", "medium"),
            ("SMALL", "small"),
        ],
        default="extension",
        output_col="kind",
    )
    return R.agg_group(routed, ["kind"], [F.count("*").alias("n_parts")])


@register(
    "join_inner",
    """
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """buildInnerJoin parity (dynamic-query-object.ts:34-36); both dimension
    sides broadcast so the fact side never shuffles."""
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    joined = R.join_inner(
        customer, nation, on=customer.c_nationkey == nation.n_nationkey, broadcast_right=True
    )
    joined = R.join_inner(joined, region, on=joined.n_regionkey == region.r_regionkey, broadcast_right=True)
    return joined.select("c_custkey", "c_name", "n_name", "r_name")


@register(
    "join_semi",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semantics (left_semi) — the reload membership shape of
    delete-by-key (extract-load-service.ts:290-295)."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 49)
    out = R.join_semi(orders, li, on=orders.o_orderkey == li.l_orderkey)
    return out.select("o_orderkey", "o_totalprice")


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000
    )
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS semantics (left_anti): customers with no high-value order
    (threshold keeps the result set non-trivial at every SF)."""
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000)
    out = R.join_anti(customer, orders, on=customer.c_custkey == orders.o_custkey)
    return out.select("c_custkey", "c_name")


@register(
    "agg_group",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                          AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                     AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
           ROUND(AVG(l_quantity), 2)                                          AS avg_qty,
           COUNT(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: TPC-H-Q1-shaped grouped aggregation — the engine-internal
    form of the stats stored procedure (extract-load-service.ts:329-336).
    Partial aggregation map-side; the shuffle carries 4 groups x partials."""
    li = _read(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return R.agg_group(
        li.where(F.col("l_shipdate") <= TS.utc_literal("1998-09-02 00:00:00")),
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.count("*").alias("count_order"),
        ],
    )


@register(
    "agg_stats",
    """
    SELECT event_type,
           COUNT(*)                                   AS n_events,
           ROUND(SUM(value), 2)                       AS total_value,
           COUNT(DISTINCT user_id)                    AS n_users,
           strftime(MIN(ts), '%Y-%m-%dT%H:%M:%S')     AS first_ts,
           strftime(MAX(ts), '%Y-%m-%dT%H:%M:%S')     AS last_ts
    FROM events GROUP BY event_type
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-statistics recompute (O19, the tdei_update_osw_stats
    analogue): per-kind counts/sums/distincts/extents."""
    ev = _read_events(spark, sf_dir)
    return R.agg_group(
        ev,
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            TS.normalize_ts(F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("first_ts"),
            TS.normalize_ts(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("last_ts"),
        ],
    )


@register(
    "sort",
    "SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_acctbal DESC, s_suppkey",
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """buildOrder parity (dynamic-query-object.ts:42-44); range-partitioned
    distributed sort, unique tiebreak for determinism."""
    sup = _read(spark, sf_dir, "supplier")
    return R.sort(
        sup.select("s_suppkey", "s_name", "s_acctbal"),
        [F.col("s_acctbal").desc(), F.col("s_suppkey").asc()],
    )


@register(
    "paginate",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 10 OFFSET 20
    """,
)
def q_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """buildPagination parity (dynamic-query-object.ts:45-58): page 3,
    size 10, over a unique total order."""
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return R.paginate(orders, [F.col("o_orderkey").asc()], page_no=3, page_size=10)


@register(
    "paginate_keyset",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey > 100 ORDER BY o_orderkey LIMIT 10
    """,
)
def q_paginate_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination (the deep-paging scale path): the predicate
    reaches PushedFilters, so page cost is O(page) at any depth — vs
    OFFSET's produce-and-discard prefix scan."""
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return R.paginate_keyset(orders, F.col("o_orderkey"), after=100, page_size=10)


@register(
    "top_k",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT k -> TakeOrderedAndProject (per-partition heaps)."""
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return R.top_k(orders, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], k=10)


@register(
    "dynamic_query",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_acctbal > 1000 AND c_mktsegment = 'BUILDING'
    ORDER BY c_custkey LIMIT 20 OFFSET 20
    """,
)
def q_dynamic_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DynamicQueryObject program (dynamic-query-object.ts:60-62):
    select ⊕ where ⊕ order ⊕ pagination composed through the builder."""
    customer = _read(spark, sf_dir, "customer")
    return (
        DynamicQueryBuilder(spark)
        .build_select(customer, ["c_custkey", "c_name", "c_acctbal"])
        .condition(F.col("c_acctbal") > 1000)
        .condition(F.col("c_mktsegment") == "BUILDING")
        .build_order("c_custkey", "ASC")
        .build_pagination(page_no=2, page_size=20)
        .get_query()
    )
