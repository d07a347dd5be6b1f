"""Extended relational surface (SURVEY.md §2.3 free built-ins).

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
from tdei_extract_load_service_spark.session import sort_boundary, spread


# ---------------------------------------------------------------------------
# Extended relational surface (SURVEY.md §2.3 "free built-ins": set ops,
# distinct, window functions, cube/rollup, pivot, approx aggregates)
# ---------------------------------------------------------------------------


@register(
    "distinct",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (hash-based dedup; map-side partial distinct before the
    shuffle — the dedup_exact primitive in relational form)."""
    return _read(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "set_ops",
    """
    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics; Spark plans it as a distinct + semi-join).
    UNION/EXCEPT share the same machinery (exercised in tests)."""
    orders = _read(spark, sf_dir, "orders")
    high = orders.where(F.col("o_totalprice") > 200000).select("o_custkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return high.intersect(urgent)


@register(
    "window_rank",
    """
    SELECT * FROM (
      SELECT n_name, c_custkey, c_acctbal,
             RANK() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS bal_rank
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) WHERE bal_rank <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function: top-3 customers by balance per nation —
    single shuffle on the partition key, per-partition sort, rank streamed."""
    from pyspark.sql import Window

    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    joined = R.join_inner(
        customer, nation, on=customer.c_nationkey == nation.n_nationkey, broadcast_right=True
    )
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        joined.select("n_name", "c_custkey", "c_acctbal", F.rank().over(w).alias("bal_rank"))
        .where(F.col("bal_rank") <= 3)
    )


@register(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders WHERE o_custkey <= 100
    """,
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window with an explicit ROWS frame: running per-customer
    spend in order-date order."""
    from pyspark.sql import Window

    orders = _read(spark, sf_dir, "orders").where(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "rollup",
    """
    SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
           COALESCE(l_linestatus, '<all>') AS l_linestatus,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (grouping-sets machinery; CUBE tested too).
    NULL group markers are coalesced to '<all>' on both sides so the hash
    can't confuse subtotal rows with genuine NULL keys."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


@register(
    "join_outer",
    """
    SELECT n.n_name, COUNT(s.s_suppkey) AS n_suppliers
    FROM nation n LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving unmatched dimension rows (nations with
    zero suppliers keep count 0 — COUNT(col) skips the NULL probe side).
    Same broadcast shape as join_inner; outer-ness only changes the
    unmatched-row emission."""
    n = _read(spark, sf_dir, "nation")
    s = _read(spark, sf_dir, "supplier")
    return (
        n.join(s, s["s_nationkey"] == n["n_nationkey"], "left_outer")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "grouping_sets",
    """
    SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
           COALESCE(l_linestatus, '<all>') AS l_linestatus,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither a rollup nor a cube): the two
    single-dimension marginals in one pass over the fact table."""
    li = _read(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
               COALESCE(l_linestatus, '<all>') AS l_linestatus,
               COUNT(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "cube",
    """
    SELECT COALESCE(o_orderstatus, '<all>') AS o_orderstatus,
           COALESCE(o_orderpriority, '<all>') AS o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 2^k grouping sets in one pass
    (partial aggregation per set; the shuffle carries one partial row per
    (task, group, set), same bound as agg_group x 4)."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("o_orderpriority"),
            "n",
            "sum_price",
        )
    )


@register(
    "window_lag_delta",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(o_totalprice - LAG(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2)
                AS DOUBLE) AS delta_price
    FROM orders
    WHERE o_custkey < 100
    """,
)
def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG with delta — the per-key time-series difference shape (one
    shuffle on the partition key, sort within partition; Spark's window
    frame state is one prior row)."""
    from pyspark.sql import Window

    o = _read(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    delta = F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2)
    return o.select(
        "o_custkey", "o_orderkey", delta.cast("double").alias("delta_price")
    )


@register(
    "window_sliding",
    """
    WITH w AS (
      SELECT event_type, value, epoch_us(ts) AS t,
             (CAST(floor(epoch_us(ts) / 1800000000) AS BIGINT) - k.k) * 1800000000 AS wstart_us
      FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k
    )
    SELECT strftime(make_timestamp(wstart_us), '%Y-%m-%dT%H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM w
    WHERE t >= wstart_us AND t < wstart_us + 7200000000
    GROUP BY 1, 2
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour window every 30 minutes (each event lands in
    size/slide = 4 windows) — the batch twin of the streaming sliding agg;
    Spark's ``window()`` replicates rows window-count times BEFORE the
    shuffle, so the exchange carries 4x the aggregate rows, not 4x the
    data columns."""
    from tdei_extract_load_service_spark.operators.relational import time_window_agg

    ev = _read_events(spark, sf_dir)
    out = time_window_agg(
        ev,
        "ts",
        "2 hours",
        {"n_events": F.count("*"), "total_value": F.round(F.sum("value"), 2)},
        slide="30 minutes",
        keys=("event_type",),
    )
    return out.select(
        TS.normalize_ts(F.col("window_start"), "yyyy-MM-dd'T'HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "join_range",
    """
    WITH iv AS (
      SELECT user_id, MIN(epoch_us(ts)) AS lo, MIN(epoch_us(ts)) + 7200000000 AS hi
      FROM events GROUP BY user_id
    )
    SELECT iv.user_id, COUNT(*) AS n_events, ROUND(SUM(e.value), 2) AS total_value
    FROM iv JOIN events e ON epoch_us(e.ts) >= iv.lo AND epoch_us(e.ts) < iv.hi
    GROUP BY iv.user_id
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unkeyed interval-containment join via bucketization: all events
    falling inside each user's first-activity 2-hour window. Equi-join on
    1-hour bucket ids + residual range predicate — work proportional to
    points + interval spans, never the cross product."""
    from tdei_extract_load_service_spark.operators.range_join import bucketed_range_join

    ev = _read_events(spark, sf_dir)
    hour_us = 3600 * 1_000_000
    pts = ev.select(F.unix_micros("ts").alias("p"), "value")
    iv = (
        ev.groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("lo"))
        .withColumn("hi", F.col("lo") + 2 * hour_us)
    )
    joined = bucketed_range_join(pts, iv, "p", "lo", "hi", bucket_width=hour_us)
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    )


@register(
    "sample_hash",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'r2'), 1, 8)) AS BIGINT) % 100 < 10
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by key hash — the reproducible train/eval
    split primitive (same row lands on the same side across engines,
    re-runs and partitionings, unlike rand()-based sampling). Narrow
    filter, no shuffle; the md5 predicate composes with column pruning."""
    from tdei_extract_load_service_spark.operators.sampling import hash_sample

    docs = _read(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", percent=10, seed="r2").select("doc_id", "lang")


@register(
    "sample_stratified",
    """
    SELECT lang, COUNT(*) AS n_kept
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's4'), 1, 8)) AS BIGINT) % 100
          < CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 100 ELSE 40 END
    GROUP BY lang
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling — downsample the dominant
    language (en -> 10%), keep all of a rare one (zh -> 100%), default
    40%: the class-rebalancing move of a training-mix pipeline, as a pure
    row-local hash predicate (no shuffle, no RNG, reproducible across
    engines/re-runs, unlike ``sampleBy``)."""
    from tdei_extract_load_service_spark.operators.sampling import (
        stratified_hash_sample,
    )

    docs = _read(spark, sf_dir, "documents")
    kept = stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 10, "zh": 100}, default_percent=40, seed="s4"
    )
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


@register(
    "sample_split",
    """
    SELECT split, COUNT(*) AS n FROM (
      SELECT CASE
        WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'eval' WHEN b < 100 THEN 'test'
      END AS split FROM (
        SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'r2'), 1, 8)) AS BIGINT) % 100 AS b
        FROM documents)
    ) GROUP BY split ORDER BY split
    """,
)
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint named train/eval/test splits by hash bucket with exact
    per-split counts — verifies both determinism and disjoint coverage."""
    from tdei_extract_load_service_spark.operators.sampling import hash_split

    docs = _read(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id", {"train": 80, "eval": 10, "test": 10}, seed="r2")
    return out.groupBy("split").agg(F.count("*").alias("n"))


@register(
    "corpus_shard_export",
    """
    WITH h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || 'epoch0') AS digest
      FROM documents
    ),
    s AS (
      SELECT doc_id, digest,
             CAST(CAST(('0x' || substr(digest, 1, 8)) AS BIGINT) % 8 AS INT) AS shard
      FROM h
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY digest ASC, doc_id ASC) AS INT) AS pos
    FROM s
    """,
)
def q_corpus_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffled-shard layout (operators/sampling.py
    shard_assign) — the final stage of a training-data pipeline: each
    document's shard (md5 bucket of the key, engine-portable hex-prefix
    parse) and its position within the shard under a seeded
    pseudo-random total order, so training reads shard files whose
    within-file order is a reproducible global shuffle (bump the seed
    per epoch for a fresh permutation — an epoch-level reshuffle moves
    shard membership too, by design). ONE hash
    exchange on the shard serves both the position window and a
    partitionBy(shard) sink; the oracle restates bucket, order and
    rank."""
    from tdei_extract_load_service_spark.operators.sampling import (
        shard_assign,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return shard_assign(docs, "doc_id", n_shards=8, seed="epoch0")


@register(
    "text_char_entropy",
    """
    WITH c AS (
      SELECT doc_id, ch, COUNT(*)::DOUBLE AS cnt
      FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS ch FROM documents)
      WHERE ch <> '' GROUP BY doc_id, ch
    )
    SELECT doc_id,
           ROUND(log2(SUM(cnt)) - SUM(cnt * log2(cnt)) / SUM(cnt), 6) AS char_entropy
    FROM c GROUP BY doc_id
    """,
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document — the gibberish/boilerplate
    quality signal (low entropy = repeated filler, high = encrypted/binary
    junk). One-pass identity ``H = log2(n) - Σ cnt·log2(cnt) / n`` avoids
    a self-join on totals; the (doc, char) pre-aggregation is map-side
    combined, so the shuffle carries ≤ |alphabet| rows per doc per task."""
    from tdei_extract_load_service_spark.operators.text import char_entropy

    docs = _read(spark, sf_dir, "documents")
    return char_entropy(docs, "doc_id", "text")


@register(
    "text_ngram_topk",
    """
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    grams AS (SELECT w FROM words WHERE w <> '')
    SELECT w AS token, COUNT(*) AS n
    FROM grams GROUP BY w
    ORDER BY n DESC, token ASC LIMIT 25
    """,
)
def q_text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k (the training-data 'most frequent tokens'
    report): explode -> partial-count per task -> one shuffled row per
    (task, token) -> TakeOrderedAndProject. The full token set never sits
    on one node."""
    docs = _read(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    return (
        words.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(25)
    )


@register(
    "pivot",
    """
    SELECT l_returnflag,
           ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS qty_open,
           ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT on an explicit value list (explicit values keep the plan a
    single pass — no distinct-values pre-query)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_returnflag",
            F.round(F.coalesce("O", F.lit(0.0)), 2).alias("qty_open"),
            F.round(F.coalesce("F", F.lit(0.0)), 2).alias("qty_filled"),
        )
    )


@register(
    "approx_distinct",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS approx_within_rsd
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the sketch path for
    count-distinct at 100 TB (fixed-size sketch vs shuffle of all distinct
    values).

    Error-bounded oracle: the HLL++ estimate itself is engine-specific, so
    the entry emits the *verification* — exact distinct count plus a boolean
    asserting |approx - exact| <= 3*rsd*exact (99.7% envelope at rsd=0.02;
    deterministic in practice: Spark's HLL++ is seed-free, so the estimate
    is reproducible run-to-run). The oracle states the exact count and that
    the bound must hold. At scale the exact column would be dropped; it is
    part of the verification contract here, not the production shape."""
    li = _read(spark, sf_dir, "lineitem")
    agg = R.agg_group(
        li,
        ["l_returnflag"],
        [
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.count("*").alias("n_rows"),
        ],
    )
    within = (
        F.abs(F.col("approx_parts") - F.col("exact_parts"))
        <= F.lit(3 * 0.02) * F.col("exact_parts")
    )
    # no final orderBy — order-insensitive compare; sampling would rerun
    # the double aggregation over lineitem
    return agg.select(
        "l_returnflag", "n_rows", "exact_parts", within.alias("approx_within_rsd")
    )


@register(
    "join_skew_salted",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment ASC
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salting certified as semantics-preserving
    (operators/skew.py salted_join): orders scattered over 8 salts of
    its primary key joins the 8x-replicated customer dim on
    (custkey, salt); the oracle is the PLAIN join — the rewrite must be
    invisible in the result. Companion to salted_agg (r4) and
    tests/test_skew.py: this is the join half of the engine's
    hot-key playbook, for mid-size dims AQE's SMJ-only skew split
    can't rescue."""
    from tdei_extract_load_service_spark.operators.skew import salted_join

    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        customer,
        on=["c_custkey"],
        salt_by=["o_orderkey"],
        n_salts=8,
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast(
                    "double"
                ),
                2,
            ).alias("total_price"),
        )
        .orderBy(F.col("c_mktsegment").asc())
    )


@register(
    "scd2_history",
    """
    WITH s AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderstatus) OVER w IS NOT DISTINCT FROM o_orderstatus
                  THEN 0 ELSE 1 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    ),
    r AS (
      SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate ASC, o_orderkey ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS island
      FROM s
    ),
    c AS (
      SELECT o_custkey, island,
             min(o_orderstatus) AS o_orderstatus,
             min(o_orderdate) AS vf,
             count(*) AS n_obs
      FROM r GROUP BY o_custkey, island
    )
    SELECT o_custkey, o_orderstatus,
           strftime(vf, '%Y-%m-%d') AS valid_from,
           strftime(lead(vf) OVER (PARTITION BY o_custkey
                                    ORDER BY vf ASC, island ASC),
                    '%Y-%m-%d') AS valid_to,
           n_obs
    FROM c
    ORDER BY o_custkey ASC, valid_from ASC
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 reconstruction (operators/scd.py scd2_intervals): the
    historical dual of the reference's latest-only overwrite_by_key sink
    (sinks/writers.py; extract-load-service.ts delete-then-reload keeps
    no history) — per-customer order-status runs collapsed to validity
    intervals via the gaps-and-islands recurrence (lag change flags ->
    running-sum island ids -> lead interval close). o_orderkey breaks
    same-day ties so runs are a total order; NULL valid_to = current
    row."""
    from tdei_extract_load_service_spark.operators.scd import scd2_intervals

    orders = _read(spark, sf_dir, "orders")
    out = scd2_intervals(
        orders,
        ["o_custkey"],
        "o_orderdate",
        "o_orderstatus",
        tiebreak_cols=["o_orderkey"],
    )
    sel = out.select(
        "o_custkey",
        "o_orderstatus",
        TS.normalize_ts("valid_from", "yyyy-MM-dd").alias("valid_from"),
        TS.normalize_ts("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "n_obs",
    )
    # sort_boundary: the gaps-and-islands window stack is the final
    # stage — materialize it so the range sampler doesn't re-run the
    # three windows (guide §2.4)
    return sort_boundary(sel, "o_custkey", "valid_from").orderBy(
        F.col("o_custkey").asc(), F.col("valid_from").asc()
    )


@register(
    "temporal_join",
    """
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
                  THEN 0 ELSE 1 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    r AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS island
      FROM s
    ),
    c AS (
      SELECT user_id, island, min(event_type) AS status,
             min(ts) AS vf, count(*) AS n_obs
      FROM r GROUP BY user_id, island
    ),
    d AS (
      SELECT user_id, status, vf AS valid_from,
             lead(vf) OVER (PARTITION BY user_id ORDER BY vf ASC, island ASC)
               AS valid_to
      FROM c
    )
    SELECT e.event_id, e.user_id, e.event_type,
           d.status AS status_1h_ago,
           strftime(d.valid_from, '%Y-%m-%dT%H:%M:%S') AS version_from
    FROM events e JOIN d ON e.user_id = d.user_id
      AND e.ts - INTERVAL 1 HOUR >= d.valid_from
      AND (d.valid_to IS NULL OR e.ts - INTERVAL 1 HOUR < d.valid_to)
    ORDER BY e.event_id ASC
    """,
)
def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup (operators/scd.py temporal_join over
    scd2_intervals): for every event, the event_type REGIME its user
    was in one hour earlier — the fact-to-SCD2-version join the
    latest-only reference sinks cannot answer (overwrite_by_key keeps
    no history). Dimension = per-user event_type runs (gaps-and-islands
    on (ts, event_id)); fact timestamp = ts - 1h; facts predating the
    user's first observation drop (inner). The oracle derives the same
    intervals through the textbook recurrence and joins with the raw
    BETWEEN predicate — the equi-key + residual decomposition is
    Spark-side only. Timestamps stay NTZ end-to-end; rendering via
    normalize_ts."""
    from tdei_extract_load_service_spark.operators.scd import (
        scd2_intervals,
        temporal_join,
    )

    ev = _read_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    dim = scd2_intervals(
        ev, ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"]
    ).select(
        "user_id",
        F.col("event_type").alias("status"),
        "valid_from",
        "valid_to",
    )
    facts = ev.withColumn("lookup_ts", F.expr("ts - INTERVAL 1 HOUR"))
    joined = temporal_join(facts, dim, ["user_id"], "lookup_ts")
    out = joined.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("status").alias("status_1h_ago"),
        TS.normalize_ts("valid_from", "yyyy-MM-dd'T'HH:mm:ss").alias(
            "version_from"
        ),
    )
    # sort_boundary: the point-in-time join residual (facts x per-user
    # version list) is the expensive final stage — without the boundary
    # the range sampler re-executes it (r13: 1.78 -> 1.30s at sf0.1)
    return sort_boundary(out, "event_id").orderBy(F.col("event_id").asc())


@register(
    "join_bucketed",
    """
    SELECT c.c_custkey, c.c_name, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE),
                 2) AS total_price
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY c.c_custkey ASC
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join (operators/bucketed.py): customer
    and orders are materialized ONCE as bucketed tables hash-clustered
    by custkey into the same bucket count, so the join AND the
    per-customer aggregation run with ZERO hash exchanges — the scans
    themselves carry HashPartitioning (plan_audit asserts `Bucketed:
    true` and no hashpartitioning exchange; the only exchange left is
    the output ORDER BY's range partitioning). hint("merge") pins the
    strategy the layout exists for: at 100 TB both sides are fact-sized
    and broadcast is impossible — at audit scale the planner would
    otherwise broadcast and hide the layout. The oracle is the PLAIN
    join: bucketing must not change results, only the plan."""
    import os

    from tdei_extract_load_service_spark.operators.bucketed import (
        bucketed_table,
    )

    key = f"{sf_dir}:{os.path.getmtime(os.path.join(sf_dir, 'orders.parquet'))}"
    cust = bucketed_table(
        spark,
        _read(spark, sf_dir, "customer").select("c_custkey", "c_name"),
        "customer",
        ["c_custkey"],
        8,
        key,
    )
    orders = bucketed_table(
        spark,
        _read(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        "orders",
        ["o_custkey"],
        8,
        key,
    )
    return (
        cust.hint("merge")
        .join(orders, cust["c_custkey"] == orders["o_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast(
                    "double"
                ),
                2,
            ).alias("total_price"),
        )
        .orderBy(F.col("c_custkey").asc())
    )


@register(
    "referential_audit",
    """
    SELECT * FROM (
      SELECT 'customer.nationkey->nation' AS relationship,
             (SELECT COUNT(*) FROM customer) AS n_child,
             (SELECT COUNT(*) FROM customer c LEFT JOIN nation n
                ON c.c_nationkey = n.n_nationkey
              WHERE n.n_nationkey IS NULL) AS n_orphans
      UNION ALL
      SELECT 'events.user_id->customer',
             (SELECT COUNT(*) FROM events),
             (SELECT COUNT(*) FROM events e LEFT JOIN customer c
                ON e.user_id = c.c_custkey
              WHERE c.c_custkey IS NULL)
      UNION ALL
      SELECT 'lineitem.orderkey->orders',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
                ON l.l_orderkey = o.o_orderkey
              WHERE o.o_orderkey IS NULL)
      UNION ALL
      SELECT 'orders.custkey->customer',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
                ON o.o_custkey = c.c_custkey
              WHERE c.c_custkey IS NULL)
    ) t ORDER BY relationship ASC
    """,
)
def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the warehouse data-quality sweep:
    for each declared FK relationship, total child rows and the number
    of ORPHANS (child keys with no parent). The reference enforces FKs
    transactionally per load (O16/O21: 23503 foreign-key errors,
    extract-load-service.ts); a lake has no enforcing database, so the
    audit IS the integrity mechanism. Each relationship is one
    LEFT ANTI join aggregated to a single row (AQE broadcasts the
    parent side where it is small); the four one-row frames union —
    nothing wider than a count ever moves. The oracle derives orphans
    through LEFT JOIN ... IS NULL, so the anti-join decorrelation is
    independently checked."""
    rels = [
        (
            "customer.nationkey->nation",
            _read(spark, sf_dir, "customer").select(
                F.col("c_nationkey").alias("k")
            ),
            _read(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("k")
            ),
        ),
        (
            "events.user_id->customer",
            _read_events(spark, sf_dir).select(F.col("user_id").alias("k")),
            _read(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("k")
            ),
        ),
        (
            "lineitem.orderkey->orders",
            _read(spark, sf_dir, "lineitem").select(
                F.col("l_orderkey").alias("k")
            ),
            _read(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("k")
            ),
        ),
        (
            "orders.custkey->customer",
            _read(spark, sf_dir, "orders").select(
                F.col("o_custkey").alias("k")
            ),
            _read(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("k")
            ),
        ),
    ]
    parts = []
    for name, child, parent in rels:
        totals = child.agg(F.count("*").alias("n_child"))
        orphans = child.join(parent, "k", "left_anti").agg(
            F.count("*").alias("n_orphans")
        )
        # 1-row x 1-row scalar combine (the Q22/Q15 precedent)
        parts.append(
            totals.crossJoin(orphans).select(
                F.lit(name).alias("relationship"), "n_child", "n_orphans"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(F.col("relationship").asc())


@register(
    "join_fuzzy",
    """
    WITH dirty AS (
      SELECT c_custkey AS dirty_key,
             concat(substring(c_name, 1,
                              CAST(c_custkey % length(c_name) AS INT)),
                    'x',
                    substring(c_name,
                              CAST(c_custkey % length(c_name) AS INT) + 2))
               AS dirty_name
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT d.dirty_key, c.c_custkey AS clean_key,
           d.dirty_name, c.c_name,
           levenshtein(d.dirty_name, c.c_name) AS dist
    FROM dirty d, customer c
    WHERE levenshtein(d.dirty_name, c.c_name) <= 1
    ORDER BY dirty_key ASC, clean_key ASC
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (operators/fuzzy.py fuzzy_join_blocked):
    resolve deterministically-corrupted customer names (one character
    replaced at a key-derived position, every third customer) back to
    the clean dimension within levenshtein 1 — WITHOUT the cross
    product: both sides explode their SymSpell one-deletion
    signatures, candidates come from an equi join on the signature,
    and levenshtein verifies only candidates. The ORACLE is the
    textbook quadratic form (cross join + levenshtein filter), so the
    blocking's completeness is independently checked — any pair the
    signatures miss fails the hash compare. Both engines build the
    corruption with identical substring arithmetic and agree on
    levenshtein (unit-cost ins/del/sub)."""
    from tdei_extract_load_service_spark.operators.fuzzy import (
        fuzzy_join_blocked,
    )

    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    corrupt = F.expr(
        "concat(substring(c_name, 1,"
        " CAST(c_custkey % length(c_name) AS INT)), 'x',"
        " substring(c_name,"
        " CAST(c_custkey % length(c_name) AS INT) + 2))"
    )
    dirty = cust.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("dirty_key"),
        corrupt.alias("dirty_name"),
    )
    out = fuzzy_join_blocked(
        dirty, cust, "dirty_key", "c_custkey", "dirty_name", "c_name"
    )
    sel = out.select(
        "dirty_key",
        F.col("c_custkey").alias("clean_key"),
        "dirty_name",
        "c_name",
        "dist",
    )
    # sort_boundary: the signature equi-join + levenshtein verify is the
    # expensive final stage — materialize it so the range sampler reads
    # shuffle files instead of re-running the verify (guide §2.4)
    return sort_boundary(sel, "dirty_key", "clean_key").orderBy(
        F.col("dirty_key").asc(), F.col("clean_key").asc()
    )


@register(
    "graph_pagerank",
    """
    WITH e AS (
      SELECT DISTINCT l_suppkey AS src, 1000000 + l_partkey AS dst
      FROM lineitem
      UNION
      SELECT DISTINCT 1000000 + l_partkey AS src, l_suppkey AS dst
      FROM lineitem
    ),
    d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM d),
    c AS (SELECT ((15 * 1000000000000) // 100) // (SELECT n FROM nn)
            AS base_fp,
          1000000000000 // (SELECT n FROM nn) AS init_fp),
    r0 AS (SELECT src AS node, (SELECT init_fp FROM c) AS r FROM d),
    r1 AS (
      SELECT e.dst AS node,
             (SELECT base_fp FROM c) + (85 * SUM(r0.r // d.deg)) // 100 AS r
      FROM e JOIN d ON e.src = d.src JOIN r0 ON r0.node = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             (SELECT base_fp FROM c) + (85 * SUM(r1.r // d.deg)) // 100 AS r
      FROM e JOIN d ON e.src = d.src JOIN r1 ON r1.node = e.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node,
             (SELECT base_fp FROM c) + (85 * SUM(r2.r // d.deg)) // 100 AS r
      FROM e JOIN d ON e.src = d.src JOIN r2 ON r2.node = e.src
      GROUP BY e.dst
    )
    SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3 ORDER BY node ASC
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three damped PageRank iterations (operators/graph.py pagerank)
    over the undirected supplier-part purchase graph (distinct
    lineitem pairs, both orientations; part ids offset by 1e6 into a
    shared node space). Ranks are FIXED-POINT BIGINTs (units of 1e-12):
    the whole recurrence is integer joins/sums/DIVs, so both engines
    are bit-identical by construction — the double-rounding first cut
    diverged at ROUND(x,12) knife edges (shortest-repr vs exact-binary
    rounding), which fixed-point removes along with any run-to-run
    float-order sensitivity a 1000-executor rerun would add. The
    ORACLE unrolls the identical three iterations as chained CTEs — an
    independent derivation of the same recurrence. The Spark side is
    the production shape the SQL cannot be at depth k: a driver loop
    whose per-iteration frame is persisted and whose predecessor is
    released, keeping lineage one iteration deep."""
    from tdei_extract_load_service_spark.operators.graph import pagerank

    li = _read(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    fwd = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000000) + F.col("l_partkey")).alias("dst"),
    )
    # dedup INSIDE the src-partitioned layout the operator needs:
    # HashPartitioning(src) satisfies the (src,dst) distinct's clustered
    # distribution, so the whole edge build — dedup, out-degrees, degree
    # join — rides ONE exchange (r11; the distinct-then-repartition form
    # paid two, and the r10 operator four). src_partitioned=True tells
    # pagerank not to re-exchange.
    n_part = spark.sparkContext.defaultParallelism
    edges = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(n_part, F.col("src"))
        .dropDuplicates(["src", "dst"])
    )
    out = pagerank(
        edges, "src", "dst", damping=0.85, iterations=3, src_partitioned=True
    )
    return out.orderBy(F.col("node").asc())


@register(
    "window_percentiles",
    """
    SELECT o_orderkey, o_orderpriority,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice ASC, o_orderkey ASC)
    ORDER BY o_orderkey ASC
    """,
)
def q_window_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional window functions — percent_rank / cume_dist /
    ntile per priority class, the ranking trio the window suite
    (window_rank/running_sum/lag_delta/range_frame) didn't yet cover.
    The ORDER BY is made total with the primary key so tie handling
    cannot differ between engines; percent_rank and cume_dist are
    rational (rank-1)/(n-1) and rank/n values — identical doubles both
    engines, ROUND 6 for rendering. One hash exchange on the partition
    key, same single-partitioning shape as the rest of the suite."""
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    sel = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )
    # sort_boundary: the ranking window is the final stage above the
    # priority exchange — without the boundary the range sampler runs
    # the whole window pass twice (guide §2.4)
    return sort_boundary(sel, "o_orderkey").orderBy(F.col("o_orderkey").asc())


@register(
    "key_skew_profile",
    """
    WITH c AS (
      SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ),
    m AS (
      SELECT COUNT(*) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             MAX(cnt) AS max_cnt,
             CAST(SUM(CAST(cnt*cnt AS DECIMAL(28,6))) AS DOUBLE) AS s2
      FROM c
    ),
    t AS (SELECT MIN(k) AS top_key FROM c
          WHERE cnt = (SELECT max_cnt FROM m)),
    h AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS hot_rows FROM c
          WHERE cnt * (SELECT n_keys FROM m) > 2 * (SELECT n_rows FROM m))
    SELECT m.n_keys, m.n_rows, m.max_cnt, t.top_key,
           ROUND(CAST(m.n_rows AS DOUBLE) / m.n_keys, 6) AS avg_cnt,
           ROUND(CAST(m.max_cnt AS DOUBLE)
                 / (CAST(m.n_rows AS DOUBLE) / m.n_keys), 6) AS skew_ratio,
           ROUND(sqrt(m.s2 / m.n_keys
                      - (CAST(m.n_rows AS DOUBLE) / m.n_keys)
                        * (CAST(m.n_rows AS DOUBLE) / m.n_keys))
                 / (CAST(m.n_rows AS DOUBLE) / m.n_keys), 6) AS cv,
           h.hot_rows
    FROM m, t, h
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation-key skew diagnostics — the measurement half of
    the hot-key playbook whose mitigation half is salted_agg /
    salted_join (operators/skew.py): per-key counts collapsed to one
    profile row with max/avg skew ratio, the coefficient of variation
    of key populations (integer moments — exact), the hottest key, and
    the row mass sitting on keys >2x the average (the ones a salting
    pass should scatter). At 100 TB this one cheap aggregate decides
    whether the downstream join needs the salted plan. The counts
    frame is persisted: three derivations (moments, argmax, hot mass)
    read the |keys|-row cache, the fact table is scanned once.
    Integer-only moments (cnt, cnt^2 as DECIMAL) keep both engines
    bit-identical; the hot-key threshold is cross-multiplied
    (cnt * n_keys > 2 * n_rows) so no division touches the filter."""
    from tdei_extract_load_service_spark.session import persist_scoped

    counts = persist_scoped(
        _read(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("cnt")),
        "catalog.key_skew_profile.counts",
    )
    m = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.sum((F.col("cnt") * F.col("cnt")).cast("decimal(28,6)"))
        .cast("double")
        .alias("s2"),
    )
    t = (
        counts.join(
            F.broadcast(m.select("max_cnt")),
            counts["cnt"] == F.col("max_cnt"),
        )
        .agg(F.min("k").alias("top_key"))
    )
    h = (
        counts.crossJoin(F.broadcast(m.select("n_keys", "n_rows")))
        .where(F.col("cnt") * F.col("n_keys") > 2 * F.col("n_rows"))
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("hot_rows"))
    )
    avg = F.col("n_rows").cast("double") / F.col("n_keys")
    return (
        m.crossJoin(t)
        .crossJoin(h)
        .select(
            "n_keys",
            "n_rows",
            "max_cnt",
            "top_key",
            F.round(avg, 6).alias("avg_cnt"),
            F.round(F.col("max_cnt").cast("double") / avg, 6).alias(
                "skew_ratio"
            ),
            F.round(
                F.sqrt(F.col("s2") / F.col("n_keys") - avg * avg) / avg, 6
            ).alias("cv"),
            "hot_rows",
        )
    )


@register(
    "sample_split_grouped",
    """
    WITH s AS (
      SELECT source,
             CASE
               WHEN CAST(('0x' || substr(md5(source || 'r8'), 1, 8)) AS BIGINT)
                    % 100 < 80 THEN 'train'
               WHEN CAST(('0x' || substr(md5(source || 'r8'), 1, 8)) AS BIGINT)
                    % 100 < 90 THEN 'eval'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT split, source, COUNT(*) AS n
    FROM s GROUP BY split, source
    ORDER BY split ASC, source ASC
    """,
)
def q_sample_split_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/eval/test split — the leakage-safe form of
    sample_split: the fold is a hash of the GROUP key (source), not the
    row key, so every document of a source lands in the same fold and
    near-duplicate rows within a source can never straddle train/test
    (the contamination channel row-hash splits leave open; cf. the
    text_contamination entry for the cross-corpus version). The output
    itself exhibits the guarantee — grouping by (split, source), each
    source appears under exactly one split — and pytest pins it. Same
    md5-bucket determinism as sample_split (operators/sampling.py
    hash_split applied to the group column); no shuffle beyond the
    output aggregation."""
    from tdei_extract_load_service_spark.operators.sampling import hash_split

    docs = _read(spark, sf_dir, "documents")
    out = hash_split(
        docs, "source", {"train": 80, "eval": 10, "test": 10}, seed="r8"
    )
    return (
        out.groupBy("split", "source")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("split").asc(), F.col("source").asc())
    )


@register(
    "events_attribution",
    """
    WITH p AS (
      SELECT user_id, ts AS pts, event_id AS pid, value
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts AS vts, event_id AS vid
      FROM events WHERE event_type = 'view'
    ),
    j AS (
      SELECT p.pid, p.value, v.vid,
             COUNT(*) OVER (PARTITION BY p.pid) AS n_touch
      FROM p JOIN v ON p.user_id = v.user_id
        AND v.vts <= p.pts AND v.vts > p.pts - INTERVAL 3 DAY
    )
    SELECT vid AS view_id,
           COUNT(*) AS n_purchases,
           ROUND(CAST(SUM(CAST(ROUND(value / n_touch, 6)
                                AS DECIMAL(18,6))) AS DOUBLE), 4) AS credit
    FROM j GROUP BY vid ORDER BY view_id ASC
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — each purchase's value is split
    equally across the user's views in the 3 days before it, and every
    view accumulates its credit (the marketing-analytics staple that
    composes the engine's interval-join and window shapes into a money
    number). Cross-engine exactness: per-touch credit is ONE double
    division then ROUND 6 -> DECIMAL sum (order-free); the touch count
    is a purchase-partitioned window on the joined frame, so no second
    aggregation pass over the join. Scale: equi join on user_id with
    the time residual (same shape as temporal_join/interval_join),
    never a time-only join."""
    from pyspark.sql import Window

    ev = _read_events(spark, sf_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
        "value",
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("ts").alias("vts"),
        F.col("event_id").alias("vid"),
    )
    j = p.join(
        v,
        (F.col("pu") == F.col("vu"))
        & (F.col("vts") <= F.col("pts"))
        & (F.col("vts") > F.expr("pts - INTERVAL 3 DAY")),
    )
    n_touch = F.count("*").over(Window.partitionBy("pid"))
    credited = j.withColumn(
        "credit",
        F.round(F.col("value") / n_touch, 6).cast("decimal(18,6)"),
    )
    agg = (
        credited.groupBy(F.col("vid").alias("view_id"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("credit").cast("double"), 4).alias("credit"),
        )
    )
    # sort_boundary: the attribution join + final agg is the final
    # stage (r13)
    return (
        sort_boundary(agg, "view_id")
        .orderBy(F.col("view_id").asc())
    )


@register(
    "heavy_hitters",
    """
    WITH c AS (
      SELECT event_type AS key, COUNT(*) AS cnt FROM events GROUP BY event_type
    ),
    m AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
    SELECT key, cnt, ROUND(CAST(cnt AS DOUBLE) / m.n, 6) AS support
    FROM c, m
    WHERE cnt * 5 > m.n
    ORDER BY cnt DESC, key ASC
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-frequent keys (phi = 1/5): the event types claiming
    strictly more than a fifth of the stream — the exact answer the
    one-pass SpaceSaving/Misra-Gries sketches approximate, bounded at
    k-1 rows by the pigeonhole argument (operators/profiling.py
    heavy_hitters). One map-side-combined count agg is the only fact
    shuffle; the threshold is cross-multiplied BIGINT (cnt*5 > N), the
    support share one exact-integer double division. On the fixture the
    near-uniform five types split non-trivially around the 20% line."""
    from tdei_extract_load_service_spark.operators.profiling import (
        heavy_hitters,
    )

    return heavy_hitters(_read_events(spark, sf_dir), "event_type", k=5)


@register(
    "join_size_estimate",
    """
    WITH a AS (
      SELECT l_orderkey AS k, COUNT(*) AS ca FROM lineitem GROUP BY l_orderkey
    ),
    b AS (
      SELECT o_orderkey AS k, COUNT(*) AS cb FROM orders GROUP BY o_orderkey
    ),
    j AS (SELECT a.ca, b.cb FROM a FULL JOIN b USING (k)),
    agg AS (
      SELECT COUNT(ca) AS n_keys_left,
             COUNT(cb) AS n_keys_right,
             COUNT(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 END)
               AS n_match_keys,
             CAST(COALESCE(SUM(CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0))), 0) AS BIGINT)
               AS est_rows,
             CAST(COALESCE(MAX(CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0))), 0) AS BIGINT)
               AS max_key_pairs
      FROM j
    )
    SELECT n_keys_left, n_keys_right, n_match_keys, est_rows, max_key_pairs,
           CASE WHEN est_rows > 0
                THEN ROUND(CAST(max_key_pairs AS DOUBLE) / est_rows, 6)
                ELSE 0.0 END AS top_share
    FROM agg
    """,
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join output-cardinality prediction WITHOUT running the join
    (operators/skew.py join_size_estimate): |lineitem JOIN orders| =
    SUM over keys of cntL*cntR — exact, computed from two |keys|-row
    count aggregations and one full-outer key join; no fact-sized
    shuffle ever happens. The planning primitive that decides whether a
    100 TB join explodes (and whether the explosion is one hot key —
    top_share — or everywhere) before committing a cluster to it.
    Products are BIGINT summed as DECIMAL(38,0) (order-independent),
    the only double is the final share division."""
    from tdei_extract_load_service_spark.operators.skew import (
        join_size_estimate,
    )

    return join_size_estimate(
        _read(spark, sf_dir, "lineitem"),
        _read(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
    )


@register(
    "zorder_range_scan",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 256 AND 1023
      AND CAST(FLOOR(o_totalprice) AS BIGINT) BETWEEN 50000 AND 150000
    ORDER BY o_orderkey
    """,
)
def q_zorder_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D range slice served from a z-order (Morton) clustered layout
    (operators/zorder.py): orders written ONCE partitioned by the
    interleaved (custkey-bucket, price-bucket) directory id, then the
    (customer range x price range) rectangle reads ONLY the directories
    whose Morton cells intersect it — driver-side integer enumeration
    over the bounded bucket grid becomes an IN filter Spark turns into
    directory pruning (PartitionFilters, plan-audited), with the exact
    residual range predicate pushed into the scan. Value-identical to
    the plain range query the oracle runs on the unclustered table: the
    layout is an access path, never semantics. Price enters the grid as
    FLOOR(...) AS BIGINT because double->BIGINT casts truncate on Spark
    but round on DuckDB. The Delta/Iceberg ZORDER BY idea with nothing
    but integer arithmetic + partitionBy."""
    import os as _os

    from tdei_extract_load_service_spark.operators.zorder import (
        ZorderSpec,
        build_zorder_layout,
        zorder_range_scan,
    )

    spec = ZorderSpec(
        a_col="o_custkey",
        b_col="CAST(FLOOR(o_totalprice) AS BIGINT)",
        a_lo=0,
        a_hi=16383,
        b_lo=0,
        b_hi=524287,
        bits=5,
        dir_shift=4,
    )
    src = _os.path.join(sf_dir, "orders.parquet")
    st = _os.stat(src)
    path = build_zorder_layout(
        _read(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        spec,
        corpus_key=f"{src}:{st.st_size}:{st.st_mtime_ns}",
    )
    return zorder_range_scan(
        spark, path, spec, 256, 1023, 50000, 150000
    ).orderBy(F.col("o_orderkey").asc())


@register(
    "graph_triangles",
    """
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e0 e1
      JOIN e0 e2 ON e1.v = e2.u
      JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, COUNT(*) AS n_triangles FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) GROUP BY node ORDER BY node ASC
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph (parts
    sharing an order; endpoint sample ``l_partkey % 3 = 0`` scopes the
    demo graph the way join_fuzzy scopes its dirty side — the operator
    itself is corpus-general). Spark runs DEGREE-ORDERED edge
    orientation (operators/graph.py triangle_counts — wedges rooted
    only at the minimum-degree vertex, out-degrees bounded O(sqrt m)
    regardless of hub skew); the ORACLE derives the identical counts
    through the INDEPENDENT id-ordered a<b<c triple join, so the
    orientation machinery is value-certified, not just row-counted."""
    from tdei_extract_load_service_spark.operators.graph import triangle_counts

    li = (
        _read(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") % 3 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    return triangle_counts(edges, "u", "v").orderBy(F.col("node").asc())


@register(
    "dq_expectations",
    """
    WITH m AS (
      SELECT COUNT(*) AS n,
             COUNT(o_orderkey) AS nn_key,
             COUNT(DISTINCT o_orderkey) AS nd_key,
             SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
                                               '4-NOT SPECIFIED','5-LOW')
                      THEN 1 ELSE 0 END) AS acc_pri,
             SUM(CASE WHEN o_orderstatus IN ('F','O') THEN 1 ELSE 0 END) AS acc_status,
             SUM(CASE WHEN o_totalprice BETWEEN 1000 AND 300000
                      THEN 1 ELSE 0 END) AS in_range
      FROM orders
    )
    SELECT rule, kind, metric_fp, threshold_fp, passed FROM (
      SELECT 'orderkey_not_null' AS rule, 'not_null' AS kind,
             CAST((1000000 * nn_key) // n AS BIGINT) AS metric_fp,
             CAST(1000000 AS BIGINT) AS threshold_fp,
             (1000000 * nn_key) // n >= 1000000 AS passed FROM m
      UNION ALL
      SELECT 'orderkey_unique', 'unique',
             CAST((1000000 * nd_key) // n AS BIGINT), CAST(1000000 AS BIGINT),
             (1000000 * nd_key) // n >= 1000000 FROM m
      UNION ALL
      SELECT 'priority_accepted', 'accepted_values',
             CAST((1000000 * acc_pri) // n AS BIGINT), CAST(1000000 AS BIGINT),
             (1000000 * acc_pri) // n >= 1000000 FROM m
      UNION ALL
      SELECT 'status_strict', 'accepted_values',
             CAST((1000000 * acc_status) // n AS BIGINT), CAST(1000000 AS BIGINT),
             (1000000 * acc_status) // n >= 1000000 FROM m
      UNION ALL
      SELECT 'totalprice_range', 'between',
             CAST((1000000 * in_range) // n AS BIGINT), CAST(500000 AS BIGINT),
             (1000000 * in_range) // n >= 500000 FROM m
      UNION ALL
      SELECT 'row_count', 'row_count_between',
             CAST(n AS BIGINT), CAST(100 AS BIGINT),
             n BETWEEN 100 AND 10000000000 FROM m
    ) ORDER BY rule ASC
    """,
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (operators/
    profiling.py dq_check — the Deequ/Great-Expectations contract-check
    idiom): six rules over orders, ALL metrics from ONE aggregation
    pass (T rules over 100 TB = one scan, not T scans), reported in
    exact integer micro-units with per-rule verdicts. ``status_strict``
    is deliberately failing ('P' exists beyond the accepted F/O set) so
    the FALSE arm of the verdict is value-certified, not just the happy
    path. Generalizes referential_audit's lake-side enforcement stance
    (no database to reject bad loads -> the audit IS the contract)
    from FKs to arbitrary column expectations."""
    from tdei_extract_load_service_spark.operators.profiling import dq_check

    return dq_check(
        _read(spark, sf_dir, "orders"),
        [
            {"rule": "orderkey_not_null", "kind": "not_null", "col": "o_orderkey"},
            {"rule": "orderkey_unique", "kind": "unique", "col": "o_orderkey"},
            {
                "rule": "priority_accepted",
                "kind": "accepted_values",
                "col": "o_orderpriority",
                "values": [
                    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
                ],
            },
            {
                "rule": "status_strict",
                "kind": "accepted_values",
                "col": "o_orderstatus",
                "values": ["F", "O"],
            },
            {
                "rule": "totalprice_range",
                "kind": "between",
                "col": "o_totalprice",
                "lo": 1000,
                "hi": 300000,
                "min_ratio": 0.5,
            },
            {
                "rule": "row_count",
                "kind": "row_count_between",
                "lo": 100,
                "hi": 10_000_000_000,
            },
        ],
    )


@register(
    "anonymize_k",
    """
    SELECT c_custkey, c_nationkey, c_mktsegment, bal_band, eq_class_n
    FROM (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                            CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
               AS eq_class_n
      FROM customer
    ) WHERE eq_class_n >= 5
    ORDER BY c_custkey ASC
    """,
)
def q_anonymize_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release (operators/privacy.py k_anonymize):
    generalize the exact balance to a 1000-unit band, then suppress
    every row whose (nation, segment, band) equivalence class holds
    fewer than k=5 records — the structured-data dual of text_pii_scrub
    (free-text identifiers there, quasi-identifier re-identification
    here). Class sizes ride ONE window count (a single quasi-key
    shuffle, no groupBy+join-back); the custkey is retained solely as
    the verification row id — a real release drops direct identifiers.
    The oracle restates the window+filter; eq_class_n traveling in the
    output value-certifies the class accounting, not just the survivor
    set."""
    from tdei_extract_load_service_spark.operators.privacy import k_anonymize

    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    out = k_anonymize(
        cust.withColumn(
            "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).drop("c_acctbal"),
        ["c_nationkey", "c_mktsegment", "bal_band"],
        k=5,
    )
    sel = out.select(
        "c_custkey", "c_nationkey", "c_mktsegment", "bal_band", "eq_class_n"
    )
    # sort_boundary: the equivalence-class window is the final stage (r13)
    return sort_boundary(sel, "c_custkey").orderBy(F.col("c_custkey").asc())


@register(
    "anonymize_l_diversity",
    """
    WITH rel AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             c_custkey
      FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                                 CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) AS n
        FROM customer
      ) WHERE n >= 5
    )
    SELECT c_nationkey, c_mktsegment, bal_band,
           COUNT(*) AS n_records,
           COUNT(DISTINCT c_custkey % 7) AS n_sensitive,
           COUNT(DISTINCT c_custkey % 7) >= 3 AS diverse
    FROM rel
    GROUP BY c_nationkey, c_mktsegment, bal_band
    """,
)
def q_anonymize_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit OVER the k-anonymized release
    (operators/privacy.py l_diversity_audit): per equivalence class, the
    count of DISTINCT sensitive values (here a synthetic 7-way attribute
    derived from the row id) and whether it reaches l=3 — the
    homogeneity-attack check a k-anonymous release still needs (a class
    where everyone shares one diagnosis leaks it at any k). Composes the
    certified anonymize_k pipeline with ONE further aggregation on the
    quasi key — at scale the window exchange and this groupBy share the
    same hash partitioning, so the audit costs one extra partial agg,
    not a second shuffle of the release."""
    from tdei_extract_load_service_spark.operators.privacy import (
        k_anonymize,
        l_diversity_audit,
    )

    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    released = k_anonymize(
        cust.withColumn(
            "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).drop("c_acctbal"),
        ["c_nationkey", "c_mktsegment", "bal_band"],
        k=5,
    ).withColumn("sensitive", F.col("c_custkey") % 7)
    return l_diversity_audit(
        released, ["c_nationkey", "c_mktsegment", "bal_band"], "sensitive", l=3
    )


@register(
    "anonymize_t_closeness",
    """
    WITH rel AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             c_custkey % 7 AS s
      FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                                 CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) AS n
        FROM customer
      ) WHERE n >= 5
    ),
    cell AS (
      SELECT c_nationkey, c_mktsegment, bal_band, s, COUNT(*) AS c
      FROM rel GROUP BY 1, 2, 3, 4
    ),
    g AS (SELECT s, SUM(c) AS g FROM cell GROUP BY 1),
    scal AS (SELECT SUM(g) AS N, COUNT(*) AS m FROM g),
    cls AS (
      SELECT c_nationkey, c_mktsegment, bal_band, SUM(c) AS n_c
      FROM cell GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.bal_band, cls.n_c,
             g.s, g.g, COALESCE(cell.c, 0) AS c
      FROM cls CROSS JOIN g
      LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
                    AND cell.c_mktsegment = cls.c_mktsegment
                    AND cell.bal_band = cls.bal_band AND cell.s = g.s
    ),
    cum AS (
      SELECT *,
             SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band
                          ORDER BY s) AS cum_c,
             SUM(g) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band
                          ORDER BY s) AS cum_g
      FROM grid
    )
    SELECT c_nationkey, c_mktsegment, bal_band,
           CAST(n_c AS BIGINT) AS n_records,
           CAST(SUM(ABS(N * cum_c - n_c * cum_g)) AS BIGINT) AS emd_num,
           CAST((m - 1) * n_c * N AS BIGINT) AS emd_den,
           25 * SUM(ABS(N * cum_c - n_c * cum_g)) <= 3 * ((m - 1) * n_c * N)
             AS t_close
    FROM cum, scal
    GROUP BY c_nationkey, c_mktsegment, bal_band, n_c, N, m
    """,
)
def q_anonymize_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit OVER the k-anonymized release
    (operators/privacy.py t_closeness_audit) — the third rung of the
    release-audit ladder: anonymize_k bounds re-identification,
    anonymize_l_diversity bounds homogeneity, this bounds attribute
    disclosure by DISTRIBUTION skew (ordered-attribute EMD between each
    class's sensitive distribution and the global one). The threshold
    t = 3/25 = 0.12 sits inside the fixture's class-t range at both
    test SFs, so both the close and violating arms hash-certify. All
    arithmetic is integer (numerator/denominator travel in the output;
    the verdict is a cross-multiplied comparison), so the oracle
    restates the whole metric exactly. Scale shape: ONE corpus-keyed
    aggregation — the (quasi, sensitive) cells; the global m-row
    distribution broadcasts onto the dense class x m grid; both
    cumulative sums share one quasi-partitioned window and the final
    fold groups by the window's own partition attributes."""
    from tdei_extract_load_service_spark.operators.privacy import (
        k_anonymize,
        t_closeness_audit,
    )

    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    released = k_anonymize(
        cust.withColumn(
            "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).drop("c_acctbal"),
        ["c_nationkey", "c_mktsegment", "bal_band"],
        k=5,
    ).withColumn("sensitive", F.col("c_custkey") % 7)
    return t_closeness_audit(
        released,
        ["c_nationkey", "c_mktsegment", "bal_band"],
        "sensitive",
        t_num=3,
        t_den=25,
    )


@register(
    "dq_profile_diff",
    """
    WITH two AS (
      SELECT CAST(o_orderkey % 2 AS INT) AS snap,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT o_custkey) AS o_custkey_distinct,
             COUNT(DISTINCT o_orderstatus) AS o_orderstatus_distinct,
             MIN(ROUND(o_totalprice, 2)) AS o_totalprice_min,
             MAX(ROUND(o_totalprice, 2)) AS o_totalprice_max
      FROM orders GROUP BY 1
    ),
    one AS (
      SELECT
        MAX(CASE WHEN snap = 0 THEN n_rows END) AS n_rows_a,
        MAX(CASE WHEN snap = 1 THEN n_rows END) AS n_rows_b,
        MAX(CASE WHEN snap = 0 THEN o_custkey_distinct END) AS cd_a,
        MAX(CASE WHEN snap = 1 THEN o_custkey_distinct END) AS cd_b,
        MAX(CASE WHEN snap = 0 THEN o_orderstatus_distinct END) AS sd_a,
        MAX(CASE WHEN snap = 1 THEN o_orderstatus_distinct END) AS sd_b,
        MAX(CASE WHEN snap = 0 THEN o_totalprice_min END) AS mn_a,
        MAX(CASE WHEN snap = 1 THEN o_totalprice_min END) AS mn_b,
        MAX(CASE WHEN snap = 0 THEN o_totalprice_max END) AS mx_a,
        MAX(CASE WHEN snap = 1 THEN o_totalprice_max END) AS mx_b
      FROM two
    )
    SELECT metric, snap_a, snap_b, flagged FROM (
      SELECT 'n_rows' AS metric, CAST(n_rows_a AS DOUBLE) AS snap_a,
             CAST(n_rows_b AS DOUBLE) AS snap_b,
             COALESCE(10 * abs(n_rows_a - n_rows_b) > 1 * greatest(n_rows_a, n_rows_b), TRUE) AS flagged
      FROM one
      UNION ALL
      SELECT 'o_custkey_distinct', CAST(cd_a AS DOUBLE), CAST(cd_b AS DOUBLE),
             COALESCE(10 * abs(cd_a - cd_b) > 1 * greatest(cd_a, cd_b), TRUE)
      FROM one
      UNION ALL
      SELECT 'o_orderstatus_distinct', CAST(sd_a AS DOUBLE), CAST(sd_b AS DOUBLE),
             COALESCE(10 * abs(sd_a - sd_b) > 1 * greatest(sd_a, sd_b), TRUE)
      FROM one
      UNION ALL
      SELECT 'o_totalprice_min', mn_a, mn_b, COALESCE(mn_a <> mn_b, TRUE) FROM one
      UNION ALL
      SELECT 'o_totalprice_max', mx_a, mx_b, COALESCE(mx_a <> mx_b, TRUE) FROM one
    )
    ORDER BY metric ASC
    """,
)
def q_dq_profile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B table-profile drift audit (operators/profiling.py
    profile_diff): orders split by o_orderkey parity stands in for
    yesterday's-vs-today's snapshot; row counts, per-column distinct
    counts and the o_totalprice range compared with integer
    cross-multiplied verdicts (>10% swing flags counts, any change
    flags range bounds). ONE grouped aggregation pass (count-distincts
    ride Expand), then constant-sized pivots — the nightly
    pre-publication data-quality regression gate."""
    from tdei_extract_load_service_spark.operators.profiling import (
        profile_diff,
    )

    return profile_diff(
        _read(spark, sf_dir, "orders"),
        F.col("o_orderkey") % 2,
        ("o_custkey", "o_orderstatus"),
        "o_totalprice",
        rel_tenths=1,
    )
