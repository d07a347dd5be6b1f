"""The full ETL pipeline as a registered query (rows-only).

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
# Full ETL pipeline as a registered query (rows-only)
# ---------------------------------------------------------------------------


@register(
    "text_pack_sequences",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+')) END AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS pre
      FROM t
    )
    SELECT doc_id AS id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(pre / 2048.0) AS BIGINT) AS bin_id,
           CAST(pre % 2048 AS BIGINT) AS bin_offset
    FROM c
    """,
)
def q_text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training shards: documents laid end-to-end in
    doc_id order, cut every 2048 tokens (contiguous fill — one window
    cumsum, the streaming-order packing real pipelines use). Oracle is
    the identical cumulative-sum window in SQL."""
    from tdei_extract_load_service_spark.operators.packing import pack_sequences
    from tdei_extract_load_service_spark.operators.text import token_count_ws

    docs = _read(spark, sf_dir, "documents")
    return pack_sequences(
        docs.select("doc_id", token_count_ws("text").alias("n_tokens")),
        "doc_id",
        "n_tokens",
        budget=2048,
        allow_global_sort=True,  # bounded SF fixture; shard at scale
    )


@register(
    "interval_join",
    """
    SELECT c.user_id,
           strftime(c.ts, '%Y-%m-%dT%H:%M:%S') AS click_ts,
           strftime(v.ts, '%Y-%m-%dT%H:%M:%S') AS view_ts,
           CAST(ROUND(v.value, 2) AS DOUBLE) AS view_value
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND v.ts >= c.ts - INTERVAL 30 MINUTE
     AND v.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND v.event_type = 'view'
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming.windows.stream_interval_join`` (same
    function — ``withWatermark`` is a no-op on bounded input): click->view
    correlation within +-30 minutes per user. Value-oracle-checked here;
    the streaming form with state eviction is pytest-proven."""
    from tdei_extract_load_service_spark.streaming.windows import stream_interval_join

    ev = _read_events(spark, sf_dir)
    joined = stream_interval_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "view"),
        "user_id",
        within="30 minutes",
    )
    return joined.select(
        "user_id",
        TS.normalize_ts(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("click_ts"),
        TS.normalize_ts(F.col("ts_r"), "yyyy-MM-dd'T'HH:mm:ss").alias("view_ts"),
        F.round("value_r", 2).alias("view_value"),
    )


@register(
    "unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric,
           CAST(ROUND(value, 2) AS DOUBLE) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
      FROM lineitem WHERE l_orderkey <= 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey <= 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_orderkey <= 100
    )
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot (melt) of three lineitem measures — the
    DataFrame ``unpivot`` API (SQL ``stack``); the oracle is the UNION ALL
    expansion it is defined as. Narrow projection: no shuffle, the
    key filter reaches the scan."""
    from tdei_extract_load_service_spark.operators.relational import unpivot_measures

    li = _read(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 100)
    out = unpivot_measures(
        li,
        ["l_orderkey", "l_linenumber"],
        {"quantity": "l_quantity",
         "extendedprice": "l_extendedprice",
         "discount": "l_discount"},
    )
    return out.select(
        "l_orderkey", "l_linenumber", "metric", F.round("value", 2).alias("value")
    )


@register(
    "window_range_frame",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS spend_30d
    FROM orders
    WHERE o_custkey <= 200
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic window: per customer, rolling 30-day spend at
    each order — a VALUE-based frame (rangeBetween over epoch seconds),
    distinct from the ROWS frames of window_running_sum/window_lag_delta.
    Frame membership is time-arithmetic on the same epoch values in both
    engines, so the windowed sums agree exactly."""
    from tdei_extract_load_service_spark.operators.relational import rolling_range_sum

    orders = _read(spark, sf_dir, "orders").where(F.col("o_custkey") <= 200)
    rolled = rolling_range_sum(
        orders, "o_custkey", "o_orderdate", "o_totalprice", 30 * 86400, "_spend"
    )
    return rolled.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("_spend"), 2).alias("spend_30d"),
    )


@register(
    "histogram",
    """
    SELECT CAST(LEAST(FLOOR(l_extendedprice / 5000.0), 19) AS BIGINT) AS bin,
           CAST(LEAST(FLOOR(l_extendedprice / 5000.0), 19) * 5000 AS DOUBLE) AS bin_lo,
           COUNT(*) AS n,
           CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS total
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (20 bins of 5000 over l_extendedprice, last
    bin open-ended) — one map-side-combined aggregation, the profiling
    primitive behind every column-stats pass. Bin assignment is pure
    arithmetic (floor + least), so there is no two-pass min/max and no
    driver model; data-dependent ranges compose by bolting the quantiles
    entry's collected bounds onto the same shape (operator:
    operators/profiling.py)."""
    from tdei_extract_load_service_spark.operators.profiling import (
        fixed_width_histogram,
    )

    li = _read(spark, sf_dir, "lineitem")
    return fixed_width_histogram(li, "l_extendedprice", bin_width=5000.0, n_bins=20)


@register(
    "column_profile",
    """
    WITH a AS (
      SELECT COUNT(l_quantity) AS n_q, SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nn_q,
             SUM(CAST(l_quantity AS DECIMAL(30,6))) AS s_q,
             SUM(CAST(CAST(l_quantity AS DECIMAL(30,6)) * CAST(l_quantity AS DECIMAL(30,6)) AS DECIMAL(38,12))) AS ss_q,
             MIN(CAST(l_quantity AS DOUBLE)) AS mn_q, MAX(CAST(l_quantity AS DOUBLE)) AS mx_q,
             COUNT(l_extendedprice) AS n_e, SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS nn_e,
             SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS s_e,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(30,6)) * CAST(l_extendedprice AS DECIMAL(30,6)) AS DECIMAL(38,12))) AS ss_e,
             MIN(CAST(l_extendedprice AS DOUBLE)) AS mn_e, MAX(CAST(l_extendedprice AS DOUBLE)) AS mx_e,
             COUNT(l_discount) AS n_d, SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS nn_d,
             SUM(CAST(l_discount AS DECIMAL(30,6))) AS s_d,
             SUM(CAST(CAST(l_discount AS DECIMAL(30,6)) * CAST(l_discount AS DECIMAL(30,6)) AS DECIMAL(38,12))) AS ss_d,
             MIN(CAST(l_discount AS DOUBLE)) AS mn_d, MAX(CAST(l_discount AS DOUBLE)) AS mx_d
      FROM lineitem
    )
    SELECT t.col AS "column", t.n, t.n_null,
           ROUND(CASE WHEN t.n >= 1 THEN t.s / t.n END, 6) AS mean,
           ROUND(CASE WHEN t.n >= 2
                 THEN sqrt(GREATEST((t.ss - t.s * t.s / t.n) / (t.n - 1.0), 0.0)) END, 6) AS stddev,
           ROUND(t.mn, 6) AS "min", ROUND(t.mx, 6) AS "max"
    FROM a, LATERAL (VALUES
      ('l_quantity', a.n_q, CAST(a.nn_q AS BIGINT), CAST(a.s_q AS DOUBLE), CAST(a.ss_q AS DOUBLE), a.mn_q, a.mx_q),
      ('l_extendedprice', a.n_e, CAST(a.nn_e AS BIGINT), CAST(a.s_e AS DOUBLE), CAST(a.ss_e AS DOUBLE), a.mn_e, a.mx_e),
      ('l_discount', a.n_d, CAST(a.nn_d AS BIGINT), CAST(a.s_d AS DOUBLE), CAST(a.ss_d AS DOUBLE), a.mn_d, a.mx_d)
    ) t(col, n, n_null, s, ss, mn, mx)
    """,
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()/summary()-shape column statistics in ONE scan
    (operators/profiling.py column_profile): counts, null counts,
    DECIMAL-exact sums and sums-of-squares shuffled (order-independent),
    mean/stddev derived in one explicit IEEE-double formula evaluated
    identically by both engines — built-in avg()/stddev() would diverge
    at the last ulp from engine-specific summation order."""
    from tdei_extract_load_service_spark.operators.profiling import column_profile

    li = _read(spark, sf_dir, "lineitem")
    return column_profile(
        li,
        ("l_quantity", "l_extendedprice", "l_discount"),
        spread_key="l_orderkey",
    )


@register(
    "column_correlations",
    """
    WITH a AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(30,6))) AS s_q,
             SUM(CAST(CAST(l_quantity AS DECIMAL(30,6)) * CAST(l_quantity AS DECIMAL(30,6)) AS DECIMAL(38,12))) AS ss_q,
             SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS s_e,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(30,6)) * CAST(l_extendedprice AS DECIMAL(30,6)) AS DECIMAL(38,12))) AS ss_e,
             SUM(CAST(l_discount AS DECIMAL(30,6))) AS s_d,
             SUM(CAST(CAST(l_discount AS DECIMAL(30,6)) * CAST(l_discount AS DECIMAL(30,6)) AS DECIMAL(38,12))) AS ss_d,
             SUM(CAST(CAST(l_quantity AS DECIMAL(30,6)) * CAST(l_extendedprice AS DECIMAL(30,6)) AS DECIMAL(38,12))) AS sp_qe,
             SUM(CAST(CAST(l_quantity AS DECIMAL(30,6)) * CAST(l_discount AS DECIMAL(30,6)) AS DECIMAL(38,12))) AS sp_qd,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(30,6)) * CAST(l_discount AS DECIMAL(30,6)) AS DECIMAL(38,12))) AS sp_ed
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
    )
    SELECT t.col_a, t.col_b,
           ROUND(CASE WHEN (t.ssx - t.sx * t.sx / t.n) > 0 AND (t.ssy - t.sy * t.sy / t.n) > 0
                 THEN (t.sp - t.sx * t.sy / t.n)
                      / sqrt((t.ssx - t.sx * t.sx / t.n) * (t.ssy - t.sy * t.sy / t.n))
                 END, 6) AS corr
    FROM a, LATERAL (VALUES
      ('l_quantity', 'l_extendedprice', CAST(a.n AS DOUBLE), CAST(a.s_q AS DOUBLE), CAST(a.ss_q AS DOUBLE), CAST(a.s_e AS DOUBLE), CAST(a.ss_e AS DOUBLE), CAST(a.sp_qe AS DOUBLE)),
      ('l_quantity', 'l_discount', CAST(a.n AS DOUBLE), CAST(a.s_q AS DOUBLE), CAST(a.ss_q AS DOUBLE), CAST(a.s_d AS DOUBLE), CAST(a.ss_d AS DOUBLE), CAST(a.sp_qd AS DOUBLE)),
      ('l_extendedprice', 'l_discount', CAST(a.n AS DOUBLE), CAST(a.s_e AS DOUBLE), CAST(a.ss_e AS DOUBLE), CAST(a.s_d AS DOUBLE), CAST(a.ss_d AS DOUBLE), CAST(a.sp_ed AS DOUBLE))
    ) t(col_a, col_b, n, sx, ssx, sy, ssy, sp)
    """,
)
def q_column_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations in ONE aggregation (profiling /
    feature-selection pass): DECIMAL-exact sums + cross-products shuffled,
    corr derived in one explicit IEEE-double formula identical in both
    engines — built-in corr() diverges at the last ulp."""
    from tdei_extract_load_service_spark.operators.profiling import (
        column_correlations,
    )

    li = _read(spark, sf_dir, "lineitem")
    return column_correlations(
        li,
        ("l_quantity", "l_extendedprice", "l_discount"),
        spread_key="l_orderkey",
    )


@register(
    "column_profile_categorical",
    """
    WITH long AS (
      SELECT 'c_mktsegment' AS col_name, c_mktsegment AS value FROM customer
      UNION ALL
      SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
    ),
    grouped AS (
      SELECT col_name, value, COUNT(*) AS value_n FROM long GROUP BY col_name, value
    ),
    stats AS (
      SELECT col_name,
             CAST(SUM(CASE WHEN value IS NOT NULL THEN value_n ELSE 0 END) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CASE WHEN value IS NULL THEN value_n END), 0) AS BIGINT) AS n_null,
             COUNT(value) AS n_distinct
      FROM grouped GROUP BY col_name
    ),
    ranked AS (
      SELECT col_name, value, value_n,
             ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY value_n DESC, value ASC) AS rank
      FROM grouped WHERE value IS NOT NULL
    )
    SELECT r.col_name, s.n, s.n_null, s.n_distinct, r.rank, r.value, r.value_n
    FROM ranked r JOIN stats s USING (col_name) WHERE r.rank <= 3
    """,
)
def q_column_profile_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/categorical half of the ingest profile (VERDICT r5 #5):
    per column, row/null/exact-distinct counts + deterministic top-k
    values — one data pass (melt -> one grouped count; stats derive from
    the group rows, so no count-distinct Expand and no second scan);
    operators/profiling.py column_profile_categorical."""
    from tdei_extract_load_service_spark.operators.profiling import (
        column_profile_categorical,
    )

    cust = _read(spark, sf_dir, "customer")
    return column_profile_categorical(cust, ("c_mktsegment", "c_nationkey"), top_k=3)


@register("column_distinct_sketch", None)
def q_column_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch per column — the
    arbitrary-cardinality scale path (fixed-size sketch state, ONE
    aggregation; exact distinct on an id column would shuffle every
    value). Rows-only by design: sketch internals are engine-specific,
    so no DuckDB value twin — the 5%-rsd bound against exact counts is
    pytest-proven (tests/test_extended_relational.py)."""
    from tdei_extract_load_service_spark.operators.profiling import (
        column_distinct_counts,
    )

    ords = _read(spark, sf_dir, "orders")
    return column_distinct_counts(
        ords, ("o_custkey", "o_orderstatus", "o_orderpriority")
    )


@register(
    "distinct_rollup_windows",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events
    ),
    s AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM e)
    SELECT 'all' AS wname,
           CAST(COUNT(DISTINCT d) AS BIGINT) AS n_buckets,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_estimate
    FROM e
    UNION ALL
    SELECT 'first_half',
           CAST(COUNT(DISTINCT d) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT)
    FROM e, s WHERE e.d <= (s.lo + s.hi) // 2
    UNION ALL
    SELECT 'last_7',
           CAST(COUNT(DISTINCT d) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT)
    FROM e, s WHERE e.d > s.hi - 7
    ORDER BY wname ASC
    """,
)
def q_distinct_rollup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users over arbitrary day windows answered from STORED
    HyperLogLog partials (operators/profiling.py
    build_distinct_sketch_partials + distinct_rollup) — the write-once
    sketch-rollup pattern every 100 TB "distinct over window" dashboard
    runs: one fact pass builds a KB-sized sketch per day, window
    queries merge stored partials and never rescan the facts. HLL
    union is lossless w.r.t. the sketch (register max), so the rollup
    equals sketching the raw window bit-for-bit (pytest). The oracle
    is EXACT COUNT(DISTINCT): Datasketches HLL at lgK=12 is in its
    exact coupon regime below ~2k uniques, which holds at every
    fixture SF (150 users at sf0.01, 1500 at sf0.1) — so the driver
    hash-certifies real values here, and the estimating regime above
    that cardinality is error-bounded separately in pytest against a
    100k-unique synthetic. Day buckets via integer unix_micros DIV
    (the engine's timestamp-bucket recipe; float division corrupts
    1e18-scale micros)."""
    import os

    from tdei_extract_load_service_spark.operators.profiling import (
        build_distinct_sketch_partials,
        distinct_rollup,
    )

    ev = _read_events(spark, sf_dir)
    bucket = F.expr("unix_micros(ts) DIV 86400000000")
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    path = build_distinct_sketch_partials(
        ev, bucket, "user_id",
        corpus_key=f"{src}:{st.st_size}:{st.st_mtime_ns}:user_daily",
    )
    lo, hi = ev.agg(F.min(bucket), F.max(bucket)).first()
    out = (
        distinct_rollup(spark, path, label="all")
        .unionByName(
            distinct_rollup(
                spark, path, hi=(lo + hi) // 2, label="first_half"
            )
        )
        .unionByName(
            distinct_rollup(spark, path, lo=hi - 7 + 1, label="last_7")
        )
    )
    return out.select(
        F.col("window").alias("wname"), "n_buckets", "distinct_estimate"
    ).orderBy(F.col("wname").asc())


@register(
    "histogram_auto",
    """
    WITH b AS (
      SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem
    ),
    binned AS (
      SELECT CAST(GREATEST(LEAST(FLOOR((l_extendedprice - b.lo) / ((b.hi - b.lo) / 20)),
                                 19), 0) AS BIGINT) AS bin,
             l_extendedprice AS v, b.lo AS lo, b.hi AS hi
      FROM lineitem, b
    )
    SELECT bin,
           CAST(bin * ((hi - lo) / 20) + lo AS DOUBLE) AS bin_lo,
           COUNT(*) AS n,
           CAST(ROUND(SUM(v), 2) AS DOUBLE) AS total
    FROM binned GROUP BY bin, lo, hi
    """,
)
def q_histogram_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram with DATA-DEPENDENT bounds (VERDICT r5 #8): the p1/p99
    quantile pass supplies the range — a two-value driver-side model —
    and fixed_width_histogram bins over it with outliers clamped into the
    edge bins. exact=True here so DuckDB's quantile_cont computes
    bit-identical bounds (the quantiles_exact value-identity result);
    production calls default to the GK sketch bounds, rank-error-bounded
    by the quantiles entry's machinery."""
    from tdei_extract_load_service_spark.operators.profiling import (
        quantile_bounds_histogram,
    )

    li = _read(spark, sf_dir, "lineitem")
    return quantile_bounds_histogram(
        li,
        "l_extendedprice",
        n_bins=20,
        p_lo=0.01,
        p_hi=0.99,
        exact=True,
        spread_key="l_orderkey",
    )


@register(
    "text_repetition_stats",
    r"""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '[ \t\n\r\f\v]+') END AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id, len(words) AS n_words,
             CASE WHEN len(words) > 0
                  THEN ROUND(len(list_distinct(words))::DOUBLE / len(words), 6) END AS distinct_word_ratio,
             CASE WHEN len(words) >= 2
                  THEN list_transform(generate_series(1, len(words) - 1),
                                      i -> words[i] || ' ' || words[i + 1])
                  ELSE [] END AS bg
      FROM w
    ),
    bgc AS (
      SELECT doc_id, b, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(bg) AS b FROM s) GROUP BY doc_id, b
    ),
    agg AS (
      SELECT doc_id, SUM(c) AS total, COUNT(*) AS n_distinct, MAX(c) AS top
      FROM bgc GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_words, s.distinct_word_ratio,
           CASE WHEN a.total > 0 THEN ROUND(a.top::DOUBLE / a.total, 6) ELSE 0.0 END AS top_bigram_frac,
           CASE WHEN a.total > 0 THEN ROUND(1.0 - a.n_distinct::DOUBLE / a.total, 6) ELSE 0.0 END AS dup_bigram_frac
    FROM s LEFT JOIN agg a USING (doc_id)
    """,
)
def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals (distinct-word ratio,
    top/dup bigram fractions) — the cheap pre-filter a training pipeline
    runs before any dedup or scoring; operators/text.py
    repetition_stats. Word ratios are shuffle-free array expressions; the
    bigram stats are one map-side-combined (doc, bigram) aggregation."""
    from tdei_extract_load_service_spark.operators.text import repetition_stats

    docs = _read(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


@register(
    "text_winnow_fingerprint",
    r"""
    WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(length(s) - 7, 0)),
                            i -> substr(md5(substr(s, i, 8)), 1, 16)) AS hs
      FROM t
    ),
    m AS (
      SELECT doc_id, len(hs) - 3 AS nw,
             list_transform(generate_series(1, greatest(len(hs) - 3, 0)),
                            j -> list_min(hs[j:j+3])) AS mins
      FROM h
    )
    SELECT doc_id,
           CASE WHEN nw >= 1
                THEN md5(array_to_string(list_sort(list_distinct(mins)), ',')) END AS winnow_sig,
           CASE WHEN nw >= 1 THEN len(list_distinct(mins)) END AS n_selected
    FROM m
    """,
)
def q_text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash fingerprint — the substring-level
    dedup key: k=8-char shingle md5 prefixes, w=4 window minima, doc
    sig = md5 of the sorted distinct selected set. Production path is
    operators/text.py winnow_sets (O(len) Arrow-batched deque, zero
    shuffle — the round-6 nested-HOF plan re-evaluated the hash array
    at every window position, O(len^2), 147.9s of the 179.9s bench);
    the selected-hash array is computed ONCE per row and both output
    columns derive from it. The lexicographic-min trick keeps even the
    rolling-hash selection value-oracle-checkable across engines; the
    pure-expression twin (winnow_hashes) is property-tested equal."""
    from tdei_extract_load_service_spark.operators.text import winnow_sets

    docs = spread(_read(spark, sf_dir, "documents"))
    ws = F.col("ws")
    return winnow_sets(docs, "doc_id", "text").select(
        "doc_id",
        F.when(ws.isNotNull(), F.md5(F.concat_ws(",", ws))).alias("winnow_sig"),
        F.size(ws).cast("bigint").alias("n_selected"),
    )


@register(
    "dedup_winnow",
    r"""
    WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(length(s) - 7, 0)),
                            i -> substr(md5(substr(s, i, 8)), 1, 16)) AS hs
      FROM t
    ),
    m AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(hs) - 3, 0)),
                            j -> list_min(hs[j:j+3])) AS mins
      FROM h
    ),
    sel AS (
      SELECT doc_id, list_distinct(mins) AS ws, len(list_distinct(mins)) AS sz
      FROM m WHERE len(mins) >= 1
    ),
    e AS (SELECT doc_id, sz, unnest(ws) AS hh FROM sel),
    keep AS (SELECT hh FROM e GROUP BY hh HAVING COUNT(*) <= 256),
    ef AS (SELECT e.doc_id, e.sz, e.hh FROM e JOIN keep USING (hh)),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sz AS sa, b.sz AS sb, COUNT(*) AS n
      FROM ef a JOIN ef b ON a.hh = b.hh AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           ROUND(n::DOUBLE / (sa + sb - n), 6) AS jaccard
    FROM p WHERE ROUND(n::DOUBLE / (sa + sb - n), 6) >= 0.5
    """,
)
def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-dup pairs via winnowing fingerprints
    (operators/dedup.py winnow_pairs): inverted-index join on the
    winnow-selected hashes, exact jaccard over the selected sets —
    catches shared passages that word-level shingles miss. Runs the
    PRODUCTION configuration (max_hash_df=256, the hot-shingle cap that
    keeps candidate volume linear-ish in the corpus — an uncapped x10
    run pinned the host on Σdf² work); the oracle mirrors the cap
    exactly, so even the recall knob is value-checked. The intersection
    counts only capped hashes while set sizes stay full — jaccard is an
    underestimate by design for docs touching ubiquitous shingles."""
    from tdei_extract_load_service_spark.operators.dedup import winnow_pairs

    docs = _read(spark, sf_dir, "documents")
    return winnow_pairs(docs, "doc_id", "text", threshold=0.5, max_hash_df=256)


@register(
    "dedup_winnow_cluster",
    r"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(length(s) - 7, 0)),
                            i -> substr(md5(substr(s, i, 8)), 1, 16)) AS hs
      FROM t
    ),
    m AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(hs) - 3, 0)),
                            j -> list_min(hs[j:j+3])) AS mins
      FROM h
    ),
    sel AS (
      SELECT doc_id, list_distinct(mins) AS ws, len(list_distinct(mins)) AS sz
      FROM m WHERE len(mins) >= 1
    ),
    e AS (SELECT doc_id, sz, unnest(ws) AS hh FROM sel),
    keep AS (SELECT hh FROM e GROUP BY hh HAVING COUNT(*) <= 256),
    ef AS (SELECT e.doc_id, e.sz, e.hh FROM e JOIN keep USING (hh)),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sz AS sa, b.sz AS sb, COUNT(*) AS n
      FROM ef a JOIN ef b ON a.hh = b.hh AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    pr AS (
      SELECT doc_a, doc_b FROM p
      WHERE ROUND(n::DOUBLE / (sa + sb - n), 6) >= 0.5
    ),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM pr
      UNION SELECT doc_b, doc_a FROM pr
      UNION SELECT doc_id, doc_id FROM documents
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id, (a = MIN(b)) AS is_survivor
    FROM reach GROUP BY a
    """,
)
def q_dedup_winnow_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SUBSTRING-level dedup (VERDICT r6 #8): winnow pairs ->
    connected components -> survivor election, completing the family the
    word-level path already has (dedup_cluster). Pair generation is the
    production winnow_pairs configuration (max_hash_df=256, threshold
    0.5); min-label propagation (operators/dedup.py dedup_clusters) then
    shuffles only (id, label) longs per round; the survivor is the min
    doc id of each component. The oracle is the transitive-closure
    recursive CTE over the identically-capped winnow edge set — the
    whole ladder, fingerprints through survivors, is value-checked."""
    from tdei_extract_load_service_spark.operators.dedup import (
        dedup_clusters,
        winnow_pairs,
    )

    docs = _read(spark, sf_dir, "documents")
    pairs = winnow_pairs(docs, "doc_id", "text", threshold=0.5, max_hash_df=256)
    labels = dedup_clusters(docs.select("doc_id"), pairs, "doc_id")
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
    )


@register(
    "corpus_prep",
    r"""
    WITH w AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '[ \t\n\r\f\v]+') END AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id, text, len(words) AS n_words,
             CASE WHEN len(words) > 0
                  THEN ROUND(len(list_distinct(words))::DOUBLE / len(words), 6) END AS dwr
      FROM w
    ),
    kept AS (
      SELECT doc_id, n_words,
             md5(array_to_string(list_sort(list_distinct(
                 regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\v]+'))), ' ')) AS fp
      FROM s WHERE n_words >= 10 AND dwr >= 0.3
    )
    SELECT MIN(doc_id) AS doc_id, arg_min(n_words, doc_id) AS n_words, COUNT(*) AS n_dups
    FROM kept GROUP BY fp
    """,
)
def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-preparation composition (quality filter ->
    content dedup -> survivor election) as ONE declarative plan —
    operators/text.py corpus_prep_survivors. Proves the profiling/dedup
    operators COMPOSE: Catalyst fuses the repetition filter, the
    fingerprint projection and the survivor aggregation; only the doc-id
    join and the (fingerprint, id) groupBy shuffle."""
    from tdei_extract_load_service_spark.operators.text import corpus_prep_survivors

    docs = _read(spark, sf_dir, "documents")
    return corpus_prep_survivors(
        docs, "doc_id", "text", min_words=10, min_distinct_ratio=0.3
    )


@register(
    "text_tfidf_topk",
    r"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\v]+') AS words
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    hits AS (
      SELECT d.doc_id, len(d.words) AS dl, w.term, COUNT(*) AS tf
      FROM docs d, UNNEST(d.words) AS w(term)
      WHERE w.term IN ('hash', 'join', 'vector')
      GROUP BY d.doc_id, len(d.words), w.term
    ),
    dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM hits GROUP BY term
    )
    SELECT h.doc_id AS id,
           CAST(SUM((1000000000 * h.tf * n.n_docs)
                    // (f.df_t * h.dl)) AS BIGINT) AS score
    FROM hits h JOIN dfreq f USING (term) CROSS JOIN n
    GROUP BY h.doc_id
    ORDER BY score DESC, id ASC
    LIMIT 10
    """,
)
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-10 for the query {hash, join, vector} — fixed-point
    integer scoring ((1e9 * tf * N) DIV (df * dl), summed as BIGINT) so
    the cross-term sum is order-independent and bit-identical in both
    engines; true integer division (Spark DIV / DuckDB //) rather than
    floor-of-double-division, which loses exactness past 2^53."""
    from tdei_extract_load_service_spark.operators.text import tfidf_topk

    docs = _read(spark, sf_dir, "documents")
    return tfidf_topk(docs, "doc_id", "text", ("hash", "join", "vector"), k=10)


@register(
    "embedding_quantize",
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, vd, list_max(list_transform(vd, x -> abs(x))) AS scale
      FROM v
    )
    SELECT vec_id AS id, len(vd) AS n_dims, ROUND(scale, 6) AS scale,
           CAST(COALESCE(list_sum(list_transform(range(1, len(vd) + 1),
                 i -> CAST(TRUNC(vd[i] / scale * 127) AS BIGINT) * i)), 0)
                AS BIGINT) AS q_checksum
    FROM s
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (scale = max|v|, truncating
    cast) verified via a position-weighted checksum of the full quantized
    vector. Both engines evaluate the same left-to-right double
    expression (v/scale*127) and the same truncation semantics (Spark
    int cast truncates; the oracle spells TRUNC explicitly), so the
    checksum is value-exact."""
    from tdei_extract_load_service_spark.operators.packing import quantize_embeddings

    emb = _read(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb, "vec_id", "embedding")


@register(
    "etl_load_dataset",
    """
    SELECT * FROM (VALUES
      ('catalog-ds', 'edges', CAST(50 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
      ('catalog-ds', 'nodes', CAST(100 AS BIGINT), CAST(1 AS BIGINT), CAST(66 AS BIGINT))
    ) AS t(tdei_dataset_id, kind, n_features, n_files, n_with_elevation)
    """,
)
def q_etl_load_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dataset-load job on a deterministic synthetic OSW
    archive: zip fan-out -> route -> explode -> strip-Z/elevation ->
    per-kind sinks -> stats. Returns the per-kind stats table.

    Golden oracle, derived by hand from reference semantics (not from a
    run): 100 point features with z = i % 3 — the zero-Z-means-missing rule
    (extract-load-service.ts:629) drops the 34 rows with i % 3 == 0, so 66
    carry elevation; the 50 LineString edges are strip-Z-only (no elevation
    for edges, :644-647), so 0. One file per kind."""
    import tempfile

    from tdei_extract_load_service_spark.fixtures import write_osw_archive
    from tdei_extract_load_service_spark.plans.load_dataset import load_dataset

    root = tempfile.mkdtemp(prefix="etl_catalog_")
    archive = write_osw_archive(f"{root}/synthetic.zip", n_nodes=100, n_edges=50)
    # manifest mode (the service's default is partition mode): the
    # whole multi-sink load publishes through ONE atomic pointer swap
    # (sinks/manifest.py), so the oracle certifies the load's rows as
    # read back through that manifest
    result = load_dataset(
        spark, archive, "catalog-ds", "catalog-user", f"{root}/warehouse",
        commit_mode="manifest",
    )
    if not result.success:
        raise RuntimeError(result.message)
    from tdei_extract_load_service_spark.plans.load_dataset import read_sink

    return (
        read_sink(spark, f"{root}/warehouse", "dataset_stats")
        .select("tdei_dataset_id", "kind", "n_features", "n_files", "n_with_elevation")
        .orderBy("kind")
    )


@register(
    "cdc_apply",
    """
    WITH latest AS (
      SELECT user_id AS k, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t WHERE rn = 1
    ),
    up AS (SELECT k, ROUND(value, 2) AS newbal FROM latest WHERE event_type <> 'error'),
    del AS (SELECT k FROM latest WHERE event_type = 'error')
    SELECT COALESCE(c.c_custkey, u.k) AS c_custkey,
           c.c_name,
           ROUND(COALESCE(u.newbal, c.c_acctbal), 2) AS acctbal
    FROM customer c FULL JOIN up u ON c.c_custkey = u.k
    WHERE COALESCE(c.c_custkey, u.k) NOT IN (SELECT k FROM del)
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE (operators/cdc.py cdc_apply) — the incremental
    dual of overwrite_by_key's table-level delete-then-reload (O17): the
    events feed folds into the customer snapshot with (ts, event_id) as
    the total per-key sequence; a latest 'error' event deletes the
    customer, any other latest event upserts the balance, unseen
    customers pass through, and feed keys new to the snapshot insert
    (user 0 exercises the insert arm — custkeys start at 1). The oracle
    derives the same merge through textbook row_number + full join +
    NOT IN."""
    from tdei_extract_load_service_spark.operators.cdc import cdc_apply

    customer = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    changes = _read_events(spark, sf_dir).select(
        F.col("user_id").alias("c_custkey"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.round(F.col("value"), 2).alias("c_acctbal"),
    )
    applied = cdc_apply(
        customer, changes, "c_custkey", ("ts", "event_id"), "op"
    )
    return applied.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal"), 2).alias("acctbal"),
    )


@register(
    "incremental_agg",
    """
    WITH latest AS (
      SELECT CASE WHEN user_id % 7 = 3 THEN user_id + 10000000
                  ELSE user_id END AS k,
             event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t WHERE rn = 1
    ),
    merged AS (
      SELECT CASE WHEN l.k IS NOT NULL AND l.event_type = 'purchase'
                  THEN 'BUILDING' ELSE c.c_mktsegment END AS g,
             CASE WHEN l.k IS NOT NULL THEN ROUND(l.value, 2)
                  ELSE c.c_acctbal END AS bal
      FROM customer c LEFT JOIN latest l ON c.c_custkey = l.k
      WHERE l.k IS NULL OR l.event_type <> 'error'
      UNION ALL
      SELECT CASE WHEN l.event_type = 'purchase' THEN 'BUILDING'
                  ELSE 'FEEDNEW' END AS g,
             ROUND(l.value, 2) AS bal
      FROM latest l LEFT JOIN customer c ON c.c_custkey = l.k
      WHERE c.c_custkey IS NULL AND l.event_type <> 'error'
    )
    SELECT g AS c_mktsegment, COUNT(*) AS n_customers,
           ROUND(CAST(SUM(CAST(bal AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total_bal
    FROM merged GROUP BY g ORDER BY c_mktsegment ASC
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (operators/cdc.py
    incremental_agg_maintain): per-segment (count, sum acctbal) is kept
    as a stored aggregate and UPDATED from the events change feed's
    before/after images — the base table is never rescanned. The feed
    folds latest-wins per key (like cdc_apply); an 'error' latest event
    deletes the customer, a 'purchase' moves it to segment BUILDING
    (exercising the cross-group delta), any other event updates the
    balance in place; keys new to the snapshot insert into their feed
    segment (FEEDNEW/BUILDING) — every 7th feed key is shifted past the
    custkey range so the insert arm is exercised at every SF (the raw
    fixture's user_ids all land on existing customers). The ORACLE
    recomputes the aggregate
    from the fully merged snapshot — base + delta must equal the
    recompute bit-exactly, which the DECIMAL(18,6) delta algebra
    guarantees (decimal addition is associative). Here the entry
    constructs before-images by a feed-sized lookup join; a production
    feed (Debezium) carries them for free."""
    from tdei_extract_load_service_spark.operators.cdc import (
        incremental_agg_maintain,
    )
    from pyspark.sql import Window

    customer = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    base = customer.groupBy(F.col("c_mktsegment").alias("g")).agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,6)")).alias("total_bal"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        _read_events(spark, sf_dir)
        .select("user_id", "event_type", "value", "ts", "event_id")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .withColumn(
            "k",
            F.when(
                F.col("user_id") % 7 == 3, F.col("user_id") + 10_000_000
            ).otherwise(F.col("user_id")),
        )
    )
    feed = latest.join(customer, latest["k"] == customer["c_custkey"], "left")
    is_delete = F.col("event_type") == "error"
    feed = feed.select(
        F.col("c_mktsegment").alias("bg"),
        F.col("c_acctbal").alias("bv"),
        F.when(is_delete, F.lit(None).cast("string"))
        .when(F.col("event_type") == "purchase", F.lit("BUILDING"))
        .otherwise(F.coalesce(F.col("c_mktsegment"), F.lit("FEEDNEW")))
        .alias("ag"),
        F.when(is_delete, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("value"), 2))
        .alias("av"),
    )
    out = incremental_agg_maintain(
        base, feed, "g", "n_customers", "total_bal", "bg", "bv", "ag", "av"
    )
    sel = out.select(
        F.col("g").alias("c_mktsegment"),
        "n_customers",
        F.round(F.col("total_bal").cast("double"), 2).alias("total_bal"),
    )
    # sort_boundary: the base+delta merge join is the final stage (r13)
    return sort_boundary(sel, "c_mktsegment").orderBy(
        F.col("c_mktsegment").asc()
    )


@register(
    "table_compact",
    """
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total_value
    FROM events GROUP BY event_type ORDER BY event_type ASC
    """,
)
def q_table_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (sinks/compact.py): the events fixture is
    first committed DELIBERATELY fragmented (repartition(64) -> 64
    small files through one manifest txn — the shape a per-batch
    streaming writer leaves behind), then compact_table rewrites it
    into right-sized files through a SECOND atomic manifest txn; the
    entry reads the compacted table back through the pointer and
    aggregates it, so the oracle certifies content preservation across
    the rewrite end to end. File-count reduction, txn advance and
    fragmented-equals-compacted row sets are pinned in pytest
    (tests/test_compact.py)."""
    import tempfile

    from tdei_extract_load_service_spark.sinks.compact import compact_table
    from tdei_extract_load_service_spark.sinks.manifest import (
        ManifestTxn,
        read_table,
    )

    ev = _read_events(spark, sf_dir).select("event_type", "value")
    root = tempfile.mkdtemp(prefix="compact_catalog_")
    with ManifestTxn(root) as txn:
        txn.write("events_copy", ev.repartition(64), "ds")
    stats = compact_table(spark, root, "events_copy", "ds")
    if stats["files_after"] >= stats["files_before"]:
        raise RuntimeError(f"compaction did not reduce files: {stats}")
    compacted = read_table(spark, root, "events_copy", dataset_id="ds")
    return (
        compacted.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy(F.col("event_type").asc())
    )


@register(
    "table_time_travel",
    """
    SELECT 1 AS version, o_orderkey, o_custkey, o_orderstatus
    FROM orders WHERE o_orderkey <= 320
    UNION ALL
    SELECT 2 AS version, o_orderkey, o_custkey, o_orderstatus
    FROM orders WHERE o_orderkey > 320 AND o_orderkey <= 640
    ORDER BY version, o_orderkey
    """,
)
def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the manifest warehouse (sinks/manifest.py
    read_table_at) — the Delta/Iceberg ``VERSION AS OF`` contract over
    O18's single-pointer-swap transaction: every commit snapshots its
    pointer map under ``_history/``, and a version stays readable as
    long as ``keep_commits`` keeps its displaced directories un-reaped
    (retention is warehouse policy, not accident; an expired version
    errors loudly, pytest-pinned). The entry builds a two-commit
    warehouse ONCE per corpus (write slice 1 -> transactionally REPLACE
    with slice 2), then reads BOTH versions back — the overwritten
    slice 1 is only reachable through the txn-1 snapshot. Reads plan
    O(datasets) directories straight from the snapshot: no log replay,
    no directory listing. The oracle reconstructs each version
    relationally from the base table."""
    import hashlib as _hashlib
    import os as _os

    from tdei_extract_load_service_spark.sinks.manifest import (
        ManifestTxn,
        list_versions,
        read_table_at,
    )

    src = _os.path.join(sf_dir, "orders.parquet")
    st = _os.stat(src)
    digest = _hashlib.md5(
        f"ttv1:{src}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:24]
    root = _os.path.join("/tmp/spark_graft_timetravel", digest)
    cols = ("o_orderkey", "o_custkey", "o_orderstatus")
    existing = set(list_versions(root))
    if existing < {1, 2}:
        if existing:
            # partial history (a crash between t1.commit() and
            # t2.commit(), or a concurrent builder): committing more
            # txns onto it would make txn 2 carry slice-1 rows, so
            # read_table_at(root, 2) would silently return the wrong
            # version (ADVICE r9). Drop the root and rebuild from
            # scratch — the content-addressed digest makes that safe.
            import shutil as _shutil

            _shutil.rmtree(root, ignore_errors=True)
        orders = _read(spark, sf_dir, "orders").select(*cols)
        with ManifestTxn(root, keep_commits=10) as t1:
            t1.write("ord_slice", orders.where(F.col("o_orderkey") <= 320).coalesce(1), "ds-tt")
        with ManifestTxn(root, keep_commits=10) as t2:
            t2.delete("ord_slice", "ds-tt")
            t2.write(
                "ord_slice",
                orders.where(
                    (F.col("o_orderkey") > 320) & (F.col("o_orderkey") <= 640)
                ).coalesce(1),
                "ds-tt",
            )
    v1 = read_table_at(spark, root, "ord_slice", 1).withColumn(
        "version", F.lit(1)
    )
    v2 = read_table_at(spark, root, "ord_slice", 2).withColumn(
        "version", F.lit(2)
    )
    return (
        v1.unionByName(v2)
        .select("version", *cols)
        .orderBy(F.col("version").asc(), F.col("o_orderkey").asc())
    )


@register(
    "table_changes",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey <= 640
    ),
    v2 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE (o_orderkey <= 640 AND o_orderkey % 5 <> 0)
         OR (o_orderkey > 640 AND o_orderkey <= 960)
    ),
    j AS (
      SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
             CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                  WHEN v2.o_orderkey IS NULL THEN 'delete'
                  ELSE 'update' END AS change_op,
             v1.o_custkey AS ck_b, v2.o_custkey AS ck_a,
             v1.o_orderstatus AS status_before,
             v2.o_orderstatus AS status_after,
             v1.o_totalprice AS price_before,
             v2.o_totalprice AS price_after
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    )
    SELECT o_orderkey, change_op,
           status_before, status_after, price_before, price_after
    FROM j
    WHERE change_op <> 'update'
       OR ck_b IS DISTINCT FROM ck_a
       OR status_before IS DISTINCT FROM status_after
       OR price_before IS DISTINCT FROM price_after
    ORDER BY o_orderkey ASC
    """,
)
def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two manifest versions (operators/cdc.py
    table_changes) — the READ side of CDC that completes the warehouse
    story: table_time_travel proves old versions stay addressable,
    cdc_apply folds a feed INTO a snapshot, and this derives the feed
    FROM two snapshots (Delta/Iceberg's CDF contract): per changed key
    one (op, before-image, after-image) row from ONE full-outer join —
    empty for identical versions. The entry commits v1 (keys <= 640)
    then transactionally replaces it with a deterministic mutation
    (keys %5==0 deleted, %3==0 updated — status 'X' never occurs in
    TPC-H so updates are real — keys in (640, 960] inserted), diffs the
    two read_table_at versions, and the oracle reconstructs both
    versions relationally. Prices ride un-rounded: the same IEEE
    ``+ 1.0`` on the same stored double is bit-identical on both
    engines, and parquet round-trips doubles exactly."""
    import hashlib as _hashlib
    import os as _os

    from tdei_extract_load_service_spark.operators.cdc import table_changes
    from tdei_extract_load_service_spark.sinks.manifest import (
        ManifestTxn,
        list_versions,
        read_table_at,
    )

    src = _os.path.join(sf_dir, "orders.parquet")
    st = _os.stat(src)
    digest = _hashlib.md5(
        f"tcf1:{src}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:24]
    root = _os.path.join("/tmp/spark_graft_tablechanges", digest)
    cols = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    existing = set(list_versions(root))
    if existing < {1, 2}:
        if existing:
            # partial history: same hazard as table_time_travel — rebuild
            import shutil as _shutil

            _shutil.rmtree(root, ignore_errors=True)
        orders = _read(spark, sf_dir, "orders").select(*cols)
        upd = F.col("o_orderkey") % 3 == 0
        v2_frame = (
            orders.where(
                ((F.col("o_orderkey") <= 640) & (F.col("o_orderkey") % 5 != 0))
                | ((F.col("o_orderkey") > 640) & (F.col("o_orderkey") <= 960))
            )
            .withColumn(
                "o_orderstatus",
                F.when(upd, F.lit("X")).otherwise(F.col("o_orderstatus")),
            )
            .withColumn(
                "o_totalprice",
                F.when(upd, F.col("o_totalprice") + 1.0).otherwise(
                    F.col("o_totalprice")
                ),
            )
        )
        with ManifestTxn(root, keep_commits=10) as t1:
            t1.write(
                "ord_cdf",
                orders.where(F.col("o_orderkey") <= 640).coalesce(1),
                "ds-cdf",
            )
        with ManifestTxn(root, keep_commits=10) as t2:
            t2.delete("ord_cdf", "ds-cdf")
            t2.write("ord_cdf", v2_frame.coalesce(1), "ds-cdf")
    feed = table_changes(
        read_table_at(spark, root, "ord_cdf", 1),
        read_table_at(spark, root, "ord_cdf", 2),
        ["o_orderkey"],
    )
    sel = feed.select(
        "o_orderkey",
        "change_op",
        F.col("o_orderstatus_before").alias("status_before"),
        F.col("o_orderstatus_after").alias("status_after"),
        F.col("o_totalprice_before").alias("price_before"),
        F.col("o_totalprice_after").alias("price_after"),
    )
    # sort_boundary: the before/after snapshot join is the final stage
    # (r13)
    return sort_boundary(sel, "o_orderkey").orderBy(
        F.col("o_orderkey").asc()
    )


@register(
    "merge_upsert",
    """
    WITH upd AS (
      SELECT c_custkey AS k,
             CAST(c_custkey % 500 - 250 AS DOUBLE) AS delta,
             c_custkey % 21 = 0 AS is_del
      FROM customer WHERE c_custkey % 7 = 0
    ),
    ins AS (
      SELECT c_custkey + 1000000 AS k,
             concat('NEW#', CAST(c_custkey AS VARCHAR)) AS new_name,
             CAST(c_custkey % 1000 AS DOUBLE) AS bal
      FROM customer WHERE c_custkey % 13 = 0
    ),
    kept AS (
      SELECT c.c_custkey, c.c_name,
             CASE WHEN u.k IS NULL THEN c.c_acctbal
                  ELSE c.c_acctbal + u.delta END AS acctbal,
             c.c_mktsegment
      FROM customer c LEFT JOIN upd u ON c.c_custkey = u.k
      WHERE u.k IS NULL OR NOT u.is_del
    )
    SELECT * FROM kept
    UNION ALL
    SELECT k AS c_custkey, new_name AS c_name, bal AS acctbal,
           'NEW' AS c_mktsegment
    FROM ins
    ORDER BY c_custkey ASC
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condition-driven MERGE INTO (operators/cdc.py merge_upsert) —
    the warehouse-migration idiom cdc_apply's op-column feed cannot
    express: actions DERIVED from match state and predicates. One
    deterministic source frame carries all three arms — matched
    updates (custkey % 7: balance += delta), matched deletes
    (% 21: ``WHEN MATCHED AND is_del THEN DELETE``), and inserts
    (% 13, keys offset by 1e6 so they never match). The ORACLE
    reconstructs the merge through the independent
    left-join + anti-filter + union formulation; the Spark side is
    ONE full-outer sort-merge join (full outer cannot broadcast). The
    unchanged arm emits the target double untouched (no +0.0) so
    kept balances are bit-identical on both engines."""
    from tdei_extract_load_service_spark.operators.cdc import merge_upsert

    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    key = F.col("c_custkey")
    upd = cust.where(key % 7 == 0).select(
        key.alias("c_custkey"),
        (key % 500 - 250).cast("double").alias("delta"),
        (key % 21 == 0).alias("is_del"),
        F.lit(None).cast("string").alias("new_name"),
    )
    ins = cust.where(key % 13 == 0).select(
        (key + 1000000).alias("c_custkey"),
        (key % 1000).cast("double").alias("delta"),
        F.lit(False).alias("is_del"),
        F.concat(F.lit("NEW#"), key.cast("string")).alias("new_name"),
    )
    merged = merge_upsert(
        cust,
        upd.unionByName(ins),
        ["c_custkey"],
        update_set={
            "c_acctbal": F.col("t.c_acctbal") + F.col("s.delta"),
        },
        matched_delete=F.col("s.is_del"),
        insert_values={
            "c_name": F.col("s.new_name"),
            "c_acctbal": F.col("s.delta"),
            "c_mktsegment": F.lit("NEW"),
        },
    )
    sel = merged.select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").alias("acctbal"),
        "c_mktsegment",
    )
    # sort_boundary: the full-outer merge join is the final stage (r13)
    return sort_boundary(sel, "c_custkey").orderBy(F.col("c_custkey").asc())
