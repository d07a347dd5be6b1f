"""Document / ETL operator entries (reference O7-O11, O24) + the tumbling-window batch twin.

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
from tdei_extract_load_service_spark.functions import maps as M
from tdei_extract_load_service_spark.functions import timestamps as TS
from tdei_extract_load_service_spark.functions.geometry import count_elevation_keys, strip_z
from tdei_extract_load_service_spark.operators import relational as R
from tdei_extract_load_service_spark.operators.query_builder import (
    DynamicQueryBuilder,
)
from tdei_extract_load_service_spark.session import spread


# ---------------------------------------------------------------------------
# Document / ETL operators (SURVEY.md §2.4, reference O7-O11, O24)
# ---------------------------------------------------------------------------


@register(
    "explode_unnest",
    """
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def q_explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """features-array explode (O8, extract-load-service.ts:219-224) in its
    general form: unnest + count. Narrow transform; only the count shuffles."""
    docs = _read(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word")).where(F.col("word") != "")
    return R.agg_group(words, ["word"], [F.count("*").alias("n")])


@register(
    "header_project",
    """
    SELECT event_id, COALESCE(json_extract_string(props, '$.k'), '') AS k
    FROM events
    """,
)
def q_header_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-key header capture minus excluded keys with null->'' coercion
    (O7/O15, extract-load-service.ts:139-178,496-502) over the events.props
    JSON column."""
    ev = _read_events(spark, sf_dir)
    header = M.header_map_from_json("props")
    return ev.select(
        "event_id", F.coalesce(F.element_at(header, "k"), F.lit("")).alias("k")
    )


@register(
    "agg_prefix_count",
    """
    SELECT event_type,
           CAST(SUM(len(list_filter(json_keys(props), x -> x LIKE 'k%'))) AS BIGINT) AS n_prefixed
    FROM events GROUP BY event_type
    """,
)
def q_agg_prefix_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-key prefix count (countExistingElevationProperties,
    extract-load-service.ts:543-549) summed per group."""
    ev = _read_events(spark, sf_dir)
    n = count_elevation_keys("props", "k")
    return R.agg_group(
        ev.select("event_type", n.alias("n")),
        ["event_type"],
        [F.sum("n").cast("bigint").alias("n_prefixed")],
    )


@register(
    "strip_z",
    """
    SELECT vec_id,
           array_to_string(list_transform(embedding[1:2],
                           x -> printf('%.6f', CAST(x AS DOUBLE))), ',') AS xy
    FROM embeddings
    """,
)
def q_strip_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaf truncation to [x, y] (O10, stripZCoordinate
    extract-load-service.ts:556-569) — array-semantics twin over the
    embeddings fixture; GeoJSON-shaped coverage lives in tests/ (A4 matrix).

    The array is rendered as fixed-format text ("x,y", 6 decimals) on BOTH
    sides: the driver's hash canonicalizer sorts cell values in pandas,
    which cannot hash list cells — a STRING column hashes everywhere, and
    %.6f is correctly-rounded from the identical binary double in both
    engines (a decimal tie at the 7th digit is not representable in binary,
    so Java's HALF_UP and C's round-to-nearest agree)."""
    emb = _read(spark, sf_dir, "embeddings")
    xy = F.concat_ws(
        ",",
        F.transform(
            strip_z("embedding"),
            lambda x: F.format_string("%.6f", x.cast("double")),
        ),
    )
    return emb.select("vec_id", xy.alias("xy"))


@register(
    "extract_elevation",
    """
    SELECT vec_id,
           CASE WHEN embedding[3] IS NOT NULL AND embedding[3] <> 0
                THEN round(CAST(embedding[3] AS DOUBLE), 6) END AS elevation
    FROM embeddings
    """,
)
def q_extract_elevation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-Z extraction with the zero-means-missing rule (O11,
    extract-load-service.ts:629) — array-semantics twin over embeddings."""
    emb = _read(spark, sf_dir, "embeddings")
    z = F.element_at(F.col("embedding"), 3).cast("double")
    elevation = F.when(z.isNotNull() & (z != 0), F.round(z, 6))
    return emb.select("vec_id", elevation.alias("elevation"))


@register(
    "normalize_ts",
    """
    SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso_utc
    FROM events
    """,
)
def q_normalize_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 UTC normalization (O24, tdei-date.ts:3-6)."""
    ev = _read_events(spark, sf_dir)
    return ev.select("event_id", TS.normalize_ts("ts").alias("iso_utc"))


# ---------------------------------------------------------------------------
# Streaming-shaped batch query (event-time tumbling window)
# ---------------------------------------------------------------------------


@register(
    "window_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation — the batch twin of the
    engine's Structured-Streaming windowed aggs (SURVEY.md §2.3 extension).
    Bucketing via FLOOR epoch arithmetic so it is session-tz
    independent (plain DIV truncates toward zero, which would disagree
    with the oracle's date_trunc — a floor — on pre-epoch timestamps;
    ADVICE r7); rendering via normalize_ts."""
    ev = _read_events(spark, sf_dir)
    bucket_start = F.timestamp_seconds(
        F.expr(
            "(unix_micros(ts) DIV 3600000000)"
            " + (CASE WHEN unix_micros(ts) % 3600000000 < 0 THEN -1 ELSE 0 END)"
        )
        * 3600
    )
    return R.agg_group(
        ev.withColumn("window_start", TS.normalize_ts(bucket_start, "yyyy-MM-dd'T'HH:mm:ss")),
        ["window_start", "event_type"],
        [
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )
