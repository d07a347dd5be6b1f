"""Round-7/8 corpus-prep, sampling, event-sequence and streaming-shadow entries.

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
# Decontamination, token-budget sampling, event-sequence analytics (round 7)
# ---------------------------------------------------------------------------


@register(
    "text_contamination",
    r"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source,
             substr(md5(array_to_string(list_slice(w, i, i + 12), ' ')), 1, 16) AS gram
      FROM toks, unnest(generate_series(1, len(w) - 12)) AS t(i)
      WHERE len(w) >= 13
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE source IN ('src0', 'src1'))
    SELECT doc_id, COUNT(*) AS n_shared
    FROM grams JOIN bench USING (gram)
    WHERE source NOT IN ('src0', 'src1')
    GROUP BY doc_id
    """,
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents (sources other than
    src0/src1) sharing any word 13-gram with the src0/src1 "benchmark"
    slice, with the distinct shared-gram count — the standard
    pretraining-hygiene sweep (operators/text.py contamination_check;
    the O(len) Arrow-batched gram fan-out mirrors winnow_sets)."""
    from tdei_extract_load_service_spark.operators.text import contamination_check

    docs = spread(_read(spark, sf_dir, "documents"))
    bench_src = F.col("source").isin("src0", "src1")
    return contamination_check(
        docs.where(~bench_src), docs.where(bench_src), "doc_id", "text", n=13
    )


@register(
    "text_token_budget_sample",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+')) END AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR))
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 500
    """,
)
def q_text_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sampling: keep documents in
    content-addressed (md5) order until each source's cumulative
    whitespace-token count reaches 500 — the reproducible
    "N tokens per domain" mix primitive (operators/sampling.py
    token_budget_sample; one stratum shuffle, no join)."""
    from tdei_extract_load_service_spark.operators import text as TX
    from tdei_extract_load_service_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.token_count_ws("text").alias("n_tokens")
    )
    return token_budget_sample(
        docs, "doc_id", "source", "n_tokens", budget=500
    )


@register(
    "text_normalize",
    r"""
    SELECT doc_id,
           trim(regexp_replace(
                  regexp_replace(nfc_normalize(text),
                                 '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                  '[ \t\n\r\f\v]+', ' ', 'g'),
                ' ') AS text_norm
    FROM documents
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization cleanup: NFC + control strip + ASCII-whitespace
    collapse + trim (operators/text.py normalize_text — explicit
    character classes because \\s differs across regex dialects; the
    unicode path is pinned against DuckDB in pytest on composed/
    decomposed/Hangul samples)."""
    from tdei_extract_load_service_spark.operators.text import normalize_text

    return normalize_text(
        spread(_read(spark, sf_dir, "documents")), "doc_id", "text"
    )


@register(
    "corpus_prep_full",
    r"""
    WITH norm AS (
      SELECT doc_id, source,
             trim(regexp_replace(
                    regexp_replace(nfc_normalize(text),
                                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                    '[ \t\n\r\f\v]+', ' ', 'g'),
                  ' ') AS t
      FROM documents WHERE source NOT IN ('src0', 'src1')
    ),
    staged AS (
      SELECT doc_id, source, t,
             CASE WHEN t = '' THEN [] ELSE string_split(t, ' ') END AS w
      FROM norm
    ),
    kept AS (
      SELECT doc_id, source, t, w, len(w) AS n_words
      FROM staged
      WHERE len(w) >= 10
        AND ROUND(len(list_distinct(w))::DOUBLE / len(w), 6) >= 0.3
    ),
    surv AS (
      SELECT doc_id, source, t, n_words
      FROM kept
      QUALIFY doc_id = MIN(doc_id) OVER (
        PARTITION BY md5(t)
      )
    ),
    bench_norm AS (
      SELECT doc_id,
             trim(regexp_replace(
                    regexp_replace(nfc_normalize(text),
                                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                    '[ \t\n\r\f\v]+', ' ', 'g'),
                  ' ') AS t
      FROM documents WHERE source IN ('src0', 'src1')
    ),
    bench_grams AS (
      SELECT DISTINCT substr(md5(array_to_string(list_slice(w, i, i + 12), ' ')), 1, 16) AS gram
      FROM (SELECT list_filter(string_split_regex(lower(t), '[^a-z0-9]+'), x -> x <> '') AS w
            FROM bench_norm),
           unnest(generate_series(1, len(w) - 12)) AS g(i)
      WHERE len(w) >= 13
    ),
    surv_grams AS (
      SELECT DISTINCT doc_id,
             substr(md5(array_to_string(list_slice(w, i, i + 12), ' ')), 1, 16) AS gram
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(t), '[^a-z0-9]+'), x -> x <> '') AS w
            FROM surv),
           unnest(generate_series(1, len(w) - 12)) AS g(i)
      WHERE len(w) >= 13
    ),
    contaminated AS (
      SELECT DISTINCT doc_id FROM surv_grams JOIN bench_grams USING (gram)
    ),
    clean AS (
      SELECT s.doc_id, s.source, s.n_words AS n_tokens
      FROM surv s ANTI JOIN contaminated c ON s.doc_id = c.doc_id
    ),
    budgeted AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR))
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM clean
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM budgeted WHERE cum_tokens <= 400
    """,
)
def q_corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-corpus pipeline end to end — normalize ->
    quality filter -> exact content dedup -> benchmark decontamination
    (src0/src1 as the eval slice) -> per-source token-budget sampling —
    as ONE declarative plan (operators/text.py corpus_prep_full). The
    oracle chains the same five stages in SQL, proving every stage AND
    their composition value-equal across engines."""
    from tdei_extract_load_service_spark.operators.text import corpus_prep_full

    return corpus_prep_full(
        spread(_read(spark, sf_dir, "documents")),
        "doc_id",
        "text",
        "source",
        bench_sources=("src0", "src1"),
        min_words=10,
        min_distinct_ratio=0.3,
        n=13,
        budget=400,
    )


@register(
    "events_funnel",
    """
    WITH w0 AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'view' THEN ts END) OVER win AS m0
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    w1 AS (
      SELECT *,
             MIN(CASE WHEN event_type = 'click' AND m0 IS NOT NULL AND m0 < ts
                      THEN ts END) OVER win AS m1
      FROM w0
      WINDOW win AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT
      COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
        AS n_step1_view,
      COUNT(DISTINCT CASE WHEN event_type = 'click' AND m0 IS NOT NULL AND m0 < ts
                          THEN user_id END) AS n_step2_click,
      COUNT(DISTINCT CASE WHEN event_type = 'purchase' AND m1 IS NOT NULL AND m1 < ts
                          THEN user_id END) AS n_step3_purchase
    FROM w1
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view->click->purchase funnel in ONE window pass
    (operators/events.py funnel — running min of each step's qualifying
    time; no per-step self-join). Tie semantics pinned: equal timestamps
    never advance the funnel, so the result is deterministic whatever
    the peer order."""
    from tdei_extract_load_service_spark.operators.events import funnel

    return funnel(
        _read_events(spark, sf_dir), "user_id", "ts", "event_type",
        steps=("view", "click", "purchase"),
    )


@register(
    "events_retention",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             (epoch_us(ts) // 86400000000)
             + (CASE WHEN epoch_us(ts) % 86400000000 < 0 THEN -1 ELSE 0 END) AS d
      FROM events
    ),
    c AS (SELECT user_id, MIN(d) AS cd FROM ud GROUP BY user_id)
    SELECT ud.d - c.cd AS day_offset, COUNT(*) AS n_users
    FROM ud JOIN c ON ud.user_id = c.user_id
    GROUP BY day_offset
    ORDER BY day_offset
    """,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention curve over UTC day numbers (integer epoch DIV —
    session-tz independent): users active exactly d days after their
    first event day (operators/events.py retention — one per-user agg
    with window-bounded state, no (user, day) pre-distinct, no join)."""
    from tdei_extract_load_service_spark.operators.events import retention

    return retention(_read_events(spark, sf_dir), "user_id", "ts")


@register(
    "text_chunk",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[ \t\n\r\f\v]+'), x -> x <> '') AS w
      FROM documents WHERE text IS NOT NULL
    ),
    nn AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0)
    SELECT doc_id, (s // 48)::INT AS chunk_idx,
           len(list_slice(w, s + 1, s + 64))::INT AS n_tokens,
           array_to_string(list_slice(w, s + 1, s + 64), ' ') AS chunk
    FROM nn, unnest(generate_series(0, n - 1, 48)) AS t(s)
    WHERE s = 0 OR s - 48 + 64 < n
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking (64-word chunks, 16-word
    overlap) — the RAG/pretraining split primitive, as the same O(len)
    Arrow fan-out as winnow_sets (the expression shape re-inlines the
    split per chunk; operators/text.py chunk_text). The oracle emits
    chunk starts from generate_series with the same
    last-chunk-covers-the-end rule."""
    from tdei_extract_load_service_spark.operators.text import chunk_text

    return chunk_text(
        spread(_read(spark, sf_dir, "documents")), "doc_id", "text",
        chunk_words=64, overlap_words=16,
    )


@register(
    "embedding_normalize",
    """
    WITH n AS (
      SELECT vec_id,
             CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) = 0
                  THEN list_transform(embedding::DOUBLE[], x -> x)
                  ELSE list_transform(embedding::DOUBLE[],
                         x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))
             END AS unit,
             ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm
      FROM embeddings
    )
    SELECT vec_id,
           array_to_string(list_transform(unit,
             x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)::VARCHAR), ',') AS unit_fp6,
           norm
    FROM n
    """,
)
def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-L2 normalization of the embedding column (after it, dot IS
    cosine) — pure projection, shared fold order so the element-wise
    doubles match DuckDB bit-identically; zero vectors pass through
    (operators/packing.py embedding_normalize). For the driver compare
    the unit array is serialized to comma-joined fixed-point micro-units
    (floor(x*1e6 + 0.5) as BIGINT — a tie-free exact-IEEE mapping) on BOTH
    engines, because the driver's pandas canonicalization cannot hash
    raw array cells (unhashable list, CORRECTNESS_r08)."""
    from tdei_extract_load_service_spark.operators.packing import (
        embedding_normalize,
    )

    out = embedding_normalize(
        spread(_read(spark, sf_dir, "embeddings")), "vec_id", "embedding"
    )
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(
                "unit",
                # FLOOR(x*1e6 + 0.5) spelled identically on both
                # engines: *1e6, +0.5 and floor are exact IEEE ops, so
                # there is no rounding-mode knife edge — unlike
                # ROUND(x*1e6), where a component printing as an exact
                # .5 diverges Spark-HALF_UP vs DuckDB-exact-binary
                # (ADVICE r9; same class as the text_readability fix)
                lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5))
                .cast("bigint")
                .cast("string"),
            ),
            ",",
        ).alias("unit_fp6"),
        "norm",
    )


@register(
    "events_retention_cohorts",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             (epoch_us(ts) // 86400000000)
             + (CASE WHEN epoch_us(ts) % 86400000000 < 0 THEN -1 ELSE 0 END) AS d
      FROM events
    ),
    c AS (SELECT user_id, MIN(d) AS cd FROM ud GROUP BY user_id),
    counts AS (
      SELECT c.cd AS cohort_day, ud.d - c.cd AS day_offset, COUNT(*) AS n_users
      FROM ud JOIN c ON ud.user_id = c.user_id
      GROUP BY cohort_day, day_offset
    )
    SELECT cohort_day, day_offset, n_users,
           ROUND(n_users::DOUBLE / MAX(CASE WHEN day_offset = 0 THEN n_users END)
                                     OVER (PARTITION BY cohort_day), 6) AS rate
    FROM counts
    ORDER BY cohort_day ASC, day_offset ASC
    """,
)
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort retention heatmap table: (cohort day, offset, active
    users, rate vs cohort size) — cohort sizes recovered from the same
    aggregation's offset-0 rows via one window, no second scan
    (operators/events.py retention_cohorts)."""
    from tdei_extract_load_service_spark.operators.events import retention_cohorts

    return retention_cohorts(_read_events(spark, sf_dir), "user_id", "ts")


@register(
    "text_source_overlap",
    r"""
    WITH toks AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT DISTINCT source,
             substr(md5(array_to_string(list_slice(w, i, i + 12), ' ')), 1, 16) AS gram
      FROM toks, unnest(generate_series(1, len(w) - 12)) AS t(i)
      WHERE len(w) >= 13
    ),
    ns AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
    sh AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_grams
      FROM g a JOIN g b ON a.gram = b.gram AND a.source <> b.source
      GROUP BY src_a, src_b
    )
    SELECT src_a, src_b, shared_grams, n_grams AS n_grams_a,
           ROUND(shared_grams::DOUBLE / n_grams, 6) AS containment
    FROM sh JOIN ns ON ns.source = sh.src_a
    ORDER BY src_a ASC, src_b ASC
    """,
)
def q_text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 13-gram containment matrix — the inter-source
    duplication diagnostic behind corpus dedup/mixing decisions
    (operators/text.py source_overlap). The Spark side builds pairs
    from per-gram source SETS (bounded by the source domain — never a
    gram-table self-join); the oracle derives the same matrix through
    the textbook self-join, so the counts are independently
    constructed."""
    from tdei_extract_load_service_spark.operators.text import source_overlap

    return source_overlap(
        spread(_read(spark, sf_dir, "documents")), "source", "text", n=13
    )


@register(
    "stream_window_shadow",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    ORDER BY window_start ASC, event_type ASC
    """,
)
def q_stream_window_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked windowed-aggregation streaming path,
    driver-certified: four staged micro-batches through
    windows.windowed_event_aggs (withWatermark + F.window state), final
    complete-mode snapshot compared against the same GROUP BY the batch
    twin window_tumbling oracles (streaming/shadow.py
    windowed_aggs_shadow; TIMESTAMP_NTZ end-to-end)."""
    from tdei_extract_load_service_spark.streaming.shadow import (
        windowed_aggs_shadow,
    )

    return windowed_aggs_shadow(spark, sf_dir, n_batches=4)


@register(
    "stream_funnel_shadow",
    """
    WITH t0 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t1 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t1
      FROM events e JOIN t0 ON e.user_id = t0.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > t0.t0
      GROUP BY e.user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t1.t1
      GROUP BY e.user_id
    )
    SELECT u.user_id,
           CASE WHEN t2.t2 IS NOT NULL THEN 3
                WHEN t1.t1 IS NOT NULL THEN 2
                WHEN t0.t0 IS NOT NULL THEN 1
                ELSE 0 END AS steps_completed,
           t0.t0 AS t0, t1.t1 AS t1, t2.t2 AS t2
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN t0 ON u.user_id = t0.user_id
    LEFT JOIN t1 ON u.user_id = t1.user_id
    LEFT JOIN t2 ON u.user_id = t2.user_id
    ORDER BY u.user_id ASC
    """,
)
def q_stream_funnel_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING surface, driver-certified (VERDICT r7 #8): replay
    the events fixture as four micro-batches through a real Structured
    Streaming query (stream_funnel's applyInPandasWithState — GroupState
    crossing batch boundaries), reduce the update-mode emissions to the
    final per-user funnel state, and compare against the relational
    chained min-after-predecessor recurrence in SQL
    (streaming/shadow.py funnel_shadow; times are epoch micros over a
    TIMESTAMP_NTZ pipeline, session-tz independent)."""
    from tdei_extract_load_service_spark.streaming.shadow import funnel_shadow

    return funnel_shadow(spark, sf_dir, n_batches=4)


@register(
    "corpus_mix_sample",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+')) END AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT doc_id, source, n_tokens,
             CASE source WHEN 'src0' THEN 1600 WHEN 'src1' THEN 1200
                         WHEN 'src2' THEN 800  WHEN 'src3' THEN 400 END AS budget
      FROM t
    ),
    c AS (
      SELECT doc_id, source, n_tokens, budget,
             CAST(SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR))
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM b WHERE budget IS NOT NULL
    )
    SELECT doc_id, source, n_tokens, budget, cum_tokens
    FROM c WHERE cum_tokens <= budget
    """,
)
def q_corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training-mix construction (operators/sampling.py
    mix_budget_sample): a 40/30/20/10 target over four sources with a
    4000-token total budget — the driver-side exact-integer allocation
    yields per-source budgets 1600/1200/800/400, which the oracle
    hard-codes as the CASE map (auditable: floor(w/sum_w * total) in
    micro-weight units). Sources outside the mix are dropped by the
    allowlist semantics; survivors are the same content-addressed
    prefixes as text_token_budget_sample."""
    from tdei_extract_load_service_spark.operators import text as TX
    from tdei_extract_load_service_spark.operators.sampling import (
        mix_budget_sample,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.token_count_ws("text").alias("n_tokens")
    )
    out = mix_budget_sample(
        docs,
        "doc_id",
        "source",
        "n_tokens",
        weights={"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        total_budget=4000,
    )
    return out.select("doc_id", "source", "n_tokens", "budget", "cum_tokens")


@register(
    "stream_dedup_shadow",
    """
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id ASC, event_type ASC
    """,
)
def q_stream_dedup_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of watermarked dedup
    (withWatermark + dropDuplicatesWithinWatermark — the bounded-state
    production API) over four staged micro-batches, append-mode
    emissions vs batch DISTINCT (streaming/shadow.py dedup_shadow; the
    90-day delay exceeds the fixture's event-time span so the
    at-least-once guarantee is exact here)."""
    from tdei_extract_load_service_spark.streaming.shadow import dedup_shadow

    return dedup_shadow(spark, sf_dir, n_batches=4)


@register(
    "stream_session_shadow",
    """
    WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events),
    x AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 2 HOURS
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM x
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%dT%H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_stream_session_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of MERGING session-window state
    (streaming/shadow.py session_shadow): F.session_window state
    extends/merges across four staged micro-batches, final complete-mode
    snapshot vs the batch gaps-and-islands recurrence (the same oracle
    the batch session_window entry carries, so stream == batch ==
    relational recurrence, three-way)."""
    from tdei_extract_load_service_spark.streaming.shadow import session_shadow

    out = session_shadow(spark, sf_dir, n_batches=4)
    return out.select(
        "user_id",
        TS.normalize_ts(F.col("session_start"), "yyyy-MM-dd'T'HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        "total_value",
    )


@register(
    "stream_join_shadow",
    """
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view'
     AND c.event_type = 'click'
     AND c.ts >= v.ts - INTERVAL 1 HOUR
     AND c.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY v.user_id ASC, view_id ASC, click_id ASC
    """,
)
def q_stream_join_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of the stream-stream JOIN state
    store (streaming/shadow.py interval_join_shadow): view and click
    streams replay from the same staged micro-batches, per-user ±1 hour
    interval join, append emissions vs the batch self-join; with this
    entry all five Structured Streaming state types are
    driver-certified (agg / dedup / flatMapGroupsWithState / session /
    join)."""
    from tdei_extract_load_service_spark.streaming.shadow import (
        interval_join_shadow,
    )

    return interval_join_shadow(spark, sf_dir, n_batches=4)


@register(
    "events_anomaly",
    """
    WITH s AS (
      SELECT event_type AS g, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value*value AS DECIMAL(28,12))) AS DOUBLE) AS s2
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           ROUND((e.value - s.s1/s.n)
                 / sqrt((s.s2 - s.s1*s.s1/s.n)/(s.n-1)), 4) AS z
    FROM events e JOIN s ON e.event_type = s.g
    WHERE s.n >= 2 AND s.s2 - s.s1*s.s1/s.n > 0
      AND abs(ROUND((e.value - s.s1/s.n)
                    / sqrt((s.s2 - s.s1*s.s1/s.n)/(s.n-1)), 4)) > 1.6
    ORDER BY e.event_id ASC
    """,
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly flagging (operators/profiling.py
    zscore_outliers): events whose value is anomalous FOR ITS TYPE —
    two scans, zero fact shuffles (per-type moments broadcast back).
    Threshold 1.6 because the fixture's values are ~uniform (|z| is
    bounded by sqrt(3) ≈ 1.73 for a uniform distribution — a 2.5-sigma
    gate would be vacuously empty; real long-tailed metrics use 2.5-3).
    Moments via the DECIMAL-sum recipe so both engines' variance is
    bit-identical."""
    from tdei_extract_load_service_spark.operators.profiling import (
        zscore_outliers,
    )

    ev = _read_events(spark, sf_dir).select("event_id", "event_type", "value")
    out = zscore_outliers(ev, "event_type", "value", threshold=1.6)
    # sort_boundary: the z-score join + filter is the final stage (r13)
    return sort_boundary(
        out.select("event_id", "event_type", "value", "z"), "event_id"
    ).orderBy(F.col("event_id").asc())


@register(
    "stream_sink_shadow",
    """
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total_value
    FROM events GROUP BY event_type ORDER BY event_type ASC
    """,
)
def q_stream_sink_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of the exactly-once WRITE path
    (streaming/sink.py + shadow.sink_shadow): a streaming aggregation
    replays four staged micro-batches and publishes each complete-mode
    snapshot through one manifest transaction (batch-id ledger and data
    in the same atomic pointer swap); the entry reads the final
    snapshot back through the manifest pointer, closing the loop the
    batch GROUP BY oracle checks. Replay idempotence pinned in pytest
    (tests/test_streaming_windows.py TestSinkShadow)."""
    from tdei_extract_load_service_spark.streaming.shadow import sink_shadow

    return sink_shadow(spark, sf_dir, n_batches=4)


@register(
    "stream_restart_shadow",
    """
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total_value
    FROM events GROUP BY event_type ORDER BY event_type ASC
    """,
)
def q_stream_restart_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of checkpoint restart RECOVERY
    (shadow.restart_shadow, VERDICT r9 #6): the stateful aggregation
    dies after 2 of 4 micro-batches, late batches arrive while it is
    down, and a new query resumes from the same checkpoint — the
    offset log must skip committed files and the state store must
    restore the running aggregates, so the final snapshot equals the
    batch GROUP BY over ALL events (this oracle). No-reprocessing and
    batch-id continuity pinned in pytest
    (tests/test_streaming_windows.py TestRestartShadow). Behavioral
    ancestor: the reference's graceful drain + broker
    redelivery-from-last-ack (app-context.ts:28-67)."""
    from tdei_extract_load_service_spark.streaming.shadow import restart_shadow

    return restart_shadow(spark, sf_dir, n_batches=4, stop_after=2)


@register(
    "stream_enrich_shadow",
    """
    SELECT e.event_id, e.user_id, e.event_type,
           c.c_mktsegment AS segment, 1 AS dim_version
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    ORDER BY e.event_id ASC
    """,
)
def q_stream_enrich_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of the stream-STATIC join
    (shadow.enrich_shadow, VERDICT r10 #7): the staged event stream is
    enriched per micro-batch against a static customer dimension
    (user_id -> segment), append mode, no watermark — the stateless
    enrichment shape the reference runs when extension features join
    the minted ext_file_id dimension (extract-load-service.ts:456-473).
    Every fact row joins exactly once, so the final sink equals this
    batch join oracle. Dimension-republish semantics (drain ->
    republish -> resume on the same checkpoint picks up v2) pinned in
    pytest (tests/test_streaming_windows.py TestEnrichShadow)."""
    from tdei_extract_load_service_spark.streaming.shadow import enrich_shadow

    return enrich_shadow(spark, sf_dir, n_batches=4)


@register(
    "stream_outer_join_shadow",
    """
    WITH v AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'view'),
    c AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'click')
    SELECT v.user_id AS user_id, v.event_id AS view_id,
           COALESCE(c.event_id, -1) AS click_id
    FROM v LEFT JOIN c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts - INTERVAL 1 HOUR
     AND c.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY user_id ASC, view_id ASC, click_id ASC
    """,
)
def q_stream_outer_join_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of the stream-stream LEFT OUTER join
    (shadow.outer_join_shadow): null-padded rows for views that never
    got a click emit only when the watermark passes the view's join
    horizon and its buffered state EXPIRES, so this certifies the
    eviction machinery itself (the inner cert's 90-day delay never
    evicts anything). A far-future sentinel micro-batch on both sides
    advances the min-of-both global watermark past every real view's
    expiry, so the trailing no-data batch flushes the complete
    unmatched set and the batch LEFT JOIN is the exact oracle; click_id
    is COALESCEd to -1 on both engines (NULL bigints would downcast
    both pandas frames to float64). Unmatched emission counts and
    sentinel containment pinned in pytest
    (tests/test_streaming_windows.py TestOuterJoinShadow)."""
    from tdei_extract_load_service_spark.streaming.shadow import (
        outer_join_shadow,
    )

    return outer_join_shadow(spark, sf_dir, n_batches=4)


@register(
    "stream_timeout_shadow",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    x AS (
      SELECT user_id, us,
             CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us)
                       IS NULL
                    OR us - lag(us) OVER (PARTITION BY user_id
                                          ORDER BY us) >= 7200000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ),
    s AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM x
    )
    SELECT user_id, MIN(us) AS session_start, MAX(us) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    ORDER BY user_id ASC, session_start ASC
    """,
)
def q_stream_timeout_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of the GroupState EVENT-TIME TIMEOUT
    (shadow.timeout_session_shadow): per-user sessions close on the data
    path (next event a full 2h gap later) or on the EXPIRY CALLBACK
    (state.hasTimedOut — the watermark passes last_event + gap and the
    quiet group is re-invoked in a no-data batch), the custom-stateful
    mechanism no other cert executes (the funnel runs NoTimeout, the
    session cert the built-in merging state). A far-future sentinel
    flushes every open session through the timeout branch; both closure
    paths provably emit non-overlapping sessions exactly once, so the
    final emission set equals this gaps-and-islands recurrence over
    epoch micros. Timeout-branch counts and sentinel containment pinned
    in pytest (tests/test_streaming_windows.py)."""
    from tdei_extract_load_service_spark.streaming.shadow import (
        timeout_session_shadow,
    )

    return timeout_session_shadow(spark, sf_dir, n_batches=4)


@register(
    "stream_late_data_shadow",
    """
    WITH ranked AS (
      SELECT ts, event_type,
             row_number() OVER (ORDER BY ts ASC, event_id ASC) AS rn,
             COUNT(*) OVER () AS n
      FROM events
    ),
    f AS (SELECT *, (rn - 1) // ((n + 7) // 8) AS fidx FROM ranked),
    wm AS (SELECT MAX(ts) AS w FROM f WHERE fidx <> 4)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM f, wm
    WHERE fidx <> 4
      AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    ORDER BY window_start ASC, event_type ASC
    """,
)
def q_stream_late_data_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of the watermark LATE-DATA DROP
    (shadow.late_data_shadow, r11): the staged octile micro-batches
    replay with slice 4 arriving LAST, a week behind the watermark, so
    the append-mode hourly aggregation must drop its rows entirely and
    emit exactly the windows the final watermark passed, from on-time
    rows only — which is what this oracle states relationally (the
    octile split is the same ROW_NUMBER rule the staging uses; the
    divisor stays INTEGER — a CEIL(n/8.0) form silently rounds through
    DuckDB's double CAST and shifts every boundary). The drop is
    separately pinned in pytest: numRowsDroppedByWatermark positive
    (a lower bound — the pre-aggregation event-time filter also
    discards uncounted) plus a full value compare against the
    on-time-only aggregation."""
    from tdei_extract_load_service_spark.streaming.shadow import (
        late_data_shadow,
    )

    return late_data_shadow(spark, sf_dir, n_batches=8, late_file=4)


@register(
    "ts_fill_gaps",
    """
    WITH b AS (
      SELECT event_type,
             (epoch_us(ts) // 3600000000)
               + (CASE WHEN epoch_us(ts) % 3600000000 < 0 THEN -1 ELSE 0 END)
               AS h,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mean_v
      FROM events GROUP BY 1, 2
    ),
    s AS (SELECT event_type, MIN(h) AS lo, MAX(h) AS hi FROM b GROUP BY 1),
    g AS (SELECT event_type, UNNEST(generate_series(lo, hi)) AS h FROM s),
    f AS (
      SELECT g.event_type, g.h, b.n, b.mean_v
      FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.h = b.h
    )
    SELECT event_type, h AS hour_bucket,
           COALESCE(n, 0) AS n_events,
           ROUND(last_value(mean_v IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 4) AS value_locf,
           (n IS NULL) AS is_gap
    FROM f
    ORDER BY event_type ASC, hour_bucket ASC
    """,
)
def q_ts_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: hourly per-type resample with gap
    rows GENERATED (dense grid per type from its own min..max hour) and
    the mean value carried forward over gaps (LOCF) — the
    missing-bucket repair every monitoring/forecasting consumer needs
    and no plain GROUP BY can produce (absent groups don't exist to
    aggregate). Scale shape: the fact table aggregates ONCE down to
    |type x hour| rows; the grid explodes from the |types|-row span
    frame (sequence+explode — generated, not scanned), the gap join and
    the LOCF window both run on bucket-sized frames. Hour buckets via
    the floored integer-micros recipe (session-tz independent, exact on
    both engines; ADVICE r7 pre-epoch rule); the mean is DECIMAL-sum /
    count — one double division, identical trees.
    Core in operators/events.py fill_time_gaps.
    """
    from tdei_extract_load_service_spark.operators.events import (
        fill_time_gaps,
    )

    ev = _read_events(spark, sf_dir).select("event_type", "ts", "value")
    out = fill_time_gaps(ev, "event_type", "ts", "value")
    sel = out.select(
        F.col("group").alias("event_type"),
        F.col("bucket").alias("hour_bucket"),
        "n_events",
        F.round(F.col("value_locf"), 4).alias("value_locf"),
        "is_gap",
    )
    # sort_boundary: the gap join + LOCF window is the final stage (r13)
    return sort_boundary(sel, "event_type", "hour_bucket").orderBy(
        F.col("event_type").asc(), F.col("hour_bucket").asc()
    )


@register(
    "events_markov",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS cnt
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    t AS (
      SELECT prev_type, next_type, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS tot
      FROM c
    )
    SELECT prev_type, next_type, cnt,
           ROUND(CAST(cnt AS DOUBLE) / tot, 6) AS p
    FROM t
    ORDER BY prev_type, next_type
    """,
)
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/events.py event_transition_matrix) — the
    behavioral model behind next-event prediction and sequence anomaly
    scoring: per ordered (prev, next) type pair, the transition count
    and row-normalized probability. Sequence order is (ts, event_id) —
    deterministic under same-timestamp neighbors; ONE user-key shuffle
    feeds the lag window, then counts collapse to at most |types|^2
    rows where the row-total window runs. The probability is one
    exact-integer double division, ROUND 6."""
    from tdei_extract_load_service_spark.operators.events import (
        event_transition_matrix,
    )

    return event_transition_matrix(
        _read_events(spark, sf_dir), "user_id", "ts", "event_type", "event_id"
    )


@register(
    "corpus_temperature_mix",
    r"""
    WITH t AS (
      SELECT doc_id, n_chars // 100 AS stratum,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+'))
                  END AS n_tokens
      FROM documents
    ),
    c AS (SELECT stratum, COUNT(*) AS cnt FROM t GROUP BY stratum),
    w AS (SELECT stratum,
                 CAST(FLOOR(SQRT(cnt) * 1000000) AS BIGINT) AS s
          FROM c),
    tot AS (SELECT CAST(SUM(s) AS BIGINT) AS ts FROM w),
    b AS (SELECT stratum,
                 CAST(s * 4000 // (SELECT ts FROM tot) AS BIGINT) AS budget
          FROM w),
    q AS (
      SELECT t.doc_id, t.stratum, t.n_tokens, b.budget,
             CAST(SUM(t.n_tokens) OVER (
               PARTITION BY t.stratum
               ORDER BY md5(CAST(t.doc_id AS VARCHAR))
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t JOIN b USING (stratum)
    )
    SELECT doc_id, stratum, n_tokens, budget, cum_tokens
    FROM q WHERE cum_tokens <= budget
    """,
)
def q_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled training mix (operators/sampling.py
    temperature_mix_sample, alpha=0.5): per-stratum budgets proportional
    to sqrt(stratum size) — the standard pretraining rebalance that
    damps dominant strata without dropping rare ones. Strata here are
    document-length classes (n_chars DIV 100 — a genuinely skewed split
    on the fixture), so the small classes get a super-proportional
    share. Cross-engine exactness: sqrt is IEEE correctly-rounded on
    Spark/DuckDB/Python, so floor(sqrt(cnt)*1e6) is the same BIGINT
    everywhere and the allocation is pure integer arithmetic
    (s * total DIV sum(s)); the stratum-count collect is |strata| rows —
    a model, not data."""
    from tdei_extract_load_service_spark.operators import text as TX
    from tdei_extract_load_service_spark.operators.sampling import (
        temperature_mix_sample,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("n_chars DIV 100").cast("long").alias("stratum"),
        TX.token_count_ws("text").alias("n_tokens"),
    )
    out = temperature_mix_sample(
        docs, "doc_id", "stratum", "n_tokens", total_budget=4000, alpha=0.5
    )
    return out.select("doc_id", "stratum", "n_tokens", "budget", "cum_tokens")


@register(
    "stream_merge_shadow",
    """
    WITH latest AS (
      SELECT user_id AS k, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t WHERE rn = 1
    ),
    up AS (SELECT k, value FROM latest WHERE event_type <> 'error'),
    del AS (SELECT k FROM latest WHERE event_type = 'error')
    SELECT COALESCE(c.c_custkey, u.k) AS user_id,
           COALESCE(u.value, c.c_acctbal) AS balance
    FROM customer c FULL JOIN up u ON c.c_custkey = u.k
    WHERE COALESCE(c.c_custkey, u.k) NOT IN (SELECT k FROM del)
    ORDER BY user_id ASC
    """,
)
def q_stream_merge_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming certification of foreachBatch MERGE/upsert —
    the Delta-style streaming-upsert sink (streaming/shadow.py
    merge_shadow -> streaming/sink.manifest_merge_sink ->
    operators/cdc.merge_upsert). State lives in the TABLE: each
    micro-batch's latest-wins actions merge into the customer-seeded
    balances table (latest 'error' deletes; other events upsert; unseen
    user 0 exercises the conditional-insert arm), each version
    publishing as one manifest transaction keyed by the batch id.
    Sequential per-batch merges equal the one-shot batch MERGE because
    the staged (ts, event_id) range split is a per-user prefix split of
    that total order — exactly the relational statement the oracle
    makes (the cdc_apply shape, so the batch operator and the streaming
    sink are certified against the same recurrence by independent
    paths). Exactly-once replay and drain/resume convergence are pinned
    in pytest."""
    from tdei_extract_load_service_spark.streaming.shadow import merge_shadow

    return merge_shadow(spark, sf_dir, n_batches=4)


@register(
    "stream_dedup_incremental_shadow",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_dups
    FROM documents GROUP BY 1
    ORDER BY content_hash ASC
    """,
)
def q_stream_dedup_incremental_shadow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming certification of incremental dedup — foreachBatch
    feeding the stored exact-dedup survivor state
    (streaming/shadow.py dedup_incremental_shadow ->
    streaming/sink.dedup_merge_sink -> operators/dedup.
    merge_survivor_states). Four document micro-batches merge into an
    initially empty manifest table, one exactly-once transaction per
    batch; the final state equals dedup_exact_groups over the WHOLE
    corpus because the merge algebra (min keep_id, summed n_dups per
    hash) is associative and commutative — convergence holds for ANY
    batch split, a strictly stronger claim than merge_shadow's
    prefix-order argument. The oracle is the full-table dedup SQL
    (dedup_incremental's oracle, ordered), so streamed == recomputed is
    value-certified every round; replay/resume discipline is pinned in
    pytest."""
    from tdei_extract_load_service_spark.streaming.shadow import (
        dedup_incremental_shadow,
    )

    return dedup_incremental_shadow(spark, sf_dir, n_batches=4)


@register(
    "ts_resample_ohlc",
    """
    WITH x AS (
      SELECT event_type, date_trunc('day', ts) AS bar, value,
             row_number() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY event_type, date_trunc('day', ts)) AS n
      FROM events
      WINDOW w AS (PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts ASC, event_id ASC)
    )
    SELECT event_type,
           strftime(bar, '%Y-%m-%dT%H:%M:%S') AS bar,
           MAX(CASE WHEN rn = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn = n THEN value END) AS close,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_value
    FROM x GROUP BY 1, 2
    ORDER BY event_type ASC, bar ASC
    """,
)
def q_ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-series resample (operators/events.py resample_ohlc):
    per (event_type, day) bar — open (first value by (ts, event_id)),
    high, low, close (last by the same total order), count and
    exact-DECIMAL total. ONE shuffle: a single ascending window marks
    rn and bucket size so close needs no second descending sort, and
    the following group-by aggregates on the window's own partition
    keys. Bars are wall-clock epoch floors (the window_tumbling tz
    recipe — date_trunc on NTZ shifted day boundaries under the
    VANILLA America/LA sweep), rendered via TS.normalize_ts. The
    oracle restates the identical construction (the rn==1 / rn==n
    selection is the determinism contract, stated in SQL);
    total_value folds through DECIMAL(18,6) so the sum is exact on
    both engines."""
    from tdei_extract_load_service_spark.operators.events import resample_ohlc

    ev = _read_events(spark, sf_dir)
    out = resample_ohlc(
        ev, "ts", "value", unit="day", keys=("event_type",),
        tiebreak=("event_id",),
    )
    sel = out.select(
        "event_type",
        TS.normalize_ts(F.col("bar"), "yyyy-MM-dd'T'HH:mm:ss").alias("bar"),
        "open",
        "high",
        "low",
        "close",
        "n_events",
        "total_value",
    )
    # sort_boundary: the OHLC window/agg stack is the final stage (r13)
    return sort_boundary(sel, "event_type", "bar").orderBy(
        F.col("event_type").asc(), F.col("bar").asc()
    )


@register(
    "events_rolling_active",
    """
    WITH daily AS (
      SELECT DISTINCT
             epoch_us(ts) // 86400000000
               + (CASE WHEN epoch_us(ts) % 86400000000 < 0 THEN -1 ELSE 0 END)
               AS d,
             user_id
      FROM events
    ),
    targets AS (
      SELECT DISTINCT d + t.i AS target FROM daily, range(0, 7) t(i)
    ),
    grid AS (
      SELECT t.target, daily.user_id
      FROM targets t JOIN daily
        ON daily.d BETWEEN t.target - 6 AND t.target
    )
    SELECT strftime(make_timestamp(target * 86400000000), '%Y-%m-%dT%H:%M:%S') AS day,
           COUNT(DISTINCT user_id) AS n_active
    FROM grid GROUP BY target ORDER BY day ASC
    """,
)
def q_events_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users (the WAU curve;
    operators/events.py rolling_active_users): events collapse to the
    daily-distinct frame FIRST (the 1000x reduction — raw events never
    touch the window machinery), then each (day, user) row fans out to
    its 7 target days via a bounded sequence explode and ONE
    count_distinct per target closes it — never a per-day rescan.
    Convention: every day whose trailing window is non-empty reports
    (including the 6 days after the last event — a live dashboard keeps
    reporting the decaying WAU); the ORACLE derives identical counts
    through the INDEPENDENT day-grid range join over the same target
    set (the first cut restricted the oracle grid to own-activity days
    and the value compare caught the 6 extra Spark rows — conventions
    are now pinned on both engines)."""
    from tdei_extract_load_service_spark.operators.events import (
        rolling_active_users,
    )

    ev = _read_events(spark, sf_dir)
    out = rolling_active_users(ev, "ts", "user_id", window_days=7)
    sel = out.select(
        TS.normalize_ts(F.col("day"), "yyyy-MM-dd'T'HH:mm:ss").alias("day"),
        "n_active",
    )
    # sort_boundary: the rolling-window distinct stack is the final
    # stage (r13)
    return sort_boundary(sel, "day").orderBy(F.col("day").asc())


@register("stream_bm25_index_shadow", ORACLES.bm25_topk_oracle_sql())
def q_stream_bm25_index_shadow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming certification of BM25 index
    maintenance (streaming/shadow.py bm25_index_shadow ->
    streaming/sink.bm25_index_sink -> operators/text.bm25_batch_stats).
    Four document micro-batches append full-vocabulary postings + doc
    lengths to an initially empty manifest index — postings and doclen
    commit in the SAME exactly-once transaction per batch — then the
    query serves from the STREAMED tables, deriving df / avgdl at
    query time (never stored: IDF's denominator is corpus-wide) and
    ranking through the SAME _bm25_rank expression tree as inline
    bm25_topk. Per-batch rows are disjoint unions (associative,
    commutative — the dedup-sink algebra class), so streamed ==
    recomputed holds for ANY batch split; the oracle is
    text_bm25_topk's full-corpus SQL, value-certifying the closed
    loop between the streaming story and the search story."""
    from tdei_extract_load_service_spark.streaming.shadow import (
        bm25_index_shadow,
    )

    return bm25_index_shadow(
        spark, sf_dir, ["spark", "join", "window", "scan"], n_batches=4, k=10
    )


@register(
    "events_interval_coverage",
    """
    WITH iv AS (
      SELECT user_id, event_id, ts AS s,
             ts + to_minutes(CAST(greatest(floor(value), 0) AS BIGINT)) AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN max(e) OVER (
               PARTITION BY user_id ORDER BY s ASC, e ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) IS NULL OR s > max(e) OVER (
               PARTITION BY user_id ORDER BY s ASC, e ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) THEN 1 ELSE 0 END AS flag
      FROM iv
    ),
    islands AS (
      SELECT user_id,
             SUM(flag) OVER (
               PARTITION BY user_id ORDER BY s ASC, e ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island, s, e
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, MIN(s) AS s, MAX(e) AS e, COUNT(*) AS n
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(n) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(date_diff('microsecond', s, e)) // 1000000 AS BIGINT) AS covered_s
    FROM merged GROUP BY user_id
    ORDER BY user_id ASC
    """,
)
def q_events_interval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval union length per user (operators/relational.py
    interval_coverage): each event opens a [ts, ts + max(floor(value),
    0) minutes] activity interval; overlapping/touching intervals merge
    into islands (gaps-and-islands over ONE key-partitioned sort, the
    scd2 discipline) and coverage is the summed island span in integer
    seconds (summed in microseconds, the timestamps' native unit, so
    both engines count the same elapsed quantity; the SECOND-unit forms
    diverge by one on sub-second timestamps — truncation vs boundary
    crossing — and the oracle caught exactly that on first contact).
    Timestamp DIFFERENCES are session-timezone-independent.
    The island partition is order-independent under the (s, e, id)
    tiebreak because equal-start intervals always overlap."""
    from tdei_extract_load_service_spark.operators.relational import (
        interval_coverage,
    )

    ev = _read_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.expr(
            "timestampadd(MINUTE, cast(greatest(floor(value), 0.0) as int), ts)"
        ).alias("e"),
    )
    return interval_coverage(ev, "user_id", "s", "e", "event_id")
