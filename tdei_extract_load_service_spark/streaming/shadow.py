"""Batch-shadow certification of the streaming surface.

Each shadow runs a real Structured Streaming query over a BOUNDED
multi-file source (so state genuinely crosses micro-batches) and
exposes the final result as a plain DataFrame an SQL oracle can check:
the streaming twin must equal the relational recurrence.

Every shadow runs its query through one runner, ``_replay``, and the
runner owns the whole lifecycle of a run:

- source: a file source over the staged batch files with
  ``maxFilesPerTrigger=1`` (one micro-batch per file, in mtime order),
  or over a private live copy of them when the shadow needs a custom
  arrival order, an appended sentinel batch or delivery in legs;
- legs: one ``Trigger.AvailableNow`` run per leg, all legs on one
  checkpoint, each leg's files copied into the live copy before it
  starts (the files of later legs arrive while the query is down);
- sink: the memory sink, a parquet file sink, or a ``foreachBatch``
  handler, in the shadow's output mode;
- state: the checkpoint, the live copy, the sink output and the
  manifest root all live under one ``tempfile.mkdtemp`` directory per
  run, deleted when the run ends together with every memory-sink temp
  view, so a run leaves nothing behind but its materialized
  (``localCheckpoint(eager=True)``) result and per-leg progress.

A fresh checkpoint directory per run means no run can resume a stale
one. The staged batch files themselves are a content-addressed cache
under ``/tmp/spark_graft_stream_stage``, shared across runs.

Timezone discipline: the staged stream carries ``ts`` as
TIMESTAMP_NTZ end-to-end. The GroupState path converts timestamps to
pandas, and an instant-typed TIMESTAMP renders as session-local naive
there — under a non-UTC driver session its epoch value would shift by
the UTC offset. NTZ is timezone-free in Arrow, so
``Timestamp.value // 1000`` is exactly DuckDB's ``epoch_us(ts)`` in
every session timezone (probed under America/Los_Angeles). Where a
watermark is needed (``withWatermark`` rejects TIMESTAMP_NTZ),
``_instant`` maps ``ts`` to the instant with the same UTC wall clock.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

from tdei_extract_load_service_spark.operators.staging import staged_build
from pyspark.sql import functions as F


def _stage_parquet_batches(
    spark: SparkSession,
    src: str,
    order_cols: tuple[str, ...],
    n_batches: int,
    key_suffix: str = "",
    fixup=None,
    split_expr: str | None = None,
) -> str:
    """Shared staging machinery for file-source micro-batch replay:
    split ``src`` into ``n_batches`` single-file parquet chunks by the
    ``order_cols`` total order, with strictly increasing mtimes so a
    file source with ``maxFilesPerTrigger=1`` replays a deterministic
    batch sequence. Content-addressed under /tmp (``key_suffix``
    disambiguates fixtures sharing a path format); the stage directory
    holding ``n_batches`` files is the only cache, reused across
    sessions and rebuilt when deleted or incomplete. ``fixup``
    (optional) normalizes the frame post-read — the events
    legacy-nanos rebuild lives there. ``split_expr``
    (optional) is a SQL expression yielding each row's batch index
    0..n-1; when given it REPLACES the rank-range split — the
    drift-history certification needs snapshot-ALIGNED batches (its
    nightly-append contract), not equal-size ones."""
    import hashlib
    import shutil

    st = os.stat(src)
    key = (
        f"{src}:{st.st_size}:{st.st_mtime_ns}:{n_batches}"
        f"{key_suffix}:{split_expr}"
    )
    digest = hashlib.md5(key.encode()).hexdigest()[:24]
    root = "/tmp/spark_graft_stream_stage"
    stage = os.path.join(root, digest)
    if not os.path.isdir(stage) or len(os.listdir(stage)) != n_batches:
        df = spark.read.parquet(src)
        if fixup is not None:
            df = fixup(df)
        from pyspark.sql import Window

        if split_expr is None:
            n = df.count()
            per = -(-n // n_batches)
            ranked = df.withColumn(
                "_rn",
                F.row_number().over(
                    Window.orderBy(*[F.col(c).asc() for c in order_cols])
                ),
            )
        else:
            ranked = df.withColumn("_rn", F.expr(split_expr))
            # coverage guard (review r13): the chunk masks are _rn == i
            # for i in 0..n-1, so any expression value outside that
            # range (negative dividends — Spark % keeps the sign — or
            # an overshooting key) would stage a corpus silently
            # missing rows and certify against a truncated stream
            total = df.count()
            covered = ranked.where(
                (F.col("_rn") >= 0) & (F.col("_rn") < n_batches)
            ).count()
            if covered != total:
                raise ValueError(
                    f"_stage_parquet_batches: split_expr {split_expr!r} "
                    f"covers {covered} of {total} rows — every row must "
                    f"map into 0..{n_batches - 1}"
                )
        # a stale INCOMPLETE stage (listdir != n_batches) must not
        # survive the rebuild: remove it up front so the publish rename
        # below cannot be swallowed by its existence
        shutil.rmtree(stage, ignore_errors=True)
        with staged_build(stage, marker=None) as build:
            os.makedirs(build)
            for i in range(n_batches):
                chunk_dir = os.path.join(build, f"_chunk{i}")
                mask = (
                    F.col("_rn") == i
                    if split_expr is not None
                    else (F.col("_rn") > i * per)
                    & (F.col("_rn") <= (i + 1) * per)
                )
                (
                    ranked.where(mask)
                    .drop("_rn")
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(chunk_dir)
                )
                part = next(
                    p
                    for p in os.listdir(chunk_dir)
                    if p.endswith(".parquet")
                )
                dst = os.path.join(build, f"{i:03d}.parquet")
                os.replace(os.path.join(chunk_dir, part), dst)
                shutil.rmtree(chunk_dir)
                os.utime(dst, (st.st_mtime + i, st.st_mtime + i))
    return stage


def stage_event_stream(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> str:
    """Stage the bounded events fixture as ``n_batches`` parquet files
    ordered by event time, with strictly increasing mtimes — so a file
    source with ``maxFilesPerTrigger=1`` replays them as a deterministic
    sequence of micro-batches. Per-user arrival is in event-time order
    across batches (a global ts-range split IS a per-user prefix split),
    which is the regime where the one-pass stateful funnel equals the
    batch recurrence exactly (windows.stream_funnel docstring).

    Content-addressed under /tmp and reused across sessions; this
    staging is harness plumbing — production streams arrive from a real
    source (O1's queue contract, streaming/consumer.py)."""

    def _nanos_fixup(ev: DataFrame) -> DataFrame:
        if dict(ev.dtypes).get("ts") == "bigint":
            # legacy TIMESTAMP(NANOS) vintage read as int64 ns: rebuild
            # NTZ via an exact DECIMAL-seconds interval (micros ~1.7e18
            # are beyond double's exact range — float seconds banned)
            ev = ev.withColumn(
                "ts",
                F.expr(
                    "make_timestamp_ntz(1970, 1, 1, 0, 0, 0)"
                    " + make_dt_interval(0, 0, 0,"
                    " CAST(ts DIV 1000 AS DECIMAL(20, 0)) / 1000000)"
                ),
            )
        return ev

    return _stage_parquet_batches(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        ("ts", "event_id"),
        n_batches,
        fixup=_nanos_fixup,
    )


def _write_sentinel(
    spark: SparkSession,
    stage: str,
    rows: list[tuple[int, int, str]],
    path: str,
) -> str:
    """Write one far-future micro-batch (30 days past the staged
    horizon) holding one event per ``(event_id, user_id, event_type)``
    of ``rows`` as a single parquet file under ``path``, and return the
    file: the watermark-advancer that lets a bounded replay flush
    eviction- and timeout-driven state (outer-join null rows, timed-out
    sessions). Sentinel ids are negative so the shadows can filter them
    out."""
    events = spark.read.parquet(stage)
    horizon = events.agg(F.expr("max(ts) + INTERVAL 30 DAYS").alias("ts"))
    batch = functools.reduce(
        DataFrame.unionByName,
        [
            horizon.select(
                F.lit(eid).cast("long").alias("event_id"),
                "ts",
                F.lit(uid).cast("long").alias("user_id"),
                F.lit(etype).alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("").alias("props"),
            )
            for eid, uid, etype in rows
        ],
    )
    batch.select(events.columns).coalesce(1).write.parquet(path)
    return next(
        os.path.join(path, p) for p in os.listdir(path) if p.endswith(".parquet")
    )


def _replay(
    spark: SparkSession,
    stage: str,
    query,
    mode: str,
    sink="memory",
    read=None,
    arrivals: list[str] | None = None,
    legs: tuple[int, ...] = (),
    before_leg=None,
    sentinel: list[tuple[int, int, str]] | None = None,
) -> tuple[DataFrame, list[list[dict]]]:
    """Run ``query`` as a Structured Streaming query over the staged
    batch files ``stage`` and return ``(result, progress)``: the result
    materialized before the run's directory is deleted, and one list of
    progress dicts per leg (the module docstring states the lifecycle).

    ``query(source, out)`` builds the streaming frame from ``source()``,
    a fresh file-source frame (a stream-stream join calls it once per
    side), and ``out``, the run's output directory. ``sink`` is
    ``"memory"``, ``"parquet"`` (a file sink at ``out``) or
    ``sink(out)`` returning a ``foreachBatch`` handler, built once per
    run. ``read(out)`` builds the result; by default it is the last
    leg's memory table or the parquet sink's output.

    A live copy replaces the stage as the source when the shadow gives
    ``arrivals`` (the staged file names in arrival order), ``legs``
    (the arrival counts after which a leg ends; the query is down
    between legs, and ``before_leg(leg, out)`` runs before each leg
    starts) or ``sentinel`` rows (``_write_sentinel``, arriving last).
    """
    run = tempfile.mkdtemp(prefix="spark_graft_stream_run_")
    out = os.path.join(run, "out")
    views: list[str] = []
    try:
        files = [
            os.path.join(stage, f) for f in arrivals or sorted(os.listdir(stage))
        ]
        if sentinel:
            files.append(
                _write_sentinel(
                    spark, stage, sentinel, os.path.join(run, "sentinel")
                )
            )
        copied = bool(arrivals or legs or sentinel)
        live = os.path.join(run, "live") if copied else stage
        if copied:
            os.makedirs(live)
        schema = spark.read.parquet(stage).schema

        def source() -> DataFrame:
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(live)
            )

        handler = sink(out) if callable(sink) else None
        first_mtime = time.time() - 1000
        progress = []
        arrived = 0
        for leg, cut in enumerate((*legs, len(files))):
            if copied:
                # past, strictly increasing mtimes: the file source's
                # batch order is arrival order
                for i in range(arrived, cut):
                    dst = os.path.join(live, f"{i:03d}.parquet")
                    shutil.copyfile(files[i], dst)
                    os.utime(dst, (first_mtime + 10 * i,) * 2)
            arrived = cut
            if before_leg is not None:
                before_leg(leg, out)
            writer = (
                query(source, out)
                .writeStream.outputMode(mode)
                .option("checkpointLocation", os.path.join(run, "checkpoint"))
                .trigger(availableNow=True)
            )
            if handler is not None:
                writer = writer.foreachBatch(handler)
            elif sink == "parquet":
                writer = writer.format("parquet").option("path", out)
            else:
                views.append(f"{os.path.basename(run)}_{leg}")
                writer = writer.format("memory").queryName(views[-1])
            q = writer.start()
            q.awaitTermination()
            progress.append([json.loads(p.json) for p in q.recentProgress])
        if read is not None:
            result = read(out)
        elif views:
            result = spark.table(views[-1])
        else:
            result = spark.read.parquet(out)
        return result.localCheckpoint(eager=True), progress
    finally:
        for view in views:
            spark.catalog.dropTempView(view)
        shutil.rmtree(run, ignore_errors=True)


def _instant(events: DataFrame) -> DataFrame:
    """The staged NTZ ``ts`` as the instant with the same UTC wall clock
    (the catalog._read recipe): exact under any session zone (probed
    under America/Los_Angeles), and a type ``withWatermark`` accepts."""
    return events.withColumn(
        "ts",
        F.from_utc_timestamp(F.col("ts").cast("timestamp"), F.current_timezone()),
    )


def _type_aggs(events: DataFrame) -> DataFrame:
    """The stateful per-type aggregation of the restart and sink
    shadows; ``_tv`` is a DECIMAL sum, so it is exact in any order."""
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("_tv"),
    )


def _type_totals(aggs: DataFrame) -> DataFrame:
    """``_type_aggs``' rows in the oracle's shape."""
    return aggs.select(
        "event_type",
        "n_events",
        F.round(F.col("_tv").cast("double"), 2).alias("total_value"),
    ).orderBy(F.col("event_type").asc())


def _view_click_pairs(
    source, watermark_delay: str, how: str = "inner"
) -> DataFrame:
    """Each user's views joined to their clicks within one hour
    (windows.stream_interval_join), each side on its own file source:
    ``(user_id, view_id, click_id)``, payload-free so within-batch
    arrival order cannot leak into the result, with ``click_id`` -1 for
    an unmatched view (a NULL bigint would downcast both engines' pandas
    frames to float64 and leave NULLS-ordering divergence in the sort)."""
    from tdei_extract_load_service_spark.streaming.windows import (
        stream_interval_join,
    )

    def side(event_type: str) -> DataFrame:
        return (
            _instant(source())
            .where(F.col("event_type") == event_type)
            .select("user_id", "event_id", "ts")
        )

    return stream_interval_join(
        side("view"),
        side("click"),
        "user_id",
        within="1 hour",
        watermark_delay=watermark_delay,
        how=how,
    ).select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.coalesce(F.col("event_id_r"), F.lit(-1)).alias("click_id"),
    )


def windowed_aggs_shadow(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """The watermarked tumbling-window aggregation
    (windows.windowed_event_aggs), certified end to end: replay the
    events fixture as ``n_batches`` micro-batches and read the final
    COMPLETE-mode snapshot — in complete mode the memory sink holds
    exactly the last batch's full result, so no emission-reduction step
    is needed (state is never evicted on bounded input, which is also
    why complete mode is shadow-only: production uses update/append
    with the watermark bounding state).

    Returns ``(window_start ISO-string, event_type, n_events,
    total_value)`` — the same contract as the batch twin
    ``window_tumbling``, whose oracle shape this entry shares.
    Timezone discipline differs from the funnel shadow because
    ``withWatermark`` REJECTS TIMESTAMP_NTZ: ``_instant`` maps the
    staged NTZ column to the instant with the same UTC wall clock,
    F.window buckets those epoch-aligned instants, and normalize_ts
    renders UTC — so the buckets equal DuckDB's
    ``date_trunc('hour', naive)`` everywhere."""
    from tdei_extract_load_service_spark.functions import timestamps as TS
    from tdei_extract_load_service_spark.streaming.windows import (
        windowed_event_aggs,
    )

    stage = stage_event_stream(spark, sf_dir, n_batches)
    snap, _ = _replay(
        spark,
        stage,
        lambda source, out: windowed_event_aggs(_instant(source())),
        "complete",
    )
    return snap.select(
        TS.normalize_ts(F.col("window_start"), "yyyy-MM-dd'T'HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy(F.col("window_start").asc(), F.col("event_type").asc())


def funnel_shadow(spark: SparkSession, sf_dir: str, n_batches: int = 4) -> DataFrame:
    """The streaming funnel, certified end to end: replay the events
    fixture as ``n_batches`` micro-batches through
    ``windows.stream_funnel`` (GroupState crossing batch boundaries),
    then reduce the update-mode emissions to the final per-user state.

    The reduction is exact, not heuristic: funnel state only ever
    improves (a step time fills from -1 or moves earlier), so the final
    value of step i is the minimum reached value across emissions, and
    the final depth is the leading run of reached steps — both plain
    aggregates. Returns ``(user_id, steps_completed, t0, t1, t2)`` with
    times as epoch micros (NULL = step never reached), exactly the
    chained min-after-predecessor recurrence the SQL oracle computes."""
    from tdei_extract_load_service_spark.streaming.windows import stream_funnel

    stage = stage_event_stream(spark, sf_dir, n_batches)
    emits, _ = _replay(
        spark, stage, lambda source, out: stream_funnel(source()), "update"
    )

    def reached_min(i: int):
        t = F.col("step_times")[i]
        return F.min(F.when(t != -1, t))

    agg = emits.groupBy("user_id").agg(
        *[reached_min(i).alias(f"t{i}") for i in range(3)]
    )
    depth = (
        F.when(F.col("t2").isNotNull(), 3)
        .when(F.col("t1").isNotNull(), 2)
        .when(F.col("t0").isNotNull(), 1)
        .otherwise(0)
    )
    return agg.select(
        "user_id", depth.alias("steps_completed"), "t0", "t1", "t2"
    ).orderBy(F.col("user_id").asc())


def dedup_shadow(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Streaming deduplication, certified end to end: replay the events
    fixture as micro-batches through the PRODUCTION dedup API —
    ``withWatermark`` + ``dropDuplicatesWithinWatermark`` — and compare
    the accumulated append-mode emissions against batch DISTINCT.

    ``dropDuplicatesWithinWatermark`` is the API a 100 TB stream needs
    (state for a key is dropped once the watermark passes it; plain
    ``dropDuplicates`` pins every key forever), but its guarantee is
    only *at-least-once dedup within the delay*: a key recurring after
    eviction re-emits. The shadow makes that exact by choosing a delay
    (90 days) longer than the bounded fixture's whole event-time span,
    so zero evictions occur and the emission set IS the distinct key
    set — the equivalence a finite oracle can check, with the state
    lifecycle still exercised for real across four batches.

    Within a micro-batch, WHICH duplicate row survives is
    task-order-nondeterministic, so the streaming frame is projected to
    the dedup key columns BEFORE the dedup — emissions then carry no
    arrival-dependent payload. ``ts`` goes through ``_instant`` (the
    watermark rejects TIMESTAMP_NTZ) and is dropped after the watermark
    is planted."""

    def query(source, out) -> DataFrame:
        return (
            _instant(source())
            .select("ts", "user_id", "event_type")
            .withWatermark("ts", "90 days")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    stage = stage_event_stream(spark, sf_dir, n_batches)
    emits, _ = _replay(spark, stage, query, "append")
    return emits.orderBy(F.col("user_id").asc(), F.col("event_type").asc())


def session_shadow(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Session windows streamed for real: replay the events fixture as
    micro-batches through ``F.session_window`` — the MERGING state type
    (dynamic-width windows that extend/coalesce as events arrive), which
    none of the other shadows exercise — and read the final
    complete-mode snapshot. The oracle is the classic gaps-and-islands
    rewrite (lag + running sum), the same one the batch
    ``session_window`` entry proves, so the streaming path must land on
    identical sessions after its state crossed four batch boundaries.

    Timezone discipline: as windowed_aggs_shadow — ``_instant`` before
    the watermark, and session_start renders via normalize_ts."""
    from tdei_extract_load_service_spark.streaming.windows import (
        sessionized_event_aggs,
    )

    stage = stage_event_stream(spark, sf_dir, n_batches)
    snap, _ = _replay(
        spark,
        stage,
        lambda source, out: sessionized_event_aggs(
            _instant(source()).withWatermark("ts", "90 days")
        ),
        "complete",
    )
    return snap


def interval_join_shadow(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Stream-STREAM interval join, certified end to end — the JOIN
    state store, the one state type the other shadows above don't touch
    (with it, all five Structured Streaming state stores are
    driver-certified: aggregation, dedup, flatMapGroupsWithState,
    session, join). The view stream joins the click stream per user
    within ±1 hour (``_view_click_pairs``); both sides replay from the
    same staged micro-batch sequence, each with its own buffer, and
    every within-bound pair must emit exactly once in append mode —
    exact against the batch self-join oracle because the 90-day
    watermark delay means no buffered row is ever evicted before its
    last possible match (the state lifecycle still runs; production
    uses a tight delay and accepts bounded lateness).

    Returns ``(user_id, view_id, click_id)``."""
    stage = stage_event_stream(spark, sf_dir, n_batches)
    pairs, _ = _replay(
        spark,
        stage,
        lambda source, out: _view_click_pairs(source, "90 days"),
        "append",
    )
    return pairs.orderBy(
        F.col("user_id").asc(), F.col("view_id").asc(), F.col("click_id").asc()
    )


def timeout_session_shadow(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    metrics: dict | None = None,
    impl: str = "group_state",
) -> DataFrame:
    """GroupState EVENT-TIME TIMEOUT, certified end to end — the one
    custom-stateful-op mechanism no other shadow touches:
    ``windows.stream_session_timeout`` closes a per-user session either
    on the data path (a new event a full gap later) or on the TIMEOUT
    path (``state.hasTimedOut`` — the watermark passes
    ``last_event + gap`` and Spark re-invokes the function for the quiet
    group in a no-data batch). The funnel shadow runs GroupState with
    NoTimeout and the session shadow runs the built-in merging state;
    neither ever executes the expiry callback, which is exactly the code
    path a production TTL'd stateful operator (abandoned-cart, session
    finalization) lives or dies on.

    The replay appends one far-future sentinel event (user -1) so the
    final watermark passes every open session's deadline and the
    trailing no-data batch flushes them all through the timeout branch.
    Every session emits exactly once (the docstring of the operator
    carries the non-overlap argument); the oracle is the SAME
    gaps-and-islands recurrence that certifies session_window /
    stream_session_shadow, stated over epoch micros. ``metrics``
    receives per-path closure counts so the pytest can pin that the
    timeout branch genuinely fired (non-vacuous), plus sentinel
    containment.

    ``impl`` selects the stateful API: ``group_state`` (GroupState +
    implicit timeout, windows.stream_session_timeout) or ``tws`` (the
    Spark-4 transformWithStateInPandas v2 API with typed ValueState and
    REGISTERED TIMERS, windows.stream_session_tws; its timer-closed rows
    carry ``closed_by='timer'``). Both must land on the identical
    session set — the cross-API equality is pinned in pytest."""
    from tdei_extract_load_service_spark.streaming.windows import (
        stream_session_timeout,
        stream_session_tws,
    )

    if impl not in ("group_state", "tws"):
        raise ValueError("impl must be 'group_state' or 'tws'")
    op = stream_session_timeout if impl == "group_state" else stream_session_tws

    def query(source, out) -> DataFrame:
        ev = _instant(source()).withWatermark("ts", "0 seconds")
        return op(ev.select("user_id", "ts", F.unix_micros("ts").alias("ts_us")))

    stage = stage_event_stream(spark, sf_dir, n_batches)
    emits, _ = _replay(
        spark, stage, query, "update", sentinel=[(-1, -1, "view")]
    )
    if metrics is not None:
        metrics["closed_by_data"] = emits.where(
            (F.col("user_id") >= 0) & (F.col("closed_by") == "data")
        ).count()
        metrics["closed_by_timeout"] = emits.where(
            (F.col("user_id") >= 0)
            & (F.col("closed_by").isin("timeout", "timer"))
        ).count()
        metrics["sentinel_leaked"] = emits.where(F.col("user_id") < 0).count()
    return (
        emits.where(F.col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy(F.col("user_id").asc(), F.col("session_start").asc())
    )


def outer_join_shadow(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    metrics: dict | None = None,
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, certified end to end —
    the join semantics the inner shadow (interval_join_shadow) cannot
    touch: a null-padded row for an unmatched left event is emitted only
    when its buffered state EXPIRES — the watermark must pass
    ``view_ts + within`` before Spark can prove no future click will
    ever match — so correctness hangs on the eviction machinery itself,
    not just on pair matching.

    Deterministic final flush: on bounded input a too-long watermark
    delay would leave every unmatched view buffered forever (nothing
    evicts, the outer rows never emit — the inner shadows exploit
    exactly that with their 90-day delay). Here the delay is 0 seconds
    and the replay appends a SENTINEL micro-batch — one far-future view
    and one far-future click on impossible user ids (-1/-2) — so BOTH
    sides' watermarks (the global watermark is their min, and each
    side's filter would drop the other side's sentinel before its
    watermark node) jump past every real view's expiry and the trailing
    no-data batch flushes the complete unmatched set. The sentinels
    themselves match nothing and cannot emit: the sentinel view's own
    expiry sits above the final watermark, and an unmatched RIGHT row
    never emits from a left join (belt-and-braces: ids < 0 are filtered
    anyway).

    Delay-0 is exact here, not an approximation: the staged replay is
    globally event-time-ordered, so a click in batch i+1 that could
    still match a view (``click_ts <= view_ts + within``) implies the
    view's expiry is >= the watermark in force — it is still buffered.
    The oracle is therefore the plain batch LEFT JOIN, with ``click_id``
    COALESCEd to -1 on both engines. ``metrics`` receives
    matched/unmatched emission counts so the pytest can pin that
    null-padded rows actually flowed."""
    stage = stage_event_stream(spark, sf_dir, n_batches)
    pairs, _ = _replay(
        spark,
        stage,
        lambda source, out: _view_click_pairs(source, "0 seconds", "left_outer"),
        "append",
        sentinel=[(-1, -1, "view"), (-2, -2, "click")],
    )
    result = pairs.where(F.col("user_id") >= 0).orderBy(
        F.col("user_id").asc(), F.col("view_id").asc(), F.col("click_id").asc()
    )
    if metrics is not None:
        metrics["n_matched"] = result.where(F.col("click_id") >= 0).count()
        metrics["n_unmatched"] = result.where(F.col("click_id") == -1).count()
        metrics["sentinel_leaked"] = pairs.where(F.col("user_id") < 0).count()
    return result


def restart_shadow(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    stop_after: int = 2,
    metrics: dict | None = None,
) -> DataFrame:
    """Checkpoint restart RECOVERY, certified end to end — the contract
    the other shadows assume: a stateful query that dies mid-stream
    resumes from its checkpoint with (a) processed micro-batches never
    re-read and (b) aggregation state intact.

    Deterministic crash shape (a hard kill between micro-batches is a
    race): leg 1 runs the stateful per-type aggregation with
    ``Trigger.AvailableNow`` over a live source directory holding only
    the first ``stop_after`` staged batch files, then terminates — the
    service is down. The remaining files arrive while it is down. Leg 2
    starts a NEW query (new memory sink) on the SAME checkpoint: the
    file-source offset log must skip the already-committed files and
    the state store must restore leg 1's running aggregates, so the
    final complete-mode snapshot equals the batch GROUP BY over ALL
    events — which is exactly what the oracle recomputes. ``metrics``
    (optional) receives per-leg input-row counts and the resumed batch
    id, pinned in pytest: leg 2 reads ONLY the late files, and its
    first batch id continues leg 1's sequence.

    The behavioral ancestor is the reference's graceful drain + restart
    (src/server.ts app-context shutdown, reference app-context.ts:28-67):
    the queue consumer stops mid-backlog and the broker redelivers from
    the last ack — here the checkpoint IS the ack ledger. No timestamps
    cross the state path (plain count/sum), so the result is trivially
    session-tz independent."""
    stage = stage_event_stream(spark, sf_dir, n_batches)
    if not 0 < stop_after < len(os.listdir(stage)):
        raise ValueError("stop_after must split the staged batches")
    snap, (leg1, leg2) = _replay(
        spark,
        stage,
        lambda source, out: _type_aggs(source()),
        "complete",
        legs=(stop_after,),
    )
    if metrics is not None:
        metrics["leg1_rows"] = sum(p["numInputRows"] for p in leg1)
        metrics["leg2_rows"] = sum(p["numInputRows"] for p in leg2)
        metrics["leg2_batch_ids"] = [
            p["batchId"] for p in leg2 if p["numInputRows"] > 0
        ]
        metrics["staged_total_rows"] = spark.read.parquet(stage).count()
    return _type_totals(snap)


def sink_shadow(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """The exactly-once SINK path, certified end to end — the only
    shadow where the thing under test is the WRITE side: a streaming
    per-type aggregation replays the staged micro-batches and publishes
    every complete-mode snapshot through ``streaming/sink.py``'s
    foreachBatch handler — one manifest transaction per micro-batch,
    the committed batch id riding the same atomic pointer swap as the
    data (sinks/manifest.py; the streaming form of O18's
    single-Postgres-transaction guarantee,
    src/database/data-source.ts:33-65).

    The returned frame is read BACK from the warehouse through the
    manifest pointer (read_table), so the oracle checks the full loop:
    stream -> per-batch transactional publish -> snapshot read. After
    four batches the last committed snapshot is the aggregate over all
    events — exactly the batch GROUP BY the oracle runs. Replay
    idempotence (a re-delivered batch_id must be a no-op) is pinned in
    pytest, where the handler is invoked directly with a stale id and
    corrupted payload. No timestamps cross the state path, so the
    result is trivially session-tz independent."""
    from tdei_extract_load_service_spark.sinks.manifest import read_table
    from tdei_extract_load_service_spark.streaming.sink import (
        manifest_snapshot_sink,
    )

    stage = stage_event_stream(spark, sf_dir, n_batches)
    final, _ = _replay(
        spark,
        stage,
        lambda source, out: _type_aggs(source()).coalesce(1),
        "complete",
        sink=lambda out: manifest_snapshot_sink(out, "event_type_aggs"),
        read=lambda out: read_table(spark, out, "event_type_aggs"),
    )
    return _type_totals(final)


def enrich_shadow(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    stop_after: int | None = None,
    dim_mutate=None,
    metrics: dict | None = None,
) -> DataFrame:
    """Stream-STATIC join, certified end to end — the one state-bearing
    shape the shadows above don't touch: a streaming fact enriched
    against a static dimension (stateless on the stream side — no
    watermark, no buffer — but the static sub-plan is re-executed per
    micro-batch by Structured Streaming's incremental planner). The
    behavioral ancestor is the reference's extension features joining
    the minted ``ext_file_id`` dimension as they load
    (extract-load-service.ts:456-473): facts stream in, the dimension is
    table state maintained by the ETL path.

    The event stream replays the staged micro-batch sequence; the
    dimension is the customer table projected to
    ``(user_id, segment, dim_version)`` and written to a private
    parquet dir the static side scans. Every fact row joins exactly
    once (append mode, inner equi-join), so the final sink equals the
    batch join — the catalog oracle. The sink is parquet, not memory:
    the memory sink cannot recover an append-mode query from a
    checkpoint (leg 2 would refuse to start); the file sink's commit
    log is the recovery-capable append sink — and the
    production-faithful one.

    Dimension-update semantics (pinned in pytest via ``stop_after`` +
    ``dim_mutate``): the static side's PLAN is re-executed each
    micro-batch, but a parquet static side snapshots its file listing
    at query start — so dimension UPDATES become visible at query
    (re)start granularity, not mid-run. That is exactly the service
    shape: leg 1 enriches against dimension v1, the query drains
    (graceful drain, app-context.ts:28-67), the dimension is
    republished, and the resumed leg 2 — same checkpoint, offsets
    intact — enriches the remaining batches against v2. Production
    points the static read at a manifest-resolved version dir
    (sinks/manifest.py read_table), making "republish" one atomic
    pointer swap.

    ``metrics`` receives per-leg input-row counts so the pytest can pin
    that leg 2 read ONLY the post-crash files (offset continuity), and
    the ``dim_version`` column pins which dimension generation each
    fact row actually joined."""

    def dim_dir(out: str) -> str:
        # beside the sink's files: its reader lists only its commit log
        return os.path.join(out, "dimension")

    def before_leg(leg: int, out: str) -> None:
        if leg and dim_mutate is not None:
            dim_mutate()
            return
        cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        cust.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.lit(leg + 1).alias("dim_version"),
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir(out))

    def query(source, out) -> DataFrame:
        facts = source().select("event_id", "user_id", "event_type", "value")
        return facts.join(spark.read.parquet(dim_dir(out)), "user_id").select(
            "event_id", "user_id", "event_type", "segment", "dim_version"
        )

    stage = stage_event_stream(spark, sf_dir, n_batches)
    rows, progress = _replay(
        spark,
        stage,
        query,
        "append",
        sink="parquet",
        legs=() if stop_after is None else (stop_after,),
        before_leg=before_leg,
    )
    if metrics is not None:
        for leg, prog in enumerate(progress, 1):
            metrics[f"leg{leg}_rows"] = sum(p["numInputRows"] for p in prog)
    return rows.orderBy(F.col("event_id").asc())


def late_data_shadow(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 8,
    late_file: int = 4,
    metrics: dict | None = None,
) -> DataFrame:
    """Watermark LATE-DATA DROP, certified end to end — the one
    watermark behavior the windowed shadows don't exercise: every other
    shadow replays batches in event-time order, so nothing is ever
    late. Here the staged micro-batch sequence is replayed with slice
    ``late_file`` arriving LAST (arrival order is file mtime — the
    bounded source's batch order), i.e. its rows show up after the
    watermark has advanced a full week past them.

    Semantics pinned: an append-mode hourly aggregation with a
    0-second watermark delay must (a) DROP every row of the late slice
    — its windows end far below the watermark in force when it
    arrives — and (b) emit exactly the windows whose end the final
    watermark passed, built from on-time rows only. The DuckDB oracle
    states that rule directly: hourly aggs over every slice EXCEPT the
    late one, restricted to windows with end <= max on-time ts. The
    drop is also counted: ``metrics`` receives the state operator's
    ``numRowsDroppedByWatermark`` summed across batches — a LOWER
    bound on the drop (rows can also die at the pre-aggregation
    event-time filter, which that counter does not see; measured 104
    of 125 at sf0.001) — pinned positive in pytest alongside the hard
    value pin (output == on-time-only aggregation), so a semantics
    drift fails loudly rather than shifting values.

    Arrival-lag note (measured): the watermark used to FILTER a batch
    lags the reported watermark by one batch, so a slice only one
    batch out of order is NOT dropped — the late slice here arrives
    multiple batches after newer data, which is the regime the drop
    guarantee covers (and the realistic one: a partition replayed
    hours late, not a boundary race)."""
    from tdei_extract_load_service_spark.functions import timestamps as TS

    if not 0 < late_file < n_batches - 1:
        raise ValueError("late_file must be an interior slice")

    def query(source, out) -> DataFrame:
        return (
            _instant(source())
            .withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("ws"), "event_type", "n_events")
        )

    stage = stage_event_stream(spark, sf_dir, n_batches)
    files = sorted(os.listdir(stage))
    late = files.pop(late_file)
    windows, (progress,) = _replay(
        spark, stage, query, "append", sink="parquet", arrivals=[*files, late]
    )
    if metrics is not None:
        metrics["rows_dropped_by_watermark"] = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        )
        metrics["late_file_rows"] = spark.read.parquet(
            os.path.join(stage, late)
        ).count()
    return windows.select(
        TS.normalize_ts(F.col("ws"), "yyyy-MM-dd'T'HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
    ).orderBy(F.col("window_start").asc(), F.col("event_type").asc())


def merge_shadow(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
) -> DataFrame:
    """Streaming MERGE/upsert into a warehouse table — the incremental
    dual of sink_shadow (which replaces a complete-mode snapshot per
    batch; here the state lives IN THE TABLE and each micro-batch
    evolves it through ``streaming/sink.manifest_merge_sink`` ->
    ``operators/cdc.merge_upsert`` — the Delta-style ``foreachBatch``
    streaming-upsert recipe, which no other shadow exercises because
    every other sink is append or snapshot-replace).

    Harness: the customer snapshot seeds the table (one manifest
    transaction, dataset key 'seed'); the staged event micro-batches
    replay through a plain append-mode stream whose ONLY stateful part
    is the sink — per batch, latest-wins actions merge in (latest
    'error' deletes, other events upsert the balance, unseen user_ids
    insert: user 0 exercises the conditional-insert arm, custkeys start
    at 1), and each merged table version publishes atomically with the
    batch id as its dataset key.

    The final table equals the GLOBAL latest-wins merge (the cdc_apply
    oracle shape) because the staging's (ts, event_id) range split
    makes every batch a per-user prefix of that total order — so
    sequential per-batch merges compose to the one-shot batch MERGE,
    which is exactly what the SQL oracle states. Exactly-once and
    crash-resume live in pytest (replayed batch id is a no-op on the
    version ledger; a drained-then-resumed stream converges to the
    same table), mirroring the restart_shadow discipline.

    No event-time state, no watermark: ``balance`` carries the raw
    double (identical on both engines), and the only timestamps are
    inside the per-batch row_number, NTZ end-to-end.
    """
    from tdei_extract_load_service_spark.sinks.manifest import (
        ManifestTxn,
        read_table,
    )
    from tdei_extract_load_service_spark.streaming.sink import (
        manifest_merge_sink,
    )

    def seeded_sink(out: str):
        seed = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        with ManifestTxn(out) as txn:
            txn.write(
                "balances",
                seed.select(
                    F.col("c_custkey").alias("user_id"),
                    F.col("c_acctbal").alias("balance"),
                ).coalesce(1),
                "seed",
            )
        return manifest_merge_sink(
            out,
            "balances",
            "user_id",
            ("ts", "event_id"),
            "op",
            "balance",
            delete_op="error",
        )

    stage = stage_event_stream(spark, sf_dir, n_batches)
    table, _ = _replay(
        spark,
        stage,
        lambda source, out: source().select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("op"),
            F.col("value").alias("balance"),
        ),
        "append",
        sink=seeded_sink,
        read=lambda out: read_table(spark, out, "balances"),
    )
    return table.select("user_id", "balance").orderBy(F.col("user_id").asc())


def stage_document_stream(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> str:
    """Stage the bounded documents fixture as ``n_batches`` parquet
    files split by doc_id order with strictly increasing mtimes — the
    documents twin of ``stage_event_stream`` for file-source replay
    with ``maxFilesPerTrigger=1``, sharing ``_stage_parquet_batches``.
    Unlike the event staging, NO ordering property is load-bearing
    downstream: the dedup merge algebra is associative/commutative, so
    any split certifies; doc_id ranges just keep the staging
    content-addressed and the batches human-readable."""
    return _stage_parquet_batches(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        ("doc_id",),
        n_batches,
        key_suffix=":docs",
    )


def dedup_incremental_shadow(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
) -> DataFrame:
    """Streaming incremental dedup: a document stream feeds the stored
    exact-dedup survivor state through ``foreachBatch`` →
    ``streaming/sink.dedup_merge_sink`` → ``operators/dedup.
    merge_survivor_states`` — closing the loop between the streaming
    story and the index-freshness story (``dedup_incremental``'s
    nightly merge run continuously).

    Harness: the documents fixture replays as ``n_batches`` file-source
    micro-batches (doc_id-range split — NOT load-bearing: the merge
    algebra is associative/commutative, so any split converges); the
    survivor table starts EMPTY (``read_table`` types it) and each
    batch's fingerprint groups merge in, publishing one manifest
    transaction per batch with the batch id as its ledger key
    (exactly-once under at-least-once replay, the merge_shadow
    discipline).

    The final table is BIT-IDENTICAL to ``dedup_exact_groups`` over the
    whole corpus, which is exactly the SQL the catalog oracle states —
    so streamed == recomputed is value-certified every round. Unlike
    ``merge_shadow`` there is no prefix-order caveat to argue: min/+
    over hash groups compose under ANY partition.
    """
    from tdei_extract_load_service_spark.sinks.manifest import read_table
    from tdei_extract_load_service_spark.streaming.sink import (
        DEDUP_STATE_SCHEMA,
        dedup_merge_sink,
    )

    stage = stage_document_stream(spark, sf_dir, n_batches)
    state, _ = _replay(
        spark,
        stage,
        lambda source, out: source().select("doc_id", "text"),
        "append",
        sink=lambda out: dedup_merge_sink(out, "dedup_state", "doc_id", ["text"]),
        read=lambda out: read_table(
            spark, out, "dedup_state", schema=DEDUP_STATE_SCHEMA
        ),
    )
    return state.orderBy(F.col("content_hash").asc())


def drift_history_shadow(
    spark: SparkSession,
    sf_dir: str,
    n_snapshots: int = 4,
    num_centroids: int = 16,
    dim: int = 64,
    min_mean_cosine_fp: int = 300_000,
) -> DataFrame:
    """Streaming drift-history maintenance: an embedding stream feeds
    the stored drift history through ``foreachBatch`` →
    ``streaming/sink.drift_history_sink`` →
    ``operators/similarity.drift_history_stats``, and the alert rules
    evaluate over the streamed table — closing the loop between the
    streaming story and the MONITORING story
    (``build_drift_history_index``'s nightly append run continuously).

    Harness: the embeddings fixture replays as ``n_snapshots``
    file-source micro-batches ALIGNED to snapshot boundaries
    (``vec_id % n`` — load-bearing, unlike the dedup shadow's arbitrary
    split: rounded per-snapshot means cannot merge across partial
    batches, and the sink enforces exactly that contract). The cell
    model is FROZEN before the stream starts (the lowest-id vectors —
    production reads the stored model artifact); the history table
    starts EMPTY and each batch appends its snapshot's model-sized
    stats as one exactly-once manifest transaction.

    The final alerts are BIT-IDENTICAL to ``embedding_drift_alerts``
    over the whole corpus (each history row depends only on its own
    snapshot and the frozen model — the grown == rebuilt property the
    stored index pins), which is exactly the SQL the catalog oracle
    states — streamed == recomputed, value-certified every round.
    """
    from tdei_extract_load_service_spark.operators.similarity import (
        drift_alerts_over_history,
        ivf_centroids,
    )
    from tdei_extract_load_service_spark.sinks.manifest import read_table
    from tdei_extract_load_service_spark.streaming.sink import (
        DRIFT_HISTORY_SCHEMA,
        drift_history_sink,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    emb = spark.read.parquet(src)
    model_rows = ivf_centroids(
        emb, "vec_id", "embedding", num_centroids
    ).collect()  # bounded: the frozen monitoring model, not data
    cell_ids = sorted(int(r["centroid_id"]) for r in model_rows)
    stage = _stage_parquet_batches(
        spark,
        src,
        ("vec_id",),
        n_snapshots,
        key_suffix=":driftsnap",
        split_expr=f"vec_id % {n_snapshots}",
    )
    alerts, _ = _replay(
        spark,
        stage,
        lambda source, out: source().select("vec_id", "embedding"),
        "append",
        sink=lambda out: drift_history_sink(
            out,
            "drift_history",
            "vec_id",
            "embedding",
            lambda c: c % n_snapshots,
            model_rows,
            dim,
        ),
        read=lambda out: drift_alerts_over_history(
            read_table(spark, out, "drift_history", schema=DRIFT_HISTORY_SCHEMA),
            cell_ids,
            snapshots=list(range(n_snapshots)),
            min_mean_cosine_fp=min_mean_cosine_fp,
        ),
    )
    return alerts


def bm25_index_shadow(
    spark: SparkSession,
    sf_dir: str,
    terms: list[str],
    n_batches: int = 4,
    k: int = 10,
) -> DataFrame:
    """Streaming BM25 index maintenance: a document stream feeds the
    stored inverted index through ``foreachBatch`` →
    ``streaming/sink.bm25_index_sink`` → ``operators/text.
    bm25_batch_stats``, then the query serves from the STREAMED
    postings/doclen tables — closing the loop between the streaming
    story and the SEARCH story (``build_bm25_index``'s nightly build
    run continuously).

    Harness: the documents fixture replays as ``n_batches`` file-source
    micro-batches (doc_id-range split — NOT load-bearing: per-batch
    postings/doclen rows are disjoint unions, associative and
    commutative, so any split converges); both index tables start
    EMPTY and each batch appends in one exactly-once manifest
    transaction (a replayed batch id is a no-op; postings and doclen
    commit in the SAME pointer swap so they can never disagree).

    Serving derives df / avgdl from the streamed tables at query time
    (IDF's denominator is corpus-wide — storing it per batch would
    bake in staleness) and ranks through the SAME ``_bm25_rank``
    expression tree as inline ``bm25_topk``, so the result is
    BIT-IDENTICAL to the full-corpus query — which is exactly the SQL
    the catalog oracle states: streamed == recomputed, value-certified
    every round."""
    from tdei_extract_load_service_spark.operators.text import _bm25_rank
    from tdei_extract_load_service_spark.sinks.manifest import read_table
    from tdei_extract_load_service_spark.streaming.sink import (
        BM25_DOCLEN_SCHEMA,
        BM25_POSTINGS_SCHEMA,
        bm25_index_sink,
    )

    def serve(out: str) -> DataFrame:
        postings = read_table(
            spark, out, "bm25_postings", schema=BM25_POSTINGS_SCHEMA
        )
        dl = read_table(spark, out, "bm25_doclen", schema=BM25_DOCLEN_SCHEMA)
        scal = dl.agg(
            F.count("*").alias("n_docs"),
            (
                F.sum(F.col("dl").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("avgdl"),
        )
        tf = postings.where(F.col("term").isin(list(terms)))
        return _bm25_rank(tf, dl, scal, k=k, k1=1.2, b=0.75)

    stage = stage_document_stream(spark, sf_dir, n_batches)
    ranked, _ = _replay(
        spark,
        stage,
        lambda source, out: source().select("doc_id", "text"),
        "append",
        sink=lambda out: bm25_index_sink(
            out, "bm25_postings", "bm25_doclen", "doc_id", "text"
        ),
        read=serve,
    )
    return ranked
