"""Service workloads: request backlogs drained by the queue consumer.

Messages go in as request files through ``streaming.consumer
.run_queue_consumer`` at its default intake of two concurrent messages,
``DRAIN_SIZE`` messages per consumer run, and come out as response files.
The only hook in an untraced run times ``process_request``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from corpus import Backlog, BacklogParams, expected_state
from stats import interval_union, median, tail_percentile

LOAD_STAGES = ("delete", "extract", "transform", "load", "metadata", "stats")
#: messages per consumer run: two runs drain one 16-message mix block, and
#: the middle control query runs between them
DRAIN_SIZE = 8


class ServiceWorkload:
    """One backlog shape, drained ``DRAIN_SIZE`` messages at a time until
    ``seconds`` of consumer wall time have passed."""

    #: per-layer name prefixes this workload does not exercise; they read 0
    IDLE_LAYERS = ("catalog.",)

    def __init__(self, params: BacklogParams, warm: BacklogParams):
        self.params = params
        self.warm_params = warm

    def prepare(self, cache: str, work: str, seed: int) -> None:
        """Generate (or reuse) the archives; not part of set-up time."""
        self.work = work
        self.t_base = time.time() - 86_400
        self.backlog = Backlog(cache, seed, self.params)
        self.backlog.take(0, 2 * DRAIN_SIZE)  # later messages are generated when needed
        self.warm_backlog = Backlog(cache, seed, self.warm_params)
        self.warm_backlog.take(0, self.warm_params.block_size)
        self.sent = []
        self.windows: list[tuple[float, float]] = []

    def _dirs(self, name: str) -> dict[str, str]:
        base = os.path.join(self.work, name)
        return {k: os.path.join(base, k) for k in ("requests", "responses", "warehouse", "checkpoint")}

    def _drain(self, spark, dirs: dict[str, str], messages) -> tuple[float, float]:
        from tdei_extract_load_service_spark.streaming import consumer

        os.makedirs(dirs["requests"], exist_ok=True)
        for m in messages:
            path = os.path.join(dirs["requests"], f"req-{m.index:05d}.json")
            with open(path, "w") as fh:
                fh.write(json.dumps(m.body) + "\n")
            # the file source takes the oldest files first: message order
            # is modification-time order
            os.utime(path, (self.t_base + m.index, self.t_base + m.index))
        start = time.time()
        consumer.run_queue_consumer(
            spark,
            request_dir=dirs["requests"],
            response_dir=dirs["responses"],
            warehouse=dirs["warehouse"],
            checkpoint_dir=dirs["checkpoint"],
        )
        return start, time.time()

    def warm(self, spark) -> None:
        """Set-up pass: one small block through the same consumer path,
        in its own directories."""
        dirs = self._dirs("warm")
        self._drain(spark, dirs, self.warm_backlog.take(0, self.warm_params.block_size))
        shutil.rmtree(os.path.dirname(dirs["requests"]), ignore_errors=True)

    def measure(self, spark, seconds: float, midpoint) -> None:
        self.dirs = self._dirs("run")
        drained, mid_done = 0.0, False
        while drained < seconds:
            messages = self.backlog.take(len(self.sent), DRAIN_SIZE)
            start, end = self._drain(spark, self.dirs, messages)
            self.windows.append((start, end))
            self.sent.extend(messages)
            drained += end - start
            if not mid_done and drained >= seconds / 2:
                midpoint()
                mid_done = True

    # -- output checks -----------------------------------------------------

    def verify(self, spark) -> set[int]:
        """Indices of messages whose outcome is not the expected one."""
        from pyspark.sql import functions as F

        from tdei_extract_load_service_spark.plans.load_dataset import SINK_TABLES, read_sink

        bad: set[int] = set()
        responses: dict[str, list[dict]] = {}
        for name in os.listdir(self.dirs["responses"]):
            with open(os.path.join(self.dirs["responses"], name)) as fh:
                try:
                    doc = json.load(fh)
                except json.JSONDecodeError:  # a torn response
                    bad.add(-1)
                    continue
            responses.setdefault(doc.get("messageId"), []).append(doc)
        for m in self.sent:
            got = responses.pop(m.body["messageId"], [])
            if len(got) != 1 or got[0]["data"].get("success") is not m.expect_success:
                bad.add(m.index)
        if responses:  # a response nobody asked for
            bad.add(-1)

        wh = self.dirs["warehouse"]
        frames = [
            read_sink(spark, wh, table).select(
                F.lit(kind).alias("kind"), "tdei_dataset_id", "requested_by"
            )
            for kind, table in SINK_TABLES.items()
        ]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        landed: dict[str, dict[tuple[str, str], int]] = {}
        for row in union.groupBy("tdei_dataset_id", "kind", "requested_by").count().collect():
            landed.setdefault(row["tdei_dataset_id"], {})[(row["kind"], row["requested_by"])] = row["count"]
        elevation: dict[str, int] = {}
        for row in (
            read_sink(spark, wh, "dataset_stats")
            .groupBy("tdei_dataset_id")
            .agg(F.sum("n_with_elevation").alias("z"))
            .collect()
        ):
            elevation[row["tdei_dataset_id"]] = row["z"]

        last = {m.dataset_id: m.index for m in self.sent}
        final = expected_state(self.sent)
        for dataset_id, m in final.items():
            want = {}
            if m is not None:
                want = {(k, m.uploader): n for k, n in m.archive.counts.items() if n}
            got_rows = landed.pop(dataset_id, {})
            got_z = elevation.pop(dataset_id, None)
            want_z = m.archive.z_features if m is not None else None
            if got_rows != want or got_z != want_z:
                bad.add(last[dataset_id])
        if landed or elevation:  # rows of a dataset nobody loaded
            bad.add(-1)
        return bad

    @property
    def attempted(self) -> int:
        return len(self.sent)

    def details(self) -> dict:
        return {"drain_s": [e - s for s, e in self.windows]}

    # -- metrics -----------------------------------------------------------

    def end_to_end(self, spans) -> dict[str, float]:
        drained = sum(end - start for start, end in self.windows)
        return {
            "ops_per_s": len(self.sent) / drained,
            "op_latency_s": median(spans.durations("process_request")),
        }

    def per_layer(self, spans, engine) -> dict[str, float]:
        out: dict[str, float] = {}
        drained = sum(end - start for start, end in self.windows)
        n = len(self.sent)
        batches = len(
            [f for f in os.listdir(os.path.join(self.dirs["checkpoint"], "commits")) if f.isdigit()]
        )
        busy = interval_union(spans.spans.get("process_request", []))
        tail = tail_percentile(spans.durations("process_request"))
        out.update(
            {
                "consumer.msgs": n,
                "consumer.batches": batches,
                "consumer.msgs_per_batch": n / max(batches, 1),
                "consumer.busy_s": busy,
                "consumer.idle_s": max(drained - busy, 0.0),
                "consumer.tail_pct": tail[0] if tail else 0,
                "consumer.tail_s": tail[1] if tail else 0.0,
            }
        )
        by_path = {m.archive.path: m.archive for m in self.sent if m.archive is not None}
        calls = [(kw["archive_path"], r) for _a, kw, r in spans.results.get("load_dataset", [])]
        loads = [r for _p, r in calls if r.success]
        archives = [by_path[p] for p, r in calls if r.success]
        for stage in LOAD_STAGES:
            out[f"load.{stage}_s"] = median(r.timings.get(stage, 0.0) for r in loads)
        input_bytes = sum(a.entry_bytes for a in archives)
        extract_s = sum(r.timings.get("extract", 0.0) for r in loads)
        transform_s = sum(r.timings.get("transform", 0.0) for r in loads)
        features = sum(sum(r.feature_counts.values()) for r in loads)
        out.update(
            {
                "extract.entries": sum(a.entries for a in archives),
                "extract.input_bytes": input_bytes,
                "extract.mb_per_s": input_bytes / 1e6 / extract_s if extract_s else 0.0,
                "transform.features": features,
                "transform.features_per_s": features / transform_s if transform_s else 0.0,
                "transform.z_features": sum(a.z_features for a in archives),
                "sink.write_calls": spans.count("overwrite_by_key"),
                "sink.write_s": spans.total("overwrite_by_key"),
                "sink.delete_calls": spans.count("delete_by_key"),
                "sink.delete_s": spans.total("delete_by_key"),
            }
        )
        files, stored = 0, 0
        for dirpath, _dirs, names in os.walk(self.dirs["warehouse"]):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    stored += os.path.getsize(os.path.join(dirpath, name))
        resident = sum(
            m.archive.entry_bytes for m in expected_state(self.sent).values() if m is not None
        )
        out["sink.files"] = files
        out["sink.bytes_per_input_byte"] = stored / resident if resident else 0.0
        totals = engine.totals(self.windows)
        out.update(
            {
                "spark.jobs_per_op": totals["jobs"] / n,
                "spark.stages_per_op": totals["stages"] / n,
                "spark.tasks_per_op": totals["tasks"] / n,
                "spark.executor_run_s": totals["run_s"] / n,
                "spark.shuffle_write_bytes": totals["shuffle_bytes"] / n,
                "spark.input_bytes": totals["input_bytes"] / n,
            }
        )
        return out

    def traced(self, spans):
        """Context managers that add the per-layer spans."""
        from tdei_extract_load_service_spark.plans import load_dataset as ld
        from tdei_extract_load_service_spark.sinks import writers
        from tdei_extract_load_service_spark.streaming import consumer

        return [
            spans.wrap(consumer, "load_dataset", "load_dataset", keep_result=True),
            spans.wrap(ld, "overwrite_by_key", "overwrite_by_key"),
            spans.wrap(writers, "delete_by_key", "delete_by_key"),
        ]

    def hooks(self, spans):
        from tdei_extract_load_service_spark.streaming import consumer

        return [spans.wrap(consumer, "process_request", "process_request")]
