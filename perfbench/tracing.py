"""Tracing from outside the program: spans around calls into package
functions, and Spark's own status store read after the measured window.

Nothing here edits package source. A ``Spans`` object replaces a module
attribute with a timing wrapper for the life of a ``with`` block; the
wrapper records ``(start, end)`` wall-clock intervals per layer name.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Spans:
    """Wall-clock intervals per layer, recorded from any thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.spans: dict[str, list[tuple[float, float]]] = {}
        self.results: dict[str, list] = {}

    def add(self, layer: str, start: float, end: float, result=None) -> None:
        with self._lock:
            self.spans.setdefault(layer, []).append((start, end))
            if result is not None:
                self.results.setdefault(layer, []).append(result)

    def durations(self, layer: str) -> list[float]:
        return [end - start for start, end in self.spans.get(layer, [])]

    def total(self, layer: str) -> float:
        return sum(self.durations(layer))

    def count(self, layer: str) -> int:
        return len(self.spans.get(layer, []))

    @contextlib.contextmanager
    def wrap(self, module, attr: str, layer: str, keep_result: bool = False):
        """Time every call of ``module.attr`` as a ``layer`` span while the
        block runs; restore the original afterwards."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            start = time.time()
            out = original(*args, **kwargs)
            self.add(layer, start, time.time(), (args, kwargs, out) if keep_result else None)
            return out

        setattr(module, attr, timed)
        try:
            yield
        finally:
            setattr(module, attr, original)


def _opt_time_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


class EngineLog:
    """Jobs and stages from Spark's status store, attributed to wall-clock
    windows by job submission time. Read once, after measuring: every
    attribute is a py4j round trip."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        stages = {}
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        seq = store.stageList(None, False, False, no_quantiles, None)
        for i in range(seq.size()):
            s = seq.apply(i)
            stages[(s.stageId(), s.attemptId())] = (
                s.numTasks(),
                s.executorRunTime() / 1000.0,
                s.shuffleWriteBytes(),
                s.inputBytes(),
            )
        by_stage: dict[int, list] = {}
        for (stage_id, _attempt), row in stages.items():
            by_stage.setdefault(stage_id, []).append(row)
        self.jobs = []  # (submitted epoch s, n_stages, tasks, run_s, shuffle_w, input)
        seq = store.jobsList(None)
        for i in range(seq.size()):
            job = seq.apply(i)
            submitted = _opt_time_ms(job.submissionTime())
            if submitted is None:
                continue
            ids = job.stageIds()
            rows = [r for k in range(ids.size()) for r in by_stage.get(ids.apply(k), [])]
            self.jobs.append(
                (
                    submitted / 1000.0,
                    len(rows),
                    sum(r[0] for r in rows),
                    sum(r[1] for r in rows),
                    sum(r[2] for r in rows),
                    sum(r[3] for r in rows),
                )
            )

    def totals(self, windows) -> dict[str, float]:
        """Sums over jobs submitted inside any of the ``(start, end)``
        windows (epoch seconds). A stage skipped because its shuffle output
        was reused is listed by the job but ran no tasks."""
        out = dict(jobs=0, stages=0, tasks=0, run_s=0.0, shuffle_bytes=0, input_bytes=0)
        windows = list(windows)
        for submitted, n_stages, tasks, run_s, shuffle_w, input_b in self.jobs:
            if any(start <= submitted <= end for start, end in windows):
                out["jobs"] += 1
                out["stages"] += n_stages
                out["tasks"] += tasks
                out["run_s"] += run_s
                out["shuffle_bytes"] += shuffle_w
                out["input_bytes"] += input_b
        return out


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM (``VmHWM``), in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()
