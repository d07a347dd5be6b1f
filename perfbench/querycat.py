"""Catalog workload: read-only catalog queries, each run to a noop sink.

The query set is derived from ``bench.HEADLINE``: for each catalog module
(``REGISTRY[name].query.__module__``), its first headline entry in
headline order, skipping the entries listed in ``EXCLUDED``. Each pass runs
every selected query once; a query's time is its median over the passes.
"""

from __future__ import annotations

import math
import time

from corpus import build_tables
from stats import median

#: scale of the measured tables and of the warm pass's tables
SF = 0.001
#: passes a run makes at least, so every query has a median of two or more
MIN_PASSES = 2

#: headline entries the workload skips
EXCLUDED = frozenset(
    {
        # stored-index entries: they write under fixed directories outside
        # the working tree
        "dedup_embedding_lsh_stored",
        "embedding_lsh_probe_stored",
        "embedding_lsh_probe_multiband",
        "dedup_incremental",
        "dedup_embedding_incremental",
        "text_bm25_topk_stored",
        "zorder_range_scan",
        "similarity_ivf_pq_incremental",
        "similarity_rerank",
        "distinct_rollup_windows",
        "embedding_drift_alert_stored",
        "join_bucketed",
        "table_time_travel",
        "table_changes",
        # run-to-run spread of 0.8 s on a 1.4 s median at this scale
        "multimodal_audio",
    }
)

CONTROL_QUERY = "tpch_q1_pricing_summary"


def module_of(name: str) -> str:
    from tdei_extract_load_service_spark.catalog import REGISTRY

    return REGISTRY[name].query.__module__.rsplit(".", 1)[-1]


def headline_modules() -> list[str]:
    """Every catalog module that owns a headline entry, sorted."""
    from bench import HEADLINE

    return sorted({module_of(n) for n in HEADLINE})


def selected_queries() -> list[str]:
    """The first headline entry of each module, in headline order."""
    from bench import HEADLINE

    first: dict[str, str] = {}
    for name in HEADLINE:
        if name not in EXCLUDED:
            first.setdefault(module_of(name), name)
    return list(first.values())


def run_query(spark, name: str, tables: str) -> tuple[float, float, float]:
    """Build then execute one catalog query; returns (start, built, done)
    epoch seconds."""
    from tdei_extract_load_service_spark.catalog import REGISTRY

    start = time.time()
    df = REGISTRY[name].query(spark, tables)
    built = time.time()
    df.write.format("noop").mode("overwrite").save()
    return start, built, time.time()


class CatalogWorkload:
    #: per-layer name prefixes this workload does not exercise; they read 0
    IDLE_LAYERS = ("consumer.", "load.", "extract.", "transform.", "sink.")

    def prepare(self, cache: str, work: str, seed: int) -> None:
        self.names = selected_queries()
        self.tables = build_tables(cache, seed, SF)
        # the warm pass reads other files, so nothing it caches by plan is
        # reused by the measured passes
        self.warm_tables = build_tables(cache, seed + 7919, SF)
        self.runs: dict[str, list[tuple[float, float, float]]] = {n: [] for n in self.names}
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0
        self.passes = 0

    def warm(self, spark) -> None:
        for name in self.names:
            run_query(spark, name, self.warm_tables)

    def measure(self, spark, seconds: float, midpoint) -> None:
        elapsed, mid_done = 0.0, False
        while elapsed < seconds or self.passes < MIN_PASSES:
            for name in self.names:
                self.attempted += 1
                try:
                    span = run_query(spark, name, self.tables)
                except Exception as exc:  # noqa: BLE001 - a raising query is a failed op
                    self.failures.append((name, f"{type(exc).__name__}: {exc}"[:300]))
                    continue
                self.runs[name].append(span)
                elapsed += span[2] - span[0]
            self.passes += 1
            if not mid_done and elapsed >= seconds / 2:
                midpoint()
                mid_done = True

    def details(self) -> dict:
        return {
            "passes": self.passes,
            "query_s": {n: self._per_query(n) for n in self.names if self.runs[n]},
            "query_failures": self.failures,
        }

    def verify(self, spark) -> set:
        return {i for i, _ in enumerate(self.failures)}

    def _per_query(self, name: str) -> float:
        return median(done - start for start, _b, done in self.runs[name])

    def end_to_end(self, spans) -> dict[str, float]:
        per_query = [self._per_query(n) for n in self.names if self.runs[n]]
        return {
            "ops_per_s": len(per_query) / sum(per_query),
            # geometric mean: the median of ten unlike queries jumps between
            # whichever two sit in the middle
            "op_latency_s": math.exp(sum(math.log(t) for t in per_query) / len(per_query)),
        }

    def per_layer(self, spans, engine) -> dict[str, float]:
        out: dict[str, float] = {}
        all_windows = []
        for module in headline_modules():
            names = [n for n in self.names if module_of(n) == module and self.runs[n]]
            windows = [(s, d) for n in names for s, _b, d in self.runs[n]]
            all_windows.extend(windows)
            totals = engine.totals(windows)
            passes = max(self.passes, 1)
            out[f"catalog.{module}.build_s"] = sum(
                median(b - s for s, b, _d in self.runs[n]) for n in names
            )
            out[f"catalog.{module}.exec_s"] = sum(
                median(d - b for _s, b, d in self.runs[n]) for n in names
            )
            out[f"catalog.{module}.jobs"] = totals["jobs"] / passes
            out[f"catalog.{module}.tasks"] = totals["tasks"] / passes
            out[f"catalog.{module}.shuffle_bytes"] = totals["shuffle_bytes"] / passes
        n = max(len(all_windows), 1)
        totals = engine.totals(all_windows)
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
        return []

    def hooks(self, spans):
        return []
