"""Benchmark runner for the extract-load service and its query catalog.

Run from the repository root:

    python3 perfbench/run.py --workload svc_burst --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric of ``BENCHMARK.json`` with ``--trace 0``, every per-layer metric with
``--trace 1``. The line before it carries the run's details, host noise
included (cores, load average, a fixed control query at the start, middle
and end). Inputs are generated from ``--seed`` and cached under
``.perfbench_cache``; scratch state lives under ``.perfbench_work`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from corpus import BacklogParams, build_tables  # noqa: E402
from stats import median  # noqa: E402

PACKAGE = "tdei_extract_load_service_spark"
#: scale of the tables the control query reads
CONTROL_SF = 0.001


def _workloads() -> dict:
    from querycat import CatalogWorkload
    from service import ServiceWorkload

    return {
        "svc_burst": ServiceWorkload(
            BacklogParams(
                "svc_burst",
                block_size=16,
                min_features=100,
                max_features=5000,
                malformed_frac=0.10,
                unsupported_frac=0.05,
                reupload_frac=0.25,
            ),
            BacklogParams("svc_burst-warm", block_size=2, min_features=100, max_features=300),
        ),
        "catalog_headline": CatalogWorkload(),
    }


def start_session(work: str):
    from tdei_extract_load_service_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, the JVM must not outlive us
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def control_query(spark, tables: str) -> float:
    from querycat import CONTROL_QUERY, run_query

    start, _built, done = run_query(spark, CONTROL_QUERY, tables)
    return done - start


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args, root: str, work: str, spec: dict) -> dict:
    """One benchmark run; returns the detail record with the result in
    ``result``."""
    from querycat import CONTROL_QUERY
    from tracing import EngineLog, Spans, cached_rdds, jvm_peak_rss_mb

    cache = os.path.join(root, ".perfbench_cache")
    wl = _workloads()[args.workload]

    t0 = time.perf_counter()
    wl.prepare(cache, work, args.seed)
    control_tables = build_tables(cache, args.seed, CONTROL_SF)
    generate_s = time.perf_counter() - t0

    host = {"nproc": os.cpu_count(), "cpus_usable": len(os.sched_getaffinity(0))}
    host["loadavg_start"] = os.getloadavg()[0]

    t0 = time.perf_counter()
    spark = start_session(work)
    wl.warm(spark)
    control_query(spark, control_tables)
    setup_s = time.perf_counter() - t0

    spans = Spans()
    controls = [control_query(spark, control_tables)]
    with contextlib.ExitStack() as stack:
        for cm in wl.hooks(spans) + (wl.traced(spans) if args.trace else []):
            stack.enter_context(cm)
        wl.measure(spark, args.seconds, lambda: controls.append(control_query(spark, control_tables)))
    controls.append(control_query(spark, control_tables))
    host["loadavg_end"] = os.getloadavg()[0]
    host["control_query"] = CONTROL_QUERY
    host["control_s"] = controls
    host["control_rel_spread"] = (max(controls) - min(controls)) / min(controls)

    bad = wl.verify(spark)
    e2e = {"setup_s": setup_s, **wl.end_to_end(spans)}

    if args.trace:
        engine = EngineLog(spark)
        values = wl.per_layer(spans, engine)
        for m in spec["per_layer"]:
            if m["name"].startswith(wl.IDLE_LAYERS):
                values.setdefault(m["name"], 0)
        values.update(
            {
                "spark.cached_rdds_end": cached_rdds(spark),
                "spark.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
                "host.nproc": host["cpus_usable"],
                "host.loadavg_start": host["loadavg_start"],
                "host.loadavg_end": host["loadavg_end"],
                "host.control_s": median(controls),
                "host.control_rel_spread": host["control_rel_spread"],
                **{f"trace.{k}": v for k, v in e2e.items()},
            }
        )
        declared = spec["per_layer"]
    else:
        values = e2e
        declared = spec["end_to_end"]

    names = {m["name"] for m in declared}
    if set(values) != names:
        raise SystemExit(
            f"perfbench: metric names differ from BENCHMARK.json: "
            f"missing {sorted(names - set(values))}, extra {sorted(set(values) - names)}"
        )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "generate_s": generate_s,
        "host": host,
        "failures": sorted(bad),
    }
    detail.update(wl.details())
    detail["result"] = {
        "correct": not bad,
        "attempted": wl.attempted,
        "failed": len(bad),
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared
        },
    }
    spark.stop()
    return detail


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, PACKAGE)) or not os.path.isfile(spec_path):
        print(
            f"perfbench: run from the repository root ({PACKAGE}/ and BENCHMARK.json "
            "must be in the working directory)",
            file=sys.stderr,
        )
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run writes stays inside the working tree
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)
    try:
        detail = run(args, root, work, spec)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    result = detail.pop("result")
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
