"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread (``(q3 - q1) / median``) per workload, next to
its bound in ``BENCHMARK.json``. With ``--overhead``, every seed also gets a
traced run, and the report adds the tracing overhead: the traced run's
``trace.*`` end-to-end values against the untraced run's.

    python3 perfbench/spread.py --workload svc_burst --seeds 1-5
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, relative_iqr  # noqa: E402


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def one_run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [
        sys.executable,
        *spec["command"][1:],
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]),
        "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"incorrect output on seed {seed}: {detail.get('failures')}")
    return {"detail": detail, "result": result}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)

    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    traced: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    controls = []
    for seed in seed_list(args.seeds):
        run = one_run(spec, args.workload, seed, 0)
        for name, m in run["result"]["metrics"].items():
            values[name].append(m["value"])
        controls.append(run["detail"]["host"]["control_rel_spread"])
        line = {k: round(v[-1], 4) for k, v in values.items()}
        if args.overhead:
            metrics = one_run(spec, args.workload, seed, 1)["result"]["metrics"]
            for name in traced:
                traced[name].append(metrics[f"trace.{name}"]["value"])
            line["traced"] = {k: round(v[-1], 4) for k, v in traced.items()}
        print(json.dumps({"seed": seed, **line}), flush=True)

    report = {"workload": args.workload, "runs": len(controls), "metrics": {}}
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        entry = {"median": median(vals), "bound": m["bound"]}
        if len(vals) >= 2:
            entry["spread"] = relative_iqr(vals)
        if args.overhead:
            entry["traced_median"] = median(traced[m["name"]])
            entry["overhead"] = entry["traced_median"] / entry["median"] - 1
        report["metrics"][m["name"]] = entry
    report["control_rel_spread_max"] = max(controls)
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
