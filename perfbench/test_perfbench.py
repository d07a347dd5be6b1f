"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m pytest perfbench -q

The two smoke tests start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from corpus import REUPLOAD_GAP, Backlog, BacklogParams, build_tables  # noqa: E402
from stats import TAIL_MIN_BEYOND, tail_percentile  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PARAMS = BacklogParams(
    "t", block_size=16, min_features=20, max_features=200,
    malformed_frac=0.1, unsupported_frac=0.05, reupload_frac=0.25,
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _backlog_bytes(root: str, seed: int) -> list[tuple[dict, bytes | None]]:
    backlog = Backlog(root, seed, PARAMS)
    out = []
    for m in backlog.take(0, 32):
        body = json.loads(json.dumps(m.body).replace(backlog.dir, "<dir>"))
        data = None
        if m.archive is not None:
            with open(m.archive.path, "rb") as fh:
                data = fh.read()
        out.append((body, data))
    return out


def test_generator_is_deterministic(tmp_path):
    first = _backlog_bytes(str(tmp_path / "a"), seed=7)
    assert first == _backlog_bytes(str(tmp_path / "b"), seed=7)
    assert first != _backlog_bytes(str(tmp_path / "c"), seed=8)


def test_tables_are_deterministic(tmp_path):
    a = build_tables(str(tmp_path / "a"), 5, 0.0005)
    b = build_tables(str(tmp_path / "b"), 5, 0.0005)
    for name in sorted(os.listdir(a)):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name


def test_every_block_has_the_same_mix(tmp_path):
    backlog = Backlog(str(tmp_path), 3, PARAMS)
    for b in range(3):
        msgs = backlog.take(16 * b, 16)
        unsupported = [m for m in msgs if m.archive is None]
        malformed = [m for m in msgs if m.archive is not None and m.archive.malformed]
        assert len(unsupported) == 1 and len(malformed) == 2
        sizes = sorted(sum(m.archive.counts.values()) for m in msgs if m.archive)
        assert sizes[0] < 40 and sizes[-1] > 100
    seen: dict[str, int] = {}
    reuploads = 0
    for m in backlog._messages:
        if m.dataset_id in seen:
            reuploads += 1
            assert m.index - seen[m.dataset_id] >= REUPLOAD_GAP
        seen[m.dataset_id] = m.index
    assert reuploads == 4 * 3


def test_every_generated_kind_appears(tmp_path):
    backlog = Backlog(str(tmp_path), 1, PARAMS)
    kinds = set()
    for m in backlog.take(0, 32):
        if m.archive is not None:
            kinds |= set(m.archive.counts)
    assert kinds == {"nodes", "edges", "points", "lines", "polygons", "zones", "extension"}


@pytest.mark.parametrize("n", [0, 5, 10, 11, 19, 20, 21, 37, 100, 1000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    samples = list(range(n))
    tail = tail_percentile(samples)
    if n < 2 * TAIL_MIN_BEYOND:  # not even the median has ten beyond it
        assert tail is None
        return
    pct, value = tail
    assert sum(1 for s in samples if s > value) >= TAIL_MIN_BEYOND
    if pct < 99:  # one percentile higher leaves fewer than ten beyond
        assert n - math.ceil((pct + 1) * n / 100) < TAIL_MIN_BEYOND


def test_benchmark_json_follows_the_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    names = []
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        names.append(w["name"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_catalog_layers_cover_every_headline_module():
    from querycat import headline_modules, selected_queries

    declared = {
        m["name"].split(".")[1] for m in _spec()["per_layer"] if m["name"].startswith("catalog.")
    }
    assert declared == set(headline_modules())
    assert len(selected_queries()) >= len(declared) - 1


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "svc_burst", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace,section",
    [("svc_burst", 1, "per_layer"), ("catalog_headline", 0, "end_to_end")],
)
def test_smoke_run_emits_every_declared_name(workload, trace, section):
    result = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in _spec()[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
