"""Plan memos: bounded ``functools.lru_cache`` functions, DataFrame-valued
ones keyed on their session, and no hand-written module-level memo dicts.
The events read touches ``nanosAsLong`` only for the TIMESTAMP(NANOS)
fixture vintage."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import shutil

from tests.conftest import SF_SMOKE

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "tdei_extract_load_service_spark"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"
TZ = "spark.sql.session.timeZone"

#: module-level dicts that are not plan memos: the catalog registry, the
#: per-sink-root write locks, persist_scoped's one generation per scope,
#: and the bloom broadcasts (their eviction must unpersist, which
#: lru_cache cannot hook)
NOT_PLAN_MEMOS = {"REGISTRY", "_PATH_LOCKS", "_SCOPED_PERSISTS", "_BLOOM_BCAST_CACHE"}
EMPTY_DICT_CALLS = {"dict", "OrderedDict", "defaultdict"}


def _call_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_empty_dict(value: ast.AST | None) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    return isinstance(value, ast.Call) and _call_name(value.func) in EMPTY_DICT_CALLS


def _unbounded_caches(tree: ast.Module) -> list[int]:
    """Line numbers of ``functools.cache`` uses and of ``lru_cache`` uses
    without an explicit, non-None ``maxsize``."""
    calls = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    bad = []
    for node in ast.walk(tree):
        name = _call_name(node)
        if name == "cache" and (
            isinstance(node, ast.Attribute) and _call_name(node.value) == "functools"
        ):
            bad.append(node.lineno)
        elif name == "lru_cache" and id(node) not in calls:
            bad.append(node.lineno)  # bare decorator: implicit size
        elif isinstance(node, ast.Call) and _call_name(node.func) == "lru_cache":
            sizes = [k.value for k in node.keywords if k.arg == "maxsize"] + node.args[:1]
            if not sizes or (isinstance(sizes[0], ast.Constant) and sizes[0].value is None):
                bad.append(node.lineno)
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "functools":
            bad += [node.lineno for a in node.names if a.name == "cache"]
    return sorted(bad)


def test_no_unbounded_plan_memos():
    """Every memo in the package is a bounded lru_cache: a module-level
    empty dict outside NOT_PLAN_MEMOS, a ``functools.cache`` or an
    ``lru_cache`` with no finite ``maxsize`` fails."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PACKAGE.parent)
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            names = {t.id for t in targets if isinstance(t, ast.Name)}
            if _is_empty_dict(value) and names - NOT_PLAN_MEMOS:
                offenders.append(f"{rel}:{node.lineno} module-level dict {sorted(names)}")
        offenders += [f"{rel}:{ln} unbounded cache" for ln in _unbounded_caches(tree)]
    assert not offenders, offenders


def test_guard_flags_memo_dicts_and_unbounded_caches():
    """The guard's own checks, on source it must reject and accept."""
    src = (
        "import functools\nfrom functools import cache\n"
        "@functools.lru_cache\ndef a(): pass\n"
        "@functools.lru_cache(maxsize=None)\ndef b(): pass\n"
        "@functools.cache\ndef c(): pass\n"
        "@functools.lru_cache(maxsize=8)\ndef d(): pass\n"
    )
    assert _unbounded_caches(ast.parse(src)) == [2, 3, 5, 7]
    assert _is_empty_dict(ast.parse("X: dict = {}").body[0].value)
    assert not _is_empty_dict(ast.parse("X = {1: 2}").body[0].value)


def test_read_plan_served_only_to_building_session(spark, tmp_path):
    """A second session on the same SparkContext, with the timezone and
    nanosAsLong of the first so every conf-derived key part matches, gets
    its own plans; one session gets the identical plan twice."""
    from tdei_extract_load_service_spark import catalog
    from tdei_extract_load_service_spark.operators import text as TX

    s2 = spark.newSession()
    s2.conf.set(TZ, spark.conf.get(TZ))
    s2.conf.set(NANOS, spark.conf.get(NANOS, "false"))
    first = catalog._read(spark, SF_SMOKE, "orders")
    assert catalog._read(spark, SF_SMOKE, "orders") is first
    other = catalog._read(s2, SF_SMOKE, "orders")
    assert other.sparkSession is s2
    assert first.sparkSession is spark

    sub = str(tmp_path / "idx" / "postings")
    spark.range(3).write.parquet(sub)
    with open(tmp_path / "idx" / "_meta.json", "w") as fh:
        json.dump({"v": 1}, fh)
    plan = TX._index_read(spark, sub)
    assert TX._index_read(spark, sub) is plan
    assert TX._index_read(s2, sub).sparkSession is s2
    assert TX._index_read(s2, sub).count() == 3


def test_read_events_leaves_nanos_conf_alone(spark):
    """The micros fixture reads without nanosAsLong, and the read does not
    change the caller's session conf."""
    from tdei_extract_load_service_spark.catalog import _read_events

    s2 = spark.newSession()
    ev = _read_events(s2, SF_SMOKE)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert s2.conf.get(NANOS, "false") == "false"


def test_read_events_nanos_vintage_truncates_to_micros(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file still reads as a micros TIMESTAMP;
    only this vintage sets nanosAsLong, which its scan needs at execution."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tdei_extract_load_service_spark.catalog import _read_events

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    s2 = spark.newSession()
    ev = _read_events(s2, str(tmp_path))
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = [r[0] for r in ev.orderBy("event_id").select(F.unix_micros("ts")).collect()]
    assert got == [v // 1000 for v in ns]
    assert s2.conf.get(NANOS) == "true"


def test_stage_rebuilds_after_delete(spark, tmp_path):
    """The stage directory is the only stream-stage cache: deleting it
    makes the next call stage again."""
    from tdei_extract_load_service_spark.streaming.shadow import _stage_parquet_batches

    src = str(tmp_path / "region.parquet")
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), src)
    stage = _stage_parquet_batches(spark, src, ("r_regionkey",), 2)
    try:
        shutil.rmtree(stage)
        again = _stage_parquet_batches(spark, src, ("r_regionkey",), 2)
        assert sorted(os.listdir(again)) == ["000.parquet", "001.parquet"]
    finally:
        shutil.rmtree(stage, ignore_errors=True)
