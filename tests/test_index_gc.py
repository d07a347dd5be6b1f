"""Retention sweep for content-addressed index roots (VERDICT r10 #6):
keep-latest-N tombstoning, grace-window reaping, orphan build reaping,
and touch-resurrection — plus the one stored-index lifecycle
(``stored_index``) every builder publishes through, and its required
corpus key."""

from __future__ import annotations

import os

import pytest

from tdei_extract_load_service_spark.operators.staging import (
    _TOMBSTONE,
    stored_index,
    sweep_index_root,
    touch_snapshot,
)


def _snap(root, name, t, marker="_SUCCESS"):
    p = os.path.join(root, name)
    os.makedirs(p)
    open(os.path.join(p, marker), "w").close()
    os.utime(p, (t, t))
    return p


def test_keep_latest_tombstones_then_reaps(tmp_path):
    root = str(tmp_path / "idx")
    for i in range(5):
        _snap(root, f"s{i}", 1000.0 + i)
    r1 = sweep_index_root(root, keep_latest=2, grace_sec=100, now=2000.0)
    assert r1["kept"] == 2 and sorted(r1["tombstoned"]) == ["s0", "s1", "s2"]
    # tombstoned dirs STILL SERVE (logical mark, not a rename)
    for i in range(5):
        assert os.path.isdir(os.path.join(root, f"s{i}"))
    for i in range(3):
        assert os.path.exists(os.path.join(root, f"s{i}", _TOMBSTONE))
    # within grace: nothing reaped
    r2 = sweep_index_root(root, keep_latest=2, grace_sec=100, now=2050.0)
    assert r2["reaped"] == [] and r2["tombstoned"] == []
    # past grace: a LATER sweep physically reaps
    r3 = sweep_index_root(root, keep_latest=2, grace_sec=100, now=2200.0)
    assert sorted(r3["reaped"]) == ["s0", "s1", "s2"]
    assert sorted(os.listdir(root)) == ["s3", "s4"]


def test_touch_resurrects_tombstoned_snapshot(tmp_path):
    root = str(tmp_path / "idx")
    for i in range(3):
        _snap(root, f"s{i}", 1000.0 + i)
    sweep_index_root(root, keep_latest=2, grace_sec=100, now=2000.0)
    assert os.path.exists(os.path.join(root, "s0", _TOMBSTONE))
    touch_snapshot(os.path.join(root, "s0"))
    assert not os.path.exists(os.path.join(root, "s0", _TOMBSTONE))
    # resurrected AND most-recently-used: survives the next sweep
    r = sweep_index_root(root, keep_latest=2, grace_sec=100, now=2200.0)
    assert "s0" not in r["tombstoned"] and "s0" not in r["reaped"]
    assert os.path.isdir(os.path.join(root, "s0"))


def test_orphan_build_dirs_reaped_only_when_builder_dead(tmp_path):
    root = str(tmp_path / "idx")
    os.makedirs(os.path.join(root, "a.build.999999999"))  # dead pid
    os.makedirs(os.path.join(root, f"b.build.{os.getpid()}"))  # alive
    r = sweep_index_root(root, keep_latest=2, grace_sec=100, now=2000.0)
    assert r["orphans_reaped"] == ["a.build.999999999"]
    assert os.path.isdir(os.path.join(root, f"b.build.{os.getpid()}"))


def test_incomplete_snapshot_reaped_after_grace(tmp_path):
    root = str(tmp_path / "idx")
    p = os.path.join(root, "torn")
    os.makedirs(p)
    os.utime(p, (1000.0, 1000.0))
    r1 = sweep_index_root(root, keep_latest=2, grace_sec=100, now=1050.0)
    assert os.path.isdir(p) and r1["reaped"] == []
    r2 = sweep_index_root(root, keep_latest=2, grace_sec=100, now=1200.0)
    assert r2["reaped"] == ["torn"] and not os.path.isdir(p)


def test_builder_touch_and_resurrect_wiring(spark, tmp_path):
    """build_fingerprint_index: a repeat call touches the snapshot (LRU
    recency) and resurrects a tombstoned-but-unreaped one instead of
    rebuilding or serving a doomed path."""
    from tdei_extract_load_service_spark.operators import dedup as D

    base = spark.createDataFrame(
        [(1, "x"), (2, "y")], "doc_id long, text string"
    )
    ck = f"pytest-gc:{tmp_path}"
    path = D.build_fingerprint_index(base, "doc_id", ["text"], corpus_key=ck)
    # tombstone it manually (as a concurrent sweep would)
    open(os.path.join(path, _TOMBSTONE), "w").close()
    again = D.build_fingerprint_index(base, "doc_id", ["text"], corpus_key=ck)
    assert again == path
    assert not os.path.exists(os.path.join(path, _TOMBSTONE))
    assert spark.read.parquet(path).count() == 2


def _write_marker(marker="_SUCCESS"):
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        open(os.path.join(tmp, marker), "w").close()

    return build, calls


def test_stored_index_builds_once_then_hits(tmp_path):
    root = str(tmp_path / "idx")
    build, calls = _write_marker()
    path = stored_index(root, ("corpus-a", 16), build)
    assert len(calls) == 1 and os.path.exists(os.path.join(path, "_SUCCESS"))
    assert os.path.dirname(path) == root and len(os.path.basename(path)) == 24
    # a hit never rebuilds, and resurrects a tombstoned snapshot
    open(os.path.join(path, _TOMBSTONE), "w").close()
    assert stored_index(root, ("corpus-a", 16), build) == path
    assert len(calls) == 1
    assert not os.path.exists(os.path.join(path, _TOMBSTONE))
    # any key difference is a different snapshot
    other = stored_index(root, ("corpus-b", 16), build)
    assert other != path and len(calls) == 2


def test_stored_index_marker_decides_hit(tmp_path):
    """A directory without the builder's marker is not a publish: the
    meta-json builders rebuild rather than serve a torn layout."""
    root = str(tmp_path / "idx")
    build, calls = _write_marker("_meta.json")
    path = stored_index(root, ("c",), build, marker="_meta.json")
    os.unlink(os.path.join(path, "_meta.json"))
    assert stored_index(root, ("c",), build, marker="_meta.json") == path
    assert len(calls) == 2
    assert os.path.exists(os.path.join(path, "_meta.json"))


def test_stored_index_sweeps_root_after_build(tmp_path):
    root = str(tmp_path / "idx")
    for i in range(10):
        _snap(root, f"old{i}", 1000.0 + i)
    build, _ = _write_marker()
    stored_index(root, ("fresh",), build)
    tombstoned = [
        n for n in os.listdir(root)
        if os.path.exists(os.path.join(root, n, _TOMBSTONE))
    ]
    # keep_latest=8: the fresh build plus the 7 newest old snapshots
    assert sorted(tombstoned) == ["old0", "old1", "old2"]


@pytest.mark.parametrize("corpus_key", [None, ""])
def test_stored_index_requires_corpus_key(tmp_path, corpus_key):
    build, calls = _write_marker()
    with pytest.raises(ValueError, match="corpus key is required"):
        stored_index(str(tmp_path / "idx"), (corpus_key, 16), build)
    assert calls == [] and not os.path.exists(tmp_path / "idx")


def _keyless_builds(spark):
    """One call per stored-index builder (plus bucketed_table), each with
    NO corpus key, over frame ``i`` of two different corpora."""
    from pyspark.sql import functions as F

    from tdei_extract_load_service_spark.operators import bucketed as B
    from tdei_extract_load_service_spark.operators import dedup as D
    from tdei_extract_load_service_spark.operators import profiling as P
    from tdei_extract_load_service_spark.operators import similarity as S
    from tdei_extract_load_service_spark.operators import text as TX
    from tdei_extract_load_service_spark.operators import zorder as Z

    def docs(i):
        return spark.createDataFrame(
            [(1, f"corpus {i} a"), (2, f"corpus {i} b")],
            "doc_id long, text string",
        )

    def emb(i):
        return spark.range(4).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.col("id") + F.lit(float(i + d)) for d in range(4)])
            .alias("embedding"),
        )

    spec = Z.ZorderSpec("doc_id", "doc_id", 0, 9, 0, 9, bits=2, dir_shift=0)
    cbs = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]
    return {
        "fingerprint": lambda i: D.build_fingerprint_index(
            docs(i), "doc_id", ["text"]
        ),
        "embedding_lsh": lambda i: D.build_embedding_lsh_index(
            emb(i), "vec_id", "embedding", dim=4, n_bands=1,
            planes_per_band=2,
        ),
        "pq": lambda i: S.build_pq_index(
            emb(i), "vec_id", "embedding", cbs, num_centroids=2
        ),
        "drift_history": lambda i: S.build_drift_history_index(
            emb(i), "vec_id", "embedding", lambda c: c % 2,
            num_centroids=2, dim=4,
        ),
        "bm25": lambda i: TX.build_bm25_index(docs(i), "doc_id", "text"),
        "zorder": lambda i: Z.build_zorder_layout(docs(i), spec, None),
        "hll_rollup": lambda i: P.build_distinct_sketch_partials(
            docs(i), F.col("doc_id"), "text"
        ),
        "bucketed": lambda i: B.bucketed_table(
            spark, docs(i), "keyless", ["doc_id"], 2
        ),
    }


@pytest.mark.parametrize(
    "builder",
    ["fingerprint", "embedding_lsh", "pq", "drift_history", "bm25",
     "zorder", "hll_rollup", "bucketed"],
)
def test_builders_require_corpus_key(spark, builder):
    """Two different corpora built with the same parameters and no
    corpus key must not share one stored directory: every builder
    refuses the keyless call instead of falling back to a shared key."""
    build = _keyless_builds(spark)[builder]
    for i in (0, 1):
        with pytest.raises(ValueError, match="corpus key is required"):
            build(i)
