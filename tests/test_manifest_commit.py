"""Manifest-pointer atomic commit (VERDICT r4 #2): the parquet warehouse's
multi-sink transaction. The reference commits seven kind tables + metadata
+ stats in ONE Postgres transaction (data-source.ts:33-65); these tests
prove the pointer-swap design gives the same visibility contract — a
reader NEVER observes a half-swapped multi-sink state, under success,
mid-write failure, and mid-swap (pointer-replace) failure.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import zipfile

import pytest
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.plans.load_dataset import load_dataset, read_sink
from tdei_extract_load_service_spark.sinks import manifest as mf


def _df(spark, rows, schema="id: long, v: string"):
    return spark.createDataFrame(rows, schema)


def make_zip(path: str, entries: dict[str, str]) -> None:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, text in entries.items():
            zf.writestr(name, text)
    with open(path, "wb") as fh:
        fh.write(buf.getvalue())


def _nodes_doc(n, tag):
    return json.dumps({
        "type": "FeatureCollection",
        "name": f"nodes-{tag}",
        "features": [
            {"type": "Feature",
             "geometry": {"type": "Point", "coordinates": [float(i), float(i), 5.0]},
             "properties": {"_id": f"{tag}-n{i}"}}
            for i in range(n)
        ],
    })


def _edges_doc(n, tag):
    return json.dumps({
        "type": "FeatureCollection",
        "name": f"edges-{tag}",
        "features": [
            {"type": "Feature",
             "geometry": {"type": "LineString",
                          "coordinates": [[i, i, 1.0], [i + 1, i, 2.0]]},
             "properties": {"_id": f"{tag}-e{i}"}}
            for i in range(n)
        ],
    })


# ---------------------------------------------------------------------------
# ManifestTxn unit behavior
# ---------------------------------------------------------------------------

def test_commit_publishes_all_tables_at_once(spark, tmp_path):
    root = str(tmp_path / "wh")
    txn = mf.ManifestTxn(root)
    txn.write("a", _df(spark, [(1, "a1")]), "ds")
    txn.write("b", _df(spark, [(2, "b1")]), "ds")
    # before commit: nothing visible
    assert not mf.is_manifest_warehouse(root)
    txn.commit()
    assert mf.read_table(spark, root, "a").count() == 1
    assert mf.read_table(spark, root, "b").count() == 1


def test_mid_swap_failure_publishes_nothing(spark, tmp_path, monkeypatch):
    """THE half-swap test: txn 2 rewrites tables a AND b; the pointer
    replace is made to fail. Every read after the failure must see the
    complete txn-1 state of BOTH tables — not a mix."""
    root = str(tmp_path / "wh")
    txn1 = mf.ManifestTxn(root)
    txn1.write("a", _df(spark, [(1, "a-old")]), "ds")
    txn1.write("b", _df(spark, [(1, "b-old")]), "ds")
    txn1.commit()

    txn2 = mf.ManifestTxn(root)
    txn2.write("a", _df(spark, [(2, "a-new")]), "ds")
    txn2.write("b", _df(spark, [(2, "b-new")]), "ds")
    real_replace = os.replace

    def exploding_replace(src, dst):
        if os.path.basename(dst) == mf.MANIFEST_NAME:
            raise OSError("injected crash at the commit point")
        return real_replace(src, dst)

    monkeypatch.setattr(mf.os, "replace", exploding_replace)
    with pytest.raises(OSError, match="injected"):
        txn2.commit()
    monkeypatch.undo()

    got_a = {r["v"] for r in mf.read_table(spark, root, "a").collect()}
    got_b = {r["v"] for r in mf.read_table(spark, root, "b").collect()}
    assert got_a == {"a-old"} and got_b == {"b-old"}, "reader saw a half-swap"
    # rollback + orphan GC reap the staged-but-never-published directories
    txn2.abort()
    assert mf.gc_orphans(root, min_age_seconds=0) == []
    data_dirs = {
        os.path.join(t, v)
        for t in os.listdir(os.path.join(root, "data"))
        for v in os.listdir(os.path.join(root, "data", t))
    }
    assert all(txn2.txn_id not in d for d in data_dirs)


def test_snapshot_readers_survive_one_subsequent_commit(spark, tmp_path):
    """Displaced data lives for keep_commits more commits (tombstone
    grace), so a frame planned against the old snapshot still reads."""
    root = str(tmp_path / "wh")
    txn1 = mf.ManifestTxn(root)
    txn1.write("a", _df(spark, [(1, "old")]), "ds")
    txn1.commit()
    snapshot = mf.read_manifest(root)
    old_frame = mf.read_table(spark, root, "a", manifest=snapshot)

    txn2 = mf.ManifestTxn(root)
    txn2.write("a", _df(spark, [(2, "new")]), "ds")
    txn2.commit()
    # old dir is tombstoned, not deleted — the pinned snapshot still reads
    assert {r["v"] for r in old_frame.collect()} == {"old"}
    assert {r["v"] for r in mf.read_table(spark, root, "a").collect()} == {"new"}

    # the NEXT commit reaps the ripe tombstone
    txn3 = mf.ManifestTxn(root)
    txn3.write("a", _df(spark, [(3, "newer")]), "ds")
    txn3.commit()
    m = mf.read_manifest(root)
    live = {d for t in m["tables"].values() for d in t.values()}
    tombs = {t["dir"] for t in m["tombstones"]}
    for t in os.listdir(os.path.join(root, "data", "a")):
        rel = os.path.join("data", "a", t)
        assert rel in live | tombs, f"unreaped zombie dir {rel}"
    assert all(txn1.txn_id not in d for d in live | tombs), "txn1 dir must be reaped"


def test_delete_is_atomic_with_writes(spark, tmp_path):
    root = str(tmp_path / "wh")
    txn1 = mf.ManifestTxn(root)
    txn1.write("a", _df(spark, [(1, "ds1-a")]), "ds1")
    txn1.write("a", _df(spark, [(2, "ds2-a")]), "ds2")
    txn1.commit()
    txn2 = mf.ManifestTxn(root)
    txn2.delete("a", "ds1")
    txn2.write("b", _df(spark, [(3, "ds1-b")]), "ds1")
    txn2.commit()
    assert {r["v"] for r in mf.read_table(spark, root, "a").collect()} == {"ds2-a"}
    assert {r["v"] for r in mf.read_table(spark, root, "b").collect()} == {"ds1-b"}


def test_empty_table_reads_as_typed_empty_frame(spark, tmp_path):
    root = str(tmp_path / "wh")
    mf.ManifestTxn(root).commit()  # manifest exists, no tables
    out = mf.read_table(spark, root, "nothing", schema="id: long, v: string")
    assert out.count() == 0 and out.columns == ["id", "v"]
    with pytest.raises(ValueError, match="no schema"):
        mf.read_table(spark, root, "nothing")


# ---------------------------------------------------------------------------
# load_dataset(commit_mode="manifest") end-to-end
# ---------------------------------------------------------------------------

def test_manifest_load_matches_partition_load(spark, tmp_path):
    entries = {"nodes.geojson": _nodes_doc(9, "v1"), "edges.geojson": _edges_doc(4, "v1")}
    a = str(tmp_path / "a.zip")
    make_zip(a, entries)
    wh_p = str(tmp_path / "wh_partition")
    wh_m = str(tmp_path / "wh_manifest")
    rp = load_dataset(spark, a, "ds", "u", wh_p)
    rm = load_dataset(spark, a, "ds", "u", wh_m, commit_mode="manifest")
    assert rp.success and rm.success
    assert rp.feature_counts == rm.feature_counts
    for table in ("node", "edge", "dataset", "dataset_stats"):
        # partitioned parquet surfaces the partition column last; compare
        # name-sorted columns (the driver's hash does the same)
        dp = read_sink(spark, wh_p, table)
        dm = read_sink(spark, wh_m, table)
        assert sorted(dp.columns) == sorted(dm.columns), table
        cols = sorted(dp.columns)
        assert sorted(map(str, dp.select(*cols).collect())) == sorted(
            map(str, dm.select(*cols).collect())
        ), table


def test_manifest_reload_replaces_and_drops_absent_kind_atomically(spark, tmp_path):
    wh = str(tmp_path / "wh")
    a1 = str(tmp_path / "a1.zip")
    make_zip(a1, {"nodes.geojson": _nodes_doc(5, "v1"), "edges.geojson": _edges_doc(3, "v1")})
    assert load_dataset(spark, a1, "ds", "u", wh, commit_mode="manifest").success
    # reload: nodes only — edges must vanish (O17 delete-then-reload)
    a2 = str(tmp_path / "a2.zip")
    make_zip(a2, {"nodes.geojson": _nodes_doc(7, "v2")})
    assert load_dataset(spark, a2, "ds", "u", wh, commit_mode="manifest").success
    assert read_sink(spark, wh, "node").count() == 7
    assert read_sink(spark, wh, "edge").count() == 0
    ids = {json.loads(r["feature"])["properties"]["_id"][:2]
           for r in read_sink(spark, wh, "node").collect()}
    assert ids == {"v2"}


def test_failed_manifest_load_leaves_all_sinks_on_old_state(spark, tmp_path):
    """A reload that dies mid-load (malformed second file, after the good
    first file) publishes NOTHING: every sink — kinds, metadata, stats —
    still shows the complete previous load. The partition-mode path
    cannot make this promise; the manifest path must."""
    wh = str(tmp_path / "wh")
    a1 = str(tmp_path / "a1.zip")
    make_zip(a1, {"nodes.geojson": _nodes_doc(5, "v1"), "edges.geojson": _edges_doc(3, "v1")})
    assert load_dataset(spark, a1, "ds", "u", wh, commit_mode="manifest").success
    before = {
        t: sorted(map(str, read_sink(spark, wh, t).collect()))
        for t in ("node", "edge", "dataset", "dataset_stats")
    }

    a2 = str(tmp_path / "a2.zip")
    make_zip(a2, {"nodes.geojson": _nodes_doc(9, "v2"),
                  "edges.geojson": "{not valid json"})
    result = load_dataset(spark, a2, "ds", "u", wh, commit_mode="manifest")
    assert not result.success

    after = {
        t: sorted(map(str, read_sink(spark, wh, t).collect()))
        for t in ("node", "edge", "dataset", "dataset_stats")
    }
    assert after == before, "failed load leaked partial state into a sink"
    # the failed load ABORTED, so its staging is already gone; simulate a
    # CRASHED transaction (staged writes, no abort, no commit) for gc:
    crashed = mf.ManifestTxn(wh)
    crashed.write("node", spark.createDataFrame([(1, "x")], "id: long, v: string"), "crash-ds")
    # default grace: a young unreferenced dir could be an in-flight
    # writer's — must survive; min_age=0 = quiesced maintenance reap
    assert mf.gc_orphans(wh) == []
    reaped = mf.gc_orphans(wh, min_age_seconds=0)
    assert reaped and all(crashed.txn_id in d for d in reaped)
    assert {
        t: sorted(map(str, read_sink(spark, wh, t).collect()))
        for t in ("node", "edge", "dataset", "dataset_stats")
    } == before


def test_concurrent_dataset_loads_compose(spark, tmp_path):
    """Two datasets loaded into one manifest warehouse (the consumer's
    maxConcurrentMessages shape): both commits land, neither clobbers the
    other's tables."""
    wh = str(tmp_path / "wh")
    a1, a2 = str(tmp_path / "a1.zip"), str(tmp_path / "a2.zip")
    make_zip(a1, {"nodes.geojson": _nodes_doc(4, "d1")})
    make_zip(a2, {"nodes.geojson": _nodes_doc(6, "d2")})
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(load_dataset, spark, a1, "ds1", "u", wh, commit_mode="manifest")
        f2 = pool.submit(load_dataset, spark, a2, "ds2", "u", wh, commit_mode="manifest")
        assert f1.result().success and f2.result().success
    nodes = read_sink(spark, wh, "node")
    per_ds = {r["tdei_dataset_id"]: r["n"] for r in
              nodes.groupBy("tdei_dataset_id").agg(F.count("*").alias("n")).collect()}
    assert per_ds == {"ds1": 4, "ds2": 6}


def test_consumer_manifest_mode_end_to_end(spark, tmp_path):
    """commit_mode plumbs through the queue consumer: each message's load
    publishes via one pointer swap; responses succeed; read_sink resolves
    the pointer."""
    import os

    from tdei_extract_load_service_spark.streaming.consumer import run_queue_consumer

    a1, a2 = str(tmp_path / "a1.zip"), str(tmp_path / "a2.zip")
    make_zip(a1, {"nodes.geojson": _nodes_doc(5, "c1")})
    make_zip(a2, {"nodes.geojson": _nodes_doc(3, "c2")})
    request_dir = tmp_path / "req"
    request_dir.mkdir()
    for i, (ds, path) in enumerate([("cds-1", a1), ("cds-2", a2)]):
        (request_dir / f"m{i}.json").write_text(json.dumps({
            "messageId": f"m{i}", "messageType": "workflow",
            "data": {"data_type": "osw", "file_upload_path": path,
                     "tdei_dataset_id": ds, "user_id": "u"}}))
    warehouse = str(tmp_path / "wh")
    run_queue_consumer(
        spark, request_dir=str(request_dir), response_dir=str(tmp_path / "resp"),
        warehouse=warehouse, checkpoint_dir=str(tmp_path / "ckpt"),
        commit_mode="manifest",
    )
    responses = [json.loads((tmp_path / "resp" / f).read_text())
                 for f in os.listdir(tmp_path / "resp")]
    assert len(responses) == 2 and all(r["data"]["success"] for r in responses)
    assert mf.is_manifest_warehouse(warehouse)
    nodes = read_sink(spark, warehouse, "node")
    per_ds = {r["tdei_dataset_id"]: r["n"] for r in
              nodes.groupBy("tdei_dataset_id").agg(F.count("*").alias("n")).collect()}
    assert per_ds == {"cds-1": 5, "cds-2": 3}


def test_commit_mode_mixing_is_refused(spark, tmp_path):
    """Code-review r5: loading a manifest warehouse in partition mode (or
    overlaying a manifest onto a partition warehouse) silently hid data
    from readers; both directions must refuse loudly."""
    a = str(tmp_path / "a.zip")
    make_zip(a, {"nodes.geojson": _nodes_doc(3, "m1")})

    wh_m = str(tmp_path / "wh_m")
    assert load_dataset(spark, a, "ds", "u", wh_m, commit_mode="manifest").success
    with pytest.raises(ValueError, match="manifest warehouse"):
        load_dataset(spark, a, "ds2", "u", wh_m)  # partition into manifest

    wh_p = str(tmp_path / "wh_p")
    assert load_dataset(spark, a, "ds", "u", wh_p).success
    with pytest.raises(ValueError, match="partition-mode tables"):
        load_dataset(spark, a, "ds2", "u", wh_p, commit_mode="manifest")


def test_racing_commits_on_same_dataset_serialize_to_one_winner(spark, tmp_path):
    """Two transactions replacing the SAME (table, dataset) race their
    commits: the lock serializes the pointer swaps, the last writer wins,
    and the loser's directory is tombstoned — never a torn mix."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "wh")
    base = mf.ManifestTxn(root)
    base.write("a", _df(spark, [(0, "orig")]), "ds")
    base.commit()

    t1 = mf.ManifestTxn(root)
    t1.write("a", _df(spark, [(1, "one")]), "ds")
    t2 = mf.ManifestTxn(root)
    t2.write("a", _df(spark, [(2, "two")]), "ds")
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(t1.commit)
        f2 = pool.submit(t2.commit)
        f1.result(), f2.result()

    m = mf.read_manifest(root)
    assert m["txn"] == 3
    winner = m["tables"]["a"]["ds"]
    assert winner.endswith(t1.txn_id) or winner.endswith(t2.txn_id)
    got = {r["v"] for r in mf.read_table(spark, root, "a").collect()}
    assert got in ({"one"}, {"two"}), f"torn read: {got}"
    # the loser's dir is tombstoned (reader grace); the ORIGINAL version,
    # displaced one commit earlier, was ripe and reaped by the second
    # commit — exactly the one-interval survival policy
    tombs = {t["dir"] for t in m["tombstones"]}
    loser = t2.txn_id if winner.endswith(t1.txn_id) else t1.txn_id
    assert len(tombs) == 1 and any(loser in d for d in tombs)


def test_read_table_dataset_scope_prunes_to_one_directory(spark, tmp_path):
    """dataset_id pushes the manifest's (table, dataset) mapping into the
    read: one directory planned, not a union over every dataset — the
    manifest-path form of partition pruning."""
    root = str(tmp_path / "wh")
    txn = mf.ManifestTxn(root)
    for ds, v in (("ds1", "one"), ("ds2", "two"), ("ds3", "three")):
        txn.write("a", _df(spark, [(1, v)]), ds)
    txn.commit()

    scoped = mf.read_table(spark, root, "a", dataset_id="ds2")
    assert [r["v"] for r in scoped.collect()] == ["two"]
    assert len(scoped.inputFiles()) < len(mf.read_table(spark, root, "a").inputFiles())
    # missing dataset: typed empty frame with a schema, like empty tables
    empty = mf.read_table(spark, root, "a", schema="id: long, v: string",
                          dataset_id="nope")
    assert empty.count() == 0


def test_delete_dataset_is_one_atomic_commit_across_tables(spark, tmp_path):
    root = str(tmp_path / "wh")
    txn = mf.ManifestTxn(root)
    for t in ("a", "b"):
        txn.write(t, _df(spark, [(1, "ds1")]), "ds1")
        txn.write(t, _df(spark, [(2, "ds2")]), "ds2")
    txn.commit()

    m = mf.delete_dataset(root, "ds1")
    assert m["txn"] == 2
    for t in ("a", "b"):
        vals = {r["v"] for r in mf.read_table(spark, root, t).collect()}
        assert vals == {"ds2"}, f"{t}: {vals}"
    # displaced dirs tombstoned for reader grace, reaped next commit
    assert len(m["tombstones"]) == 2


# ---------------------------------------------------------------------------
# Cross-process atomicity (ADVICE r5 #1) + path-component uniqueness (#4)
# ---------------------------------------------------------------------------

def test_commit_takes_the_os_level_warehouse_lock(tmp_path):
    """commit() must hold fcntl.flock on root/_MANIFEST.lock — the
    in-process threading lock cannot serialize two DRIVER PROCESSES
    sharing one warehouse. This test holds the flock from the parent and
    proves a child process's commit blocks until release."""
    import fcntl
    import subprocess
    import sys
    import time

    root = str(tmp_path / "wh")
    os.makedirs(root)
    child_code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from tdei_extract_load_service_spark.sinks import manifest as mf\n"
        "t = mf.ManifestTxn(%r)\n"
        "t._writes.append(('t', 'ds', 'data/t/ds-x'))\n"
        "t.commit()\n"
    ) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))), root)

    with open(os.path.join(root, mf.LOCK_NAME), "a+") as fh:
        fcntl.flock(fh.fileno(), fcntl.LOCK_EX)
        child = subprocess.Popen([sys.executable, "-c", child_code])
        # child must NOT be able to commit while we hold the lock
        deadline = time.time() + 3.0
        while time.time() < deadline and child.poll() is None:
            time.sleep(0.1)
        assert child.poll() is None, "child committed while parent held the flock"
        assert not os.path.exists(mf._manifest_path(root))
        fcntl.flock(fh.fileno(), fcntl.LOCK_UN)
    assert child.wait(timeout=30) == 0
    m = mf.read_manifest(root)
    assert m["tables"]["t"]["ds"] == "data/t/ds-x"


def test_concurrent_process_commits_all_survive(tmp_path):
    """Two separate driver processes hammer the same warehouse with
    interleaved read-modify-write commits; with the OS lock every commit's
    dataset survives (before the fix, os.replace last-writer-wins silently
    discarded the other process's published tables)."""
    import subprocess
    import sys

    root = str(tmp_path / "wh")
    n = 60
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child_code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from tdei_extract_load_service_spark.sinks import manifest as mf\n"
        "tag = sys.argv[1]\n"
        "for i in range(%d):\n"
        "    t = mf.ManifestTxn(%r)\n"
        "    t._writes.append(('t', f'{tag}-{i}', f'data/t/{tag}-{i}'))\n"
        "    t.commit()\n"
    ) % (repo, n, root)
    kids = [
        subprocess.Popen([sys.executable, "-c", child_code, tag])
        for tag in ("alpha", "beta")
    ]
    for k in kids:
        assert k.wait(timeout=120) == 0
    m = mf.read_manifest(root)
    datasets = set(m["tables"]["t"])
    assert len(datasets) == 2 * n, f"lost {2 * n - len(datasets)} commits"
    assert m["txn"] == 2 * n


def test_safe_component_lossy_ids_get_distinct_dirs(spark, tmp_path):
    """'a/b' and 'a_b' sanitize to the same component; before the fix they
    shared one staged directory in a single transaction and the second
    write clobbered the first. The hash suffix keeps raw ids distinct
    while already-clean ids stay readable."""
    assert mf._safe_component("a/b") != mf._safe_component("a_b")
    assert mf._safe_component("a_b") == "a_b"  # clean ids: no suffix
    assert mf._safe_component("a/b") == mf._safe_component("a/b")  # stable

    root = str(tmp_path / "wh")
    txn = mf.ManifestTxn(root)
    txn.write("t", _df(spark, [(1, "slash")]), "a/b")
    txn.write("t", _df(spark, [(2, "underscore")]), "a_b")
    txn.commit()
    got_slash = {r["v"] for r in mf.read_table(spark, root, "t", dataset_id="a/b").collect()}
    got_under = {r["v"] for r in mf.read_table(spark, root, "t", dataset_id="a_b").collect()}
    assert got_slash == {"slash"} and got_under == {"underscore"}


def test_racing_commits_overlapping_tables_tombstones_consistent(spark, tmp_path):
    """VERDICT r5 #6: two transactions write the SAME dataset to
    OVERLAPPING table sets and race their commits. Contract: last commit
    wins on the shared table, the non-overlapping tables from BOTH
    transactions are live, every displaced directory is tombstoned
    exactly once, and no live pointer names a missing directory."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "wh")
    base = mf.ManifestTxn(root)
    base.write("shared", _df(spark, [(0, "orig")]), "ds")
    base.commit()

    t1 = mf.ManifestTxn(root)
    t1.write("shared", _df(spark, [(1, "one")]), "ds")
    t1.write("only1", _df(spark, [(1, "o1")]), "ds")
    t2 = mf.ManifestTxn(root)
    t2.write("shared", _df(spark, [(2, "two")]), "ds")
    t2.write("only2", _df(spark, [(2, "o2")]), "ds")
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(t1.commit)
        f2 = pool.submit(t2.commit)
        f1.result(), f2.result()

    m = mf.read_manifest(root)
    assert m["txn"] == 3
    # both non-overlapping tables live, shared belongs to one winner
    assert set(m["tables"]) == {"shared", "only1", "only2"}
    winner = m["tables"]["shared"]["ds"]
    assert winner.endswith(t1.txn_id) or winner.endswith(t2.txn_id)
    # every live pointer resolves to a real directory
    for table, datasets in m["tables"].items():
        for reldir in datasets.values():
            assert os.path.isdir(os.path.join(root, reldir)), (table, reldir)
    # displaced shared versions: the loser's (displaced by commit 3) is
    # tombstoned; 'orig' (displaced by commit 2, ripe at 3) was reaped
    tombs = [t["dir"] for t in m["tombstones"]]
    assert len(tombs) == len(set(tombs)), f"double-tombstoned: {tombs}"
    loser_id = t2.txn_id if winner.endswith(t1.txn_id) else t1.txn_id
    assert any(loser_id in d for d in tombs)
    assert not any(base.txn_id in d for d in tombs)
    # reads are never torn: the winner's row is what a reader sees
    got = {r["v"] for r in mf.read_table(spark, root, "shared").collect()}
    assert got in ({"one"}, {"two"})
    # and the loser's non-overlapping table still reads fine
    assert {r["v"] for r in mf.read_table(spark, root, "only1").collect()} == {"o1"}
    assert {r["v"] for r in mf.read_table(spark, root, "only2").collect()} == {"o2"}


# --- time travel (round 9: read_table_at / _history snapshots) -----------


def test_time_travel_reads_overwritten_version(spark, tmp_path):
    root = str(tmp_path / "wh_tt")
    t1 = mf.ManifestTxn(root, keep_commits=10)
    t1.write("t", _df(spark, [(1, "v1"), (2, "v1")]), "ds")
    t1.commit()
    t2 = mf.ManifestTxn(root, keep_commits=10)
    t2.delete("t", "ds")
    t2.write("t", _df(spark, [(3, "v2")]), "ds")
    t2.commit()
    assert mf.list_versions(root) == [1, 2]
    # current read sees only v2
    cur = {r["v"] for r in mf.read_table(spark, root, "t").collect()}
    assert cur == {"v2"}
    # txn-1 snapshot still reaches the displaced v1 directory
    old = {r["v"] for r in mf.read_table_at(spark, root, "t", 1).collect()}
    assert old == {"v1"}
    assert {r["v"] for r in mf.read_table_at(spark, root, "t", 2).collect()} == {"v2"}


def test_time_travel_expired_version_errors_loudly(spark, tmp_path):
    root = str(tmp_path / "wh_gc")
    t1 = mf.ManifestTxn(root, keep_commits=1)
    t1.write("t", _df(spark, [(1, "v1")]), "ds")
    t1.commit()
    t2 = mf.ManifestTxn(root, keep_commits=1)
    t2.delete("t", "ds")
    t2.write("t", _df(spark, [(2, "v2")]), "ds")
    t2.commit()
    # keep_commits=1: txn 3 reaps txn 2's tombstone (the displaced v1 dir)
    t3 = mf.ManifestTxn(root, keep_commits=1)
    t3.write("other", _df(spark, [(9, "x")]), "ds")
    t3.commit()
    with pytest.raises(ValueError, match="expired"):
        mf.read_table_at(spark, root, "t", 1).collect()
    # the current version and its snapshot stay intact
    assert {r["v"] for r in mf.read_table_at(spark, root, "t", 2).collect()} == {"v2"}


def test_time_travel_unknown_version_lists_available(spark, tmp_path):
    root = str(tmp_path / "wh_unknown")
    t1 = mf.ManifestTxn(root)
    t1.write("t", _df(spark, [(1, "a")]), "ds")
    t1.commit()
    with pytest.raises(ValueError, match=r"available: \[1\]"):
        mf.read_table_at(spark, root, "t", 7)


def test_time_travel_table_absent_at_version(spark, tmp_path):
    root = str(tmp_path / "wh_absent")
    t1 = mf.ManifestTxn(root)
    t1.write("a", _df(spark, [(1, "a")]), "ds")
    t1.commit()
    t2 = mf.ManifestTxn(root)
    t2.write("b", _df(spark, [(2, "b")]), "ds")
    t2.commit()
    # table b did not exist at txn 1: typed empty frame with schema,
    # loud error without
    empty = mf.read_table_at(spark, root, "b", 1, schema="id: long, v: string")
    assert empty.count() == 0
    with pytest.raises(ValueError, match="no data at txn 1"):
        mf.read_table_at(spark, root, "b", 1)


def test_time_travel_entry_recovers_from_partial_history(spark):
    """ADVICE r9 (medium): a crash between t1.commit() and t2.commit()
    leaves the entry's warehouse with versions={1}; the old rebuild
    guard then committed MORE txns onto the partial root, so txn 2
    silently carried slice-1 rows. The fixed guard drops the partial
    root and rebuilds from scratch."""
    import hashlib
    import shutil

    from tdei_extract_load_service_spark.catalog_entries.etl import (
        q_table_time_travel,
    )

    sf = "/root/testdata/sf0.001"
    good = sorted(map(tuple, q_table_time_travel(spark, sf).collect()))

    # the entry's content-addressed root (same derivation it uses)
    src = os.path.join(sf, "orders.parquet")
    st = os.stat(src)
    digest = hashlib.md5(
        f"ttv1:{src}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:24]
    root = os.path.join("/tmp/spark_graft_timetravel", digest)
    assert mf.list_versions(root) == [1, 2]

    # simulate the crash window: txn 2 never published
    os.remove(os.path.join(root, "_history", "manifest-000002.json"))
    shutil.copy(
        os.path.join(root, "_history", "manifest-000001.json"),
        os.path.join(root, mf.MANIFEST_NAME),
    )
    assert mf.list_versions(root) == [1]

    again_rows = q_table_time_travel(spark, sf).collect()
    assert sorted(map(tuple, again_rows)) == good
    # version 2 is genuinely slice 2 — the exact corruption the old
    # guard produced was slice-1 rows labeled version 2
    v2 = [r for r in again_rows if r.version == 2]
    assert v2 and all(320 < r.o_orderkey <= 640 for r in v2)


# --- the transaction lifecycle: ``with ManifestTxn(root) as txn:`` -------


def _version_dirs(root: str) -> set[str]:
    data = os.path.join(root, "data")
    if not os.path.isdir(data):
        return set()
    return {
        os.path.join("data", t, v)
        for t in os.listdir(data)
        for v in os.listdir(os.path.join(data, t))
    }


def test_raising_block_aborts_and_leaves_nothing(spark, tmp_path):
    root = str(tmp_path / "wh")
    with mf.ManifestTxn(root) as base:
        base.write("a", _df(spark, [(1, "old")]), "ds")
    pointer = mf.read_manifest(root)
    dirs = _version_dirs(root)

    with pytest.raises(RuntimeError, match="mid-block"):
        with mf.ManifestTxn(root) as txn:
            staged = txn.write("a", _df(spark, [(2, "new")]), "ds")
            assert os.path.isdir(staged)
            raise RuntimeError("mid-block failure")
    assert mf.read_manifest(root) == pointer
    assert _version_dirs(root) == dirs, "the aborted write left its version dir"
    assert mf.gc_orphans(root, min_age_seconds=0) == []
    assert {r["v"] for r in mf.read_table(spark, root, "a").collect()} == {"old"}


def test_clean_block_commits_exactly_once(spark, tmp_path):
    root = str(tmp_path / "wh")
    with mf.ManifestTxn(root) as t1:
        t1.write("a", _df(spark, [(1, "one")]), "ds")
    assert t1.manifest["txn"] == mf.read_manifest(root)["txn"] == 1
    # an explicit commit() inside the block publishes once; the exit
    # adds no second commit
    with mf.ManifestTxn(root) as t2:
        t2.write("a", _df(spark, [(2, "two")]), "ds")
        committed = t2.commit()
    assert committed is t2.manifest
    assert mf.read_manifest(root)["txn"] == 2
    assert {r["v"] for r in mf.read_table(spark, root, "a").collect()} == {"two"}


def test_commit_survives_a_failed_history_snapshot(spark, tmp_path):
    """The pointer swap is the commit point: a history snapshot that
    cannot be written afterwards (here ``_history`` is a regular file)
    must not turn a landed commit into an error, and the ripe
    tombstones — already dropped from the new manifest — are still
    reaped."""
    root = str(tmp_path / "wh")
    t1 = mf.ManifestTxn(root)
    t1.write("a", _df(spark, [(1, "v1")]), "ds")
    t1.commit()
    t2 = mf.ManifestTxn(root)
    t2.write("a", _df(spark, [(2, "v2")]), "ds")
    t2.commit()
    v1_dir = mf.read_manifest(root)["tombstones"][0]["dir"]
    assert os.path.isdir(os.path.join(root, v1_dir))
    shutil.rmtree(os.path.join(root, "_history"))
    open(os.path.join(root, "_history"), "w").close()

    t3 = mf.ManifestTxn(root)
    t3.write("a", _df(spark, [(3, "v3")]), "ds")
    new = t3.commit()
    assert new["txn"] == 3
    assert {r["v"] for r in mf.read_table(spark, root, "a").collect()} == {"v3"}
    assert not os.path.exists(os.path.join(root, v1_dir)), "ripe tombstone not reaped"


def test_manifest_load_succeeds_when_history_snapshot_fails(spark, tmp_path):
    wh = str(tmp_path / "wh")
    a1 = str(tmp_path / "a1.zip")
    make_zip(a1, {"nodes.geojson": _nodes_doc(3, "v1")})
    assert load_dataset(spark, a1, "ds", "u", wh, commit_mode="manifest").success
    shutil.rmtree(os.path.join(wh, "_history"))
    open(os.path.join(wh, "_history"), "w").close()

    a2 = str(tmp_path / "a2.zip")
    make_zip(a2, {"nodes.geojson": _nodes_doc(6, "v2")})
    result = load_dataset(spark, a2, "ds", "u", wh, commit_mode="manifest")
    assert result.success, result.message
    assert read_sink(spark, wh, "node").count() == 6
