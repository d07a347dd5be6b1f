"""End-to-end dataset-load tests — the Spark equivalent of the reference's
mocked-pipeline specs (test/unit/extract-load-service.test.ts:81-404,
mock zip test/common/mock-utils.ts:8-27), but against real files and real
sinks instead of SQL-spy assertions.
"""

from __future__ import annotations

import io
import json
import os
import zipfile

import pytest
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.plans.load_dataset import load_dataset

NODES = {
    "type": "FeatureCollection",
    "name": "node-file",
    "features": [
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [-122.1, 47.6, 123.45]},
         "properties": {"_id": "n1"}},
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [-122.2, 47.7, 0]},
         "properties": {"_id": "n2"}},
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [-122.3, 47.8]},
         "properties": {"_id": "n3", "ext:elevation": 99}},
    ],
}

# header keys AFTER features (late-header capture, ref test :293-322),
# including a null header value (-> '' in metadata, src :500)
EDGES_TEXT = json.dumps(
    {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature",
             "geometry": {"type": "LineString",
                          "coordinates": [[-122.1, 47.6, 100.0], [-122.2, 47.7, 200.0]]},
             "properties": {"_id": "e1"}},
        ],
        "name": "edge-file",
        "edge_count": 1,
        "note": None,
    }
)

ZONES = {
    "type": "FeatureCollection",
    "name": "zone-file",
    "features": [
        {"type": "Feature",
         "geometry": {"type": "Polygon",
                      "coordinates": [[[-122.1, 47.6, 5.0], [-122.2, 47.7, 6.0], [-122.1, 47.6, 5.0]]]},
         "properties": {"_id": "z1"}},
    ],
}

EXTENSION = {
    "type": "FeatureCollection",
    "name": "custom-layer",
    "features": [
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [1.0, 2.0, 3.0]},
         "properties": {"_id": "x1"}},
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [4.0, 5.0]},
         "properties": {"_id": "x2"}},
    ],
}

EMPTY_POINTS = {"type": "FeatureCollection", "name": "empty-points", "features": []}


def make_zip(path: str, entries: dict[str, str]) -> None:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, text in entries.items():
            zf.writestr(name, text)
    with open(path, "wb") as fh:
        fh.write(buf.getvalue())


# one param: the id names the transform every load runs
@pytest.fixture(scope="module", params=["jvm"])
def loaded(spark, tmp_path_factory, request):
    root = tmp_path_factory.mktemp(f"load_{request.param}")
    archive = os.path.join(root, "osw.zip")
    make_zip(
        archive,
        {
            "data/nodes.geojson": json.dumps(NODES),
            "data/edges.geojson": EDGES_TEXT,
            "data/zones.geojson": json.dumps(ZONES),
            "data/custom.geojson": json.dumps(EXTENSION),
            "data/points.geojson": json.dumps(EMPTY_POINTS),
            "data/readme.txt": "not geojson",            # skipped (ref :303)
            "__MACOSX/data/nodes.geojson": "junk",        # skipped (ref :303)
        },
    )
    warehouse = os.path.join(root, "warehouse")
    result = load_dataset(spark, archive, "ds-1", "user-7", warehouse)
    return spark, warehouse, result


def _read(spark, warehouse, table):
    return spark.read.parquet(os.path.join(warehouse, table))


def test_result_and_counts(loaded):
    spark, warehouse, result = loaded
    assert result.success, result.message
    assert result.feature_counts == {"nodes": 3, "edges": 1, "zones": 1, "extension": 2}
    assert set(result.timings) == {"delete", "extract", "transform", "load", "metadata", "stats"}


def test_node_elevation_semantics(loaded):
    spark, warehouse, _ = loaded
    rows = _read(spark, warehouse, "node").collect()
    feats = {json.loads(r.feature)["properties"]["_id"]: json.loads(r.feature) for r in rows}
    # 3D node: stripped + ext:elevation (ref :768-787)
    assert feats["n1"]["geometry"]["coordinates"] == [-122.1, 47.6]
    assert feats["n1"]["properties"]["ext:elevation"] == 123.45
    # zero-Z: stripped, no property (ref :789-808)
    assert feats["n2"]["geometry"]["coordinates"] == [-122.2, 47.7]
    assert "ext:elevation" not in feats["n2"]["properties"]
    # 2D with pre-existing ext:elevation: untouched, no suffix key added
    assert feats["n3"]["geometry"]["coordinates"] == [-122.3, 47.8]
    assert feats["n3"]["properties"]["ext:elevation"] == 99
    assert "ext:elevation_1" not in feats["n3"]["properties"]
    # lineage column (requested_by = user_id, ref :684)
    assert all(r.requested_by == "user-7" for r in rows)


def test_edge_strip_only(loaded):
    spark, warehouse, _ = loaded
    feat = json.loads(_read(spark, warehouse, "edge").collect()[0].feature)
    assert feat["geometry"]["coordinates"] == [[-122.1, 47.6], [-122.2, 47.7]]
    assert "ext:elevation" not in feat["properties"]


def test_zone_polygon_strip(loaded):
    spark, warehouse, _ = loaded
    feat = json.loads(_read(spark, warehouse, "zone").collect()[0].feature)
    assert feat["geometry"]["coordinates"] == [[[-122.1, 47.6], [-122.2, 47.7], [-122.1, 47.6]]]


def test_extension_gets_elevation_stripped_not_extracted(loaded):
    spark, warehouse, _ = loaded
    rows = _read(spark, warehouse, "extension").collect()
    feats = {json.loads(r.feature)["properties"]["_id"]: json.loads(r.feature) for r in rows}
    # extension kind: strip-only (ref :641-647)
    assert feats["x1"]["geometry"]["coordinates"] == [1.0, 2.0]
    assert "ext:elevation" not in feats["x1"]["properties"]


def test_extension_file_registration_and_fk(loaded):
    spark, warehouse, _ = loaded
    ext_files = _read(spark, warehouse, "extension_file").collect()
    assert len(ext_files) == 1
    ef = ext_files[0]
    # name = basename sans extension (ref :531)
    assert ef.name == "custom"
    assert json.loads(ef.file_meta) == {"name": "custom-layer"}
    # every extension feature carries the file's id (ref :473-479)
    fks = {r.ext_file_id for r in _read(spark, warehouse, "extension").collect()}
    assert fks == {ef.id}


def test_metadata_columns_and_late_header(loaded):
    spark, warehouse, _ = loaded
    ds = _read(spark, warehouse, "dataset").collect()[0]
    assert json.loads(ds.node_info) == {"name": "node-file"}
    # late header captured; null -> '' (ref :293-322, :500); edges->event_info
    assert json.loads(ds.event_info) == {"name": "edge-file", "edge_count": 1, "note": ""}
    assert json.loads(ds.zone_info) == {"name": "zone-file"}
    # empty-features points file still writes metadata (O14, ref :149-158)
    assert json.loads(ds.ext_point_info) == {"name": "empty-points"}
    assert ds.ext_line_info is None and ds.ext_polygon_info is None


def test_stats_table(loaded):
    spark, warehouse, _ = loaded
    stats = {r.kind: r for r in _read(spark, warehouse, "dataset_stats").collect()}
    assert stats["nodes"].n_features == 3
    assert stats["nodes"].n_with_elevation == 2  # n1 extracted + n3 pre-existing
    assert stats["extension"].n_files == 1


def test_idempotent_reload(loaded, tmp_path):
    spark, warehouse, first = loaded
    # rerun the same dataset: delete-then-reload (O17) -> identical state
    archive2 = str(tmp_path / "osw2.zip")
    make_zip(archive2, {"data/nodes.geojson": json.dumps(NODES)})
    r2 = load_dataset(spark, archive2, "ds-1", "user-7", warehouse)
    assert r2.success
    nodes = _read(spark, warehouse, "node").where(F.col("tdei_dataset_id") == "ds-1")
    assert nodes.count() == 3  # replaced, not appended


def test_two_datasets_coexist(spark, tmp_path):
    warehouse = str(tmp_path / "wh")
    for ds in ("ds-a", "ds-b"):
        archive = str(tmp_path / f"{ds}.zip")
        make_zip(archive, {"nodes.geojson": json.dumps(NODES)})
        assert load_dataset(spark, archive, ds, "u", warehouse).success
    nodes = spark.read.parquet(os.path.join(warehouse, "node"))
    assert nodes.select("tdei_dataset_id").distinct().count() == 2
    assert nodes.count() == 6


def test_no_geojson_entries_fails(spark, tmp_path):
    archive = str(tmp_path / "empty.zip")
    make_zip(archive, {"readme.txt": "nope"})
    result = load_dataset(spark, archive, "ds-x", "u", str(tmp_path / "wh2"))
    assert not result.success
    assert "No GeoJSON files" in result.message


def test_malformed_geojson_entry_fails(spark, tmp_path):
    # O21: JSON syntax error -> failure publish (geoJsonPipeError, ref :41-49)
    archive = str(tmp_path / "bad.zip")
    make_zip(archive, {"lines.geojson": '{"type": "FeatureCollection", "features": [{{{'})
    result = load_dataset(spark, archive, "ds-bad", "u", str(tmp_path / "wh3"))
    assert not result.success
    assert "lines.geojson" in result.message


@pytest.mark.parametrize(
    "case",
    ["sqlstate_like_dataset_id", "sqlstate_like_entry", "json_in_missing_path"],
)
def test_failure_message_is_set_where_it_is_raised(spark, tmp_path, case):
    """A load writes to no database, so no failure text is classified as
    an integrity error or re-labelled by what it happens to contain: the
    load's own refusals carry their response text, and any other
    failure's text passes through as it is."""
    dataset = "ds-msg"
    archive = str(tmp_path / "upload.zip")
    if case == "sqlstate_like_dataset_id":
        dataset = "[23505]"
        make_zip(archive, {"readme.txt": "nope"})
        want = f"Invalid GeoJSON content: No GeoJSON files found in the archive for dataset {dataset}"
    elif case == "sqlstate_like_entry":
        make_zip(archive, {"'23503/nodes.geojson": "{not json"})
        want = "Invalid GeoJSON content: Unable to parse GeoJSON: invalid JSON in entry '23503/nodes.geojson"
    else:
        archive = str(tmp_path / "JSON" / "missing.zip")
        want = f"Path does not exist: {archive}"
    result = load_dataset(spark, archive, dataset, "u", str(tmp_path / "wh"))
    assert not result.success
    assert result.message == want


NODES_TEXT = json.dumps(NODES)


@pytest.mark.parametrize(
    "text",
    [
        # Jackson accepts these two, the strict header parse does not
        NODES_TEXT.replace('"', "'"),
        NODES_TEXT + " trailing",
        # Python parses this one, Jackson refuses past 1000 levels
        NODES_TEXT[:-1] + ', "deep": ' + "[" * 1200 + "]" * 1200 + "}",
    ],
    ids=["single_quotes", "trailing_content", "deep_nesting"],
)
def test_entry_either_parser_rejects_fails(spark, tmp_path, text):
    """An entry is malformed if the gate's Spark parse or the header parse
    rejects it, so no load writes a node row under a null header."""
    archive = str(tmp_path / "lenient.zip")
    make_zip(archive, {"nodes.geojson": text})
    result = load_dataset(spark, archive, "ds-lenient", "u", str(tmp_path / "wh"))
    assert not result.success
    assert result.message == (
        "Invalid GeoJSON content: Unable to parse GeoJSON: invalid JSON in entry nodes.geojson"
    )


@pytest.mark.parametrize("features", [NODES["features"], []], ids=["features", "no_features"])
def test_entry_only_jackson_rejects_fails(spark, tmp_path, features):
    """An entry that Python parses but Jackson refuses (nesting past its
    1000 levels, under Python's raised recursion limit) fails the load in
    the features collect, also when it holds no feature, and lands no sink
    row."""
    import sys

    from tdei_extract_load_service_spark.plans.load_dataset import SINK_TABLES, read_sink

    doc = {"type": "FeatureCollection", "features": features}
    text = json.dumps(doc)[:-1] + ', "deep": ' + "[" * 1200 + "]" * 1200 + "}"
    archive = str(tmp_path / "deep.zip")
    make_zip(archive, {"nodes.geojson": text, "edges.geojson": EDGES_TEXT})
    warehouse = str(tmp_path / "wh")
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(3000)
    try:
        result = load_dataset(spark, archive, "ds-deep", "u", warehouse)
    finally:
        sys.setrecursionlimit(limit)
    assert not result.success
    assert result.message == (
        "Invalid GeoJSON content: Unable to parse GeoJSON: invalid JSON in entry nodes.geojson"
    )
    for table in (*SINK_TABLES.values(), "extension_file", "dataset", "dataset_stats"):
        assert read_sink(spark, warehouse, table).count() == 0, table


def test_header_rejected_entry_runs_no_spark_job(spark, tmp_path):
    """An entry the driver's header parse rejects fails the load before
    any plan is built: no Spark job and no SQL execution."""
    archive = str(tmp_path / "bad.zip")
    make_zip(archive, {"nodes.geojson": json.dumps(NODES), "edges.geojson": EDGES_TEXT + " x"})
    jobs_before, plans_before = set(_engine_jobs(spark)), set(_sql_plans(spark))
    result = load_dataset(spark, archive, "ds-header", "u", str(tmp_path / "wh"))
    assert not result.success
    assert result.message.endswith("invalid JSON in entry edges.geojson")
    assert set(_engine_jobs(spark)) == jobs_before
    assert set(_sql_plans(spark)) == plans_before


def test_driver_routing_matches_route_case(spark):
    """The fan-out routes each entry on the driver by ``route_case``'s
    rule: first ``OSW_ROUTES`` substring of the path, default extension."""
    from tdei_extract_load_service_spark.operators.relational import OSW_ROUTES, route_case
    from tdei_extract_load_service_spark.sources.zip_fanout import entry_kind

    names = [
        "a/nodes_edges.geojson", "edges/nodes.geojson", "__zones/lines.geojson",
        "custom.geojson", "points.geojson", "x/polygons/zones.geojson", "Nodes.geojson",
    ]
    df = spark.createDataFrame([(n,) for n in names], "entry string")
    routed = {r.entry: r.kind for r in route_case(df, "entry", OSW_ROUTES).collect()}
    assert {n: entry_kind(n) for n in names} == routed
    assert entry_kind("a/nodes_edges.geojson") == "nodes"
    assert entry_kind("custom.geojson") == "extension"


def test_failed_loads_release_cached_frames(spark, tmp_path):
    """A failed load (here: the malformed gate) leaves no persisted frame
    behind — a consumer draining many bad archives must not grow the
    cache."""
    jsc = spark.sparkContext._jsc
    start = jsc.getPersistentRDDs().size()
    for i in range(3):
        archive = str(tmp_path / f"bad{i}.zip")
        make_zip(archive, {
            "nodes.geojson": json.dumps(NODES),
            f"broken{i}.geojson": '{"type": "FeatureCollection", [' + "x" * i,
        })
        result = load_dataset(spark, archive, f"ds-leak-{i}", "u", str(tmp_path / "wh"))
        assert not result.success and f"broken{i}.geojson" in result.message
        assert jsc.getPersistentRDDs().size() == start


def test_reload_clears_disappeared_kind(spark, tmp_path):
    # O17 pre-delete semantics: a kind present in load 1 but absent in
    # load 2 must leave NO stale rows (dynamic overwrite alone would)
    warehouse = str(tmp_path / "wh_stale")
    a1 = str(tmp_path / "v1.zip")
    make_zip(a1, {"nodes.geojson": json.dumps(NODES), "zones.geojson": json.dumps(ZONES)})
    assert load_dataset(spark, a1, "ds-r", "u", warehouse).success
    assert spark.read.parquet(os.path.join(warehouse, "zone")).count() == 1
    a2 = str(tmp_path / "v2.zip")
    make_zip(a2, {"nodes.geojson": json.dumps(NODES)})  # zones gone
    assert load_dataset(spark, a2, "ds-r", "u", warehouse).success
    from tdei_extract_load_service_spark.plans.load_dataset import read_sink

    zones = read_sink(spark, warehouse, "zone").where(F.col("tdei_dataset_id") == "ds-r")
    assert zones.count() == 0
    assert spark.read.parquet(os.path.join(warehouse, "node")).count() == 3


def _engine_jobs(spark) -> dict[int, list[int]]:
    """job id -> stage ids, from Spark's status store once every queued
    listener event has been applied."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    seq = sc.statusStore().jobsList(None)
    jobs = {}
    for i in range(seq.size()):
        job = seq.apply(i)
        ids = job.stageIds()
        jobs[job.jobId()] = [ids.apply(k) for k in range(ids.size())]
    return jobs


def _shuffle_write_bytes(spark, stage_ids) -> int:
    sc = spark.sparkContext
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    seq = sc._jsc.sc().statusStore().stageList(None, False, False, no_quantiles, None)
    wanted = set(stage_ids)
    return sum(
        seq.apply(i).shuffleWriteBytes()
        for i in range(seq.size())
        if seq.apply(i).stageId() in wanted
    )


def _sql_plans(spark) -> dict[int, str]:
    """SQL execution id -> physical plan text, from Spark's status store
    once every queued listener event has been applied."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    execs = [seq.apply(i) for i in range(seq.size())]
    return {e.executionId(): e.physicalPlanDescription() for e in execs}


PYTHON_RUNNERS = ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython")


@pytest.mark.parametrize("commit_mode", ["partition", "manifest"])
def test_small_archive_runs_one_job_and_no_shuffle(spark, tmp_path, commit_mode):
    """An archive of at most 1 MB loads in one job and one SQL execution
    in either commit mode: the collect of every kind's transformed
    features. The gate runs on the driver without Spark, no plan of the
    load starts a Python worker, and every sink table (kind tables,
    extension files, dataset and stats rows) is written from the driver
    without a job."""
    archive = str(tmp_path / "osw.zip")
    make_zip(archive, {
        "data/nodes.geojson": json.dumps(NODES),
        "data/edges.geojson": EDGES_TEXT,
        "data/custom.geojson": json.dumps(EXTENSION),
        "data/points.geojson": json.dumps(EMPTY_POINTS),
    })
    before = set(_engine_jobs(spark))
    plans_before = set(_sql_plans(spark))
    result = load_dataset(
        spark, archive, "ds-jobs", "u", str(tmp_path / "wh"), commit_mode=commit_mode
    )
    after = _engine_jobs(spark)
    plans = _sql_plans(spark)
    assert result.success, result.message
    assert result.feature_counts == {"nodes": 3, "edges": 1, "extension": 2}
    new = sorted(set(after) - before)
    # the features collect
    assert len(new) == 1, new
    assert _shuffle_write_bytes(spark, [s for j in new for s in after[j]]) == 0
    load_plans = [p for i, p in plans.items() if i not in plans_before]
    assert len(load_plans) == 1, load_plans  # the features collect
    for plan in load_plans:
        assert not any(runner in plan for runner in PYTHON_RUNNERS), plan
        # the entries are parsed in the job, not folded into the local
        # relation on the driver while the plan is optimized
        assert "entry_text" in plan, plan


@pytest.mark.parametrize("commit_mode", ["partition", "manifest"])
def test_kind_past_rows_per_file_lands_in_slices(spark, tmp_path, monkeypatch, commit_mode):
    """A kind past the rows-per-file rule lands as ``n // ROWS_PER_FILE``
    files that together hold exactly its rows; a kind under it lands as
    one file. Each file reads back with exactly the table's
    ``sink_schema`` (the dataset key lives in the path in partition
    mode)."""
    from pyspark.sql.types import StructType

    from tdei_extract_load_service_spark.plans.load_dataset import sink_schema
    from tdei_extract_load_service_spark.sinks import writers

    monkeypatch.setattr(writers, "ROWS_PER_FILE", 4)
    sizes = {"node": 11, "extension": 9, "edge": 1}
    doc = {
        kind: {"type": "FeatureCollection", "features": [
            {"type": "Feature",
             "geometry": {"type": "Point", "coordinates": [1.0, 2.0, 3.0]},
             "properties": {"_id": f"{kind}{i}"}}
            for i in range(n)
        ]}
        for kind, n in sizes.items()
    }
    archive = str(tmp_path / "osw.zip")
    make_zip(archive, {
        "nodes.geojson": json.dumps(doc["node"]),
        "custom.geojson": json.dumps(doc["extension"]),
        "edges.geojson": json.dumps(doc["edge"]),
    })
    warehouse = str(tmp_path / "wh")
    result = load_dataset(spark, archive, "ds-files", "u", warehouse, commit_mode=commit_mode)
    assert result.success, result.message

    for table, n in sizes.items():
        schema = StructType.fromDDL(sink_schema(table))
        if commit_mode == "manifest":
            from tdei_extract_load_service_spark.sinks.manifest import read_manifest

            leaf = os.path.join(warehouse, read_manifest(warehouse)["tables"][table]["ds-files"])
        else:
            leaf = os.path.join(warehouse, table, "tdei_dataset_id=ds-files")
            schema = StructType([f for f in schema if f.name != "tdei_dataset_id"])
        files = [os.path.join(leaf, f) for f in os.listdir(leaf) if f.endswith(".parquet")]
        assert len(files) == max(1, n // 4), (table, files)
        per_file = [spark.read.parquet(f) for f in files]
        for df in per_file:
            assert df.schema == schema, (table, df.schema)
        # contiguous slices of near-equal size
        assert max(df.count() for df in per_file) - min(df.count() for df in per_file) <= 1
        ids = sorted(
            json.loads(r.feature)["properties"]["_id"]
            for df in per_file for r in df.select("feature").collect()
        )
        assert ids == sorted(f"{table}{i}" for i in range(n)), table


def _line(i, coords, props):
    return {"type": "Feature", "geometry": {"type": "LineString", "coordinates": coords},
            "properties": {"_id": f"e{i}", **props}}


@pytest.mark.parametrize("commit_mode", ["partition", "manifest"])
def test_counts_and_stats_definitions(spark, tmp_path, commit_mode):
    """Stats keep their definitions: ``n_features`` counts feature rows,
    ``n_files`` the files of a kind that hold any feature, and
    ``n_with_elevation`` the written features carrying ``ext:elevation``
    (extracted from Z or already in the properties)."""
    from tdei_extract_load_service_spark.plans.load_dataset import SINK_TABLES, read_sink

    edges = {"type": "FeatureCollection", "features": [
        _line(0, [[0.0, 0.0], [1.0, 1.0]], {"ext:elevation": 12}),  # kept as is
        _line(1, [[0.0, 0.0, 3.0], [1.0, 1.0, 4.0]], {}),           # strip-only
    ]}
    archive = str(tmp_path / "osw.zip")
    make_zip(archive, {
        "a/nodes.geojson": json.dumps(NODES),
        "b/nodes.geojson": json.dumps(NODES),
        "edges.geojson": json.dumps(edges),
        "points.geojson": json.dumps({"type": "FeatureCollection", "features": []}),
        "lines.geojson": json.dumps({"type": "FeatureCollection", "features": None}),
    })
    warehouse = str(tmp_path / "wh")
    result = load_dataset(spark, archive, "ds-def", "u", warehouse, commit_mode=commit_mode)
    assert result.success, result.message
    assert result.feature_counts == {"nodes": 6, "edges": 2}

    landed = {
        kind: read_sink(spark, warehouse, table).where(F.col("tdei_dataset_id") == "ds-def").count()
        for kind, table in SINK_TABLES.items()
    }
    assert landed == {k: result.feature_counts.get(k, 0) for k in SINK_TABLES}

    stats = {
        r.kind: (r.n_features, r.n_files, r.n_with_elevation)
        for r in read_sink(spark, warehouse, "dataset_stats").collect()
    }
    # nodes: n1 extracted + n3 pre-existing, in each of the two files
    assert stats == {"nodes": (6, 2, 4), "edges": (2, 1, 1)}

    # the zero-feature files wrote no sink file
    if commit_mode == "manifest":
        from tdei_extract_load_service_spark.sinks.manifest import read_manifest

        tables = read_manifest(warehouse)["tables"]
        written = {t for t, datasets in tables.items() if "ds-def" in datasets}
    else:
        written = {
            t for t in os.listdir(warehouse)
            if os.path.isdir(os.path.join(warehouse, t, "tdei_dataset_id=ds-def"))
        }
    assert "extension_point" not in written and "extension_line" not in written
    assert {"node", "edge", "dataset", "dataset_stats"} <= written


def test_large_entry_spreads_transform_and_writes_one_file(spark, tmp_path):
    """A single entry over 1 MB is spread over several tasks for the
    transform, then shuffled back into one file per kind (its ~250k-row
    file size), with the stats intact."""
    n = 12_000
    doc = {"type": "FeatureCollection", "name": "big", "features": [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [-122.0, 47.0, float(i % 3)]},
         "properties": {"_id": f"n{i}", "note": "x" * 64}}
        for i in range(n)
    ]}
    text = json.dumps(doc)
    assert len(text) > 1 << 20
    archive = str(tmp_path / "big.zip")
    make_zip(archive, {"nodes.geojson": text})
    warehouse = str(tmp_path / "wh")
    result = load_dataset(spark, archive, "ds-big", "u", warehouse)
    assert result.success, result.message
    assert result.feature_counts == {"nodes": n}

    part = os.path.join(warehouse, "node", "tdei_dataset_id=ds-big")
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(files) == 1, files
    nodes = spark.read.parquet(os.path.join(part, files[0]))
    assert nodes.count() == n
    assert nodes.select("feature").distinct().count() == n
    stats = spark.read.parquet(os.path.join(warehouse, "dataset_stats")).collect()
    # zero Z means missing elevation: every third node carries none
    assert [(r.kind, r.n_features, r.n_files, r.n_with_elevation) for r in stats] == [
        ("nodes", n, 1, n - n // 3)
    ]


# ids that Spark's partition writer escapes: ':', '/', '%', '=', a space,
# plus non-ASCII characters (left as they are)
ESCAPED_IDS = ["org:1/a b", "50%=ü 数据"]


def test_partition_dir_matches_spark_escaping(spark):
    from tdei_extract_load_service_spark.sinks.writers import partition_dir

    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    every_ascii = "".join(map(chr, range(1, 128)))
    for value in [every_ascii, *ESCAPED_IDS, "x/../../.."]:
        assert partition_dir(value) == "tdei_dataset_id=" + utils.escapePathName(value)
    assert partition_dir("") == partition_dir(None) == "tdei_dataset_id=__HIVE_DEFAULT_PARTITION__"


def test_reload_clears_disappeared_kind_for_escaped_id(spark, tmp_path):
    """The pre-delete must find the directory Spark wrote for an id it
    escapes: a reload without edges leaves no stale edge row."""
    from tdei_extract_load_service_spark.plans.load_dataset import read_sink

    ds = "org:1/a b"
    warehouse = str(tmp_path / "wh")
    a1 = str(tmp_path / "v1.zip")
    make_zip(a1, {"nodes.geojson": json.dumps(NODES), "edges.geojson": EDGES_TEXT})
    assert load_dataset(spark, a1, ds, "u", warehouse).success
    a2 = str(tmp_path / "v2.zip")
    make_zip(a2, {"nodes.geojson": json.dumps(NODES)})
    assert load_dataset(spark, a2, ds, "u", warehouse).success
    assert read_sink(spark, warehouse, "edge").where(F.col("tdei_dataset_id") == ds).count() == 0
    assert read_sink(spark, warehouse, "node").where(F.col("tdei_dataset_id") == ds).count() == 3


def test_delete_by_key_stays_inside_the_table(tmp_path):
    """A dataset id from the request message cannot walk the pre-delete out
    of its table: ``x/../../..`` names one (escaped) partition, not the
    warehouse's parent directory."""
    from tdei_extract_load_service_spark.sinks.writers import delete_by_key

    sandbox = tmp_path / "sandbox"
    table = sandbox / "wh" / "node"
    (table / "tdei_dataset_id=x").mkdir(parents=True)
    (table / "tdei_dataset_id=x" / "part-0.parquet").write_bytes(b"x")
    sibling = sandbox / "keep.txt"
    sibling.write_text("keep")
    delete_by_key(str(table), "x/../../..")
    assert sibling.read_text() == "keep"
    assert (table / "tdei_dataset_id=x" / "part-0.parquet").exists()


@pytest.mark.parametrize("commit_mode", ["partition", "manifest"])
def test_escaped_ids_land_where_spark_puts_them(spark, tmp_path, commit_mode):
    """Directory names and file types of every sink table match a direct
    Spark write, for ids Spark escapes, whether the rows came from a
    Spark job or from an Arrow write of driver-held rows."""
    from pyspark.sql.types import StructType

    from tdei_extract_load_service_spark.plans.load_dataset import (
        SINK_TABLES,
        read_sink,
        sink_schema,
    )
    from tdei_extract_load_service_spark.sinks.manifest import read_manifest

    full = str(tmp_path / "full.zip")
    make_zip(full, {
        "data/nodes.geojson": json.dumps(NODES),
        "data/edges.geojson": EDGES_TEXT,
        "data/zones.geojson": json.dumps(ZONES),
        "data/custom.geojson": json.dumps(EXTENSION),
    })
    nodes_only = str(tmp_path / "nodes.zip")
    make_zip(nodes_only, {"data/nodes.geojson": json.dumps(NODES)})
    tables = ["node", "edge", "zone", "extension", "extension_file", "dataset", "dataset_stats"]
    warehouse = str(tmp_path / "wh")
    for ds in ESCAPED_IDS:
        result = load_dataset(spark, full, ds, "u", warehouse, commit_mode=commit_mode)
        assert result.success, result.message

    for ds in ESCAPED_IDS:
        for table in tables:
            rows = read_sink(spark, warehouse, table).where(F.col("tdei_dataset_id") == ds)
            assert rows.count() > 0, (ds, table)
    if commit_mode == "partition":
        probe = str(tmp_path / "probe")
        spark.createDataFrame([(ds, 1) for ds in ESCAPED_IDS], "tdei_dataset_id string, v int") \
            .write.partitionBy("tdei_dataset_id").parquet(probe)
        spark_dirs = sorted(d for d in os.listdir(probe) if not d.startswith(("_", ".")))
        for table in tables:
            assert sorted(os.listdir(os.path.join(warehouse, table))) == spark_dirs, table
    else:
        manifest = read_manifest(warehouse)["tables"]
        assert all(sorted(manifest[t]) == sorted(ESCAPED_IDS) for t in tables)

    # the Arrow-written tables read back as their declared schema
    for table in ("extension_file", "dataset", "dataset_stats"):
        declared = StructType.fromDDL(sink_schema(table))
        if commit_mode == "partition":
            inferred = spark.read.parquet(os.path.join(warehouse, table)).schema
            # the partition column comes last in a partitioned read
            key = declared["tdei_dataset_id"]
            declared = StructType([f for f in declared if f is not key] + [key])
        else:
            reldir = read_manifest(warehouse)["tables"][table][ESCAPED_IDS[0]]
            inferred = spark.read.parquet(os.path.join(warehouse, reldir)).schema
        assert inferred == declared, table

    # a reload drops the kinds the new archive lacks
    ds = ESCAPED_IDS[0]
    assert load_dataset(spark, nodes_only, ds, "u", warehouse, commit_mode=commit_mode).success
    landed = {
        table: read_sink(spark, warehouse, table).where(F.col("tdei_dataset_id") == ds).count()
        for table in (*SINK_TABLES.values(), "extension_file")
    }
    assert landed == {t: 3 if t == "node" else 0 for t in landed}
    stats = read_sink(spark, warehouse, "dataset_stats").where(F.col("tdei_dataset_id") == ds)
    assert [r.kind for r in stats.collect()] == ["nodes"]
    other = read_sink(spark, warehouse, "edge").where(F.col("tdei_dataset_id") == ESCAPED_IDS[1])
    assert other.count() == 1


def test_transform_parses_each_feature_once(spark):
    """The feature is decomposed by one parse and the coordinates are
    transformed as text, so the optimized transform plan holds at most 4
    ``from_json`` nodes: the feature, the ``properties`` member's type and
    value, and the elevation-key count (84 when each parse was inlined at
    every use, 17 with a typed coordinates parse per geometry type)."""
    from tdei_extract_load_service_spark.plans.load_dataset import transform_features

    feature = json.dumps(NODES["features"][0])
    # an RDD-backed frame: the optimizer would fold the whole projection
    # over a local relation into literal rows
    df = spark.createDataFrame([("nodes", feature)], "kind string, feature_raw string")
    out = transform_features(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json(") <= 4, plan
    assert json.loads(out.first()["feature"])["properties"] == {"_id": "n1", "ext:elevation": 123.45}


def _sink_rows(spark, warehouse) -> dict[str, list]:
    from tdei_extract_load_service_spark.plans.load_dataset import SINK_TABLES, read_sink

    tables = (*SINK_TABLES.values(), "extension_file", "dataset", "dataset_stats")
    return {t: sorted(map(tuple, read_sink(spark, warehouse, t).collect()), key=repr) for t in tables}


def test_directory_of_archives_loads_every_archive(spark, tmp_path):
    src = tmp_path / "uploads"
    src.mkdir()
    make_zip(str(src / "a.zip"), {"nodes.geojson": json.dumps(NODES)})
    make_zip(str(src / "b.zip"), {"edges.geojson": EDGES_TEXT})
    (src / "notes.txt").write_text("not an archive")
    result = load_dataset(spark, str(src), "ds-dir", "u", str(tmp_path / "wh"))
    assert result.success, result.message
    assert result.feature_counts == {"nodes": 3, "edges": 1}


def test_upload_repeating_an_entry_path_fails_before_spark(spark, tmp_path):
    """An upload whose archives both hold ``custom.geojson`` is refused
    before any Spark job, naming the path: the sinks name a file by its
    entry path, so the two files would share one ``extension_file.id``,
    count as one file in the stats and tie in the metadata order."""
    from tdei_extract_load_service_spark.plans.load_dataset import SINK_TABLES, read_sink

    src = tmp_path / "uploads"
    src.mkdir()
    make_zip(str(src / "a.zip"), {"nodes.geojson": json.dumps(NODES),
                                  "custom.geojson": json.dumps(EXTENSION)})
    make_zip(str(src / "b.zip"), {"custom.geojson": json.dumps(EXTENSION)})
    warehouse = str(tmp_path / "wh")
    jobs_before, plans_before = set(_engine_jobs(spark)), set(_sql_plans(spark))
    result = load_dataset(spark, str(src), "ds-dup", "u", warehouse)
    assert not result.success
    assert result.message == "Invalid archive: entry custom.geojson appears more than once"
    assert set(_engine_jobs(spark)) == jobs_before
    assert set(_sql_plans(spark)) == plans_before
    for table in (*SINK_TABLES.values(), "extension_file", "dataset", "dataset_stats"):
        assert read_sink(spark, warehouse, table).count() == 0, table


def test_building_the_load_plan_leaves_the_recursion_limit(spark, tmp_path):
    """Building the load's plan captures no call site. PySpark's capture,
    on by default, imports IPython on its first Column call, and jedi then
    raises the process's recursion limit from 1000 to 3000: whether the
    header parse accepted a deep document depended on what ran first."""
    import sys

    from pyspark.errors import utils as errors_utils

    from tdei_extract_load_service_spark.functions.geometry import transform_features
    from tdei_extract_load_service_spark.sources.geojson import explode_features
    from tdei_extract_load_service_spark.sources.zip_fanout import zip_fanout

    archive = str(tmp_path / "osw.zip")
    make_zip(archive, {"nodes.geojson": json.dumps(NODES), "edges.geojson": EDGES_TEXT})
    limit = sys.getrecursionlimit()
    # PySpark caches the conf on its first read; read this session's
    errors_utils._enable_debugging_cache = None
    sys.setrecursionlimit(1000)
    try:
        table, _facts = zip_fanout(archive)
        features = transform_features(explode_features(spark.createDataFrame(table)))
        features.select("kind", "entry", "feature", "bad")
        after = sys.getrecursionlimit()
    finally:
        sys.setrecursionlimit(limit)
    assert not errors_utils.is_debugging_enabled()
    assert after == 1000


def test_file_uri_loads(spark, tmp_path):
    archive = str(tmp_path / "osw.zip")
    make_zip(archive, {"nodes.geojson": json.dumps(NODES)})
    result = load_dataset(spark, "file:" + archive, "ds-uri", "u", str(tmp_path / "wh"))
    assert result.success, result.message
    assert result.feature_counts == {"nodes": 3}


def test_non_zip_path_has_no_geojson_entries(spark, tmp_path):
    archive = str(tmp_path / "osw.tar")
    make_zip(archive, {"nodes.geojson": json.dumps(NODES)})
    result = load_dataset(spark, archive, "ds-tar", "u", str(tmp_path / "wh"))
    assert not result.success
    assert "No GeoJSON files" in result.message


def test_large_relation_lands_the_same_rows(spark, tmp_path):
    """Past the Arrow local-relation threshold the entries are an RDD: the
    load still runs one job, the features collect, and the same rows
    land."""
    archive = str(tmp_path / "osw.zip")
    make_zip(archive, {
        "data/nodes.geojson": json.dumps(NODES),
        "data/edges.geojson": EDGES_TEXT,
        "data/zones.geojson": json.dumps(ZONES),
        "data/custom.geojson": json.dumps(EXTENSION),
        "data/points.geojson": json.dumps(EMPTY_POINTS),
    })
    local_wh, rdd_wh = str(tmp_path / "local"), str(tmp_path / "rdd")
    assert load_dataset(spark, archive, "ds-rel", "u", local_wh).success
    conf = "spark.sql.execution.arrow.localRelationThreshold"
    previous = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        before, plans_before = set(_engine_jobs(spark)), set(_sql_plans(spark))
        result = load_dataset(spark, archive, "ds-rel", "u", rdd_wh)
        new = set(_engine_jobs(spark)) - before
        new_plans = set(_sql_plans(spark)) - plans_before
    finally:
        spark.conf.set(conf, previous)
    assert result.success, result.message
    # the features collect
    assert len(new) == 1, new
    assert len(new_plans) == 1, new_plans
    assert _sink_rows(spark, rdd_wh) == _sink_rows(spark, local_wh)


def test_archive_past_max_result_size_fails_with_short_message(spark, tmp_path):
    """The features collect is bounded by ``spark.driver.maxResultSize``:
    an archive past it fails with Spark's one-line reason, not the JVM
    stack, and writes no feature."""
    doc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [1.0, 2.0, 3.0]},
         "properties": {"_id": f"n{i}", "note": "x" * 200}}
        for i in range(8_000)
    ]}
    archive = str(tmp_path / "big.zip")
    make_zip(archive, {"nodes.geojson": json.dumps(doc)})
    warehouse = str(tmp_path / "wh")
    # the live SparkConf, which each job's task set reads when it starts
    conf = spark.sparkContext._jsc.sc().conf()
    previous = conf.get("spark.driver.maxResultSize", "1g")
    conf.set("spark.driver.maxResultSize", "1m")
    try:
        result = load_dataset(spark, archive, "ds-max", "u", warehouse)
    finally:
        conf.set("spark.driver.maxResultSize", previous)
    assert not result.success
    assert result.message.startswith(
        "Archive too large to load: Total size of serialized results of "
    ), result.message[:300]
    assert result.message.endswith("is bigger than spark.driver.maxResultSize (1024.0 KiB)")
    from tdei_extract_load_service_spark.plans.load_dataset import read_sink

    assert read_sink(spark, warehouse, "node").count() == 0


def test_non_utf8_entry_fails_with_short_message(spark, tmp_path):
    archive = str(tmp_path / "latin1.zip")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("nodes.geojson", json.dumps(NODES))
        zf.writestr("data/café.geojson", '{"name": "café"}'.encode("latin-1"))
    with open(archive, "wb") as fh:
        fh.write(buf.getvalue())
    result = load_dataset(spark, archive, "ds-latin1", "u", str(tmp_path / "wh"))
    assert not result.success
    assert result.message == "Invalid GeoJSON content: entry data/café.geojson is not UTF-8 text"
    assert len(result.message) < 120


def test_not_a_zip_file_fails_with_short_message(spark, tmp_path):
    archive = tmp_path / "upload.zip"
    archive.write_bytes(b"PK but not really a zip archive\n" * 8)
    result = load_dataset(spark, str(archive), "ds-notzip", "u", str(tmp_path / "wh"))
    assert not result.success
    assert result.message == "Invalid archive: upload.zip is not a zip file"
    assert len(result.message) < 120


def test_corrupt_entry_fails_with_short_message(spark, tmp_path):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        zf.writestr("nodes.geojson", json.dumps(NODES))
    data = buf.getvalue().replace(b'"FeatureCollection"', b'"FeatureCoIlection"', 1)
    archive = tmp_path / "crc.zip"
    archive.write_bytes(data)
    result = load_dataset(spark, str(archive), "ds-crc", "u", str(tmp_path / "wh"))
    assert not result.success
    assert result.message == "Invalid archive: entry nodes.geojson of crc.zip is corrupt"
