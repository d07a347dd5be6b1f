"""Port of the reference's transform-semantics matrix (FIXTURES.md A4,
reference test/unit/extract-load-service.test.ts:768-1217), run two ways:

- ``jvm``: ``functions.geometry.transform_features``, the transform the load
  runs, over ``(kind, feature_raw)`` rows; each whole output document must
  also equal the recursive reference implementation's
  (``feature_json.process_geometry_elevation``)
- ``udf``: that reference implementation as the pandas UDF
  ``feature_json.process_feature_json``, a self-check of the oracle

Each matrix row is one parametrized case run both ways.
"""

from __future__ import annotations

import copy
import json

import pytest

from tdei_extract_load_service_spark.functions import feature_json as FJ
from tdei_extract_load_service_spark.functions import geometry as G

ID = {"_id": "f1"}


def _feature(geom_type, coords, properties=ID, extra=None):
    f = {"type": "Feature", "properties": copy.deepcopy(properties),
         "geometry": {"type": geom_type, "coordinates": coords}}
    if geom_type is None:
        del f["geometry"]["type"]
    if extra:
        f.update(extra)
    return f


# (name, kind, geom_type, coords_in, props_in, expected_coords, expected_props
#  [, feature-level overrides])
MATRIX = [
    # node/point 3D -> strip + ext:elevation (ref :768-787)
    ("point_3d", "nodes", "Point", [-122.1355703, 47.6458165, 123.45], ID,
     [-122.1355703, 47.6458165], {**ID, "ext:elevation": 123.45}),
    # zero Z means no elevation (ref :789-808, src :629)
    ("point_zero_z", "points", "Point", [-122.1, 47.6, 0], ID, [-122.1, 47.6], ID),
    # 2D passthrough, no property (ref :860-879)
    ("point_2d", "nodes", "Point", [-122.1, 47.6], ID, [-122.1, 47.6], ID),
    # edges strip-only even with Z (ref :905-934)
    ("line_3d_edge", "edges", "LineString",
     [[-122.1, 47.6, 100.0], [-122.2, 47.7, 200.0]], ID,
     [[-122.1, 47.6], [-122.2, 47.7]], ID),
    # polygon (ref :975-1016)
    ("polygon_3d", "polygons", "Polygon",
     [[[-122.1, 47.6, 10.0], [-122.2, 47.7, 20.0], [-122.3, 47.8, 30.0], [-122.1, 47.6, 10.0]]], ID,
     [[[-122.1, 47.6], [-122.2, 47.7], [-122.3, 47.8], [-122.1, 47.6]]], ID),
    # MultiLineString (ref :1018-1063)
    ("multiline_3d", "lines", "MultiLineString",
     [[[-122.1, 47.6, 1.0], [-122.2, 47.7, 2.0]], [[-122.3, 47.8, 3.0]]], ID,
     [[[-122.1, 47.6], [-122.2, 47.7]], [[-122.3, 47.8]]], ID),
    # MultiPolygon (ref :1065-1117)
    ("multipolygon_3d", "zones", "MultiPolygon",
     [[[[-122.1, 47.6, 5.0], [-122.2, 47.7, 6.0], [-122.1, 47.6, 5.0]]]], ID,
     [[[[-122.1, 47.6], [-122.2, 47.7], [-122.1, 47.6]]]], ID),
    # mixed 2D/3D normalized independently (ref :1155-1181)
    ("mixed_2d_3d", "extension", "LineString",
     [[-122.1, 47.6], [-122.2, 47.7, 50.0], [-122.3, 47.8]], ID,
     [[-122.1, 47.6], [-122.2, 47.7], [-122.3, 47.8]], ID),
    # node first-Z from a LineString geometry (first leaf wins, src :593-599)
    ("node_line_first_z", "nodes", "LineString",
     [[-122.1, 47.6], [-122.2, 47.7, 77.0], [-122.3, 47.8, 88.0]], ID,
     [[-122.1, 47.6], [-122.2, 47.7], [-122.3, 47.8]], {**ID, "ext:elevation": 77.0}),
    # "properties": null is kept: GeoJSON requires the member
    ("null_props_edge", "edges", "LineString",
     [[-122.1, 47.6, 100.0], [-122.2, 47.7]], None,
     [[-122.1, 47.6], [-122.2, 47.7]], None),
    # a non-object properties value is kept as it is without an elevation,
    # and replaced by {} to take one (src :632-634)
    ("string_props", "nodes", "Point", [-122.1, 47.6], "abc", [-122.1, 47.6], "abc"),
    ("string_props_z", "nodes", "Point", [-122.1, 47.6, 3.0], "abc",
     [-122.1, 47.6], {"ext:elevation": 3.0}),
    ("object_text_props", "edges", "LineString",
     [[-122.1, 47.6, 1.0], [-122.2, 47.7]], '{"ext:elevation": 1}',
     [[-122.1, 47.6], [-122.2, 47.7]], '{"ext:elevation": 1}'),
    ("object_text_props_z", "points", "Point", [-122.1, 47.6, 3.0], '{"ext:elevation": 1}',
     [-122.1, 47.6], {"ext:elevation": 3.0}),
    ("array_props", "nodes", "Point", [-122.1, 47.6], [1], [-122.1, 47.6], [1]),
    ("array_props_z", "nodes", "Point", [-122.1, 47.6, 3.0], [1],
     [-122.1, 47.6], {"ext:elevation": 3.0}),
    ("number_props", "points", "Point", [-122.1, 47.6], 5, [-122.1, 47.6], 5),
    ("number_props_z", "points", "Point", [-122.1, 47.6, 3.0], 5,
     [-122.1, 47.6], {"ext:elevation": 3.0}),
    # types are written as escaped JSON strings; an unknown geometry type
    # passes its coordinates through (2D here, as the oracle strips any)
    ("quote_in_geometry_type", "edges", 'Line"String', [[-122.1, 47.6], [-122.2, 47.7]], ID,
     [[-122.1, 47.6], [-122.2, 47.7]], ID),
    ("backslash_in_geometry_type", "nodes", "Po\\int", [-122.1, 47.6], ID,
     [-122.1, 47.6], ID),
    ("quote_in_feature_type", "nodes", "Point", [-122.1, 47.6, 5.0], ID,
     [-122.1, 47.6], {**ID, "ext:elevation": 5.0}, {"type": 'Fea"ture'}),
    ("backslash_in_feature_type", "edges", "LineString",
     [[-122.1, 47.6, 1.0], [-122.2, 47.7]], ID,
     [[-122.1, 47.6], [-122.2, 47.7]], ID, {"type": "Fea\\ture"}),
    # a non-string feature type is kept as the JSON value it was
    ("number_feature_type", "nodes", "Point", [-122.1, 47.6, 5.0], ID,
     [-122.1, 47.6], {**ID, "ext:elevation": 5.0}, {"type": 5}),
    ("null_feature_type", "edges", "LineString", [[-122.1, 47.6, 1.0], [-122.2, 47.7]], ID,
     [[-122.1, 47.6], [-122.2, 47.7]], ID, {"type": None}),
    ("bool_feature_type", "points", "Point", [-122.1, 47.6], ID,
     [-122.1, 47.6], ID, {"type": True}),
    ("array_feature_type", "zones", "Polygon", [[[-122.1, 47.6, 1.0], [-122.2, 47.7, 2.0]]], ID,
     [[[-122.1, 47.6], [-122.2, 47.7]]], ID, {"type": [1]}),
    # the leaf rule never reads geometry.type: a geometry without a type,
    # of an unknown type, of a type whose depth its coordinates do not
    # have, or with a non-string type is stripped and gives its first Z
    ("no_type_geometry_z", "nodes", None, [1, 2, 3], ID, [1, 2], {**ID, "ext:elevation": 3}),
    ("unknown_type_3d", "points", "Curve", [[1.5, 2.5, 3.5], [4, 5, 6]], ID,
     [[1.5, 2.5], [4, 5]], {**ID, "ext:elevation": 3.5}),
    ("type_depth_mismatch", "nodes", "Point", [[1, 2, 3]], ID, [[1, 2]], {**ID, "ext:elevation": 3}),
    ("number_geometry_type_z", "nodes", 5, [1, 2, 3], ID, [1, 2], {**ID, "ext:elevation": 3}),
    # coordinates that are no array pass through, a string kept a string
    ("string_coordinates", "nodes", "Point", "[1,2,3]", ID, "[1,2,3]", ID),
    ("text_coordinates", "edges", "LineString", "abc", ID, "abc", ID),
    ("object_coordinates", "points", "Point", {"a": [1, 2, 3]}, ID, {"a": [1, 2, 3]}, ID),
]


SUFFIX_CASES = [
    # existing ext:elevation -> ext:elevation_1 (ref :810-832)
    ({"_id": "f1", "ext:elevation": 100}, 150.0, "ext:elevation_1"),
    # two existing -> ext:elevation_2 (ref :834-858)
    ({"_id": "f1", "ext:elevation": 100, "ext:elevation_1": 120}, 200.0, "ext:elevation_2"),
]


def _run_jvm(spark, kind, feature):
    df = spark.createDataFrame([(kind, json.dumps(feature))], "kind string, feature_raw string")
    result = json.loads(G.transform_features(df).first()["feature"])
    assert result == FJ.process_geometry_elevation(copy.deepcopy(feature), kind)
    geom = result.get("geometry")
    return (geom or {}).get("coordinates"), result.get("properties")


def _run_udf(spark, kind, feature):
    df = spark.createDataFrame(
        [(json.dumps(feature), kind)], "feature string, kind string"
    )
    out = df.select(FJ.process_feature_json("feature", "kind").alias("f")).collect()[0]
    result = json.loads(out.f)
    geom = result.get("geometry")
    return (geom or {}).get("coordinates"), result.get("properties")


RUNNERS = {"jvm": _run_jvm, "udf": _run_udf}


@pytest.mark.parametrize("path", ["jvm", "udf"])
@pytest.mark.parametrize("case", MATRIX, ids=[c[0] for c in MATRIX])
def test_matrix(spark, path, case):
    _, kind, gtype, coords, props, want_coords, want_props, *extra = case
    feature = _feature(gtype, coords, properties=props, extra=extra[0] if extra else None)
    got_coords, got_props = RUNNERS[path](spark, kind, feature)
    assert got_coords == want_coords
    assert got_props == want_props


@pytest.mark.parametrize("path", ["jvm", "udf"])
@pytest.mark.parametrize("props,z,want_key", SUFFIX_CASES, ids=["one_existing", "two_existing"])
def test_elevation_suffix_escalation(spark, path, props, z, want_key):
    feature = _feature("Point", [-122.1, 47.6, z], properties=dict(props))
    got_coords, got_props = RUNNERS[path](spark, "nodes", feature)
    assert got_coords == [-122.1, 47.6]
    assert got_props[want_key] == z
    for k, v in props.items():  # originals kept
        assert got_props[k] == v


def test_missing_feature_type_is_written_as_feature(spark):
    # the canonical envelope names the type the oracle leaves out
    feature = {"geometry": {"type": "Point", "coordinates": [1.0, 2.0, 3.0]}, "properties": ID}
    df = spark.createDataFrame([("edges", json.dumps(feature))], "kind string, feature_raw string")
    result = json.loads(G.transform_features(df).first()["feature"])
    assert result == {"type": "Feature", **FJ.process_geometry_elevation(feature, "edges")}


# (name, coordinates in, coordinates text out): where a string, an object
# or an array inside a leaf could make the text rule and the reference's
# recursion differ, the coordinates pass through as they were (a
# non-finite number written as a string, as Jackson writes it), where the
# reference strips the leaves around them.
DEPARTURES = [
    ("string_in_coordinates", [[1, 2, 3], "[1,2,3]"], '[[1,2,3],"[1,2,3]"]'),
    ("object_in_coordinates", [[1, 2, 3], {"a": [1, 2, 3]}], '[[1,2,3],{"a":[1,2,3]}]'),
    ("number_then_array", [1, 2, [3]], "[1,2,[3]]"),
    ("leaf_holding_a_leaf", [1, 2, [3, 4, 5]], "[1,2,[3,4,5]]"),
    ("non_finite_z", [1, 2, float("nan")], '[1,2,"NaN"]'),
    ("non_finite_x", [[float("inf"), 1, 2], [3, 4, 5]], '[["Infinity",1,2],[3,4,5]]'),
]


@pytest.mark.parametrize("name,coords,want", DEPARTURES, ids=[d[0] for d in DEPARTURES])
def test_opaque_coordinates_pass_through(spark, name, coords, want):
    feature = _feature("Point", coords)
    df = spark.createDataFrame([("nodes", json.dumps(feature))], "kind string, feature_raw string")
    text = G.transform_features(df).first()["feature"]
    assert f'"coordinates": {want}}}' in text
    assert json.loads(text)["properties"] == ID
    assert json.loads(text) != FJ.process_geometry_elevation(copy.deepcopy(feature), "nodes")


@pytest.mark.parametrize("path", ["jvm", "udf"])
def test_missing_geometry_passthrough(spark, path):
    # ref :1183-1197: no geometry -> untouched
    feature = {"type": "Feature", "properties": {"_id": "f1"}}
    assert RUNNERS[path](spark, "nodes", feature) == (None, {"_id": "f1"})


@pytest.mark.parametrize("path", ["jvm", "udf"])
def test_null_coordinates_preserved(spark, path):
    # ref :1199-1217: coordinates: null preserved
    feature = {"type": "Feature", "geometry": {"type": "Point", "coordinates": None},
               "properties": {"_id": "f1"}}
    assert RUNNERS[path](spark, "nodes", feature) == (None, {"_id": "f1"})


def test_udf_preserves_feature_level_keys(spark):
    # exact-fidelity path keeps unknown envelope keys (e.g. GeoJSON id)
    feature = _feature("Point", [1.0, 2.0, 3.0], extra={"id": "feat-7", "bbox": [0, 0, 1, 1]})
    df = spark.createDataFrame([(json.dumps(feature), "points")], "feature string, kind string")
    out = json.loads(df.select(FJ.process_feature_json("feature", "kind").alias("f")).collect()[0].f)
    assert out["id"] == "feat-7"
    assert out["bbox"] == [0, 0, 1, 1]
    assert out["geometry"]["coordinates"] == [1.0, 2.0]
    assert out["properties"]["ext:elevation"] == 3.0


def test_python_helpers_pure():
    # pure-python ports usable without Spark (driver-side single docs)
    assert FJ.strip_z_coordinate([1.0, 2.0, 3.0]) == [1.0, 2.0]
    stripped, z = FJ.strip_z_and_extract_elevation([[1.0, 2.0], [3.0, 4.0, 9.0]])
    assert stripped == [[1.0, 2.0], [3.0, 4.0]] and z == 9.0
    assert FJ.count_existing_elevation_properties({"ext:elevation": 1, "ext:elevation_1": 2, "x": 3}) == 2
