"""Property-based coverage of the geometry transforms (beyond the
reference's example-based suite — SURVEY.md §5 notes it has no randomized
testing).

Fast invariants run through Hypothesis on the pure-Python port; a
seeded-random batch then proves that ``geometry.transform_features``, the
transform the load runs, writes the same whole document as the recursive
reference implementation (the ``feature_json`` pandas UDF) for every
feature, in one Spark job.
"""

from __future__ import annotations

import json
import random

from hypothesis import given, settings
from hypothesis import strategies as st

from tdei_extract_load_service_spark.functions import feature_json as FJ
from tdei_extract_load_service_spark.functions import geometry as G

coord = st.floats(-180, 180, allow_nan=False, width=32).map(lambda x: round(x, 6))
leaf = st.lists(coord, min_size=2, max_size=3)

geometry_strategies = {
    "Point": leaf,
    "MultiPoint": st.lists(leaf, min_size=1, max_size=4),
    "LineString": st.lists(leaf, min_size=2, max_size=5),
    "MultiLineString": st.lists(st.lists(leaf, min_size=2, max_size=4), min_size=1, max_size=3),
    "Polygon": st.lists(st.lists(leaf, min_size=3, max_size=5), min_size=1, max_size=2),
    "MultiPolygon": st.lists(
        st.lists(st.lists(leaf, min_size=3, max_size=4), min_size=1, max_size=2),
        min_size=1,
        max_size=2,
    ),
}

#: Nesting depth of ``coordinates`` per GeoJSON geometry type.
DEPTHS = {"Point": 1, "MultiPoint": 2, "LineString": 2, "MultiLineString": 3, "Polygon": 3,
          "MultiPolygon": 4}


def _depth(c) -> int:
    return 1 + _depth(c[0]) if isinstance(c[0], list) else 1


kinds = st.sampled_from(["nodes", "points", "edges", "lines", "polygons", "zones", "extension"])
gtypes = st.sampled_from(sorted(geometry_strategies))


def _leaves(c):
    if isinstance(c, list) and c and all(isinstance(x, (int, float)) for x in c):
        return [c]
    return [l for sub in c for l in _leaves(sub)] if isinstance(c, list) else []


@settings(max_examples=200, deadline=None)
@given(data=st.data(), kind=kinds, gtype=gtypes)
def test_python_port_invariants(data, kind, gtype):
    coords = data.draw(geometry_strategies[gtype])
    feature = {
        "type": "Feature",
        "geometry": {"type": gtype, "coordinates": coords},
        "properties": {"_id": "p"},
    }
    original_first_z = next(
        (l[2] for l in _leaves(coords) if len(l) >= 3), None
    )
    out = FJ.process_geometry_elevation(json.loads(json.dumps(feature)), kind)
    new_coords = out["geometry"]["coordinates"]
    # every leaf is exactly 2D afterwards
    assert all(len(l) == 2 for l in _leaves(new_coords))
    # x,y of every leaf preserved in order
    assert [l[:2] for l in _leaves(coords)] == _leaves(new_coords)
    # elevation only for nodes/points, first-Z, zero-skip
    if kind in ("nodes", "points") and original_first_z not in (None, 0):
        assert out["properties"]["ext:elevation"] == original_first_z
    else:
        assert "ext:elevation" not in out["properties"]
    # idempotence: transforming again changes nothing
    again = FJ.process_geometry_elevation(json.loads(json.dumps(out)), kind)
    assert again == out


@settings(max_examples=100, deadline=None)
@given(props=st.dictionaries(
    st.sampled_from(["ext:elevation", "ext:elevation_1", "ext:elevation_2", "other", "ext:elev"]),
    st.integers(0, 500),
    max_size=5,
))
def test_suffix_rule_matches_prefix_count(props):
    n = FJ.count_existing_elevation_properties(props)
    assert n == sum(1 for k in props if k.startswith("ext:elevation"))
    feature = {"type": "Feature", "geometry": {"type": "Point", "coordinates": [1.0, 2.0, 7.5]},
               "properties": dict(props)}
    out = FJ.process_geometry_elevation(feature, "nodes")
    expected_key = "ext:elevation" if n == 0 else f"ext:elevation_{n}"
    assert out["properties"][expected_key] == 7.5


def test_jvm_and_udf_paths_agree_on_random_batch(spark):
    rng = random.Random(42)

    def rand_leaf():
        leaf = [round(rng.uniform(-180, 180), 6) for _ in range(rng.choice([2, 3]))]
        if len(leaf) == 3 and rng.random() < 0.1:
            leaf[2] = rng.choice([0, 0.0, 250])  # zero Z: no elevation; integral Z
        return leaf

    def rand_coords(gtype):
        if gtype == "Point":
            return rand_leaf()
        if gtype in ("MultiPoint", "LineString"):
            return [rand_leaf() for _ in range(rng.randint(2, 5))]
        if gtype in ("MultiLineString", "Polygon"):
            return [[rand_leaf() for _ in range(rng.randint(3, 5))] for _ in range(rng.randint(1, 3))]
        return [[[rand_leaf() for _ in range(rng.randint(3, 4))] for _ in range(rng.randint(1, 2))]
                for _ in range(rng.randint(1, 2))]

    def rand_props(i):
        props = {"_id": f"f{i}"}
        for key in ("ext:elevation", "ext:elevation_1", "ext:elevation_x"):
            if rng.random() < 0.15:
                props[key] = rng.randint(1, 500)
        if rng.random() < 0.1:
            props["nested"] = {"ext:elevation": 1}  # not a top-level key
        # non-object values, one a string holding an object's text
        other = rng.choice(["abc", '{"ext:elevation": 1}', [1, 2], 5, 2.5, True])
        return rng.choice([props, props, props, {}, None, "missing", other])

    kinds_l = ["nodes", "points", "edges", "lines", "polygons", "zones", "extension"]
    gtypes_l = list(geometry_strategies)
    rows = []
    for i in range(600):
        feature = {"type": "Feature"}
        gtype = rng.choice(gtypes_l)
        shape = rng.random()
        if shape < 0.9:
            feature["geometry"] = {"type": gtype, "coordinates": rand_coords(gtype)}
            # the leaf rule reads no type: none, or one of another depth
            if shape < 0.05:
                del feature["geometry"]["type"]
            elif shape < 0.1:
                feature["geometry"]["type"] = rng.choice(
                    [t for t in gtypes_l if DEPTHS[t] != DEPTHS[gtype]] + ["Curve"]
                )
        elif shape < 0.95:
            feature["geometry"] = {"type": gtype, "coordinates": None}
        props = rand_props(i)
        if props != "missing":
            feature["properties"] = props
        rows.append((i, rng.choice(kinds_l), json.dumps(feature)))
    features = [json.loads(r[2]) for r in rows]
    assert sum("properties" not in f for f in features) > 50
    assert sum("properties" in f and f["properties"] is None for f in features) > 50
    assert sum("geometry" not in f for f in features) > 10
    geometries = [f["geometry"] for f in features if f.get("geometry", {}).get("coordinates")]
    assert sum("type" not in g for g in geometries) > 20
    assert sum("type" in g and DEPTHS.get(g["type"]) != _depth(g["coordinates"]) for g in geometries) > 20
    assert sum(not isinstance(f.get("properties", {}), (dict, type(None))) for f in features) > 50

    df = spark.createDataFrame(rows, "i int, kind string, feature_raw string")
    out = G.transform_features(df).select(
        "i", "feature", FJ.process_feature_json("feature_raw", "kind").alias("exact")
    )
    docs = {r.i: (json.loads(r.feature), json.loads(r.exact)) for r in out.collect()}
    assert len(docs) == len(rows)
    diverged = [(i, jvm, exact) for i, (jvm, exact) in sorted(docs.items()) if jvm != exact]
    assert not diverged, f"{len(diverged)} documents diverge, first: {diverged[:3]}"
