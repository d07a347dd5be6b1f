"""The feature transform (O10/O11) as JVM-side column expressions.

``transform_features`` is the one port of ``processGeometryElevation``
(extract-load-service.ts:613-654) the load runs; ``strip_z``,
``first_z_json``, ``count_elevation_keys`` and ``add_property_json`` are its
column building blocks. The reference's recursive coordinate transforms —
``stripZCoordinate`` (:556-569), ``stripZAndExtractElevation`` (:577-604),
``countExistingElevationProperties`` (:543-549) — run without the
recursion: GeoJSON fixes the nesting depth per geometry type, so a ``when``
dispatch on ``geometry.type`` plus ``transform``/``slice``/``filter``
higher-order functions covers every standard arity entirely inside
whole-stage codegen. The reference's own tests only exercise these
arities (test/unit/extract-load-service.test.ts:905-1117).
``feature_json.process_geometry_elevation`` is the recursive
reference implementation the tests compare whole documents against.

Decomposed-feature layout: one ``from_json`` per feature row
(``FEATURE_SCHEMA``) captures ``coordinates`` as a raw JSON array string —
the only schema that can hold every arity in one column — and
``properties`` as a raw JSON object string (value types kept exactly, like
the reference's JSONB cells). That text cannot tell an object from a
string holding an object's text, so a second parse that skips every value
reads the member's type; a non-object value is written back as JSON, or
replaced by ``{}`` when it takes an elevation, as the reference does. The
transformed feature is re-serialized in the canonical envelope order
(type, geometry, properties): the feature ``type`` as the JSON value it
was (``"Feature"`` when missing), ``geometry.type`` as an escaped JSON
string. Feature-level keys beyond that envelope, geometry keys beyond type/coordinates, and
coordinates of a non-standard type or depth (passed through unstripped)
are departures from the reference (PARITY.md O10/O11).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.session import PLAN_MEMO_SIZE

#: Nesting depth of ``coordinates`` per GeoJSON geometry type.
GEOMETRY_DEPTHS: dict[str, int] = {
    "Point": 1,
    "MultiPoint": 2,
    "LineString": 2,
    "MultiLineString": 3,
    "Polygon": 3,
    "MultiPolygon": 4,
}

_ARRAY_TYPES = {
    1: "array<double>",
    2: "array<array<double>>",
    3: "array<array<array<double>>>",
    4: "array<array<array<array<double>>>>",
}


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def strip_z(coords: str | Column, depth: int) -> Column:
    """Strip the Z (and any further) component at every coordinate leaf of a
    *typed* array column of the given nesting depth.

    Mirrors stripZCoordinate (extract-load-service.ts:556-569): a leaf
    ``[x, y, z] -> [x, y]``; leaves shorter than 2 pass through unchanged
    (``slice(c, 1, 2)`` of a 0/1-element array is the identity, matching the
    reference's recursion base case). Mixed 2D/3D leaves in one geometry are
    each normalized independently (ref test :1155-1181).
    """
    c = _col(coords)
    if depth == 1:
        return F.slice(c, 1, 2)
    if depth == 2:
        return F.transform(c, lambda leaf: F.slice(leaf, 1, 2))
    if depth == 3:
        return F.transform(c, lambda ring: F.transform(ring, lambda leaf: F.slice(leaf, 1, 2)))
    if depth == 4:
        return F.transform(
            c,
            lambda poly: F.transform(poly, lambda ring: F.transform(ring, lambda leaf: F.slice(leaf, 1, 2))),
        )
    raise ValueError(f"unsupported coordinate nesting depth {depth}")


def _first_z(c: Column, depth: int) -> Column:
    """First Z found in document order — stripZAndExtractElevation's
    short-circuit capture (extract-load-service.ts:593-599): the first leaf
    with a non-null numeric third element wins. ``F.filter`` preserves array
    order, so ``filter(...)[0][2]`` is exactly "first found"."""
    if depth == 1:
        return F.when(F.size(c) >= 3, F.element_at(c, 3))
    flat = c
    for _ in range(depth - 2):
        flat = F.flatten(flat)
    # try_element_at: an all-2D geometry filters down to an empty array, and
    # ANSI-mode element_at throws on out-of-bounds instead of returning null
    # (caught by the property-based suite; the example matrix missed it)
    first = F.try_element_at(
        F.filter(
            flat, lambda leaf: (F.size(leaf) >= 3) & F.try_element_at(leaf, F.lit(3)).isNotNull()
        ),
        F.lit(1),
    )
    return F.try_element_at(first, F.lit(3))


def _dispatch(geom_type: Column, coords_json: Column, per_depth) -> Column:
    """Build a when-chain over geometry types; unknown types pass through
    (the reference recursion leaves non-array/unknown shapes untouched,
    extract-load-service.ts:557-559)."""
    expr = None
    for gtype, depth in GEOMETRY_DEPTHS.items():
        parsed = F.from_json(coords_json, _ARRAY_TYPES[depth])
        branch = per_depth(parsed, depth)
        cond = geom_type == gtype
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    return expr


def strip_z_coords_json(coords_json: str | Column, geom_type: str | Column) -> Column:
    """Z-strip over the JSON-string coordinate representation.

    Returns the transformed JSON text, or the original text untouched when
    the type is unknown, the JSON is malformed, or coordinates are null —
    the reference's pass-through semantics (extract-load-service.ts:613-615,
    null-coordinates test :1199-1217).
    """
    cj, gt = _col(coords_json), _col(geom_type)
    transformed = _dispatch(gt, cj, lambda parsed, depth: F.to_json(strip_z(parsed, depth)))
    if transformed is None:  # pragma: no cover - GEOMETRY_DEPTHS is non-empty
        return cj
    return F.coalesce(transformed.otherwise(cj), cj)


def first_z_json(coords_json: str | Column, geom_type: str | Column) -> Column:
    """First-found Z over the JSON-string coordinate representation
    (null when absent, malformed, or geometry type unknown)."""
    cj, gt = _col(coords_json), _col(geom_type)
    return _dispatch(gt, cj, _first_z).otherwise(F.lit(None).cast("double"))


def count_elevation_keys(props_json: str | Column, prefix: str = "ext:elevation") -> Column:
    """Count top-level property keys starting with ``prefix`` —
    countExistingElevationProperties (extract-load-service.ts:543-549).

    Parses only the top-level key set (``map<string,string>``), so nested
    objects can't produce false positives; null/malformed properties count 0
    (the reference returns 0 for non-objects).
    """
    keys = F.map_keys(F.from_json(_col(props_json), "map<string,string>"))
    return F.coalesce(F.size(F.filter(keys, lambda k: k.startswith(prefix))), F.lit(0))


def add_property_json(props_json: str | Column, key: Column, value_json: Column) -> Column:
    """Append one ``"key": value`` entry to a JSON-object string, creating
    the object if null/empty — ``feature.properties[propertyName] =
    elevation`` (extract-load-service.ts:631-643) including the
    create-if-missing branch (:632-634).

    ``value_json`` must already be JSON text (e.g. a number rendered via
    CAST AS STRING). Pure string surgery -> stays in codegen; values of
    existing properties are byte-for-byte preserved (JSONB fidelity).
    """
    pj = _col(props_json)
    entry = F.concat(F.lit('"'), key, F.lit('": '), value_json)
    trimmed = F.trim(pj)
    is_missing = pj.isNull() | (trimmed == "null") | (trimmed == "")
    is_empty_obj = F.regexp_replace(trimmed, r"\s", "") == "{}"
    appended = F.concat(F.regexp_replace(pj, r"\}\s*$", ""), F.lit(", "), entry, F.lit("}"))
    return (
        F.when(is_missing | is_empty_obj, F.concat(F.lit("{"), entry, F.lit("}")))
        .otherwise(appended)
    )


#: Decomposed per-feature schema, parsed once per feature row: ``from_json``
#: captures a subtree addressed as a ``string`` field verbatim, so
#: ``coordinates`` of every arity and the open ``properties`` object fit
#: fixed columns as raw JSON text. The feature ``type`` is a ``variant``,
#: so any JSON value (a number, an explicit null) is written back as it
#: was, and only a missing member reads as SQL null.
FEATURE_SCHEMA = "type variant, geometry struct<type string, coordinates string>, properties string"


def _json_string(c: Column) -> Column:
    """``c`` as a quoted, escaped JSON string (``to_json`` of a
    one-element array, its brackets cut)."""
    arr = F.to_json(F.array(c))
    return arr.substr(F.lit(2), F.length(arr) - 2)


@functools.lru_cache(maxsize=PLAN_MEMO_SIZE)
def _transform_exprs() -> tuple[dict[str, Column], ...]:
    # Memoized: building the when-chains costs ~0.9 s of py4j round-trips
    # per call, and the Columns are unresolved name-based trees, so one
    # build serves every load in the process.
    raw, parsed = F.col("feature_raw"), F.col("_parsed")
    ftype, gtype, coords, props = (F.col(c) for c in ("_ftype", "_gtype", "_coords", "_props"))
    is_object, z, n_elev = F.col("_is_object"), F.col("_z"), F.col("_n_elev")

    # missing geometry / null coordinates -> the document passes through
    # untouched (extract-load-service.ts:613-615)
    has_geometry = gtype.isNotNull() & coords.isNotNull() & (F.trim(coords) != "null")
    # ``_props`` is an object's text, or a non-object's content (a string
    # member loses its quotes); only an object takes keys (:543-549,:632)
    object_props = F.when(is_object, props)
    # ext:elevation, or ext:elevation_<n> past n existing ext:elevation*
    # keys (:634-642)
    prop_name = F.when(n_elev == 0, F.lit("ext:elevation")).otherwise(
        F.concat(F.lit("ext:elevation_"), n_elev.cast("string"))
    )
    # JSON number text: integral values print like JS (150, not 150.0)
    z_json = F.when(
        z == F.floor(z), z.cast("decimal(38,1)").cast("long").cast("string")
    ).otherwise(z.cast("string"))
    # any other member value (string, number, array, boolean, null) as
    # JSON text, from a parse that only rows without an object reach; null
    # when the member is missing
    other_json = F.to_json(F.from_json(raw, "properties variant")["properties"])
    # _z is null outside nodes/points and without geometry; zero Z means
    # "no elevation" (:629); a non-object is replaced by {} to take the key
    new_props = F.when(z != 0, add_property_json(object_props, prop_name, z_json)).otherwise(
        F.when(is_object, props).otherwise(other_json)
    )
    # GeoJSON requires the properties member: an explicit null stays, a
    # missing one stays missing
    props_member = F.coalesce(F.concat(F.lit(', "properties": '), new_props), F.lit(""))
    # canonical envelope (type, geometry, properties): feature-level keys
    # beyond it are not carried
    assembled = F.concat(
        F.lit('{"type": '),
        F.coalesce(F.to_json(ftype), F.lit('"Feature"')),
        F.lit(', "geometry": {"type": '),
        _json_string(gtype),
        F.lit(', "coordinates": '),
        strip_z_coords_json(coords, gtype),
        F.lit("}"),
        props_member,
        F.lit("}"),
    )
    # Each dict is one projection. A column that is not cheap and is used
    # more than once downstream stays in its own projection (CollapseProject
    # does not re-inline it), so the feature is parsed once and the first
    # Z (a six-branch parse) and the elevation-key count once each.
    return (
        {"_parsed": F.from_json(raw, FEATURE_SCHEMA)},
        {
            "_ftype": parsed["type"],
            "_gtype": parsed["geometry"]["type"],
            "_coords": parsed["geometry"]["coordinates"],
            "_props": parsed["properties"],
            # the member's JSON type, which ``_props`` text cannot tell (a
            # string holding "{}" reads as {}): an empty struct skips
            # every value, so this parse only tokenizes
            "_is_object": F.from_json(raw, "properties struct<>")["properties"].isNotNull(),
        },
        # only nodes/points take an elevation; other kinds skip the parse
        {"_z": F.when(F.col("kind").isin("nodes", "points"), first_z_json(coords, gtype))},
        {"_n_elev": F.when(z != 0, count_elevation_keys(object_props))},
        {"feature": F.when(has_geometry, assembled).otherwise(raw)},
    )


def transform_features(features_df: DataFrame) -> DataFrame:
    """O10/O11 over ``(kind, feature_raw)`` rows: adds ``feature``, the
    final JSON document for the JSONB-shaped sink column
    (processGeometryElevation, extract-load-service.ts:613-654).

    - every kind: Z stripped at every coordinate leaf;
    - kinds ``nodes``/``points`` also take the first Z; a non-null, non-zero
      one is appended as ``ext:elevation`` (or ``ext:elevation_<n>``);
    - missing geometry / null coordinates: ``feature_raw`` unchanged.
    """
    df = features_df
    for cols in _transform_exprs():
        df = df.withColumns(cols)
    return df.drop("_parsed", "_ftype", "_gtype", "_coords", "_props", "_is_object", "_z", "_n_elev")
