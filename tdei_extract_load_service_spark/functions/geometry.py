"""The feature transform (O10/O11) as JVM-side column expressions.

``transform_features`` is the one port of ``processGeometryElevation``
(extract-load-service.ts:613-654) the load runs; ``count_elevation_keys``
(``countExistingElevationProperties``, :543-549) and ``add_property_json``
are its column building blocks, and ``strip_z`` is the leaf rule over a
typed array. The reference's recursive coordinate transforms —
``stripZCoordinate`` (:556-569) and ``stripZAndExtractElevation``
(:577-604) — apply one leaf rule at any depth and never read
``geometry.type``: an array whose first two elements are numbers becomes
``[x, y]``, and a numeric third element is its Z. The port applies that
rule to the coordinates' JSON text: ``regexp_replace`` rewrites every leaf
and ``regexp_extract`` takes the first Z in document order, which is the
reference's depth-first "first found". The text rule and the recursion
agree on text with no string, no object and no leaf holding an array;
other coordinates pass through as they are.
``feature_json.process_geometry_elevation`` is the recursive reference
implementation the tests compare whole documents against.

Decomposed-feature layout: one ``from_json`` per feature row
(``FEATURE_SCHEMA``) reads ``coordinates`` as a ``variant``, written back
as compact JSON text by ``to_json``, and captures ``properties`` as a raw
JSON object string (value types kept exactly, like the reference's JSONB
cells). That text cannot tell an object from a string holding an object's
text, so a second parse that skips every value reads the member's type; a
non-object value is written back as JSON, or replaced by ``{}`` when it
takes an elevation, as the reference does. The transformed feature is
re-serialized in the canonical envelope order (type, geometry,
properties), each type as the JSON value it was (a missing feature
``type`` written as ``"Feature"``, a missing geometry ``type`` left out).
Feature-level keys beyond that envelope, geometry keys beyond
type/coordinates, and coordinates the text rule does not apply to are
departures from the reference (PARITY.md O10/O11).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.session import PLAN_MEMO_SIZE

# The coordinates' text is compact JSON (``to_json``), and holds no string
# where these patterns apply: an element that starts with ``-`` or a digit
# is a number, and ends at the next ``,``, ``[`` or ``]``. Possessive
# quantifiers keep every match linear.
_XY = r"\[([-0-9][^,\[\]]*+,[-0-9][^,\[\]]*+)"
#: A leaf, an array of no arrays whose first two elements are numbers,
#: with its x, y as group 1.
_LEAF = _XY + r"[^\[\]]*+\]"
#: A leaf's numeric third element; the leftmost match is the first Z.
_FIRST_Z = _XY + r",([-0-9][^,\[\]]*+)"
#: An array that starts with two numbers and holds an array: the
#: reference keeps its x, y and drops the rest, which no pattern can do.
_NESTED_LEAF = _XY + r"[^\[\]]*+\["


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def strip_z(leaf: str | Column) -> Column:
    """A typed leaf array sliced to ``[x, y]`` — stripZCoordinate's leaf
    case (extract-load-service.ts:556-569); a 0/1-element array is
    unchanged, the reference's recursion base case."""
    return F.slice(_col(leaf), 1, 2)


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

    ``value_json`` must already be JSON text (e.g. a number's JSON
    text). Pure string surgery -> stays in codegen; values of existing
    properties are byte-for-byte preserved (JSONB fidelity).
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
#: captures a subtree addressed as a ``string`` field verbatim, so the open
#: ``properties`` object fits a fixed column as raw JSON text. The two
#: types and ``coordinates`` are ``variant``s: any JSON value is written
#: back as the value it was (a ``string`` field would drop a string's
#: quotes), and only a missing member reads as SQL null.
FEATURE_SCHEMA = (
    "type variant, geometry struct<type variant, coordinates variant>, properties string"
)


@functools.lru_cache(maxsize=PLAN_MEMO_SIZE)
def _transform_exprs() -> tuple[dict[str, Column], ...]:
    # Memoized: the Columns are unresolved name-based trees, so one build
    # serves every load in the process.
    raw, parsed = F.col("feature_raw"), F.col("_parsed")
    ftype, gtype, coords, props = (F.col(c) for c in ("_ftype", "_gtype", "_coords", "_props"))
    is_object, z, n_elev = F.col("_is_object"), F.col("_z"), F.col("_n_elev")
    variant_coords = parsed["geometry"]["coordinates"]

    # the leaf rule applies to text with no string or object (a string
    # could hold a leaf's text, an object is no array) and no leaf that
    # holds an array
    plain = ~(coords.contains('"') | coords.contains("{") | coords.rlike(_NESTED_LEAF))
    # ``_props`` is an object's text, or a non-object's content (a string
    # member loses its quotes); only an object takes keys (:543-549,:632)
    object_props = F.when(is_object, props)
    # ext:elevation, or ext:elevation_<n> past n existing ext:elevation*
    # keys (:634-642)
    prop_name = F.when(n_elev == 0, F.lit("ext:elevation")).otherwise(
        F.concat(F.lit("ext:elevation_"), n_elev.cast("string"))
    )
    # any other member value (string, number, array, boolean, null) as
    # JSON text, from a parse that only rows without an object reach; null
    # when the member is missing
    other_json = F.to_json(F.from_json(raw, "properties variant")["properties"])
    # zero Z means "no elevation" (:629); a non-object is replaced by {}
    # to take the key
    has_z = z.cast("double") != 0
    new_props = F.when(has_z, add_property_json(object_props, prop_name, z)).otherwise(
        F.when(is_object, props).otherwise(other_json)
    )
    # GeoJSON requires the properties member: an explicit null stays, a
    # missing one stays missing
    props_member = F.coalesce(F.concat(F.lit(', "properties": '), new_props), F.lit(""))
    # canonical envelope (type, geometry, properties): feature-level keys
    # beyond it are not carried; a missing geometry type stays missing
    assembled = F.concat(
        F.lit('{"type": '),
        F.coalesce(F.to_json(ftype), F.lit('"Feature"')),
        F.lit(', "geometry": {'),
        F.coalesce(F.concat(F.lit('"type": '), F.to_json(gtype), F.lit(", ")), F.lit("")),
        F.lit('"coordinates": '),
        F.when(plain, F.regexp_replace(coords, _LEAF, "[$1]")).otherwise(coords),
        F.lit("}"),
        props_member,
        F.lit("}"),
    )
    # Each dict is one projection. A column that is not cheap and is used
    # more than once downstream stays in its own projection (CollapseProject
    # does not re-inline it), so the feature is parsed once and the first
    # Z and the elevation-key count are taken once each.
    return (
        {"_parsed": F.from_json(raw, FEATURE_SCHEMA)},
        {
            "_ftype": parsed["type"],
            "_gtype": parsed["geometry"]["type"],
            # null when missing or null: the document passes through
            # untouched (extract-load-service.ts:613-615)
            "_coords": F.when(~F.is_variant_null(variant_coords), F.to_json(variant_coords)),
            "_props": parsed["properties"],
            # the member's JSON type, which ``_props`` text cannot tell (a
            # string holding "{}" reads as {}): an empty struct skips
            # every value, so this parse only tokenizes
            "_is_object": F.from_json(raw, "properties struct<>")["properties"].isNotNull(),
        },
        # the first Z as its JSON text; only nodes/points take an elevation
        {
            "_z": F.when(
                F.col("kind").isin("nodes", "points") & plain,
                F.nullif(F.regexp_extract(coords, _FIRST_Z, 2), F.lit("")),
            )
        },
        {"_n_elev": F.when(has_z, count_elevation_keys(object_props))},
        {"feature": F.when(coords.isNotNull(), assembled).otherwise(raw)},
    )


def transform_features(features_df: DataFrame) -> DataFrame:
    """O10/O11 over ``(kind, feature_raw)`` rows: adds ``feature``, the
    final JSON document for the JSONB-shaped sink column
    (processGeometryElevation, extract-load-service.ts:613-654).

    - every kind: Z stripped at every coordinate leaf;
    - kinds ``nodes``/``points`` also take the first Z; a non-zero one is
      appended as ``ext:elevation`` (or ``ext:elevation_<n>``);
    - missing geometry / null coordinates: ``feature_raw`` unchanged.
    """
    df = features_df
    for cols in _transform_exprs():
        df = df.withColumns(cols)
    return df.drop("_parsed", "_ftype", "_gtype", "_coords", "_props", "_is_object", "_z", "_n_elev")
