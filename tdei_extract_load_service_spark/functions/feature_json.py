"""The reference implementation of the feature transform, for tests.

A faithful port of the reference's recursive document surgery —
``stripZCoordinate`` (extract-load-service.ts:556-569),
``stripZAndExtractElevation`` (:577-604),
``countExistingElevationProperties`` (:543-549),
``processGeometryElevation`` (:613-654) — over the *whole* feature JSON
document: feature-level keys beyond type/geometry/properties survive,
coordinates of any nesting depth are handled, and property value types
are kept exactly as the reference's JSONB cells keep them.

The load does not run it: ``functions.geometry.transform_features`` is the
one transform, and the tests compare its whole documents against
``process_geometry_elevation`` (pure Python) or ``process_feature_json``
(the same function as an Arrow-batched pandas UDF, for a Spark batch).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _is_number(x) -> bool:
    # JS `typeof x === 'number'`: bools are not numbers.
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def strip_z_coordinate(coordinates):
    """Recursive Z-strip (extract-load-service.ts:556-569)."""
    if not isinstance(coordinates, list):
        return coordinates
    if len(coordinates) >= 2 and _is_number(coordinates[0]) and _is_number(coordinates[1]):
        return [coordinates[0], coordinates[1]]
    return [strip_z_coordinate(c) for c in coordinates]


def strip_z_and_extract_elevation(coordinates):
    """Single-pass strip + first-Z capture (extract-load-service.ts:577-604)."""
    if not isinstance(coordinates, list):
        return coordinates, None
    if len(coordinates) >= 2 and _is_number(coordinates[0]) and _is_number(coordinates[1]):
        stripped = [coordinates[0], coordinates[1]]
        elevation = coordinates[2] if len(coordinates) >= 3 and _is_number(coordinates[2]) else None
        return stripped, elevation
    found = None
    stripped = []
    for coord in coordinates:
        sub, elev = strip_z_and_extract_elevation(coord)
        if found is None and elev is not None:
            found = elev
        stripped.append(sub)
    return stripped, found


def count_existing_elevation_properties(properties) -> int:
    """Keys starting with ``ext:elevation`` (extract-load-service.ts:543-549)."""
    if not isinstance(properties, dict):
        return 0
    return sum(1 for key in properties if key.startswith("ext:elevation"))


def process_geometry_elevation(feature, feature_kind: str):
    """Orchestration (extract-load-service.ts:613-654): strip Z for every
    kind; for ``nodes``/``points`` also write the first non-zero Z as
    ``ext:elevation`` / ``ext:elevation_<count>``; pass through untouched on
    missing geometry/coordinates or any processing error."""
    if not feature or not isinstance(feature, dict):
        return feature
    geometry = feature.get("geometry")
    if not geometry or not isinstance(geometry, dict) or geometry.get("coordinates") is None:
        return feature
    coordinates = geometry["coordinates"]
    try:
        if feature_kind in ("nodes", "points"):
            stripped, elevation = strip_z_and_extract_elevation(coordinates)
            geometry["coordinates"] = stripped
            if elevation is not None and elevation != 0:
                props = feature.get("properties")
                if not isinstance(props, dict):
                    props = {}
                    feature["properties"] = props
                existing = count_existing_elevation_properties(props)
                name = "ext:elevation" if existing == 0 else f"ext:elevation_{existing}"
                props[name] = elevation
        else:
            geometry["coordinates"] = strip_z_coordinate(coordinates)
    except Exception:  # mirror ref :648-651 — damaged input passes through
        return feature
    return feature


@F.pandas_udf(T.StringType())
def _process_feature_json_udf(feature_json: pd.Series, kind: pd.Series) -> pd.Series:
    def one(doc: str | None, k: str | None) -> str | None:
        if doc is None:
            return None
        try:
            feature = json.loads(doc)
        except (ValueError, TypeError):
            return doc
        return json.dumps(process_geometry_elevation(feature, k or ""), separators=(",", ": "))

    return pd.Series([one(d, k) for d, k in zip(feature_json, kind)])


def process_feature_json(feature_json: str | Column, kind: str | Column) -> Column:
    """Column wrapper: ``(feature JSON doc, kind) -> transformed JSON doc``."""
    fj = F.col(feature_json) if isinstance(feature_json, str) else feature_json
    k = F.col(kind) if isinstance(kind, str) else kind
    return _process_feature_json_udf(fj, k)
