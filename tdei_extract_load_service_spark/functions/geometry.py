"""Geometry Z-strip + elevation extraction as JVM-side column expressions.

Ports the reference's recursive coordinate transforms —
``stripZCoordinate`` (extract-load-service.ts:556-569),
``stripZAndExtractElevation`` (:577-604),
``countExistingElevationProperties`` (:543-549) and the orchestrating
``processGeometryElevation`` (:613-654) — without the recursion: GeoJSON
fixes the nesting depth per geometry type, so a ``when`` dispatch on
``geometry.type`` plus ``transform``/``slice``/``filter`` higher-order
functions covers every standard arity entirely inside whole-stage codegen.
The reference's own tests only exercise these five arities
(test/unit/extract-load-service.test.ts:905-1117), so typed dispatch is
semantically complete; ``feature_json.process_feature_json`` remains the
arbitrary-depth exact-fidelity fallback.

Representation: in the decomposed-feature layout (see ``sources.geojson``)
``coordinates`` travels as a raw JSON array string — the only schema that
can hold every arity in one column — and ``properties`` as a raw JSON
object string (preserves value types exactly like the reference's JSONB
cells).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def process_geometry_elevation_cols(
    kind: str | Column,
    geom_type: str | Column,
    coords_json: str | Column,
    props_json: str | Column,
    *,
    z: str | Column | None = None,
    n_elev: str | Column | None = None,
) -> tuple[Column, Column]:
    """The full O10/O11 orchestration (processGeometryElevation,
    extract-load-service.ts:613-654) over decomposed feature columns.

    Returns ``(new_coords_json, new_props_json)``:

    - every kind: Z stripped at all leaves;
    - kinds ``nodes``/``points`` additionally extract the first Z; if it is
      non-null and ``!= 0`` (zero means "no elevation", :629) the property
      ``ext:elevation`` — or ``ext:elevation_<n>`` where n = count of
      existing ``ext:elevation*`` keys (:634-642) — is appended;
    - missing geometry / null coordinates pass through untouched (:613-615).

    ``z`` and ``n_elev`` are the ``first_z_json`` and
    ``count_elevation_keys`` values when the caller already projects them
    (``n_elev`` may be null wherever ``z`` is null or 0). Both are used
    several times here, and projection collapse keeps a non-cheap column
    that is used more than once, so a caller that projects them in a frame
    of their own parses each once per row instead of once per use.
    """
    k = _col(kind)
    gt, cj, pj = _col(geom_type), _col(coords_json), _col(props_json)

    has_geometry = gt.isNotNull() & cj.isNotNull() & (F.trim(cj) != "null")
    new_coords = F.when(has_geometry, strip_z_coords_json(cj, gt)).otherwise(cj)

    is_node_point = k.isin("nodes", "points")
    z = first_z_json(cj, gt) if z is None else _col(z)
    existing = count_elevation_keys(pj) if n_elev is None else _col(n_elev)
    prop_name = F.when(existing == 0, F.lit("ext:elevation")).otherwise(
        F.concat(F.lit("ext:elevation_"), existing.cast("string"))
    )
    # Render the elevation as JSON number text: integral values print like
    # JS (150, not 150.0) so the stored document matches the reference's.
    z_json = F.when(
        z == F.floor(z), z.cast("decimal(38,1)").cast("long").cast("string")
    ).otherwise(z.cast("string"))
    should_add = has_geometry & is_node_point & z.isNotNull() & (z != 0)
    new_props = F.when(should_add, add_property_json(pj, prop_name, z_json)).otherwise(pj)
    return new_coords, new_props
