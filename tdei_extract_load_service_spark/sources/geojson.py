"""GeoJSON FeatureCollection parsing over entry rows.

Replaces the reference's streaming JSON token pipeline (O6-O8:
``parser()`` → header-capture transform → ``pick('features')`` →
``streamArray`` → batch, extract-load-service.ts:130-227). The token
plumbing existed so one Node thread could read a huge file once with O(1)
memory; on Spark the features are one declarative JVM-side (Jackson) parse
of the entry text per *entry row*, and the header is parsed where the text
is decoded (``sources.zip_fanout``'s ``meta`` column).

Key trick: ``from_json`` captures any JSON subtree addressed as a
``string`` field verbatim — so ``features array<string>`` yields each
feature's raw document text (JSONB-fidelity), and the decomposed schema
captures ``coordinates``/``properties`` as raw text able to hold every
geometry arity / open property schema in fixed columns.

Late headers (keys after the features array — ref test :293-322) are free:
both parses read the whole document, so key order does not matter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Decomposed per-feature schema: one from_json per feature row.
FEATURE_SCHEMA = "type string, geometry struct<type string, coordinates string>, properties string"

#: Entry-level schema capturing each feature as raw text.
FEATURES_RAW_SCHEMA = "features array<string>"


def explode_features(entries_df: DataFrame, entry_text: str = "entry_text") -> DataFrame:
    """One output row per feature: carries every entry column plus
    ``feature_raw`` (the feature's own JSON text, byte-faithful).

    ``explode`` (not ``explode_outer``): zero-feature files produce no
    feature rows — the reference's empty-batch insert (O14, :230) is a
    metadata concern handled by ``plans.load_dataset``, not a row here.
    """
    feats = F.from_json(F.col(entry_text), FEATURES_RAW_SCHEMA)["features"]
    return entries_df.withColumn("feature_raw", F.explode(feats)).drop(entry_text)


def feature_count(entry_text: str = "entry_text") -> Column:
    """Rows ``explode_features`` makes from one entry: the size of the same
    ``features`` array, 0 when it is missing or null. Null-safe both under
    ANSI (``size(null)`` is null) and legacy ``sizeOfNull`` (-1)."""
    feats = F.from_json(F.col(entry_text), FEATURES_RAW_SCHEMA)["features"]
    return F.greatest(F.coalesce(F.size(feats), F.lit(0)), F.lit(0))


def decompose_feature(feature_raw: str | Column = "feature_raw") -> Column:
    """Parse one feature's text into the fixed envelope struct
    (type / geometry.type / geometry.coordinates as raw JSON text /
    properties as raw JSON text). The envelope is the only structural
    assumption the reference makes too (extract-load-service.ts:614)."""
    c = F.col(feature_raw) if isinstance(feature_raw, str) else feature_raw
    return F.from_json(c, FEATURE_SCHEMA)


def assemble_feature_json(
    ftype: Column, geom_type: Column, coords_json: Column, props_json: Column
) -> Column:
    """Re-serialize a decomposed (possibly transformed) feature to one JSON
    document for the JSONB-cell-shaped sink (reference binds the whole
    feature as one parameter, e.g. extract-load-service.ts:373,:684).

    Canonical envelope order (type, geometry, properties); feature-level
    keys beyond the envelope are not carried by the decomposed
    representation — use the exact-fidelity pandas-UDF path
    (``functions.feature_json``) when they must survive.
    """
    geometry = F.when(
        geom_type.isNotNull(),
        F.concat(
            F.lit('{"type": "'), geom_type, F.lit('", "coordinates": '),
            F.coalesce(coords_json, F.lit("null")), F.lit("}"),
        ),
    )
    return F.concat(
        F.lit('{"type": "'),
        F.coalesce(ftype, F.lit("Feature")),
        F.lit('"'),
        F.coalesce(F.concat(F.lit(', "geometry": '), geometry), F.lit("")),
        F.coalesce(F.concat(F.lit(', "properties": '), props_json), F.lit("")),
        F.lit("}"),
    )
