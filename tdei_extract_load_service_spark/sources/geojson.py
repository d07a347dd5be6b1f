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
feature's raw document text (JSONB-fidelity), which
``functions.geometry.transform_features`` decomposes and transforms.

Late headers (keys after the features array — ref test :293-322) are free:
both parses read the whole document, so key order does not matter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
