"""GeoJSON FeatureCollection parsing over entry rows.

Replaces the reference's streaming JSON token pipeline (O6-O8:
``parser()`` → header-capture transform → ``pick('features')`` →
``streamArray`` → batch, extract-load-service.ts:130-227). The token
plumbing existed so one Node thread could read a huge file once with O(1)
memory; on Spark the features are one declarative JVM-side (Jackson) parse
of the entry text per *entry row*, and the header is parsed where the text
is decoded (``sources.zip_fanout.header_meta``). Each entry is parsed once
by each: Python's verdict gates the load before Spark runs, and Jackson's
rides the rows of this parse.

Key trick: ``from_json`` captures any JSON subtree addressed as a
``string`` field verbatim — so ``features array<string>`` yields each
feature's raw document text (JSONB-fidelity), which
``functions.geometry.transform_features`` decomposes and transforms.

Late headers (keys after the features array — ref test :293-322) are free:
both parses read the whole document, so key order does not matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Entry-level schema capturing each feature as raw text, plus the whole
#: entry text when Jackson rejects it.
FEATURES_RAW_SCHEMA = "features array<string>, _corrupt_record string"


def explode_features(entries_df: DataFrame) -> DataFrame:
    """One output row per feature: carries every entry column but
    ``entry_text``, plus ``feature_raw`` (the feature's own JSON text,
    byte-faithful) and ``bad``.

    An entry Jackson rejects (broken syntax, nesting past its 1000 levels)
    gives exactly one row, with a null ``feature_raw`` and ``bad`` true.
    Otherwise ``explode`` (not ``explode_outer``): zero-feature files
    (``[]``, a missing or non-array ``features``) produce no feature rows —
    the reference's empty-batch insert (O14, :230) is a metadata concern
    handled by ``plans.load_dataset``, not a row here.
    """
    doc = F.from_json(
        F.col("entry_text"), FEATURES_RAW_SCHEMA, {"columnNameOfCorruptRecord": "_corrupt_record"}
    )
    # the parse is a generator (one row per entry), not a projection: the
    # optimizer folds a projection over a local relation into the relation,
    # which would run it interpreted on the driver instead of in the job;
    # ``bad`` and the explode then read its one result
    cols = [c for c in entries_df.columns if c != "entry_text"]
    parsed = entries_df.select(*cols, F.inline(F.array(doc)))
    parsed = parsed.withColumn("bad", F.col("_corrupt_record").isNotNull())
    feats = F.when(F.col("bad"), F.array(F.lit(None).cast("string"))).otherwise(F.col("features"))
    return parsed.withColumn("feature_raw", F.explode(feats)).drop("features", "_corrupt_record")
