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

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.session import PLAN_MEMO_SIZE

#: Entry-level schema capturing each feature as raw text, plus the whole
#: entry text when Jackson rejects it.
FEATURES_RAW_SCHEMA = "features array<string>, _corrupt_record string"


@functools.lru_cache(maxsize=PLAN_MEMO_SIZE)
def _explode_exprs() -> tuple[Column, Column, Column]:
    # Memoized as geometry._transform_exprs is: the Columns are unresolved
    # name-based trees, so one build serves every load in the process.
    doc = F.from_json(
        F.col("entry_text"), FEATURES_RAW_SCHEMA, {"columnNameOfCorruptRecord": "_corrupt_record"}
    )
    bad = F.col("_corrupt_record").isNotNull()
    feats = F.when(bad, F.array(F.lit(None).cast("string"))).otherwise(F.col("features"))
    return F.inline(F.array(doc)), bad.alias("bad"), F.explode(feats).alias("feature_raw")


def explode_features(entries_df: DataFrame) -> DataFrame:
    """One output row per feature: carries every entry column but
    ``entry_text``, plus ``bad`` and ``feature_raw`` (the feature's own
    JSON text, byte-faithful).

    An entry Jackson rejects (broken syntax, nesting past its 1000 levels)
    gives exactly one row, with a null ``feature_raw`` and ``bad`` true.
    Otherwise ``explode`` (not ``explode_outer``): zero-feature files
    (``[]``, a missing or non-array ``features``) produce no feature rows —
    the reference's empty-batch insert (O14, :230) is a metadata concern
    handled by ``plans.load_dataset``, not a row here.
    """
    parse, bad, feature_raw = _explode_exprs()
    # the parse is a generator (one row per entry), not a projection: the
    # optimizer folds a projection over a local relation into the relation,
    # which would run it interpreted on the driver instead of in the job;
    # ``bad`` and the explode then read its one result
    cols = [c for c in entries_df.columns if c != "entry_text"]
    return entries_df.select(*cols, parse).select(*cols, bad, feature_raw)
