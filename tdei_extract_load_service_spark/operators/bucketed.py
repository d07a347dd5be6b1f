"""Bucketed-table materialization for shuffle-free co-located joins.

The reference joins tiny request-scoped frames, so it never needs a
layout strategy; at warehouse scale the dominant cost of a fact-dim or
fact-fact equi join is the shuffle. Spark's answer is bucketing: write
both sides hash-clustered by the join key into the same bucket count,
and every subsequent join/aggregation on that key is EXCHANGE-FREE —
the scan itself reports ``HashPartitioning(key, n)``. This module is
the write-once side (the ``build_pq_index`` pattern applied to table
layout: content-addressed under /tmp, atomic-rename concurrent builds,
re-registered per session from the on-disk layout).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from tdei_extract_load_service_spark.operators.staging import staged_build

_ROOT = "/tmp/spark_graft_bucketed"


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    base_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    corpus_key: str | None = None,
) -> DataFrame:
    """Materialize ``df`` as a bucketed external parquet table and
    return it as a catalog-backed DataFrame whose scan carries the
    bucket layout (``HashPartitioning(bucket_cols, n_buckets)``).

    Layout is a pure function of (data, bucket spec), so the directory
    is content-addressed under /tmp and reused across processes; a new
    session re-registers the existing files with ``CREATE TABLE ...
    CLUSTERED BY ... LOCATION`` (bucket ids live in the file names, so
    registration is metadata-only). Concurrent builders write a staging
    dir and atomically rename — the loser discards its copy.

    The pre-write ``repartition(n_buckets, bucket_cols)`` aligns the
    task partitioning with the bucket hash (both are Murmur3 on the
    columns), so each bucket lands in ONE file — the layout that also
    permits sorted-scan reads. ``corpus_key`` is required and must
    change when the source data does (callers pass path + mtime).

    The layout keeps its own path scheme rather than
    ``staging.stored_index``: the directory backs a registered catalog
    table, which an index-root sweep must never reap.
    """
    if not corpus_key:
        raise ValueError("bucketed_table: corpus key is required")
    cols = list(bucket_cols)
    digest = hashlib.md5(
        repr((base_name, cols, n_buckets, corpus_key)).encode()
    ).hexdigest()[:20]
    name = f"bkt_{base_name}_{digest}"
    if spark.catalog.tableExists(name):
        return spark.table(name)
    path = os.path.join(_ROOT, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(_ROOT, exist_ok=True)
        with staged_build(path) as stage:
            stage_tbl = f"{name}_build_{os.getpid()}"
            (
                df.repartition(n_buckets, *cols)
                .write.bucketBy(n_buckets, *cols)
                .sortBy(*cols)
                .option("path", stage)
                .mode("overwrite")
                .saveAsTable(stage_tbl)
            )
            # external table: DROP removes only the catalog entry
            spark.sql(f"DROP TABLE IF EXISTS {stage_tbl}")
    clustered = ", ".join(f"`{c}`" for c in cols)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({_schema_ddl(df)}) "
        f"USING PARQUET CLUSTERED BY ({clustered}) "
        f"SORTED BY ({clustered}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(name)
