"""Blob-upload sink layout parity (storage-service.ts:13-19): the
``{year}/{month}/{project}/{record}`` folder scheme, month un-padded."""

from __future__ import annotations

import os

from tdei_extract_load_service_spark.sinks.writers import blob_upload_layout


def _mkdf(spark):
    return spark.createDataFrame(
        [
            ("pg-a", "rec-1", "2026-03-05 10:00:00", "payload-1"),
            ("pg-a", "rec-2", "2026-03-05 11:00:00", "payload-2"),
            ("pg-b", "rec-9", "2025-12-31 23:59:59", "payload-3"),
        ],
        "project_group_id string, record_id string, ts_raw string, body string",
    ).selectExpr("project_group_id", "record_id", "CAST(ts_raw AS TIMESTAMP) AS up_ts", "body")


def test_raw_layout_matches_reference_scheme(spark, tmp_path):
    base = str(tmp_path / "blob")
    blob_upload_layout(_mkdf(spark), base, ts_col="up_ts")
    # year/month/project/record with month NOT zero-padded (getMonth()+1)
    assert os.path.isdir(os.path.join(base, "2026", "3", "pg-a", "rec-1"))
    assert os.path.isdir(os.path.join(base, "2026", "3", "pg-a", "rec-2"))
    assert os.path.isdir(os.path.join(base, "2025", "12", "pg-b", "rec-9"))
    # no hive-style names survive anywhere in the tree
    for root, dirs, _ in os.walk(base):
        for d in dirs:
            assert "=" not in d, f"hive-style dir left behind: {root}/{d}"
    # leaf content is readable parquet with the data columns
    leaf = spark.read.parquet(os.path.join(base, "2026", "3", "pg-a", "rec-1"))
    assert [r.body for r in leaf.collect()] == ["payload-1"]


def test_hive_style_layout_keeps_partition_discovery(spark, tmp_path):
    base = str(tmp_path / "blob_hive")
    blob_upload_layout(_mkdf(spark), base, ts_col="up_ts", hive_style=True)
    assert os.path.isdir(os.path.join(base, "year=2026", "month=3"))
    back = spark.read.parquet(base)
    assert back.count() == 3
    assert back.where("project_group_id = 'pg-b' AND year = 2025").count() == 1


def test_blob_layout_double_append_merges(spark, tmp_path):
    """A second append into an already-flattened base must merge into the
    existing raw directories, not crash on ENOTEMPTY (ADVICE r2)."""
    from tdei_extract_load_service_spark.sinks.writers import blob_upload_layout

    base = str(tmp_path / "blob2")
    df1 = spark.createDataFrame(
        [("p1", "r1", "2026-03-05 10:00:00")], "project_group_id string, record_id string, ts string"
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts"))
    blob_upload_layout(df1, base, ts_col="ts")
    df2 = spark.createDataFrame(
        [("p1", "r2", "2026-03-07 10:00:00"), ("p2", "r1", "2026-04-01 00:00:00")],
        "project_group_id string, record_id string, ts string",
    ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts"))
    blob_upload_layout(df2, base, ts_col="ts")  # must not raise
    import os

    assert sorted(os.listdir(os.path.join(base, "2026"))) == ["3", "4"]
    assert sorted(os.listdir(os.path.join(base, "2026", "3"))) == ["p1"]
    assert sorted(os.listdir(os.path.join(base, "2026", "3", "p1"))) == ["r1", "r2"]
    # both appends' rows are all readable back
    rows = spark.read.parquet(
        os.path.join(base, "2026", "3", "p1", "r1"),
        os.path.join(base, "2026", "3", "p1", "r2"),
        os.path.join(base, "2026", "4", "p2", "r1"),
    ).count()
    assert rows == 3


def test_replace_where_predicate_rendering():
    from tdei_extract_load_service_spark.sinks.writers import _replace_where_predicate

    assert _replace_where_predicate(["ds-1"]) == "tdei_dataset_id IN ('ds-1')"
    assert _replace_where_predicate(["a'b", "c"]) == "tdei_dataset_id IN ('a''b', 'c')"
    assert _replace_where_predicate([1, 2.5]) == "tdei_dataset_id IN (1, 2.5)"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _replace_where_predicate([])


def test_collect_replace_keys_bound(spark):
    """VERDICT r11 #6: the keys-derivation collect is bounded — above
    max_keys it raises (with the pass-keys-explicitly recipe) instead of
    hauling an unbounded distinct key set onto the driver; at or under
    the bound it returns the distinct values."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from tdei_extract_load_service_spark.sinks.writers import (
        _collect_replace_keys,
    )

    small = spark.range(0, 50).select((F.col("id") % 5).alias("tdei_dataset_id"))
    assert sorted(_collect_replace_keys(small, 10)) == [0, 1, 2, 3, 4]
    assert sorted(_collect_replace_keys(small, 5)) == [0, 1, 2, 3, 4]
    wide = spark.range(0, 100).select(F.col("id").alias("tdei_dataset_id"))
    with _pytest.raises(ValueError, match="pass keys= explicitly"):
        _collect_replace_keys(wide, 99)


def test_overwrite_by_key_delta_gate(spark, tmp_path):
    """Without delta-spark installed the adapter raises the documented
    NotImplementedError; with it installed, it performs a single-commit
    keyed replace (exercised only where the package exists)."""
    import pytest as _pytest

    from tdei_extract_load_service_spark.sinks.writers import overwrite_by_key_delta

    df = spark.createDataFrame([("ds-1", "x")], "tdei_dataset_id string, feature string")
    try:
        import delta  # noqa: F401
    except ImportError:
        with _pytest.raises(NotImplementedError, match="delta-spark"):
            overwrite_by_key_delta(df, str(tmp_path / "delta_sink"))
        return
    path = str(tmp_path / "delta_sink")
    overwrite_by_key_delta(df, path)
    df2 = spark.createDataFrame([("ds-1", "y")], "tdei_dataset_id string, feature string")
    overwrite_by_key_delta(df2, path)
    rows = spark.read.format("delta").load(path).collect()
    assert [(r.tdei_dataset_id, r.feature) for r in rows] == [("ds-1", "y")]
