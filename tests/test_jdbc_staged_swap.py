"""Transactional stage-and-swap over JDBC (O18 parity) against Derby."""

from __future__ import annotations

import os

import pytest

from tdei_extract_load_service_spark.sinks.writers import jdbc_staged_swap

TYPES = {"createTableColumnTypes": "k VARCHAR(32), v VARCHAR(128)"}


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby_swap") / "swapdb"
    return f"jdbc:derby:{db};create=true"


def _read(spark, url, table):
    return spark.read.format("jdbc").option("url", url).option("dbtable", table).load()


def test_swap_creates_then_replaces(spark, derby_url):
    v1 = spark.createDataFrame([("a", "1"), ("b", "2")], "k string, v string")
    jdbc_staged_swap(spark, derby_url, v1, "swap_target", jdbc_options=TYPES)
    assert {(r.k, r.v) for r in _read(spark, derby_url, "swap_target").collect()} == {("a", "1"), ("b", "2")}

    v2 = spark.createDataFrame([("c", "3")], "k string, v string")
    jdbc_staged_swap(spark, derby_url, v2, "swap_target", jdbc_options=TYPES)
    assert {(r.k, r.v) for r in _read(spark, derby_url, "swap_target").collect()} == {("c", "3")}


def test_failed_staging_leaves_final_intact(spark, derby_url):
    import pyspark.sql.functions as F

    good = spark.createDataFrame([("keep", "me")], "k string, v string")
    jdbc_staged_swap(spark, derby_url, good, "swap_safe", jdbc_options=TYPES)
    # a staging write that fails mid-flight (value too long for VARCHAR)
    bad = spark.createDataFrame([("x", "y" * 1000)], "k string, v string")
    with pytest.raises(Exception):
        jdbc_staged_swap(spark, derby_url, bad, "swap_safe", jdbc_options=TYPES)
    # the final table still serves the previous version
    assert [(r.k, r.v) for r in _read(spark, derby_url, "swap_safe").collect()] == [("keep", "me")]


def test_rename_sql_dialect_parameterization(spark, derby_url):
    """The dialect string is a real parameter: passing Derby's syntax
    explicitly works, and the Postgres dialect constant renders the
    reference's actual sink statement (data-source.ts sink dialect)."""
    from tdei_extract_load_service_spark.sinks.writers import (
        RENAME_SQL_DERBY,
        RENAME_SQL_POSTGRES,
    )

    assert RENAME_SQL_POSTGRES.format(src="t_staging", dst="t") == (
        "ALTER TABLE t_staging RENAME TO t"
    )
    df = spark.createDataFrame([("p", "q")], "k string, v string")
    jdbc_staged_swap(
        spark, derby_url, df, "swap_dialect", jdbc_options=TYPES, rename_sql=RENAME_SQL_DERBY
    )
    assert [(r.k, r.v) for r in _read(spark, derby_url, "swap_dialect").collect()] == [("p", "q")]


def test_wrong_dialect_string_rolls_back(spark, derby_url):
    """Running the POSTGRES rename against Derby exercises the full
    statement-construction + execute path with the reference's dialect
    string; the engine rejects the syntax and the swap must roll back,
    leaving the live table serving the previous version."""
    from tdei_extract_load_service_spark.sinks.writers import RENAME_SQL_POSTGRES

    v1 = spark.createDataFrame([("live", "1")], "k string, v string")
    jdbc_staged_swap(spark, derby_url, v1, "swap_pg", jdbc_options=TYPES)
    v2 = spark.createDataFrame([("next", "2")], "k string, v string")
    with pytest.raises(Exception):
        jdbc_staged_swap(
            spark, derby_url, v2, "swap_pg", jdbc_options=TYPES, rename_sql=RENAME_SQL_POSTGRES
        )
    assert [(r.k, r.v) for r in _read(spark, derby_url, "swap_pg").collect()] == [("live", "1")]


def test_overwrite_by_key_failed_write_leaves_old_data(spark, tmp_path, monkeypatch):
    """Atomicity of the file-layout keyed overwrite: a write that FAILS
    part-way (its second parquet file raises) leaves the previously
    committed dataset fully readable and no staging directory behind —
    the commit point is the partition-directory swap, which never runs
    for an aborted write."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdei_extract_load_service_spark.sinks import writers

    schema = "tdei_dataset_id string, n bigint, payload string"

    def rows(payload):
        return pa.table({"tdei_dataset_id": ["ds-a"] * 100, "n": list(range(100)),
                         "payload": [payload] * 100})

    path = str(tmp_path / "atomic_sink")
    writers.overwrite_by_key(rows("v1"), path, schema=schema)
    assert spark.read.parquet(path).where("payload = 'v1'").count() == 100

    monkeypatch.setattr(writers, "ROWS_PER_FILE", 50)
    real_write = pq.write_table
    written = []

    def fail_second(table, where, **kw):
        written.append(where)
        if len(written) == 2:
            raise OSError("injected mid-write failure")
        real_write(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", fail_second)
    with pytest.raises(OSError, match="injected"):
        writers.overwrite_by_key(rows("v2"), path, schema=schema)
    assert len(written) == 2

    # the failed overwrite committed nothing: v1 fully intact, no v2 rows
    after = spark.read.parquet(path)
    assert after.where("payload = 'v1'").count() == 100
    assert after.where("payload = 'v2'").count() == 0
    assert sorted(os.listdir(path)) == ["tdei_dataset_id=ds-a"]
