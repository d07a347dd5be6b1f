"""Streaming MERGE sink (12th certification) — exactly-once and
resume pins for streaming/sink.manifest_merge_sink and the
merge_shadow harness."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _seed(spark, root, rows):
    from tdei_extract_load_service_spark.sinks.manifest import ManifestTxn

    seed = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "balance"])
    )
    txn = ManifestTxn(root)
    txn.write("balances", seed.coalesce(1), "seed")
    txn.commit()


def _handler(root):
    from tdei_extract_load_service_spark.streaming.sink import (
        manifest_merge_sink,
    )

    return manifest_merge_sink(
        root, "balances", "user_id", ("ts", "event_id"), "op", "balance",
        delete_op="D",
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["user_id", "ts", "event_id", "op", "balance"]
        )
    )


def _state(spark, root):
    from tdei_extract_load_service_spark.sinks.manifest import read_table

    return {
        r["user_id"]: r["balance"]
        for r in read_table(spark, root, "balances").collect()
    }


def test_merge_sink_arms_and_sequencing(spark):
    root = tempfile.mkdtemp(prefix="merge_sink_test_")
    _seed(spark, root, [(1, 10.0), (2, 20.0), (3, 30.0)])
    handle = _handler(root)
    # batch 0: update 1, delete 2, insert 9; within-batch replay rows
    # for user 1 (latest event_id wins); delete of ABSENT key 7 must
    # NOT resurrect as an insert (the conditional-insert arm)
    handle(
        _batch(
            spark,
            [
                (1, 100, 1, "U", 11.0),
                (1, 100, 2, "U", 12.0),
                (2, 100, 3, "D", 0.0),
                (9, 100, 4, "U", 90.0),
                (7, 100, 5, "D", 0.0),
            ],
        ),
        0,
    )
    assert _state(spark, root) == {1: 12.0, 3: 30.0, 9: 90.0}
    # batch 1: re-insert the deleted key, update the inserted one
    handle(
        _batch(spark, [(2, 200, 6, "U", 21.0), (9, 200, 7, "U", 91.0)]), 1
    )
    assert _state(spark, root) == {1: 12.0, 2: 21.0, 3: 30.0, 9: 91.0}


def test_merge_sink_replayed_batch_is_noop(spark):
    from tdei_extract_load_service_spark.sinks.manifest import read_manifest

    root = tempfile.mkdtemp(prefix="merge_sink_test_")
    _seed(spark, root, [(1, 10.0)])
    handle = _handler(root)
    handle(_batch(spark, [(1, 100, 1, "U", 11.0)]), 0)
    txn_after = read_manifest(root)["txn"]
    # Spark re-delivers the last micro-batch after recovery — possibly
    # with DIFFERENT (corrupted/partial) content; the ledger, not the
    # payload, decides
    handle(_batch(spark, [(1, 999, 9, "U", 666.0)]), 0)
    assert _state(spark, root) == {1: 11.0}
    assert read_manifest(root)["txn"] == txn_after  # no new commit
    # ledger: exactly one live dataset, keyed by the committed batch
    live = read_manifest(root)["tables"]["balances"]
    assert list(live) == ["b0"]


def _merge_case(spark, root):
    seed = spark.createDataFrame(
        pd.DataFrame([(1, 10.0)], columns=["user_id", "balance"])
    )
    return (
        _handler(root), "balances", seed,
        _batch(spark, [(1, 100, 1, "U", 11.0)]),
        _batch(spark, [(1, 999, 9, "U", 666.0)]),
    )


def _snapshot_case(spark, root):
    from tdei_extract_load_service_spark.streaming.sink import (
        manifest_snapshot_sink,
    )

    def snap(total):
        return spark.createDataFrame(
            pd.DataFrame([("a", total)], columns=["g", "s"])
        )

    return (
        manifest_snapshot_sink(root, "aggs"), "aggs", snap(1.0), snap(10.0),
        snap(-999.0),
    )


def _docs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _dedup_case(spark, root):
    from tdei_extract_load_service_spark.streaming.sink import (
        DEDUP_STATE_SCHEMA,
        dedup_merge_sink,
    )

    seed = spark.createDataFrame([("seed-hash", 999, 1)], DEDUP_STATE_SCHEMA)
    return (
        dedup_merge_sink(root, "dedup_state", "doc_id", ["text"]),
        "dedup_state", seed,
        _docs(spark, [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")]),
        _docs(spark, [(1, "poison")]),
    )


def _drift_case(spark, root):
    from tdei_extract_load_service_spark.operators.similarity import (
        ivf_centroids,
    )
    from tdei_extract_load_service_spark.streaming.sink import (
        DRIFT_HISTORY_SCHEMA,
        drift_history_sink,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    model = ivf_centroids(emb, "vec_id", "embedding", 4).collect()
    seed = spark.createDataFrame(
        [(99, 0, 1, [0.0] * 64)], DRIFT_HISTORY_SCHEMA
    )
    return (
        drift_history_sink(
            root, "drift_history", "vec_id", "embedding", lambda c: c % 4,
            model,
        ),
        "drift_history", seed,
        emb.where(F.col("vec_id") % 4 == 0),
        emb.where(F.col("vec_id") % 4 == 1),
    )


def _bm25_case(spark, root):
    from tdei_extract_load_service_spark.streaming.sink import (
        BM25_POSTINGS_SCHEMA,
        bm25_index_sink,
    )

    seed = spark.createDataFrame([(999, "seed", 1)], BM25_POSTINGS_SCHEMA)
    return (
        bm25_index_sink(root, "bm25_postings", "bm25_doclen", "doc_id", "text"),
        "bm25_postings", seed,
        _docs(spark, [(1, "alpha beta"), (2, "gamma")]),
        _docs(spark, [(1, "poison poison")]),
    )


#: sink -> (case builder, whether a batch supersedes the table's datasets)
_SINK_CASES = {
    "merge": (_merge_case, True),
    "snapshot": (_snapshot_case, True),
    "dedup": (_dedup_case, True),
    "drift": (_drift_case, False),
    "bm25": (_bm25_case, False),
}


@pytest.mark.parametrize("sink", list(_SINK_CASES))
def test_merge_sink_tolerates_non_batch_dataset_keys(spark, sink):
    """ADVICE r11: a dataset key that starts with the batch prefix but
    has a non-integer suffix (a seed named 'baseline' under the default
    prefix 'b') is NOT a ledger row — every sink must skip it, not
    int()-crash the stream on every batch, and still treat a replayed
    batch id as a no-op."""
    from tdei_extract_load_service_spark.sinks.manifest import (
        ManifestTxn,
        read_manifest,
    )

    build, supersedes = _SINK_CASES[sink]
    root = tempfile.mkdtemp(prefix=f"{sink}_sink_test_")
    handle, table, seed, batch, replay = build(spark, root)
    with ManifestTxn(root) as txn:
        txn.write(table, seed.coalesce(1), "baseline")
    handle(batch, 0)
    published = read_manifest(root)
    assert set(published["tables"][table]) == (
        {"b0"} if supersedes else {"baseline", "b0"}
    )
    if sink == "merge":
        assert _state(spark, root) == {1: 11.0}
    # replay still a no-op with the odd key present
    handle(replay, 0)
    assert read_manifest(root) == published
    if sink == "merge":
        assert _state(spark, root) == {1: 11.0}


def test_merge_shadow_drain_resume_converges(spark, tmp_path):
    """Kill the stream after two micro-batches, resume on the SAME
    checkpoint with the full stage visible: offsets skip the committed
    prefix and the final table equals the uninterrupted run's."""
    from tdei_extract_load_service_spark.sinks.manifest import (
        ManifestTxn,
        read_manifest,
        read_table,
    )
    from tdei_extract_load_service_spark.streaming.shadow import (
        stage_event_stream,
    )
    from tdei_extract_load_service_spark.streaming.sink import (
        manifest_merge_sink,
    )

    sf_dir = "/root/testdata/sf0.001"
    full_stage = stage_event_stream(spark, sf_dir, n_batches=4)
    files = sorted(
        f for f in os.listdir(full_stage) if f.endswith(".parquet")
    )
    assert len(files) == 4
    part_stage = str(tmp_path / "stage")
    os.makedirs(part_stage)
    for f in files[:2]:
        shutil.copy2(
            os.path.join(full_stage, f), os.path.join(part_stage, f)
        )
    root = str(tmp_path / "root")
    seed = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_acctbal").alias("balance"),
    )
    txn = ManifestTxn(root)
    txn.write("balances", seed.coalesce(1), "seed")
    txn.commit()
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(full_stage).schema

    def _leg():
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(part_stage)
            .select(
                "user_id", "ts", "event_id",
                F.col("event_type").alias("op"),
                F.col("value").alias("balance"),
            )
        )
        q = (
            src.writeStream.foreachBatch(
                manifest_merge_sink(
                    root, "balances", "user_id", ("ts", "event_id"),
                    "op", "balance", delete_op="error",
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _leg()  # drains the two visible files, then terminates
    assert list(read_manifest(root)["tables"]["balances"]) == ["b1"]
    for f in files[2:]:
        shutil.copy2(
            os.path.join(full_stage, f), os.path.join(part_stage, f)
        )
    _leg()  # resume: same checkpoint, batches 2..3 only
    assert list(read_manifest(root)["tables"]["balances"]) == ["b3"]
    resumed = {
        r["user_id"]: r["balance"]
        for r in read_table(spark, root, "balances").collect()
    }
    # uninterrupted reference run on a fresh root/checkpoint
    from tdei_extract_load_service_spark.streaming.shadow import merge_shadow

    reference = {
        r["user_id"]: r["balance"]
        for r in merge_shadow(spark, sf_dir, n_batches=4).collect()
    }
    assert resumed == reference
