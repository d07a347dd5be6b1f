"""Small-files compaction for manifest-warehouse tables.

A streaming or per-batch writer (streaming/sink.py, incremental loads)
leaves many small files per table version; at warehouse scale the
small-files problem dominates scan cost (every file is an open + a
footer read + a short scan — object stores bill and throttle per
request). Compaction is the standard maintenance op (Delta OPTIMIZE,
Iceberg rewrite_data_files) and the manifest design makes it FREE to do
transactionally: rewrite the same rows into right-sized files in a
fresh version directory and publish with the same atomic pointer swap
as any load — readers never see a half-compacted table, and the old
fragmented directory is tombstoned and reaped by a later commit
(sinks/manifest.py GC contract).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from tdei_extract_load_service_spark.sinks.manifest import (
    ManifestTxn,
    read_manifest,
    read_table,
)


def _data_files(d: str) -> list[str]:
    return [p for p in os.listdir(d) if p.endswith(".parquet")]


def compact_table(
    spark: SparkSession,
    root: str,
    table: str,
    dataset_id: str,
    target_rows_per_file: int = 1_000_000,
) -> dict:
    """Rewrite one (table, dataset) version into
    ``ceil(rows / target_rows_per_file)`` files, published as one
    manifest transaction. Returns
    ``{"rows", "files_before", "files_after", "txn"}``.

    Content is bit-preserved by construction (the same rows pass
    through one repartition — no expressions evaluated); the row COUNT
    here is the only driver-side scalar. At 100 TB run per partition /
    dataset slice exactly like this per-dataset form — the pointer swap
    cost is independent of data size.
    """
    manifest = read_manifest(root)
    reldir = manifest["tables"].get(table, {}).get(str(dataset_id))
    if reldir is None:
        raise ValueError(f"no committed data for ({table!r}, {dataset_id!r})")
    files = _data_files(os.path.join(root, reldir))
    files_before = len(files)
    cur = read_table(spark, root, table, dataset_id=dataset_id)
    # Row count from the parquet footers (driver-side metadata read, the
    # session.spread footer-probe discipline) instead of a count() job:
    # footer num_rows is the bit-exact committed count, and the rewrite
    # is the only scan of the fragmented table.
    rows = sum(
        pq.ParquetFile(os.path.join(root, reldir, f)).metadata.num_rows for f in files
    )
    n_files = max(1, -(-rows // target_rows_per_file))
    with ManifestTxn(root) as txn:
        new_dir = txn.write(table, cur.repartition(n_files), str(dataset_id))
    return {
        "rows": rows,
        "files_before": files_before,
        "files_after": len(_data_files(new_dir)),
        "txn": txn.manifest["txn"],
    }
