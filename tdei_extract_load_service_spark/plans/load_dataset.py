"""The dataset-load job — the reference's main path (SURVEY.md §3.1),
recomposed Spark-first.

Reference lifecycle (extract-load-service.ts:242-345): message → pre-delete
→ BEGIN → zip stream → per-entry token pipeline → per-kind batched INSERTs
→ per-file metadata → COMMIT → stats proc → publish. Here the same
semantics run as one pass over the data and one Spark job, whatever the
number of kinds or the size of the archive:

    driver: read the archive, decode its .geojson entries, route each
    entry and parse its header (zip_fanout) → gate: no entries, a header
    that does not parse, extension-file ids and names
    → Arrow entry relation → explode(features) → transform_features
      (decompose, strip-Z/elevation, reassemble; functions.geometry)
    → ONE job collects every kind's transformed features and Jackson's
      verdict on each entry as Arrow
    → driver: reject an entry Jackson refused, count features, files and
      ``ext:elevation`` per kind, write each kind table, the
      extension-file rows, the dataset metadata row and the stats row as
      Arrow files without a job → result dict

Each entry is parsed once by Python (its header, on the driver) and once
by Jackson (its features, in the job); a load the driver's gate rejects
runs no Spark job at all. Nothing is read twice just to count it: every
count comes from the collected rows, and an archive of at most 1 MB runs
no shuffle. No Python worker runs, and nothing is persisted: below
``spark.sql.execution.arrow.localRelationThreshold`` the entry rows are a
``LocalRelation`` in the plan, past it an RDD of one partition per entry.
The driver holds one archive's entry text plus its transformed features,
bounded by ``spark.driver.maxResultSize`` (SCALE.md).

Atomicity: the reference wraps all inserts in one Postgres transaction
(O18). The default here is a key-scoped partition swap per sink table
(``sinks.writers.overwrite_by_key``: stage, then delete-and-rename the
dataset's partition), and ``commit_mode="manifest"`` publishes every table
with one pointer swap. Stage timers mirror the reference's
``console.time`` instrumentation (:301,:322,:327,:336); ``transform``
times plan construction only, since its execution happens inside the
``load`` collect, and ``metadata``/``stats`` time Arrow writes.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import posixpath
import re
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from tdei_extract_load_service_spark.functions.geometry import transform_features
from tdei_extract_load_service_spark.sinks.writers import overwrite_by_key
from tdei_extract_load_service_spark.sources.geojson import explode_features
from tdei_extract_load_service_spark.sources.zip_fanout import InvalidArchiveError, zip_fanout

#: kind -> sink table name (content.<table>, extract-load-service.ts:378,
#: 426,478,689,736,783,830).
SINK_TABLES = {
    "nodes": "node",
    "edges": "edge",
    "points": "extension_point",
    "lines": "extension_line",
    "polygons": "extension_polygon",
    "zones": "zone",
    "extension": "extension",
}

#: kind -> content.dataset metadata column (extract-load-service.ts:89-118;
#: note edges → event_info is the reference's own mapping).
META_COLUMNS = {
    "nodes": "node_info",
    "edges": "event_info",
    "points": "ext_point_info",
    "lines": "ext_line_info",
    "polygons": "ext_polygon_info",
    "zones": "zone_info",
}


#: column schema of each sink table (A5, FIXTURES.md; INSERT shapes
#: extract-load-service.ts:378,426,478,689,736,783,830)
def sink_schema(table: str) -> str:
    base = "tdei_dataset_id string, feature string, requested_by string, entry string"
    if table == "extension":
        return "tdei_dataset_id string, ext_file_id bigint, feature string, requested_by string, entry string"
    if table == "extension_file":
        return "id bigint, tdei_dataset_id string, name string, file_meta string, requested_by string"
    if table == "dataset":
        cols = ", ".join(f"{c} string" for c in META_COLUMNS.values())
        return f"tdei_dataset_id string, {cols}"
    if table == "dataset_stats":
        return (
            "tdei_dataset_id string, kind string, n_features bigint, "
            "n_files bigint, n_with_elevation bigint"
        )
    return base


def read_sink(spark: SparkSession, warehouse: str, table: str) -> DataFrame:
    """Read a sink table, returning a correctly-typed empty frame when the
    table has no data yet (a freshly-deleted dataset can leave a partition
    directory with zero files — a metastore-backed table would carry the
    schema; this helper is the file-layout equivalent).

    Manifest warehouses (``load_dataset(commit_mode="manifest")``) are
    resolved through the pointer file, so the read is a consistent
    snapshot even while a load is committing."""
    from tdei_extract_load_service_spark.sinks.manifest import (
        is_manifest_warehouse,
        read_table,
    )

    if is_manifest_warehouse(warehouse):
        return read_table(spark, warehouse, table, schema=sink_schema(table))
    path = os.path.join(warehouse, table)
    try:
        return spark.read.schema(sink_schema(table)).parquet(path)
    except Exception:  # noqa: BLE001 — missing directory
        return spark.createDataFrame([], sink_schema(table))


#: Spark's reason for refusing a collect past ``spark.driver.maxResultSize``.
_RESULT_SIZE_ERROR = re.compile(
    r"Total size of serialized results of \d+ tasks \([^)]*\) is bigger than "
    r"spark\.driver\.maxResultSize \([^)]*\)"
)


def ext_file_id(tdei_dataset_id: str, entry: str) -> int:
    """The extension_file surrogate id and the FK of its features
    (extract-load-service.ts:473-479): a stable signed 64-bit digest of
    (dataset, entry) instead of a DB sequence. The JSON pair keeps the two
    fields apart, so ``("a/b", "c")`` and ``("a", "b/c")`` differ."""
    digest = hashlib.blake2b(json.dumps([tdei_dataset_id, entry]).encode(), digest_size=8)
    return int.from_bytes(digest.digest(), "big", signed=True)


def ext_file_name(entry: str) -> str:
    """extension_file.name: the entry's basename without its extension
    (ref :531)."""
    m = re.search(r"^(.*?)(\.[^.]*)?$", posixpath.basename(entry))
    return m.group(1) if m else ""


def _invalid_geojson(detail: str) -> InvalidArchiveError:
    """The load's refusal of an archive without entries
    (extract-load-service.ts:319-321) or with an entry that does not parse
    — the reference normalizes JSON syntax errors into a friendly pipeline
    failure (geoJsonPipeError, extract-load-service.ts:41-49)."""
    return InvalidArchiveError(f"Invalid GeoJSON content: {detail[:200]}")


@dataclass
class LoadResult:
    """The response message payload (O20, extract-load-service.ts:854-861;
    format README.md:75-84)."""

    success: bool
    message: str
    tdei_dataset_id: str
    feature_counts: dict[str, int] = field(default_factory=dict)
    timings: dict[str, float] = field(default_factory=dict)


def load_dataset(
    spark: SparkSession,
    archive_path: str,
    tdei_dataset_id: str,
    user_id: str,
    warehouse: str,
    commit_mode: str = "partition",
) -> LoadResult:
    """Run the full extract-load lifecycle for one dataset.

    Returns a LoadResult (never raises for data errors — O21 error
    normalization, extract-load-service.ts:41-49: failures become a
    friendly failure message, matching the publish-failure path :343).

    ``commit_mode``:

    - ``"partition"`` (default) — each sink table commits independently
      by swapping in the dataset's staged partition directory
      (``sinks.writers.overwrite_by_key``). Crash-safe per table, but a
      reader racing the load can see table A updated before table B.
    - ``"manifest"`` — the full multi-sink load publishes through ONE
      atomic pointer swap (``sinks.manifest``), matching the reference's
      single-transaction visibility (O18, data-source.ts:33-65): a reader
      sees the complete old state or the complete new state of ALL
      tables, and a mid-load crash publishes nothing. Readers must go
      through ``read_sink`` / ``sinks.manifest.read_table``.
    """
    timings: dict[str, float] = {}
    all_tables = (*SINK_TABLES.values(), "extension_file", "dataset", "dataset_stats")
    txn = None
    from tdei_extract_load_service_spark.sinks.manifest import is_manifest_warehouse

    if commit_mode == "manifest":
        # refuse to overlay a manifest onto a partition-layout warehouse:
        # the first pointer swap would HIDE every dataset already loaded
        # there (read_sink resolves only the manifest once one exists)
        if not is_manifest_warehouse(warehouse) and any(
            os.path.isdir(os.path.join(warehouse, t)) for t in all_tables
        ):
            raise ValueError(
                f"warehouse {warehouse!r} already holds partition-mode "
                "tables; loading it with commit_mode='manifest' would make "
                "them invisible. Use a fresh root or keep commit_mode='partition'."
            )
        from tdei_extract_load_service_spark.sinks.manifest import ManifestTxn

        txn = ManifestTxn(warehouse)
    elif commit_mode == "partition":
        # the reverse mix is just as silent: partition writes under a
        # manifest root are invisible to read_sink and never deleted by
        # the manifest's staged deletes
        if is_manifest_warehouse(warehouse):
            raise ValueError(
                f"warehouse {warehouse!r} is a manifest warehouse; load it "
                "with commit_mode='manifest' (partition-mode writes there "
                "would be invisible to readers)."
            )
    else:
        raise ValueError(f"unknown commit_mode {commit_mode!r}")

    def sink_write(table: str, **cols) -> None:
        """Write this dataset's rows of ``table`` from the driver: ``cols``
        are equal-length columns (lists or Arrow arrays); the dataset id
        and the user fill the columns the table declares and ``cols``
        leaves out, and ``sink_schema`` types them all."""
        n = len(next(iter(cols.values())))
        rows = pa.table(
            {"tdei_dataset_id": [tdei_dataset_id] * n, "requested_by": [user_id] * n, **cols}
        )
        if txn is not None:
            txn.write(table, rows, tdei_dataset_id, schema=sink_schema(table))
        else:
            overwrite_by_key(rows, os.path.join(warehouse, table), schema=sink_schema(table))

    try:
        # manifest mode: a failure anywhere below aborts the transaction
        # (the pointer was never swapped, so no reader saw anything)
        with txn or contextlib.nullcontext():
            # -- pre-delete: wipe all prior rows of this dataset (O17,
            # delete_dataset_records_by_id extract-load-service.ts:290-295 —
            # runs before the load, so a kind absent from the new archive
            # can't leave stale rows behind). In manifest mode the deletes are
            # STAGED and land atomically with the writes at commit.
            t0 = time.perf_counter()
            if txn is not None:
                for table in all_tables:
                    txn.delete(table, tdei_dataset_id)
            else:
                from tdei_extract_load_service_spark.sinks.writers import delete_by_key

                for table in all_tables:
                    delete_by_key(os.path.join(warehouse, table), tdei_dataset_id)
            timings["delete"] = time.perf_counter() - t0

            # -- extract: archive -> routed entries and the gate ------------
            t0 = time.perf_counter()
            # the driver decodes the archive once; its per-entry facts are
            # the gate (O21, geoJsonPipeError extract-load-service.ts:41-49)
            # and carry the headers that the extension-registration (O16)
            # and metadata (O15) stages consume, so a rejected load builds
            # no plan and runs no job
            table, files = zip_fanout(archive_path)
            if not files:
                raise _invalid_geojson(
                    f"No GeoJSON files found in the archive for dataset {tdei_dataset_id}"
                )
            rejected = min((f.entry for f in files if f.meta is None), default=None)
            if rejected is not None:
                raise _invalid_geojson(
                    f"Unable to parse GeoJSON: invalid JSON in entry {rejected}"
                )
            ext_files = [f for f in files if f.kind == "extension"]
            ext_ids = [ext_file_id(tdei_dataset_id, f.entry) for f in ext_files]
            entries = spark.createDataFrame(table)
            timings["extract"] = time.perf_counter() - t0

            # -- transform: plan construction only; its execution is the
            # load's one collect, so it is billed to "load"
            t0 = time.perf_counter()
            features = explode_features(entries)
            # explode-skew fix: feature rows inherit the ENTRY partitioning
            # (one task per input file), so one giant .geojson would pin its
            # millions of features to a single core through the whole
            # parse/transform. A round-robin shuffle of the raw feature text
            # right after the explode spreads the per-feature work across the
            # cluster; its cost is one pass over bytes we are about to parse
            # and re-serialize anyway. The shuffle WIDTH is sized to the
            # archive (one task per ~1 MB of entry text, bounded by 4x
            # parallelism): a fixed defaultParallelism width put 32
            # near-empty tasks under a 10k-feature load and their scheduling
            # overhead dominated the stage, while a 300 MB single-file archive
            # still fans out to hundreds of tasks. An archive of at most
            # 1 MB needs no shuffle at all.
            n_repart = min(
                -(-sum(f.chars for f in files) // (1 << 20)),
                4 * spark.sparkContext.defaultParallelism,
            )
            if n_repart > 1:
                features = features.repartition(n_repart)
            features = transform_features(features)
            timings["transform"] = time.perf_counter() - t0

            # -- load: one parameterized writer (O12) over ONE collect -------
            # every kind's transformed features, and Jackson's verdict on
            # each entry, come back in one job as Arrow; each kind table is
            # then written from the driver with no job (the reference's
            # per-kind bulkInsert calls, one transaction)
            t0 = time.perf_counter()
            rows = features.select("kind", "entry", "feature", "bad").toArrow()
            bad = pc.filter(rows["entry"], rows["bad"]).to_pylist()
            if bad:
                raise _invalid_geojson(
                    f"Unable to parse GeoJSON: invalid JSON in entry {min(bad)}"
                )
            # per kind: features, the distinct entries that hold any and
            # those carrying ``ext:elevation`` (zero-feature files add no
            # stats row and no sink file)
            counts: dict[str, int] = {}
            n_files: dict[str, int] = {}
            elevation: dict[str, int] = {}
            for kind in dict.fromkeys(f.kind for f in files):
                part = rows.filter(pc.equal(rows["kind"], kind))
                if not part.num_rows:
                    continue
                counts[kind] = part.num_rows
                n_files[kind] = pc.count_distinct(part["entry"]).as_py()
                elevation[kind] = pc.sum(
                    pc.match_substring(part["feature"], '"ext:elevation"')
                ).as_py() or 0
                cols = {"feature": part["feature"], "entry": part["entry"]}
                if kind == "extension":
                    # the FK of extension_file.id
                    ids = pc.index_in(part["entry"], pa.array([f.entry for f in ext_files]))
                    cols["ext_file_id"] = pa.array(ext_ids, pa.int64()).take(ids)
                sink_write(SINK_TABLES[kind], **cols)

            # extension-file registration (O16, extract-load-service.ts:
            # 515-536): one row per extension entry, created even when it
            # has 0 features (empty-insert fallback O14, :230). Zero
            # extension entries write nothing.
            if ext_files:
                sink_write(
                    "extension_file",
                    id=ext_ids,
                    name=[ext_file_name(f.entry) for f in ext_files],
                    file_meta=[f.meta for f in ext_files],
                )
            timings["load"] = time.perf_counter() - t0

            # -- metadata: per-kind header -> dataset row (O15) --------------
            # an archive of only extension files updates no metadata column
            # in the reference's per-kind switch — no row
            t0 = time.perf_counter()
            if len(files) > len(ext_files):
                # Several files of one kind each overwrite the same column in
                # the reference's sequential processing — last write wins;
                # entry-name order is the deterministic distributed
                # equivalent (== the previous max_by(meta, entry) pivot)
                last_meta: dict[str, str] = {}
                for f in sorted(files, key=lambda f: f.entry):
                    if f.kind != "extension":
                        last_meta[f.kind] = f.meta
                sink_write(
                    "dataset",
                    **{col: [last_meta.get(k)] for k, col in META_COLUMNS.items()},
                )
            timings["metadata"] = time.perf_counter() - t0

            # -- stats: the tdei_update_osw_stats analogue (O19) -------------
            # every figure is already known from the collected features
            t0 = time.perf_counter()
            if counts:
                sink_write(
                    "dataset_stats",
                    kind=list(counts),
                    n_features=list(counts.values()),
                    n_files=[n_files[k] for k in counts],
                    n_with_elevation=[elevation[k] for k in counts],
                )
            timings["stats"] = time.perf_counter() - t0

            # -- commit: in manifest mode, ONE pointer swap publishes every
            # sink written above (the reference's single COMMIT) -------------
            if txn is not None:
                t0 = time.perf_counter()
                txn.commit()
                timings["commit"] = time.perf_counter() - t0

        return LoadResult(
            success=True,
            message="Extract load request processed successfully",
            tdei_dataset_id=tdei_dataset_id,
            feature_counts=counts,
            timings={k: round(v, 4) for k, v in timings.items()},
        )
    except Exception as exc:  # noqa: BLE001 — O21: normalize into a failure publish
        # the load's own refusals carry their response text, and any other
        # failure's text passes through, except that the features collect
        # bounded by spark.driver.maxResultSize reports its cause line, not
        # the JVM stack that carries it
        message = str(exc)
        if not isinstance(exc, InvalidArchiveError) and (
            too_large := _RESULT_SIZE_ERROR.search(message)
        ):
            message = f"Archive too large to load: {too_large.group(0)}"
        return LoadResult(
            success=False,
            message=message,
            tdei_dataset_id=tdei_dataset_id,
            timings={k: round(v, 4) for k, v in timings.items()},
        )
