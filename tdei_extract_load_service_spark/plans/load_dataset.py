"""The dataset-load job — the reference's main path (SURVEY.md §3.1),
recomposed Spark-first.

Reference lifecycle (extract-load-service.ts:242-345): message → pre-delete
→ BEGIN → zip stream → per-entry token pipeline → per-kind batched INSERTs
→ per-file metadata → COMMIT → stats proc → publish. Here the same
semantics run as one pass over the data and one Spark job, whatever the
number of kinds:

    driver: read the archive, decode its .geojson entries and headers
    (zip_fanout) → Arrow local relation → route_case
    → gate select (malformed entries, headers, feature count,
      extension-file id and name per entry), evaluated on the driver
    → explode(features) → transform_features (decompose, strip-Z/elevation,
      reassemble; functions.geometry)
    → ONE job collects every kind's transformed features as Arrow
    → driver: split by kind, count ``ext:elevation`` per kind, write each
      kind table, the extension-file rows, the dataset metadata row and
      the stats row as Arrow files without a job → result dict

Nothing is read twice just to count it: the gate's per-entry counts fill
the stats, and an archive of at most 1 MB runs no shuffle. No Python
worker runs, and nothing is persisted: the entry rows live in the plan as
a ``LocalRelation`` (below
``spark.sql.execution.arrow.localRelationThreshold``), whose gate select
the optimizer folds on the driver. Past that threshold the rows are an
RDD of one partition per entry and the gate is one JVM job of its own;
the collect reads the same rows, so nothing is decoded twice either way.
The driver holds one archive's entry text plus its transformed features,
bounded by ``spark.driver.maxResultSize`` (SCALE.md).

Atomicity: the reference wraps all inserts in one Postgres transaction
(O18). The default here is a key-scoped partition swap per sink table
(``sinks.writers.overwrite_by_key``: stage, then delete-and-rename each
dataset partition), and ``commit_mode="manifest"`` publishes every table
with one pointer swap. Stage timers mirror the reference's
``console.time`` instrumentation (:301,:322,:327,:336); ``transform``
times plan construction only, since its execution happens inside the
``load`` collect, and ``metadata``/``stats`` time Arrow writes.
"""

from __future__ import annotations

import contextlib
import os
import re
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.functions.geometry import transform_features
from tdei_extract_load_service_spark.sinks.writers import overwrite_by_key
from tdei_extract_load_service_spark.sources.geojson import explode_features, feature_count
from tdei_extract_load_service_spark.sources.zip_fanout import (
    InvalidArchiveError,
    routed_entries,
    zip_fanout,
)

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


class NoGeoJsonEntriesError(Exception):
    """Archive contained zero .geojson entries
    (extract-load-service.ts:319-321)."""


class MalformedGeoJsonError(Exception):
    """A .geojson entry failed to parse — the reference normalizes JSON
    syntax errors into a friendly pipeline failure (geoJsonPipeError,
    extract-load-service.ts:41-49)."""


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

            # -- extract: archive -> routed entries -------------------------
            t0 = time.perf_counter()
            # the driver decodes the archive once; the entries are a local
            # relation that the gate and the collect read without a cache
            entries = routed_entries(zip_fanout(spark, archive_path))
            # ONE select returns, per FILE, the malformed-entry gate (O21,
            # geoJsonPipeError extract-load-service.ts:41-49), the header
            # metadata that the extension-registration (O16) and metadata
            # (O15) stages consume, the feature count that fills the stats
            # (O19), and the extension-file id and name. Over a local
            # relation the optimizer evaluates it on the driver (no job);
            # over a relation past the Arrow local-relation threshold it is
            # one job. Collected volume is one small row per file, never
            # feature data. An entry is malformed if either parser rejects
            # it: Jackson accepts single quotes and trailing content after
            # the root object, which the strict header parse (null ``meta``)
            # rejects, and Python's parse accepts nesting Jackson refuses.
            jackson_rejects = F.from_json("entry_text", "map<string,string>").isNull()
            is_bad = jackson_rejects | F.col("meta").isNull()
            per_entry = entries.select(
                "kind",
                "entry",
                is_bad.alias("bad"),
                "meta",
                F.length("entry_text").alias("entry_bytes"),
                feature_count("entry_text").alias("n_features"),
                # the extension_file FK of extension features
                # (extract-load-service.ts:473-479): a stable hash of
                # (dataset, entry) instead of a DB sequence
                F.xxhash64(F.lit(tdei_dataset_id), "entry").alias("ext_file_id"),
                # name = basename sans extension (ref :531)
                F.regexp_extract(
                    F.element_at(F.split("entry", "/"), -1), r"^(.*?)(\.[^.]*)?$", 1
                ).alias("ext_name"),
            ).collect()
            n_entries = len(per_entry)
            if n_entries == 0:
                raise NoGeoJsonEntriesError(
                    f"No GeoJSON files found in the archive for dataset {tdei_dataset_id}"
                )
            bad_entry = min((r["entry"] for r in per_entry if r["bad"]), default=None)
            if bad_entry is not None:
                raise MalformedGeoJsonError(
                    f"Unable to parse GeoJSON: invalid JSON in entry {bad_entry}"
                )
            # per kind: features, and the distinct entries that hold any
            # (zero-feature files add no stats row and no sink file)
            counts: dict[str, int] = {}
            kind_files: dict[str, set[str]] = {}
            for r in per_entry:
                if r["n_features"] > 0:
                    counts[r["kind"]] = counts.get(r["kind"], 0) + r["n_features"]
                    kind_files.setdefault(r["kind"], set()).add(r["entry"])
            ext_entries = [r for r in per_entry if r["kind"] == "extension"]
            total_entry_bytes = sum(r["entry_bytes"] or 0 for r in per_entry)
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
                -(-total_entry_bytes // (1 << 20)),
                4 * spark.sparkContext.defaultParallelism,
            )
            if n_repart > 1:
                features = features.repartition(n_repart)
            features = transform_features(features)
            timings["transform"] = time.perf_counter() - t0

            # -- load: one parameterized writer (O12) over ONE collect -------
            # every kind's transformed features come back in one job as
            # Arrow; each kind table is then written from the driver with no
            # job (the reference's per-kind bulkInsert calls, one
            # transaction)
            t0 = time.perf_counter()
            # (an archive of zero-feature files has nothing to collect)
            rows = features.select("kind", "entry", "feature").toArrow() if counts else None
            ext_ids = {r["entry"]: r["ext_file_id"] for r in ext_entries}
            elevation: dict[str, int] = {}
            for kind in counts:
                part = rows.filter(pc.equal(rows["kind"], kind))
                elevation[kind] = pc.sum(
                    pc.match_substring(part["feature"], '"ext:elevation"')
                ).as_py() or 0
                cols = {"feature": part["feature"], "entry": part["entry"]}
                if kind == "extension":
                    # the FK the gate computed for extension_file.id
                    ids = pc.index_in(part["entry"], value_set=pa.array(list(ext_ids)))
                    cols["ext_file_id"] = pa.array(list(ext_ids.values()), pa.int64()).take(ids)
                sink_write(SINK_TABLES[kind], **cols)

            # extension-file registration (O16, extract-load-service.ts:
            # 515-536): one row per extension entry, created even when it
            # has 0 features (empty-insert fallback O14, :230). Zero
            # extension entries write nothing.
            if ext_entries:
                sink_write(
                    "extension_file",
                    id=list(ext_ids.values()),
                    name=[r["ext_name"] for r in ext_entries],
                    file_meta=[r["meta"] for r in ext_entries],
                )
            timings["load"] = time.perf_counter() - t0

            # -- metadata: per-kind header -> dataset row (O15) --------------
            # an archive of only extension files updates no metadata column
            # in the reference's per-kind switch — no row
            t0 = time.perf_counter()
            if n_entries > len(ext_entries):
                # Several files of one kind each overwrite the same column in
                # the reference's sequential processing — last write wins;
                # entry-name order is the deterministic distributed
                # equivalent (== the previous max_by(meta, entry) pivot)
                last_meta: dict[str, str] = {}
                for r in sorted(
                    (r for r in per_entry if r["kind"] != "extension"),
                    key=lambda r: r["entry"],
                ):
                    last_meta[r["kind"]] = r["meta"]
                sink_write(
                    "dataset",
                    **{col: [last_meta.get(k)] for k, col in META_COLUMNS.items()},
                )
            timings["metadata"] = time.perf_counter() - t0

            # -- stats: the tdei_update_osw_stats analogue (O19) -------------
            # every figure is already known: feature and file counts from the
            # gate pass, elevation counts from the collected features
            t0 = time.perf_counter()
            if counts:
                sink_write(
                    "dataset_stats",
                    kind=list(counts),
                    n_features=list(counts.values()),
                    n_files=[len(kind_files[k]) for k in counts],
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
        from tdei_extract_load_service_spark.errors import DatabaseError, classify_db_error

        exc = classify_db_error(exc)
        message = str(exc)
        if isinstance(exc, DatabaseError):
            # typed integrity failure (23505/23503) — reference
            # data-source.ts:96-107 surfaces the class name + short message
            message = f"{type(exc).__name__}: {message}"
        elif isinstance(exc, InvalidArchiveError):
            pass  # already the short normalized message
        elif too_large := _RESULT_SIZE_ERROR.search(message):
            # the features collect is bounded by spark.driver.maxResultSize:
            # its cause line, not the JVM stack that carries it
            message = f"Archive too large to load: {too_large.group(0)}"
        elif "JSON" in message or "Malformed" in message:
            message = f"Invalid GeoJSON content: {message[:200]}"
        return LoadResult(
            success=False,
            message=message,
            tdei_dataset_id=tdei_dataset_id,
            timings={k: round(v, 4) for k, v in timings.items()},
        )
