"""Sinks: batched writes, key-scoped overwrite.

Replaces the reference's seven near-identical 38-line bulk-insert methods
(O12, extract-load-service.ts:357-844) with ONE parameterized writer, and
its delete-then-reload-inside-a-transaction pattern (O17/O18,
:290-295 + data-source.ts:33-65) with a key-scoped partition swap:

- ``overwrite_by_key``: rewrites exactly one dataset's partition and
  leaves all other datasets' partitions untouched. A dataset load writes
  every sink table from the driver, so the rows are a driver-side Arrow
  table of one ``tdei_dataset_id``: ``write_arrow`` lands them in a
  private staging directory (no Spark job), then that one partition
  directory is swapped in — delete the live partition, rename the staged
  one — the step Spark's dynamic partition overwrite commits with.
- For a single commit point covering SEVERAL sinks at once (the
  reference's one-transaction load), use ``sinks.manifest.ManifestTxn``:
  versioned directories + one atomic pointer-file swap.

Every partition directory the driver names comes from ``partition_dir``,
the escaped name Spark's writer gives it, so an id holding ``/`` or
``..`` can never address a path outside its table.

JDBC writing (the reference's actual sink, ``write_batched`` and
``jdbc_staged_swap``) is tested against embedded Derby only (no Postgres
in the container); the 1,000-row batch default is carried from
BULK_INSERT_BATCH_SIZE (environment.ts:26).
"""

from __future__ import annotations

import functools
import os
import shutil
import threading
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame

from tdei_extract_load_service_spark.errors import classify_db_error

#: Reference default: BULK_INSERT_BATCH_SIZE (environment.ts:26).
DEFAULT_BATCH_SIZE = 1000

#: Per-sink-root locks: the partition swaps into one table serialize, so
#: two writers never delete and rename the same live directory at once.
#: The write jobs themselves run unlocked — each stages into its own
#: directory — so concurrent loads (queue consumer,
#: maxConcurrentMessages=2) overlap everything except same-table swaps.
#: Not a plan memo: one lock per sink root the process writes.
_PATH_LOCKS: dict[str, threading.Lock] = {}
_PATH_LOCKS_GUARD = threading.Lock()


def _path_lock(path: str) -> threading.Lock:
    with _PATH_LOCKS_GUARD:
        return _PATH_LOCKS.setdefault(os.path.abspath(path), threading.Lock())


def write_batched(
    df: DataFrame,
    jdbc_url: str,
    table: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    mode: str = "append",
    jdbc_options: dict[str, str] | None = None,
) -> None:
    """The single parameterized JDBC writer behind all seven per-kind
    sinks: multi-row batched INSERTs; parallelism = number of DataFrame
    partitions, so callers bound DB connections by coalescing (the
    reference bounds its pool at 20, environment.ts:21 — on Spark,
    ``df.coalesce(n)`` is that knob).
    """
    writer = (
        df.write.format("jdbc")
        .option("url", jdbc_url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
    )
    for k, v in (jdbc_options or {}).items():
        writer = writer.option(k, v)
    try:
        writer.mode(mode).save()
    except Exception as exc:  # noqa: BLE001 — normalize integrity codes (O21)
        raise classify_db_error(exc) from exc


#: The one key every sink table is partitioned and replaced by.
DATASET_KEY = "tdei_dataset_id"

#: Characters Spark's writer escapes in a partition directory name as
#: ``%XX`` (``ExternalCatalogUtils.escapePathName``): control characters,
#: DEL and these specials.
_PATH_ESCAPES = frozenset(map(chr, range(0x20))) | frozenset('"#%\'*/:=?\\\x7f{[]^')

#: Spark's directory value for a null or empty partition value.
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_path_name(name: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in name)


def partition_dir(value) -> str:
    """The directory name ``partitionBy(DATASET_KEY)`` gives ``value`` —
    Spark's ``ExternalCatalogUtils.getPartitionPathString``: the value
    ``%XX``-escaped, a null or empty value mapped to the default
    partition. A path joined from it stays inside its table whatever the
    value holds (``/`` and ``..`` become plain characters of one name)."""
    text = "" if value is None else str(value)
    escaped = _escape_path_name(text) if text else _DEFAULT_PARTITION
    return f"{DATASET_KEY}={escaped}"


@functools.lru_cache(maxsize=64)  # bounded, session-free: a DDL -> Arrow schema
def _arrow_schema(schema: str):
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(schema))


#: Rows per parquet file of a driver-side write: a larger leaf is written
#: as ``rows // ROWS_PER_FILE`` contiguous slices, a smaller one as one
#: file (tiny files x kinds x datasets is the classic small-files problem).
ROWS_PER_FILE = 250_000


def write_arrow(table: pa.Table, schema: pa.Schema, directory: str) -> None:
    """Write a driver-side Arrow table's ``schema`` columns into
    ``directory`` as parquet without a Spark job, in
    ``max(1, rows // ROWS_PER_FILE)`` files. Columns are cast to
    ``schema`` (an all-null column keeps its declared type), and no Arrow
    schema metadata is stored (Spark reads the parquet types back as the
    Spark schema; the footer stays as small as a Spark-written one)."""
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    rows = table.select(schema.names).cast(schema)
    n_files = max(1, rows.num_rows // ROWS_PER_FILE)
    bounds = [i * rows.num_rows // n_files for i in range(n_files + 1)]
    for lo, hi in zip(bounds, bounds[1:]):
        pq.write_table(
            rows.slice(lo, hi - lo),
            os.path.join(directory, f"part-00000-{uuid.uuid4()}.snappy.parquet"),
            store_schema=False,
        )


def overwrite_by_key(rows: pa.Table, path: str, schema: str) -> None:
    """Idempotent delete-then-reload of one dataset (O17,
    ``delete_dataset_records_by_id`` extract-load-service.ts:290-295).

    ``rows`` are driver-held rows of ONE ``DATASET_KEY`` value, typed by
    the DDL ``schema``. They are written by ``write_arrow`` (no Spark
    job) to that value's partition directory under ``path/.load-<uuid>``,
    the key living only in the directory name as in a Spark
    ``partitionBy`` write. Then that one directory is swapped in under
    the table's lock: delete the live partition, rename the staged one.
    A re-run replaces exactly that dataset's directory, other datasets
    are untouched, readers see the old data until the swap, and a failed
    write leaves the live partition as it was.
    """
    import pyarrow.compute as pc

    (dataset_id,) = pc.unique(rows[DATASET_KEY]).to_pylist()  # exactly one key
    leaf = partition_dir(dataset_id)
    staging = os.path.join(path, f".load-{uuid.uuid4().hex}")
    try:
        write_arrow(
            rows,
            pa.schema([f for f in _arrow_schema(schema) if f.name != DATASET_KEY]),
            os.path.join(staging, leaf),
        )
        with _path_lock(path):
            live = os.path.join(path, leaf)
            if os.path.exists(live):
                shutil.rmtree(live)
            os.rename(os.path.join(staging, leaf), live)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _replace_where_predicate(keys: list) -> str:
    """Render the ``replaceWhere`` predicate for a keyed overwrite.

    Strings are single-quoted with embedded quotes doubled (the one escape
    SQL string literals need); numerics render bare. Pure function so the
    dialect rendering is testable without the Delta package installed.
    """
    if not keys:
        raise ValueError("replaceWhere requires at least one key")

    def render(k) -> str:
        if isinstance(k, bool):
            raise TypeError("boolean partition keys are not supported")
        if isinstance(k, (int, float)):
            return repr(k)
        return "'" + str(k).replace("'", "''") + "'"

    return f"{DATASET_KEY} IN ({', '.join(render(k) for k in keys)})"


#: ``overwrite_by_key_delta`` derives its replaceWhere keys from the frame
#: when the caller passes none — that collect is DRIVER state, so it is
#: bounded: above this many distinct keys the predicate would be a
#: multi-megabyte SQL string and the collect a scale hazard; callers
#: replacing that many partitions should pass ``keys`` explicitly (they
#: know the set without a scan) or use a full overwrite.
MAX_REPLACE_KEYS = 10_000


def _collect_replace_keys(df: DataFrame, max_keys: int) -> list:
    """Distinct key values of ``df``, bounded collect (pure helper so the
    bound is testable without the Delta package): reads at most
    ``max_keys + 1`` rows and raises beyond the bound instead of hauling
    an unbounded key set onto the driver."""
    rows = df.select(DATASET_KEY).distinct().limit(max_keys + 1).collect()
    if len(rows) > max_keys:
        raise ValueError(
            f"overwrite_by_key_delta: more than {max_keys} distinct "
            f"{DATASET_KEY!r} values — pass keys= explicitly (or raise "
            "max_keys) rather than deriving a predicate this large from "
            "a full distinct scan"
        )
    return [r[0] for r in rows]


def overwrite_by_key_delta(
    df: DataFrame,
    path: str,
    keys: list | None = None,
    max_keys: int = MAX_REPLACE_KEYS,
) -> None:
    """``overwrite_by_key`` with true single-commit-point semantics: Delta's
    ``replaceWhere`` replaces the key's rows and commits one transaction-log
    entry, so concurrent readers see either the old or the new version —
    never the window between ``overwrite_by_key``'s partition delete and
    rename.

    Optional dependency: requires the ``delta-spark`` package and a session
    with the Delta catalog extensions; raises ``NotImplementedError`` with
    the enable recipe otherwise. The parquet-based ``overwrite_by_key``
    remains the dependency-free default.

    ``keys``: the key values being replaced. Defaults to the distinct
    values in ``df`` — a collect bounded at ``max_keys``
    (``MAX_REPLACE_KEYS``): one value per dataset in the reference's
    per-message flow, but a caller pointing this at an arbitrary frame
    gets a ValueError instead of an unbounded driver collect and a
    multi-megabyte predicate.
    """
    try:
        import delta  # noqa: F401
    except ImportError as exc:  # pragma: no cover - exercised via test skip
        raise NotImplementedError(
            "overwrite_by_key_delta requires delta-spark: install it and build "
            "the session with delta.configure_spark_with_delta_pip(builder) + "
            "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
        ) from exc
    if keys is None:
        keys = _collect_replace_keys(df, max_keys)
        if not keys:
            return  # nothing to replace, nothing to write
    predicate = _replace_where_predicate(keys)
    with _path_lock(path):
        (
            df.write.format("delta")
            .mode("overwrite")
            .option("replaceWhere", predicate)
            .partitionBy(DATASET_KEY)
            .save(path)
        )


#: Dialect rename statements for ``jdbc_staged_swap``. The reference's
#: actual sink is Postgres (data-source.ts), whose rename is the ALTER
#: form; Derby (the embedded test engine) and MySQL use RENAME TABLE.
RENAME_SQL_DERBY = "RENAME TABLE {src} TO {dst}"
RENAME_SQL_POSTGRES = "ALTER TABLE {src} RENAME TO {dst}"


def jdbc_staged_swap(
    spark,
    jdbc_url: str,
    df: DataFrame,
    final_table: str,
    batch_size: int = DEFAULT_BATCH_SIZE,
    jdbc_options: dict[str, str] | None = None,
    rename_sql: str = RENAME_SQL_DERBY,
    drop_before_rename: bool = True,
) -> None:
    """Transactional table replace over JDBC — the O18 analogue
    (runInTransaction, reference data-source.ts:33-65) for relational
    sinks, where Spark's JDBC writer has no cross-statement transaction.

    Pattern: bulk-load a staging table with the distributed writer, then
    one short driver-side DB transaction (java.sql via the JVM gateway)
    drops the old table and renames staging into place. Readers see the
    old data until the commit; a failure anywhere before it leaves the
    final table untouched (rollback = drop staging).

    ``rename_sql`` is dialect-specific: Derby/MySQL ``RENAME TABLE a TO b``,
    Postgres ``ALTER TABLE a RENAME TO b``.

    Dialect requirement: the swap is only atomic on TRANSACTIONAL-DDL
    engines (Postgres, Derby, SQL Server). On autocommit-DDL dialects
    (MySQL, Oracle) the DROP commits immediately and a failure before the
    rename loses the live table — use the dialect's single-statement
    atomic swap there (MySQL ``RENAME TABLE a TO tmp, b TO a``) via
    ``rename_sql``, with DROP disabled by ``drop_before_rename=False``.

    Integrity failures during the bulk load surface as typed
    DuplicateKeyError / ForeignKeyError (O21, data-source.ts:96-107).
    """
    staging = f"{final_table}_staging"
    write_batched(
        df,
        jdbc_url=jdbc_url,
        table=staging,
        batch_size=batch_size,
        mode="overwrite",
        jdbc_options=jdbc_options,
    )
    jvm = spark._jvm  # noqa: SLF001
    conn = jvm.java.sql.DriverManager.getConnection(jdbc_url)
    try:
        conn.setAutoCommit(False)
        stmt = conn.createStatement()
        # case-insensitive existence probe: JDBC metadata stores unquoted
        # identifiers in the dialect's folding case (Derby/Oracle upper,
        # Postgres lower) — try the exact name plus both foldings
        final_exists = False
        for candidate in {final_table, final_table.upper(), final_table.lower()}:
            meta = conn.getMetaData().getTables(None, None, candidate, None)
            if meta.next():
                final_exists = True
                break
        if final_exists and drop_before_rename:
            stmt.execute(f"DROP TABLE {final_table}")
        stmt.execute(rename_sql.format(src=staging, dst=final_table))
        conn.commit()
    except Exception as exc:
        conn.rollback()
        raise classify_db_error(exc) from exc
    finally:
        conn.close()


def blob_upload_layout(
    df: DataFrame,
    base_path: str,
    project_col: str = "project_group_id",
    record_col: str = "record_id",
    ts_col: str | None = None,
    hive_style: bool = False,
    mode: str = "append",
) -> None:
    """Blob-upload sink with the reference's date-partitioned folder scheme
    (storage-service.ts:13-19): ``{year}/{month}/{project}/{record}/...``,
    month NOT zero-padded (JS ``getMonth()+1``).

    ``ts_col`` supplies the partition date per row (the reference stamps
    upload time — pass an ingest-timestamp column for the same effect;
    default uses the session clock via ``current_timestamp()``). The write
    is a normal ``partitionBy`` (executors write straight into their
    partition directories — no extra shuffle beyond what the caller
    provides), and with ``hive_style=False`` the driver then renames the
    ``year=2026`` style directory levels to the raw ``2026`` form for
    byte-for-byte layout parity. The rename pass is driver-side metadata
    work proportional to the number of partition DIRECTORIES (not rows or
    files) — the same order of work the Hadoop commit protocol already
    does per job.
    """
    from pyspark.sql import functions as F

    ts = F.col(ts_col) if ts_col else F.current_timestamp()
    out = df.withColumn("year", F.year(ts)).withColumn("month", F.month(ts))
    cols = ("year", "month", project_col, record_col)
    out.write.mode(mode).partitionBy(*cols).parquet(base_path)
    if hive_style:
        return
    # flatten k=v directory names level by level, depth-first so children
    # are renamed before their parents' paths change. A second append into
    # an already-flattened base finds the raw target directory existing
    # (e.g. '2026' from the prior call) — merge-move the children into it
    # instead of renaming the directory itself, which would raise
    # ENOTEMPTY mid-walk and leave a mixed half-renamed layout.
    levels: list[tuple[str, int]] = [(base_path, 0)]
    while levels:
        current, depth = levels.pop()
        if depth >= len(cols):
            continue
        prefix = f"{cols[depth]}="
        for name in sorted(os.listdir(current)):
            full = os.path.join(current, name)
            if not (os.path.isdir(full) and name.startswith(prefix)):
                continue
            raw = os.path.join(current, name[len(prefix):])
            _merge_move(full, raw)
            levels.append((raw, depth + 1))


def _merge_move(src: str, dst: str) -> None:
    """Move ``src`` to ``dst``; when ``dst`` already exists as a directory,
    recursively merge the children (part-file names are task-unique, so
    real collisions only happen for marker files, which last-write-wins)."""
    if not os.path.exists(dst):
        os.rename(src, dst)
        return
    if os.path.isfile(src) or os.path.isfile(dst):
        os.replace(src, dst)
        return
    for child in os.listdir(src):
        _merge_move(os.path.join(src, child), os.path.join(dst, child))
    os.rmdir(src)


def delete_by_key(path: str, key_value: str) -> None:
    """Remove one key's partition directory from a sink — the engine's form
    of the pre-load ``delete_dataset_records_by_id`` stored procedure (O17,
    extract-load-service.ts:290-295), which wipes ALL prior rows of the
    dataset. Dynamic overwrite alone can't do this: it only replaces
    partitions present in the *new* data, so a kind that disappeared on
    reload would otherwise leave stale rows.

    Local/HDFS-path implementation (directory remove); on object stores or
    catalog tables use ``DELETE WHERE`` / Delta ``replaceWhere`` — same
    contract.
    """
    part_dir = os.path.join(path, partition_dir(key_value))
    with _path_lock(path):
        if os.path.exists(part_dir):
            shutil.rmtree(part_dir)
