"""Manifest-pointer atomic commit for the parquet warehouse.

The reference commits a whole dataset load — seven kind tables, the
extension-file registry, the dataset metadata row, and the stats table —
inside ONE Postgres transaction (O18, ``src/database/data-source.ts:33-65``):
a concurrent reader sees either the complete old state or the complete new
state of every table. The dependency-free parquet path could not say that:
``overwrite_by_key`` commits per partition directory, so a reader racing
a load could observe table A already swapped while table B still held
the old rows.

This module closes that gap with the classic manifest-pointer design
(the mechanism behind Delta/Iceberg snapshots, reduced to one JSON file):

- Every write lands in a FRESH versioned directory
  ``root/data/<table>/<dataset>-<txn>`` — never overwriting live data.
- The warehouse has one tiny pointer file, ``root/_MANIFEST.json``,
  mapping ``table -> dataset -> version dir``.
- Commit = write the new manifest to a temp name and ``os.replace`` it
  over the pointer. One atomic rename publishes every table of the
  transaction at once; a crash anywhere before it leaves the pointer —
  and therefore every reader — on the complete previous state.
- Readers snapshot the pointer ONCE and then read only the directories it
  names, so a commit racing the read cannot tear the snapshot.

Garbage collection: a directory displaced by a commit is recorded as a
tombstone in the new manifest and physically deleted by the NEXT commit —
i.e. displaced data survives exactly one commit interval, giving in-flight
snapshot readers that interval to finish (the same grace-period contract
as Delta's ``VACUUM``, with the retention measured in commits instead of
hours). ``keep_commits`` widens it.

Every caller opens a transaction the same way, as a context manager
(``with ManifestTxn(root) as txn:``): a clean exit from the block
commits; an exception aborts (the staged directories are removed, the
pointer is untouched) and re-raises.

A load writes every table from the driver: each (table, dataset) version
is staged as Arrow files straight into its version directory (``write``
with a ``pyarrow.Table``, through ``sinks.writers.write_arrow``, no Spark
job); other writers stage a Spark frame the same way in one job. The
version directories keep the ``data/<table>/<version>`` layout that
``gc_orphans`` and ``read_table_at`` walk.

The transaction itself holds no data: every write lands in a fresh
directory before the pointer swap makes it visible, the pointer swap is
one small-file replace, and the manifest is O(tables x datasets), the
same cardinality the reference keeps as rows in its ``content.dataset``
table.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from tdei_extract_load_service_spark.sinks.writers import _arrow_schema, _path_lock, write_arrow

MANIFEST_NAME = "_MANIFEST.json"
LOCK_NAME = "_MANIFEST.lock"

_EMPTY_MANIFEST: dict = {"txn": 0, "tables": {}, "tombstones": []}


def _manifest_path(root: str) -> str:
    return os.path.join(root, MANIFEST_NAME)


@contextlib.contextmanager
def _warehouse_lock(root: str):
    """Serialize manifest read-modify-write across THREADS and PROCESSES.

    The in-process ``_path_lock`` alone is not enough: two driver
    processes sharing one warehouse (two queue consumers, or a load
    racing a maintenance ``delete_dataset``/``gc_orphans``) would both
    read the old manifest and ``os.replace`` last-writer-wins, silently
    dropping the other commit's published tables. So commit/gc also hold
    an OS-level advisory lock (``fcntl.flock`` on ``root/_MANIFEST.lock``)
    — blocking, released on close, crash-safe (the kernel drops it with
    the fd, so a killed committer cannot wedge the warehouse).

    The thread lock is still taken FIRST: ``flock`` is per-open-file and
    re-entrant within a process, so without it two threads of one process
    could interleave. Lock order (thread, then file) is fixed everywhere,
    so no deadlock. On filesystems where flock is a no-op (some NFS
    mounts) the behavior degrades to the previous single-process
    guarantee; object-store deployments should front commits with a
    single committer service exactly as the reference fronts Postgres.
    """
    import fcntl

    os.makedirs(root, exist_ok=True)
    with _path_lock(root):
        with open(os.path.join(root, LOCK_NAME), "a+") as fh:
            fcntl.flock(fh.fileno(), fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh.fileno(), fcntl.LOCK_UN)


def is_manifest_warehouse(root: str) -> bool:
    return os.path.exists(_manifest_path(root))


def read_manifest(root: str) -> dict:
    """Snapshot the pointer. One read = one consistent snapshot; callers
    must not re-read mid-query."""
    try:
        with open(_manifest_path(root)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return json.loads(json.dumps(_EMPTY_MANIFEST))


def _safe_component(value: str) -> str:
    """Dataset ids become path components — keep them filesystem-safe AND
    collision-free. Sanitizing alone is lossy (``'a/b'`` and ``'a_b'``
    both map to ``a_b``; staged in one transaction they would share a
    directory and the second write would clobber the first), so whenever
    sanitization changed the value, a short stable hash of the RAW id is
    appended: distinct raw ids always get distinct components, while
    already-clean ids keep their readable unsuffixed form."""
    raw = str(value)
    safe = re.sub(r"[^A-Za-z0-9._-]", "_", raw)
    if safe != raw:
        safe += "." + hashlib.sha256(raw.encode()).hexdigest()[:8]
    return safe


def _table_dirs(m: dict, table: str, dataset_id: str | None) -> list[str]:
    """The directories manifest ``m`` maps ``table`` to: every dataset's,
    or only ``dataset_id``'s."""
    table_map = m["tables"].get(table, {})
    if dataset_id is None:
        return sorted(table_map.values())
    one = table_map.get(str(dataset_id))
    return [one] if one is not None else []


def read_table(
    spark: SparkSession,
    root: str,
    table: str,
    schema=None,
    manifest: dict | None = None,
    dataset_id: str | None = None,
) -> DataFrame:
    """Read one table at the manifest's current snapshot. Pass ``manifest``
    to pin several tables to the SAME snapshot (e.g. a join across kind
    tables mid-commit). Returns a typed empty frame (``schema`` required
    for that) when the table has no committed data.

    ``dataset_id`` scopes the read to ONE dataset's directory — the
    manifest-path form of partition pruning: the manifest maps (table,
    dataset) straight to its directory, so a single-dataset reader plans
    O(1) paths instead of unioning every dataset's directory (the same
    win ``tdei_dataset_id=...`` partition filters give the partition
    layout)."""
    m = manifest if manifest is not None else read_manifest(root)
    reldirs = _table_dirs(m, table, dataset_id)
    if not reldirs:
        if schema is None:
            raise ValueError(
                f"table {table!r} has no data at txn {m['txn']} and no schema was given"
            )
        return spark.createDataFrame([], schema)
    paths = [os.path.join(root, d) for d in reldirs]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


class ManifestTxn:
    """One multi-table transaction: stage any number of per-dataset table
    versions, then publish them all with a single pointer swap.

    Usage::

        with ManifestTxn(root) as txn:
            txn.delete("node", "ds-1")          # applied at commit
            txn.write("node", node_df, "ds-1")  # distributed write, staged
            txn.write("dataset_stats", stats_df, "ds-1")
        txn.manifest                            # the published manifest

    The block commits when it exits cleanly and aborts (then re-raises)
    when it raises; an explicit ``commit()`` inside the block publishes
    once and the exit adds nothing.

    ``write``/``delete`` may be called from concurrent threads: the data
    writes go to disjoint fresh directories and the bookkeeping appends
    are GIL-atomic. Only ``commit`` touches shared state, under the warehouse
    lock.
    """

    def __init__(self, root: str, keep_commits: int = 1) -> None:
        self.root = root
        self.txn_id = uuid.uuid4().hex[:12]
        self.keep_commits = keep_commits
        self._writes: list[tuple[str, str, str]] = []  # (table, dataset, reldir)
        self._deletes: list[tuple[str, str]] = []
        self._done = False
        #: the manifest ``commit`` published (None until then)
        self.manifest: dict | None = None

    def __enter__(self) -> ManifestTxn:
        return self

    def __exit__(self, exc_type, _exc, _tb) -> None:
        try:
            if exc_type is None and not self._done:
                self.commit()
        finally:
            # no-op once committed: reaps the staged directories of a
            # block that raised, or of a commit that failed before its
            # pointer swap
            self.abort()

    def _version_dir(self, table: str, dataset_id: str) -> str:
        return os.path.join(
            "data", _safe_component(table), f"{_safe_component(dataset_id)}-{self.txn_id}"
        )

    def write(
        self,
        table: str,
        df: DataFrame | pa.Table,
        dataset_id: str,
        schema: str | None = None,
    ) -> str:
        """Stage one (table, dataset) version in a directory unique to this
        transaction: a distributed parquet write of a Spark frame (caller
        controls file count via coalesce/repartition on ``df``), or Arrow
        files of a driver-side ``pyarrow.Table`` typed by the DDL
        ``schema`` (no Spark job). Returns the staged directory."""
        reldir = self._version_dir(table, dataset_id)
        path = os.path.join(self.root, reldir)
        if isinstance(df, pa.Table):
            write_arrow(df, _arrow_schema(schema), path)
        else:
            df.write.mode("overwrite").parquet(path)
        self._writes.append((table, str(dataset_id), reldir))
        return path

    def delete(self, table: str, dataset_id: str) -> None:
        """Stage removal of a dataset's rows from a table (O17,
        delete_dataset_records_by_id, extract-load-service.ts:290-295) —
        nothing is visible or destroyed until commit."""
        self._deletes.append((table, str(dataset_id)))

    def commit(self) -> dict:
        """Publish every staged write/delete with one atomic pointer swap,
        then garbage-collect directories tombstoned by PREVIOUS commits.
        Returns the new manifest."""
        if self._done:
            raise RuntimeError("transaction already committed or aborted")
        with _warehouse_lock(self.root):
            current = read_manifest(self.root)
            new = {
                "txn": current["txn"] + 1,
                "tables": {t: dict(m) for t, m in current["tables"].items()},
                "tombstones": [],
            }
            displaced: list[str] = []
            for table, dataset in self._deletes:
                old = new["tables"].get(table, {}).pop(dataset, None)
                if old is not None:
                    displaced.append(old)
            for table, dataset, reldir in self._writes:
                old = new["tables"].setdefault(table, {}).get(dataset)
                if old is not None and old != reldir:
                    displaced.append(old)
                new["tables"][table][dataset] = reldir
            # displaced dirs become tombstones for a later commit to reap;
            # tombstones old enough (aged >= keep_commits) are reaped NOW,
            # strictly after the pointer swap succeeds
            ripe = [
                t for t in current["tombstones"]
                if new["txn"] - t["txn"] >= self.keep_commits
            ]
            new["tombstones"] = [
                t for t in current["tombstones"] if t not in ripe
            ] + [{"txn": new["txn"], "dir": d} for d in displaced]

            os.makedirs(self.root, exist_ok=True)
            tmp = _manifest_path(self.root) + f".tmp-{self.txn_id}"
            with open(tmp, "w") as fh:
                json.dump(new, fh, indent=1, sort_keys=True)
                fh.flush()
                os.fsync(fh.fileno())
            # THE commit point: one atomic replace publishes all tables
            os.replace(tmp, _manifest_path(self.root))
            self._done = True
            self.manifest = new
            # history snapshot for time travel (read_table_at): written
            # AFTER the commit point, so a failure between the two leaves
            # a valid current pointer and merely no snapshot for this txn
            # (read_table_at reports it unavailable) — the commit landed,
            # so it must not raise, and the ripe tombstones (already gone
            # from the new manifest) are reaped either way. Snapshots are
            # tiny JSON pointers; the data dirs they reference live
            # exactly as long as keep_commits lets their tombstones live.
            hist = os.path.join(self.root, "_history")
            with contextlib.suppress(OSError):
                os.makedirs(hist, exist_ok=True)
                htmp = os.path.join(hist, f".tmp-{self.txn_id}")
                with open(htmp, "w") as fh:
                    json.dump(new, fh, indent=1, sort_keys=True)
                os.replace(htmp, os.path.join(hist, f"manifest-{new['txn']:06d}.json"))
            for tomb in ripe:
                shutil.rmtree(os.path.join(self.root, tomb["dir"]), ignore_errors=True)
            return new

    def abort(self) -> None:
        """Roll back: remove staged directories. The pointer was never
        touched, so no reader ever saw anything from this transaction."""
        if self._done:
            return
        self._done = True
        for _table, _dataset, reldir in self._writes:
            shutil.rmtree(os.path.join(self.root, reldir), ignore_errors=True)


def delete_dataset(root: str, dataset_id: str, tables: tuple[str, ...] | None = None) -> dict:
    """Remove one dataset from every table (or the given ``tables``) in a
    single atomic commit — the standalone form of the load's staged
    pre-delete (O17, delete_dataset_records_by_id): a reader sees the
    dataset everywhere or nowhere, never mid-removal. Displaced
    directories follow the normal tombstone grace. Returns the new
    manifest."""
    targets = tables if tables is not None else tuple(read_manifest(root)["tables"])
    with ManifestTxn(root) as txn:
        for table in targets:
            txn.delete(table, dataset_id)
    return txn.manifest


def gc_orphans(root: str, min_age_seconds: float = 3600.0) -> list[str]:
    """Remove data directories referenced by neither the manifest's tables
    nor its tombstones — debris from crashed transactions (whose writes
    landed but whose commit never ran). Returns the removed relative paths.

    Concurrency contract: the manifest snapshot is taken INSIDE the
    warehouse lock (a commit can't slip between the read and the deletes),
    and an unreferenced directory is only reaped once it is older than
    ``min_age_seconds`` — an IN-FLIGHT transaction's staged directories
    are unreferenced too (writes happen before the pointer swap, outside
    any lock), and age is the only thing distinguishing them from crash
    debris. Keep the grace period above your longest write stage, or run
    gc only when no loads are in flight (``min_age_seconds=0`` for tests /
    quiesced maintenance windows)."""
    import time

    removed: list[str] = []
    data_root = os.path.join(root, "data")
    if not os.path.isdir(data_root):
        return removed
    now = time.time()
    with _warehouse_lock(root):
        m = read_manifest(root)
        live = {d for table in m["tables"].values() for d in table.values()}
        live |= {t["dir"] for t in m["tombstones"]}
        for table in sorted(os.listdir(data_root)):
            tdir = os.path.join(data_root, table)
            if not os.path.isdir(tdir):
                continue
            for version in sorted(os.listdir(tdir)):
                rel = os.path.join("data", table, version)
                if rel in live:
                    continue
                try:
                    age = now - os.path.getmtime(os.path.join(root, rel))
                except OSError:
                    continue
                if age >= min_age_seconds:
                    shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
                    removed.append(rel)
    return removed


def list_versions(root: str) -> list[int]:
    """Transaction numbers with a history snapshot (time-travelable,
    subject to tombstone retention — see ``read_table_at``)."""
    hist = os.path.join(root, "_history")
    try:
        names = os.listdir(hist)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        m = re.fullmatch(r"manifest-(\d{6})\.json", n)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_table_at(
    spark: SparkSession,
    root: str,
    table: str,
    txn: int,
    schema=None,
    dataset_id: str | None = None,
) -> DataFrame:
    """Time travel: read ``table`` exactly as transaction ``txn``
    published it — the Delta/Iceberg ``VERSION AS OF`` contract on the
    manifest warehouse. Every commit snapshots its pointer map under
    ``_history/``; the data directories a snapshot references survive as
    long as ``keep_commits`` keeps their tombstones un-reaped, so
    retention is an explicit warehouse policy, not an accident. A
    version whose directories have been reaped (or whose snapshot was
    never written) raises a clear error instead of returning a partial
    table.

    Scale shape: identical to ``read_table`` — the snapshot maps
    (table, dataset) straight to O(datasets) directories; no log replay,
    no file listing beyond the chosen dirs."""
    snap_path = os.path.join(root, "_history", f"manifest-{txn:06d}.json")
    try:
        with open(snap_path) as fh:
            m = json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"no history snapshot for txn {txn} in {root!r} "
            f"(available: {list_versions(root)})"
        ) from None
    missing = [
        d for d in _table_dirs(m, table, dataset_id)
        if not os.path.isdir(os.path.join(root, d))
    ]
    if missing:
        raise ValueError(
            f"version {txn} of table {table!r} has expired: {len(missing)} "
            f"directories reaped by tombstone GC (keep_commits retention); "
            "raise keep_commits on the writing transactions to retain "
            "deeper history"
        )
    return read_table(spark, root, table, schema, manifest=m, dataset_id=dataset_id)


def write_audit_publish(
    root: str,
    table: str,
    df,
    rules: list[dict],
    dataset_id: str = "wap",
    supersede: bool = False,
):
    """WRITE-AUDIT-PUBLISH (the Netflix/Iceberg WAP pattern): stage the
    frame as an uncommitted manifest write, run the declarative
    expectation suite (operators/profiling.dq_check) against the
    PHYSICALLY STAGED parquet — auditing what was actually written,
    including any corruption the write itself could introduce, not the
    logical plan that produced it — and swap the pointer only if every
    rule passes. On any failure the transaction aborts (staged
    directories removed) and ``errors.ExpectationFailedError`` carries
    the failed rule rows; readers never observe the rejected data.

    ``supersede=True`` additionally deletes every dataset the table
    held AT TRANSACTION START in the same commit (snapshot-replace
    semantics; the delete set is captured once up front, so datasets a
    concurrent committer lands mid-audit are not swept). The default
    appends the dataset alongside the table's existing datasets —
    PROVIDED the caller passes a unique ``dataset_id`` per publish: the
    manifest is keyed by dataset id, so re-publishing under the same id
    (including the default ``"wap"``) REPLACES that dataset's previous
    version rather than appending a new one (the load-job O17
    key-scoped idiom stays available via delete_dataset).

    Returns the full audit report rows (pass AND fail) so callers can
    ship the metrics to monitoring either way.

    This composes two certified mechanisms — dq_check's one-pass
    metrics and ManifestTxn's atomic pointer swap (O18) — into the
    contract a 100 TB nightly load needs: a bad batch costs one staged
    directory and an error, never a reader-visible bad table.
    """
    from tdei_extract_load_service_spark.errors import ExpectationFailedError
    from tdei_extract_load_service_spark.operators.profiling import dq_check

    spark = df.sparkSession
    # snapshot the supersede delete set at TXN START: a concurrent
    # commit landing while the audit runs must not be swept by a
    # decision made against a manifest it was not part of
    initial_keys = list(read_manifest(root)["tables"].get(table, {}))
    with ManifestTxn(root) as txn:
        staged = spark.read.parquet(txn.write(table, df, dataset_id))
        report = dq_check(staged, rules).collect()
        failed = [r for r in report if not r["passed"]]
        if failed:
            raise ExpectationFailedError(failed)
        if supersede:
            for k in initial_keys:
                txn.delete(table, k)
    return report
