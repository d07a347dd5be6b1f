"""ZIP archive fan-out source.

Replaces the reference's streamed sequential ZIP scan (O3-O5: blob read,
``unzipper.Parse`` + 64 KB re-chunk + skip-drain,
extract-load-service.ts:262-267, :298-321, :20,:61-72). Spark has no
built-in zip datasource, so the driver reads each archive's bytes through
``pyarrow.fs`` (local paths, ``file:`` URIs and the object stores pyarrow
supports), decodes the matched entries with ``zipfile`` and hands them to
Spark as a ``pyarrow.Table`` of one record batch per entry.

Below ``spark.sql.execution.arrow.localRelationThreshold`` that table
becomes a ``LocalRelation``: the optimizer evaluates a projection over it
on the driver (``ConvertToLocalRelation``), so a per-entry select runs no
Spark job, and later plans re-read the in-memory rows without a cache.
Above it the rows are a parallelized RDD of one partition per entry. No
Python worker runs either way.

Deliberate departures from the reference (SURVEY.md §4):
- the reference must visit entries *sequentially* because its zip parser is
  a shared stream (comment at :305-307); here the entries become
  independent rows, and Spark parallelizes the feature work across them
  (and, after the load's repartition, within one large entry);
- skip-drain is unnecessary: unmatched entries are simply never decoded
  (``zipfile`` reads the central directory and seeks to matched members
  only).

Each entry row also carries ``meta``, the entry's header (O7: root keys
minus ``features``/``type``, null values -> ``''`` as the metadata
projection writes them, extract-load-service.ts:139-178, :496-502) as a
JSON object string, or null when the text is not a JSON object. ``json``
round-trips numeric header values exactly, which a ``map<string,string>``
parse would flatten.

Scale notes: a ZIP is not splittable, so one reader decodes an archive
whichever process does it. The driver holds one archive's matched entry
text (plus the transient parse of the entry whose header it is reading);
many archives (the 100 TB case is many datasets × many files) are many
loads.
"""

from __future__ import annotations

import io
import json
import os
import posixpath
import zipfile
import zlib
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession

from tdei_extract_load_service_spark.functions.maps import HEADER_EXCLUDED_KEYS
from tdei_extract_load_service_spark.operators.relational import OSW_ROUTES, route_case

#: Output schema of the fan-out.
ENTRY_SCHEMA = "archive string, entry string, entry_text string, meta string"
_ENTRY_ARROW = pa.schema([(name.split()[0], pa.string()) for name in ENTRY_SCHEMA.split(", ")])

#: Entry filter, ported from extract-load-service.ts:303.
GEOJSON_SUFFIX = ".geojson"
MACOSX_PREFIX = "__MACOSX/"

#: Archive filter, applied to a single path as to a directory's files.
ARCHIVE_SUFFIX = ".zip"


class InvalidArchiveError(Exception):
    """An archive or entry the fan-out cannot decode. The message is the
    load's normalized failure message (O21): short, and free of server
    paths."""


def archive_files(path: str) -> tuple[pafs.FileSystem, list[str]]:
    """Resolve the blob/file source (O3, extract-load-service.ts:262-267):
    a ``.zip`` file, or every ``.zip`` under a directory in path order,
    skipping hidden ``.``/``_`` names as Spark's file listing does. A file
    that is not a ``.zip`` yields none."""
    uri = path if "://" in path or path.startswith("file:") else os.path.abspath(path)
    fs, root = pafs.FileSystem.from_uri(uri)
    info = fs.get_file_info(root)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(f"Path does not exist: {path}")
    if info.type != pafs.FileType.Directory:
        return fs, [root] if root.endswith(ARCHIVE_SUFFIX) else []
    found = fs.get_file_info(pafs.FileSelector(root, recursive=True))
    return fs, sorted(
        i.path
        for i in found
        if i.is_file
        and i.path.endswith(ARCHIVE_SUFFIX)
        and not any(part.startswith((".", "_")) for part in i.path[len(root) :].split("/"))
    )


def header_meta(text: str) -> str | None:
    """The entry's header as a JSON object string (see module docstring)."""
    try:
        doc = json.loads(text)
    except ValueError:
        return None
    if not isinstance(doc, dict):
        return None
    return json.dumps(
        {k: "" if v is None else v for k, v in doc.items() if k not in HEADER_EXCLUDED_KEYS},
        separators=(", ", ": "),
    )


def _entry_batches(
    fs: pafs.FileSystem, archive: str, entry_suffix: str, exclude_substring: str
) -> Iterator[pa.RecordBatch]:
    """One record batch per matched entry of one archive, so a large
    relation is parallelized one entry per partition."""
    basename = posixpath.basename(archive)
    # one sequential read of the archive, as the reference streams it
    with fs.open_input_stream(archive) as fh:
        data = fh.readall()
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile:
        raise InvalidArchiveError(f"Invalid archive: {basename} is not a zip file") from None
    with zf:
        for info in zf.infolist():
            name = info.filename
            if info.is_dir() or not name.endswith(entry_suffix) or exclude_substring in name:
                continue
            try:
                text = zf.read(info).decode("utf-8")
            except UnicodeDecodeError:
                raise InvalidArchiveError(
                    f"Invalid GeoJSON content: entry {name} is not UTF-8 text"
                ) from None
            except (zipfile.BadZipFile, zlib.error):
                raise InvalidArchiveError(
                    f"Invalid archive: entry {name} of {basename} is corrupt"
                ) from None
            yield pa.record_batch(
                [[archive], [name], [text], [header_meta(text)]], schema=_ENTRY_ARROW
            )


def zip_fanout(
    spark: SparkSession,
    path: str,
    entry_suffix: str = GEOJSON_SUFFIX,
    exclude_substring: str = MACOSX_PREFIX,
) -> DataFrame:
    """Fan the archive(s) at ``path`` out into ``(archive, entry,
    entry_text, meta)`` rows, decoded on the driver.

    The suffix/exclude filter runs before decompression (entry bytes of
    filtered entries are never inflated — the moral equivalent of the
    reference's autodrain at :310-316, but free).
    """
    fs, archives = archive_files(path)
    batches = [
        batch
        for archive in archives
        for batch in _entry_batches(fs, archive, entry_suffix, exclude_substring)
    ]
    table = pa.Table.from_batches(batches, schema=_ENTRY_ARROW)
    return spark.createDataFrame(table, schema=ENTRY_SCHEMA)


def routed_entries(entries_df: DataFrame) -> DataFrame:
    """Attach the ``kind`` column via the reference's filename router
    (O9, extract-load-service.ts:74-82) — first-match-wins substring CASE
    on the entry path, default ``extension``."""
    return route_case(entries_df, "entry", OSW_ROUTES, default="extension", output_col="kind")
