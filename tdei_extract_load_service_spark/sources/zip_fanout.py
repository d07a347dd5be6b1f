"""ZIP archive fan-out source.

Replaces the reference's streamed sequential ZIP scan (O3-O5: blob read,
``unzipper.Parse`` + 64 KB re-chunk + skip-drain,
extract-load-service.ts:262-267, :298-321, :20,:61-72). Spark has no
built-in zip datasource, so the driver reads each archive's bytes through
``pyarrow.fs`` (local paths, ``file:`` URIs and the object stores pyarrow
supports), decodes the matched entries with ``zipfile`` and hands them to
Spark as a ``pyarrow.Table`` of ``(kind, entry, entry_text)`` rows, one
record batch per entry, so a relation past the Arrow local-relation
threshold is parallelized one entry per partition.

The same pass is the load's gate: for each entry the driver also returns
an ``EntryFacts`` of its route (O9), its header (O7) and its character
length, so the load checks for missing and malformed entries and fills
the extension-file and metadata rows before Spark runs.

Deliberate departures from the reference (SURVEY.md §4):
- the reference must visit entries *sequentially* because its zip parser is
  a shared stream (comment at :305-307); here the entries become
  independent rows, and Spark parallelizes the feature work across them
  (and, after the load's repartition, within one large entry);
- skip-drain is unnecessary: unmatched entries are simply never decoded
  (``zipfile`` reads the central directory and seeks to matched members
  only).

``meta`` is the entry's header (O7: root keys minus ``features``/``type``,
null values -> ``''`` as the metadata projection writes them,
extract-load-service.ts:139-178, :496-502) as a JSON object string, or
null when the text does not parse as a JSON object (the load rejects the
entry). ``json`` round-trips numeric header values exactly, which a
``map<string,string>`` parse would flatten.

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
from typing import NamedTuple

import pyarrow as pa
import pyarrow.fs as pafs

from tdei_extract_load_service_spark.functions.maps import HEADER_EXCLUDED_KEYS
from tdei_extract_load_service_spark.operators.relational import OSW_ROUTES

#: Output schema of the fan-out.
ENTRY_SCHEMA = pa.schema([(name, pa.string()) for name in ("kind", "entry", "entry_text")])

#: Entry filter, ported from extract-load-service.ts:303.
GEOJSON_SUFFIX = ".geojson"
MACOSX_PREFIX = "__MACOSX/"

#: Archive filter, applied to a single path as to a directory's files.
ARCHIVE_SUFFIX = ".zip"


class EntryFacts(NamedTuple):
    """What the load needs to know of one entry besides its features."""

    entry: str
    kind: str
    meta: str | None
    chars: int


class InvalidArchiveError(Exception):
    """An upload the load refuses: an archive or entry the fan-out cannot
    decode, no entries, or an entry that does not parse. The message is
    the load's response text (O21): short, and free of server paths."""


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


def entry_kind(name: str) -> str:
    """The reference's filename router (O9, extract-load-service.ts:74-82):
    the first ``OSW_ROUTES`` substring the entry path contains, default
    ``extension`` — ``operators.relational.route_case``'s rule."""
    return next((kind for sub, kind in OSW_ROUTES if sub in name), "extension")


def header_meta(text: str) -> str | None:
    """The entry's header as a JSON object string (see module docstring).
    Nesting past Python's recursion limit is a rejection like any other."""
    try:
        doc = json.loads(text)
        if not isinstance(doc, dict):
            return None
        return json.dumps(
            {k: "" if v is None else v for k, v in doc.items() if k not in HEADER_EXCLUDED_KEYS},
            separators=(", ", ": "),
        )
    except (ValueError, RecursionError):
        return None


def _entries(fs: pafs.FileSystem, archive: str) -> Iterator[tuple[str, str]]:
    """``(name, text)`` of each matched entry of one archive."""
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
            if info.is_dir() or not name.endswith(GEOJSON_SUFFIX) or MACOSX_PREFIX in name:
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
            yield name, text


def zip_fanout(path: str) -> tuple[pa.Table, list[EntryFacts]]:
    """Fan the archive(s) at ``path`` out into ``(kind, entry, entry_text)``
    rows and one ``EntryFacts`` per row, decoded on the driver.

    The suffix/exclude filter runs before decompression (entry bytes of
    filtered entries are never inflated — the moral equivalent of the
    reference's autodrain at :310-316, but free). An entry path that
    appears twice in the upload (in two archives of a directory, or twice
    in one archive) is refused: the sinks name a file by its path (the
    ``entry`` column, the extension-file id, the metadata order).
    """
    fs, archives = archive_files(path)
    batches, facts, seen = [], [], set()
    for archive in archives:
        for name, text in _entries(fs, archive):
            if name in seen:
                raise InvalidArchiveError(f"Invalid archive: entry {name} appears more than once")
            seen.add(name)
            kind = entry_kind(name)
            batches.append(pa.record_batch([[kind], [name], [text]], schema=ENTRY_SCHEMA))
            facts.append(EntryFacts(name, kind, header_meta(text), len(text)))
    return pa.Table.from_batches(batches, schema=ENTRY_SCHEMA), facts
