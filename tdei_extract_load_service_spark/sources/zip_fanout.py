"""ZIP archive fan-out source.

Replaces the reference's streamed sequential ZIP scan (O4/O5:
``unzipper.Parse`` + 64 KB re-chunk + skip-drain,
extract-load-service.ts:298-321, :20,:61-72). Spark has no built-in zip
datasource, so archives arrive via ``binaryFile`` and a ``mapInPandas``
generator fans each archive out into one row per matching entry.

Deliberate departures from the reference (SURVEY.md §4):
- the reference must visit entries *sequentially* because its zip parser is
  a shared stream (comment at :305-307); here every archive is an
  independent task input, and after fan-out entries are independent rows —
  Spark parallelizes across archives and, post-repartition, across entries;
- skip-drain is unnecessary: each task owns its bytes, unmatched entries
  are simply never decoded (``zipfile`` reads the central directory and
  seeks to matched members only).

Each entry row also carries ``meta``, the entry's header (O7: root keys
minus ``features``/``type``, null values -> ``''`` as the metadata
projection writes them, extract-load-service.ts:139-178, :496-502) as a
JSON object string, or null when the text is not a JSON object. The
generator already holds the decoded text, so the header is parsed there
instead of in a second Python runner over the entry rows; ``json``
round-trips numeric header values exactly, which a ``map<string,string>``
parse would flatten.

Scale notes: a single ZIP is not splittable, so intra-archive parallelism
is bounded by 1 task until after the fan-out — many archives (the 100 TB
case is many datasets × many files) parallelize naturally. Peak memory per
task is one archive's matched-entry text (the generator yields one entry
per output batch, so downstream operators pipeline per entry rather than
per archive).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from tdei_extract_load_service_spark.operators.relational import OSW_ROUTES, route_case

#: Output schema of the fan-out.
ENTRY_SCHEMA = "archive string, entry string, entry_text string, meta string"

#: Root keys excluded from headers (extract-load-service.ts:159,165).
HEADER_EXCLUDE = ("features", "type")

#: Entry filter, ported from extract-load-service.ts:303.
GEOJSON_SUFFIX = ".geojson"
MACOSX_PREFIX = "__MACOSX/"


def read_zip_archives(spark: SparkSession, path: str) -> DataFrame:
    """Blob/file byte-stream source (O3, extract-load-service.ts:262-267):
    one row per archive with ``path`` + ``content`` (binary)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(path)
        .select("path", "content")
    )


def zip_fanout(
    binary_df: DataFrame,
    entry_suffix: str = GEOJSON_SUFFIX,
    exclude_substring: str = MACOSX_PREFIX,
) -> DataFrame:
    """Fan each archive row out into ``(archive, entry, entry_text, meta)``
    rows.

    The suffix/exclude filter runs inside the generator (entry bytes of
    filtered entries are never decompressed — the moral equivalent of the
    reference's autodrain at :310-316, but free).
    """

    def header_meta(text: str) -> str | None:
        try:
            doc = json.loads(text)
        except ValueError:
            return None
        if not isinstance(doc, dict):
            return None
        return json.dumps(
            {k: "" if v is None else v for k, v in doc.items() if k not in HEADER_EXCLUDE},
            separators=(", ", ": "),
        )

    def fan_out(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import zipfile

        for pdf in batches:
            for archive_path, content in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for info in zf.infolist():
                        if info.is_dir():
                            continue
                        name = info.filename
                        if not name.endswith(entry_suffix) or exclude_substring in name:
                            continue
                        with zf.open(info) as fh:
                            text = fh.read().decode("utf-8")
                        # one entry per yielded batch → downstream pipelines
                        # per entry, peak memory = one entry, not one archive
                        yield pd.DataFrame(
                            {
                                "archive": [archive_path],
                                "entry": [name],
                                "entry_text": [text],
                                "meta": [header_meta(text)],
                            }
                        )

    return binary_df.mapInPandas(fan_out, schema=ENTRY_SCHEMA)


def routed_entries(entries_df: DataFrame) -> DataFrame:
    """Attach the ``kind`` column via the reference's filename router
    (O9, extract-load-service.ts:74-82) — first-match-wins substring CASE
    on the entry path, default ``extension``."""
    return route_case(entries_df, "entry", OSW_ROUTES, default="extension", output_col="kind")
