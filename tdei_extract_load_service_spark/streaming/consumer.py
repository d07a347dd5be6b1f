"""Queue-driven mode: Structured Streaming consumer over request messages.

Reshapes the reference's always-on service-bus subscription (O1,
queue-service.ts:38-61, topics src/subscriptions.json:2-8) as a streaming
source + ``foreachBatch``: each micro-batch of extract-load request
messages triggers the batch ``load_dataset`` job, and a response message is
published per request (O20, extract-load-service.ts:854-861).

Sources are pluggable behind ``run_queue_consumer(request_stream=...)``:
``request_stream_from_files`` is the dependency-free stand-in,
``request_stream_from_kafka`` the broker ingress (gated on the
spark-sql-kafka connector); both feed the identical ``process_request`` /
response-publish contract.

The reference bounds messages *in flight*, not intake:
``MAX_CONCURRENT_MESSAGES`` = 2 handlers (environment.ts:12, applied
queue-service.ts:29). Here each micro-batch admits every message that has
arrived (``availableNow`` drains the backlog in one micro-batch; an
explicit ``max_messages_per_trigger`` still caps intake through
``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``), and a pool of
``MAX_CONCURRENT_MESSAGES`` threads runs the loads. The messages of one
``tdei_dataset_id`` run in arrival order (the file source's ``ARRIVAL_KEY``;
a broker's offset order) as one pool task, so two loads of one dataset
never overlap in this process and the later upload wins.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tdei_extract_load_service_spark.plans.load_dataset import load_dataset

#: Request message schema (README.md:61-71; ExtractLoadRequest
#: extract-load-service.ts:22-29).
REQUEST_SCHEMA = (
    "messageId string, messageType string, "
    "data struct<data_type string, file_upload_path string, "
    "tdei_dataset_id string, user_id string>"
)

#: The one rule both sources decode requests by: a payload that does not
#: parse reads as an all-null record, dropped on the required
#: ``messageId`` (the reference nacks unparseable messages,
#: queue-service.ts:44-52), so it neither publishes a response nor shares
#: another junk record's response name.
IS_REQUEST = "messageId IS NOT NULL"

#: Loads in flight at once, per consumer (maxConcurrentMessages,
#: environment.ts:12): the size of each micro-batch's pool.
MAX_CONCURRENT_MESSAGES = 2

#: Column the file source adds to each message: its file's modification
#: time, then its path. The file scan packs a micro-batch's files by size,
#: so the collect's order is not arrival order; this key is.
ARRIVAL_KEY = "_arrival"

#: data_type dispatch (O2, extract-load-service.ts:242-260): flex and
#: pathways are declared but unimplemented in the reference (:269-274).
SUPPORTED_DATA_TYPES = {"osw"}


def process_request(
    spark: SparkSession, message: dict, warehouse: str, commit_mode: str = "partition"
) -> dict:
    """Dispatch one request message (O2) and build the response message.

    ``commit_mode="manifest"`` runs each load with the single-commit-point
    manifest warehouse (``sinks/manifest.py``) — the visibility contract of
    the reference's one DB transaction per message."""
    data = message.get("data") or {}
    data_type = data.get("data_type")
    # a field the file source could not find arrives as null; either
    # fault must publish a failure, not fail the whole micro-batch
    missing = [
        f for f in ("file_upload_path", "tdei_dataset_id")
        if not isinstance(data.get(f), str) or not data[f]
    ]
    if data_type not in SUPPORTED_DATA_TYPES:
        # reference behavior: flex/pathways throw "Method not implemented."
        result_success, result_message = False, f"Method not implemented for data_type: {data_type}"
    elif missing:
        result_success, result_message = (
            False, f"Invalid request: {', '.join(missing)} must be a non-empty string"
        )
    else:
        result = load_dataset(
            spark,
            archive_path=data["file_upload_path"],
            tdei_dataset_id=data["tdei_dataset_id"],
            user_id=data.get("user_id", ""),
            warehouse=warehouse,
            commit_mode=commit_mode,
        )
        result_success, result_message = result.success, result.message
    # response format: the request mutated with success/message
    # (README.md:75-84, publishMessage extract-load-service.ts:854-861)
    return {
        **message,
        "data": {**data, "success": result_success, "message": result_message},
    }


def publish_response(response_dir: str, batch_id: int, response: dict) -> None:
    """Write one response file atomically and idempotently.

    The name is keyed on the micro-batch and the request's ``messageId``
    (hashed: an id may contain ``/``), and the file appears through an
    ``os.replace`` of a fully written temp file. A micro-batch replayed
    after a crash therefore rewrites the same file instead of publishing
    a second response, and a crash mid-write leaves no torn file under a
    response name."""
    key = hashlib.sha1(str(response.get("messageId")).encode()).hexdigest()
    fd, tmp = tempfile.mkstemp(dir=response_dir, prefix=".response-", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(response, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(response_dir, f"response-{batch_id}-{key}.json"))
    except BaseException:
        os.unlink(tmp)
        raise


def request_stream_from_files(
    spark: SparkSession, request_dir: str, max_messages_per_trigger: int | None = None
) -> DataFrame:
    """File-directory request source — the dependency-free broker stand-in.
    One JSON file per message, read as one document (``multiLine``, so a
    pretty-printed request parses), carrying its ``ARRIVAL_KEY``; a file
    that does not parse as a request is dropped (``IS_REQUEST``). Intake is
    every file that has arrived, or at most ``max_messages_per_trigger``
    (``maxFilesPerTrigger``, oldest first) per micro-batch."""
    reader = spark.readStream.schema(REQUEST_SCHEMA).option("multiLine", "true")
    if max_messages_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_messages_per_trigger))
    arrival = F.struct(
        F.col("_metadata.file_modification_time").alias("mtime"),
        F.col("_metadata.file_path").alias("path"),
    )
    return reader.json(request_dir).select("*", arrival.alias(ARRIVAL_KEY)).where(IS_REQUEST)


def decode_broker_requests(raw: DataFrame) -> DataFrame:
    """Broker frame (binary ``value`` payloads — Kafka's shape, also Event
    Hubs/Service Bus adapters) -> REQUEST_SCHEMA columns.

    Split from the source builder so the payload contract is testable
    without a broker on the classpath: the same expression must decode a
    batch DataFrame of encoded messages to exactly what the file source
    reads, and drops what it drops (``IS_REQUEST``)."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), REQUEST_SCHEMA).alias("m")
    )
    return parsed.select("m.*").where(IS_REQUEST)


def request_stream_from_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka request source mirroring the reference's broker ingress
    (queue-service.ts:38-61): same message payloads, same downstream
    ``process_request`` seam. Intake is every offset that has arrived, or
    at most ``max_offsets_per_trigger`` per micro-batch. The frame has no
    arrival key: a micro-batch's collect order is offset order within each
    topic partition, so two messages for one dataset keep their order only
    when they share a partition (key the topic by ``tdei_dataset_id``).

    Requires the spark-sql-kafka connector on the JVM classpath (shipped
    separately from pyspark); raises ``NotImplementedError`` when absent
    so deployments without the jar fail at build time, not mid-stream.
    """
    try:
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
        )
        if max_offsets_per_trigger is not None:
            reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        raw = reader.load()
    except Exception as exc:  # connector jar absent -> DATA_SOURCE_NOT_FOUND
        raise NotImplementedError(
            "Kafka source requires the spark-sql-kafka-0-10 connector on the "
            "Spark classpath (--packages org.apache.spark:spark-sql-kafka-0-10_2.13)"
        ) from exc
    return decode_broker_requests(raw)


def run_queue_consumer(
    spark: SparkSession,
    request_dir: str | None = None,
    response_dir: str = "",
    warehouse: str = "",
    checkpoint_dir: str = "",
    max_messages_per_trigger: int | None = None,
    available_now: bool = True,
    request_stream: DataFrame | None = None,
    commit_mode: str = "partition",
) -> StreamingQuery:
    """Consume request messages, run loads, publish responses; returns the
    started query.

    ``available_now=True`` drains the backlog and stops (test/batch mode);
    ``False`` runs continuously like the reference service until the
    returned query is stopped. Each micro-batch admits every message that
    has arrived, or at most ``max_messages_per_trigger`` of the file
    source's. At most ``MAX_CONCURRENT_MESSAGES`` loads run at once, and
    the messages of one dataset run one after another. The source is
    pluggable: pass ``request_stream`` (any streaming DataFrame with
    REQUEST_SCHEMA columns — ``request_stream_from_kafka`` for broker
    deployments) or let ``request_dir`` build the file source.
    ``commit_mode`` is forwarded to every load ("manifest" = one atomic
    pointer swap per message, the reference's per-message transaction).
    """
    # validate args BEFORE any side effect: a missing source or an empty
    # response_dir should be a clear ValueError, not a bare
    # FileNotFoundError from makedirs("")
    if request_stream is None and request_dir is None:
        raise ValueError("pass request_dir or request_stream")
    if not response_dir:
        raise ValueError("response_dir is required (responses are written there)")
    os.makedirs(response_dir, exist_ok=True)
    if request_stream is not None:
        stream = request_stream
    else:
        stream = request_stream_from_files(spark, request_dir, max_messages_per_trigger)

    def handle_batch(batch_df, batch_id: int) -> None:
        # messages are jobs: each drives a full distributed load; the
        # driver-side pool is the queue handler, not a data path. The
        # loads are independent Spark actions and the scheduler
        # interleaves their stages; one dataset's messages are one task,
        # so its loads never overlap and the later upload wins.
        from concurrent.futures import ThreadPoolExecutor

        messages = [row.asDict(recursive=True) for row in batch_df.collect()]
        if messages and ARRIVAL_KEY in messages[0]:
            messages.sort(key=lambda m: (m[ARRIVAL_KEY]["mtime"], m[ARRIVAL_KEY]["path"]))
            for message in messages:
                del message[ARRIVAL_KEY]
        by_dataset: dict[str | None, list[dict]] = {}
        for message in messages:
            dataset = (message.get("data") or {}).get("tdei_dataset_id")
            by_dataset.setdefault(dataset, []).append(message)

        def run_in_order(queue: list[dict]) -> None:
            for message in queue:
                publish_response(
                    response_dir, batch_id, process_request(spark, message, warehouse, commit_mode)
                )

        with ThreadPoolExecutor(max_workers=MAX_CONCURRENT_MESSAGES) as pool:
            list(pool.map(run_in_order, by_dataset.values()))

    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    query = (
        writer.trigger(availableNow=True) if available_now else writer.trigger(processingTime="5 seconds")
    ).start()
    if available_now:
        query.awaitTermination()
    return query
