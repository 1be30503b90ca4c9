"""User-facing pipelines — the reference's console entry points, Spark-first.

The reference ships four flagship programs (pyproject.toml:22-31):
``UploadDataFile``/``DataFileUploadDirectory`` (produce),
``DataFileDownloadDirectory`` (consume/reconstruct), and the
``DataFileStreamProcessor``/``...Reproducer`` subclass harnesses
(data_file_io/actor/*). Each becomes a composition of this package's
operators: source → chunk → serialize → topic, and topic → deserialize
→ filter → assemble → sink/hook.

Transport: a topic URI. ``kafka://bootstrap-hosts/topic`` uses the Kafka
source/sink (production path; needs spark-sql-kafka on the classpath).
Any other URI is a parquet directory of ``(key BINARY, value BINARY)``
rows carrying the *identical* wire bytes — the brokerless transport the
test suite uses, and a legitimate staging format at scale (a parquet
"topic" on object storage is a day-one data-lake landing zone).

Every pipeline here is a batch run (``availableNow`` semantics: process
everything present, then stop) — the continuous forms of the same plans
live in ``streaming/`` (sources/assembly/sinks) and share all operators.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.serde import deserialize_chunks, dlq_split, serialize_chunks
from .operators.assembly import assemble_files
from .operators.chunking import chunk_files
from .operators.registry import ParquetRegistry
from .schemas import CODE_SUCCESSFULLY_RECONSTRUCTED, DEFAULT_CHUNK_SIZE
from .streaming.sinks import write_reconstructed_files
from .streaming.sources import DEFAULT_UPLOAD_REGEX, file_chunk_stream


# --------------------------------------------------------------------------
# topic transport
# --------------------------------------------------------------------------

def _is_kafka(uri: str) -> bool:
    return uri.startswith("kafka://")


def _parse_kafka(uri: str) -> tuple[str, str]:
    rest = uri[len("kafka://"):]
    hosts, _, topic = rest.partition("/")
    if not topic:
        raise ValueError(f"kafka URI needs kafka://hosts/topic, got {uri!r}")
    return hosts, topic


def write_topic(
    messages: DataFrame, uri: str, kafka_opts: dict[str, str] | None = None
) -> None:
    """Batch-produce (key, value) binary rows to a topic URI (K1).

    ``kafka_opts`` — extra Spark Kafka connector options (``kafka.*``
    client keys; e.g. from ``config.kafka_options(cfg, "producer")``).
    Ignored for parquet topics."""
    out = messages.select(
        F.col("key").cast("binary").alias("key"), F.col("value").cast("binary")
    )
    if _is_kafka(uri):
        hosts, topic = _parse_kafka(uri)
        writer = (
            out.write.format("kafka")
            .option("kafka.bootstrap.servers", hosts)
            .option("topic", topic)
        )
        for key, val in (kafka_opts or {}).items():
            writer = writer.option(key, val)
        writer.save()
    else:
        out.write.mode("append").parquet(uri)


def read_topic(
    spark: SparkSession,
    uri: str,
    kafka_opts: dict[str, str] | None = None,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Batch-consume a topic URI into (key, value) binary rows (S5).

    ``kafka_opts`` — extra Spark Kafka connector options (see
    ``write_topic``); ``starting_offsets`` maps the reference's
    ``auto.offset.reset`` semantics (consumer_group.py:107-139)."""
    if _is_kafka(uri):
        hosts, topic = _parse_kafka(uri)
        reader = (
            spark.read.format("kafka")
            .option("kafka.bootstrap.servers", hosts)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
        )
        for key, val in (kafka_opts or {}).items():
            reader = reader.option(key, val)
        return reader.load().select("key", "value")
    return spark.read.parquet(uri).select("key", "value")


# --------------------------------------------------------------------------
# upload: directory → chunks → wire → topic  (DataFileUploadDirectory)
# --------------------------------------------------------------------------

def upload_directory(
    spark: SparkSession,
    watch_dir: str,
    topic_uri: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    upload_regex: str = DEFAULT_UPLOAD_REGEX,
    select_bytes: list[tuple[int, int]] | None = None,
    registry_dir: str | None = None,
    kafka_opts: dict[str, str] | None = None,
) -> int:
    """One-shot upload of every eligible file under ``watch_dir``
    (the reference's ``upload_existing`` path; the continuous form is
    ``streaming/sources.file_chunk_stream(streaming=True)`` into the same
    plan). Returns the number of chunks produced.

    Reference: data_file_upload_directory.py:142-208,420-459.
    """
    files = file_chunk_stream(
        spark, watch_dir, upload_regex=upload_regex, streaming=False
    )
    chunks = chunk_files(files, chunk_size=chunk_size, select_bytes=select_bytes)
    wire = serialize_chunks(chunks).select(
        F.encode(F.col("msg_key"), "UTF-8").alias("key"), "value"
    )
    write_topic(wire, topic_uri, kafka_opts=kafka_opts)
    n_chunks = chunks.count()  # chunks produced by THIS run (topic appends)

    if registry_dir:
        # R4 ledger: the batch write is atomic, so every chunk of every
        # file is delivered-or-nothing — record completed rows.
        ledger = ParquetRegistry(spark, registry_dir, ["rel_path"])
        ledger.upsert(
            chunks.groupBy("rel_path")
            .agg(F.max("n_total_chunks").alias("n_chunks"))
            .withColumn("n_chunks_delivered", F.col("n_chunks"))
            .withColumn("n_chunks_to_send", F.lit(0).cast("long"))
            .withColumn("status", F.lit("completed"))
        )
    return n_chunks


# --------------------------------------------------------------------------
# download: topic → chunks → assemble → disk  (DataFileDownloadDirectory)
# --------------------------------------------------------------------------

def _decode_and_filter(
    spark: SparkSession,
    topic_uri: str,
    key_regex: str | None,
    filepath_regex: str | None,
    dlq_dir: str | None,
    kafka_opts: dict[str, str] | None = None,
) -> DataFrame:
    """Shared consume path: deserialize + verify (P4), split the DLQ
    (K6), apply the key/filepath regex filters (F1/F2), derive
    rel_path."""
    msgs = read_topic(spark, topic_uri, kafka_opts=kafka_opts)
    decoded = deserialize_chunks(msgs)
    good, dlq = dlq_split(decoded)
    if dlq_dir:
        dlq.select(
            "key", "value", "deser_error",
            F.current_timestamp().alias("dlq_ts"),
        ).write.mode("append").parquet(dlq_dir)
    # coalesce: external producers may encode subdir/append as wire-nil
    # (only this package's serializer coerces them to ''); a null would
    # poison F.concat and null out rel_path
    fname = F.concat(
        F.col("filename"), F.coalesce(F.col("filename_append"), F.lit(""))
    )
    subdir = F.coalesce(F.col("subdir_str"), F.lit(""))
    good = good.withColumn(
        "rel_path",
        F.when(subdir == "", fname).otherwise(F.concat_ws("/", subdir, fname)),
    )
    if key_regex is not None:  # F1 (openmsistream_consumer.py:363-386)
        good = good.filter(F.decode(F.col("key"), "UTF-8").rlike(key_regex))
    if filepath_regex is not None:  # F2 (openmsistream_consumer.py:388-410)
        good = good.filter(F.col("rel_path").rlike(filepath_regex))
    return good


def download_directory(
    spark: SparkSession,
    topic_uri: str,
    out_dir: str,
    key_regex: str | None = None,
    filepath_regex: str | None = None,
    dlq_dir: str | None = None,
    kafka_opts: dict[str, str] | None = None,
) -> DataFrame:
    """Consume a topic and reconstruct complete files under ``out_dir``
    (subdirectories preserved, idempotent by content hash). Returns the
    per-file status DataFrame (rel_path, status, ...).

    Reference: data_file_download_directory.py:74-174. Streaming twin:
    ``streaming/assembly.streaming_assemble`` + ``reconstruction_sink``.
    """
    good = _decode_and_filter(
        spark, topic_uri, key_regex, filepath_regex, dlq_dir, kafka_opts=kafka_opts
    )
    # window strategy: the upstream serde UDF chain must not be
    # re-executed by a generation-policy self-join
    assembled = assemble_files(good, generation_strategy="window")
    complete = assembled.filter(F.col("status") == CODE_SUCCESSFULLY_RECONSTRUCTED)
    write_reconstructed_files(complete, out_dir)
    return assembled.select(
        "rel_path", "n_total_chunks", "n_chunks_received", "status"
    )


def reproduce_dlq(
    spark: SparkSession,
    dlq_dir: str,
    topic_uri: str,
    kafka_opts: dict[str, str] | None = None,
) -> int:
    """K8 — re-produce dead-lettered raw (key, value) messages to a topic
    (reference: tools/undecryptable_messages/reproduce_undecryptable_messages.py:1-82).
    Returns the number of messages re-produced."""
    dlq = spark.read.parquet(dlq_dir).select("key", "value")
    write_topic(dlq, topic_uri, kafka_opts=kafka_opts)
    return dlq.count()


# --------------------------------------------------------------------------
# stream processor / reproducer harnesses  (A4 / A5)
# --------------------------------------------------------------------------

def _pickle_hook_by_value(obj) -> None:
    """User hooks are usually defined in a driver-side script that
    executors cannot import — register the defining module for by-value
    cloudpickle so subclass harnesses work without shipping code."""
    import sys

    # Spark serializes closures with its *bundled* cloudpickle — register
    # there (and with the standalone package too, harmlessly, in case a
    # future pyspark switches to it).
    mods = []
    try:
        from pyspark import cloudpickle as spark_cp

        mods.append(spark_cp)
    except ImportError:
        pass
    try:
        import cloudpickle as std_cp

        mods.append(std_cp)
    except ImportError:
        pass

    target = sys.modules.get(type(obj).__module__)
    if target is None or target.__name__.startswith(
        ("openmsistream_spark", "builtins")
    ):
        return
    for cp in mods:
        try:
            cp.register_pickle_by_value(target)
        except Exception:
            pass  # importable everywhere anyway, or exotic module — fall back


_HOOK_SCHEMA = T.StructType(
    [
        T.StructField("rel_path", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

_MSG_SCHEMA = T.StructType(
    [
        T.StructField("rel_path", T.StringType()),
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


class StreamProcessor:
    """A4 — per-file processing harness (data_file_stream_processor.py:104-256).

    Subclass and implement ``process_file(rel_path, content)``; raising
    marks the file ``failed`` in the registry (R9), returning normally
    marks it ``succeeded``. The hook runs partition-parallel via
    ``mapInPandas`` (the subclass must be picklable — module-level class,
    state in attributes).
    """

    def process_file(self, rel_path: str, content: bytes) -> None:
        raise NotImplementedError

    def run(
        self,
        spark: SparkSession,
        topic_uri: str,
        registry_dir: str | None = None,
        key_regex: str | None = None,
        filepath_regex: str | None = None,
        dlq_dir: str | None = None,
        kafka_opts: dict[str, str] | None = None,
    ) -> DataFrame:
        _pickle_hook_by_value(self)
        good = _decode_and_filter(
            spark, topic_uri, key_regex, filepath_regex, dlq_dir,
            kafka_opts=kafka_opts,
        )
        completed = assemble_files(good, generation_strategy="window").filter(
            F.col("status") == CODE_SUCCESSFULLY_RECONSTRUCTED
        )
        hook = self.process_file

        def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    try:
                        hook(row.rel_path, bytes(row.file_bytes))
                        out.append(
                            {"rel_path": row.rel_path, "status": "succeeded",
                             "error": None}
                        )
                    except Exception as exc:  # failure → registry, not crash
                        out.append(
                            {"rel_path": row.rel_path, "status": "failed",
                             "error": str(exc)[:500]}
                        )
                yield pd.DataFrame(out, columns=[f.name for f in _HOOK_SCHEMA.fields])

        results = completed.select("rel_path", "file_bytes").mapInPandas(
            _run, _HOOK_SCHEMA
        )
        if registry_dir:
            reg = ParquetRegistry(spark, registry_dir, ["rel_path"])
            reg.upsert(results)
            return reg.read()
        return results


class StreamReproducer:
    """A5 — compute a derived message per completed file and produce it
    to a destination topic (data_file_stream_reproducer.py:65-297).

    Subclass and implement ``compute_message(rel_path, content) ->
    (key, value) | None``; None skips the file. Failures are recorded
    as ``computing_result_failed`` (stream_handler_registries.py:46-141);
    produced files as ``results_produced``.
    """

    def compute_message(
        self, rel_path: str, content: bytes
    ) -> tuple[bytes | str, bytes | str] | None:
        raise NotImplementedError

    def run(
        self,
        spark: SparkSession,
        source_topic_uri: str,
        dest_topic_uri: str,
        registry_dir: str | None = None,
        key_regex: str | None = None,
        filepath_regex: str | None = None,
    ) -> DataFrame:
        _pickle_hook_by_value(self)
        good = _decode_and_filter(spark, source_topic_uri, key_regex, filepath_regex, None)
        completed = assemble_files(good, generation_strategy="window").filter(
            F.col("status") == CODE_SUCCESSFULLY_RECONSTRUCTED
        )
        hook = self.compute_message

        def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            def as_bytes(x):
                return x.encode("utf-8") if isinstance(x, str) else bytes(x)

            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    try:
                        msg = hook(row.rel_path, bytes(row.file_bytes))
                        if msg is None:
                            continue
                        out.append(
                            {"rel_path": row.rel_path, "key": as_bytes(msg[0]),
                             "value": as_bytes(msg[1]),
                             "status": "results_produced", "error": None}
                        )
                    except Exception as exc:
                        out.append(
                            {"rel_path": row.rel_path, "key": None, "value": None,
                             "status": "computing_result_failed",
                             "error": str(exc)[:500]}
                        )
                yield pd.DataFrame(out, columns=[f.name for f in _MSG_SCHEMA.fields])

        results = completed.select("rel_path", "file_bytes").mapInPandas(
            _run, _MSG_SCHEMA
        )
        produced = results.filter(F.col("status") == "results_produced")
        write_topic(produced.select("key", "value"), dest_topic_uri)
        if registry_dir:
            reg = ParquetRegistry(spark, registry_dir, ["rel_path"])
            reg.upsert(results.select("rel_path", "status", "error"))
            return reg.read()
        return results.select("rel_path", "status", "error")


class MetadataJSONReproducer(StreamReproducer):
    """P7 — the metadata-extraction reproducer: per completed file, emit
    a JSON metadata message keyed ``<rel_path>_metadata``
    (metadata_extraction/metadata_json_reproducer.py:55-93). The default
    extractor parses ``[Section]`` / ``key,value`` header blocks, the
    shape of the reference's XRD CSV example
    (examples/extracting_metadata/xrd_csv_metadata_reproducer.py:16-68).
    """

    def __init__(self, extractor: Callable[[str, bytes], dict] | None = None):
        if extractor is None:
            from .operators.metadata import header_block_metadata

            extractor = header_block_metadata
        self.extractor = extractor

    def compute_message(self, rel_path: str, content: bytes):
        meta = self.extractor(rel_path, content)
        return (f"{rel_path}_metadata", json.dumps(meta, sort_keys=True))
