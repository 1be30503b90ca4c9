"""Sinks (SURVEY §2.6).

K1 Kafka sink: ``writeStream.format("kafka")`` on (key, value) columns —
delivery retries/acks are built in; the reference's re-enqueue-on-error
callback chain (K2) collapses into checkpointed exactly-once.

K3 disk reconstruction sink: ``foreachBatch`` writing completed files
under an output dir, idempotent by (rel_path, file_hash) so replays
don't double-write — the commit protocol that turns Spark's internal
exactly-once into end-to-end idempotence (SURVEY §4 custom work #2).

K4 S3 sink: same protocol against an object store (boto3 optional).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_reconstructed_files(batch_df: DataFrame, out_dir: str) -> None:
    """Write completed-file rows (rel_path, file_bytes, file_hash) to
    disk, preserving subdirectories (reference:
    data_file_download_directory.py:74-174). Idempotent: a file whose
    on-disk sha512 already matches is skipped. Returns ``None``: the
    files are written on executors and no count comes back.

    Runs on executors via foreachPartition — the driver never holds file
    bytes.

    Only successfully-reconstructed rows are written: streaming assembly
    also emits IN_PROGRESS/CORRUPTION/COMPLETE_OFFSETS_ONLY rows with
    null ``file_bytes`` (bytes(None) would poison the micro-batch) and
    HASH_MISMATCH rows whose corrupt bytes must not land on disk — the
    reference only writes hash-verified completed files
    (data_file_download_directory.py:124-174).
    """
    if "status" in batch_df.columns:
        from ..schemas import CODE_SUCCESSFULLY_RECONSTRUCTED

        batch_df = batch_df.filter(
            F.col("status") == CODE_SUCCESSFULLY_RECONSTRUCTED
        )
    rows = batch_df.select("rel_path", "file_bytes", "file_hash").filter(
        F.col("file_bytes").isNotNull()
    )

    def _write_partition(it):
        root = os.path.abspath(out_dir)
        for row in it:
            # rel_path comes off the wire — never let '..' or an absolute
            # path escape the output root
            target = os.path.abspath(os.path.join(root, row.rel_path.lstrip("/")))
            if os.path.commonpath([root, target]) != root:
                raise ValueError(
                    f"unsafe rel_path escapes output dir: {row.rel_path!r}"
                )
            os.makedirs(os.path.dirname(target), exist_ok=True)
            payload = bytes(row.file_bytes)
            want = bytes(row.file_hash)
            if os.path.exists(target):
                with open(target, "rb") as fh:
                    if hashlib.sha512(fh.read()).digest() == want:
                        continue  # already written (replay) — idempotent skip
            tmp = target + ".inprogress"
            with open(tmp, "wb") as fh:
                fh.write(payload)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, target)  # atomic publish

    rows.rdd.foreachPartition(_write_partition)


def reconstruction_sink(completed: DataFrame, out_dir: str, checkpoint_dir: str):
    """K3 — attach the disk-reconstruction foreachBatch sink to a
    streaming DataFrame of completed files."""
    return (
        completed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda df, _epoch: write_reconstructed_files(df, out_dir))
    )


def kafka_chunk_sink(
    chunks_with_wire: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
):
    """K1 — produce (key, value) rows to a Kafka topic."""
    return (
        chunks_with_wire.selectExpr(
            "CAST(msg_key AS BINARY) AS key", "value"
        )
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )


def _boto3_client():  # pragma: no cover - env-dependent
    try:
        import boto3
    except ImportError as exc:
        raise RuntimeError("s3_object_sink requires boto3") from exc
    return boto3.client("s3")


class FilesystemS3Client:
    """boto3-shaped object-store client persisting under a local root —
    the K4 test/local backend (same pattern as the Girder sink's
    FilesystemGirderClient). Objects live at ``root/bucket/key`` with a
    JSON sidecar holding object metadata and a put counter, so tests can
    assert replay idempotence across the executor↔driver boundary."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, bucket: str, key: str) -> str:
        base = os.path.abspath(os.path.join(self.root, bucket))
        p = os.path.abspath(os.path.join(base, key.lstrip("/")))
        if os.path.commonpath([base, p]) != base:
            raise ValueError(f"unsafe object key escapes bucket root: {key!r}")
        return p

    def head_object(self, Bucket: str, Key: str) -> dict:  # noqa: N803 (boto3 API)
        p = self._path(Bucket, Key)
        if not os.path.exists(p):
            raise FileNotFoundError(Key)
        with open(p + ".s3meta.json") as fh:
            import json

            meta = json.load(fh)
        return {"Metadata": meta["metadata"], "ContentLength": os.path.getsize(p)}

    def put_object(self, Bucket: str, Key: str, Body: bytes, Metadata=None) -> dict:  # noqa: N803
        import json

        p = self._path(Bucket, Key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        n_puts = 1
        if os.path.exists(p + ".s3meta.json"):
            with open(p + ".s3meta.json") as fh:
                n_puts = json.load(fh).get("n_puts", 0) + 1
        tmp = p + ".inprogress"
        with open(tmp, "wb") as fh:
            fh.write(bytes(Body))
        os.replace(tmp, p)
        with open(p + ".s3meta.json", "w") as fh:
            json.dump({"metadata": dict(Metadata or {}), "n_puts": n_puts}, fh)
        return {}

    def get_object(self, Bucket: str, Key: str) -> dict:  # noqa: N803
        import io

        with open(self._path(Bucket, Key), "rb") as fh:
            return {"Body": io.BytesIO(fh.read())}


def upload_batch_to_s3(
    batch_df: DataFrame,
    bucket: str,
    prefix: str,
    client_factory=None,
    verify: bool = True,
) -> None:
    """K4 — upload one micro-batch of completed files to S3 under
    ``prefix/rel_path``, with the reference's upload-then-read-back hash
    compare (s3_buckets/s3_data_transfer.py:15-40, s3_service.py) and
    Girder-style skip-if-same-checksum idempotence: an object whose
    stored sha512 metadata already matches is not re-uploaded, so
    checkpoint replays are no-ops.

    Only successfully-reconstructed rows upload (streaming assembly also
    emits IN_PROGRESS/CORRUPTION/HASH_MISMATCH rows with null or corrupt
    bytes). ``client_factory`` builds the client per partition on the
    executor (boto3 by default; tests inject a filesystem-backed fake).
    """
    if "status" in batch_df.columns:
        from ..schemas import CODE_SUCCESSFULLY_RECONSTRUCTED

        batch_df = batch_df.filter(
            F.col("status") == CODE_SUCCESSFULLY_RECONSTRUCTED
        )
    rows = batch_df.select("rel_path", "file_bytes", "file_hash").filter(
        F.col("file_bytes").isNotNull()
    )
    factory = client_factory or _boto3_client

    def _part(it):
        client = factory()
        for row in it:
            key = f"{prefix.rstrip('/')}/{row.rel_path.lstrip('/')}"
            want = bytes(row.file_hash)
            try:
                head = client.head_object(Bucket=bucket, Key=key)
            except Exception:  # missing object (boto3 raises ClientError)
                head = None
            if head is not None and head.get("Metadata", {}).get("sha512") == want.hex():
                continue  # already uploaded — idempotent replay skip
            client.put_object(
                Bucket=bucket,
                Key=key,
                Body=bytes(row.file_bytes),
                Metadata={"sha512": want.hex()},
            )
            if verify:
                got = client.get_object(Bucket=bucket, Key=key)["Body"].read()
                if hashlib.sha512(got).digest() != want:
                    raise IOError(f"S3 read-back hash mismatch for {key}")

    rows.rdd.foreachPartition(_part)


def s3_object_sink(
    completed: DataFrame,
    bucket: str,
    prefix: str,
    checkpoint_dir: str,
    client_factory=None,
    verify: bool = True,
):
    """K4 — attach the verified S3 upload as a foreachBatch sink on a
    streaming DataFrame of completed files."""
    return (
        completed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, _epoch: upload_batch_to_s3(
                df, bucket, prefix, client_factory, verify
            )
        )
    )


def heartbeat_stream(chunks: DataFrame, interval: str = "1 minute") -> DataFrame:
    """A8/K7 — windowed heartbeat counters over a chunk stream
    (reference: heartbeat_producibles.py:29-101): message + byte counts
    per tumbling interval, as JSON key/value rows for a Kafka sink."""
    agg = (
        chunks.withColumn("_now", F.current_timestamp())
        .withWatermark("_now", interval)
        .groupBy(F.window("_now", interval).alias("w"))
        .agg(
            F.count("*").alias("n_messages_read"),
            F.sum(F.length("data")).alias("n_bytes_read"),
        )
    )
    return agg.select(
        F.lit("heartbeat").alias("key"),
        F.to_json(
            F.struct(
                F.col("w.start").alias("timestamp"),
                "n_messages_read",
                "n_bytes_read",
            )
        ).alias("value"),
    )
