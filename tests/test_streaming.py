"""Streaming assembly tests: chunks arriving across micro-batches, out
of order, with duplicates and generation replacement — the Spark
restatement of the reference's E2E directory round-trip
(test_data_file_directories.py:230) driven through a real streaming
query (file source → stateful assembly → memory sink)."""

import hashlib
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from openmsistream_spark.operators.chunking import chunk_binary_column
from openmsistream_spark.streaming.assembly import streaming_assemble

CS = 32


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="oms_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _chunk_rows(spark, rel_path, payload: bytes, mtime: float):
    df = spark.createDataFrame(
        [(rel_path, payload, mtime)],
        "rel_path string, content binary, file_mtime double",
    )
    return chunk_binary_column(df, chunk_size=CS, keep=["rel_path", "file_mtime"])


def _run_stream(spark, in_dir, query_name):
    schema = (
        "rel_path string, file_mtime double, n_total_chunks bigint, "
        "file_hash binary, chunk_i bigint, chunk_offset_write bigint, data binary"
    )
    src = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        streaming_assemble(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {query_name}")


def test_streaming_reassembly_across_batches(spark, tmpdirs):
    payload_a = os.urandom(5 * CS + 7)
    payload_b = os.urandom(2 * CS)
    chunks_a = _chunk_rows(spark, "a.bin", payload_a, 1.0)
    chunks_b = _chunk_rows(spark, "b.bin", payload_b, 1.0)
    all_chunks = chunks_a.union(chunks_b).orderBy(F.rand(seed=3)).collect()

    cols = all_chunks[0].asDict().keys()
    # first half (+ a duplicate) in batch 0, the rest in batch 1 —
    # completion must span micro-batches through state
    half = len(all_chunks) // 2
    batches = [all_chunks[:half] + all_chunks[:1], all_chunks[half:]]
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch).select(*cols).write.mode("overwrite").parquet(
            f"{tmpdirs}/in/batch={i}"
        )

    out = _run_stream(spark, f"{tmpdirs}/in/batch=*", "asm_out").collect()
    got = {r.rel_path: r for r in out}
    assert set(got) == {"a.bin", "b.bin"}
    assert bytes(got["a.bin"].file_bytes) == payload_a
    assert bytes(got["b.bin"].file_bytes) == payload_b
    assert all(r.status == "SUCCESSFULLY_RECONSTRUCTED" for r in out)


def test_streaming_generation_replacement(spark, tmpdirs):
    old = os.urandom(2 * CS)
    new = os.urandom(3 * CS)  # more chunks → adopted
    old_chunks = _chunk_rows(spark, "g.bin", old, 10.0).collect()
    new_chunks = _chunk_rows(spark, "g.bin", new, 5.0).collect()

    cols = old_chunks[0].asDict().keys()
    # batch 0: all old chunks except one (file incomplete, state held)
    # batch 1: the new generation → reset + complete
    spark.createDataFrame(old_chunks[:-1]).select(*cols).write.parquet(
        f"{tmpdirs}/in/batch=0"
    )
    spark.createDataFrame(new_chunks).select(*cols).write.parquet(
        f"{tmpdirs}/in/batch=1"
    )
    out = _run_stream(spark, f"{tmpdirs}/in/batch=*", "asm_gen").collect()
    assert len(out) == 1
    row = out[0]
    assert bytes(row.file_bytes) == new
    assert row.n_total_chunks == 3
    assert hashlib.sha512(new).digest() == bytes(row.file_hash)


def test_partial_timeout_heartbeat_keeps_state(spark, tmpdirs):
    """Ops guard: a stalled partial emits IN_PROGRESS snapshots after the
    timeout, and late chunks STILL complete the file (state retained)."""
    import time

    from openmsistream_spark.streaming.assembly import streaming_assemble

    payload = os.urandom(3 * CS)
    chunks = _chunk_rows(spark, "slow.bin", payload, 1.0).collect()
    cols = chunks[0].asDict().keys()
    in_dir = f"{tmpdirs}/in"
    spark.createDataFrame(chunks[:-1]).select(*cols).write.parquet(
        f"{in_dir}/batch=0"
    )

    schema = (
        "rel_path string, file_mtime double, n_total_chunks bigint, "
        "file_hash binary, chunk_i bigint, chunk_offset_write bigint, data binary"
    )
    src = spark.readStream.schema(schema).parquet(f"{in_dir}/batch=*")
    q = (
        streaming_assemble(src, partial_timeout_ms=500)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asm_timeout")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        # wait until at least one IN_PROGRESS heartbeat lands
        deadline = time.time() + 60
        while time.time() < deadline:
            beats = spark.sql(
                "SELECT * FROM asm_timeout WHERE status = 'IN_PROGRESS'"
            ).collect()
            if beats:
                break
            time.sleep(0.5)
        assert beats, "no IN_PROGRESS heartbeat emitted for the stalled partial"
        assert beats[0].n_chunks_received == 2
        assert beats[0].file_bytes is None

        # the late chunk arrives — the file must still complete
        spark.createDataFrame(chunks[-1:]).select(*cols).write.parquet(
            f"{in_dir}/batch=1"
        )
        deadline = time.time() + 60
        done = []
        while time.time() < deadline:
            done = spark.sql(
                "SELECT * FROM asm_timeout WHERE status = 'SUCCESSFULLY_RECONSTRUCTED'"
            ).collect()
            if done:
                break
            time.sleep(0.5)
        assert done, "late chunk did not complete the file after timeout beats"
        assert bytes(done[0].file_bytes) == payload
    finally:
        q.stop()


def test_offsets_only_mode_with_downstream_reassembly(spark, tmpdirs):
    """mode="disk" analogue: streaming state holds only offsets; the
    completion record drives a batch join against the durable chunk log
    that rebuilds and verifies the bytes."""
    from openmsistream_spark.operators.assembly import assemble_files
    from openmsistream_spark.streaming.assembly import streaming_assemble

    payload = os.urandom(4 * CS + 9)
    chunks = _chunk_rows(spark, "big.bin", payload, 1.0)
    chunk_log = f"{tmpdirs}/chunk_log"
    chunks.write.parquet(chunk_log)  # the durable chunk log

    schema = (
        "rel_path string, file_mtime double, n_total_chunks bigint, "
        "file_hash binary, chunk_i bigint, chunk_offset_write bigint, data binary"
    )
    src = spark.readStream.schema(schema).parquet(chunk_log)
    q = (
        streaming_assemble(src, buffer_bytes=False)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asm_offsets")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    done = spark.sql("SELECT * FROM asm_offsets").collect()
    assert len(done) == 1
    assert done[0].status == "COMPLETE_OFFSETS_ONLY"
    assert done[0].file_bytes is None
    assert done[0].n_chunks_received == 5

    # downstream: completed keys × chunk log → full assembly + verify
    completed_keys = spark.sql(
        "SELECT rel_path FROM asm_offsets WHERE status = 'COMPLETE_OFFSETS_ONLY'"
    )
    log = spark.read.parquet(chunk_log).join(completed_keys, "rel_path", "left_semi")
    out = assemble_files(log).collect()
    assert bytes(out[0].file_bytes) == payload
    assert out[0].status == "SUCCESSFULLY_RECONSTRUCTED"


class _FakeState:
    """Minimal GroupState stand-in for driving _assemble_group directly
    (deterministic micro-batch boundaries, no streaming query)."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def setTimeoutDuration(self, ms):
        pass


def test_streaming_corruption_same_hash_different_count(spark):
    """A chunk carrying the CURRENT generation's hash but a different
    n_total_chunks must emit a CORRUPTION row (reference raises,
    download_data_file.py:160-272) — the chunk is discarded, the good
    state survives, and the file still completes."""
    import pandas as pd

    from openmsistream_spark.streaming.assembly import _assemble_group

    payload = os.urandom(3 * CS)
    rows = [r.asDict() for r in _chunk_rows(spark, "c.bin", payload, 1.0).collect()]
    state = _FakeState()

    def run(batch_rows):
        return [
            df
            for df in _assemble_group(("c.bin",), [pd.DataFrame(batch_rows)], state)
            if len(df)
        ]

    # batch 0: two of three chunks — no output, state held
    assert run(rows[:-1]) == []
    # batch 1: forged same-hash chunk claiming 7 total → CORRUPTION row
    forged = {**rows[0], "n_total_chunks": 7, "chunk_offset_write": 999}
    out = run([forged])
    assert len(out) == 1 and list(out[0].status) == ["CORRUPTION"]
    assert out[0].file_bytes.iloc[0] is None
    assert out[0].n_total_chunks.iloc[0] == 3  # the retained generation
    # batch 2: the real last chunk — state survived, file completes
    out = run(rows[-1:])
    assert list(out[0].status) == ["SUCCESSFULLY_RECONSTRUCTED"]
    assert bytes(out[0].file_bytes.iloc[0]) == payload
    # batch 3: forged duplicate against the completed tombstone → CORRUPTION
    out = run([forged])
    assert list(out[0].status) == ["CORRUPTION"]


def test_stale_generation_after_completion_is_ignored(spark):
    """Once a newer generation completed, a late chunk of the older
    generation is stale: it emits nothing and keeps the tombstone."""
    import pandas as pd

    from openmsistream_spark.streaming.assembly import _assemble_group

    old = os.urandom(2 * CS)
    new = os.urandom(3 * CS)
    old_rows = [r.asDict() for r in _chunk_rows(spark, "g.bin", old, 1.0).collect()]
    new_rows = [r.asDict() for r in _chunk_rows(spark, "g.bin", new, 2.0).collect()]
    state = _FakeState()

    def run(batch_rows):
        return [
            df
            for df in _assemble_group(("g.bin",), [pd.DataFrame(batch_rows)], state)
            if len(df)
        ]

    assert run(old_rows[:1]) == []  # partial old generation
    out = run(new_rows)  # the new generation arrives complete
    assert list(out[0].status) == ["SUCCESSFULLY_RECONSTRUCTED"]
    assert bytes(out[0].file_bytes.iloc[0]) == new
    assert run(old_rows[1:]) == []
    assert state.get[0] == -len(new_rows)  # tombstone kept


def test_streaming_exact_dedup_across_batches(spark, tmpdirs):
    """Duplicates arriving in LATER micro-batches are dropped; the
    watermark-bounded variant holds hash-only state."""
    from openmsistream_spark.llm.dedup import streaming_exact_dedup

    in_dir = f"{tmpdirs}/docs_in"
    rows1 = [(1, "alpha beta gamma", "2024-01-01 00:00:00"),
             (2, "delta epsilon", "2024-01-01 00:00:10")]
    rows2 = [(3, "  ALPHA   beta GAMMA ", "2024-01-01 00:00:20"),  # dup of 1 (normalized)
             (4, "zeta eta", "2024-01-01 00:00:30")]
    schema = "doc_id long, text string, ts string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(in_dir)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = streaming_exact_dedup(src, event_time_col="ts", delay="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", f"{tmpdirs}/dedup_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.sql("SELECT * FROM dedup_stream").collect()}
    assert 1 in got and 2 in got and 4 in got
    assert 3 not in got  # cross-batch duplicate dropped


def test_disk_reconstruction_sink_streaming_replay(spark, tmpdirs):
    """K3 as a checkpointed writeStream over streaming assembly output:
    bytes land once, a restart on the same checkpoint replays nothing,
    and a fresh checkpoint hits the on-disk sha512 skip."""
    from openmsistream_spark.streaming.sinks import reconstruction_sink

    payload = os.urandom(4 * CS + 9)
    chunks = _chunk_rows(spark, "sub/stream_k3.bin", payload, 1.0)
    in_dir = f"{tmpdirs}/k3_in"
    chunks.write.parquet(in_dir)
    out_dir = f"{tmpdirs}/k3_out"

    def run(ckpt):
        schema = (
            "rel_path string, file_mtime double, n_total_chunks bigint, "
            "file_hash binary, chunk_i bigint, chunk_offset_write bigint, data binary"
        )
        src = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            reconstruction_sink(streaming_assemble(src), out_dir, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(f"{tmpdirs}/k3_ckpt")
    target = os.path.join(out_dir, "sub/stream_k3.bin")
    with open(target, "rb") as fh:
        assert fh.read() == payload
    first_mtime = os.stat(target).st_mtime_ns
    run(f"{tmpdirs}/k3_ckpt")  # restart, same checkpoint
    assert os.stat(target).st_mtime_ns == first_mtime
    run(f"{tmpdirs}/k3_ckpt2")  # fresh checkpoint — hash skip
    assert os.stat(target).st_mtime_ns == first_mtime


def test_disk_sink_skips_non_success_rows(spark, tmpdirs):
    """A mixed-status batch (the raw shape streaming_assemble emits) must
    not poison the sink: IN_PROGRESS/CORRUPTION rows carry null bytes
    (bytes(None) would TypeError the whole micro-batch) and HASH_MISMATCH
    bytes must never land on disk."""
    from openmsistream_spark.schemas import (
        CODE_CORRUPTION,
        CODE_HASH_MISMATCH,
        CODE_IN_PROGRESS,
        CODE_SUCCESSFULLY_RECONSTRUCTED,
    )
    from openmsistream_spark.streaming.sinks import write_reconstructed_files

    good = os.urandom(64)
    batch = spark.createDataFrame(
        [
            ("ok.bin", good, hashlib.sha512(good).digest(),
             CODE_SUCCESSFULLY_RECONSTRUCTED),
            ("partial.bin", None, hashlib.sha512(b"x").digest(),
             CODE_IN_PROGRESS),
            ("corrupt.bin", None, hashlib.sha512(b"y").digest(),
             CODE_CORRUPTION),
            ("mismatch.bin", b"WRONG BYTES", hashlib.sha512(b"z").digest(),
             CODE_HASH_MISMATCH),
        ],
        "rel_path string, file_bytes binary, file_hash binary, status string",
    )
    out_dir = f"{tmpdirs}/mixed_out"
    write_reconstructed_files(batch, out_dir)
    assert sorted(os.listdir(out_dir)) == ["ok.bin"]
    with open(os.path.join(out_dir, "ok.bin"), "rb") as fh:
        assert fh.read() == good


def test_disk_reconstruction_sink(spark, tmpdirs):
    from openmsistream_spark.streaming.sinks import write_reconstructed_files

    payload = os.urandom(3 * CS + 5)
    chunks = _chunk_rows(spark, "sub/dir/f.bin", payload, 1.0)
    from openmsistream_spark.operators.assembly import assemble_files

    completed = assemble_files(chunks.withColumnRenamed("rel_path", "rp")
                               .withColumnRenamed("rp", "rel_path"))
    out_dir = f"{tmpdirs}/out"
    write_reconstructed_files(completed, out_dir)
    target = os.path.join(out_dir, "sub/dir/f.bin")
    assert os.path.exists(target)
    with open(target, "rb") as fh:
        assert fh.read() == payload
    # idempotent replay: second write is a no-op, file unchanged
    before = os.stat(target).st_mtime_ns
    write_reconstructed_files(completed, out_dir)
    assert os.stat(target).st_mtime_ns == before
