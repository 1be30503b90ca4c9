"""Streaming file assembly — the stateful heart of the engine.

Re-expresses the reference's threaded in-memory reconstruction
(reference: data_file_io/actor/data_file_chunk_handlers.py:59-127,
download_data_file.py:76-156) as ``applyInPandasWithState`` keyed by
relative filepath:

  - chunks arrive in any order across micro-batches; state holds the
    offset→bytes map plus the generation tuple;
  - dedup by write offset within a generation
    (download_data_file.py:98-107);
  - generation policy: adopt a new generation iff strictly more chunks,
    or equal chunks with strictly newer mtime; same-hash different-count
    is corruption (download_data_file.py:160-272) — state resets on
    adoption;
  - completion when the distinct-offset count reaches n_total_chunks,
    then sha512 verification → one emitted row with a status code.

Scale note: state buffers one file's bytes per key — the reference's
mode="memory". The state store (RocksDB in production) spills to disk
per key; for files larger than executor memory, set ``spill_dir``-style
handling by storing chunk payloads out-of-band and keeping only offsets
in state (the reference's mode="disk"), which this operator supports via
``buffer_bytes=False`` (emits offsets-only completion records for a
downstream batch join against the chunk log).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..schemas import (
    CODE_COMPLETE_OFFSETS_ONLY,
    CODE_CORRUPTION,
    CODE_HASH_MISMATCH,
    CODE_IN_PROGRESS,
    CODE_SUCCESSFULLY_RECONSTRUCTED,
)

# completion tombstone: n_total_chunks is stored negated so a late
# duplicate chunk of an already-reconstructed file is recognized (and
# ignored) instead of re-creating phantom partial state — the
# at-least-once analogue of the reference's ALREADY_WRITTEN return code
# (download_data_file.py:98-107). A tombstone is ~100 bytes per
# completed file, the same order as the reference's persistent registry
# row.

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("rel_path", T.StringType()),
        T.StructField("n_total_chunks", T.LongType()),
        T.StructField("n_chunks_received", T.LongType()),
        T.StructField("file_hash", T.BinaryType()),
        T.StructField("file_mtime", T.DoubleType()),
        T.StructField("file_bytes", T.BinaryType()),
        T.StructField("status", T.StringType()),
    ]
)

# state: generation tuple + accumulated offsets/payloads
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_total_chunks", T.LongType()),
        T.StructField("file_hash", T.BinaryType()),
        T.StructField("file_mtime", T.DoubleType()),
        T.StructField("offsets", T.ArrayType(T.LongType())),
        T.StructField("payloads", T.ArrayType(T.BinaryType())),
    ]
)


def generation_decision(
    cur_n: int, cur_hash: bytes, cur_mtime: float | None,
    new_n: int, new_hash: bytes, new_mtime: float | None,
) -> str:
    """The reference's tri-state generation rule
    (download_data_file.py:160-272): "adopt" iff strictly more chunks, or
    equal chunks and strictly newer mtime; same hash with a DIFFERENT
    chunk count is "corrupt" (the reference raises a corruption error);
    everything else "skip"."""
    if new_hash == cur_hash:
        return "corrupt" if new_n != cur_n else "skip"
    if new_n > cur_n:
        return "adopt"
    if new_n == cur_n and (new_mtime or 0.0) > (cur_mtime or 0.0):
        return "adopt"
    return "skip"


def _adopt_new_generation(
    cur_n: int, cur_hash: bytes, cur_mtime: float | None,
    new_n: int, new_hash: bytes, new_mtime: float | None,
) -> bool:
    """Boolean view of ``generation_decision`` (adopt or not)."""
    return (
        generation_decision(cur_n, cur_hash, cur_mtime, new_n, new_hash, new_mtime)
        == "adopt"
    )


def _assemble_group(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    timeout_ms: int | None = None,
    buffer_bytes: bool = True,
) -> Iterable[pd.DataFrame]:
    import hashlib

    rel_path = key[0]

    if getattr(state, "hasTimedOut", False):
        # ops guard: surface a stalled partial WITHOUT dropping its state
        # (the reference never expires partials — they persist in the
        # registry across restarts, data_file_stream_processor.py:85-95)
        n_total, file_hash, file_mtime, offsets, payloads = state.get
        state.update((n_total, file_hash, file_mtime, list(offsets), list(payloads)))
        if n_total < 0:  # completed tombstone — nothing to report
            yield pd.DataFrame(
                columns=[f.name for f in OUTPUT_SCHEMA.fields]
            ).astype(object)
            return
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [
                {
                    "rel_path": rel_path,
                    "n_total_chunks": n_total,
                    "n_chunks_received": len(offsets),
                    "file_hash": bytes(file_hash),
                    "file_mtime": file_mtime,
                    "file_bytes": None,
                    "status": CODE_IN_PROGRESS,
                }
            ]
        )
        return

    completed_tombstone = False
    if state.exists:
        n_total, file_hash, file_mtime, offsets, payloads = state.get
        file_hash = bytes(file_hash)
        offset_map = dict(zip(offsets, (bytes(p) for p in payloads)))
        if n_total < 0:  # tombstone: this file already reconstructed
            completed_tombstone = True
            n_total = -n_total
            offset_map = {}
    else:
        n_total, file_hash, file_mtime, offset_map = 0, b"", None, {}

    corrupt = False
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            row_hash = bytes(row.file_hash)
            row_n = int(row.n_total_chunks)
            row_mtime = None if pd.isna(row.file_mtime) else float(row.file_mtime)
            if completed_tombstone:
                if row_hash == file_hash:
                    if row_n != n_total:
                        corrupt = True  # same hash, different count
                    continue  # ALREADY_WRITTEN: duplicate of the done file
                if _adopt_new_generation(
                    n_total, file_hash, file_mtime, row_n, row_hash, row_mtime,
                ):
                    completed_tombstone = False
                    offset_map.clear()
                    n_total, file_hash, file_mtime = row_n, row_hash, row_mtime
                else:
                    continue  # stale generation vs the completed one
            elif not offset_map and n_total == 0:
                n_total, file_hash, file_mtime = row_n, row_hash, row_mtime
            elif row_hash != file_hash:
                if _adopt_new_generation(
                    n_total, file_hash, file_mtime, row_n, row_hash, row_mtime,
                ):
                    # generation reset: drop all prior state
                    offset_map.clear()
                    n_total, file_hash, file_mtime = row_n, row_hash, row_mtime
                else:
                    continue  # stale generation chunk — discard
            elif row_n != n_total:
                # same hash, different count — the reference raises a
                # corruption error here (download_data_file.py:160-272);
                # emit a CORRUPTION row, discard the chunk, keep state
                corrupt = True
                continue
            off = int(row.chunk_offset_write)
            if off in offset_map:  # dedup by offset (at-least-once delivery)
                continue
            # disk-spill mode: track the offset, never buffer the payload
            offset_map[off] = bytes(row.data) if buffer_bytes else b""

    def _corruption_rows() -> list[dict]:
        if not corrupt:
            return []
        return [
            {
                "rel_path": rel_path,
                "n_total_chunks": n_total,
                "n_chunks_received": len(offset_map),
                "file_hash": file_hash,
                "file_mtime": file_mtime,
                "file_bytes": None,
                "status": CODE_CORRUPTION,
            }
        ]

    if completed_tombstone:
        # nothing new for a completed file — keep the tombstone
        # (no timeout re-arm: tombstones never stall)
        state.update((-n_total, file_hash, file_mtime, [], []))
        yield (
            pd.DataFrame(_corruption_rows())
            if corrupt
            else pd.DataFrame(columns=[f.name for f in OUTPUT_SCHEMA.fields]).astype(
                object
            )
        )
    elif n_total and len(offset_map) >= n_total:
        if buffer_bytes:
            body = b"".join(offset_map[o] for o in sorted(offset_map))
            ok = hashlib.sha512(body).digest() == file_hash
            status = CODE_SUCCESSFULLY_RECONSTRUCTED if ok else CODE_HASH_MISMATCH
        else:
            # completion by offset count only; bytes (and the sha512
            # verify) reconstruct downstream from the chunk log
            body = None
            status = CODE_COMPLETE_OFFSETS_ONLY
        # tombstone instead of remove: shields against late duplicates
        # (no timeout arm: tombstones never stall)
        state.update((-n_total, file_hash, file_mtime, [], []))
        yield pd.DataFrame(
            [
                {
                    "rel_path": rel_path,
                    "n_total_chunks": n_total,
                    "n_chunks_received": len(offset_map),
                    "file_hash": file_hash,
                    "file_mtime": file_mtime,
                    "file_bytes": body,
                    "status": status,
                }
            ]
            + _corruption_rows()
        )
    else:
        offsets = sorted(offset_map)
        state.update(
            (n_total, file_hash, file_mtime, offsets, [offset_map[o] for o in offsets])
        )
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield (
            pd.DataFrame(_corruption_rows())
            if corrupt
            else pd.DataFrame(columns=[f.name for f in OUTPUT_SCHEMA.fields]).astype(
                object
            )
        )


def streaming_assemble(
    chunks: DataFrame,
    key_col: str = "rel_path",
    partial_timeout_ms: int | None = None,
    buffer_bytes: bool = True,
) -> DataFrame:
    """Group a (streaming) chunk DataFrame by file and assemble
    statefully; emits one row per completed file.

    ``partial_timeout_ms`` — ops guard: when set, a file that receives no
    chunks for this long emits an IN_PROGRESS snapshot row (null
    file_bytes) so stalled partials are observable, while its state is
    retained — late chunks are never dropped (the reference's contract).

    ``buffer_bytes=False`` — the reference's mode="disk"
    (data_file_stream_handler.py:57-74) for larger-than-memory files:
    state keeps only the offset set; completion emits a
    COMPLETE_OFFSETS_ONLY row (null bytes) and the payload reassembles
    downstream via a batch join of the completed keys against the
    durable chunk log (``operators.assembly.assemble_files``)."""
    cols = ["n_total_chunks", "file_hash", "file_mtime", "chunk_offset_write", "data"]
    keyed = chunks.selectExpr(f"{key_col} AS rel_path", *cols).groupBy("rel_path")
    return keyed.applyInPandasWithState(
        # closure captures the timeout by value (survives executor pickling)
        lambda key, pdfs, state: _assemble_group(
            key, pdfs, state, partial_timeout_ms, buffer_bytes
        ),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if partial_timeout_ms
            else GroupStateTimeout.NoTimeout
        ),
    )
