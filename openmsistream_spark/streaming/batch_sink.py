"""The one ``foreachBatch`` skeleton behind every ``batch=<id>`` sink.

Per-batch contract, stated once for all of them:

- **Params guard** (sinks with ``params``): ``ensure_sidecar_params``
  runs at build (fail fast) and again at the top of every batch until
  it has passed against an EXISTING ledger. The build-time check alone
  leaves a window: until the first batch commits the ledger does not
  exist, so a second builder with different parameters would simply
  overwrite the sidecar and two streams would mix incompatible rows.
- **Lost-ledger refusal** (sinks with a ``registry``): past batch 0 a
  missing ledger beside a surviving ``_params`` sidecar was LOST, and
  reading it as 'no history' would re-admit against outputs already
  written (``params_guard.refuse_lost_ledger``).
- **Idempotent output**: the step's ``emit(df)`` overwrites
  ``<out_dir>/batch=<id>`` and returns that path, so a replayed batch id
  rewrites its own partition. Where the step calls ``emit`` relative to
  its ledger write is the sink's crash/replay contract; the skeleton
  never reorders it.
- **Compaction**: ``compact(batch_id - 1)`` after every
  ``compact_every``-th batch (never batch 0), inside the callback.
  Structured Streaming runs ``foreachBatch`` invocations strictly one
  at a time, so the whole-table fold cannot race a ledger upsert, and
  it folds only batches the stream has committed past.

Returns the configured ``DataStreamWriter`` (append mode, the given
checkpoint): the caller picks the trigger and calls ``.start()``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from .params_guard import ensure_sidecar_params, refuse_lost_ledger


def batch_sink(
    stream: DataFrame,
    name: str,
    out_dir: str,
    checkpoint_dir: str,
    step: Callable[[DataFrame, int, Callable[[DataFrame], str]], None],
    *,
    registry=None,
    params: dict[str, int | str] | None = None,
    compact_every: int | None = None,
    compact: Callable[[int], None] | None = None,
) -> DataStreamWriter:
    """``step(batch_df, batch_id, emit)`` does the sink's own work; see
    the module docstring for what runs around it. ``compact_every`` is
    refused at construction unless it is None or an int >= 1."""
    if compact_every is not None and (
        type(compact_every) is not int or compact_every < 1
    ):
        raise ValueError(
            f"{name}: compact_every={compact_every!r} must be None or an int >= 1"
        )
    settled = params is None

    def guard() -> None:
        nonlocal settled
        if not settled:
            ensure_sidecar_params(registry, params, name)
            settled = registry.exists()

    guard()

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        guard()
        if registry is not None:
            refuse_lost_ledger(registry, batch_id, name)

        def emit(df: DataFrame) -> str:
            path = f"{out_dir}/batch={batch_id}"
            df.write.mode("overwrite").parquet(path)
            return path

        step(batch_df, batch_id, emit)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact(batch_id - 1)

    return (
        stream.writeStream.foreachBatch(_write)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
