"""Continuous sketch aggregates — the streaming twins of
``operators/sketches``.

Two sketches, two replay disciplines (the instructive contrast):

- **HLL registers are max-merged** — idempotent and commutative BY
  ALGEBRA, so the ledger needs no batch bookkeeping at all; a replayed
  batch re-merges harmlessly.
- **CMS counters are sums** — NOT idempotent (re-adding double-counts),
  so the CMS ledger stores per-``(cell, batch)`` DELTA rows keyed by
  batch id: a replayed batch REPLACES its own rows instead of adding to
  them (the anomaly sink's moment-ledger discipline), and compaction
  folds strictly-earlier batches without touching any id a replay could
  rewrite.

The durable state is the register ledger itself: (group_cols...,
bucket, r), at most ``m = 2**p`` rows per group EVER, merged with each
micro-batch by ``max(r)``. Unlike every other incremental ledger in
this repo, NO strictly-earlier-batch discipline is needed: the register
max is idempotent and commutative BY ALGEBRA — re-applying a replayed
batch's registers (after a crash between the ledger upsert and the
checkpoint commit) leaves the ledger bit-identical, and the per-batch
estimate snapshot re-derives unchanged. That mergeability is the whole
reason sketches matter in distributed systems: the same max folds
partitions within a batch, batches within a stream, and streams across
days.

Per batch: one map-side-combinable register aggregate over the batch
(shuffle <= tasks x m rows), one m-bounded merge against the ledger,
one m-bounded estimate, and an idempotent ``batch=<id>`` snapshot
write.

Reference parity: the continuous form of the reference's
distinct-completed-paths scan (R6, producer_file_registry.py:152-167)
and heartbeat counters (A8) — cardinality over an unbounded stream in
bounded state.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import (
    cms_counters,
    hll_estimate_from_registers,
    hll_registers,
)
from .batch_sink import batch_sink


def merge_registers(
    ledger: DataFrame | None,
    batch_regs: DataFrame,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """max-merge a batch's registers into the ledger (m-bounded)."""
    if ledger is None:
        return batch_regs
    return (
        ledger.select(*group_cols, "bucket", "r")
        .unionByName(batch_regs)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").cast("int").alias("r"))
    )


def hll_distinct_stream_sink(
    events,
    register_registry,
    out_dir: str,
    checkpoint_dir: str,
    *,
    key_col: str,
    group_cols: Sequence[str] = (),
    p: int = 12,
):
    """foreachBatch sink: fold each micro-batch's HLL registers into the
    durable ledger, then snapshot the merged per-group estimate to
    ``batch=<id>`` (partition overwrite — idempotent).

    ``register_registry`` must be
    ``make_registry(spark, path, [*group_cols, "bucket"])``; its whole
    table is replaced with the max-merge each batch (m-bounded rows, so
    the rewrite is sketch-sized, never corpus-sized). ``p`` is persisted
    in a ``_params`` sidecar on first start and validated on restart
    (``streaming/params_guard.py``) — registers from a different p are
    a different bucket space, and max-merging across them silently
    estimates nonsense. Returns the configured ``DataStreamWriter`` —
    caller picks the trigger and calls ``.start()``."""
    gcols = list(group_cols)

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        regs = hll_registers(batch_df, key_col, gcols, p)
        merged = merge_registers(register_registry.read(), regs, gcols)
        # materialize before replace(): the merge plan reads the ledger
        # being rewritten
        merged = merged.localCheckpoint(eager=True)
        register_registry.replace(merged)
        emit(hll_estimate_from_registers(merged, gcols, p))

    return batch_sink(
        events, "hll_distinct_stream_sink", out_dir, checkpoint_dir, step,
        registry=register_registry, params={"p": p},
    )


def cms_stream_sink(
    events,
    delta_registry,
    out_dir: str,
    checkpoint_dir: str,
    *,
    key_col: str,
    d: int = 4,
    w: int = 2048,
    weight_col: str | None = None,
    compact_every: int | None = None,
):
    """foreachBatch sink: add each micro-batch's Count-Min counter
    DELTAS to the durable ledger as (i, pos, batch, cnt) rows, then
    snapshot the merged d*w counter table to ``batch=<id>`` (partition
    overwrite — idempotent). Point lookups run ``cms_lookup`` against
    any snapshot (or the summed ledger) offline.

    ``delta_registry`` must be
    ``make_registry(spark, path, ["i", "pos", "batch"])`` — the batch
    id in the KEY is what makes replay exactly-once: a replayed batch
    upserts (replaces) its own identical delta rows instead of
    double-counting them. Ledger growth is d*w rows per batch until
    compaction folds the strictly-earlier batches.

    ``compact_every=N`` runs ``compact_cms_ledger`` every N batches,
    after the batch's own upsert, on ``batch_sink``'s serialized
    schedule. Only batches STRICTLY earlier than the current one fold,
    so the one batch a checkpoint restart could replay still replaces
    its own keyed rows.

    ``(d, w)`` are persisted in a ``_params`` sidecar on first start
    and validated on restart (``streaming/params_guard.py``) — deltas
    from a different geometry alias into the wrong counters. Returns
    the configured ``DataStreamWriter``."""

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        delta = cms_counters(
            batch_df, key_col, d=d, w=w, weight_col=weight_col
        ).withColumn("batch", F.lit(int(batch_id)).cast("long"))
        delta_registry.upsert(delta)
        merged = (
            delta_registry.read()
            .groupBy("i", "pos")
            .agg(F.sum("cnt").alias("cnt"))
        )
        emit(merged)

    return batch_sink(
        events, "cms_stream_sink", out_dir, checkpoint_dir, step,
        registry=delta_registry, params={"d": d, "w": w},
        compact_every=compact_every,
        compact=lambda _upto: compact_cms_ledger(delta_registry),
    )


def compact_cms_ledger(delta_registry) -> None:
    """Fold every delta row from batches STRICTLY EARLIER than the
    latest into one ``batch = -1`` row per cell. Cell totals are
    unchanged (sums commute); the latest batch's rows are untouched, so
    the one batch Structured Streaming could ever replay still REPLACES
    its own keyed rows — a replay can never collide with folded
    history. Ledger size returns to <= 2 rows per cell.

    MUST NOT run concurrently with a live ``cms_stream_sink`` on the
    same registry: the fold is a read-then-``replace()``, and a
    micro-batch upsert landing between the read and the replace is
    LOST (registry.py documents ``replace()`` as unsafe to interleave
    with concurrent upserts). Run it with the stream stopped, or let
    the sink serialize it for you via ``compact_every=`` — foreachBatch
    invocations never overlap, so the in-sink fold cannot race."""
    led = delta_registry.read()
    if led is None:
        return
    mx = led.agg(F.max("batch")).first()[0]
    if mx is None:
        return
    past = led.filter(F.col("batch") < mx)
    folded = (
        past.groupBy("i", "pos")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("batch", F.lit(-1).cast("long"))
        .select("i", "pos", "batch", "cnt")
    )
    keep = led.filter(F.col("batch") >= mx).select("i", "pos", "batch", "cnt")
    merged = folded.unionByName(keep).localCheckpoint(eager=True)
    delta_registry.replace(merged)
