"""Streaming anomaly detection: flag arrivals against durable running
moments.

The batch twin is the catalog's ``zscore_anomaly_events``
(queries_extras.py): per-key mean/stddev from decimal-exact moment sums,
flag |z| > threshold. On a stream the moments must accumulate ACROSS
micro-batches and survive restarts, and a replayed batch must flag the
identical rows — so the state lives in a durable registry (the same
progress-truth discipline as the reference's stream-processor registry,
data_file_stream_processor.py:85-95; Spark checkpoints sequence the
batches, the registry owns the numbers).

Exactly-once mechanics (mirrors streaming/curation.py):

- The moment ledger is keyed ``[key, batch]`` and holds one DELTA row
  per (key, micro-batch): (n, s1, s2) with s1/s2 as exact decimals.
  The prior state a batch B scores against is the decimal SUM of delta
  rows with ``batch < B`` — a pure function of committed state, so a
  replayed batch recomputes byte-identical flags no matter how many
  times it runs, and its own upsert rewrites the same ``[key, B]`` rows.
  (An absolute running-total row per key would break this: after the
  fold, a replay of B would score against state that already contains
  B's own data.)
- Flagged rows land in ``<out_dir>/batch=<id>`` via partition overwrite
  — the repo's standard idempotent sink shape.
- ``compact_moment_ledger`` folds all deltas with ``batch <= upto`` into
  one row per key (tagged with the newest folded batch id), bounding the
  ledger at one row per key plus one per in-flight batch. Safe because a
  Structured Streaming checkpoint never replays a batch older than the
  last committed one — compact up to ``current - 1`` at most.

Scale shape: the per-batch work is one map-side-combinable groupBy over
the batch (its per-key deltas), one aggregate over the ledger (keyed,
combinable), and one join of the batch against the per-key stats — the
stats side is one row per active key, so AQE broadcasts it. No windows,
no Python stages, no per-row state round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .batch_sink import batch_sink
from .ledger_fold import fold_count_ledger

# decimal scales shared with the batch twin (queries_extras.py
# zscore_anomaly_events) so stream and batch flag identically
_S1_T = "decimal(30,8)"
_S2_T = "decimal(38,12)"

def _batch_deltas(batch_df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    v = F.col(value_col)
    return batch_df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count("*").alias("n"),
        F.sum(v.cast(_S1_T)).alias("s1"),
        F.sum((v * v).cast(_S2_T)).alias("s2"),
    )


def _prior_stats(ledger: DataFrame | None, batch_id: int, min_n: int) -> DataFrame | None:
    """mean/stddev per key from delta rows strictly BEFORE batch_id —
    decimal sums (order-independent), rounded at the ledger scale, then
    the batch twin's double formula."""
    if ledger is None:
        return None
    prior = (
        ledger.filter(F.col("batch") < F.lit(int(batch_id)))
        .groupBy("key")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("s1"), 8).cast("double").alias("s1"),
            F.round(F.sum("s2"), 12).cast("double").alias("s2"),
        )
        .filter(F.col("n") >= min_n)
    )
    return prior.select(
        "key",
        F.col("n").alias("prior_n"),
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt(
            F.greatest(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1),
                F.lit(0.0),
            )
        ).alias("sd"),
    )


def score_batch_against_ledger(
    batch_df: DataFrame,
    ledger: DataFrame | None,
    batch_id: int,
    *,
    key_col: str = "user_id",
    value_col: str = "value",
    z_threshold: float = 3.0,
    min_n: int = 5,
) -> DataFrame:
    """The pure scoring step (exposed for tests / batch backfills):
    batch rows that are anomalous against the ledger's pre-``batch_id``
    moments. Keys the ledger has not seen ``min_n`` times yet cannot be
    scored and are never flagged (the cold-start contract)."""
    stats = _prior_stats(ledger, batch_id, min_n)
    if stats is None:
        # cold start: no ledger yet — nothing is scorable, empty result
        # with the output schema (batch columns + zscore)
        return batch_df.limit(0).withColumn(
            "zscore", F.lit(0.0).cast("double")
        )
    keyed = batch_df.withColumn("_k", F.col(key_col).cast("string"))
    z = (F.col(value_col) - F.col("mu")) / F.col("sd")
    return (
        keyed.join(stats.withColumnRenamed("key", "_k"), "_k")
        .filter((F.col("sd") > 0) & (F.abs(z) > z_threshold))
        .withColumn("zscore", F.round(z, 3))
        .drop("_k", "prior_n", "mu", "sd")
    )


def anomaly_stream_sink(
    events,
    moments_registry,
    out_dir: str,
    checkpoint_dir: str,
    *,
    key_col: str = "user_id",
    value_col: str = "value",
    z_threshold: float = 3.0,
    min_n: int = 5,
    compact_every: int | None = None,
):
    """foreachBatch alert sink: score each micro-batch against the
    durable moment ledger, write flagged rows to ``batch=<id>``, then
    upsert the batch's ``[key, batch]`` delta rows.

    ``moments_registry`` must be ``make_registry(spark, path,
    ["key", "batch"])``. Returns the configured ``DataStreamWriter`` —
    caller picks the trigger and calls ``.start()``.

    ``compact_every=N`` runs ``compact_moment_ledger`` up to the
    previous batch every N batches, after the batch's own upsert, on
    ``batch_sink``'s serialized schedule: on a restart the replayed
    batch_id re-reads strictly-earlier prefix sums, which the fold
    preserves exactly."""

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        ledger = moments_registry.read()
        flagged = score_batch_against_ledger(
            batch_df,
            ledger,
            batch_id,
            key_col=key_col,
            value_col=value_col,
            z_threshold=z_threshold,
            min_n=min_n,
        )
        emit(flagged)
        deltas = _batch_deltas(batch_df, key_col, value_col).withColumn(
            "batch", F.lit(int(batch_id))
        )
        moments_registry.upsert(deltas.select("key", "batch", "n", "s1", "s2"))

    return batch_sink(
        events, "anomaly_stream_sink", out_dir, checkpoint_dir, step,
        registry=moments_registry, compact_every=compact_every,
        compact=lambda upto: compact_moment_ledger(moments_registry, upto),
    )


def compact_moment_ledger(moments_registry, upto_batch: int) -> None:
    """Fold every delta row with ``batch <= upto_batch`` into one row per
    key (tagged ``batch = upto_batch``), preserving all ``batch < B``
    prefix sums for B > upto_batch. Run it only for batches the stream
    has COMMITTED past (at most ``newest - 1``): a checkpoint restart
    replays only the in-flight batch, never committed ones, so the
    folded prefix is never re-read at a finer grain.

    Concurrency contract: this is a whole-table ``replace`` — it MUST be
    serialized with the stream's upserts or a delta row can be silently
    dropped (or the losing writer's rename raises mid-stream). Either
    pass ``compact_every=`` to ``anomaly_stream_sink`` (the fold then
    runs inside the stream's own foreachBatch, which Structured
    Streaming serializes) or call this only while the query is stopped.
    """
    fold_count_ledger(moments_registry, upto_batch, ["n", "s1", "s2"])
