"""Cross-batch per-key quota capping against a durable admitted-count
ledger — the streaming twin of the batch ``domain_quota_cap`` catalog
entry (RefinedWeb/C4's host-balance device run continuously: admit at
most ``quota`` documents per domain over the LIFETIME of the stream,
not per micro-batch).

Contract (mirrors streaming/anomaly.py's delta-ledger discipline): the
stream's checkpoint sequences micro-batches; the LEDGER owns how many
documents each key has ever had admitted, as per-(key, batch) DELTA
rows. Batch B:

1. folds every delta the ledger attributes to a batch STRICTLY EARLIER
   than B into a per-key prior count (one ledger scan — ledger rows are
   keys x batches, never corpus-sized),
2. ranks B's documents within each key (lowest id first — the batch
   entry's deterministic order) and admits rank <= quota - prior,
3. writes the admitted rows to ``batch=<id>`` (partition overwrite —
   the repo's idempotent sink shape), and
4. UPSERTS the batch's own (key, batch=B, n_admitted) delta rows
   (keyed on [key, batch], so a replay REPLACES its own rows).

Replay is byte-identical: a replayed batch B re-derives its prior from
strictly-earlier deltas only — its own ``batch = B`` rows are not
strictly earlier — so it admits exactly the original set and its
upsert replaces rather than double-counts (the strictly-earlier-state
discipline shared by every incremental ledger in this repo).

Scale: ledger rows are bounded by distinct keys x batches and
``compact_quota_ledger`` folds committed-past batches to ONE row per
key, so steady state is ~|keys| rows. The per-batch admit is one
key-partitioned window over the BATCH only (micro-batch-sized, the
same shape the batch entry uses corpus-wide) plus a broadcast-sized
prior join — no cross-batch document state anywhere.

Reference parity: generalizes the reference's per-file "already
handled" gate (its registries cap work per key at one) to an arbitrary
per-key admission budget; cited device: RefinedWeb §3.1 host capping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .batch_sink import batch_sink
from .ledger_fold import fold_count_ledger


def batch_quota_admit(
    batch_df: DataFrame,
    ledger: DataFrame | None,
    batch_id: int,
    *,
    quota: int,
    key_col: str = "domain",
    id_col: str = "doc_id",
) -> DataFrame:
    """The pure per-batch step (exposed for tests / batch backfills):
    B's rows that fit under ``quota`` after counting every admission the
    ledger attributes to batches strictly earlier than ``batch_id``.

    Output: the admitted input rows plus ``admit_rank`` (1-based rank of
    the row within its key's lifetime budget)."""
    prior = None
    if ledger is not None:
        # bound the broadcast to the keys THIS batch touches: the ledger
        # holds every key the stream has ever admitted (millions of
        # domains on a long crawl), and broadcasting all of their priors
        # every batch would eventually blow the broadcast budget —
        # micro-batch-sized is the invariant
        batch_keys = batch_df.select(key_col).distinct()
        prior = (
            ledger.filter(F.col("batch") < F.lit(int(batch_id)))
            .join(batch_keys, key_col, "left_semi")
            .groupBy(key_col)
            .agg(F.sum("n_admitted").alias("_prior"))
        )
    w = Window.partitionBy(key_col).orderBy(id_col)
    ranked = batch_df.withColumn("_rk", F.row_number().over(w))
    if prior is not None:
        ranked = ranked.join(F.broadcast(prior), key_col, "left")
    else:
        ranked = ranked.withColumn("_prior", F.lit(None).cast("long"))
    return (
        ranked.withColumn("_prior", F.coalesce("_prior", F.lit(0)))
        .filter(F.col("_rk") + F.col("_prior") <= quota)
        .withColumn(
            "admit_rank", (F.col("_rk") + F.col("_prior")).cast("long")
        )
        .drop("_rk", "_prior")
    )


def quota_cap_stream_sink(
    docs,
    quota_registry,
    out_dir: str,
    checkpoint_dir: str,
    *,
    quota: int,
    key_col: str = "domain",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """foreachBatch sink: admit each micro-batch's documents under the
    lifetime per-key quota, write the admitted rows to ``batch=<id>``
    (partition overwrite), then upsert the batch's (key, batch,
    n_admitted) delta rows.

    ``quota_registry`` must be ``make_registry(spark, path,
    [key_col, "batch"])``. ``quota`` (and the key/id column names) are
    persisted beside the ledger on first start and VALIDATED on every
    restart: a silently changed quota would make a replayed batch admit
    a DIFFERENT set than the one already written — the sidecar guard
    turns that into a refusal instead of a silent exactly-once break.
    Returns the configured ``DataStreamWriter`` — caller picks the
    trigger and calls ``.start()``."""

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        ledger = quota_registry.read()
        admitted = batch_quota_admit(
            batch_df,
            ledger,
            batch_id,
            quota=quota,
            key_col=key_col,
            id_col=id_col,
        )
        # persist for the two consumers (parquet write + delta derivation)
        # so the ledger scan + prior join + window run ONCE per batch,
        # not twice; released before the batch commits
        admitted = admitted.persist()
        try:
            emit(admitted)
            deltas = (
                admitted.groupBy(key_col)
                .agg(F.count("*").alias("n_admitted"))
                .withColumn("batch", F.lit(int(batch_id)).cast("long"))
                .select(key_col, "batch", "n_admitted")
            )
            # upsert keyed on [key, batch]: replay REPLACES its own deltas
            quota_registry.upsert(deltas)
        finally:
            admitted.unpersist()

    return batch_sink(
        docs, "quota_cap_stream_sink", out_dir, checkpoint_dir, step,
        registry=quota_registry,
        params={"quota": quota, "key_col": key_col, "id_col": id_col},
        compact_every=compact_every,
        compact=lambda upto: compact_quota_ledger(quota_registry, upto),
    )


def compact_quota_ledger(quota_registry, upto_batch: int) -> None:
    """Fold every delta row with ``batch <= upto_batch`` into one row
    per key (tagged ``batch = upto_batch``), preserving every
    ``batch < B`` prefix sum for B > upto_batch. Run it only for
    batches the stream has COMMITTED past (at most ``newest - 1``): a
    checkpoint restart replays only the in-flight batch, so the folded
    prefix is never re-read at a finer grain.

    Concurrency contract: whole-table ``replace`` — MUST be serialized
    with the stream's upserts (pass ``compact_every=`` to the sink, or
    call only while the query is stopped)."""
    fold_count_ledger(quota_registry, upto_batch, ["n_admitted"])
