"""Continuous temperature-based resampling against a durable per-key
census ledger — the streaming twin of the batch
``temperature_resample_langs`` catalog entry (mC4/mT5/XLM-R data
mixing run continuously: each micro-batch is re-weighted toward
p^alpha of the corpus distribution OBSERVED SO FAR).

Contract (the repo's strictly-earlier-ledger discipline,
cf. streaming/quota.py and streaming/anomaly.py): the LEDGER owns how
many documents each key has ever streamed through, as per-(key, batch)
DELTA rows. Batch B:

1. folds every delta attributed to a batch STRICTLY EARLIER than B
   into the cumulative census (|keys| rows, broadcast-sized),
2. computes the temperature rates from that census — rate_d =
   (p_d^alpha / sum_e p_e^alpha) / p_d, quantized to integer millionths
   exactly like the batch entry, so the per-document copy decision is
   the same integer compare against the same salted hash,
3. emits each of B's documents floor(rate) + hash-fractional times to
   ``batch=<id>`` (partition overwrite — idempotent), and
4. UPSERTS B's own (key, batch=B, n_docs) deltas (replay REPLACES its
   own rows).

Replay is byte-identical: a replayed batch B re-derives the SAME
census (its own rows are not strictly earlier), hence the same rates,
and the per-doc hash is stateless — the admitted multiset reproduces
exactly. Batch 0 has no census and passes through at rate 1
(documented; the first batch IS the first observation of the
distribution).

Scale: the census is |keys|-sized (languages/domains — tiny); the
per-batch work is one broadcast join + explode over the micro-batch.
Ledger rows are |keys| x batches and ``compact_census_ledger`` folds
the committed past to one row per key.

Published device: temperature sampling over the empirical distribution
(mC4/mT5 sec 3.1, XLM-R sec 3.1); the continuous form re-estimates the
distribution from the stream's own history, the natural reading when
the corpus arrives incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries_extras8 import (
    RATE_Q,
    temperature_copy_hash,
    temperature_rate_frame,
)
from .batch_sink import batch_sink
from .ledger_fold import fold_count_ledger


def batch_temperature_resample(
    batch_df: DataFrame,
    ledger: DataFrame | None,
    batch_id: int,
    *,
    alpha: float = 0.5,
    key_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """The pure per-batch step (exposed for tests / batch backfills):
    B's rows emitted rate-many times in expectation, where the rates
    derive from the census of all batches strictly earlier than
    ``batch_id``. No prior census (batch 0) → rate 1 pass-through.

    Output: the input rows plus (rate DOUBLE, n_copies BIGINT,
    copy BIGINT)."""
    # both branches end on the SAME final projection (input columns,
    # then rate / n_copies / copy, nullability pinned by the coalesce
    # with a non-null literal — no row is ever null there, n_copies > 0
    # is filtered and rate is always joined-or-defaulted): a checkpoint
    # replay of batch 0 takes the census branch (the ledger exists by
    # then, its own rows filter out) and must overwrite batch=0 with a
    # parquet schema byte-identical to the original write — order AND
    # required/optional flags (round-12 advisory)
    def _finish(df: DataFrame) -> DataFrame:
        return df.select(
            *batch_df.columns,
            F.coalesce(F.col("rate"), F.lit(0.0)).alias("rate"),
            F.coalesce(F.col("n_copies"), F.lit(0).cast("bigint")).alias(
                "n_copies"
            ),
            F.coalesce(F.col("copy"), F.lit(0).cast("bigint")).alias("copy"),
        )

    if ledger is None:
        # batch 0: no census yet — pure pass-through, no extra jobs
        return _finish(
            batch_df.withColumn("rate", F.lit(1.0))
            .withColumn("n_copies", F.lit(1).cast("bigint"))
            .withColumn("copy", F.lit(1).cast("bigint"))
        )
    census = (
        ledger.filter(F.col("batch") < F.lit(int(batch_id)))
        .groupBy(key_col)
        .agg(F.sum("n_docs").alias("n_d"))
    )
    # an EMPTY census needs no special branch: the rate frame is then
    # empty, the left join below yields null _rate_q, and the coalesce
    # passes every doc through at rate 1 — same result, one less job.
    # The rate MATH is the batch entry's own function (shared, not
    # mirrored), so replay identity is coupling by construction; only
    # the final per-doc join is pruned to the batch's keys, since the
    # census/normalizer must see every key but the broadcast need not
    # (cf. quota.py's identical bound — keys ever seen is unbounded).
    rates = (
        temperature_rate_frame(census, alpha, key_col)
        .withColumnRenamed("rate_q", "_rate_q")
        .join(batch_df.select(key_col).distinct(), key_col, "left_semi")
    )
    h = temperature_copy_hash(id_col)
    extra = (h < F.col("_rate_q") % RATE_Q).cast("bigint")
    n_copies = F.expr(f"_rate_q DIV {RATE_Q}") + extra
    return (
        # a key UNSEEN by the census (first appearance) passes through
        # at rate 1 — it has no empirical share to re-weight yet
        batch_df.join(F.broadcast(rates), key_col, "left")
        .withColumn(
            "_rate_q", F.coalesce("_rate_q", F.lit(RATE_Q).cast("bigint"))
        )
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .withColumn(
            "rate", F.round(F.col("_rate_q") / F.lit(float(RATE_Q)), 6)
        )
        .withColumn(
            "copy",
            F.explode(
                F.sequence(F.lit(1).cast("bigint"), F.col("n_copies"))
            ),
        )
        .transform(_finish)
    )


def temperature_resample_stream_sink(
    docs,
    census_registry,
    out_dir: str,
    checkpoint_dir: str,
    *,
    alpha: float = 0.5,
    key_col: str = "lang",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """foreachBatch sink: re-weight each micro-batch toward p^alpha of
    the stream's cumulative key distribution, write the emitted copies
    to ``batch=<id>`` (partition overwrite), then upsert the batch's
    (key, batch, n_docs) census deltas — counted from the INPUT batch,
    not the emitted copies, so the census tracks the observed
    distribution, not the re-weighted one.

    ``census_registry`` must be ``make_registry(spark, path,
    [key_col, "batch"])``. ``alpha`` and the column names are
    sidecar-guarded (a silently changed alpha would break replay
    identity). Returns the configured ``DataStreamWriter``."""

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        ledger = census_registry.read()
        out = batch_temperature_resample(
            batch_df,
            ledger,
            batch_id,
            alpha=alpha,
            key_col=key_col,
            id_col=id_col,
        )
        emit(out)
        deltas = (
            batch_df.groupBy(key_col)
            .agg(F.count("*").alias("n_docs"))
            .withColumn("batch", F.lit(int(batch_id)).cast("long"))
            .select(key_col, "batch", "n_docs")
        )
        census_registry.upsert(deltas)

    # params are (str | int): pin alpha via its millionths
    alpha_micros = int(round(alpha * 1_000_000))
    params = {"alpha_micros": alpha_micros, "key_col": key_col, "id_col": id_col}
    return batch_sink(
        docs, "temperature_resample_stream_sink", out_dir, checkpoint_dir, step,
        registry=census_registry, params=params, compact_every=compact_every,
        compact=lambda upto: compact_census_ledger(census_registry, upto),
    )


def compact_census_ledger(census_registry, upto_batch: int) -> None:
    """Fold every delta row with ``batch <= upto_batch`` into one row
    per key (tagged ``batch = upto_batch``) — same contract and
    serialization requirements as ``compact_quota_ledger`` (the shared
    ``ledger_fold.fold_count_ledger`` implements both)."""
    fold_count_ledger(census_registry, upto_batch, ["n_docs"])
