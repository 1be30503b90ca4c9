"""Incremental bloom-novelty marking against a durable bit-position
ledger — the streaming twin of ``llm/bloom.py``'s batch novelty scan
(the Dolma pipeline's dedupe device run continuously).

Contract (mirrors streaming/spandedup.py / streaming/curation.py): the
stream's checkpoint sequences micro-batches; the LEDGER owns which
bloom bit positions have ever been set and by which batch. Batch B:

1. folds every position the ledger attributes to a batch STRICTLY
   EARLIER than B into a mask (``bloom_from_positions`` — one parallel
   scan of the ledger, never of history documents),
2. marks each of B's documents with (n_grams, n_novel) against that
   broadcast mask (``gram_novelty`` — zero probe-side shuffle), and
3. INSERTs B's not-yet-present positions as (pos, first_batch=B)
   (anti-join before the upsert), so a position keeps the batch that
   truly introduced it.

Replay is byte-identical: a replayed batch B finds its own positions
tagged ``first_batch = B`` — NOT strictly earlier — so it re-derives
exactly the original novelty verdicts instead of colliding with itself
(the strictly-earlier-state discipline shared by every incremental
ledger in this repo).

Scale: the ledger is bounded by the MASK, not the corpus — at most
``m_bits`` rows of (bigint pos, bigint batch) ever, ~16 MiB at the
default 2^20 bits, regardless of how many documents stream through.
That bound is the whole point of running novelty through a bloom
instead of a gram ledger (compare streaming/spandedup.py, whose state
is one row per DISTINCT gram ever seen).

Reference parity: the continuous generalization of the reference's
content-addressed already-written check
(download_data_file.py:98-107), with the reference's at-least-once
redelivery handled by the first_batch attribution instead of offset
bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.bloom import bloom_from_positions, gram_novelty, positions_col
from ..llm.dedup import word_shingles
from .batch_sink import batch_sink


def batch_novelty_against_ledger(
    batch_df: DataFrame,
    ledger: DataFrame | None,
    batch_id: int,
    *,
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The pure per-batch step (exposed for tests / batch backfills):
    per-document (n_grams, n_novel) against the mask of all positions
    the ledger attributes to batches < ``batch_id``."""
    earlier = None
    if ledger is not None:
        earlier = ledger.filter(
            F.col("first_batch") < F.lit(int(batch_id))
        ).select("pos")
    bloom = bloom_from_positions(earlier, m_bits, k)
    return gram_novelty(batch_df, bloom, n=n, id_col=id_col, text_col=text_col)


def batch_positions(
    batch_df: DataFrame,
    *,
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All distinct bloom bit positions of a batch's word n-grams —
    the ``word_shingles`` md5-16-hex gram convention (identical to the
    hashing ``gram_novelty`` performs), positions JVM-side."""
    return (
        word_shingles(batch_df, n=n, id_col=id_col, text_col=text_col, hashed=True)
        .select(F.explode(positions_col(F.col("shingle"), k, m_bits)).alias("pos"))
        .distinct()
    )


def bloom_novelty_stream_sink(
    docs,
    pos_registry,
    out_dir: str,
    checkpoint_dir: str,
    *,
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch sink: mark each micro-batch's documents with their
    gram novelty against the durable position ledger, write
    (id, n_grams, n_novel) to ``batch=<id>`` (partition overwrite —
    the repo's idempotent sink shape), then INSERT the batch's new
    positions.

    ``pos_registry`` must be ``make_registry(spark, path, ["pos"])``.
    ``(n, m_bits, k)`` are persisted beside the ledger on first start
    and VALIDATED on every restart (``batch_sink``'s params guard): a
    smaller ``m_bits`` silently corrupts novelty verdicts (stale high
    positions alias into the smaller mask), a larger one fails opaquely
    inside the executor-side mask build, and a different ``n``/``k``
    changes what a position MEANS. Returns the configured
    ``DataStreamWriter`` — caller picks the trigger and calls
    ``.start()``."""

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        ledger = pos_registry.read()
        out = batch_novelty_against_ledger(
            batch_df,
            ledger,
            batch_id,
            n=n,
            m_bits=m_bits,
            k=k,
            id_col=id_col,
            text_col=text_col,
        )
        emit(out)
        new_pos = batch_positions(
            batch_df, n=n, m_bits=m_bits, k=k, id_col=id_col, text_col=text_col
        ).withColumn("first_batch", F.lit(int(batch_id)).cast("long"))
        if ledger is not None:
            # insert-only: a position keeps the batch that INTRODUCED it,
            # so a replayed batch sees its own bits as not-strictly-earlier
            new_pos = new_pos.join(ledger.select("pos"), "pos", "left_anti")
        pos_registry.upsert(new_pos)

    return batch_sink(
        docs, "bloom_novelty_stream_sink", out_dir, checkpoint_dir, step,
        registry=pos_registry, params={"n": n, "m_bits": m_bits, "k": k},
    )
