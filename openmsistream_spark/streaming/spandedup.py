"""Incremental exact-substring (span) excision against a durable
k-gram ledger — the streaming twin of ``llm/spandedup.py``, completing
the incremental-dedup family (exact, MinHash, SimHash, embedding,
and now span-level).

Contract (mirrors streaming/curation.py / streaming/anomaly.py): the
stream's checkpoint sequences micro-batches; the LEDGER owns which
k-grams have ever been seen and by which batch. Batch B excises:

- every occurrence of a gram the ledger attributes to a batch
  STRICTLY EARLIER than B (it duplicates already-shipped content), and
- every non-first occurrence of a gram duplicated WITHIN B itself
  (keep-first in (doc_id, pos) order — the batch twin's rule).

It then records B's new grams as ``(gram, first_batch=B)`` —
INSERT-only (an anti-join against the ledger before the upsert), so a
gram's ``first_batch`` is the batch that truly introduced it. That is
what makes replay byte-identical: a replayed batch B finds its own
grams in the ledger tagged ``first_batch = B`` — NOT strictly earlier —
so it re-derives exactly the original excisions instead of colliding
with itself (the same strictly-earlier-state discipline as the anomaly
sink's moment ledger).

Excised documents land in ``<out_dir>/batch=<id>`` via partition
overwrite — the repo's standard idempotent sink shape.

Scale: ledger rows are (8-byte xxhash64 gram, batch) — ~16 B per
DISTINCT gram ever seen, no text. The per-batch work is the batch's own
gram build, one equi-join against the ledger (keyed lookup shape), one
combinable (count, first) aggregate within the batch, the per-doc span
merge, and the insert of the batch's new grams. On the parquet registry
backend the insert rewrites the table (fine locally / at ledger sizes
that fit a compaction budget); at 100 TB use the log backend, whose
O(batch) appends write only the batch's rows — the same backend trade
every durable ledger in this repo documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.spandedup import DEFAULT_SPAN_K, _merge_intervals, kgram_positions
from .batch_sink import batch_sink


def excise_batch_against_ledger(
    batch_df: DataFrame,
    ledger: DataFrame | None,
    batch_id: int,
    *,
    k: int = DEFAULT_SPAN_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: str = "hash",
) -> DataFrame:
    """The pure per-batch step (exposed for tests / batch backfills):
    rewrite ``batch_df`` with spans removed that duplicate (a) grams the
    ledger attributes to batches < ``batch_id`` or (b) earlier
    occurrences within this batch. Returns
    (id_col, text_col, n_tokens, n_tokens_removed)."""
    grams = kgram_positions(
        batch_df, k=k, id_col=id_col, text_col=text_col, fingerprint=fingerprint
    )
    agg = grams.groupBy("gram").agg(
        F.count("*").alias("_n"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "_first"
        ),
    )
    if ledger is not None:
        seen = (
            ledger.filter(F.col("first_batch") < F.lit(int(batch_id)))
            .select("gram")
            .withColumn("_seen", F.lit(True))
        )
        agg = agg.join(seen, "gram", "left")
    else:
        agg = agg.withColumn("_seen", F.lit(None).cast("boolean"))
    # a seen gram marks ALL its occurrences; a batch-internal duplicate
    # marks all but the batch-first occurrence
    dup = agg.filter(F.col("_seen") | (F.col("_n") >= 2))
    marked = (
        grams.join(dup, "gram")
        .filter(
            F.coalesce(F.col("_seen"), F.lit(False))
            | ~(
                (F.col(id_col) == F.col("_first.d"))
                & (F.col("pos") == F.col("_first.p"))
            )
        )
        .select(
            id_col,
            F.col("pos").cast("bigint").alias("s"),
            (F.col("pos") + k).cast("bigint").alias("e"),
        )
    )
    per_doc = (
        _merge_intervals(marked, id_col)
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            ).alias("sp")
        )
    )
    toks = batch_df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda t: t != "",
        ).alias("_t"),
    )
    kept = F.expr(
        "CASE WHEN sp IS NULL THEN _t ELSE "
        "filter(_t, (x, i) -> NOT exists(sp, q -> i >= q.s AND i < q.e)) END"
    )
    return toks.join(per_doc, id_col, "left").select(
        id_col,
        F.array_join(kept, " ").alias(text_col),
        F.size("_t").cast("bigint").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
    )


def span_dedup_stream_sink(
    docs,
    gram_registry,
    out_dir: str,
    checkpoint_dir: str,
    *,
    k: int = DEFAULT_SPAN_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: str = "hash",
):
    """foreachBatch sink: excise each micro-batch against the durable
    gram ledger, write the rewritten docs to ``batch=<id>``, then
    INSERT the batch's not-yet-seen grams as (gram, first_batch).

    ``gram_registry`` must be ``make_registry(spark, path, ["gram"],
    backend="log")`` — it grows without bound with first-seen grams,
    so the log backend's O(batch) appends are the scale-safe choice.
    ``fingerprint`` matches the batch operator's modes: ``"hash"``
    (default — 8-byte xxhash64 ledger keys; an xxhash64 collision
    between distinct k-grams would excise non-duplicate text) or
    ``"text"`` (collision-free, string-keyed ledger — bigger state,
    exact). ``(k, fingerprint)`` persist in a ``_params`` sidecar on
    first start and are validated on restart
    (``streaming/params_guard.py``) — a ledger's gram rows are only
    meaningful under the k-gram length and fingerprint mode that wrote
    them. Returns the configured ``DataStreamWriter`` — caller picks
    the trigger and calls ``.start()``."""

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        ledger = gram_registry.read()
        excised = excise_batch_against_ledger(
            batch_df,
            ledger,
            batch_id,
            k=k,
            id_col=id_col,
            text_col=text_col,
            fingerprint=fingerprint,
        )
        emit(excised)
        new_grams = (
            kgram_positions(
                batch_df, k=k, id_col=id_col, text_col=text_col,
                fingerprint=fingerprint,
            )
            .select("gram")
            .distinct()
            .withColumn("first_batch", F.lit(int(batch_id)).cast("long"))
        )
        if ledger is not None:
            # insert-only: a gram keeps the batch that INTRODUCED it, so
            # a replayed batch sees its own grams as not-strictly-earlier
            new_grams = new_grams.join(ledger.select("gram"), "gram", "left_anti")
        gram_registry.upsert(new_grams)

    return batch_sink(
        docs, "span_dedup_stream_sink", out_dir, checkpoint_dir, step,
        registry=gram_registry, params={"k": k, "fingerprint": fingerprint},
    )
