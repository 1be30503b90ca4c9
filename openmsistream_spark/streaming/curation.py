"""Streaming corpus curation — the batch curation layer's streaming twin.

The batch operators (llm/dedup.py, llm/textstats.py) run the standard
pretraining pass over a landed corpus; a live ingest stream needs the
same pass applied continuously with exactly-once output:

  - exact dedup across micro-batches (stateful:
    ``llm.dedup.streaming_exact_dedup`` — 16-byte content-hash keys,
    watermark-bounded state when an event-time column exists);
  - quality filtering (Gopher/C4-style rules — pure column expressions,
    stateless);
  - PII redaction (regexp chain — stateless);
  - idempotent sink: ``foreachBatch`` writing each micro-batch to its
    own ``batch=<id>`` partition with overwrite, so a replay after
    restart rewrites the identical partition instead of duplicating
    rows (the same recipe as the disk reconstruction sink's
    exactly-once contract, streaming/sinks.py).

The reference's whole identity is streaming-with-state (its consumer
reconstructs files continuously, data_file_stream_processor.py:104-256);
this module applies that shape to corpus curation, which the reference
has no analog for.

Scale notes: dedup state is bounded (hash keys only + watermark
eviction); quality/redaction are whole-stage-codegen projections; the
sink writes partition-parallel parquet. No collects, no windows over
unbounded keys.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from ..llm.dedup import (
    dedup_clusters,
    incremental_minhash_dedup,
    minhash_lsh_dedup,
    streaming_exact_dedup,
)
from ..llm.textstats import pii_redact, quality_filter
from .batch_sink import batch_sink


def curate_document_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    event_time_col: str | None = None,
    dedup_delay: str = "10 minutes",
    quality_thresholds: dict[str, Any] | None = None,
) -> DataFrame:
    """The curation transform chain on a (streaming) document frame:
    cross-batch exact dedup → quality keep/drop → PII redaction.

    Returns a streaming DataFrame of the documents that survive
    curation: (id, [event_time], content_hash, n_tokens, per-rule
    verdicts, n_email/n_phone/n_ipv4, redacted). The raw text column is
    replaced by its redacted form — downstream consumers never see
    unredacted text.

    Pass ``event_time_col`` on unbounded streams so dedup state is
    watermark-evicted after ``dedup_delay`` (without it,
    ``dropDuplicates`` state grows forever — acceptable only for
    bounded backfills)."""
    deduped = streaming_exact_dedup(
        docs,
        id_col=id_col,
        text_col=text_col,
        event_time_col=event_time_col,
        delay=dedup_delay,
    )
    passthrough = [text_col, "content_hash"]
    if event_time_col is not None:
        passthrough.append(event_time_col)
    kept = quality_filter(
        deduped,
        id_col=id_col,
        text_col=text_col,
        passthrough_cols=passthrough,
        **(quality_thresholds or {}),
    ).filter("keep")
    return pii_redact(kept, text_col=text_col).drop(text_col, "keep")


def curation_sink(
    curated: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    neardup_registry=None,
    neardup_text_col: str = "redacted",
    neardup_conf: dict[str, Any] | None = None,
    collapse_batch_neardups: bool = False,
    metrics_registry=None,
) -> DataStreamWriter:
    """Exactly-once parquet sink for a curated stream: each micro-batch
    lands in ``{out_dir}/batch=<batch_id>`` with overwrite semantics.

    Batch ids are stable across restarts from the same checkpoint, so a
    replayed micro-batch overwrites its own partition with identical
    content instead of appending duplicates — idempotence without a
    commit log. Read the result with
    ``spark.read.parquet(out_dir)`` (partition discovery surfaces
    ``batch`` as a column; drop it for the pure corpus).

    ``neardup_registry`` (a ``make_registry(spark, path, ["band",
    "band_sig", "doc_id"], backend="log")`` instance — it grows
    without bound with admitted docs, so the log backend's O(batch)
    appends are the scale-safe choice) turns on cross-batch NEAR-dup
    removal on top of the chain's exact dedup: every micro-batch is run
    through ``incremental_minhash_dedup`` against the durable LSH ledger
    before writing, so a lightly-edited copy of anything ANY earlier
    batch admitted — including batches before a restart — is dropped.
    The ledger is keyed by the micro-batch id (``run_id=batch-<id>``),
    which preserves the exactly-once contract: a replayed batch
    re-derives the identical admitted set from the ledger (committed
    state, not checkpoint-local) and overwrites its own partition with
    the same rows. This mirrors the reference's restart discipline,
    where the registry — not the consumer — owns progress truth
    (data_file_stream_processor.py:85-95). A ledger lost after batch 0
    (its ``_params`` sidecar, written by ``incremental_minhash_dedup``,
    survives) is refused rather than re-admitting against partitions
    already written. Near-dups WITHIN one
    micro-batch are both new to the ledger, so by default both are
    admitted (the window is seconds wide); set
    ``collapse_batch_neardups=True`` to run the batch-level
    ``minhash_lsh_dedup`` + ``dedup_clusters`` pass first, keeping one
    representative (min id) per within-batch cluster before the ledger
    check. The collapse is md5-deterministic, so a replayed batch
    collapses identically and the exactly-once contract holds.
    ``neardup_conf`` passes through tuning kwargs (``n``,
    ``num_hashes``, ``rows_per_band``, ``threshold``,
    ``max_shingle_df``); ``neardup_text_col`` defaults to the redacted
    text because ``curate_document_stream`` never lets unredacted text
    past the transform chain.

    ``metrics_registry`` (``make_registry(spark, path, ["batch"])``)
    records one row per micro-batch — (batch, n_curated, n_admitted) —
    the queryable-table form of the reference's heartbeat counters
    (K7, utilities/heartbeat_producibles.py): how much each trigger
    admitted vs what survived upstream curation. Keyed by batch id, so a replayed batch
    upserts its own row (no double counting). Costs two count jobs per
    trigger — leave it off for latency-critical streams.

    Returns the configured ``DataStreamWriter`` — caller picks the
    trigger and calls ``.start()``."""

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        out = batch_df
        if neardup_registry is not None:
            conf = dict(neardup_conf or {})
            if collapse_batch_neardups:
                lsh_kwargs = {
                    k: conf[k]
                    for k in ("n", "num_hashes", "rows_per_band",
                              "threshold", "max_shingle_df")
                    if k in conf
                }
                pairs = minhash_lsh_dedup(
                    out, text_col=neardup_text_col, **lsh_kwargs
                ).cache()
                try:
                    # common case: a micro-batch carries no within-batch
                    # near-dups — skip the CC loop's jobs entirely
                    if not pairs.isEmpty():
                        reps = dedup_clusters(
                            out.select("doc_id"), pairs
                        ).filter("is_representative")
                        out = out.join(
                            reps.select("doc_id"), "doc_id", "left_semi"
                        )
                finally:
                    # safe here: dedup_clusters materialized its labels
                    # (checkpointed), so nothing downstream re-reads pairs
                    pairs.unpersist()
            out = incremental_minhash_dedup(
                out,
                neardup_registry,
                text_col=neardup_text_col,
                run_id=f"batch-{batch_id}",
                **conf,
            )
        path = emit(out)
        if metrics_registry is not None:
            spark = batch_df.sparkSession
            # count the landed partition (cheap scan of what was just
            # written) rather than re-executing the dedup plan
            n_admitted = spark.read.parquet(path).count()
            metrics_registry.upsert(
                spark.createDataFrame(
                    [(int(batch_id), batch_df.count(), n_admitted)],
                    "batch long, n_curated long, n_admitted long",
                )
            )

    return batch_sink(
        curated, "curation_sink", out_dir, checkpoint_dir, step,
        registry=neardup_registry,
    )
