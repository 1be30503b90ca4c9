"""Streaming model-based quality filtering — the trained-classifier
layer's continuous twin (llm/quality.py), same pattern as every
curation family here (batch operator + streaming twin; see
streaming/dsir.py, whose shape this mirrors exactly).

The classifier separates into TRAIN and SCORE, and only score belongs
on the stream: weights are fit once from a labeled sample
(``llm.quality.train_quality_classifier``, or the exact
``count_difference_weights`` anchor), frozen/materialized, then every
micro-batch is scored with one vocab-sized broadcast join + one
combinable aggregate (``score_with_weights``) — stateless per batch, so
exactly-once needs no ledger: each micro-batch writes its own
``batch=<id>`` partition with overwrite (the repo's standard idempotent
recipe) and a replayed batch rewrites the identical partition.

Re-fitting as the corpus drifts is a batch-side decision — swap the
weight table between restarts; within a run it stays constant, which is
what makes replays byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.dsir import table_feature_config
from ..llm.quality import score_with_weights
from .batch_sink import batch_sink


def quality_filter_stream_sink(
    docs,
    weights: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch sink: score each micro-batch against the frozen
    weight table, keep documents with margin >= ``threshold`` (0 = the
    decision boundary), write (id, text, n_tokens, score) to
    ``batch=<id>``.

    Returns the configured ``DataStreamWriter`` — caller picks the
    trigger and calls ``.start()``."""
    # feature config read ONCE at sink construction, never per batch —
    # the same hoist as the DSIR sink (a driver action per batch against
    # an unmaterialized weight plan would re-run the fit every batch)
    cfg = table_feature_config(weights)

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        scored = score_with_weights(
            batch_df, weights, id_col=id_col, text_col=text_col, config=cfg
        )
        admitted = (
            batch_df.select(id_col, text_col)
            .join(scored.filter(F.col("score") >= threshold), id_col)
            .select(id_col, text_col, "n_tokens", "score")
        )
        emit(admitted)

    return batch_sink(docs, "quality_filter_stream_sink", out_dir, checkpoint_dir, step)
