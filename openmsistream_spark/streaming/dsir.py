"""Streaming DSIR selection — the importance-resampling layer's
streaming twin (llm/dsir.py), completing the pattern every curation
family in this repo follows (exact/MinHash/SimHash/embedding/span dedup,
quality curation, anomaly detection, text indexing: batch operator +
continuous twin).

DSIR separates into a TRAIN step and a SCORE step, and only the score
step belongs on the stream: the ratio table is frozen once from a raw
sample + target seed (``llm.dsir.unigram_ratio_table``), then every
micro-batch is scored against it with one broadcast join + one
combinable aggregate (``score_with_table``) — stateless per batch, so
exactly-once needs no ledger: the sink writes each micro-batch to its
own ``batch=<id>`` partition with overwrite (the repo's standard
idempotent recipe), and a replayed batch rewrites the identical
partition.

Scale notes: the ratio table is vocab-sized (broadcast); per-batch work
is the batch's own tokenize + aggregate. Re-freezing the table as the
raw distribution drifts is a batch-side decision — swap the table
between restarts; within a run it stays constant, which is what makes
replays byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm.dsir import score_with_table, table_feature_config
from .batch_sink import batch_sink


def dsir_select_stream_sink(
    docs,
    ratio_table: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch sink: score each micro-batch against the frozen
    ratio table, keep documents with score >= ``threshold``, write
    (id, text, n_tokens, score) to ``batch=<id>``.

    Returns the configured ``DataStreamWriter`` — caller picks the
    trigger and calls ``.start()``."""
    # the frozen feature config is read ONCE, here, not per micro-batch:
    # reading it is a driver action against the table's plan, and a
    # caller who ignored the freeze/materialize contract would otherwise
    # re-execute the full table build every batch (round-8 advisory)
    cfg = table_feature_config(ratio_table)

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        scored = score_with_table(
            batch_df, ratio_table, id_col=id_col, text_col=text_col, config=cfg
        )
        admitted = (
            batch_df.select(id_col, text_col)
            .join(scored.filter(F.col("score") >= threshold), id_col)
            .select(id_col, text_col, "n_tokens", "score")
        )
        emit(admitted)

    return batch_sink(docs, "dsir_select_stream_sink", out_dir, checkpoint_dir, step)
