"""Streaming raw-crawl front half — the continuous twin of
``llm/extract.py`` (same batch-operator + streaming-twin pattern as
every curation family here; see streaming/quality.py, whose shape this
mirrors).

The whole front half is STATELESS: HTML main-content extraction,
unicode normalization, and the C4 line rules are per-row functions with
no corpus statistics, so a micro-batch needs no ledger, no watermark,
and no cross-batch state — exactly-once comes from the standard
idempotent recipe (each micro-batch overwrites its own ``batch=<id>``
partition; a replayed batch rewrites identical bytes). That makes this
the cheapest streaming stage in the pipeline: everything before the
sink write is whole-stage codegen except the one Arrow NFC stage.

Downstream of this sink the existing STATEFUL twins pick up: bloom
novelty (streaming/bloom.py), span dedup (streaming/spandedup.py),
DSIR/quality scoring (streaming/dsir.py, streaming/quality.py) — the
full published crawl recipe as a chain of streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..llm.extract import (
    c4_line_filter,
    extract_main_content,
    normalize_text,
)
from .batch_sink import batch_sink


def crawl_front_transform(
    df: DataFrame,
    *,
    html_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_text_len: int | None = None,
    apply_line_rules: bool = True,
) -> DataFrame:
    """The front half as one batch transform: (1) if ``html_col`` is
    given, extract main content from it into ``text_col``; (2)
    normalize — mojibake repair, control strip, NFC; whitespace is NOT
    collapsed here because the C4 rules are line-structured and a
    collapse would fuse every line; (3) optionally apply the C4 line
    rules. Returns (id, text, n_lines, n_kept), or (id, text) when
    line rules are off. Shared verbatim by the streaming sink below —
    the stream==batch equivalence is by construction."""
    if html_col is not None:
        kwargs = {}
        if min_text_len is not None:
            kwargs["min_text_len"] = min_text_len
        df = extract_main_content(df, html_col, out_col=text_col, **kwargs)
    df = normalize_text(df, text_col, out_col=text_col, collapse_ws=False)
    if apply_line_rules:
        df = c4_line_filter(df, text_col, out_col=text_col)
        return df.select(id_col, text_col, "n_lines", "n_kept")
    return df.select(id_col, text_col)


def crawl_front_sink(
    pages,
    out_dir: str,
    checkpoint_dir: str,
    *,
    html_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_text_len: int | None = None,
    apply_line_rules: bool = True,
):
    """foreachBatch sink running ``crawl_front_transform`` over each
    micro-batch and writing the result to ``batch=<id>``.

    Returns the configured ``DataStreamWriter`` — caller picks the
    trigger and calls ``.start()``."""

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        out = crawl_front_transform(
            batch_df,
            html_col=html_col,
            text_col=text_col,
            id_col=id_col,
            min_text_len=min_text_len,
            apply_line_rules=apply_line_rules,
        )
        emit(out)

    return batch_sink(pages, "crawl_front_sink", out_dir, checkpoint_dir, step)
