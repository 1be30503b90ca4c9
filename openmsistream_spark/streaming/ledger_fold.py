"""Shared fold-forward compaction for per-(key..., batch) counter
ledgers: collapse every delta row with ``batch <= upto_batch`` into one
row per key (tagged ``batch = upto_batch``), preserving every
``batch < B`` prefix sum for B > upto_batch.

One implementation serves the quota sink (``n_admitted``), the census
sink (``n_docs``) and the anomaly sink's moment ledger (``n``, ``s1``,
``s2``).

Run it only for batches the stream has COMMITTED past (at most
``newest - 1``): a checkpoint restart replays only the in-flight
batch, so the folded prefix is never re-read at a finer grain.

Concurrency contract: whole-table ``replace`` — MUST be serialized
with the stream's upserts (run inside the sink's own foreachBatch via
``compact_every``, or only while the query is stopped).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import functions as F


def fold_count_ledger(registry, upto_batch: int, sum_cols: Sequence[str]) -> None:
    """Fold ``sum_cols`` deltas with ``batch <= upto_batch`` to one row
    per key. ``batch`` and each sum are cast back to their ledger type
    (a decimal sum widens its precision), so the fold keeps the ledger
    schema. Key columns are everything except ``batch`` and
    ``sum_cols``."""
    ledger = registry.read()
    if ledger is None:
        return
    types = dict(ledger.dtypes)
    key_cols = [c for c in ledger.columns if c != "batch" and c not in sum_cols]
    folded = (
        ledger.filter(F.col("batch") <= upto_batch)
        .groupBy(*key_cols)
        .agg(
            F.lit(int(upto_batch)).cast(types["batch"]).alias("batch"),
            *[F.sum(c).cast(types[c]).alias(c) for c in sum_cols],
        )
    )
    kept = ledger.filter(F.col("batch") > upto_batch)
    cols = [*key_cols, "batch", *sum_cols]
    registry.replace(kept.select(*cols).unionByName(folded.select(*cols)))
