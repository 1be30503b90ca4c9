"""A1-A3 — batch file assembly: chunks → files, with dedup, generation
policy, completion detection and hash verification.

Reference semantics being re-expressed (not ported):
  - dedup by write offset within one file generation
    (download_data_file.py:98-107)
  - generation policy: when two generations of a file are in flight,
    adopt the one with strictly more chunks, or equal chunks and
    strictly newer mtime (download_data_file.py:160-272)
  - completion when distinct offsets == n_total_chunks; then verify
    sha512(assembled bytes) == file_hash (download_data_file.py:124-156)

Spark-first shape: groupBy(file key) with map-side partial aggregation;
the byte concatenation uses sort_array(collect_list(struct)) so chunk
arrival order never matters. The streaming twin lives in
``streaming/assembly.py`` and shares these semantics.

Scale note: collect_list holds one file's chunks in one aggregation
buffer — correct sizing is "a file fits in an executor", the same
constraint the reference's in-memory mode has (data_file_stream_handler
mode="memory"). For larger-than-memory files use the streaming path with
disk spill, mirroring the reference's mode="disk".
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.hashes import sha512_digest
from ..schemas import (
    CODE_CORRUPTION,
    CODE_HASH_MISMATCH,
    CODE_IN_PROGRESS,
    CODE_SUCCESSFULLY_RECONSTRUCTED,
)

FILE_KEY = ["rel_path"]


@pandas_udf(T.BinaryType())
def _join_byte_parts_dedup(parts: pd.Series) -> pd.Series:
    """Linear-time flatten over sorted (offset o, generation hash h,
    data d) structs, skipping duplicate (o, h) deliveries in-stream — the
    F4 offset-dedup fused into the concat so assembly needs no separate
    dropDuplicates shuffle. Payloads at the same (generation, offset) are
    identical by construction (chunk_hash re-verified upstream). The
    declarative alternative — F.aggregate over concat — re-copies the
    accumulated prefix per element: ~n²/2 byte copies for an n-chunk
    file (the reference instead writes offset-addressed,
    download_data_file.py:355-372). Arrow-batched; null in
    (incomplete/corrupt file) → null out."""

    def one(ps):
        if ps is None:
            return None
        out = []
        prev = None
        for p in ps:
            k = (p["o"], bytes(p["h"]) if p["h"] is not None else None)
            if k == prev:
                continue  # duplicate delivery of the same chunk
            prev = k
            out.append(bytes(p["d"]))
        return b"".join(out)

    return parts.map(one)


def dedup_chunks(chunks: DataFrame, key: list[str] | None = None) -> DataFrame:
    """F4 — drop chunks whose write offset was already recorded for this
    file generation. Deterministic: exact-duplicate rows collapse via
    distinct on (key, generation, offset) keeping the first payload —
    payloads at the same (generation, offset) are identical by
    construction (chunk_hash is re-verified upstream)."""
    key = key or FILE_KEY
    return chunks.dropDuplicates([*key, "file_hash", "chunk_offset_write"])


def pick_latest_generation(
    chunks: DataFrame, key: list[str] | None = None, strategy: str = "join"
) -> DataFrame:
    """A2 — keep only the winning generation per file.

    Ordering: greater n_total_chunks wins; ties broken by newer
    file_mtime; final tiebreak on file_hash for determinism.

    ``strategy="join"``: argmax via max(struct(...)) — a map-side-
    combinable aggregation plus a broadcastable semi join back. Scans the
    input TWICE; right when the upstream is a cheap columnar scan.

    ``strategy="window"``: max(gen) over a partition window + filter —
    ONE pass over the input. Right when the upstream is expensive to
    recompute (Python serde UDFs, decode stages): a self-join would
    re-execute the whole uncached subtree per branch.
    """
    key = key or FILE_KEY
    gen = F.struct(
        F.col("n_total_chunks"),
        F.coalesce(F.col("file_mtime"), F.lit(0.0)).alias("file_mtime"),
        F.sha2(F.col("file_hash"), 256).alias("gen_tiebreak"),
    )
    if strategy == "window":
        from pyspark.sql import Window

        w = Window.partitionBy(*key)
        # a generation's identity is (n_total_chunks, hash) — mtime only
        # orders generations, so match on the identity fields, not the
        # full struct: rows of the winning generation that carry an older
        # mtime must survive (keeps this path identical to "join")
        return (
            chunks.withColumn("_gen", gen)
            .withColumn("_win", F.max("_gen").over(w))
            .filter(
                (F.col("_gen.n_total_chunks") == F.col("_win.n_total_chunks"))
                & (F.col("_gen.gen_tiebreak") == F.col("_win.gen_tiebreak"))
            )
            .drop("_gen", "_win")
        )
    winners = (
        chunks.groupBy(*key)
        .agg(F.max(gen).alias("_win"))
        .select(
            *key,
            F.col("_win.n_total_chunks").alias("n_total_chunks"),
            F.col("_win.gen_tiebreak").alias("_gen_tiebreak"),
        )
    )
    tagged = chunks.withColumn("_gen_tiebreak", F.sha2(F.col("file_hash"), 256))
    return (
        tagged.join(
            F.broadcast(winners),
            on=[*key, "n_total_chunks", "_gen_tiebreak"],
            how="left_semi",
        )
    )


def assemble_files(
    chunks: DataFrame,
    key: list[str] | None = None,
    apply_generation_policy: bool = True,
    generation_strategy: str = "join",
) -> DataFrame:
    """A1+A3 — reassemble files from chunk rows.

    Returns one row per file: key columns, n_total_chunks,
    n_chunks_received, file_bytes (null unless complete), status code in
    {IN_PROGRESS, SUCCESSFULLY_RECONSTRUCTED, HASH_MISMATCH, CORRUPTION}.

    Corruption — the reference raises when one file_hash appears with
    two different n_total_chunks (download_data_file.py:160-272); here
    those files get status CORRUPTION and null bytes.

    ``generation_strategy`` picks how the per-file metadata (corrupt
    flag + winning generation) is computed:
      - "join" (default): a metadata-only map-side-combinable aggregate
        over pruned columns plus a broadcast join back — payload bytes
        shuffle exactly ONCE (the assembly groupBy). Right when the
        chunk source is a cheap columnar rescan.
      - "window": windows over the file key — one pass, reusing the
        assembly exchange. Right when the upstream is expensive to
        re-execute (Python serde / decode stages).
    Duplicate deliveries collapse inside the assembly aggregate itself
    (distinct (generation, offset) count + in-stream skip during byte
    concat) — no separate dropDuplicates shuffle.
    """
    key = key or FILE_KEY
    gen = F.struct(
        F.col("n_total_chunks"),
        F.coalesce(F.col("file_mtime"), F.lit(0.0)).alias("file_mtime"),
        F.sha2(F.col("file_hash"), 256).alias("gen_tiebreak"),
    )

    df = chunks
    if generation_strategy == "window":
        # one-pass path for UDF-expensive upstreams: corrupt flag + winning
        # generation from windows over the key — reuses the exchange the
        # assembly groupBy needs, never re-executes the chunk source
        from pyspark.sql import Window

        w = Window.partitionBy(*key)
        df = df.withColumn(
            "_corrupt",
            # corrupt ⇔ more distinct (hash, count) pairs than distinct hashes
            F.size(F.collect_set(F.struct("file_hash", "n_total_chunks")).over(w))
            > F.size(F.collect_set("file_hash").over(w)),
        )
        if apply_generation_policy:
            # match on generation identity (n, hash) only — mtime orders
            # generations but must not drop same-generation rows whose
            # chunks arrived with older mtimes (parity with "join")
            df = (
                df.withColumn("_gen", gen)
                .withColumn("_win", F.max("_gen").over(w))
                .filter(
                    (F.col("_gen.n_total_chunks") == F.col("_win.n_total_chunks"))
                    & (F.col("_gen.gen_tiebreak") == F.col("_win.gen_tiebreak"))
                )
                .drop("_gen", "_win")
            )
    else:
        # two-scan path for cheap columnar sources: ONE map-side-combinable
        # metadata aggregate (pruned columns only — payload bytes never
        # enter this branch) computes the corrupt flag AND the winning
        # generation, joined back on the file key; the payload then
        # shuffles exactly once, in the assembly groupBy below
        meta = chunks.groupBy(*key).agg(
            F.max(gen).alias("_win"),
            (
                F.size(F.collect_set(F.struct("file_hash", "n_total_chunks")))
                > F.size(F.collect_set("file_hash"))
            ).alias("_corrupt"),
        )
        sel = meta.select(
            *key,
            "_corrupt",
            F.col("_win.n_total_chunks").alias("_win_n"),
            F.col("_win.gen_tiebreak").alias("_win_tb"),
        )
        df = chunks.join(F.broadcast(sel), key, "inner")
        if apply_generation_policy:
            df = df.filter(
                (F.col("n_total_chunks") == F.col("_win_n"))
                & (F.sha2(F.col("file_hash"), 256) == F.col("_win_tb"))
            )
        df = df.drop("_win_n", "_win_tb")

    return (
        df.groupBy(*key)
        .agg(
            F.first("_corrupt").alias("_corrupt"),  # constant per group
            # deterministic generation pick: after the generation policy a
            # group holds one (hash, count) pair, but with the policy off —
            # or for CORRUPTION groups with mixed pairs — first() would be
            # run-dependent; max over the struct gives a stable answer
            F.max(F.struct("n_total_chunks", "file_hash")).alias("_top"),
            F.max("file_mtime").alias("file_mtime"),
            # distinct (generation, offset) — duplicate deliveries (F4)
            # collapse here, in the same aggregate, instead of paying a
            # separate dropDuplicates shuffle keyed differently
            F.size(
                F.collect_set(F.struct("file_hash", "chunk_offset_write"))
            )
            .cast("long")
            .alias("n_chunks_received"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("chunk_offset_write").alias("o"),
                        F.col("file_hash").alias("h"),
                        F.col("data").alias("d"),
                    )
                )
            ).alias("_parts"),
        )
        .select(
            *key,
            "_corrupt",
            F.col("_top.n_total_chunks").alias("n_total_chunks"),
            F.col("_top.file_hash").alias("file_hash"),
            "file_mtime",
            "n_chunks_received",
            "_parts",
        )
        .withColumn(
            "file_bytes",
            # the when() gates the UDF's INPUT, so incomplete/corrupt
            # files never ship their chunk bytes through Arrow
            _join_byte_parts_dedup(
                F.when(
                    (F.col("n_chunks_received") == F.col("n_total_chunks"))
                    & ~F.col("_corrupt"),
                    F.col("_parts"),
                )
            ),
        )
        .withColumn(
            "status",
            F.when(F.col("_corrupt"), F.lit(CODE_CORRUPTION))
            .when(
                F.col("n_chunks_received") < F.col("n_total_chunks"),
                F.lit(CODE_IN_PROGRESS),
            )
            .when(
                sha512_digest(F.col("file_bytes")) == F.col("file_hash"),
                F.lit(CODE_SUCCESSFULLY_RECONSTRUCTED),
            )
            .otherwise(F.lit(CODE_HASH_MISMATCH)),
        )
        .drop("_parts", "_corrupt")
    )
