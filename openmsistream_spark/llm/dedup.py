"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
  - exact dedup is a hash-groupBy (map-side combinable, one shuffle);
  - near-dup never does all-pairs: MinHash banding buckets candidates
    first, so the pairwise verify join touches only colliding docs;
  - every hash is derived from md5 so the identical value is computable
    in any engine (portable to the DuckDB oracle — engine-native
    ``hash()`` functions differ and would not validate).

Content-addressed dedup generalizes the reference's chunk-offset dedup
and generation policy (reference: download_data_file.py:98-107,160-272):
same idea — identity by content hash — lifted from file chunks to
documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterutil import truncate_plan

HEX = "0123456789abcdef"


def _normalized(text_col: str = "text") -> F.Column:
    return F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: one representative (min id) per
    distinct normalized text, plus the duplicate count."""
    return (
        docs.withColumn("content_hash", F.md5(_normalized(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count("*").alias("n_duplicates"),
        )
    )


def streaming_exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    event_time_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Exact dedup on a STREAM: emit each distinct normalized text once
    (first arrival wins), keyed by content hash so state holds 16-byte
    keys, never document text.

    With ``event_time_col`` the dedup state is watermark-bounded
    (``dropDuplicatesWithinWatermark``): duplicates arriving within
    ``delay`` of the first copy are dropped and state older than the
    watermark is evicted — the right shape for an unbounded ingest
    stream, where unbounded dedup state is the classic slow leak.
    Without it, ``dropDuplicates`` keeps state forever (only for
    bounded backfills). Generalizes the reference's chunk-level
    at-least-once dedup (F4, download_data_file.py:98-107) to corpus
    ingest.
    """
    hashed = docs.withColumn("content_hash", F.md5(_normalized(text_col)))
    if event_time_col is not None:
        return hashed.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    return hashed.dropDuplicates(["content_hash"])


def incremental_exact_dedup(
    docs: DataFrame,
    registry,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_id: str | None = None,
) -> DataFrame:
    """Cross-run exact dedup against a durable content-hash ledger — the
    batch loop of continuous corpus building: each ingest run keeps only
    documents whose normalized content has never been seen by ANY prior
    run, then records the new hashes.

    ``registry`` is a ``make_registry(...)`` instance keyed on
    ``content_hash`` (operators/registry.py — parquet atomic-rename or
    log-structured backend). The ledger holds 32-hex hashes + the
    canonical id + the admitting ``run_id``, never text: at 100 TB of
    corpus the ledger is ~60 bytes/doc. The batch-vs-ledger check is an
    anti-join on the hash (the ledger side is a hash-keyed table scan —
    the log backend's O(batch) appends keep writes incremental);
    within-batch duplicates collapse to min id first, so exactly one row
    per new hash lands in the ledger.

    Recovery story: the ledger upsert is the ONLY materialization — the
    returned frame's plan reads the (already-committed) post-upsert
    ledger plus ``docs``, so an executor loss at any point simply
    recomputes from durable storage; there is no driver-/executor-pinned
    intermediate (an earlier design used ``localCheckpoint``, whose
    blocks die with their executor). If the driver dies mid-upsert the
    registry's atomic swap leaves the old OR new table, never a partial
    one, and re-running the batch converges either way.

    ``run_id`` tags this run's ledger rows. Re-running with the SAME
    ``run_id`` (e.g. a streaming micro-batch id after a restart) returns
    the identical admitted set instead of an empty one — exactly-once
    replay. With the default (a fresh uuid per call) a replayed batch
    admits nothing, the conservative batch semantics.

    Returns the surviving rows of ``docs`` (one per never-seen hash)
    with ``content_hash`` added. Generalizes the reference's
    registry-driven rerun filter F5 (stream_handler_registries.py:84-97)
    from file keys to content identity.
    """
    import uuid

    run_id = run_id if run_id is not None else uuid.uuid4().hex
    hashed = docs.withColumn("content_hash", F.md5(_normalized(text_col)))
    new = hashed
    seen = registry.read()
    if seen is not None:
        new = new.join(seen.select("content_hash"), "content_hash", "left_anti")
    # within-batch collapse: smallest id per hash is canonical
    w_first = new.groupBy("content_hash").agg(F.min(id_col).alias("canonical_id"))
    registry.upsert(
        w_first.select(
            "content_hash", "canonical_id", F.lit(run_id).alias("run_id")
        )
    )
    # re-derive the admitted rows FROM the committed ledger (durable) —
    # the one place this run's admissions are recorded
    mine = (
        registry.read()
        .filter(F.col("run_id") == run_id)
        .select("content_hash", F.col("canonical_id").alias(id_col))
    )
    return hashed.join(mine, ["content_hash", id_col])


def _tokens(text_col: str = "text") -> F.Column:
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def word_shingles(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document → (id, shingle) rows.

    ``hashed`` replaces each shingle with the first 16 hex chars of its
    md5 BEFORE the distinct, so the dedup shuffle and every downstream
    shingle join move 16-byte keys instead of full n-gram text (an
    8-gram easily runs 50+ bytes) — the join/count semantics are
    preserved for any equality-based consumer (contamination scans,
    candidate joins; not for readers of the shingle text itself).
    Portable: md5 is identical in DuckDB, so oracles mirror it exactly.
    """
    parts = ", ".join(f"element_at(_toks, CAST(i+{j} AS INT))" for j in range(n))
    mk = f"concat_ws(' ', {parts})"
    if hashed:
        mk = f"substring(md5({mk}), 1, 16)"
    shingle_arr = F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(sequence(1, size(_toks)-{n - 1}), i -> {mk}) "
        f"ELSE array() END"
    )
    return (
        docs.withColumn("_toks", _tokens(text_col))
        .select(F.col(id_col), F.explode(shingle_arr).alias("shingle"))
        .distinct()
    )


DEFAULT_MAX_SHINGLE_DF = 10_000


def cap_hot_shingles(
    shingles: DataFrame, max_df: int | None = DEFAULT_MAX_SHINGLE_DF
) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    A stop-word shingle shared by k documents generates k² join rows in
    any shared-shingle pair join — at corpus scale one hot key is
    quadratic. The DF count is one map-side-combinable groupBy; the hot
    set is tiny by construction (only shingles above the cap), so the
    exclusion is a broadcast anti-join. ``max_df=None`` disables.
    """
    if not max_df:
        return shingles
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("shingle")
    )
    return shingles.join(F.broadcast(hot), "shingle", "left_anti")


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    persist_shingles: bool = False,
) -> DataFrame:
    """All-pairs n-gram Jaccard over a (id, shingle) table.

    Pairs are generated only through shared shingles (the join key), so
    disjoint documents never meet. EXACT by default: every shingle
    participates. At corpus scale pass ``max_shingle_df`` (e.g.
    ``DEFAULT_MAX_SHINGLE_DF``) to exclude hot shingles from BOTH the
    pair join and the per-doc sizes — a high-DF shingle is a quadratic
    hot key (see ``cap_hot_shingles``) — accepting that the returned
    Jaccard is then computed over the capped shingle sets. For large
    corpora prefer MinHash-LSH below, which keeps the cap on by
    default.

    ``persist_shingles`` — the shingle table feeds three plan branches
    (sizes, both join sides). Off by default: AQE's runtime exchange
    reuse already dedups the identical distinct-shuffle subtrees
    (measured no-win at bench scale). Turn on (MEMORY_AND_DISK) when
    the upstream is expensive to re-execute per branch — a UDF-decoded
    or remote source AQE can't collapse.
    """
    shingles = cap_hot_shingles(shingles, max_shingle_df)
    if persist_shingles:
        from pyspark import StorageLevel

        shingles = shingles.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature rows (id, h, minhash): the h-th hash function is
    md5 seeded by h; the signature element is the minimum over the doc's
    shingles.

    All ``num_hashes`` minima are computed as parallel aggregates in ONE
    map-side-combinable groupBy (no row explosion before the shuffle —
    at 100 TB an 8× pre-shuffle blowup is the difference between one
    pass and eight), then unpivoted with stack()."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{h}|"), F.col("shingle")))).alias(f"_mh{h}")
        for h in range(num_hashes)
    ]
    wide = shingles.groupBy(id_col).agg(*aggs)
    pairs = ", ".join(f"CAST({h} AS INT), _mh{h}" for h in range(num_hashes))
    return wide.selectExpr(
        id_col, f"stack({num_hashes}, {pairs}) AS (h, minhash)"
    )


def minhash_lsh_candidates(
    signatures: DataFrame, rows_per_band: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """LSH banding: group signature rows into bands of ``rows_per_band``
    hashes; docs sharing any (band, band_signature) become candidates.
    The self-join runs on band buckets, never on all pairs."""
    bands = (
        signatures.withColumn("band", (F.col("h") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("h", "minhash"))),
                        lambda s: s.getField("minhash"),
                    ),
                )
            ).alias("band_sig")
        )
    )
    return _band_bucket_pairs(bands, id_col)


def _band_bucket_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """(id, band, band_sig) bucket rows → distinct candidate id pairs."""
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _minhash_band_rows(
    shingles: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, band_sig) band-bucket rows computed in ONE map-side-
    combinable groupBy directly from the shingle table — the fused form
    of ``minhash_signatures`` + the banding half of
    ``minhash_lsh_candidates``. The unpivot (stack to (id, h, minhash))
    followed by a second groupBy(id, band) that the unfused pair
    performs exists only to rebuild per-band hash lists the wide
    aggregate already holds as columns — deriving band_sig from the
    wide row removes the unpivot's per-band collect_list/array_sort
    aggregate pass (guide §1.2 per-task work). The Exchange count is
    UNCHANGED (plans/r16/minhash_lsh_pairs_{before,after}.txt): the old
    regroup already reused the signature aggregate's
    HashPartitioning(doc_id), which satisfies the (doc_id, band)
    clustering — the fusion saves the aggregate pass, not a shuffle.

    band_sig equivalence with the unfused path: there, collect_list of
    (h, minhash) structs is array_sorted (h ascending, h unique within
    a band) and the minhashes concat_ws(",")-joined — exactly the
    in-h-order concat of this band's ``_mh{h}`` columns, so the md5 is
    the same VALUE, not just equality-equivalent. A trailing partial
    band (num_hashes % rows_per_band != 0) keeps the same membership
    as the unfused ``(h / rows_per_band).cast("int")`` rule.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{h}|"), F.col("shingle")))).alias(f"_mh{h}")
        for h in range(num_hashes)
    ]
    wide = shingles.groupBy(id_col).agg(*aggs)
    n_bands = (num_hashes + rows_per_band - 1) // rows_per_band
    band_structs = [
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"_mh{h}")
                        for h in range(
                            b * rows_per_band,
                            min((b + 1) * rows_per_band, num_hashes),
                        )
                    ],
                )
            ).alias("band_sig"),
        )
        for b in range(n_bands)
    ]
    return wide.select(
        id_col, F.explode(F.array(*band_structs)).alias("_bk")
    ).select(id_col, "_bk.band", "_bk.band_sig")


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame, in bytes — read off the
    optimized logical plan's statistics, so it costs no job (for a
    parquet scan it is the summed file size after partition pruning;
    for derived frames, the propagated estimate). An estimate is all
    the auto-restriction crossover below needs: both branches are
    correct, only constant factors differ."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


# corpus-size crossover for restrict_verify="auto": below this the
# candidate semi-join restriction costs more than the corpus-wide verify
# shuffle it avoids (measured +1.4 s at sf0.1 for zero saved work);
# above it the restriction is what keeps the exact-Jaccard verify
# duplicate-set-sized instead of corpus-sized. 1 GiB of (compressed)
# input is deliberately early — the restriction's fixed cost is one
# duplicate-set-sized semi-join, cheap insurance long before 100 TB.
RESTRICT_VERIFY_MIN_BYTES = 1 << 30


def minhash_lsh_dedup(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    persist_shingles: bool = False,
    shingles: DataFrame | None = None,
    restrict_verify: bool | str = "auto",
) -> DataFrame:
    """Near-dup pipeline: shingle → minhash → band → candidate pairs →
    exact Jaccard verify on candidates only.

    Hot shingles are capped once, up front, so signatures, candidates and
    the verify join all see the same capped shingle set (a high-DF
    shingle would otherwise be a quadratic hot key in the verify join).

    ``restrict_verify`` gates the verify stage's input: when on, the
    sizes + exact-Jaccard joins run on the shingles of CANDIDATE docs
    only (a semi-join restriction), so their shuffles are
    duplicate-set-sized even when the corpus is 100 TB — without it the
    exact-Jaccard join shuffles the ENTIRE corpus shingle table on
    (id_b, shingle). The restriction itself costs one candidate-id
    semi-join, which at small corpus sizes exceeds what it saves
    (round-8 measured +1.4 s at sf0.1 for zero saved work) — ``"auto"``
    (the default) turns it on once Catalyst's size estimate for
    ``docs`` crosses ``RESTRICT_VERIFY_MIN_BYTES``; a frame with NO
    usable estimate (RDD-backed / in-memory inputs report
    Long.MaxValue) therefore restricts — the safe default, since the
    unknown input may be huge. Pass True/False to pin either shape. Results are identical either way (the restriction
    is semantics-preserving: verify only ever reads candidate rows).

    The capped shingle set feeds multiple plan branches (signatures,
    sizes, both verify-join sides), and the candidate set feeds two when
    the restriction is on — no checkpoint/persist is forced on either,
    because AQE's runtime exchange reuse collapses the identical
    subtrees (round-9 measured: a non-eager localCheckpoint of the
    candidate set was +0.5 s at sf0.1, a MEMORY_AND_DISK persist +3 s —
    both strictly worse than letting ReusedExchange do it). Turn
    ``persist_shingles`` on when the upstream is expensive to re-execute
    (UDF-decoded or remote sources AQE can't collapse).
    NOTE ``persist_shingles`` has no unpersist hook (the returned plan
    needs the cache when it eventually executes) — for a handle on the
    cache's lifetime, pass ``shingles`` instead: a pre-built
    (id, shingle) table (already capped; the caller owns persist AND
    unpersist, see dedup_keep_canonical_lsh)."""
    if shingles is not None:
        sh = shingles
    else:
        sh = word_shingles(docs, n=n, id_col=id_col, text_col=text_col)
        sh = cap_hot_shingles(sh, max_shingle_df)
    if persist_shingles and shingles is None:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    bands = _minhash_band_rows(
        sh, num_hashes=num_hashes, rows_per_band=rows_per_band, id_col=id_col
    )
    cand = _band_bucket_pairs(bands, id_col)
    if restrict_verify == "auto":
        restrict = _plan_size_bytes(docs) >= RESTRICT_VERIFY_MIN_BYTES
    else:
        restrict = bool(restrict_verify)
    if restrict:
        # verify only ever looks at CANDIDATE docs' shingles: restrict
        # the shingle table once via a semi-join (the candidate id set
        # is duplicate-set-sized, tiny next to the corpus). No broadcast
        # HINT: on a pathologically duplicated corpus the candidate-id
        # set is not small, and a forced broadcast would be a driver-OOM
        # cliff — AQE picks broadcast at runtime when it fits and
        # degrades to a shuffle join when it does not
        ids = (
            cand.select(F.col("id_a").alias(id_col))
            .union(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sh_v = sh.join(ids, id_col, "left_semi")
    else:
        sh_v = sh
    sizes = sh_v.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sa = sh_v.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh_v.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_dedup(
    docs: DataFrame,
    registry,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    run_id: str | None = None,
) -> DataFrame:
    """Cross-run NEAR-dup against a durable LSH ledger — the incremental
    companion of ``incremental_exact_dedup`` for continuous corpus
    building: each ingest run drops documents that are near-duplicates
    of anything ANY prior run admitted, then persists the survivors'
    band buckets.

    Ledger layout (``make_registry`` keyed [band, band_sig, doc_id]):
    one row per (document, band) holding the 16-hex band signature plus
    the document's full minhash signature (comma-joined) and the
    admitting ``run_id`` — ~bands rows x ~200 bytes per admitted doc,
    never text. New-batch bands equi-join the ledger's band buckets
    (16-byte keys) to produce candidates; candidates verify by signature
    agreement, the standard unbiased estimator of Jaccard (agreeing
    minhash fraction), so verification needs no access to prior runs'
    shingles. Within-batch near-dups are NOT collapsed here — run the
    batch-level ``minhash_lsh_dedup`` + ``dedup_clusters`` pass first if
    the batch itself may contain dups.

    Documents that yield NO shingles (shorter than ``n`` tokens, or all
    shingles dropped by the hot-shingle cap) still get a ledger row: a
    synthetic band ``-1`` whose signature is the md5 of the normalized
    text. For those documents near-dup detection degrades to exact
    normalized-text identity (there is nothing to minhash), but they are
    recorded, so a replayed batch re-admits nothing and an identical
    short doc in a later run is dropped.

    Replay-idempotent: a replayed batch's surviving documents collide
    with their own ledger rows (same signature -> agreement 1.0) and
    drop out, so re-ingesting a processed batch admits nothing new.
    Passing the SAME ``run_id`` as the original run instead returns the
    identical admitted set (exactly-once replay for streaming
    micro-batches, mirroring the reference's registry restart contract,
    data_file_stream_processor.py:85-95); the default is a fresh uuid
    per call.

    Recovery story: no executor-pinned state — the returned frame reads
    the committed post-upsert ledger plus ``docs``, so executor loss
    recomputes from durable storage, and a driver crash mid-upsert
    leaves the old or new ledger atomically (re-run converges).

    Ledger rows are only meaningful under the (n, num_hashes,
    rows_per_band) that wrote them — a later run under different
    banding parameters produces band keys that can never collide with
    the ledger's, silently admitting every near-duplicate of prior
    runs. The parameters persist in a ``_params`` sidecar on the first
    run and are validated on every later one
    (``streaming/params_guard.py``; ``threshold`` is deliberately NOT
    pinned — it is a per-run admission policy over the same ledger, not
    part of what a ledger row means).

    Returns the admitted rows of ``docs``.
    """
    import uuid

    from ..streaming.params_guard import ensure_sidecar_params

    ensure_sidecar_params(
        registry,
        {"n": n, "num_hashes": num_hashes, "rows_per_band": rows_per_band},
        "incremental_minhash_dedup",
    )
    sh = word_shingles(docs, n=n, id_col=id_col, text_col=text_col)
    sh = cap_hot_shingles(sh, max_shingle_df)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{h}|"), F.col("shingle")))).alias(f"_mh{h}")
        for h in range(num_hashes)
    ]
    wide = sh.groupBy(id_col).agg(*aggs)
    sig = F.concat_ws(",", *[F.col(f"_mh{h}") for h in range(num_hashes)])
    n_bands = num_hashes // rows_per_band
    band_sig = [
        F.substring(
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"_mh{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
            ),
            1,
            16,
        ).alias(f"_b{b}")
        for b in range(n_bands)
    ]
    banded = wide.select(
        F.col(id_col), sig.alias("sig"), *band_sig
    ).select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.col(f"_b{b}").alias("band_sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_bk"),
    ).select(id_col, "sig", "_bk.band", "_bk.band_sig")

    # fallback row for shingle-less docs (< n tokens, or fully capped):
    # one synthetic band keyed by the normalized-text hash, so every
    # document is ledgered and replay-idempotence holds corpus-wide
    norm_hash = F.md5(_normalized(text_col))
    fallback = (
        docs.join(banded.select(id_col).distinct(), id_col, "left_anti")
        .select(
            F.col(id_col),
            norm_hash.alias("sig"),
            F.lit(-1).cast("int").alias("band"),
            F.substring(norm_hash, 1, 16).alias("band_sig"),
        )
    )
    banded = banded.unionByName(fallback.select(id_col, "sig", "band", "band_sig"))

    run_id = run_id if run_id is not None else uuid.uuid4().hex
    seen = registry.read()
    # no emptiness probe: the band join against an empty ledger is
    # already a no-op, so `seen is not None` is the only gate needed
    if seen is not None:
        cand = (
            banded.select(F.col(id_col), "band", "band_sig", F.col("sig").alias("new_sig"))
            .join(
                seen.select("band", "band_sig", F.col("sig").alias("old_sig")),
                ["band", "band_sig"],
            )
            .select(id_col, "new_sig", "old_sig")
            .distinct()
        )
        # signature agreement >= the Jaccard threshold -> near-dup.
        # Denominator = the longer signature: real sigs have num_hashes
        # positions, fallback sigs one; a real-vs-fallback collision can
        # then agree on at most 1/num_hashes (never a false positive),
        # while fallback-vs-fallback identity scores 1/1 = 1.0.
        agree = F.size(
            F.filter(
                F.zip_with(
                    F.split("new_sig", ","),
                    F.split("old_sig", ","),
                    lambda a, b: a == b,
                ),
                lambda x: x,
            )
        ) / F.greatest(
            F.size(F.split("new_sig", ",")), F.size(F.split("old_sig", ","))
        )
        dups = cand.filter(agree >= threshold).select(id_col).distinct()
        admitted_ids = docs.select(id_col).join(dups, id_col, "left_anti")
    else:
        admitted_ids = docs.select(id_col)

    new_rows = banded.join(admitted_ids, id_col, "left_semi")
    registry.upsert(
        new_rows.select(
            "band", "band_sig", id_col, "sig", F.lit(run_id).alias("run_id")
        )
    )
    # re-derive admissions FROM the committed ledger — durable, and
    # identical on a same-run_id replay (exactly-once restarts)
    mine = (
        registry.read()
        .filter(F.col("run_id") == run_id)
        .select(id_col)
        .distinct()
    )
    return docs.join(mine, id_col, "left_semi")


def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    hops_per_round: int = 2,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → duplicate clusters.

    The step after candidate-pair generation in every large-scale dedup:
    pairs (a~b, b~c) must collapse to one cluster so exactly one
    representative survives. Min-label propagation: every node starts
    labeled with itself; labels flow across edges and each node keeps
    the minimum seen; fixpoint in O(diameter) hops (near-dup clusters
    are shallow — a handful of hops in practice).

    Three scale levers on the classic loop:

    - **multi-hop rounds** (``hops_per_round``): each Spark action
      carries a fixed scheduling cost (~0.5-1 s of driver/stage overhead
      locally, worse on a busy cluster), so the loop chains
      ``hops_per_round`` propagation steps lazily into ONE job before
      each convergence probe — halving (or better) the number of
      driver-synchronized rounds for the same hop count.
    - **frontier pruning**: only nodes whose label changed in the last
      hop push in the next one (a node with an unchanged label already
      pushed that label). The per-hop join shrinks with the frontier,
      which collapses after the first hops — propagation cost tracks
      label churn, not cluster size.
    - **per-round lineage truncation** (``localCheckpoint``): caching
      alone does NOT stop the logical plan doubling every round (each
      hop references the prior labels from several subtrees), and
      Catalyst re-analyzes the full tree per job — on a 10-hop graph the
      driver spends minutes PLANNING while executors idle. Checkpointing
      the round's label frame resets the plan to a leaf, the standard
      idiom for iterative Spark algorithms (GraphFrames' connected
      components checkpoints the same way). By default this is
      iteration-internal state, not cross-run durability: if an executor
      holding checkpoint blocks dies, the job fails and the operator
      simply re-runs — no ledger/registry state depends on it (contrast
      ``incremental_*_dedup``, whose recovery derives from the committed
      registry, never from executor memory). For long runs where a
      restart-from-round-0 is too expensive (100 TB corpora), pass
      ``checkpoint_dir=`` to switch the per-round truncation to a
      RELIABLE checkpoint on fault-tolerant storage — executor loss then
      costs a task retry, not the job.

    Returns (id, cluster, is_representative) for every node.

    Only nodes that appear in a pair participate in propagation: a
    singleton's cluster is itself by definition, so it joins the result
    directly. Near-dup graphs are sparse — at corpus scale this runs
    the iteration over the duplicate set (|V(pairs)|), not the corpus,
    which is the difference between O(rounds x corpus) and
    O(rounds x duplicates) shuffled bytes.
    """
    # pairs feeds the union twice — cache it so an expensive upstream
    # pair generator (LSH verify, cosine join) executes once, not twice,
    # when sym materializes
    pairs = pairs.cache()
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    sym = sym.cache()

    all_nodes = nodes.select(F.col(id_col).alias("id"))
    # the active set IS the pair endpoints (every endpoint is a node by
    # construction) — no corpus-side semi-join needed to find it
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .cache()
    )
    # ONE materialization pins both caches: computing the initial label
    # set scans sym, persisting it en route. Without this, round 0's job
    # would reference sym from two subtrees (labels + the push join) and
    # re-execute the full upstream pair pipeline (for LSH input: the
    # whole shingle->minhash->band->verify chain) once per subtree.
    n_nodes = labels.count()
    to_unpersist: list[DataFrame] = [sym, labels, pairs]
    # Near-dup graphs are duplicate-set-sized, usually tiny next to the
    # corpus; for small graphs each round's wall-time is per-stage
    # scheduling latency, not data. Collapse the cached edge/label
    # partitions (a narrow read of the cache — no shuffle, cache stays
    # valid) so round jobs launch a handful of tasks; ~25% per-round win
    # measured at bench scale. Large graphs keep their parallelism: the
    # coalesce target grows with the node count and caps out at the
    # existing partitioning.
    if n_nodes < 1_000_000:
        k = max(1, min(8, n_nodes // 100_000 + 1))
        sym = sym.coalesce(k)
        labels = labels.coalesce(k)
    # frontier = nodes whose label changed in the previous hop; round 0
    # everyone pushes their own id
    frontier = labels
    converged = False
    for _ in range(max_iterations):
        cur = labels
        stepped = cur
        for _hop in range(hops_per_round):
            pushed = (
                sym.join(
                    frontier.withColumnRenamed("id", "src"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("label").alias("nbr_label"))
            )
            stepped = cur.join(pushed, "id", "left").select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                    "new_label"
                ),
                F.col("label").alias("old_label"),
            )
            frontier = stepped.filter(
                F.col("new_label") != F.col("old_label")
            ).select("id", F.col("new_label").alias("label"))
            cur = stepped.select("id", F.col("new_label").alias("label"))
        # ONE materialization per round (covering hops_per_round hops),
        # which also TRUNCATES the plan — without this the logical tree
        # doubles per round and Catalyst analysis time explodes (see
        # docstring); after it, the frontier probe is a scan of the
        # materialized blocks
        stepped = truncate_plan(stepped, checkpoint_dir)
        frontier = stepped.filter(F.col("new_label") != F.col("old_label")).select(
            "id", F.col("new_label").alias("label")
        )
        labels = stepped.select("id", F.col("new_label").alias("label"))
        if frontier.count() == 0:
            # empty frontier is a fixpoint: propagation only proceeds
            # from changed nodes, and nothing changed in the last hop
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iterations} rounds "
            f"({max_iterations * hops_per_round} hops; a component's diameter "
            "exceeds the bound) — raise max_iterations"
        )

    # fold singletons back with ONE left join: a node without a pair is
    # its own cluster. The label map is duplicate-set-sized (tiny next
    # to the corpus) and cached/materialized, so AQE plans this as a
    # broadcast join — the corpus side never shuffles.
    result = all_nodes.join(labels, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("label", "id").alias("cluster"),
        (F.col("id") == F.coalesce("label", "id")).alias("is_representative"),
    )
    # Every explicit cache can be released: the returned plan reads only
    # the corpus scan and the final checkpointed label frame (a
    # materialized leaf, duplicate-set sized, freed by the context
    # cleaner when the frame is garbage-collected). No extra job is
    # spent materializing the corpus-sized result — the caller's first
    # action consumes the lazy fold-back join directly.
    for df in to_unpersist:
        df.unpersist()
    return result


def _clusters_for_keep(
    docs: DataFrame,
    pairs: DataFrame | None,
    clusters: DataFrame | None,
    id_col: str,
    lsh_kwargs: dict,
) -> DataFrame:
    """Shared front half of the keep_* policies: resolve the cluster
    labels from whatever the caller already paid for. ``clusters=``
    (a ``dedup_clusters`` output) skips everything; ``pairs=`` skips the
    LSH pair pipeline; bare ``docs`` runs ``minhash_lsh_dedup`` with
    ``lsh_kwargs``. The pair pipeline is ~80% of the end-to-end cost, so
    a caller wanting BOTH policies should compute pairs (or clusters)
    once and inject them into each call — paying the pipeline once, not
    per policy."""
    if clusters is not None:
        return clusters
    if pairs is None:
        pairs = minhash_lsh_dedup(docs, id_col=id_col, **lsh_kwargs)
    return dedup_clusters(docs.select(id_col), pairs, id_col=id_col)


def keep_canonical(
    docs: DataFrame,
    *,
    pairs: DataFrame | None = None,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """Canonical dedup: one representative per near-dup cluster — the
    LOWEST id (deterministic, replay-stable). Returns
    (representative_id, n_members); singletons appear with n_members=1,
    so the representative set IS the surviving corpus.

    Injection points (pay the expensive stages once across policies):
    ``clusters=`` takes a precomputed ``dedup_clusters`` output;
    ``pairs=`` takes precomputed near-dup pairs (any generator — banded
    LSH, SimHash, embedding cosine); with neither, runs the full
    ``minhash_lsh_dedup`` pipeline (``lsh_kwargs`` pass through). The
    final aggregate is one map-side-combinable count over the cluster
    id — corpus-sized input, cluster-sized output."""
    cl = _clusters_for_keep(docs, pairs, clusters, id_col, lsh_kwargs)
    return cl.groupBy(F.col("cluster").alias("representative_id")).agg(
        F.count("*").cast("bigint").alias("n_members")
    )


def keep_best(
    docs: DataFrame,
    quality: DataFrame,
    *,
    pairs: DataFrame | None = None,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    **lsh_kwargs,
) -> DataFrame:
    """Quality-aware canonical dedup: per near-dup cluster keep the
    member with the HIGHEST ``quality_col`` (ties to the lowest id) —
    the curation policy when duplicates are truncated or mangled copies
    of each other. ``quality`` is any (id_col, quality_col) frame —
    token counts, classifier scores, source priorities. Returns
    (cluster, kept_id, kept_quality, n_members).

    Same ``pairs=`` / ``clusters=`` injection points as
    ``keep_canonical`` — computing the pair pipeline once and feeding
    both policies halves the end-to-end cost of running both. The
    keeper rule is one per-cluster ``max_by`` over
    (quality, -id): map-side-combinable, never a window over the
    corpus."""
    cl = _clusters_for_keep(docs, pairs, clusters, id_col, lsh_kwargs)
    q = quality.select(F.col(id_col), F.col(quality_col).alias("_q"))
    return (
        cl.join(q, id_col)
        .groupBy("cluster")
        .agg(
            F.max_by(
                F.col(id_col), F.struct(F.col("_q"), -F.col(id_col))
            ).alias("kept_id"),
            F.max(F.struct(F.col("_q"), -F.col(id_col)))
            .getField("_q")
            .alias("kept_quality"),
            F.count("*").cast("bigint").alias("n_members"),
        )
        .select("cluster", "kept_id", "kept_quality", "n_members")
    )


def drop_boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_line_df: int = 30,
) -> DataFrame:
    """Line-level dedup (CCNet/RefinedWeb-style boilerplate removal):
    drop every line whose normalized form appears in more than
    ``max_line_df`` distinct documents — nav bars, cookie banners,
    signatures, licence footers — and rebuild each document from its
    surviving lines in original order.

    Scale shape: explode to (doc, line_idx, line); count line document
    frequency on 16-hex md5 keys (one map-side-combinable groupBy — the
    shuffle moves 16-byte hashes, never line text); the hot set is tiny
    by construction (only lines above the cap) so membership is a
    broadcast left join; one final groupBy rebuilds documents
    (array_sort on (idx, line) structs restores order). Empty lines are
    never counted as boilerplate.

    Returns (id, cleaned, n_lines, n_lines_dropped).
    """
    norm = F.lower(F.trim(F.col("line")))
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", "line"),
    ).withColumn("lh", F.substring(F.md5(norm), 1, 16))
    hot = (
        lines.filter(norm != "")
        .groupBy("lh")
        .agg(F.count_distinct(id_col).alias("_df"))
        .filter(F.col("_df") > max_line_df)
        .select("lh", F.lit(True).alias("_hot"))
    )
    flagged = lines.join(F.broadcast(hot), "lh", "left").withColumn(
        "_drop", F.col("_hot").isNotNull()
    )
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("_drop"), F.struct("line_idx", "line"))
                    )
                ),
                lambda s: s.getField("line"),
            ),
        ).alias("cleaned"),
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("_drop"), 1).otherwise(0)).cast("bigint").alias(
            "n_lines_dropped"
        ),
    )


def simhash(
    docs: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Frequency-weighted SimHash fingerprint (``bits``-bit, default 32).

    Bit j of each token's hash is extracted from the token's md5 hex
    digits (portable across engines); per-document bit j is the sign of
    the frequency-weighted sum of (2*bit-1); the fingerprint packs the
    winning bits. Two shuffles total: (doc, token) count, then the
    per-(doc, bit) vote — both map-side combinable.
    """
    # one 32-bit integer per 8-hex-char chunk of the token's md5 instead
    # of a per-bit substring+instr string scan: bit j lives in hex digit
    # j//4 (0-based from the left), i.e. chunk c = j//32, left-digit
    # d = j//4 - 8c, so bit j = (chunk_c >> (4*(7-d) + j%4)) & 1 —
    # IDENTICAL to the former instr(HEX, substring(th, j//4+1, 1))
    # digit-value extraction, but the per-row work for ``bits`` votes
    # drops from ``bits`` string ops to ceil(bits/32) conv()s + integer
    # shifts (guide §1.2 step 2: per-task work, same aggregate shape)
    n_chunks = (bits + 31) // 32
    tok_counts = (
        docs.select(id_col, F.explode(_tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("cnt"))
        .withColumn("th", F.md5("token"))
        .select(
            id_col,
            "cnt",
            *[
                F.conv(F.substring(F.col("th"), c * 8 + 1, 8), 16, 10)
                .cast("long")
                .alias(f"_thc{c}")
                for c in range(n_chunks)
            ],
        )
    )

    def vote(j: int) -> F.Column:
        c, d = j // 32, j // 4 - 8 * (j // 32)
        bit = (
            F.shiftright(F.col(f"_thc{c}"), 4 * (7 - d) + j % 4)
            .bitwiseAND(F.lit(1))
            .cast("long")
        )
        return F.sum(F.col("cnt") * (2 * bit - 1)).alias(f"_v{j}")

    # all `bits` votes as parallel aggregates in one map-side-combinable
    # groupBy — no bits× row explosion before the shuffle
    votes = tok_counts.groupBy(id_col).agg(*[vote(j) for j in range(bits)])
    packed = None
    for j in range(bits):
        term = F.when(F.col(f"_v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        packed = term if packed is None else packed + term
    return votes.select(id_col, packed.alias("simhash"))


def simhash_band_pairs(
    docs: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_fingerprints: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs via banded candidate generation.

    The scale path for SimHash dedup (the fingerprint alone only helps
    if you never compare all pairs): split each ``bits``-bit fingerprint
    into ``bands`` equal bit-ranges; by pigeonhole, two fingerprints
    within hamming distance < ``bands`` agree exactly on at least one
    band, so an equi-join on (band, band_value) generates every such
    pair as a candidate — never all-pairs. Candidates are then verified
    exactly with ``bit_count(a ^ b) <= max_hamming``.

    For a guaranteed-complete sweep keep ``max_hamming < bands``
    (default 3 < 4); a larger ``max_hamming`` still works but becomes
    best-effort recall, like any LSH.

    Returns (id_a, id_b, hamming) with id_a < id_b, one row per pair.
    Scale shape: fingerprint (two map-side-combinable shuffles), then a
    band equi-join whose fan-out is bounded by bucket sizes — skewed
    buckets (many docs sharing a band value) are the one hotspot; AQE
    skew-join handles moderate skew, and tightening bands/bits shrinks
    buckets geometrically.
    """
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash(docs, bits=bits, id_col=id_col, text_col=text_col)
    if persist_fingerprints:
        # both self-join branches hang off the fingerprint table and
        # Spark's exchange reuse does NOT fire across them (verified on
        # the executed plan) — without this the corpus-wide token-count
        # shuffle runs twice. Fingerprints are one long per doc, so the
        # persist is ~16 bytes/doc; default ON, unlike persist_shingles
        # (shingle tables are corpus-sized). Caller may unpersist.
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bk"),
    ).select(id_col, "simhash", "_bk.band", "_bk.band_val")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "band_val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "band_val"
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair matching k bands appears k times — collapse in the same
        # aggregate that carries the (identical per pair) hamming value
        .groupBy("id_a", "id_b")
        .agg(F.min(F.expr("bit_count(sh_a ^ sh_b)")).cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
