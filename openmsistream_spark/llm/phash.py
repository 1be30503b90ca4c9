"""Image perceptual hashing + Hamming-banded near-dup — the dedup
treatment for the multimodal axis (every text modality already has
one: exact / MinHash / SimHash / span / embedding).

Two public fingerprint algorithms, both 64-bit, both computed from REAL
decoded pixels (llm/multimodal.py's dependency-free decoders —
BMP/PPM/PGM/PNG/GIF/JPEG/VP8L-WebP, no codec libraries needed):

- **dHash** (difference hash, the gradient member of the average-hash
  family — public algorithm, Krawetz 2013 "Kind of Like That"):
  grayscale → 8x9 area-average grid → bit (r, c) compares horizontally
  adjacent cell means. This implementation is EXACT-INTEGER end to end:
  grayscale uses the integer Rec.601 luma (299R+587G+114B, rounded),
  grid cells are integral-image block sums, and the mean comparison is
  cross-multiplied (sum_l * area_r < sum_r * area_l) so no float ever
  enters — the DuckDB oracle reproduces every bit.
- **pHash** (DCT hash, same lineage): grayscale → 32x32 area-resize →
  2-D DCT-II → low-frequency 8x8 block → bit = coefficient > median of
  the 63 AC coefficients. Float DCT (numpy matmul) — property-tested
  (noise robustness, brightness invariance) rather than oracle-paired.

Near-dup pairs reuse the repo's Hamming banding device
(llm/dedup.py:simhash_band_pairs, the pigeonhole construction): split
the 64-bit fingerprint into ``bands`` equal ranges; two fingerprints
within hamming < bands agree exactly on at least one band, so an
equi-join on (band, band_val) generates every such pair — never
all-pairs. Candidates verify exactly with bit_count(a ^ b).

Scale shape: one Arrow ``mapInPandas`` decode+hash stage (the only
Python — same batch shape as multimodal.decode_features), then the
fingerprint table is 16 bytes/image and everything downstream (banding
explode, equi-join, bit_count) is JVM codegen. The reference engine has
no image path (lab files only — nothing to cite there); this derives
from the public perceptual-hash literature per the driver's brief
("multimodal columns" as first-class).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .multimodal import sniff_pixels

FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fingerprint", T.LongType()),
    ]
)

#: dHash grid: 8 rows x 9 cols -> 8x8 = 64 horizontal comparisons.
_DH_ROWS, _DH_COLS = 8, 9


def gray_pixels(px: "np.ndarray") -> "np.ndarray":
    """(h, w, c) uint8 → (h, w) int64 grayscale. Single-channel passes
    through; RGB(A) uses integer Rec.601 luma, half-up rounded —
    (299R + 587G + 114B + 500) // 1000 — so the result is exact and
    engine-independent (no float weights)."""
    p = px.astype(np.int64)
    if p.shape[2] == 1:
        return p[:, :, 0]
    r, g, b = p[:, :, 0], p[:, :, 1], p[:, :, 2]
    return (299 * r + 587 * g + 114 * b + 500) // 1000


def _block_sums(gray: "np.ndarray", gh: int, gw: int):
    """Exact integer area pooling: partition the (h, w) grayscale into a
    gh x gw grid at boundaries floor(i*h/gh) / floor(j*w/gw) and return
    (block pixel sums, block areas), both int64 — the integral-image
    form, O(h*w) regardless of grid size."""
    h, w = gray.shape
    if h < gh or w < gw:
        raise ValueError(f"image {h}x{w} smaller than the {gh}x{gw} hash grid")
    s = np.zeros((h + 1, w + 1), dtype=np.int64)
    s[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
    rb = (np.arange(gh + 1) * h) // gh
    cb = (np.arange(gw + 1) * w) // gw
    corners = s[np.ix_(rb, cb)]
    sums = (
        corners[1:, 1:] - corners[:-1, 1:] - corners[1:, :-1] + corners[:-1, :-1]
    )
    areas = np.outer(np.diff(rb), np.diff(cb)).astype(np.int64)
    return sums, areas


def _to_signed64(fp: int) -> int:
    """Two's-complement fold of a 64-bit unsigned fingerprint into the
    signed BIGINT both Spark and parquet carry (DuckDB mirror:
    CASE WHEN u >= 2^63 THEN u - 2^64 ELSE u END)."""
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def dhash_int(gray: "np.ndarray") -> int:
    """64-bit dHash of an integer grayscale array, as signed int.

    Bit k = r*8 + c (r in 0..7, c in 0..7) is set iff the 8x9 grid
    cell (r, c)'s mean is LESS THAN cell (r, c+1)'s — compared as
    cross-multiplied integer block sums (sum_l * area_r < sum_r *
    area_l), exact for any image size: values <= 255 * h * w * area
    stay far below 2^63 for any image this decoder family produces."""
    sums, areas = _block_sums(gray, _DH_ROWS, _DH_COLS)
    left_s, right_s = sums[:, :-1], sums[:, 1:]
    left_a, right_a = areas[:, :-1], areas[:, 1:]
    bits = (left_s * right_a) < (right_s * left_a)  # (8, 8) bool
    fp = 0
    for k in np.nonzero(bits.reshape(-1))[0]:
        fp |= 1 << int(k)
    return _to_signed64(fp)


#: pHash intermediate resize (standard parameterization).
_PH_SIZE = 32


def _dct_matrix(n: int) -> "np.ndarray":
    """Orthonormal DCT-II basis (the scipy.fft.dct(norm='ortho')
    matrix), built from first principles — no scipy in this container."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * k * (2 * i + 1) / (2 * n))
    m[0] *= np.sqrt(1.0 / n)
    m[1:] *= np.sqrt(2.0 / n)
    return m


_DCT32 = _dct_matrix(_PH_SIZE)


def phash_int(gray: "np.ndarray") -> int:
    """64-bit DCT pHash of an integer grayscale array, as signed int:
    area-resize to 32x32 (exact block means, then float), 2-D DCT-II,
    keep the low-frequency 8x8 corner, bit k set iff coefficient k
    exceeds the MEDIAN of the 63 AC coefficients (DC participates in
    the bits but not the median — the standard brightness-invariance
    construction)."""
    sums, areas = _block_sums(gray, _PH_SIZE, _PH_SIZE)
    small = sums / areas  # float block means
    coefs = (_DCT32 @ small @ _DCT32.T)[:8, :8].reshape(-1)
    med = float(np.median(coefs[1:]))
    fp = 0
    for k in np.nonzero(coefs > med)[0]:
        fp |= 1 << int(k)
    return _to_signed64(fp)


def image_fingerprints(
    media: DataFrame,
    algo: str = "dhash",
    strict: bool = True,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Perceptual fingerprints for an image media frame → (media_id,
    fingerprint BIGINT), one Arrow ``mapInPandas`` stage (decode + hash
    per batch — the multimodal.decode_features shape).

    ``strict=True`` (default — stricter than decode_features, on
    purpose) raises on bytes the dependency-free decoders can't parse:
    a hash-derived FAKE fingerprint would manufacture false
    near-dup/non-dup verdicts, which is worse than failing.
    ``strict=False`` instead SKIPS undecodable rows (emits nothing for
    them) — the mixed-corpus mode where non-image blobs share the
    column. There is deliberately no fake fallback here.
    """
    if algo not in ("dhash", "phash"):
        raise ValueError(f"unknown perceptual hash algo {algo!r}")
    hash_fn = dhash_int if algo == "dhash" else phash_int

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for row in pdf.itertuples(index=False):
                content = bytes(row.content) if row.content is not None else b""
                dec = sniff_pixels(content)
                if dec is None:
                    if strict:
                        raise ValueError(
                            "image_fingerprints: undecodable media bytes "
                            f"for media_id={row.media_id} (built-ins "
                            "cover BMP/PPM/PGM/PNG/GIF/JPEG/VP8L-WebP; "
                            "register a pixel decoder or pass "
                            "strict=False to skip non-image rows)"
                        )
                    continue
                fps.append(hash_fn(gray_pixels(dec(content))))
                ids.append(row.media_id)
            yield pd.DataFrame({"media_id": ids, "fingerprint": fps})

    return media.select(
        F.col(id_col).alias("media_id"), F.col(content_col).alias("content")
    ).mapInPandas(_run, FINGERPRINT_SCHEMA)


def hamming_band_pairs(
    fps: DataFrame,
    bits: int = 64,
    bands: int = 8,
    max_hamming: int = 7,
    id_col: str = "media_id",
    fp_col: str = "fingerprint",
    persist_fingerprints: bool = True,
) -> DataFrame:
    """Near-dup pairs over a fingerprint column via banded candidate
    generation — the generic-fingerprint twin of
    ``dedup.simhash_band_pairs`` (same pigeonhole device, same skew
    notes; that one derives its fingerprint from text, this one takes
    any precomputed ``bits``-bit BIGINT).

    Keep ``max_hamming < bands`` for a guaranteed-complete sweep (two
    fingerprints within hamming < bands agree on >= 1 band). Returns
    (id_a, id_b, hamming) with id_a < id_b, one row per pair. All
    JVM-side: shiftrightunsigned + mask banding, equi-join, one
    bit_count verify; per-pair band multiplicity collapses in the same
    groupBy that carries the hamming value.
    """
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands
    mask = (1 << width) - 1
    fp = fps.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    if persist_fingerprints:
        # both self-join branches hang off the fingerprint table and
        # exchange reuse does not bridge them (the simhash_band_pairs
        # finding) — 16 bytes/image, caller may unpersist
        from pyspark import StorageLevel

        fp = fp.persist(StorageLevel.MEMORY_AND_DISK)
    banded = fp.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # logical shift: the sign bit must not smear
                        # into high bands (mask kills it for low ones)
                        F.shiftrightunsigned("_fp", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bk"),
    ).select("_id", "_fp", "_bk.band", "_bk.band_val")
    a = banded.select(
        F.col("_id").alias("id_a"), F.col("_fp").alias("fp_a"), "band", "band_val"
    )
    b = banded.select(
        F.col("_id").alias("id_b"), F.col("_fp").alias("fp_b"), "band", "band_val"
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.min(F.expr("bit_count(fp_a ^ fp_b)")).cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _combo_params(bits: int, blocks: int, max_hamming: int):
    """Validate the combination-blocking parameterization and return
    (width, mask, combos) — called BEFORE any frame is touched so bad
    params fail fast regardless of input."""
    untouched = blocks - max_hamming
    if untouched < 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs more than {blocks} blocks "
            "(at least one block must be guaranteed untouched)"
        )
    if bits % blocks != 0:
        raise ValueError(f"bits={bits} not divisible by blocks={blocks}")
    width = bits // blocks
    if untouched * width > 62:
        raise ValueError(
            f"combination key of {untouched}x{width} bits exceeds BIGINT"
        )
    from itertools import combinations

    return width, (1 << width) - 1, list(combinations(range(blocks), untouched))


def _combo_keyed(
    fp: DataFrame, bits: int, blocks: int, max_hamming: int
) -> DataFrame:
    """(_id, _fp) → exploded (_id, _fp, combo, combo_key): one row per
    C(blocks, blocks-max_hamming) block combination, the selected block
    values packed into one BIGINT key. Shared by the self-join pair
    sweep and the probe sidecar's write-time combo index."""
    width, mask, combos = _combo_params(bits, blocks, max_hamming)

    def _key(combo) -> "F.Column":
        key = F.lit(0).cast("bigint")
        for j, b in enumerate(combo):
            block = F.shiftrightunsigned("_fp", b * width).bitwiseAND(F.lit(mask))
            key = key.bitwiseOR(F.shiftleft(block, j * width))
        return key

    return fp.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(ci).alias("combo"), _key(c).alias("combo_key"))
                    for ci, c in enumerate(combos)
                ]
            )
        ).alias("_ck"),
    ).select("_id", "_fp", "_ck.combo", "_ck.combo_key")


def hamming_combo_pairs(
    fps: DataFrame,
    bits: int = 64,
    blocks: int = 8,
    max_hamming: int = 3,
    id_col: str = "media_id",
    fp_col: str = "fingerprint",
    persist_fingerprints: bool = True,
) -> DataFrame:
    """Near-dup pairs via COMBINATION blocking — the construction that
    survives 100 TB (Manku, Jain & Das Sarma 2007, "Detecting
    Near-Duplicates for Web Crawling", the simhash dedup run at 8B
    pages). Pigeonhole: a pair within ``max_hamming`` leaves at least
    ``blocks - max_hamming`` of the ``blocks`` bit-blocks untouched, so
    joining on every C(blocks, blocks-max_hamming) combination of
    block values finds EVERY such pair — like ``hamming_band_pairs``,
    but the join key is the CONCATENATION of several blocks.

    Why it matters at scale: simple banding's key width is
    bits/bands < bits/max_hamming — at max_hamming=7 that is 8 bits =
    256 buckets, so candidates grow ~n^2/256 and the join melts around
    10^5 items (measured: STRESS_MEDIAFP). Combination keys are
    (blocks-max_hamming) x width bits wide — 40 bits at the default
    (8 equal 8-bit blocks, h=3) — so buckets stay near-singleton into
    the billions; the price is C(blocks, untouched) explode rows per
    item (56 at 8/3) and a LOWER hamming budget. Manku's paper splits
    64 bits into UNEQUAL blocks (their worked example uses 6); this
    implementation requires bits % blocks == 0, so the 64-bit default
    is blocks=8 — same pigeonhole, same near-singleton buckets. The
    published trade: crawl-scale near-dup runs at h<=3; wide budgets
    (h=7) are a small-corpus / verification device.

    Returns (id_a, id_b, hamming) like hamming_band_pairs; the
    candidate keys pack the selected block values into one BIGINT
    (selected widths always sum to < 63 bits here), all JVM codegen.
    """
    _combo_params(bits, blocks, max_hamming)  # fail fast on bad params
    fp = fps.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    if persist_fingerprints:
        from pyspark import StorageLevel

        fp = fp.persist(StorageLevel.MEMORY_AND_DISK)
    keyed = _combo_keyed(fp, bits, blocks, max_hamming)
    a = keyed.select(
        F.col("_id").alias("id_a"), F.col("_fp").alias("fp_a"), "combo", "combo_key"
    )
    b = keyed.select(
        F.col("_id").alias("id_b"), F.col("_fp").alias("fp_b"), "combo", "combo_key"
    )
    return (
        a.join(b, ["combo", "combo_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.min(F.expr("bit_count(fp_a ^ fp_b)")).cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


#: ledger rows x batch rows past which ``sidecar="auto"`` leaves the
#: broadcast nested-loop probe for the bloom-gated sidecar: the
#: measured crossover on a 4-core box, where a 1M-row ledger x 10k-row
#: batch took 30.8 s per call on the NLJ vs 28.2 s gated, and the NLJ
#: grows ~3.7 ns per further pair while the gated call stays near flat
#: (SCALING.md, "Settled: the NLJ pair budget").
NLJ_PAIR_BUDGET = 10**10


def incremental_fingerprint_neardup(
    fps: DataFrame,
    registry,
    bits: int = 64,
    blocks: int = 8,
    max_hamming: int = 3,
    id_col: str = "media_id",
    fp_col: str = "fingerprint",
    run_id: str | None = None,
    sidecar: bool | str = "auto",
    sidecar_opts: dict | None = None,
) -> DataFrame:
    """Cross-run perceptual near-dup against a durable fingerprint
    ledger — the media twin of ``dedup.incremental_exact_dedup`` /
    the sign-LSH embedding ledger: each ingest run admits only media
    whose fingerprint is not within ``max_hamming`` of ANY prior run's
    admitted fingerprint (nor of a smaller-id admit in the same batch),
    then records the new fingerprints. Works for any modality's 64-bit
    (or ``bits``-bit) fingerprint column carrying ONE ROW PER media_id:
    image dHash, audio envelope, or a per-video representative frame.
    Raw ``video_frame_fingerprints`` output (multiple frames per
    media_id) must be reduced to one row first — the media_id-keyed
    ledger upsert would otherwise keep an arbitrary frame, and the
    within-batch sweep would pair unaligned frames.

    The ledger holds (media_id, fingerprint, run_id) — 24 bytes/item,
    never content.

    A media_id must not be re-ingested with DIFFERENT content across
    runs: the ledger upsert is keyed on media_id, and re-tagging an
    existing row's run_id would shrink the earlier run's replayed set.
    The upsert therefore REFUSES (ValueError) when an admitted id
    already exists in the ledger under another run — unchanged content
    is naturally blocked by the hamming-0 probe, so the refusal only
    fires on genuine content churn, which needs a new media_id.

    Within-batch rule: an item matching a SMALLER id in the batch is
    dropped (greedy keep-first, deterministic; not a transitive-closure
    clustering — a~b and b~c drops both b and c even if a!~c, the
    conservative choice for an admission gate).

    Recovery/replay: the ledger upsert is the only materialization.
    Re-running with the SAME ``run_id`` short-circuits — if the ledger
    already holds rows tagged ``run_id``, they ARE the committed
    decision and are returned verbatim (exactly-once replay, even for
    non-transitive Hamming chains where recomputing against the
    post-upsert ledger would diverge: with a~b, b~c, a!~c the first
    run's greedy sweep drops both b and c, but a post-upsert recompute
    would re-admit c since only a is in the ledger). A crash BEFORE the
    upsert leaves no run_id rows, so the replay recomputes from the
    identical pre-batch ledger state — deterministic, hence the same
    set; a crash after the (atomic) upsert returns the committed rows.
    A FRESH uuid per call re-admits nothing that is within budget of an
    ADMITTED item; an item the original run dropped only via a chain
    through another dropped item (the b~c case) is not near any
    admitted item and IS re-admitted — the honest near-dup analogue of
    incremental_exact_dedup's "admits nothing on replay" (which holds
    exactly there because exact equality is transitive).

    One body serves both probe paths; ``sidecar`` picks only how the
    blocked ids are found (step 3) and how the batch commits (step 6).
    Per micro-batch:

    1. replay short-circuit: ledger rows tagged ``run_id`` ARE the
       committed decision and are returned verbatim;
    2. gated path only — coverage check: sidecar row count vs ledger
       row count (a footer-only count, also taken for the "auto"
       policy and the empty-ledger rule); a mismatch (crash window,
       lost sidecar, pre-sidecar ledger, out-of-band append) triggers
       an exact repair of exactly the uncovered rows;
    3. blocked ids: the exact path evaluates the predicate itself,
       ``bit_count(fingerprint ^ _fp) <= max_hamming``, as a broadcast
       nested-loop join (NLJ) of a ledger scan against the pinned
       batch — ledger x batch pairs of codegen'd bit counts and no
       ledger shuffle; the batch is the broadcast side because the
       trigger bounds it, while the ledger grows without bound. The
       gated path marks the batch's Manku combination keys
       (``_combo_keyed``) against the sidecar's broadcast bloom, skips
       negatives and verifies positives exactly against the write-time
       combo index (pushed IN filter on sorted segments) — O(batch),
       and the bloom alone never blocks or admits anything;
    4. within-batch keep-first sweep: the same NLJ of the survivors
       against themselves with ``id_a < id_b``, on both paths;
    5. media_id collision guard — on the gated path behind the id
       bloom, so a no-overlap batch pays one row-local mark pass and
       no ledger join;
    6. commit: the exact path always upserts, so even an empty first
       batch creates the ledger; the gated path upserts a non-empty
       admit only, then the sidecar records the batch (index append +
       mask OR + meta swap). The upsert is the commit point: a crash
       before the sidecar record is healed by step 2 next call;
    7. the result is re-derived from the committed ledger.

    An empty ledger counts as no ledger on both paths.

    ``sidecar=True`` keeps the sidecar and its combo index next to the
    ledger (``<path>.probeidx`` — see ``phash_index``); a lost, stale
    or pre-existing-ledger sidecar costs one exact O(ledger) repair,
    then probes are gated again. ``sidecar=False`` always takes the
    NLJ. Both paths admit identical sets, replay identically and
    refuse the same churn. ``sidecar_opts`` forwards sizing/policy
    knobs to ``FingerprintProbeSidecar`` (``combo_m_bits``, ``k``,
    ``max_pushdown_keys``, ``resize="auto"|"manual"``, ``max_m_bits``,
    …): pre-size ``combo_m_bits`` for the expected ledger scale and/or
    set ``resize="manual"`` + schedule
    ``FingerprintProbeSidecar.rebuild_now()`` off the ingest path to
    keep the amortized mask-rebuild pause out of ``foreachBatch``
    (SCALING.md recipe).

    ``sidecar="auto"`` (default) picks by pair count: the NLJ while
    ledger rows x batch rows stay within ``NLJ_PAIR_BUDGET``, the gated
    path past it — and always the gated path once a sidecar exists
    (keeping an existing index current is cheaper than abandoning it).
    The switchover builds the index via the normal repair path: one
    O(ledger) combo explode, once. Both paths produce identical
    admitted sets, so "auto" is a pure cost policy.
    """
    import uuid

    from pyspark import StorageLevel

    run_id = run_id if run_id is not None else uuid.uuid4().hex
    batch = fps.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    spark = batch.sparkSession

    def committed() -> DataFrame:
        # the ledger's run_id rows are the result (durable; replay-identical)
        out = registry.read()
        if out is None:  # first-ever gated batch admitted nothing
            return batch.select(
                F.col("_id").alias("media_id"), F.col("_fp").alias("fingerprint")
            ).limit(0)
        return out.filter(F.col("run_id") == run_id).select("media_id", "fingerprint")

    pins: list[DataFrame] = []  # every frame persisted here; released on exit

    def pin(df: DataFrame) -> DataFrame:
        pins.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return pins[-1]

    sc = None
    seen = registry.read()
    ledger_count = 0
    try:
        if seen is not None:
            # same-run_id short-circuit: committed decisions are the result
            if seen.filter(F.col("run_id") == run_id).limit(1).count() > 0:
                return committed()
            ledger_count = seen.count()
        # the batch fingerprints feed the probe, both sides of the sweep,
        # the guard and the commit — without a persist the upstream Arrow
        # decode+hash stage would re-execute in each branch
        pinned = pin(batch)
        if sidecar == "auto":
            meta = registry.path.rstrip("/") + ".probeidx/meta"
            sidecar = registry.fs.exists(meta) or (
                ledger_count > 0 and ledger_count * pinned.count() > NLJ_PAIR_BUDGET
            )
        if sidecar:
            from .phash_index import FingerprintProbeSidecar

            sc = FingerprintProbeSidecar(
                spark, registry.path, bits, blocks, max_hamming, **(sidecar_opts or {})
            )
            sc.load_or_init()
            if sc.n_items != ledger_count:
                sc.repair(seen, ledger_count)
            # the combo explode feeds the bloom probe and record(): pin it
            keyed = pin(_combo_keyed(pinned, bits, blocks, max_hamming))
        if not ledger_count:
            seen = None  # nothing committed to probe or guard against

        def near(left: DataFrame, right: DataFrame, cond=None) -> DataFrame:
            # the Hamming predicate as a broadcast nested-loop join: the
            # right side is always batch-bounded
            within = F.expr(f"bit_count(_lfp ^ _fp) <= {int(max_hamming)}")
            if cond is not None:
                within = within & cond
            return left.join(F.broadcast(right), within)

        # vs-ledger probe: any prior fingerprint within budget blocks the id
        surv = pinned
        if seen is not None:
            if sc is not None:
                blocked = sc.blocked_ids(keyed)
            else:
                # a one-file ledger scans on ONE task: 28.7 s vs 10.5 s at
                # session parallelism for a 1M x 10k probe on 4 cores
                ledger_fps = seen.select(F.col("fingerprint").alias("_lfp")).repartition(
                    spark.sparkContext.defaultParallelism
                )
                blocked = near(ledger_fps, pinned).select("_id").distinct()
            surv = pinned.join(F.broadcast(blocked), "_id", "left_anti")

        # within-batch keep-first: drop ids matching a smaller surviving id
        first = surv.select(F.col("_id").alias("_first"), F.col("_fp").alias("_lfp"))
        dup_ids = (
            near(first, surv, F.col("_first") < F.col("_id")).select("_id").distinct()
        )
        # the collision guard and the commit both consume `admitted`
        # (two actions): persist so the probe + within-batch sweep joins
        # execute once — the pinned decode output alone doesn't cover
        # the join work
        admitted = pin(surv.join(F.broadcast(dup_ids), "_id", "left_anti"))

        # media_id collision guard: the upsert is keyed on media_id, so
        # re-ingesting an already-ledgered media_id with DIFFERENT
        # content would silently re-tag that row's run_id — an earlier
        # run's "returned verbatim" replay would then yield fewer rows
        # than it committed, breaking exactly-once. (Unchanged content
        # never reaches here: its fingerprint is hamming-0 from its own
        # ledger row, so the probe blocks it; and same-run_id rows
        # short-circuited above.) Tiers keep the common case cheap: the
        # gated path first asks the id bloom (no false negatives for
        # covered rows); then a key-only equi-join of the PINNED
        # pre-probe batch vs 16-byte ledger rows (evaluating the
        # post-anti-join frame would run the probe chain first); only a
        # batch that actually shares media_ids with the ledger pays the
        # precise admitted-side check.
        if seen is not None and (sc is None or sc.any_id_maybe_seen(pinned)):
            seen_ids = seen.select(F.col("media_id").alias("_id"))
            if pinned.join(seen_ids, "_id", "left_semi").limit(1).count() > 0:
                hit = admitted.join(seen_ids, "_id", "left_semi").limit(1).collect()
                if hit:
                    raise ValueError(
                        "incremental_fingerprint_neardup: media_id "
                        f"{hit[0]._id} is already in the ledger from a "
                        "prior run with a different fingerprint; "
                        "upserting would re-tag that row's run_id and "
                        "break the prior run's exactly-once replay — "
                        "ingest changed content under a NEW media_id "
                        "(or rebuild the ledger)"
                    )

        rows = admitted.select(
            F.col("_id").alias("media_id"),
            F.col("_fp").alias("fingerprint"),
            F.lit(run_id).alias("run_id"),
        )
        if sc is None:
            registry.upsert(rows)
        else:
            n_admitted = admitted.count()
            if n_admitted:
                registry.upsert(rows)
            # ledger committed — cover it in the sidecar (crash here =
            # count mismatch = exact repair next call). An empty admit
            # writes neither: replaying it recomputes from the same
            # ledger state and re-derives the same empty set; record()
            # still runs to release the probe's pins. The admitted
            # rows' combo explode is the pinned one restricted to the
            # admitted ids, so record() does not re-explode + re-hash.
            sc.record(
                rows.drop("run_id"),
                run_id,
                n_admitted,
                exploded=keyed.join(admitted.select("_id"), "_id", "left_semi").select(
                    "combo",
                    "combo_key",
                    F.col("_id").alias("media_id"),
                    F.col("_fp").alias("fingerprint"),
                ),
            )
    finally:
        for df in pins:
            df.unpersist()
    return committed()


def image_neardup_pairs(
    media: DataFrame,
    algo: str = "dhash",
    bands: int = 8,
    max_hamming: int = 7,
    strict: bool = True,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """decode → perceptual fingerprint → Hamming-banded pairs, in one
    call: (id_a, id_b, hamming). The image analogue of the text
    ``simhash_band_pairs`` entry point."""
    fps = image_fingerprints(
        media, algo=algo, strict=strict, id_col=id_col, content_col=content_col
    )
    return hamming_band_pairs(fps, bands=bands, max_hamming=max_hamming)
