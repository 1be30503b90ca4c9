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
    media_id) must be reduced to one row first — the admission keeps
    only each media_id's first row, so the ledger would hold whichever
    frame came first rather than a representative one.

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

    One body serves both probe paths; ``sidecar`` picks how the ledger
    is read (step 2), how blocked ids are found (step 3) and how the
    batch commits (step 6). The trigger bounds the micro-batch, so it
    is decoded and hashed ONCE onto the driver, and each later step is
    one action on that local copy returning at most batch-size ids.
    Per micro-batch:

    1. one ``toPandas`` of the batch, one row per media_id (a repeated
       id keeps its first row);
    2. the exact path runs ONE ledger aggregate: row count, whether
       rows tagged ``run_id`` exist, and which batch ids the ledger
       holds. The gated path stays O(batch): a footer-only count and a
       ``run_id`` probe, and a sidecar count that differs from the
       ledger's (crash window, lost sidecar, pre-sidecar ledger,
       out-of-band append) repairs exactly the uncovered rows. Rows
       tagged ``run_id`` ARE the committed decision and are returned
       verbatim (replay short-circuit);
    3. blocked ids: the exact path evaluates
       ``bit_count(fingerprint ^ _fp) <= max_hamming`` as a broadcast
       nested-loop join of a ledger scan against the local batch, then
       a distinct of the matched ids — no ledger shuffle; the batch is
       the broadcast side because the trigger bounds it, while the
       ledger grows without bound. The gated path marks the batch's Manku
       combination keys (``_combo_keyed``) against the sidecar's
       broadcast bloom, skips negatives and verifies positives exactly
       against the write-time combo index (pushed IN filter on sorted
       segments) — O(batch); the bloom alone never blocks or admits;
    4. within-batch keep-first: a broadcast nested-loop left-semi join
       of the survivors against themselves with ``_first < _id``, on
       both paths;
    5. media_id collision guard: refuse iff an admitted id is already
       in the ledger — step 2's id set on the exact path; on the gated
       path the id bloom first, so a no-overlap batch joins nothing;
    6. commit: the exact path always upserts, so even an empty first
       batch creates the ledger; the gated path upserts a non-empty
       admit only, then the sidecar records the batch (index append +
       mask OR + meta swap). The upsert is the commit point: a crash
       before the sidecar record is healed by step 2 next call;
    7. the result is the upserted frame: the guard admits no id the
       ledger already holds and step 2 returned early on any ``run_id``
       row, so after the upsert the ledger's ``run_id`` rows are
       exactly these rows — no ledger re-scan.

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

    run_id = run_id if run_id is not None else uuid.uuid4().hex
    batch = fps.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    spark = batch.sparkSession

    def local_frame(pdf) -> DataFrame:
        return spark.createDataFrame(pdf, batch.schema)

    def ids(df: DataFrame) -> set:
        return {r._id for r in df.select("_id").collect()}

    within = F.expr(f"bit_count(_lfp ^ _fp) <= {int(max_hamming)}")

    # the one decode + hash of the batch; a repeated id keeps its first row
    local = batch.toPandas().drop_duplicates("_id")
    local_df = local_frame(local)
    seen = registry.read()
    gated = sidecar
    if sidecar == "auto":
        gated = registry.fs.exists(registry.path.rstrip("/") + ".probeidx/meta")
    ledger_count, replay, in_ledger = 0, False, None
    if seen is not None:
        if gated:
            replay = seen.filter(F.col("run_id") == run_id).limit(1).count() > 0
            ledger_count = 0 if replay else seen.count()
        else:
            # one pass: row count, replay flag, and the batch ids the
            # ledger already holds (the collision guard's input). The
            # ids join as a broadcast relation: an isin() literal list
            # costs ~0.45 ms per id to build (4.8 s at 10k ids)
            batch_ids = local_df.select(
                F.col("_id").alias("media_id"), F.lit(True).alias("_in")
            )
            row = (
                seen.join(F.broadcast(batch_ids), "media_id", "left")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.bool_or(F.col("run_id") == run_id).alias("replay"),
                    F.collect_set(F.when(F.col("_in"), F.col("media_id"))).alias("hits"),
                )
                .first()
            )
            ledger_count, replay, in_ledger = row.n, bool(row.replay), set(row.hits)
    if replay:
        return seen.filter(F.col("run_id") == run_id).select("media_id", "fingerprint")
    if sidecar == "auto" and not gated:
        gated = ledger_count > 0 and ledger_count * len(local) > NLJ_PAIR_BUDGET

    sc = None
    if gated:
        from .phash_index import FingerprintProbeSidecar

        sc = FingerprintProbeSidecar(
            spark, registry.path, bits, blocks, max_hamming, **(sidecar_opts or {})
        )
        sc.load_or_init()
        if sc.n_items != ledger_count:
            sc.repair(seen, ledger_count)

    # vs-ledger probe: any prior fingerprint within budget blocks the id
    blocked: set = set()
    if ledger_count:
        if sc is not None:
            keyed = _combo_keyed(local_df, bits, blocks, max_hamming)
            blocked = {r._id for r in sc.blocked_ids(keyed).collect()}
        else:
            # a one-file ledger scans on ONE task: 28.7 s vs 10.5 s at
            # session parallelism for a 1M x 10k probe on 4 cores
            ledger_fps = seen.select(F.col("fingerprint").alias("_lfp")).repartition(
                spark.sparkContext.defaultParallelism
            )
            # the batch is the broadcast (right) side: a left-semi join
            # built on the LEFT side skips codegen and ran 2.7x slower
            # per pair (6.4 s vs 2.3 s for 100k x 10k on 4 cores)
            blocked = ids(
                ledger_fps.join(F.broadcast(local_df), within).select("_id").distinct()
            )
    surv = local[~local["_id"].isin(list(blocked))]

    # within-batch keep-first: drop ids matching a smaller surviving id
    dup: set = set()
    if len(surv) > 1:
        first = local_frame(surv).select(
            F.col("_id").alias("_first"), F.col("_fp").alias("_lfp")
        )
        dup = ids(
            local_frame(surv).join(
                F.broadcast(first), within & (F.col("_first") < F.col("_id")), "left_semi"
            )
        )
    admitted = surv[~surv["_id"].isin(list(dup))]
    rows = local_frame(admitted).select(
        F.col("_id").alias("media_id"),
        F.col("_fp").alias("fingerprint"),
        F.lit(run_id).alias("run_id"),
    )

    # media_id collision guard: the upsert is keyed on media_id, so
    # re-ingesting an already-ledgered media_id with DIFFERENT content
    # would silently re-tag that row's run_id — an earlier run's
    # "returned verbatim" replay would then yield fewer rows than it
    # committed, breaking exactly-once. (Unchanged content never
    # reaches here: its fingerprint is hamming-0 from its own ledger
    # row, so the probe blocks it.)
    if ledger_count and in_ledger is None and sc.any_id_maybe_seen(rows, "media_id"):
        in_ledger = {
            r.media_id
            for r in seen.select("media_id")
            .join(F.broadcast(rows.select("media_id")), "media_id", "left_semi")
            .collect()
        }
    clash = sorted(set(admitted["_id"].tolist()) & (in_ledger or set()))
    if clash:
        raise ValueError(
            "incremental_fingerprint_neardup: media_id "
            f"{clash[0]} is already in the ledger from a "
            "prior run with a different fingerprint; "
            "upserting would re-tag that row's run_id and "
            "break the prior run's exactly-once replay — "
            "ingest changed content under a NEW media_id "
            "(or rebuild the ledger)"
        )

    if sc is None:
        registry.upsert(rows)
    else:
        if len(admitted):
            registry.upsert(rows)
        # ledger committed — cover it in the sidecar (crash here =
        # count mismatch = exact repair next call). An empty admit
        # writes neither: replaying it recomputes from the same ledger
        # state and re-derives the same empty set; record() still runs
        # to release the probe's pins.
        sc.record(rows.drop("run_id"), run_id, len(admitted))
    return rows.drop("run_id")


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
