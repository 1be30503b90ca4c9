"""Image perceptual hashing (llm/phash.py): dHash integer exactness
against a naive reference, pHash invariance properties, strict-mode
decode policy, banding completeness vs brute force, format
independence (BMP == PGM for the same pixels), and planted near-dup
recall through the full distributed path."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from openmsistream_spark.llm.phash import (
    _block_sums,
    _to_signed64,
    dhash_int,
    gray_pixels,
    hamming_band_pairs,
    image_fingerprints,
    image_neardup_pairs,
    phash_int,
)


def _pgm(gray2d: np.ndarray) -> bytes:
    h, w = gray2d.shape
    return f"P5 {w} {h} 255\n".encode() + gray2d.astype(np.uint8).tobytes()


def _bmp_gray8(gray2d: np.ndarray) -> bytes:
    """8-bpp grayscale BMP of the same pixels (bottom-up, padded)."""
    h, w = gray2d.shape
    row_bytes = (w + 3) & ~3
    body = b"".join(
        bytes(gray2d[r].astype(np.uint8)) + b"\x00" * (row_bytes - w)
        for r in range(h - 1, -1, -1)
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, 0, 0, 0, 0, 0)
    return b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) + info + body


def _naive_dhash(gray: np.ndarray) -> int:
    """Straight-from-the-definition reference: float block means over
    the floor-boundary 8x9 grid, bit set iff left mean < right mean."""
    h, w = gray.shape
    rb = [(i * h) // 8 for i in range(9)]
    cb = [(j * w) // 9 for j in range(10)]
    means = np.array(
        [
            [gray[rb[r] : rb[r + 1], cb[c] : cb[c + 1]].mean() for c in range(9)]
            for r in range(8)
        ]
    )
    fp = 0
    for r in range(8):
        for c in range(8):
            if means[r, c] < means[r, c + 1]:
                fp |= 1 << (r * 8 + c)
    return _to_signed64(fp)


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


@given(
    st.integers(8, 40),
    st.integers(9, 40),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_dhash_matches_naive_reference(h, w, seed):
    """The cross-multiplied integer compare equals the float-mean
    definition whenever the float means are not exactly tied — and when
    they ARE tied the integer form is the well-defined one (strict <),
    so compare through the same tie rule."""
    gray = np.random.RandomState(seed).randint(0, 256, size=(h, w)).astype(np.int64)
    assert dhash_int(gray) == _naive_dhash(gray)


def test_block_sums_exact_partition():
    gray = np.arange(16 * 18, dtype=np.int64).reshape(16, 18)
    sums, areas = _block_sums(gray, 8, 9)
    assert sums.sum() == gray.sum()  # blocks tile the image exactly
    assert areas.sum() == 16 * 18
    assert (areas == 4).all()  # 2x2 everywhere for divisible dims
    with pytest.raises(ValueError, match="smaller than"):
        _block_sums(gray[:4], 8, 9)


def test_gray_pixels_luma_and_passthrough():
    gray = np.array([[[7]]], dtype=np.uint8)
    assert gray_pixels(gray)[0, 0] == 7
    rgb = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255]]], dtype=np.uint8)
    # integer Rec.601, half-up: 299*255/1000=76.245 -> 76, 587*255/1000
    # = 149.685 -> 150 (the +500 rounds), 114*255/1000=29.07 -> 29
    assert list(gray_pixels(rgb)[0]) == [76, 150, 29]


def test_phash_invariance_properties():
    rng = np.random.RandomState(11)
    img = rng.randint(0, 200, size=(48, 64)).astype(np.int64)
    base = phash_int(img)
    # small additive noise on a few pixels barely moves the hash
    noisy = img.copy()
    idx = rng.choice(img.size, 20, replace=False)
    noisy.reshape(-1)[idx] += rng.randint(-8, 9, size=20)
    assert _hamming(base, phash_int(np.clip(noisy, 0, 255))) <= 6
    # global brightness shift is near-invariant (median-threshold form)
    assert _hamming(base, phash_int(np.clip(img + 30, 0, 255))) <= 4
    # an unrelated image is far (expected ~32 of 64 bits)
    other = rng.randint(0, 256, size=(48, 64)).astype(np.int64)
    assert _hamming(base, phash_int(other)) >= 16
    # dHash shows the same contrast
    assert _hamming(dhash_int(img), dhash_int(other)) >= 16


def test_bmp_and_pgm_fingerprints_agree(spark):
    """Format independence: the SAME pixels through either container
    yield the identical fingerprint (decode is lossless; the hash sees
    pixels, not bytes)."""
    rng = np.random.RandomState(3)
    imgs = [rng.randint(0, 256, size=(16, 18)).astype(np.int64) for _ in range(5)]
    rows = []
    for i, g in enumerate(imgs):
        rows.append((2 * i, bytearray(_pgm(g))))
        rows.append((2 * i + 1, bytearray(_bmp_gray8(g))))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r.media_id: r.fingerprint
        for r in image_fingerprints(media).collect()
    }
    for i, g in enumerate(imgs):
        assert got[2 * i] == got[2 * i + 1] == dhash_int(g)


def test_strict_raises_skip_mode_skips(spark):
    media = spark.createDataFrame(
        [(0, bytearray(_pgm(np.zeros((16, 18), dtype=np.int64)))),
         (1, bytearray(b"not an image"))],
        "media_id long, content binary",
    )
    with pytest.raises(Exception, match="undecodable"):
        image_fingerprints(media, strict=True).collect()
    got = image_fingerprints(media, strict=False).collect()
    assert [r.media_id for r in got] == [0]


@given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=2, max_size=24, unique=True))
@settings(max_examples=15, deadline=None)
def test_banding_complete_vs_bruteforce(spark, fps):
    """Pigeonhole completeness: with max_hamming < bands the banded
    join finds EXACTLY the brute-force pair set, for arbitrary signed
    fingerprints (sign bit lives in the top band — the
    shiftrightunsigned path)."""
    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(fps)], "media_id long, fingerprint long"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_band_pairs(df, bands=8, max_hamming=7).collect()
    }
    want = {
        (i, j, _hamming(fps[i], fps[j]))
        for i in range(len(fps))
        for j in range(i + 1, len(fps))
        if _hamming(fps[i], fps[j]) <= 7
    }
    assert got == want


@given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=2, max_size=20, unique=True))
@settings(max_examples=15, deadline=None)
def test_combo_blocking_complete_vs_bruteforce(spark, fps):
    """Manku combination blocking: with 8 blocks and max_hamming=3, at
    least 5 blocks are untouched, so the 56-combination join finds
    EXACTLY the brute-force pair set at hamming <= 3 — for arbitrary
    signed fingerprints (sign bit in the top block, packed keys)."""
    from openmsistream_spark.llm.phash import hamming_combo_pairs

    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(fps)], "media_id long, fingerprint long"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_combo_pairs(
            df, bits=64, blocks=8, max_hamming=3
        ).collect()
    }
    want = {
        (i, j, _hamming(fps[i], fps[j]))
        for i in range(len(fps))
        for j in range(i + 1, len(fps))
        if _hamming(fps[i], fps[j]) <= 3
    }
    assert got == want


def test_combo_blocking_default_params(spark):
    """The DOCUMENTED default signature (bits=64, blocks=8, h=3) must
    itself run and match brute force — round-13 shipped blocks=6 as the
    default, which 64 % 6 != 0 rejected, so every caller had to
    override (advisor finding, round 14)."""
    from openmsistream_spark.llm.phash import hamming_combo_pairs

    fps = [
        _to_signed64(0xDEADBEEF12345678),
        _to_signed64(0xDEADBEEF12345678 ^ 0b111),  # hamming 3 -> pair
        _to_signed64(0xDEADBEEF12345678 ^ 0b11110000),  # hamming 4 -> no
        _to_signed64(0x0123456789ABCDEF),
    ]
    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(fps)], "media_id long, fingerprint long"
    )
    got = {(r.id_a, r.id_b, r.hamming) for r in hamming_combo_pairs(df).collect()}
    assert got == {(0, 1, 3)}


def test_combo_blocking_param_guards():
    from openmsistream_spark.llm.phash import hamming_combo_pairs

    with pytest.raises(ValueError, match="more than"):
        hamming_combo_pairs(None, blocks=4, max_hamming=4)
    with pytest.raises(ValueError, match="not divisible"):
        hamming_combo_pairs(None, bits=64, blocks=7, max_hamming=3)
    with pytest.raises(ValueError, match="exceeds BIGINT"):
        hamming_combo_pairs(None, bits=64, blocks=64, max_hamming=1)


def test_incremental_fingerprint_neardup_across_runs(spark, tmp_path):
    """Cross-run media near-dup ledger: within-batch keep-first,
    ledger blocking across runs, and exactly-once replay semantics
    (same run_id -> identical admitted set; fresh run_id -> empty)."""
    from openmsistream_spark.llm.phash import incremental_fingerprint_neardup
    from openmsistream_spark.operators.registry import make_registry

    reg = make_registry(
        spark, str(tmp_path / "fp_ledger"), ["media_id"], backend="parquet"
    )
    A = 0x0123456789ABCDEF
    B = A ^ 0b101  # hamming 2 from A -> within-batch dup of A
    C = 0x7EDCBA9876543210
    run1 = spark.createDataFrame(
        [(1, _to_signed64(A)), (2, _to_signed64(B)), (3, _to_signed64(C))],
        "media_id long, fingerprint long",
    )
    out1 = {r.media_id for r in incremental_fingerprint_neardup(run1, reg).collect()}
    assert out1 == {1, 3}

    D = A ^ (1 << 63)  # hamming 1 from A -> blocked by the ledger
    E = 0x0F0F0F0F0F0F0F0F
    Fp = E ^ 0b11  # within-batch dup of E
    run2 = spark.createDataFrame(
        [(4, _to_signed64(D)), (5, _to_signed64(E)), (6, _to_signed64(Fp))],
        "media_id long, fingerprint long",
    )
    out2 = {
        r.media_id
        for r in incremental_fingerprint_neardup(run2, reg, run_id="r2").collect()
    }
    assert out2 == {5}
    # replay with the SAME run_id: identical admitted set (exactly-once)
    replay = {
        r.media_id
        for r in incremental_fingerprint_neardup(run2, reg, run_id="r2").collect()
    }
    assert replay == {5}
    # replay with a FRESH run_id: everything already in the ledger
    fresh = {
        r.media_id for r in incremental_fingerprint_neardup(run2, reg).collect()
    }
    assert fresh == set()
    # the ledger holds exactly the admitted fingerprints
    ledger = {r.media_id for r in reg.read().collect()}
    assert ledger == {1, 3, 5}


@pytest.mark.parametrize("sidecar", [False, True])
def test_incremental_chain_replay_is_exactly_once(spark, tmp_path, sidecar):
    """The non-transitive Hamming chain a~b, b~c, a!~c: the greedy
    first run admits {a} only; a replay with the SAME run_id must
    return {a} verbatim (the committed decision short-circuit), NOT
    re-admit c against the post-upsert ledger — on the exact probe
    and on the sidecar-gated one alike."""
    from openmsistream_spark.llm.phash import incremental_fingerprint_neardup
    from openmsistream_spark.operators.registry import make_registry

    a = 0
    b = (1 << 3) | (1 << 17) | (1 << 40)  # hamming(a,b)=3
    c = b | (1 << 5) | (1 << 23) | (1 << 50)  # hamming(b,c)=3, hamming(a,c)=6
    assert bin(a ^ c).count("1") > 3
    reg = make_registry(spark, str(tmp_path / "led"), ["media_id"])
    batch = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "media_id long, fingerprint long"
    )
    first = {
        r.media_id
        for r in incremental_fingerprint_neardup(
            batch, reg, run_id="B0", sidecar=sidecar
        ).collect()
    }
    assert first == {1}  # b dropped by a, c dropped by b (greedy)
    replay = {
        r.media_id
        for r in incremental_fingerprint_neardup(
            batch, reg, run_id="B0", sidecar=sidecar
        ).collect()
    }
    assert replay == {1}  # NOT {1, 3}: committed decision wins
    assert {r.media_id for r in reg.read().collect()} == {1}
    # a FRESH run honestly re-admits c (near no ADMITTED item) — the
    # documented near-dup asymmetry vs exact dedup
    fresh = {
        r.media_id
        for r in incremental_fingerprint_neardup(
            batch, reg, run_id="B1", sidecar=sidecar
        ).collect()
    }
    assert fresh == {3}


@pytest.mark.parametrize("sidecar", [False, True])
def test_incremental_refuses_media_id_content_churn(spark, tmp_path, sidecar):
    """Re-ingesting an already-admitted media_id with DIFFERENT content
    (a far fingerprint, so the hamming probe does not block it) must
    REFUSE rather than silently re-tag the ledger row's run_id — that
    re-tag would shrink the earlier run's exactly-once replay set
    (advisor finding, round 14). Unchanged content under the same id
    stays a silent no-admit (blocked at hamming 0), not an error. On
    the gated path the id bloom has no false negatives, so the guard
    still fires behind it."""
    from openmsistream_spark.llm.phash import incremental_fingerprint_neardup
    from openmsistream_spark.operators.registry import make_registry

    def run(df, run_id):
        return incremental_fingerprint_neardup(
            df, reg, run_id=run_id, sidecar=sidecar
        ).collect()

    reg = make_registry(spark, str(tmp_path / "led"), ["media_id"])
    fp1 = _to_signed64(0x0123456789ABCDEF)
    run1 = spark.createDataFrame([(1, fp1)], "media_id long, fingerprint long")
    assert {r.media_id for r in run(run1, "B0")} == {1}
    # same id, unchanged fingerprint, new run: blocked, no error
    assert run(run1, "B1") == []
    # same id, changed content (far fingerprint): refuse
    churn = spark.createDataFrame(
        [(1, _to_signed64(0x7EDCBA9876543210))], "media_id long, fingerprint long"
    )
    with pytest.raises(ValueError, match="already in the ledger"):
        run(churn, "B2")
    # the refusal left the ledger intact: B0's replay is unharmed
    assert {r.media_id for r in run(run1, "B0")} == {1}


def test_incremental_empty_first_batch_creates_ledger(spark, tmp_path):
    """The one difference between the two commit steps: the exact path
    upserts even an empty admit, so an empty FIRST batch on a fresh
    ledger (``sidecar="auto"`` picks the exact probe there) still
    creates the ledger — the media sink's ``refuse_lost_ledger`` reads
    a missing ledger at batch 1 as a lost one. The next batch then
    admits normally."""
    from openmsistream_spark.llm.phash import incremental_fingerprint_neardup
    from openmsistream_spark.operators.registry import make_registry

    reg = make_registry(
        spark, str(tmp_path / "led"), ["media_id"], backend="log", insert_only=True
    )
    empty = spark.createDataFrame([], "media_id long, fingerprint long")
    assert incremental_fingerprint_neardup(empty, reg, run_id="B0").collect() == []
    assert reg.exists()
    batch = spark.createDataFrame(
        [(1, 0), (2, _to_signed64(0x0123456789ABCDEF))],
        "media_id long, fingerprint long",
    )
    got = incremental_fingerprint_neardup(batch, reg, run_id="B1").collect()
    assert {r.media_id for r in got} == {1, 2}


def test_incremental_exact_path_job_budget(spark, tmp_path):
    """The exact path's Spark job chain stays short and flat as the
    log ledger gains segments: on a base plus 3 deltas, two
    consecutive ``sidecar=False`` calls each launch at most 16 jobs,
    and the second (one more delta live) no more than the first."""
    import random

    from openmsistream_spark.llm.phash import incremental_fingerprint_neardup
    from openmsistream_spark.operators.registry import make_registry

    rng = random.Random(11)

    def frame(lo, n, run_id=None):
        rows = [(lo + i, _to_signed64(rng.getrandbits(64))) for i in range(n)]
        df = spark.createDataFrame(rows, "media_id long, fingerprint long")
        return df if run_id is None else df.withColumn("run_id", F.lit(run_id))

    reg = make_registry(
        spark, str(tmp_path / "led"), ["media_id"], backend="log", insert_only=True
    )
    # a base large enough that the deltas stay under the doubling rule:
    # a compaction inside a call would add its own jobs
    reg.upsert(frame(10_000, 2_000, "prefill"))
    for d in range(3):
        reg.upsert(frame(20_000 + 10 * d, 5, f"d{d}"))
    sc = spark.sparkContext
    jobs = []
    for call in range(2):
        group = f"phash-exact-budget-{call}"
        sc.setJobGroup(group, "incremental_fingerprint_neardup")
        try:
            incremental_fingerprint_neardup(
                frame(100 * call, 20), reg, run_id=f"R{call}", sidecar=False
            )
        finally:
            sc.setJobGroup("", "")
        # the status tracker is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert all(n <= 16 for n in jobs), jobs
    assert jobs[1] <= jobs[0], jobs


def test_incremental_repeated_media_id_keeps_first_row(spark, tmp_path):
    """A batch carrying one media_id twice with far-apart fingerprints
    admits that id once, with its first row; the returned rows are
    exactly the ledger's rows for the run, and a same-run_id replay
    returns them again."""
    from openmsistream_spark.llm.phash import incremental_fingerprint_neardup
    from openmsistream_spark.operators.registry import make_registry

    reg = make_registry(
        spark, str(tmp_path / "led"), ["media_id"], backend="log", insert_only=True
    )
    first = _to_signed64(0x0123456789ABCDEF)
    far = _to_signed64(0x7EDCBA9876543210)
    batch = spark.createDataFrame(
        [(1, _to_signed64(0x0F0F0F0F0F0F0F0F)), (7, first), (7, far)],
        "media_id long, fingerprint long",
    )

    def run():
        out = incremental_fingerprint_neardup(batch, reg, run_id="B0", sidecar=False)
        return sorted((r.media_id, r.fingerprint) for r in out.collect())

    got = run()
    assert got == [(1, _to_signed64(0x0F0F0F0F0F0F0F0F)), (7, first)]
    ledger = reg.read().filter(F.col("run_id") == "B0")
    assert sorted((r.media_id, r.fingerprint) for r in ledger.collect()) == got
    assert run() == got


def _keep_first_reference(ledger_fps, batch, h):
    """Pure-Python admission rule: drop an item within ``h`` of any
    ledger fingerprint, then drop a survivor within ``h`` of a smaller
    surviving id (greedy keep-first)."""
    surv = [
        (i, fp) for i, fp in batch
        if all(_hamming(fp, led) > h for led in ledger_fps)
    ]
    return {
        i for i, fp in surv
        if not any(j < i and _hamming(fp, g) <= h for j, g in surv)
    }


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_incremental_probe_matches_bruteforce(spark, tmp_path, id_type):
    """The NLJ probe (``sidecar=False``) against a brute-force
    reference over two seeded runs: random fingerprints plus planted
    copies at distance exactly h (blocked) and h+1 (admitted), an
    a~b~c chain inside one batch, and second-run copies of a chain
    member the first run dropped."""
    import random

    from openmsistream_spark.llm.phash import incremental_fingerprint_neardup
    from openmsistream_spark.operators.registry import make_registry

    h = 3
    rng = random.Random(7 if id_type == "long" else 8)

    def flip(fp, n):
        for b in rng.sample(range(64), n):
            fp ^= 1 << b
        return fp

    def rand():
        return rng.getrandbits(64)

    a = rand()
    b = flip(a, h)  # a~b and b~c, but c is 2h from a
    c = b
    for bit in [x for x in range(64) if not (a ^ b) >> x & 1][:h]:
        c ^= 1 << bit
    assert _hamming(a, c) == 2 * h
    # positions 0-11 random, 12-14 the chain, 15 is h+1 from 0
    run1 = [rand() for _ in range(12)] + [a, b, c, None]
    run1[15] = flip(run1[0], h + 1)
    # positions 16-25 random; 26/28 are h from run-1 admits, 27 is h+1;
    # 29 repeats b (h from the admitted a), 30 is 1 from c (only b is
    # near it, and b was never admitted)
    run2 = [rand() for _ in range(10)]
    run2 += [flip(run1[1], h), flip(run1[2], h + 1), flip(run1[3], h)]
    run2 += [b, flip(c, 1)]
    ids = rng.sample(range(1000), len(run1) + len(run2))
    if id_type == "string":
        ids = [f"m{i}" for i in ids]
    ids[12:15] = sorted(ids[12:15])  # the chain runs a < b < c by id
    batches = [list(zip(ids[:16], run1)), list(zip(ids[16:], run2))]

    reg = make_registry(
        spark, str(tmp_path / "led"), ["media_id"], backend="log", insert_only=True
    )
    ledger, wants = [], []
    for n, rows in enumerate(batches):
        want = _keep_first_reference(ledger, rows, h)
        df = spark.createDataFrame(
            [(i, _to_signed64(fp)) for i, fp in rows],
            f"media_id {id_type}, fingerprint long",
        )
        got = incremental_fingerprint_neardup(
            df, reg, max_hamming=h, run_id=f"R{n}", sidecar=False
        ).collect()
        assert {r.media_id for r in got} == want, f"run {n}"
        ledger += [fp for i, fp in rows if i in want]
        wants.append(want)
    # the planted cases land on the intended side of the budget
    assert {ids[k] for k in (0, 12, 15)} <= wants[0]
    assert not {ids[k] for k in (13, 14)} & wants[0]
    assert {ids[k] for k in (27, 30)} <= wants[1]
    assert not {ids[k] for k in (26, 28, 29)} & wants[1]


def test_planted_neardup_recall_end_to_end(spark):
    """The ANN_RECALL-style control: 30 distinct base images, each with
    a noised twin (4 perturbed pixels). Every planted (base, twin) pair
    must come back from the banded sweep (completeness ⇒ recall 1.0 on
    pairs within the hamming budget), and no pair may bridge two
    different base images (the random images sit ~32 bits apart)."""
    rng = np.random.RandomState(42)
    rows = []
    planted = set()
    for i in range(30):
        g = rng.randint(0, 256, size=(16, 18)).astype(np.int64)
        twin = g.copy()
        idx = rng.choice(g.size, 4, replace=False)
        twin.reshape(-1)[idx] = rng.randint(0, 256, size=4)
        assert _hamming(dhash_int(g), dhash_int(twin)) <= 7, "planted pair too far"
        rows.append((2 * i, bytearray(_pgm(g))))
        rows.append((2 * i + 1, bytearray(_pgm(twin))))
        planted.add((2 * i, 2 * i + 1))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    pairs = {
        (r.id_a, r.id_b)
        for r in image_neardup_pairs(media, max_hamming=7).collect()
    }
    assert planted <= pairs, f"missed planted pairs: {planted - pairs}"
    cross = {
        (a, b) for a, b in pairs if a // 2 != b // 2
    }
    assert not cross, f"false bridges between unrelated images: {cross}"


def test_image_fingerprints_plan_is_one_arrow_stage(spark):
    media = spark.createDataFrame(
        [(0, bytearray(_pgm(np.zeros((16, 18), dtype=np.int64))))],
        "media_id long, content binary",
    )
    plan = image_neardup_pairs(media)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") <= 2  # the cached decode+hash stage
