"""Bloom sidecar + write-time combo index for the incremental
fingerprint probe (llm/phash_index.py): equivalence with the exact
probe, crash/lost-sidecar repair, params refusal, pushdown shape."""

import shutil

import pytest
from pyspark.sql import functions as F


def _fp(bits_set):
    v = 0
    for b in bits_set:
        v |= 1 << b
    return v


BASE = _fp([1, 5, 9, 17, 33, 49, 60])
NEAR2 = BASE ^ _fp([2, 40])          # hamming 2 from BASE -> blocked
FAR = _fp([0, 8, 16, 24, 32, 40, 48, 56])
FAR_NEAR1 = FAR ^ _fp([7])           # hamming 1 from FAR
LONE = _fp([3, 11, 22, 44, 58])


def _frame(spark, rows):
    return spark.createDataFrame(rows, "media_id string, fingerprint long")


def _run(spark, reg, rows, run_id, **kw):
    from openmsistream_spark.llm.phash import incremental_fingerprint_neardup

    return {
        r.media_id
        for r in incremental_fingerprint_neardup(
            _frame(spark, rows), reg, run_id=run_id, **kw
        ).collect()
    }


@pytest.fixture(scope="module")
def r0_states(spark, tmp_path_factory):
    """The two r0 ledgers most sidecar tests start from, built once per
    module with ``sidecar=True``: ``[a1]`` and ``[a1, a2]``."""
    from openmsistream_spark.operators.registry import make_registry

    base = tmp_path_factory.mktemp("r0_states")
    states = {"a1": [("a1", BASE)], "a1a2": [("a1", BASE), ("a2", FAR)]}
    for name, rows in states.items():
        reg = make_registry(spark, f"{base}/{name}", ["media_id"], backend="log",
                            insert_only=True)
        assert _run(spark, reg, rows, "r0", sidecar=True) == {r[0] for r in rows}
    return base


@pytest.fixture()
def r0_copy(spark, tmp_path, r0_states):
    """``r0_copy(name)`` -> (registry, ledger path): a private copy of an
    r0 state, ledger and ``.probeidx`` both."""
    from openmsistream_spark.operators.registry import make_registry

    def copy(name, with_sidecar=True):
        path = f"{tmp_path}/led"
        shutil.copytree(f"{r0_states}/{name}", path)
        if with_sidecar:
            shutil.copytree(f"{r0_states}/{name}.probeidx", f"{path}.probeidx")
        reg = make_registry(spark, path, ["media_id"], backend="log",
                            insert_only=True)
        return reg, path

    return copy


@pytest.fixture()
def regs(spark, tmp_path):
    from openmsistream_spark.operators.registry import make_registry

    return (
        make_registry(spark, f"{tmp_path}/gated", ["media_id"], backend="log",
                      insert_only=True),
        make_registry(spark, f"{tmp_path}/exact", ["media_id"], backend="log",
                      insert_only=True),
    )


def test_sidecar_matches_exact_probe(spark, regs):
    """The gated path must admit EXACTLY the exact path's sets:
    cross-run blocks, within-batch keep-first, and clean admits —
    bloom positivity alone never blocks, bloom negativity never
    misses a committed near-dup."""
    gated, exact = regs
    b1 = [("a1", BASE), ("a2", FAR)]
    # b2: exact dup (blocked), hamming-2 (blocked), within-batch pair
    # (keep smaller id), clean admit
    b2 = [("b1", BASE), ("b2", NEAR2), ("b3", LONE), ("b4", LONE ^ 1), ("b5", FAR_NEAR1)]
    b3 = [("c1", LONE ^ (1 << 50)), ("c2", _fp([12, 13, 14, 15, 16, 20]))]
    for i, rows in enumerate([b1, b2, b3]):
        got = _run(spark, gated, rows, f"r{i}", sidecar=True)
        want = _run(spark, exact, rows, f"r{i}", sidecar=False)
        assert got == want, f"batch {i}: gated={got} exact={want}"
    assert _run(spark, gated, b2, "r1", sidecar=True) == {"b3"}  # replay verbatim


def test_sidecar_repairs_out_of_band_append(spark, r0_copy):
    """Ledger rows the sidecar never covered (crash between ledger
    commit and sidecar update, or a direct registry upsert) must still
    block — the coverage check repairs from the ledger before probing,
    so the bloom can't have false negatives for committed rows."""
    reg, _ = r0_copy("a1")  # r0 admitted {"a1"}
    # out-of-band append: the sidecar knows nothing about FAR
    reg.upsert(
        spark.createDataFrame([("oob", FAR, "rX")],
                              "media_id string, fingerprint long, run_id string")
    )
    got = _run(spark, reg, [("b1", FAR_NEAR1), ("b2", LONE)], "r1", sidecar=True)
    assert got == {"b2"}  # FAR_NEAR1 blocked by the uncovered row


def test_sidecar_lost_then_rebuilt(spark, r0_copy):
    """Deleting the sidecar must not change verdicts: the next call
    falls back to one exact O(ledger) repair (never admits on bloom
    alone), rebuilds, and subsequent calls are gated again."""
    reg, path = r0_copy("a1a2")  # r0 admitted {"a1", "a2"}
    shutil.rmtree(f"{path}.probeidx")
    got = _run(spark, reg, [("b1", NEAR2), ("b2", LONE)], "r1", sidecar=True)
    assert got == {"b2"}
    # rebuilt: a third batch still blocks against ALL earlier runs
    got = _run(spark, reg, [("c1", FAR_NEAR1), ("c2", LONE ^ 1)], "r2", sidecar=True)
    assert got == set()


def test_sidecar_refuses_param_change(spark, r0_copy):
    reg, _ = r0_copy("a1")
    with pytest.raises(ValueError, match="different"):
        _run(spark, reg, [("b1", FAR)], "r1", max_hamming=2, sidecar=True)


def test_sidecar_tiny_bloom_resizes_and_stays_exact(spark, tmp_path):
    """A deliberately saturated bloom (tiny mask) must auto-resize and
    never change verdicts — saturation only costs extra exact checks."""
    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar
    from openmsistream_spark.operators.registry import make_registry

    path = f"{tmp_path}/led"
    reg = make_registry(spark, path, ["media_id"], backend="log", insert_only=True)
    opts = {"combo_m_bits": 1 << 10, "id_m_bits": 1 << 10}
    rows = [(f"a{i}", _fp([i % 60, (i * 7) % 60, (i * 13) % 60]) | (1 << 62))
            for i in range(40)]
    _run(spark, reg, rows, "r0", sidecar=True, sidecar_opts=opts)
    sc_state = FingerprintProbeSidecar(spark, path, 64, 8, 3, **opts)
    sc_state.load_or_init()
    assert sc_state.combo_bloom.m_bits > (1 << 10)  # resized
    # verdicts still exact: an exact dup of an r0 admit is blocked
    admitted0 = {r.media_id for r in reg.read().filter("run_id='r0'").collect()}
    a_fp = {r.media_id: r.fingerprint for r in reg.read().collect()}
    some = sorted(admitted0)[0]
    got = _run(spark, reg, [("z1", a_fp[some]), ("z2", _fp([59, 61]))], "r1",
               sidecar=True, sidecar_opts=opts)
    assert got == {"z2"}


def test_sidecar_index_probe_is_pushdown_pruned(spark, r0_copy):
    """The gated probe's index read must carry a pushed IN filter on
    combo_key (the write-time index is sorted by combo_key inside each
    segment so row-group stats prune the scan)."""
    from openmsistream_spark.llm.phash import _combo_keyed
    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar

    _, path = r0_copy("a1a2")
    sc_state = FingerprintProbeSidecar(spark, path, 64, 8, 3)
    sc_state.load_or_init()
    keyed = _combo_keyed(
        spark.createDataFrame([("p1", NEAR2)], "media_id string, fingerprint long")
        .select(F.col("media_id").alias("_id"), F.col("fingerprint").alias("_fp")),
        64, 8, 3,
    )
    blocked = sc_state.blocked_ids(keyed)
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "combo_key" in plan
    assert {r._id for r in blocked.collect()} == {"p1"}


def test_auto_builds_no_sidecar_under_pair_budget(spark, tmp_path):
    """sidecar="auto" (the default) must NOT build a sidecar while
    ledger rows x batch rows stay within the pair budget — the NLJ
    probe is cheaper there — while admitting exactly the same sets
    (pure cost policy)."""
    import os

    from openmsistream_spark.operators.registry import make_registry

    path = f"{tmp_path}/led"
    reg = make_registry(spark, path, ["media_id"], backend="log",
                        insert_only=True)
    assert _run(spark, reg, [("a1", BASE), ("a2", FAR)], "r0") == {"a1", "a2"}
    got = _run(spark, reg, [("b1", NEAR2), ("b2", LONE)], "r1")
    assert got == {"b2"}
    assert not os.path.exists(f"{path}.probeidx")


def test_auto_keeps_maintaining_existing_sidecar(spark, r0_copy):
    """Once a sidecar exists (an earlier run crossed the pair budget or
    forced sidecar=True), auto keeps it current instead of letting it
    go stale-then-repair every batch."""
    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar

    reg, path = r0_copy("a1")
    got = _run(spark, reg, [("b1", NEAR2), ("b2", LONE)], "r1")  # auto
    assert got == {"b2"}
    sc_state = FingerprintProbeSidecar(spark, path, 64, 8, 3)
    sc_state.load_or_init()
    assert sc_state.covered == {"r0", "r1"}  # auto batch was recorded


def test_auto_switches_to_sidecar_past_pair_budget(spark, r0_copy, monkeypatch):
    """Auto must build the sidecar (via the normal repair path) once
    ledger rows x batch rows exceed NLJ_PAIR_BUDGET — and not at the
    budget itself."""
    import os

    from openmsistream_spark.llm import phash

    reg, path = r0_copy("a1", with_sidecar=False)  # 1 ledger row, no sidecar
    monkeypatch.setattr(phash, "NLJ_PAIR_BUDGET", 2)
    # 1 x 2 pairs: at the budget, still the NLJ
    assert _run(spark, reg, [("b1", FAR), ("b2", NEAR2)], "r1") == {"b1"}
    assert not os.path.exists(f"{path}.probeidx")
    # 2 x 2 pairs: past it
    got = _run(spark, reg, [("c1", LONE), ("c2", FAR_NEAR1)], "r2")
    assert got == {"c1"}
    assert os.path.exists(f"{path}.probeidx")  # repair built the index
    # and the now-existing sidecar keeps gating + blocking correctly
    monkeypatch.setattr(phash, "NLJ_PAIR_BUDGET", 10**18)
    assert _run(spark, reg, [("d1", LONE ^ 1), ("d2", _fp([2, 30]))], "r3") == {"d2"}


def test_sidecar_cold_reload_replays_deltas(spark, r0_copy):
    """Per-batch mask persistence is a POSITION delta, not a mask
    rewrite; a cold load (no session cache) must fold snapshot +
    deltas back into the exact mask so verdicts are unchanged."""
    from openmsistream_spark.llm import phash_index
    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar

    # batch 1 (r0) commits the first snapshot; batches 2-3 append deltas
    reg, path = r0_copy("a1")
    _run(spark, reg, [("a2", FAR)], "r1", sidecar=True)
    _run(spark, reg, [("a3", LONE)], "r2", sidecar=True)
    sc_state = FingerprintProbeSidecar(spark, path, 64, 8, 3)
    sc_state.load_or_init()
    assert sc_state.snap_id is not None and sc_state.delta_seq == 2
    # cold reload: wipe the driver cache so masks come from storage
    phash_index._STATE_CACHE.clear()
    got = _run(
        spark, reg,
        [("z1", NEAR2), ("z2", FAR_NEAR1), ("z3", LONE ^ 1), ("z4", _fp([2, 30]))],
        "r3", sidecar=True,
    )
    # every near-dup of a delta-covered admit is still blocked
    assert got == {"z4"}


def test_sidecar_snapshot_rollover_bounds_deltas(spark, tmp_path):
    """Once accumulated delta bytes exceed the mask bytes the sidecar
    must roll a fresh snapshot (delta_seq resets) and GC superseded
    dirs — the amortized-O(batch) persistence rule."""
    import os

    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar
    from openmsistream_spark.operators.registry import make_registry

    path = f"{tmp_path}/led"
    reg = make_registry(spark, path, ["media_id"], backend="log",
                        insert_only=True)
    # tiny masks: any batch's packed positions outweigh 2x 1 KiB masks
    opts = {"combo_m_bits": 1 << 13, "id_m_bits": 1 << 13}
    _run(spark, reg, [("a1", BASE), ("a2", FAR)], "r0", sidecar=True,
         sidecar_opts=opts)
    _run(spark, reg, [("a3", LONE), ("a4", _fp([12, 13, 14, 15, 16, 20]))],
         "r1", sidecar=True, sidecar_opts=opts)
    sc_state = FingerprintProbeSidecar(spark, path, 64, 8, 3, **opts)
    sc_state.load_or_init()
    assert sc_state.delta_seq == 0  # every batch rolled a snapshot
    names = os.listdir(f"{path}.probeidx/masks")
    assert len([n for n in names if n.startswith("snap-")]) == 1  # GC'd
    assert not [n for n in names if n.startswith("delta-")]
    got = _run(spark, reg, [("b1", NEAR2), ("b2", _fp([2, 30]))], "r2",
               sidecar=True, sidecar_opts=opts)
    assert got == {"b2"}


@pytest.mark.parametrize("layout", ["inline_masks", "inline_runs"])
def test_sidecar_legacy_meta_is_refused(spark, r0_copy, layout):
    """A meta table in a layout this class does not write — masks
    chunked inline (no snap_id column), or covered runs inline instead
    of in the run log — is refused at load with the delete-and-repair
    fix, and deleting the sidecar lets the next probe rebuild it."""
    from pyspark.sql.types import (BinaryType, LongType, StringType,
                                   StructField, StructType)

    from openmsistream_spark.llm import phash_index
    from openmsistream_spark.llm.phash_index import (_META_SCHEMA,
                                                     FingerprintProbeSidecar)
    from openmsistream_spark.operators.registry import ParquetRegistry

    reg, path = r0_copy("a1")
    live = FingerprintProbeSidecar(spark, path, 64, 8, 3)
    live.load_or_init()
    if layout == "inline_masks":
        schema = StructType(
            [
                StructField("kind", StringType()),
                StructField("chunk", LongType()),
                StructField("mask", BinaryType()),
                StructField("run_id", StringType()),
                StructField("n_items", LongType()),
                StructField("m_bits", LongType()),
                StructField("id_m_bits", LongType()),
                StructField("k", LongType()),
                StructField("bits", LongType()),
                StructField("blocks", LongType()),
                StructField("max_hamming", LongType()),
            ]
        )
        rows = [
            ("meta", 0, None, None, live.n_items, live.combo_bloom.m_bits,
             live.id_bloom.m_bits, live.k, 64, 8, 3),
            ("cmask", 0, live.combo_bloom.mask, None, None, None, None, None,
             None, None, None),
            ("imask", 0, live.id_bloom.mask, None, None, None, None, None,
             None, None, None),
            ("run", 0, None, "r0", None, None, None, None, None, None, None),
        ]
    else:
        schema = _META_SCHEMA
        rows = [
            ("meta", 0, None, None, live.n_items, live.combo_bloom.m_bits,
             live.id_bloom.m_bits, live.k, 64, 8, 3, live.snap_id,
             live.delta_seq, live._combo.n_keys),
            ("run", 0, None, "r0", None, None, None, None, None, None, None,
             None, None, None),
        ]
    ParquetRegistry(spark, f"{path}.probeidx/meta", ["kind", "chunk"]).replace(
        spark.createDataFrame(rows, schema)
    )
    phash_index._STATE_CACHE.clear()
    with pytest.raises(ValueError, match=r"\.probeidx and repair\(\) rebuilds"):
        FingerprintProbeSidecar(spark, path, 64, 8, 3).load_or_init()
    with pytest.raises(ValueError, match="older layout"):
        _run(spark, reg, [("b1", NEAR2), ("b2", LONE)], "r1", sidecar=True)
    # the documented fix: delete the sidecar; the next probe repairs it
    shutil.rmtree(f"{path}.probeidx")
    got = _run(spark, reg, [("b1", NEAR2), ("b2", LONE)], "r1", sidecar=True)
    assert got == {"b2"}
    rebuilt = FingerprintProbeSidecar(spark, path, 64, 8, 3)
    rebuilt.load_or_init()
    assert rebuilt.covered == {"r0", "r1"}


def test_sidecar_meta_commit_is_one_row(spark, tmp_path):
    """The per-batch meta commit must stay ONE row regardless of how
    many runs the sidecar has ever covered — covered runs ride the
    append-only run log (the pre-r17 layout rewrote one meta row per
    run id EVER, every batch: O(total runs) per commit)."""
    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar
    from openmsistream_spark.operators.registry import make_registry

    path = f"{tmp_path}/led"
    reg = make_registry(spark, path, ["media_id"], backend="log",
                        insert_only=True)
    # pairwise hamming 8 (> max_hamming 3): every batch admits
    for i in range(5):
        fp = _fp([i, i + 16, i + 32, i + 48])
        assert _run(spark, reg, [(f"a{i}", fp)], f"r{i}", sidecar=True) == {f"a{i}"}
    sc = FingerprintProbeSidecar(spark, path, 64, 8, 3)
    sc.load_or_init()
    meta_rows = sc.meta.read().collect()
    assert [r.kind for r in meta_rows] == ["meta"]  # no per-run rows
    assert sc.covered == {f"r{i}" for i in range(5)}  # run log has them
    assert sc.n_items == 5


def test_sidecar_empty_admit_writes_nothing(spark, r0_copy):
    """A batch that admits nothing must not touch the sidecar at all:
    the ledger holds no rows for that run (repair scopes by ledger
    rows), and a replay recomputes the same empty set from the same
    ledger state."""
    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar

    reg, path = r0_copy("a1")  # r0 admitted {"a1"}
    before = sorted(
        (r.kind, r.chunk)
        for r in FingerprintProbeSidecar(spark, path, 64, 8, 3).meta.read().collect()
    )
    assert _run(spark, reg, [("b1", BASE)], "r1", sidecar=True) == set()
    sc = FingerprintProbeSidecar(spark, path, 64, 8, 3)
    sc.load_or_init()
    assert sc.covered == {"r0"}  # the empty run was (correctly) not logged
    assert sc.n_items == 1
    after = sorted((r.kind, r.chunk) for r in sc.meta.read().collect())
    assert after == before
    # and subsequent probes still block exactly
    assert _run(spark, reg, [("c1", NEAR2), ("c2", LONE)], "r2",
                sidecar=True) == {"c2"}


def test_sidecar_resize_manual_defers_then_rebuild_now(spark, tmp_path):
    """resize="manual" keeps the O(ledger-keys) mask rebuild out of the
    ingest path (verdicts stay exact — a saturated bloom only costs
    extra exact verifies); the operator-scheduled rebuild_now() then
    grows the masks and commits, off the ingest path."""
    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar
    from openmsistream_spark.operators.registry import make_registry

    path = f"{tmp_path}/led"
    reg = make_registry(spark, path, ["media_id"], backend="log",
                        insert_only=True)
    opts = {"combo_m_bits": 1 << 10, "id_m_bits": 1 << 10, "resize": "manual"}
    rows = [(f"a{i}", _fp([i % 60, (i * 7) % 60, (i * 13) % 60]) | (1 << 62))
            for i in range(40)]
    _run(spark, reg, rows, "r0", sidecar=True, sidecar_opts=opts)
    sc = FingerprintProbeSidecar(spark, path, 64, 8, 3, **opts)
    sc.load_or_init()
    assert sc.combo_bloom.m_bits == 1 << 10  # deferred: no auto-resize
    # saturated bloom, exact verdicts: a dup is blocked, a novel admits
    admitted0 = {r.media_id for r in reg.read().filter("run_id='r0'").collect()}
    a_fp = {r.media_id: r.fingerprint for r in reg.read().collect()}
    some = sorted(admitted0)[0]
    got = _run(spark, reg, [("z1", a_fp[some]), ("z2", _fp([59, 61]))], "r1",
               sidecar=True, sidecar_opts=opts)
    assert got == {"z2"}
    # operator-scheduled rebuild off the ingest path
    sc = FingerprintProbeSidecar(spark, path, 64, 8, 3, **opts)
    sc.load_or_init()
    assert sc.rebuild_now() is True
    sc2 = FingerprintProbeSidecar(spark, path, 64, 8, 3, **opts)
    sc2.load_or_init()
    assert sc2.combo_bloom.m_bits > (1 << 10)
    assert sc2.rebuild_now() is False  # steady state: nothing to do
    # verdicts unchanged after the rebuild (no r0 fingerprint shares
    # two of y2's bits, so hamming > 3 from every ledger row, and
    # hamming 5 from r1's z2 admit)
    got = _run(spark, reg, [("y1", a_fp[some]), ("y2", _fp([6, 27, 45]))],
               "r2", sidecar=True, sidecar_opts=opts)
    assert got == {"y2"}


def test_sidecar_mask_growth_clamps_at_envelope(spark, tmp_path):
    """Auto-growth clamps at max_m_bits (the per-worker broadcast
    envelope) with a warning instead of growing past it — the bloom
    saturates, verdicts stay exact."""
    import warnings

    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar
    from openmsistream_spark.operators.registry import make_registry

    path = f"{tmp_path}/led"
    reg = make_registry(spark, path, ["media_id"], backend="log",
                        insert_only=True)
    opts = {"combo_m_bits": 1 << 10, "id_m_bits": 1 << 10,
            "max_m_bits": 1 << 12}
    rows = [(f"a{i}", _fp([i % 60, (i * 7) % 60, (i * 13) % 60]) | (1 << 62))
            for i in range(40)]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _run(spark, reg, rows, "r0", sidecar=True, sidecar_opts=opts)
    assert any("clamped" in str(x.message) for x in w)
    sc = FingerprintProbeSidecar(spark, path, 64, 8, 3, **opts)
    sc.load_or_init()
    assert sc.combo_bloom.m_bits <= 1 << 12
    # saturated but exact
    admitted0 = {r.media_id for r in reg.read().filter("run_id='r0'").collect()}
    a_fp = {r.media_id: r.fingerprint for r in reg.read().collect()}
    some = sorted(admitted0)[0]
    got = _run(spark, reg, [("z1", a_fp[some]), ("z2", _fp([59, 61]))], "r1",
               sidecar=True, sidecar_opts=opts)
    assert got == {"z2"}


@pytest.mark.parametrize(
    "max_m_bits, ok",
    [(3 << 30, False), ((1 << 33) + 8, False), (1 << 33, True)],
    ids=["3x2^30", "2^33+8", "2^33"],
)
def test_sidecar_ctor_refuses_non_power_of_two_envelope(
    spark, tmp_path, max_m_bits, ok
):
    """A max_m_bits the growth clamp could not hand to the chunked
    mask builder is refused at construction, not at the clamp inside
    foreachBatch long after configuration."""
    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar

    def make():
        return FingerprintProbeSidecar(spark, f"{tmp_path}/led", 64, 8, 3,
                                       max_m_bits=max_m_bits)

    if ok:
        assert make().max_m_bits == max_m_bits
    else:
        with pytest.raises(ValueError, match="power of two"):
            make()


def test_sidecar_ctor_refuses_mask_beyond_envelope(spark, tmp_path):
    from openmsistream_spark.llm.phash_index import FingerprintProbeSidecar

    with pytest.raises(ValueError, match="envelope"):
        FingerprintProbeSidecar(spark, f"{tmp_path}/led", 64, 8, 3,
                                combo_m_bits=1 << 34)
