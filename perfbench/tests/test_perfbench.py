"""Fast tests of the benchmark itself: no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import hashlib
import json
import os

import numpy as np
import pytest

from perfbench import check, gen, trace, traced

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---- generators ------------------------------------------------------------


def test_generators_are_deterministic_per_seed():
    assert gen.make_files(7) == gen.make_files(7)
    assert gen.make_files(7) != gen.make_files(8)
    b1, old1, p1 = gen.make_media(7, 2, 24)
    b2, old2, p2 = gen.make_media(7, 2, 24)
    assert (b1, old1, p1) == (b2, old2, p2)
    assert gen.make_media(8, 2, 24)[0] != b1
    assert gen.make_documents(7, 2, 40) == gen.make_documents(7, 2, 40)
    assert gen.make_documents(8, 2, 40) != gen.make_documents(7, 2, 40)
    assert np.array_equal(gen.prefill_fingerprints(7, 50), gen.prefill_fingerprints(7, 50))
    digest = gen.inputs_digest([b1, old1, gen.prefill_fingerprints(7, 50)])
    assert digest == gen.inputs_digest([b2, old2, gen.prefill_fingerprints(7, 50)])


def test_file_sizes_fixed_per_seed_in_chunks():
    def n_chunks(files):
        return sum(-(-len(d) // gen.CHUNK) for d in files.values())

    assert n_chunks(gen.make_files(1)) == n_chunks(gen.make_files(2))


def test_relayout_plants_corruption_only_on_duplicates():
    msgs = [(f"k{i}".encode(), bytes([i]) * 40) for i in range(40)]
    segs, planted = gen.relayout_messages(msgs, seed=3, n_segments=4)
    flat = [m for s in segs for m in s]
    assert len(flat) == 40 + planted["duplicates"]
    originals = set(msgs)
    # every original delivered at least once, untouched
    assert originals <= set(flat)
    corrupt = [m for m in flat if m not in originals]
    assert len(corrupt) == planted["corrupt"] > 0
    assert segs == gen.relayout_messages(msgs, seed=3, n_segments=4)[0]


def test_documents_plant_what_the_truth_says():
    batches, truth = gen.make_documents(5, 3, 60)
    text = {d: t for rows in batches for d, t in rows}
    norm = {d: " ".join(t.split()).lower() for d, t in text.items()}
    for copy, src in truth["exact"].items():
        assert norm[copy] == norm[src] and copy > src
    for near, src in truth["near"].items():
        assert norm[near] != norm[src] and near > src
    for d in truth["low_quality"]:
        assert len(text[d].split()) < 20


# ---- span arithmetic -------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.5, "end": 12.0},  # ends past its parent
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 0.5)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_wraps_module_function_where_imported():
    import types

    calls = []
    mod = types.ModuleType("faketracedmod")

    def work(x):
        calls.append(x)
        return x * 2

    mod.work = work
    tr = trace.Tracer()
    tr.wrap(mod, "work", "fake.work")
    tr.enabled = True
    assert mod.work(3) == 6
    tr.enabled = False
    tr.unwrap_all()
    assert mod.work is work
    assert [s["name"] for s in tr.spans] == ["fake.work"]
    assert calls == [3]


# ---- event log -------------------------------------------------------------


def test_traced_names_are_the_per_layer_list_of_every_workload():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    for w in bench["workloads"]:
        assert traced.metric_names(w["name"]) == listed


def test_event_log_folds_by_job_group():
    events = list(trace.read_events(os.path.join(FIXTURES, "eventlog_tiny")))
    folded = trace.fold_event_log(events)
    mine = folded["perfbench:3"]
    assert trace.span_of_group("perfbench:3") == 3
    assert mine["jobs"] == 1 and mine["tasks"] == 2
    assert mine["run_ms"] == 100 and mine["cpu_ns"] == 80_000_000 and mine["gc_ms"] == 5
    assert mine["shuffle_bytes"] == 2048 and mine["spill_bytes"] == 2560
    assert folded["3f2c-stream-run-id"]["jobs"] == 1
    assert folded[None]["tasks"] == 2
    total = trace.totals(folded)
    assert total["jobs"] == 3 and total["run_ms"] == 113
    # only jobs submitted inside the window count
    late = trace.totals(trace.fold_event_log(events, window=(1001.0, 1004.0)))
    assert late["jobs"] == 2 and late["run_ms"] == 13


# ---- checkers fail on planted wrong answers ---------------------------------


def test_file_check_catches_flipped_byte_missing_and_extra(tmp_path):
    files = {"a.dat": b"abc" * 100, "sub/b.dat": b"xyz" * 7}
    digests = {k: hashlib.sha512(v).hexdigest() for k, v in files.items()}
    gen.write_files(files, str(tmp_path))
    assert check.check_files(str(tmp_path), digests) == []
    p = tmp_path / "sub" / "b.dat"
    data = bytearray(p.read_bytes())
    data[3] ^= 1
    p.write_bytes(bytes(data))
    assert check.check_files(str(tmp_path), digests) == ["sha512 mismatch for sub/b.dat"]
    p.unlink()
    (tmp_path / "c.dat").write_bytes(b"!")
    assert check.check_files(str(tmp_path), digests) == [
        "missing file sub/b.dat", "extra file c.dat"
    ]


def test_reference_dhash_matches_the_package():
    from openmsistream_spark.llm.phash import dhash_int, gray_pixels

    batches, old, _ = gen.make_media(3, 1, 24)
    for _, data in batches[0] + old[:5]:
        px = check.decode_pgm(data)
        assert check.dhash(px) == dhash_int(gray_pixels(px[:, :, None]))


def test_keep_first_rule():
    ledger = np.array([0b1111], dtype=np.int64)
    items = [(5, 0b1110), (1, 0b11110000), (2, 0b11110001), (3, -1)]
    # 5 is within 1 bit of the ledger; 2 is within 1 bit of smaller id 1
    assert check.keep_first(items, ledger, max_hamming=1) == [(1, 0b11110000), (3, -1)]


def test_media_check_catches_a_dropped_admitted_id():
    batches, old, _ = gen.make_media(4, 2, 24)
    prefill = gen.prefill_fingerprints(4, 100)
    want = check.media_reference(prefill, old, batches, 3)
    assert check.check_media([dict(b) for b in want], want) == []
    got = [dict(b) for b in want]
    got[1].pop(next(iter(got[1])))
    assert check.check_media(got, want)
    # planted near-copies of old images are blocked by the pre-filled ledger
    assert sum(len(b) for b in want) < sum(len(b) for b in batches)


def _ideal_survivors(batches, truth):
    """The survivors a correct sink without the within-batch collapse
    produces: the first member of every exact group, plus near-copies
    whose source group first appears in their own batch."""
    batch_of = {d: b for b, rows in enumerate(batches) for d, _ in rows}
    group = {d: d for d in truth["unique"]}
    group.update(truth["exact"])
    first = {}
    for d in sorted(group, key=lambda d: (batch_of[d], d)):
        first.setdefault(group[d], d)
    out = [(batch_of[d], d) for d in first.values()]
    out += [
        (batch_of[n], n) for n, src in truth["near"].items()
        if batch_of[first[group[src]]] == batch_of[n]
    ]
    return out


def test_curation_check_catches_planted_wrong_answers():
    batches, truth = gen.make_documents(6, 3, 60)
    good = _ideal_survivors(batches, truth)
    assert check.check_curation(good, batches, truth) == []
    # one admitted unique dropped
    u = truth["unique"][0]
    assert check.check_curation([s for s in good if s[1] != u], batches, truth)
    # a near-duplicate of an earlier batch's doc kept
    batch_of = {d: b for b, rows in enumerate(batches) for d, _ in rows}
    late = next(n for n, s in truth["near"].items() if batch_of[s] < batch_of[n])
    assert check.check_curation(good + [(batch_of[late], late)], batches, truth)
    # a low-quality doc kept
    low = truth["low_quality"][0]
    assert check.check_curation(good + [(batch_of[low], low)], batches, truth)
