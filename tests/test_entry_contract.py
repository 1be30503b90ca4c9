"""Driver-contract guards: the catalog ordering in __spark_entry__ must
(a) expose every catalog query exactly once, (b) resolve source files for
every query so change detection works, and (c) front-load queries whose
implementing source changed after their last driver-green round."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from openmsistream_spark.queries import QUERIES  # noqa: E402


def test_ordered_names_is_a_permutation_of_the_catalog():
    names = entry._ordered_names()
    assert sorted(names) == sorted(QUERIES)
    assert len(names) == len(set(names))


def test_load_all_registers_extras_in_numeric_order():
    """catalog.load_all imports queries_extras, queries_extras2 … by
    numeric suffix (a lexical sort would load extras10 before extras2),
    and calling it again changes nothing."""
    from openmsistream_spark.catalog import load_all

    before = list(QUERIES)
    assert load_all() is QUERIES and list(QUERIES) == before
    mods = dict.fromkeys(q.fn.__module__.rsplit(".", 1)[1] for q in QUERIES.values())
    nums = [
        int(m.removeprefix("queries_extras") or 1)
        for m in mods
        if m.startswith("queries_extras")
    ]
    assert nums == list(range(1, len(nums) + 1)) and len(nums) >= 12


def test_every_query_resolves_source_files():
    for name in QUERIES:
        files = entry._query_source_files(name)
        assert files, name
        for rel in files:
            assert os.path.isfile(os.path.join(REPO, rel)), (name, rel)


def test_source_files_exclude_registration_only_edges():
    """queries.py imports every queries_* module purely to register
    them; those edges must NOT count as dependencies, else one edit to
    any query module marks the whole catalog stale and a capped driver
    sweep starves never-verified names. Under the name-usage-precise
    closure this holds by construction — only REFERENCED symbols create
    edges — so a registrar MAY legitimately appear when a query imports
    a symbol from it (semdedup_pairs_seeded → queries_llm._EMB_NORM_CTE)
    but never from registration alone."""
    agg = "openmsistream_spark.queries"
    registrars = {q.fn.__module__ for q in QUERIES.values()}
    for name, q in QUERIES.items():
        own_mod = sys.modules[q.fn.__module__]
        own_file = os.path.relpath(own_mod.__file__, REPO)
        files = entry._query_source_files(name)
        assert own_file in files, name
    # queries defined IN the aggregator reference no other registrar's
    # symbols, so none may appear in their closures
    for name, q in QUERIES.items():
        if q.fn.__module__ != agg:
            continue
        files = entry._query_source_files(name)
        for other in registrars - {agg}:
            other_file = os.path.relpath(sys.modules[other].__file__, REPO)
            assert other_file not in files, (name, other_file)
    # a TPC-H query references nothing from the curation/llm registrars
    files = entry._query_source_files("q6_forecast_revenue")
    for other in ("queries_curation", "queries_llm", "queries_extras"):
        assert f"openmsistream_spark/{other}.py" not in files, files


def test_closure_is_name_usage_precise():
    """Round-8 refinement: a module-level import in queries.py only
    counts for queries whose code actually reaches the symbol.
    q1_pricing_summary never touches the dedup/similarity surface, so
    editing llm/dedup.py must not stale it (the round-7 coarse rule
    burned capped sweep slots re-verifying unchanged queries)."""
    files = entry._query_source_files("q1_pricing_summary")
    assert "openmsistream_spark/queries.py" in files
    assert "openmsistream_spark/llm/dedup.py" not in files
    assert "openmsistream_spark/llm/similarity.py" not in files


def test_closure_keeps_genuine_dependencies():
    """...while queries that DO call into a module keep the edge, both
    for module-level imports (contamination_8gram → word_shingles) and
    function-local ones (round-6 regression: cosine_topk_sq8)."""
    assert "openmsistream_spark/llm/dedup.py" in entry._query_source_files(
        "contamination_8gram"
    )
    assert (
        "openmsistream_spark/llm/similarity.py"
        in entry._query_source_files("cosine_topk_sq8")
    )


def test_closure_is_transitive_across_modules():
    """Cross-module recursion the old one-level rule missed: the CC
    queries call llm/dedup.py which calls llm/iterutil.py — editing the
    deep util must dirty the query."""
    files = entry._query_source_files("dedup_keep_canonical_lsh")
    assert "openmsistream_spark/llm/iterutil.py" in files
    # and through a function-local import chain two modules deep
    files = entry._query_source_files("semdedup_pairs_seeded")
    assert "openmsistream_spark/llm/semdedup.py" in files
    assert "openmsistream_spark/llm/similarity.py" in files


def test_oracle_names_subset_and_aligned():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    # ordering consistent between the two dicts (driver zips them)
    q_names = [n for n in q if n in o]
    assert q_names == list(o)


def test_changed_source_marks_query_stale(tmp_path):
    """Simulate the round-2 regression: a query green in an old round
    whose module changed afterwards must sort in the front group."""
    latest = entry._last_green_round()
    if not latest:
        return  # no correctness files yet — nothing to check
    # a query verified in some round: touching its module source (in a
    # scratch clone of the check, via monkeypatched blob) flips staleness
    name = next(iter(latest))
    commit = entry._verified_commit(latest[name])
    if commit is None:
        return  # no git in this environment
    # _is_stale compares git blobs to working tree: with the real repo
    # unchanged since HEAD, a query verified at HEAD-adjacent commits
    # must compare file-for-file (sanity: no exception, boolean result)
    assert entry._is_stale(name, latest[name]) in (True, False)
    # and a fabricated correctness file pointing at an ancient commit
    # (round-1 artifact) makes any query whose sources changed since then
    # stale; use the repo's own first CORRECTNESS file for determinism
    first = sorted(
        p for p in os.listdir(REPO) if p.startswith("CORRECTNESS_r")
    )[0]
    first_commit = entry._verified_commit(os.path.join(REPO, first))
    if first_commit is None:
        return
    changed_since = subprocess.run(
        ["git", "-C", REPO, "diff", "--name-only", first_commit, "HEAD"],
        capture_output=True,
        text=True,
        timeout=30,
    ).stdout.splitlines()
    for name in QUERIES:
        srcs = entry._query_source_files(name)
        if any(s in changed_since for s in srcs):
            assert entry._is_stale(name, os.path.join(REPO, first)), name


def test_closure_traces_module_level_constants():
    """Round-8 review finding: an oracle CTE built from an IMPORTED
    constant (_SEMDEDUP_CTE = _EMB_NORM_CTE + ...) must pull the
    constant's defining module into the closure — editing the fragment
    changes the registered oracle, so the query cannot stay fresh."""
    files = entry._query_source_files("semdedup_pairs_seeded")
    assert "openmsistream_spark/queries_llm.py" in files
