"""Unit tests for the round-3 curation operators: PII redaction,
repetition signals, SimHash banded pairs, stratified sampling.

The catalog-level tests (oracle sweep, plan audit) already run these
queries against DuckDB at sf0.01; here each operator also gets crafted
inputs that exercise the edge semantics the synthetic corpus can't —
real PII strings, degenerate repetition, hamming-completeness of the
banding, and sample determinism.
"""

import pytest
from pyspark.sql import functions as F

from openmsistream_spark.llm.dedup import simhash, simhash_band_pairs
from openmsistream_spark.llm.textstats import pii_redact, repetition_signals
from openmsistream_spark.operators.relational import stratified_sample


def test_pii_redact_real_strings(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail alice.smith+x@lab.example.org then +1-410-5550 done"),
            (2, "hosts 10.0.0.1 and 192.168.255.254; none at x.y"),
            (3, "no pii here at all"),
            # the email's digits must be consumed by the email rule, not
            # double-booked by the IP rule afterwards
            (4, "u123@h456.example.com"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert out[1].n_email == 1 and out[1].n_phone == 1 and out[1].n_ipv4 == 0
    assert out[1].redacted == "mail <EMAIL> then <PHONE> done"
    assert out[2].n_ipv4 == 2 and out[2].n_email == 0
    assert out[2].redacted == "hosts <IP> and <IP>; none at x.y"
    assert out[3].redacted == "no pii here at all"
    assert (out[3].n_email, out[3].n_phone, out[3].n_ipv4) == (0, 0, 0)
    assert out[4].redacted == "<EMAIL>" and out[4].n_ipv4 == 0


def test_repetition_signals_degenerate(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # one token owns everything
            (2, "a b c d"),  # all distinct
            (3, "one"),  # <2 tokens: no bigrams
            (4, "x y x y x y"),  # bigram 'x y' dominates
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    assert out[1].top_token_frac == 1.0 and out[1].dup_token_mass == 1.0
    assert out[1].top_bigram_frac == 1.0
    assert out[2].top_token_frac == 0.25 and out[2].dup_token_mass == 0.0
    assert out[3].n_tokens == 1 and out[3].top_bigram_frac == 0.0
    # 5 bigrams: 'x y'×3, 'y x'×2
    assert out[4].top_bigram_frac == 0.6
    assert out[4].dup_token_mass == 1.0


def test_simhash_band_pairs_complete_under_bands(spark, sf_dir):
    """Pigeonhole guarantee: with hamming < bands, the banded join must
    find EXACTLY the pairs a brute-force hamming scan finds."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(120)
        .select("doc_id", "text")
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_band_pairs(docs, bits=32, bands=4, max_hamming=3).collect()
    }
    sh = simhash(docs, bits=32)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.expr("bit_count(sh_a ^ sh_b)").cast("bigint").alias("hamming")
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute


def test_simhash_band_pairs_rejects_bad_bands(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="not divisible"):
        simhash_band_pairs(docs, bits=32, bands=5)


def test_stratified_sample_bounds_and_determinism(spark):
    rows = [(i, f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    s1 = stratified_sample(df, "source", "doc_id", 5)
    s2 = stratified_sample(df, "source", "doc_id", 5)
    got1 = sorted((r.source, r.sample_rank, r.doc_id) for r in s1.collect())
    got2 = sorted((r.source, r.sample_rank, r.doc_id) for r in s2.collect())
    assert got1 == got2  # pure function of the data
    per = {}
    for src, rank, _ in got1:
        per.setdefault(src, []).append(rank)
    assert set(per) == {"s0", "s1", "s2"}
    for ranks in per.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_stratified_sample_hash_matches_window_on_hot_stratum(spark):
    """The hash-threshold variant must produce the IDENTICAL sample to
    the window variant — including on the shape it exists for: one
    stratum holding 90% of the rows."""
    from openmsistream_spark.operators.relational import stratified_sample_hash

    rows = [(i, "hot" if i % 10 != 0 else f"cold{i % 50}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    k = 7
    want = sorted(
        (r.source, r.sample_rank, r.doc_id)
        for r in stratified_sample(df, "source", "doc_id", k).collect()
    )
    got = sorted(
        (r.source, r.sample_rank, r.doc_id)
        for r in stratified_sample_hash(df, "source", "doc_id", k).collect()
    )
    assert got == want
    # the hot stratum has 1800 rows but still yields exactly k
    hot_ranks = sorted(rank for src, rank, _ in got if src == "hot")
    assert hot_ranks == list(range(1, k + 1))


def test_stratified_sample_hash_small_strata(spark):
    """Strata smaller than k return all their rows, ranked."""
    from openmsistream_spark.operators.relational import stratified_sample_hash

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
    )
    out = stratified_sample_hash(df, "source", "doc_id", 5).collect()
    per = {}
    for r in out:
        per.setdefault(r.source, []).append(r.sample_rank)
    assert sorted(per["a"]) == [1, 2] and per["b"] == [1]


def test_shard_by_token_budget_greedy_invariants(spark):
    from openmsistream_spark.llm.packing import shard_by_token_budget

    # texts of 1..40 tokens, one oversize doc bigger than the budget
    rows = [(i, " ".join(["w"] * (1 + i % 40))) for i in range(300)]
    rows.append((1000, " ".join(["big"] * 500)))  # > budget alone
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = shard_by_token_budget(df, budget_tokens=100, n_buckets=4).collect()
    assert len(out) == len(rows)
    # rebuild each bucket's packing order and check the greedy rule:
    # shard = floor(preceding-cumsum / budget), shards contiguous from 0
    import hashlib

    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert len(by_bucket) > 1  # hashing actually spreads buckets
    for rs in by_bucket.values():
        rs.sort(key=lambda r: (hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id))
        prev = 0
        shards = []
        for r in rs:
            assert r.shard == prev // 100, (r, prev)
            shards.append(r.shard)
            prev += r.n_tokens
        assert shards == sorted(shards)
        assert shards[0] == 0


def test_mixture_sample_copy_semantics(spark):
    from pyspark.sql import functions as F

    from openmsistream_spark.llm.packing import mixture_sample

    df = spark.createDataFrame(
        [(i, ["drop", "whole", "frac", "mixed"][i % 4]) for i in range(400)],
        "doc_id long, source string",
    )
    w = (
        F.when(F.col("source") == "drop", F.lit(0.0))
        .when(F.col("source") == "whole", F.lit(2.0))
        .when(F.col("source") == "frac", F.lit(0.5))
        .otherwise(F.lit(1.5))
    )
    out = mixture_sample(df, w).collect()
    per = {}
    for r in out:
        per.setdefault(r.source, {}).setdefault(r.doc_id, []).append(r.copy)
    assert "drop" not in per  # weight 0 → gone
    assert all(sorted(c) == [1, 2] for c in per["whole"].values())  # exact 2 epochs
    # fractional: between 0 and all, each kept doc exactly once
    assert 0 < len(per["frac"]) < 100
    assert all(c == [1] for c in per["frac"].values())
    # mixed 1.5: every doc at least once, some twice
    assert len(per["mixed"]) == 100
    n_twice = sum(1 for c in per["mixed"].values() if sorted(c) == [1, 2])
    assert 0 < n_twice < 100
    # determinism: the identical sample on a rerun
    again = mixture_sample(df, w).collect()
    assert sorted((r.doc_id, r.copy) for r in again) == sorted(
        (r.doc_id, r.copy) for r in out
    )


def test_drop_boilerplate_lines_order_and_thresholds(spark):
    from openmsistream_spark.llm.dedup import drop_boilerplate_lines

    # 5 docs share "COOKIE notice" (normalized); "rare line" in only 2;
    # empty lines are never counted as boilerplate
    rows = [
        (i, f"unique head {i}\ncookie NOTICE\n\nbody text {i}\n"
            + ("rare line\n" if i < 2 else "")
            + f"tail {i}")
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in drop_boilerplate_lines(df, max_line_df=3).collect()}
    # the shared line is gone, order preserved, empty line kept
    assert out[0].cleaned == "unique head 0\n\nbody text 0\nrare line\ntail 0"
    assert out[0].n_lines_dropped == 1
    assert out[4].cleaned == "unique head 4\n\nbody text 4\ntail 4"
    # rare line (df=2 <= 3) survives
    assert "rare line" in out[1].cleaned
    # df exactly at the cap is kept: cap=4 keeps a df-5 line? no — lower
    # the cap to 4: the 5-doc line is df=5 > 4 -> still dropped
    out4 = {r.doc_id: r for r in drop_boilerplate_lines(df, max_line_df=4).collect()}
    assert "cookie" not in out4[2].cleaned.lower()
    # cap >= df keeps everything
    out5 = {r.doc_id: r for r in drop_boilerplate_lines(df, max_line_df=5).collect()}
    assert "cookie NOTICE" in out5[2].cleaned
    assert out5[2].n_lines_dropped == 0


def test_write_training_shards_roundtrip(spark, tmp_path):
    from openmsistream_spark.llm.packing import write_training_shards

    rows = [(i, f"s{i%3}", " ".join(["tok"] * (5 + i % 30))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = str(tmp_path / "shards")
    manifest = write_training_shards(df, out, budget_tokens=150, n_buckets=4)
    assert manifest.count() == 200
    back = spark.read.parquet(out)
    # every doc present exactly once, text + extra cols intact, layout partitioned
    assert back.count() == 200
    assert {"doc_id", "source", "text", "n_tokens", "bucket", "shard"} <= set(back.columns)
    got = {r.doc_id: r for r in back.collect()}
    assert got[7].text == rows[7][2] and got[7].source == "s1"
    # shard token sums stay near budget: every non-final shard of a bucket
    # holds < budget + max_doc_tokens
    sums = {}
    for r in back.collect():
        sums.setdefault((r.bucket, r.shard), 0)
        sums[(r.bucket, r.shard)] += r.n_tokens
    max_doc = 34
    last_shard = {}
    for (b, s) in sums:
        last_shard[b] = max(last_shard.get(b, -1), s)
    for (b, s), tot in sums.items():
        if s < last_shard[b]:
            assert tot >= 150 - max_doc, ((b, s), tot)
        assert tot < 150 + max_doc, ((b, s), tot)
    # determinism: rewriting produces the identical membership
    manifest2 = write_training_shards(df, out, budget_tokens=150, n_buckets=4)
    m1 = sorted(map(str, manifest.collect()))
    m2 = sorted(map(str, manifest2.collect()))
    assert m1 == m2


def test_incremental_exact_dedup_across_runs(spark, tmp_path):
    """Cross-run dedup: a second ingest batch drops documents whose
    content any PRIOR run recorded, the ledger grows by new hashes only,
    and replaying a batch is a no-op."""
    from openmsistream_spark.llm.dedup import incremental_exact_dedup
    from openmsistream_spark.operators.registry import make_registry

    reg = make_registry(spark, str(tmp_path / "ledger"), ["content_hash"])
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "  ALPHA  beta GAMMA ")],
        "doc_id long, text string",
    )
    out1 = incremental_exact_dedup(b1, reg).collect()
    # 3 normalizes to 1's content: batch keeps ids 1 and 2
    assert sorted(r.doc_id for r in out1) == [1, 2]
    assert reg.read().count() == 2

    b2 = spark.createDataFrame(
        [(4, "ALPHA beta gamma"), (5, "zeta eta theta")],
        "doc_id long, text string",
    )
    out2 = incremental_exact_dedup(b2, reg).collect()
    assert [r.doc_id for r in out2] == [5]  # 4 seen in run 1 -> dropped
    assert reg.read().count() == 3

    # replay of batch 2: nothing new, ledger unchanged
    assert incremental_exact_dedup(b2, reg).collect() == []
    assert reg.read().count() == 3
    led = {r.content_hash: r.canonical_id for r in reg.read().collect()}
    assert set(led.values()) == {1, 2, 5}


def test_incremental_minhash_dedup_across_runs(spark, tmp_path):
    """Cross-run near-dup: run 2 drops a lightly-edited copy of a run-1
    doc (signature agreement over the Jaccard threshold), keeps novel
    content, and replaying run 2 admits nothing new."""
    from openmsistream_spark.llm.dedup import incremental_minhash_dedup
    from openmsistream_spark.operators.registry import make_registry

    reg = make_registry(spark, str(tmp_path / "lsh_ledger"), ["band", "band_sig", "doc_id"])
    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew potent elixirs under ancient oak trees")
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    out1 = incremental_minhash_dedup(b1, reg, threshold=0.5)
    assert [r.doc_id for r in out1.collect()] == [1]

    near = base.replace("lazy dog", "sleepy dog")  # light edit: near-dup
    novel = ("completely unrelated sentences describing aurora displays "
             "across northern territories during solar maximum events")
    b2 = spark.createDataFrame(
        [(2, near), (3, novel)], "doc_id long, text string"
    )
    out2 = sorted(r.doc_id for r in incremental_minhash_dedup(b2, reg, threshold=0.5).collect())
    assert out2 == [3], out2  # near-dup of run-1 doc dropped, novel kept

    # replay: survivors collide with their own ledger rows -> no-op
    out3 = incremental_minhash_dedup(b2, reg, threshold=0.5).collect()
    assert out3 == [], out3


def test_incremental_minhash_shingleless_docs_ledgered(spark, tmp_path):
    """A document too short to shingle (fewer than n tokens) must still
    land in the LSH ledger via its synthetic fallback band, so a replay
    re-admits nothing and an identical short doc in a later run is
    dropped (ADVICE r5: shingle-less docs used to bypass the ledger)."""
    from openmsistream_spark.llm.dedup import incremental_minhash_dedup
    from openmsistream_spark.operators.registry import make_registry

    reg = make_registry(spark, str(tmp_path / "lsh"), ["band", "band_sig", "doc_id"])
    b1 = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
    assert [r.doc_id for r in incremental_minhash_dedup(b1, reg).collect()] == [1]
    led = reg.read().collect()
    assert len(led) == 1 and led[0].band == -1  # fallback band recorded

    # replay: the fallback row collides with itself -> nothing admitted
    assert incremental_minhash_dedup(b1, reg).collect() == []
    # identical short text under a NEW id in a later run -> dropped
    b2 = spark.createDataFrame(
        [(2, "  TINY   doc "), (3, "another short one")],
        "doc_id long, text string",
    )
    out = sorted(r.doc_id for r in incremental_minhash_dedup(b2, reg).collect())
    assert out == [3], out
    # a real (shingled) doc must never collide with a fallback row
    b3 = spark.createDataFrame(
        [(4, "tiny doc grows into a longer sentence with many more words")],
        "doc_id long, text string",
    )
    assert [r.doc_id for r in incremental_minhash_dedup(b3, reg).collect()] == [4]


def test_incremental_dedup_run_id_replay_exactly_once(spark, tmp_path):
    """Replaying an ingest with the SAME run_id returns the identical
    admitted set (exactly-once restart semantics); the default fresh
    run_id keeps the conservative admit-nothing replay."""
    from openmsistream_spark.llm.dedup import (
        incremental_exact_dedup,
        incremental_minhash_dedup,
    )
    from openmsistream_spark.operators.registry import make_registry

    reg = make_registry(spark, str(tmp_path / "exact"), ["content_hash"])
    b = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    first = sorted(
        r.doc_id for r in incremental_exact_dedup(b, reg, run_id="batch-7").collect()
    )
    assert first == [1, 2]
    replay = sorted(
        r.doc_id for r in incremental_exact_dedup(b, reg, run_id="batch-7").collect()
    )
    assert replay == [1, 2]  # same run_id -> same admissions
    assert reg.read().count() == 2  # ledger did not grow
    assert incremental_exact_dedup(b, reg).collect() == []  # fresh run_id

    lsh = make_registry(spark, str(tmp_path / "lsh"), ["band", "band_sig", "doc_id"])
    text = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew potent elixirs under ancient oak trees")
    bb = spark.createDataFrame([(9, text)], "doc_id long, text string")
    assert [
        r.doc_id for r in incremental_minhash_dedup(bb, lsh, run_id="m-3").collect()
    ] == [9]
    assert [
        r.doc_id for r in incremental_minhash_dedup(bb, lsh, run_id="m-3").collect()
    ] == [9]
    assert incremental_minhash_dedup(bb, lsh).collect() == []


def test_shard_packing_rejects_reserved_columns(spark, tmp_path):
    """Input columns colliding with the packing outputs raise a clear
    error instead of producing ambiguous/duplicated columns."""
    from openmsistream_spark.llm.packing import write_training_shards

    df = spark.createDataFrame(
        [(1, "some text here", 5)], "doc_id long, text string, n_tokens long"
    )
    with pytest.raises(ValueError, match="n_tokens"):
        write_training_shards(df, str(tmp_path / "shards"), budget_tokens=100)


def test_dedup_clusters_deep_chain_converges_fast(spark):
    """A long path graph (diameter ~24) exercises the multi-round loop:
    per-round lineage truncation must keep planning time flat (this
    shape used to take minutes of driver-side Catalyst analysis) and the
    labels must still collapse to the single path minimum."""
    import time

    from openmsistream_spark.llm.dedup import dedup_clusters
    n = 25
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    nodes = spark.range(1, n + 1).withColumnRenamed("id", "doc_id")
    t0 = time.time()
    out = dedup_clusters(nodes, pairs, id_col="doc_id", max_iterations=30)
    rows = {r.doc_id: r.cluster for r in out.collect()}
    elapsed = time.time() - t0
    assert rows == {i: 1 for i in range(1, n + 1)}
    assert elapsed < 60, f"deep-chain CC took {elapsed:.0f}s — lineage blow-up?"


def test_dedup_clusters_matches_union_find_on_random_graphs(spark):
    """Property check of the multi-hop/frontier CC against a plain
    union-find computed driver-side: on arbitrary sparse graphs the
    cluster labels must equal each component's minimum node id."""
    import random

    from openmsistream_spark.llm.dedup import dedup_clusters
    rng = random.Random(20260813)
    for trial in range(3):
        n = rng.randint(8, 60)
        m = rng.randint(0, n * 2)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(1, n + 1), 2)))
                for _ in range(m)
            }
        )
        # reference: union-find over the same edges
        parent = list(range(n + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        expect = {}
        for v in range(1, n + 1):
            root = find(v)
            expect[v] = min(u for u in range(1, n + 1) if find(u) == root)

        nodes = spark.range(1, n + 1).withColumnRenamed("id", "doc_id")
        if edges:
            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        else:
            pairs = spark.createDataFrame([], "id_a long, id_b long")
        out = dedup_clusters(nodes, pairs, id_col="doc_id", max_iterations=40)
        got = {r.doc_id: r.cluster for r in out.collect()}
        assert got == expect, f"trial {trial}: n={n} edges={edges}"


def test_curate_corpus_exact_ledger_across_runs(spark, tmp_path):
    """curate_corpus with a durable content-hash ledger: run 2 drops
    documents run 1 admitted; same-run_id replay returns identical
    admissions; report counts track each stage."""
    from openmsistream_spark.llm.curate import curate_corpus
    from openmsistream_spark.operators.registry import make_registry

    reg = make_registry(spark, str(tmp_path / "exact"), ["content_hash"])
    good = (
        "the quick brown fox jumps over a lazy dog while seven wizards "
        "brew potent elixirs under ancient oak trees near quiet rivers "
        "and several archivists catalog interesting field reports daily"
    )
    other = (
        "independent observers recorded unusual aurora displays across "
        "northern territories last winter prompting renewed interest in "
        "solar weather forecasting among amateur radio operators globally"
    )
    b1 = spark.createDataFrame([(1, good)], "doc_id long, text string")
    out1, st1 = curate_corpus(b1, exact_ledger=reg, run_id="r1")
    assert [r.doc_id for r in out1.collect()] == [1]
    assert st1["input"] == 1 and st1["after_exact_dedup"] == 1

    # run 2: an exact (normalized) copy under a new id + a new doc
    b2 = spark.createDataFrame(
        [(2, "  " + good.upper() + " "), (3, other)], "doc_id long, text string"
    )
    out2, st2 = curate_corpus(b2, exact_ledger=reg, run_id="r2")
    assert [r.doc_id for r in out2.collect()] == [3]
    assert st2["after_exact_dedup"] == 1

    # same-run_id replay: identical admissions, no ledger growth
    out2b, _ = curate_corpus(b2, exact_ledger=reg, run_id="r2")
    assert [r.doc_id for r in out2b.collect()] == [3]
    assert reg.read().count() == 2


def test_incremental_embedding_dedup_across_runs(spark, tmp_path):
    """Cross-run embedding near-dup: run 2 drops a vector nearly
    parallel to a run-1 admission (quantized cosine over the sign-LSH
    bucket join), keeps orthogonal content, replays are no-ops, and
    same-run_id replays return identical admissions."""
    from openmsistream_spark.llm.similarity import incremental_embedding_dedup
    from openmsistream_spark.operators.registry import make_registry

    reg = make_registry(spark, str(tmp_path / "emb"), ["bucket", "vec_id"])
    base = [1.0, 0.5, -0.25, 2.0, 1.5, -1.0, 0.75, 0.1]
    near = [x * 1.01 for x in base]          # cosine ~1.0
    ortho = [-0.5, 2.0, 1.0, -0.25, 0.3, 1.2, -2.0, 0.9]
    b1 = spark.createDataFrame([(1, base)], "vec_id long, embedding array<double>")
    out1 = incremental_embedding_dedup(b1, reg, run_id="e1")
    assert [r.vec_id for r in out1.collect()] == [1]

    b2 = spark.createDataFrame(
        [(2, near), (3, ortho)], "vec_id long, embedding array<double>"
    )
    out2 = sorted(
        r.vec_id for r in incremental_embedding_dedup(b2, reg, run_id="e2").collect()
    )
    assert out2 == [3], out2  # near-parallel vector dropped

    # replay without run_id: survivors collide with their own rows
    assert incremental_embedding_dedup(b2, reg).collect() == []
    # same-run_id replay: identical admissions
    again = sorted(
        r.vec_id for r in incremental_embedding_dedup(b2, reg, run_id="e2").collect()
    )
    assert again == [3]

    # zero vectors: first is admitted + ledgered, an identical later one drops
    z1 = spark.createDataFrame([(7, [0.0] * 8)], "vec_id long, embedding array<double>")
    assert [r.vec_id for r in incremental_embedding_dedup(z1, reg, run_id="z1").collect()] == [7]
    z2 = spark.createDataFrame([(8, [0.0] * 8)], "vec_id long, embedding array<double>")
    assert incremental_embedding_dedup(z2, reg, run_id="z2").collect() == []


def test_decontaminate_drops_eval_overlaps(spark):
    """A training doc sharing one 8-gram with the eval set is dropped
    (min_hits=1); unrelated docs survive untouched; min_hits raises the
    bar; the curate_corpus wiring reports the stage."""
    from openmsistream_spark.llm.curate import curate_corpus, decontaminate

    eval_text = (
        "what is the boiling point of water at sea level in celsius "
        "degrees under standard atmospheric pressure conditions today"
    )
    leaked = (
        "some scraped page text mentioning that the boiling point of "
        "water at sea level in celsius degrees under standard pressure "
        "is one hundred which every student learns early in school"
    )
    clean = (
        "seven wizards brew potent elixirs under ancient oak trees near "
        "quiet rivers while archivists catalog interesting field reports "
        "for the provincial library association every single autumn"
    )
    docs = spark.createDataFrame(
        [(1, leaked), (2, clean)], "doc_id long, text string"
    )
    evals = spark.createDataFrame([(100, eval_text)], "doc_id long, text string")

    out = decontaminate(docs, evals, n=8, min_hits=1)
    assert [r.doc_id for r in out.collect()] == [2]
    # raising min_hits above the overlap count admits the leaked doc too
    out_loose = decontaminate(docs, evals, n=8, min_hits=50)
    assert sorted(r.doc_id for r in out_loose.collect()) == [1, 2]

    curated, stages = curate_corpus(docs, eval_docs=evals)
    assert sorted(r.doc_id for r in curated.collect()) == [2]
    assert stages["after_decontamination"] == 1


def test_curate_corpus_novelty_bloom_stage(spark):
    """novelty_bloom drops mostly-already-seen docs via the broadcast
    mask, keeps fresh docs, and passes gram-less (too-short) docs
    through unjudged."""
    from openmsistream_spark.llm.bloom import bloom_build
    from openmsistream_spark.llm.curate import curate_corpus
    from openmsistream_spark.llm.dedup import word_shingles

    ref_text = " ".join(f"r{i}" for i in range(20))
    ref = spark.createDataFrame([(100, ref_text)], "doc_id long, text string")
    bloom = bloom_build(
        word_shingles(ref, n=8, hashed=True).select("shingle"),
        "shingle",
        m_bits=1 << 16,
        k=4,
    )
    fresh_text = " ".join(f"fresh{i} gram{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"r{i}" for i in range(13))),  # 6/6 grams seen
            (2, fresh_text),  # fully novel
            (3, "too short"),  # no grams: passes through
        ],
        "doc_id long, text string",
    )
    curated, counts = curate_corpus(
        docs, novelty_bloom=bloom, novelty_max_seen_frac=0.5
    )
    assert counts["after_novelty_bloom"] == 2
    ids = {r.doc_id for r in curated.select("doc_id").collect()}
    assert 1 not in ids and 2 in ids


def test_incremental_ledgers_refuse_geometry_drift(spark, tmp_path):
    """Round-11: the incremental LSH ledgers' rows are only meaningful
    under the geometry that wrote them — a later run under different
    banding (MinHash) or bucket bits (embedding sign-LSH) can never
    collide with prior rows and silently re-admits every near-dup.
    Both now persist their geometry in a _params sidecar and refuse a
    drifted run by name; threshold stays per-run policy."""
    import pytest

    from openmsistream_spark.llm.dedup import incremental_minhash_dedup
    from openmsistream_spark.llm.similarity import incremental_embedding_dedup
    from openmsistream_spark.operators.registry import make_registry

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    reg = make_registry(spark, str(tmp_path / "mh"), ["band", "band_sig", "doc_id"])
    incremental_minhash_dedup(docs, reg).collect()
    # same geometry, different threshold: allowed (policy, not geometry)
    incremental_minhash_dedup(docs, reg, threshold=0.9).collect()
    with pytest.raises(ValueError, match="rows_per_band"):
        incremental_minhash_dedup(docs, reg, num_hashes=16, rows_per_band=4)

    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, -1.0, 0.5, -0.25, 1.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    ereg = make_registry(spark, str(tmp_path / "emb"), ["bucket", "vec_id"])
    incremental_embedding_dedup(emb, ereg, n_bits=4).collect()
    with pytest.raises(ValueError, match="n_bits"):
        incremental_embedding_dedup(emb, ereg, n_bits=6)


# ---------------------------------------------------------------- tag mode


def test_tag_mode_filter_equals_drop_mode(spark, sf_dir):
    """Dolma tag-don't-drop equivalence (round-13): filtering the tagged
    frame on every stage verdict selects exactly curate_corpus's
    survivor set, for the same configuration — exact dedup + LSH
    near-dup + decontamination + quality, all enabled."""
    from openmsistream_spark.llm.curate import curate_corpus, tag_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    ev = docs.filter("doc_id % 17 = 0").select(
        F.col("doc_id").alias("eval_id"), F.col("text").alias("eval_text")
    )
    conf = dict(
        neardup=True,
        neardup_conf={"threshold": 0.5},
        eval_docs=ev,
        decontaminate_conf={"eval_id_col": "eval_id", "eval_text_col": "eval_text"},
    )
    dropped, _ = curate_corpus(docs, report=False, **conf)
    want = {r.doc_id for r in dropped.select("doc_id").collect()}
    tagged = tag_corpus(docs, **conf)
    got = {
        r.doc_id
        for r in tagged.filter(
            F.col("keep_exact")
            & F.coalesce("keep_neardup", F.lit(True))
            & F.col("keep_decontam")
            & F.col("keep_quality")
        )
        .select("doc_id")
        .collect()
    }
    assert got == want
    # tag mode judges EVERY row for the per-doc stages (the point of
    # tagging: one pass, many policies) — quality verdicts exist even
    # for docs that died at exact dedup
    assert tagged.count() == docs.count()
    assert tagged.filter(F.col("keep_quality").isNull()).count() == 0


def test_attrition_report_first_fail_accounting(spark):
    """drop_* columns are first-fail attributed: per group,
    n_input == sum(drop_*) + n_kept, and per-rule fail_* columns count
    non-exclusively."""
    from openmsistream_spark.llm.curate import attrition_report, tag_corpus

    clean_a = " ".join(f"alpha{i:02d}" for i in range(24))  # 24 distinct tokens
    clean_b = " ".join(f"beta{i:02d}" for i in range(24))
    rows = [
        # s1: a twin pair (doc 2 dies exact), one short doc (quality)
        (1, "s1", clean_a),
        (2, "s1", clean_a),
        (3, "s1", "too short"),
        # s2: one clean doc, one punct-heavy AND short (two rules fail,
        # but first-fail attribution books it once under quality)
        (4, "s2", clean_b),
        (5, "s2", "!!! ??? ***"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    rep = {r.source: r for r in attrition_report(tag_corpus(docs)).collect()}
    s1, s2 = rep["s1"], rep["s2"]
    assert (s1.n_input, s1.drop_exact, s1.drop_quality, s1.n_kept) == (3, 1, 1, 1)
    assert (s2.n_input, s2.drop_exact, s2.drop_quality, s2.n_kept) == (2, 0, 1, 1)
    # doc 5 fails len AND punct: both audit columns count it
    assert s2.fail_len == 1 and s2.fail_punct == 1
    for r in (s1, s2):
        assert r.n_input == r.drop_exact + r.drop_quality + r.n_kept
