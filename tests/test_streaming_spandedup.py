"""Streaming span excision: durable gram ledger, equivalence to the
batch keep-first operator, and exactly-once replay."""

import os

from pyspark.sql import functions as F

from openmsistream_spark.llm.spandedup import excise_duplicated_spans
from openmsistream_spark.operators.registry import make_registry
from openmsistream_spark.streaming.spandedup import (
    excise_batch_against_ledger,
    span_dedup_stream_sink,
)

SCHEMA = "doc_id long, text string"
RUN = " ".join(f"dup{i}" for i in range(6))
BATCHES = [
    [(0, f"{RUN} a0 a1 a2"), (1, "b0 b1 b2 b3 b4 b5 b6")],
    [(2, f"c0 c1 {RUN} c2"), (3, "b0 b1 b2 b3 b4 b5 b6")],  # doc 3 = doc 1
    [(4, RUN), (5, "e0 e1 e2 e3")],
]


def _run(spark, in_dir, out_dir, ckpt, reg):
    src = spark.readStream.schema(SCHEMA).parquet(f"{in_dir}/b=*")
    q = (
        span_dedup_stream_sink(src, reg, out_dir, ckpt, k=4)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"


def _out(spark, out_dir):
    return {
        r.doc_id: (r.text, r.n_tokens, r.n_tokens_removed)
        for r in spark.read.parquet(out_dir).collect()
    }


def test_stream_matches_batch_keep_first(spark, tmp_path):
    """Batches arriving in doc-id order excise exactly what the batch
    operator removes from the concatenated corpus."""
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    reg = make_registry(spark, str(tmp_path / "grams"), ["gram"])
    all_rows = []
    for b, rows in enumerate(BATCHES):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            f"{in_dir}/b={b}"
        )
        _run(spark, in_dir, out_dir, ckpt, reg)
        all_rows += rows
    got = _out(spark, out_dir)
    want = {
        r.doc_id: (r.text, r.n_tokens, r.n_tokens_removed)
        for r in excise_duplicated_spans(
            spark.createDataFrame(all_rows, SCHEMA), k=4
        ).collect()
    }
    assert got == want
    # spot-check semantics: doc 0 keeps the run (first), 2 and 4 lose it,
    # doc 3 (exact dup of 1) is fully excised
    assert got[0][0].startswith(RUN)
    assert "dup0" not in got[2][0] and got[4][0] == ""
    assert got[3][0] == "" and got[1][2] == 0


def test_replay_is_exactly_once(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    reg = make_registry(spark, str(tmp_path / "grams"), ["gram"])
    for b, rows in enumerate(BATCHES[:2]):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            f"{in_dir}/b={b}"
        )
        _run(spark, in_dir, out_dir, ckpt, reg)
    first = _out(spark, out_dir)
    ledger_rows = reg.read().count()
    # no new input: re-running over the same checkpoint changes nothing
    _run(spark, in_dir, out_dir, ckpt, reg)
    assert _out(spark, out_dir) == first
    assert reg.read().count() == ledger_rows
    # the ledger attributes each gram to the batch that introduced it
    fb = {r.first_batch for r in reg.read().collect()}
    assert fb == {0, 1}


def test_text_fingerprint_mode_matches_batch(spark, tmp_path):
    """The collision-free ``fingerprint="text"`` mode (round-7 ADVICE:
    previously hardcoded to "hash" with no opt-out) flows through the
    sink to the ledger keys and still matches the batch operator."""
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    reg = make_registry(spark, str(tmp_path / "grams"), ["gram"])
    all_rows = []
    for b, rows in enumerate(BATCHES):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            f"{in_dir}/b={b}"
        )
        src = spark.readStream.schema(SCHEMA).parquet(f"{in_dir}/b=*")
        q = (
            span_dedup_stream_sink(
                src, reg, out_dir, ckpt, k=4, fingerprint="text"
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        all_rows += rows
    got = _out(spark, out_dir)
    want = {
        r.doc_id: (r.text, r.n_tokens, r.n_tokens_removed)
        for r in excise_duplicated_spans(
            spark.createDataFrame(all_rows, SCHEMA), k=4, fingerprint="text"
        ).collect()
    }
    assert got == want
    # ledger keys are the gram TEXT, not an 8-byte hash
    gram = reg.read().select("gram").first().gram
    assert isinstance(gram, str) and " " in gram


def test_pure_step_scores_against_strictly_earlier_state(spark):
    """A batch whose grams are already ledgered AT ITS OWN id must not
    self-collide (the replay invariant), while earlier-batch grams
    excise."""
    docs = spark.createDataFrame([(9, RUN + " x0 x1 x2")], SCHEMA)
    from openmsistream_spark.llm.spandedup import kgram_positions

    grams = kgram_positions(docs, k=4, id_col="doc_id").select("gram").distinct()
    as_own = grams.withColumn("first_batch", F.lit(3).cast("long"))
    as_earlier = grams.withColumn("first_batch", F.lit(1).cast("long"))
    kept_own = excise_batch_against_ledger(docs, as_own, 3, k=4).first()
    kept_earlier = excise_batch_against_ledger(docs, as_earlier, 3, k=4).first()
    assert kept_own.n_tokens_removed == 0
    assert kept_earlier.n_tokens_removed > 0


def test_span_sink_refuses_gram_parameter_drift(spark, tmp_path):
    """Round-11: a gram ledger's rows are only meaningful under the
    k-gram length and fingerprint mode that wrote them — restart under
    either drift is refused by name (shared sidecar discipline)."""
    import pytest

    from openmsistream_spark.operators.registry import make_registry
    from openmsistream_spark.streaming.spandedup import span_dedup_stream_sink

    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{in_dir}/b=0")
    src = spark.readStream.schema("doc_id long, text string").parquet(f"{in_dir}/b=*")
    reg = make_registry(spark, str(tmp_path / "grams"), ["gram"])
    q = (
        span_dedup_stream_sink(
            src, reg, str(tmp_path / "out"), str(tmp_path / "ckpt"), k=4
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    # same params: builder succeeds
    span_dedup_stream_sink(
        src, reg, str(tmp_path / "out"), str(tmp_path / "ckpt2"), k=4
    )
    with pytest.raises(ValueError, match=r"\(k, fingerprint\)"):
        span_dedup_stream_sink(
            src, reg, str(tmp_path / "out"), str(tmp_path / "ckpt3"), k=6
        )
    with pytest.raises(ValueError, match=r"\(k, fingerprint\)"):
        span_dedup_stream_sink(
            src, reg, str(tmp_path / "out"), str(tmp_path / "ckpt4"),
            k=4, fingerprint="text",
        )


def test_empty_first_batch_still_creates_the_ledger(spark, tmp_path):
    """A zero-row batch 0 upserts no grams, yet that upsert must still
    create the ledger: otherwise batch 1 would meet ledger-absent +
    sidecar-present past batch 0 and be refused as a LOST ledger."""
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    reg = make_registry(spark, str(tmp_path / "grams"), ["gram"])
    spark.createDataFrame([], SCHEMA).write.parquet(f"{in_dir}/b=0")
    _run(spark, in_dir, out_dir, ckpt, reg)
    assert os.path.isdir(f"{out_dir}/batch=0")  # batch 0 ran, on no rows
    assert reg.exists()
    spark.createDataFrame(BATCHES[0], SCHEMA).coalesce(1).write.parquet(
        f"{in_dir}/b=1"
    )
    _run(spark, in_dir, out_dir, ckpt, reg)
    got = {r.doc_id: (r.batch, r.n_tokens_removed)
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {0: (1, 0), 1: (1, 0)}
