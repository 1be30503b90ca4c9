#!/usr/bin/env python
"""Streaming media-ledger stress (round-14, VERDICT r13 task #4): the
batch combo path is measured to 250k items (STRESS_MEDIAFP), but the
STREAMING sink's per-batch shape — a fixed-size micro-batch probed
against an ACCUMULATING durable ledger — was argued, not measured.

This runs N micro-batches of B items each through
``incremental_fingerprint_neardup`` against one growing parquet-backed
ledger (exactly what ``media_neardup_stream_sink``'s foreachBatch does,
minus the stream plumbing that tests/test_streaming_media.py pins) and
records per-batch wall + shuffle. Fingerprints are synthesized JVM-side
(xxhash64 — effectively random 64-bit, so almost nothing collides and
the ledger grows by ~B rows per batch): the Arrow decode stage is
EXCLUDED on purpose — it is per-batch constant and its linearity is
already measured in STRESS_MEDIAFP; the claim under test here is how
the ledger probe and the upsert grow with the ledger.

Round 15: runs the sweep on BOTH registry backends. The "parquet"
backend's upsert is an atomic full rewrite — O(ledger) per batch, the
shallow-linear ramp round 14 measured (+0.35 s per +10k rows). The
"log" backend (LogStructuredRegistry) appends an O(batch) delta
segment and amortizes compaction by the doubling rule, so its
per-batch wall should stay FLAT in ledger size — that flatness is the
claim this sweep now gates (VERDICT r14 next-round #2). The "@exact"
probe is a broadcast nested-loop join that checks every (ledger row,
batch row) pair, so its wall grows linearly with ledger x batch; the
gated sidecar probe (no suffix) equi-joins near-singleton 40-bit combo
buckets, so its candidate volume stays ~B at any ledger size.

Writes STRESS_MEDIA_LEDGER.json. Usage:
    python tools/stress_media_ledger.py [n_batches batch_size [backends]]
(default 20 batches x 10000 items, backends "parquet,log@exact,log";
 "@exact" = sidecar off (the nested-loop probe), "@reset" = wipe
 the ledger each batch — the session-age control leg)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from openmsistream_spark.session import get_spark


def rest_totals(spark) -> dict[str, int]:
    time.sleep(1.0)
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    stages = json.loads(urllib.request.urlopen(url, timeout=10).read())
    keys = ("shuffleWriteBytes", "shuffleReadBytes")
    return {k: sum(s.get(k, 0) for s in stages) for k in keys}


def run_backend(spark, backend: str, n_batches: int, batch_size: int) -> dict:
    """``backend`` may carry an ``@reset`` suffix: the ledger is wiped
    between batches, so its size stays ONE batch while the session ages
    normally — the control that separates ledger-size-driven growth
    from session-age-driven growth (JIT/listener/GC accumulation)."""
    from openmsistream_spark.llm.phash import incremental_fingerprint_neardup
    from openmsistream_spark.operators.registry import make_registry

    backend, _, mode = backend.partition("@")
    reset_each = mode == "reset"
    # "@exact" disables the bloom sidecar + write-time combo index,
    # i.e. the nested-loop O(ledger x batch) probe — kept as the
    # comparison leg that the sidecar's flatness is judged against
    use_sidecar = mode != "exact"
    tmp = tempfile.mkdtemp(prefix="media_ledger_stress_")
    # insert_only mirrors the real sink contract (the collision guard +
    # same-run short-circuit make the fp ledger at-most-once-per-key),
    # letting the log backend read at scan speed instead of re-folding
    reg = make_registry(
        spark,
        os.path.join(tmp, "fp"),
        ["media_id"],
        backend=backend,
        insert_only=(backend == "log"),
    )
    # time the registry WRITE path separately from the probe: the
    # backend claim under test is "upsert O(batch), not O(ledger)";
    # the probe's ledger-side scan/explode is compute the PROBE owns
    # (same on every backend) and must not be billed to the upsert
    upsert_box = {"sec": 0.0}
    orig_upsert = reg.upsert

    def timed_upsert(df):
        from pyspark import StorageLevel

        # materialize the operator's admitted-set plan FIRST (the probe
        # compute belongs to the probe column, not the backend), then
        # time the pure write path from cache
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        t0 = time.time()
        orig_upsert(df)
        upsert_box["sec"] += time.time() - t0
        df.unpersist()

    reg.upsert = timed_upsert
    rows = []
    try:
        for b in range(n_batches):
            batch = (
                spark.range(b * batch_size, (b + 1) * batch_size)
                .select(
                    F.col("id").alias("media_id"),
                    F.xxhash64(F.col("id"), F.lit("mediafp")).alias(
                        "fingerprint"
                    ),
                )
                # materialized first: batch synthesis out of the timing
                .cache()
            )
            batch.count()
            before = rest_totals(spark)
            upsert_box["sec"] = 0.0
            t0 = time.time()
            n_admitted = incremental_fingerprint_neardup(
                batch, reg, run_id=f"batch-{b}", sidecar=use_sidecar
            ).count()
            wall = time.time() - t0
            after = rest_totals(spark)
            batch.unpersist()
            row = {
                "batch": b,
                "ledger_rows_before": b * batch_size,
                "admitted": n_admitted,
                "wall_sec": round(wall, 3),
                "upsert_sec": round(upsert_box["sec"], 3),
                "shuffle_write_mb": round(
                    (after["shuffleWriteBytes"] - before["shuffleWriteBytes"])
                    / 1e6,
                    3,
                ),
            }
            row["backend"] = backend + (f"@{mode}" if mode else "")
            if reset_each:
                row["ledger_rows_before"] = 0
                shutil.rmtree(os.path.join(tmp, "fp"), ignore_errors=True)
                shutil.rmtree(
                    os.path.join(tmp, "fp.probeidx"), ignore_errors=True
                )
            rows.append(row)
            print(json.dumps(row))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    firsts = [r["wall_sec"] for r in rows[1:4]]
    lasts = [r["wall_sec"] for r in rows[-3:]]
    return {
        "backend": backend,
        "per_batch": rows,
        "early_batches_mean_sec": round(sum(firsts) / len(firsts), 3),
        "late_batches_mean_sec": round(sum(lasts) / len(lasts), 3),
        "late_over_early": round(
            (sum(lasts) / len(lasts)) / (sum(firsts) / len(firsts)), 3
        ),
    }


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    batch_size = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    backends = (
        sys.argv[3].split(",")
        if len(sys.argv) > 3
        else ["parquet", "log@exact", "log"]
    )
    spark = get_spark(
        app_name="media-ledger-stress",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4099"},
    )
    out = {
        "n_batches": n_batches,
        "batch_size": batch_size,
        "backends": {b: run_backend(spark, b, n_batches, batch_size) for b in backends},
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "STRESS_MEDIA_LEDGER.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
