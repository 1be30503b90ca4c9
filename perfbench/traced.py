"""``--trace 1``: the per-layer run.

Sets up like the untraced run, then wraps the package's public
functions listed in ``LAYERS`` and runs traced rounds for ``--seconds``.
A workload may add one traced *layer round* on a path its timed rounds
do not take (``Workload.layer_round_setup``); that round reports only
the layers in ``LAYER_ROUND_ONLY``. Spark work is read back from the
uncompressed event log and folded by the job group each wrapper set.
Functions that only build a lazy plan get a standalone probe instead:
the function is applied to its cached upstream and forced with a noop
write; those figures stand alone and do not sum to ``run_s``. Then one
untraced round runs (the base for the tracing overhead), and finally one
round on ``local[1]`` for the core-scaling ratio. Every per-layer metric
is reported on every workload; a layer the workload does not run reads 0.
"""

from __future__ import annotations

import importlib
import os
import re
import statistics
import sys
import time
from collections import defaultdict

from . import run, trace

#: (module, attribute path, metric prefix, lazy). A lazy function's
#: busy_s/jobs/cpu_s/shuffle_mb come from its standalone probe.
LAYERS = [
    ("pipelines", "upload_directory", "pipelines.upload_directory", False),
    ("operators.chunking", "chunk_files", "operators.chunking.chunk_files", True),
    ("functions.serde", "serialize_chunks", "functions.serde.serialize_chunks", True),
    ("functions.serde", "deserialize_chunks", "functions.serde.deserialize_chunks", True),
    ("streaming.sinks", "write_reconstructed_files",
     "streaming.sinks.write_reconstructed_files", False),
    ("llm.phash", "image_fingerprints", "llm.phash.image_fingerprints", True),
    ("llm.phash", "incremental_fingerprint_neardup",
     "llm.phash.incremental_fingerprint_neardup", False),
    ("llm.phash_index", "FingerprintProbeSidecar.blocked_ids",
     "llm.phash_index.FingerprintProbeSidecar.blocked_ids", False),
    ("llm.phash_index", "FingerprintProbeSidecar.record",
     "llm.phash_index.FingerprintProbeSidecar.record", False),
    ("llm.phash_index", "FingerprintProbeSidecar.rebuild_now",
     "llm.phash_index.FingerprintProbeSidecar.rebuild_now", False),
    ("operators.registry", "ParquetRegistry.upsert", "operators.registry.upsert", False),
    ("operators.registry", "LogStructuredRegistry.upsert", "operators.registry.upsert", False),
    ("operators.registry", "ParquetRegistry.read", "operators.registry.read", False),
    ("operators.registry", "LogStructuredRegistry.read", "operators.registry.read", False),
    ("operators.registry", "LogStructuredRegistry._maybe_compact",
     "operators.registry.compact", False),
    ("llm.dedup", "minhash_lsh_dedup", "llm.dedup.minhash_lsh_dedup", True),
    ("llm.dedup", "dedup_clusters", "llm.dedup.dedup_clusters", False),
    ("llm.dedup", "incremental_minhash_dedup", "llm.dedup.incremental_minhash_dedup", False),
    ("llm.textstats", "quality_filter", "llm.textstats.quality_filter", True),
    ("llm.textstats", "pii_redact", "llm.textstats.pii_redact", True),
]
SUFFIXES = ("calls", "busy_s", "jobs", "cpu_s", "shuffle_mb")
#: wrapped for counting only
COUNTERS = [
    ("llm.iterutil", "truncate_plan", "llm.iterutil.truncate_plan.calls"),
    ("llm.phash_index", "FingerprintProbeSidecar._rebuild_masks", "llm.phash_index.rebuilds"),
]
#: the only layers a layer round reports; its other spans (the registry
#: writes, say) would double-count what the timed rounds measure
LAYER_ROUND_ONLY = ("llm.phash_index.",)
EXTRA = [
    ("llm.iterutil.truncate_plan.calls", "count"),
    ("llm.phash_index.rebuilds", "count"),
    ("llm.phash.admitted_ratio", "ratio"),
    ("llm.dedup.admitted_ratio", "ratio"),
    ("operators.registry.bytes_on_disk", "bytes"),
    ("stream.state_rows", "count"),
    ("stream.state_mb", "MB"),
    ("stream.planning_s", "s"),
    ("stream.add_batch_s", "s"),
    ("stream.wal_commit_s", "s"),
    ("spark.jobs_per_op", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.spill_mb", "MB"),
    ("process.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
    ("scaling.local1_over_localn", "ratio"),
]
_UNITS = {"calls": "count", "busy_s": "s", "jobs": "count", "cpu_s": "s", "shuffle_mb": "MB"}
#: layers only ``text_curation`` runs. That workload is not in
#: BENCHMARK.json (see README), so the others leave these rows out.
TEXT_ONLY = ("llm.dedup.", "llm.textstats.", "llm.iterutil.")


def metric_names(workload: str) -> list[tuple[str, str]]:
    """The per-layer metrics (name, unit) ``workload`` reports, in report
    order."""
    out, seen = [], set()
    for _, _, prefix, _ in LAYERS:
        if prefix not in seen:
            seen.add(prefix)
            out += [(f"{prefix}.{s}", _UNITS[s]) for s in SUFFIXES]
    out += EXTRA
    if workload != "text_curation":
        out = [(n, u) for n, u in out if not n.startswith(TEXT_ONLY)]
    return out


def _resolve(module: str, attr: str):
    mod = importlib.import_module(f"openmsistream_spark.{module}")
    owner = mod
    parts = attr.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


def install(tracer: trace.Tracer) -> None:
    for module, attr, prefix, _ in LAYERS:
        owner, name = _resolve(module, attr)
        tracer.wrap(owner, name, prefix)
    for module, attr, name in COUNTERS:
        owner, a = _resolve(module, attr)
        tracer.wrap(owner, a, name, count_only=True)


def traced_run(cls, args, work: str) -> dict:
    log_dir = os.path.join(work, "eventlog")
    spark = run.start_spark(work, event_log=log_dir)
    # set-up time is not reported here, so one repetition will do; one
    # warm-up round keeps a media run well inside the 180 s a run may
    # take (the traced rounds are then less settled, so the tracing
    # overhead errs high)
    w, _, _ = run.set_up(spark, cls, args.seed, work, reps=1, warm_rounds=1)
    layer_kwargs = w.layer_round_setup()

    tracer = trace.Tracer()
    install(tracer)
    tracer.enabled = True

    def traced_round(r, **kwargs):
        tracer.op_id = f"round{r}"
        return w.round(r, **kwargs)

    t_start = time.time()
    with run.RssSampler(run.jvm_pid(spark)) as rss:
        rounds = run.measure_rounds(traced_round, args.seconds)
    n = len(rounds)  # the timed rounds are 1..n
    t_end = time.time()
    round_counts = dict(tracer.counts)
    extra = []  # (label, round tuple) of the rounds after the timed ones
    if layer_kwargs is not None:
        tracer.op_id = f"layer{n + 1}"
        extra.append(("layer", w.round(n + 1, **layer_kwargs)))
    tracer.op_id = "probe"
    probed = []
    for prefix, upstream_fn, apply_fn in w.probes():
        upstream = upstream_fn().cache()
        upstream.count()
        tracer.span(
            f"probe:{prefix}",
            lambda: apply_fn(upstream).write.format("noop").mode("overwrite").save(),
        )
        upstream.unpersist()
        probed.append(prefix)
    tracer.enabled = False
    tracer.unwrap_all()
    # the untraced base for the overhead runs after the traced rounds, so
    # it is at least as warm as they are (the overhead errs high, not low)
    extra.append(("untraced", w.round(n + len(extra) + 1)))
    spark.stop()  # flushes and closes the event log
    label_batches(tracer.spans, w.round_info)
    spans_dir = os.path.join(os.path.dirname(work), "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans_path = os.path.join(spans_dir, f"{w.name}-seed{args.seed}.jsonl")
    tracer.write(spans_path)

    # single-thread diagnostic: one untraced round on local[1]
    w.spark = run.start_spark(work, master="local[1]")
    extra.append(("local[1]", w.round(n + len(extra) + 1)))
    w.spark.stop()

    metrics = layer_metrics(
        tracer.spans, list(trace.read_events(log_dir)), w, rounds, (t_start, t_end)
    )
    for name, calls in tracer.counts.items():
        # calls outside the timed rounds (layer round, probes) count once
        in_rounds = round_counts.get(name, 0)
        metrics[name] = in_rounds / n + (calls - in_rounds)
    walls = {label: r[0] for label, r in extra}
    metrics["trace.overhead_s"] = statistics.median(r[0] for r in rounds) - walls["untraced"]
    metrics["process.peak_rss_mb"] = rss.peak / 2**20
    metrics["scaling.local1_over_localn"] = walls["local[1]"] / walls["untraced"]
    print(f"perfbench: {w.name}: inputs sha256 {w.digest}; traced rounds "
          + ", ".join(f"{x[0]:.2f}" for x in rounds) + " s; "
          + ", ".join(f"{label} round {wall:.2f} s" for label, wall in walls.items())
          + "; standalone probes: " + ", ".join(probed) + f"; spans in {spans_path}",
          file=sys.stderr)
    problems = run.check_rounds(w, range(n + len(extra) + 1))
    units = dict(metric_names(w.name))
    return run.result(
        w, rounds + [r for _, r in extra], problems,
        {name: (float(metrics.get(name, 0.0)), unit) for name, unit in units.items()},
    )


def label_batches(spans, round_info) -> None:
    """Refine each span's op id from ``round<r>`` (or ``layer<r>``) to
    ``round<r>/batch<id>``: the micro-batch whose trigger interval holds
    the span's start."""
    from datetime import datetime

    for s in spans:
        m = re.fullmatch(r"(?:round|layer)(\d+)", s["op"] or "")
        if m is None:
            continue
        for p in round_info[int(m.group(1))]["progress"]:
            t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            if t0 <= s["start"] <= t0 + p["durationMs"]["triggerExecution"] / 1e3:
                s["op"] = f"{s['op']}/batch{p['batchId']}"
                break


def layer_metrics(spans, events, w, rounds, window) -> dict[str, float]:
    """Fold spans, event-log totals and stream progress into the
    per-layer metrics, per traced round."""
    n_rounds = len(rounds)
    folded = trace.fold_event_log(events)
    selfs = trace.self_times(spans)
    by_span = {trace.span_of_group(g): v for g, v in folded.items()}
    lazy = {prefix for _, _, prefix, is_lazy in LAYERS if is_lazy}
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        name, op = s["name"], s["op"] or ""
        if op == "probe":
            if not name.startswith("probe:"):
                continue
            name = name[len("probe:"):]
            scale, busy = 1, s["end"] - s["start"]
        elif op.startswith("layer"):
            if not name.startswith(LAYER_ROUND_ONLY):
                continue
            scale, busy = 1, selfs[s["id"]]
        else:
            scale, busy = 1 / n_rounds, selfs[s["id"]]
        if op != "probe":
            out[f"{name}.calls"] += scale
        if op == "probe" or name not in lazy:
            spark_work = by_span.get(s["id"], trace._zero())
            out[f"{name}.busy_s"] += busy * scale
            out[f"{name}.jobs"] += spark_work["jobs"] * scale
            out[f"{name}.cpu_s"] += spark_work["cpu_ns"] / 1e9 * scale
            out[f"{name}.shuffle_mb"] += spark_work["shuffle_bytes"] / 2**20 * scale
    # whole-run Spark totals inside the traced window
    total = trace.totals(trace.fold_event_log(events, window=window))
    n_ops = sum(n for *_, n in rounds)
    out["spark.jobs_per_op"] = total["jobs"] / max(1, n_ops)
    out["spark.executor_run_s"] = total["run_ms"] / 1e3 / n_rounds
    out["spark.executor_cpu_s"] = total["cpu_ns"] / 1e9 / n_rounds
    out["spark.gc_s"] = total["gc_ms"] / 1e3 / n_rounds
    out["spark.spill_mb"] = total["spill_bytes"] / 2**20 / n_rounds
    # stream progress of the timed rounds
    timed = range(1, n_rounds + 1)
    progress = [p for r in timed for p in w.round_info[r]["progress"]]
    if progress:
        d = [p["durationMs"] for p in progress]
        out["stream.planning_s"] = statistics.fmean(x.get("queryPlanning", 0) for x in d) / 1e3
        out["stream.add_batch_s"] = statistics.fmean(x.get("addBatch", 0) for x in d) / 1e3
        out["stream.wal_commit_s"] = statistics.fmean(x.get("walCommit", 0) for x in d) / 1e3
        states = [p.get("stateOperators") or [] for p in progress]
        out["stream.state_rows"] = max(sum(s.get("numRowsTotal", 0) for s in st) for st in states)
        out["stream.state_mb"] = max(
            sum(s.get("memoryUsedBytes", 0) for s in st) for st in states
        ) / 1e6
    out.update(w.layer_counts(timed))
    return out
