"""The benchmark workloads. Each drives the package through its public
entry points as a closed-loop backfill: its input is landed before the
clock starts, and each stream runs ``trigger(availableNow=True)`` with a
fixed micro-batch size (``maxFilesPerTrigger=1`` over pre-cut input
files).

A workload has three phases:

- ``setup()``: generate the seeded inputs and any pre-filled state
  (timed as set-up and repeated by the runner, which then warms the
  path up with a checked, untimed round 0);
- ``round(r)``: reset state outside the clock (fresh checkpoint and
  outputs, a byte-identical copy of any pre-filled ledger), then run the
  workload once on the clock; returns the round's wall time, its op
  times, the error text (or None) and the number of ops attempted;
- ``check(r)``: compare round ``r``'s outputs with an independent
  reference; returns the problems found.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import check, gen


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _write_parts(rows_by_part, schema: pa.Schema, root: str, cols) -> None:
    """One parquet file per part, with increasing mtimes, so a file
    source with ``maxFilesPerTrigger=1`` reads them in order."""
    _fresh(root)
    base = time.time() - len(rows_by_part) - 10
    for i, rows in enumerate(rows_by_part):
        arrays = [pa.array([r[j] for r in rows], type=schema.field(j).type)
                  for j in range(len(cols))]
        path = os.path.join(root, f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)
        os.utime(path, (base + i, base + i))


def run_stream(writer) -> tuple[float, list[dict], str | None]:
    """Start a configured ``DataStreamWriter`` as an availableNow
    backfill and wait for it. Returns (wall seconds, progress dicts,
    error text or None)."""
    t0 = time.perf_counter()
    q = writer.trigger(availableNow=True).start()
    err = None
    try:
        q.awaitTermination()
    except Exception as exc:  # reported as failed ops
        err = str(exc).splitlines()[0][:300]
    wall = time.perf_counter() - t0
    progress = [p for p in (q.recentProgress or []) if p.get("numInputRows", 0) > 0]
    return wall, progress, err


def op_seconds(progress: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]


class Workload:
    name = ""
    #: input files (micro-batches) per round
    n_batches = 0
    #: untimed warm-up runs of round 0 before the timed rounds
    warm_rounds = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.digest = None
        self.planted: dict = {}
        #: round -> extra measurements for the traced report
        self.round_info: dict[int, dict] = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def layer_round_setup(self) -> dict | None:
        """Prepare an extra traced round on a path the timed rounds do
        not take; returns its ``round`` keyword arguments, or None when
        the workload has no such round."""
        return None

    def layer_counts(self, rounds) -> dict[str, float]:
        """Per-layer figures read from the outputs of ``rounds``."""
        return {}


# --------------------------------------------------------------------------
# file_transport
# --------------------------------------------------------------------------


class FileTransport(Workload):
    """upload_directory into a parquet topic, then readStream ->
    deserialize_chunks / dlq_split -> streaming_assemble ->
    reconstruction_sink."""

    name = "file_transport"
    n_batches = 4

    def setup(self):
        files = gen.make_files(self.seed)
        self.digests = {rel: hashlib.sha512(data).hexdigest() for rel, data in files.items()}
        _fresh(self.path("src"))
        gen.write_files(files, self.path("src"))
        self.digest = gen.inputs_digest(files)

    def _produce(self, topic: str) -> float:
        from openmsistream_spark.pipelines import upload_directory

        t0 = time.perf_counter()
        upload_directory(self.spark, self.path("src"), topic, chunk_size=gen.CHUNK)
        return time.perf_counter() - t0

    def _relayout(self, topic: str, seg_dir: str) -> None:
        table = pq.read_table(topic)
        msgs = list(zip(table.column("key").to_pylist(), table.column("value").to_pylist()))
        segs, self.planted = gen.relayout_messages(msgs, self.seed, self.n_batches)
        schema = pa.schema([("key", pa.binary()), ("value", pa.binary())])
        _write_parts(segs, schema, seg_dir, ["key", "value"])

    def _consume_writer(self, seg_dir: str, out_dir: str, ckpt: str):
        from pyspark.sql import functions as F

        from openmsistream_spark.functions.serde import deserialize_chunks, dlq_split
        from openmsistream_spark.streaming.assembly import streaming_assemble
        from openmsistream_spark.streaming.sinks import reconstruction_sink

        msgs = (
            self.spark.readStream.schema("key binary, value binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(seg_dir)
        )
        good, _ = dlq_split(deserialize_chunks(msgs))
        fname = F.concat(F.col("filename"), F.coalesce(F.col("filename_append"), F.lit("")))
        subdir = F.coalesce(F.col("subdir_str"), F.lit(""))
        good = good.withColumn(
            "rel_path",
            F.when(subdir == "", fname).otherwise(F.concat_ws("/", subdir, fname)),
        )
        return reconstruction_sink(streaming_assemble(good), out_dir, ckpt)

    def round(self, r: int):
        topic = self.path(f"r{r}", "topic")
        seg_dir = self.path(f"r{r}", "segments")
        out_dir = _fresh(self.path(f"r{r}", "out"))
        ckpt = self.path(f"r{r}", "ckpt")
        produce_s = self._produce(topic)
        self._relayout(topic, seg_dir)  # the "network": off the clock
        wall, progress, err = run_stream(self._consume_writer(seg_dir, out_dir, ckpt))
        self.round_info[r] = {"progress": progress}
        return produce_s + wall, op_seconds(progress), err, self.n_batches

    def check(self, r: int) -> list[str]:
        return check.check_files(self.path(f"r{r}", "out"), self.digests)

    def probes(self):
        from openmsistream_spark.functions import serde
        from openmsistream_spark.operators import chunking
        from openmsistream_spark.streaming.sources import file_chunk_stream

        def files():
            return file_chunk_stream(self.spark, self.path("src"), streaming=False)

        def chunks():
            return chunking.chunk_files(files(), chunk_size=gen.CHUNK)

        topic = self.path("r1", "topic")  # produced by the first timed round
        return [
            ("operators.chunking.chunk_files", files,
             lambda df: chunking.chunk_files(df, chunk_size=gen.CHUNK)),
            ("functions.serde.serialize_chunks", chunks, serde.serialize_chunks),
            ("functions.serde.deserialize_chunks",
             lambda: self.spark.read.parquet(topic), serde.deserialize_chunks),
        ]


# --------------------------------------------------------------------------
# media_ingest
# --------------------------------------------------------------------------


class MediaIngest(Workload):
    """media_neardup_stream_sink over seeded PGM images, against a
    log-backend ledger pre-filled during set-up. The ledger stays below
    ``llm.phash.SIDECAR_AUTO_MIN_BYTES`` and has no probe sidecar, so the
    sink's default policy takes the exact combo-key probe. The gated
    sidecar path runs only in the traced run's layer round (see README
    for why it is not timed)."""

    name = "media_ingest"
    # one micro-batch per round: a batch costs 7-13 s here (a chain of
    # about 40 Spark jobs), and with three warm-up rounds and 2-3 timed
    # ones a run already takes about 70 s
    n_batches = 1
    batch_size = 100
    prefill_rows = 3_000
    max_hamming = 3
    # in a 60-second run after one warm-up round, consecutive rounds took
    # 13.7, 10.6, 7.9, 8.6, 7.8 and 8.1 s: the path settles only by the
    # third round
    warm_rounds = 3

    def setup(self):
        from pyspark.sql import functions as F

        from openmsistream_spark.llm.phash import image_fingerprints

        self.batches, old_rows, self.planted = gen.make_media(
            self.seed, self.n_batches, self.batch_size
        )
        prefill = gen.prefill_fingerprints(self.seed, self.prefill_rows)
        self.digest = gen.inputs_digest([self.batches, old_rows, prefill])
        schema = pa.schema([("media_id", pa.int64()), ("content", pa.binary())])
        _write_parts(self.batches, schema, self.path("in"), ["media_id", "content"])

        shutil.rmtree(self.path("ledger0"), ignore_errors=True)
        reg = self._registry("ledger0")
        # building (not starting) the sink on the empty ledger pins its
        # parameters next to it, as a first stream start would
        self._sink(reg, self.path("ledger0", "unused"))
        # the pre-fill: random fingerprints plus the old images' own, as
        # an earlier run of the stream would have admitted them
        bulk = self.spark.createDataFrame(
            pa.table({
                "media_id": pa.array(np.arange(2 * 10**9, 2 * 10**9 + len(prefill))),
                "fingerprint": pa.array(prefill),
            }).to_pandas()
        )
        old = image_fingerprints(
            self.spark.createDataFrame(old_rows, "media_id long, content binary")
        )
        reg.upsert(bulk.unionByName(old).withColumn("run_id", F.lit("prefill")))
        self._reference_inputs = (prefill, old_rows)
        self._reference = None

    def _registry(self, *ledger_dir):
        from openmsistream_spark.operators.registry import make_registry

        return make_registry(
            self.spark, self.path(*ledger_dir, "fp"), ["media_id"],
            backend="log", insert_only=True,
        )

    def _sink(self, reg, base: str):
        from openmsistream_spark.streaming.media import media_neardup_stream_sink

        src = (
            self.spark.readStream.schema("media_id long, content binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.path("in"))
        )
        return media_neardup_stream_sink(
            src, reg, os.path.join(base, "out"), os.path.join(base, "ckpt"),
            max_hamming=self.max_hamming,
        )

    def round(self, r: int, ledger: str = "ledger0"):
        base = _fresh(self.path(f"r{r}"))
        shutil.copytree(self.path(ledger), os.path.join(base, "ledger"))
        wall, progress, err = run_stream(self._sink(self._registry(f"r{r}", "ledger"), base))
        self.round_info[r] = {
            "progress": progress,
            "ledger_bytes": _du(os.path.join(base, "ledger")),
        }
        return wall, op_seconds(progress), err, len(self.batches)

    def admitted(self, r: int) -> list[dict[int, int]]:
        out = self.path(f"r{r}", "out")
        got = [dict() for _ in self.batches]
        if os.path.isdir(out):
            t = pq.read_table(out).to_pydict()
            for b, i, fp in zip(t["batch"], t["media_id"], t["fingerprint"]):
                got[int(b)][int(i)] = int(fp)
        return got

    def check(self, r: int) -> list[str]:
        if self._reference is None:
            prefill, old_rows = self._reference_inputs
            self._reference = check.media_reference(
                prefill, old_rows, self.batches, self.max_hamming
            )
        return check.check_media(self.admitted(r), self._reference)

    def layer_round_setup(self) -> dict:
        """The gated probe path: a copy of the pre-filled ledger gets a
        probe sidecar (built by the exact repair an empty gated call
        runs), and a ledger with a sidecar keeps the sink's default
        policy on the gated path at any size."""
        from openmsistream_spark.llm.phash import incremental_fingerprint_neardup

        shutil.rmtree(self.path("ledger_gated"), ignore_errors=True)
        shutil.copytree(self.path("ledger0"), self.path("ledger_gated"))
        empty = self.spark.createDataFrame([], "media_id long, fingerprint long")
        incremental_fingerprint_neardup(
            empty, self._registry("ledger_gated"), max_hamming=self.max_hamming,
            run_id="sidecar-build", sidecar=True,
        ).count()
        return {"ledger": "ledger_gated"}

    def probes(self):
        from openmsistream_spark.llm import phash

        return [
            ("llm.phash.image_fingerprints",
             lambda: self.spark.read.parquet(self.path("in")), phash.image_fingerprints),
        ]

    def layer_counts(self, rounds) -> dict[str, float]:
        items = sum(len(b) for b in self.batches)
        admitted = [sum(len(b) for b in self.admitted(r)) for r in rounds]
        return {
            "llm.phash.admitted_ratio": statistics.fmean(admitted) / items,
            "operators.registry.bytes_on_disk": statistics.fmean(
                self.round_info[r]["ledger_bytes"] for r in rounds
            ),
        }


# --------------------------------------------------------------------------
# text_curation
# --------------------------------------------------------------------------


class TextCuration(Workload):
    """curate_document_stream + curation_sink with a near-dup LSH
    ledger. Within-batch near-duplicates are left to the ledger (no
    collapse pass; see README for why)."""

    name = "text_curation"
    n_batches = 2
    batch_size = 60
    #: 16 hashes in 8 bands: a planted near-copy (Jaccard ~0.9) misses
    #: every band with probability ~1e-6, so the property check is exact
    neardup_conf = {"num_hashes": 16, "rows_per_band": 2}

    def setup(self):
        self.batches, self.truth = gen.make_documents(
            self.seed, self.n_batches, self.batch_size
        )
        self.digest = gen.inputs_digest([self.batches])
        self.planted = {k: len(v) for k, v in self.truth.items()}
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        _write_parts(self.batches, schema, self.path("in"), ["doc_id", "text"])

    def round(self, r: int):
        from openmsistream_spark.operators.registry import make_registry
        from openmsistream_spark.streaming.curation import (
            curate_document_stream,
            curation_sink,
        )

        base = _fresh(self.path(f"r{r}"))
        reg = make_registry(
            self.spark, os.path.join(base, "lsh"), ["band", "band_sig", "doc_id"],
            backend="log",
        )
        src = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.path("in"))
        )
        writer = curation_sink(
            curate_document_stream(src),
            os.path.join(base, "out"),
            os.path.join(base, "ckpt"),
            neardup_registry=reg,
            neardup_conf=self.neardup_conf,
        )
        wall, progress, err = run_stream(writer)
        self.round_info[r] = {
            "progress": progress,
            "ledger_bytes": _du(os.path.join(base, "lsh")),
        }
        return wall, op_seconds(progress), err, len(self.batches)

    def survivors(self, r: int) -> list[tuple[int, int]]:
        out = self.path(f"r{r}", "out")
        if not os.path.isdir(out):
            return []
        t = pq.read_table(out, columns=["doc_id", "batch"]).to_pydict()
        return [(int(b), int(d)) for b, d in zip(t["batch"], t["doc_id"])]

    def check(self, r: int) -> list[str]:
        return check.check_curation(self.survivors(r), self.batches, self.truth)

    def probes(self):
        """The text layers, plus the within-batch collapse pass
        (minhash_lsh_dedup + dedup_clusters) the timed stream leaves
        off, each on the first input batch."""
        from openmsistream_spark.llm import dedup, textstats

        first = os.path.join(self.path("in"), "part-0000.parquet")

        def docs():
            return self.spark.read.parquet(first)

        def pairs():
            return dedup.minhash_lsh_dedup(docs(), **self.neardup_conf)

        return [
            ("llm.textstats.quality_filter", docs, textstats.quality_filter),
            ("llm.textstats.pii_redact", docs, textstats.pii_redact),
            ("llm.dedup.minhash_lsh_dedup", docs,
             lambda df: dedup.minhash_lsh_dedup(df, **self.neardup_conf)),
            ("llm.dedup.dedup_clusters", pairs,
             lambda p: dedup.dedup_clusters(docs().select("doc_id"), p)),
        ]

    def layer_counts(self, rounds) -> dict[str, float]:
        docs = sum(len(b) for b in self.batches)
        return {
            "llm.dedup.admitted_ratio": statistics.fmean(
                len(self.survivors(r)) for r in rounds
            ) / docs,
            "operators.registry.bytes_on_disk": statistics.fmean(
                self.round_info[r]["ledger_bytes"] for r in rounds
            ),
        }


def _du(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


WORKLOADS = {w.name: w for w in (FileTransport, MediaIngest, TextCuration)}
