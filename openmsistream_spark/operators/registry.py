"""R1-R9 — registry/ledger operators: the system's queryable tables.

The reference keeps producer/consumer progress in `;`-delimited CSV
"DataclassTable"s with locked point updates and shard compaction
(reference: utilities/dataclass_table.py:44-213,
file_registry/producer_file_registry.py:18-326,
stream_handler_registries.py:19-445). Here a registry is a parquet
directory + a keyed-upsert helper (MERGE semantics: anti-join the old
rows on key, union the new, overwrite atomically via a staging path).
For ledgers that grow without bound, ``LogStructuredRegistry`` (via
``make_registry``) backs the same API with O(batch) appends and
fold-forward compaction instead of O(table) per call, without
call-site changes.

All filesystem operations (exists / rename / recursive delete) go
through the Hadoop FileSystem API resolved from the registry URI, so a
registry path may live on any Hadoop-supported store — file:/, hdfs://,
s3a://, abfs:// — not just the driver's local POSIX filesystem. On HDFS
the staging rename is atomic; on object stores it degrades to
copy-rename (the usual caveat), which is still safe here because readers
resolve the path fresh per read and a failed swap leaves either the old
or the new table, never a partial one.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for the few
    metadata ops a registry needs. Replaces os.path.exists/os.replace/
    shutil.rmtree so registries work on shared storage (the reference's
    registries are local CSV files, dataclass_table.py:197-213 — a real
    cluster keeps durable state on HDFS/S3)."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark._jvm
        self._jpath = jvm.org.apache.hadoop.fs.Path
        self._fs = self._jpath(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._jpath(path)))

    def rename(self, src: str, dst: str) -> bool:
        """Atomic on HDFS/local; copy-rename on object stores. Returns
        False if the filesystem refused (e.g. destination exists)."""
        return bool(self._fs.rename(self._jpath(src), self._jpath(dst)))

    def delete(self, path: str) -> None:
        self._fs.delete(self._jpath(path), True)  # recursive, idempotent

    def list_dirs(self, path: str) -> list[str]:
        """Names of the immediate child DIRECTORIES of ``path`` (empty
        if the path is missing)."""
        if not self.exists(path):
            return []
        return [
            s.getPath().getName()
            for s in self._fs.listStatus(self._jpath(path))
            if s.isDirectory()
        ]

    def size_bytes(self, path: str) -> int:
        """Total bytes under ``path`` (0 if missing)."""
        if not self.exists(path):
            return 0
        return int(self._fs.getContentSummary(self._jpath(path)).getLength())

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._jpath(path))


class ParquetRegistry:
    """A small keyed table persisted as parquet (R2/R3).

    Writes go through a staging directory + atomic rename so readers
    never see a partial table — the Spark analogue of the reference's
    atomic-write CSV (dataclass_table.py:197-213).
    """

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str]):
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.fs = HadoopFS(spark, path)

    def exists(self) -> bool:
        return self.fs.exists(self.path)

    def read(self) -> DataFrame | None:
        if not self.exists():
            return None
        return self.spark.read.parquet(self.path)

    def _overwrite(self, df: DataFrame) -> None:
        staging = f"{self.path}.staging-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(staging)
        old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
        existed = self.fs.exists(self.path)
        if existed:
            if not self.fs.rename(self.path, old):
                self.fs.delete(staging)
                raise IOError(f"could not stage out old registry at {self.path}")
        if not self.fs.rename(staging, self.path):
            # roll back so the registry is never left missing; if the
            # rollback itself fails, say where the previous table ended up
            rolled_back = self.fs.rename(old, self.path) if existed else True
            self.fs.delete(staging)
            msg = f"could not swap staged registry into {self.path}"
            if not rolled_back:
                msg += f"; ROLLBACK ALSO FAILED — previous table left at {old}"
            raise IOError(msg)
        if existed:
            self.fs.delete(old)

    def replace(self, df: DataFrame) -> None:
        """Atomically replace the WHOLE table with ``df`` — the public
        rewrite API for maintenance passes that restructure rows rather
        than merge them by key (ledger compaction, shard folding).

        Same atomicity as every other write (staged write + rename on
        the parquet backend, a new base segment on the log backend),
        but NO key-level coordination: a replace that interleaves with a
        concurrent ``upsert`` can drop the upsert's rows. Callers must
        serialize replaces with any live writer of the same registry —
        e.g. run compaction inside the stream's own ``foreachBatch``
        (``compact_every``, scheduled by streaming/batch_sink.py) or with
        the stream stopped."""
        self._overwrite(df)

    def upsert(self, updates: DataFrame) -> None:
        """R2 — MERGE: replace rows whose key matches, append the rest.
        Duplicate-key rows in ``updates`` collapse to one (the table is
        keyed); same semantics on the log backend."""
        updates = updates.dropDuplicates(self.key_cols)
        current = self.read()
        if current is None:
            self._overwrite(updates)
            return
        kept = current.join(
            updates.select(*self.key_cols).distinct(), on=self.key_cols, how="left_anti"
        )
        # allowMissingColumns: a ledger schema may grow a column over
        # time (e.g. the dedup ledgers' run_id); old rows null-fill
        self._overwrite(kept.unionByName(updates, allowMissingColumns=True))

    def delete(self, keys: DataFrame) -> None:
        """R2 — keyed delete."""
        current = self.read()
        if current is None:
            return
        self._overwrite(
            current.join(keys.select(*self.key_cols).distinct(), self.key_cols, "left_anti")
        )

    def lookup(self, **attrs) -> DataFrame:
        """R1 — keyed lookup (index-scan analogue)."""
        df = self.read()
        if df is None:
            raise FileNotFoundError(self.path)
        for col, val in attrs.items():
            df = df.filter(F.col(col) == F.lit(val))
        return df

    def compact(self, shard_paths: list[str]) -> None:
        """R5 — consolidate shard tables into this registry, verifying no
        row is lost before the shards would be removed (the reference
        verifies all lines copied before unlink,
        producer_file_registry.py:291-326)."""
        shards = [self.spark.read.parquet(p) for p in shard_paths if self.fs.exists(p)]
        if not shards:
            return
        merged = shards[0]
        for s in shards[1:]:
            merged = merged.unionByName(s)
        # cache: `merged` feeds three actions (count, the upsert's write,
        # and the verify semi-join) — uncached, each would re-scan every
        # shard
        merged = merged.dropDuplicates(self.key_cols).cache()
        try:
            expected = merged.count()
            self.upsert(merged)
            got = (
                self.read()
                .join(
                    merged.select(*self.key_cols).distinct(),
                    self.key_cols,
                    "left_semi",
                )
                .count()
            )
        finally:
            merged.unpersist()
        if got != expected:
            raise IOError(
                f"registry compaction lost rows: expected {expected}, found {got}"
            )


class LogStructuredRegistry(ParquetRegistry):
    """Log-structured registry: upsert/delete APPEND a delta segment
    (O(batch) write) instead of rewriting the whole table; reads fold
    the segments forward (latest sequence number wins per key); a
    size-triggered compaction folds everything into a fresh base
    segment when the accumulated deltas outweigh it.

    Why: the plain parquet backend's ``upsert`` is a full scan+rewrite
    per call — measured at +0.35 s per +10k ledger rows per streaming
    micro-batch (STRESS_MEDIA_LEDGER.json, round 14), the ingest
    path's only super-constant cost. This backend is the
    dependency-free fix, built on the repo's own fold-forward discipline (streaming/ledger_fold.py). Amortized
    write cost per row is O(1): compaction fires when delta bytes
    reach base bytes, so the ledger doubles between folds and the
    geometric series telescopes (the dynamic-array argument).

    On-disk layout:
    ``path/seg-<10-digit-seq>-<base|delta|tomb|run|trun>-<uuid>``
    parquet directories (``run`` = a minor-compacted fold of deltas;
    ``trun`` = a run that carries embedded tombstone rows). Fold rule:
    for each key keep the row from the highest-sequence segment; a
    ``tomb`` segment (or a tombstone row inside a ``trun``) marks
    deletion. Every segment is written to a ``.staging-<uuid>`` name
    first and atomically renamed into its ``seg-*`` name only after
    the write job commits, so a listing NEVER includes a partial or
    in-flight segment (a crash leaves only an ignored staging dir).
    ``_segments()`` additionally drops any segment whose seq is below
    the newest base's seq — such segments are by construction already
    folded into that base (compaction assigns the base a higher seq
    before deleting what it folded), so a listing taken before,
    during, or after a compaction commit reads to the same table on
    BOTH the fold path and the insert-only union path; segment DIRS
    are only removed after the new base exists (a reader mid-scan of
    a just-removed segment can hit FileNotFound, the same
    single-writer caveat the parquet backend's rename swap carries).

    Compaction is tiered so the common pause is small: a MINOR fold
    collapses accumulated delta/tomb segments into one ``run``
    (O(accumulated) — independent of base size; tombstone winners are
    preserved as rows so the base below still sees them); runs
    re-fold when they accumulate; a MAJOR fold (``compact_now``)
    rewrites everything into a fresh base — O(base), fired
    automatically on the doubling rule (amortized O(1)/row) or, with
    ``major_compaction="manual"``, only when the operator calls
    ``compact_now()`` off the ingest path (the unbounded-ledger
    recipe: minor folds keep segment counts bounded; the O(base)
    pause runs on the operator's schedule, not inside foreachBatch).

    Same single-writer discipline as the other backends: serialize
    writes (including auto-compaction) with any live writer — e.g.
    run upserts inside the stream's own ``foreachBatch``.
    """

    #: fold forward when the delta segments' bytes reach this multiple
    #: of the base segment's bytes (1.0 = the doubling rule)…
    compact_bytes_ratio = 1.0
    #: …or when this many delta/tomb (or run) segments accumulate —
    #: then a MINOR fold collapses them into one run, whichever first.
    #: Plan size (scan branches + codegen compile) grows with live
    #: segment count, so the cap also bounds per-read planning cost —
    #: measured at ~+0.3 s/read per extra segment on tiny ledgers.
    compact_max_segments = 16

    _SEQ_COL = "_oms_seq"
    _TOMB_COL = "_oms_tombstone"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        insert_only: bool = False,
        major_compaction: str = "auto",
        segment_sort_cols: list[str] | None = None,
    ):
        """``insert_only=True`` declares the caller's write discipline:
        every key is upserted AT MOST ONCE (the incremental-dedup
        ledger contract — the collision guard and same-run short-
        circuit upstream enforce it). Under that declaration ``read``
        skips the latest-wins fold entirely while no tombstones exist:
        segments are key-disjoint, so their plain union IS the table —
        zero shuffle, scan-speed reads at any ledger size. A
        ``delete`` (tombstone) flips reads back to the exact fold.

        ``major_compaction``: "auto" (default) fires the O(base) full
        fold on the doubling rule inside the writing call; "manual"
        never does — minor folds still bound segment counts with
        O(accumulated) pauses, and the operator schedules
        ``compact_now()`` off the ingest path (the unbounded-ledger
        recipe — see class docstring).

        ``segment_sort_cols``: sort rows by these columns inside each
        written segment file, so parquet row-group min/max statistics
        make pushed-down point/IN filters on those columns prune most
        of the scan (the write-time-index shape the phash bloom
        sidecar's combo index uses)."""
        super().__init__(spark, path, key_cols)
        self.insert_only = insert_only
        if major_compaction not in ("auto", "manual"):
            raise ValueError(
                f"major_compaction={major_compaction!r} (have 'auto'|'manual')"
            )
        self.major_compaction = major_compaction
        self.segment_sort_cols = segment_sort_cols

    def exists(self) -> bool:
        return bool(self._segments())

    def _list_segments(self) -> list[tuple[int, str, str]]:
        """Sorted (seq, kind, full_path) of every committed segment on
        disk, INCLUDING segments already shadowed by a newer base
        (compaction leftovers after a crash) — cleanup paths need
        these; readers must use :meth:`_segments`."""
        out = []
        for name in self.fs.list_dirs(self.path):
            parts = name.split("-", 3)
            if len(parts) == 4 and parts[0] == "seg" and parts[1].isdigit():
                out.append((int(parts[1]), parts[2], f"{self.path}/{name}"))
        return sorted(out)

    def _segments(self) -> list[tuple[int, str, str]]:
        """Sorted (seq, kind, full_path) of LIVE segments: anything at
        or above the newest base's seq. Segments below it are by
        construction folded into that base (compaction writes the base
        at a higher seq before deleting them), so dropping them here
        makes reads compaction-safe on the union path too — a listing
        taken between the base write and the folded-segment deletes
        would otherwise double-count every key."""
        segs = self._list_segments()
        base_seqs = [s for s, k, _ in segs if k == "base"]
        if not base_seqs:
            return segs
        newest_base = max(base_seqs)
        return [s for s in segs if s[0] >= newest_base]

    def _write_segment(self, df: DataFrame, kind: str, seq: int) -> None:
        if kind != "base":
            # a delta/tomb segment is one micro-batch of ~tens-of-bytes
            # rows — written at the session's shuffle parallelism it
            # becomes 32 tiny files PER SEGMENT, and reads then schedule
            # segments x 32 scan tasks (measured as linear wall growth
            # that bytes alone cannot explain). One file per delta keeps
            # the union's task count ~= segment count; the base keeps
            # its natural partitioning (it can be arbitrarily large).
            # repartition, NOT coalesce: coalesce(1) collapses the
            # UPSTREAM plan onto one core too (measured 7.8 s/batch on
            # the probe sidecar's 56x-exploded index deltas — the same
            # serialization trap as the round-15 compact-ledger read);
            # the shuffle it adds moves one micro-batch of rows
            df = df.repartition(1)
        if self.segment_sort_cols:
            df = df.sortWithinPartitions(*self.segment_sort_cols)
        # stage + atomic rename: _segments() only matches the seg-*
        # name, so a reader never lists an in-flight or partially
        # committed write — a crash mid-job leaves a .staging-* dir
        # that compact_now() garbage-collects
        name = f"seg-{seq:010d}-{kind}-{uuid.uuid4().hex[:8]}"
        staging = f"{self.path}/.staging-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(staging)
        if not self.fs.rename(staging, f"{self.path}/{name}"):
            self.fs.delete(staging)
            raise IOError(f"could not commit segment {name} under {self.path}")

    def read(self) -> DataFrame | None:
        segs = self._segments()
        if not segs:
            return None
        if len(segs) == 1 and segs[0][1] == "base":
            # steady state after compaction: a plain keyed parquet scan,
            # exactly what the parquet backend's read costs
            return self.spark.read.parquet(segs[0][2])
        return self._table(segs)

    def _table(self, segs: list[tuple[int, str, str]]) -> DataFrame:
        """The live table over ``segs``: declared key-disjoint with no
        tombstones, the plain union of segment scans IS the table (no
        seq column, no aggregate, no shuffle); otherwise the exact
        fold. A trun carries embedded tombstone rows, so its presence
        (like a tomb's) flips to the fold.

        The union is ONE multi-path scan: a ``read.parquet`` per segment
        launches one footer-inference job each, so a read would grow by
        a job per delta between folds. ``mergeSchema`` null-fills a
        column that older segments lack."""
        if self.insert_only and all(k not in ("tomb", "trun") for _, k, _ in segs):
            return self.spark.read.option("mergeSchema", "true").parquet(
                *[p for _, _, p in segs]
            )
        return self._fold(segs)

    def _fold(
        self, segs: list[tuple[int, str, str]], keep_tombs: bool = False
    ) -> DataFrame:
        """Latest-sequence-wins fold of the given segments. One
        map-side-combinable ``max_by`` aggregate over the union — no
        window, no sort. Tombstoned keys drop, unless ``keep_tombs``
        (a minor fold above a base): then tombstone winners stay as
        rows so the base below still sees the deletions at read time.
        Each segment is read on its own (one footer job each, unlike
        ``_table``'s union) because its rows are tagged with its seq."""
        add_tomb = not keep_tombs or any(k in ("tomb", "trun") for _, k, _ in segs)
        dfs = []
        for seq, _, p in segs:
            df = self.spark.read.parquet(p).withColumn(
                self._SEQ_COL, F.lit(seq).cast("long")
            )
            if add_tomb and self._TOMB_COL not in df.columns:
                df = df.withColumn(self._TOMB_COL, F.lit(False))
            dfs.append(df)
        all_rows = _union(dfs)
        val_cols = [c for c in all_rows.columns if c not in self.key_cols]
        folded = all_rows.groupBy(*self.key_cols).agg(
            F.max_by(F.struct(*val_cols), F.col(self._SEQ_COL)).alias("_oms_v")
        )
        drop = (self._SEQ_COL,)
        if not keep_tombs:
            drop += (self._TOMB_COL,)
            folded = folded.filter(~F.col(f"_oms_v.{self._TOMB_COL}"))
        return folded.select(
            *self.key_cols,
            *[F.col(f"_oms_v.{c}").alias(c) for c in val_cols if c not in drop],
        )

    def _next_seq(self, segs: list[tuple[int, str, str]]) -> int:
        return (segs[-1][0] + 1) if segs else 1

    def _overwrite(self, df: DataFrame) -> None:
        """Whole-table replace = write a new base above everything,
        then drop the shadowed segments (including any compaction
        leftovers a crash stranded below an older base)."""
        segs = self._list_segments()
        self._write_segment(df, "base", self._next_seq(segs))
        for _, _, p in segs:
            self.fs.delete(p)

    def upsert(self, updates: DataFrame) -> None:
        """R2 — MERGE semantics, O(batch) write: append a delta
        segment; matched keys shadow older rows at read time."""
        updates = updates.dropDuplicates(self.key_cols)
        segs = self._segments()
        if not segs:
            self._write_segment(updates, "base", 1)
            return
        self._write_segment(updates, "delta", self._next_seq(segs))
        self._maybe_compact()

    def delete(self, keys: DataFrame) -> None:
        """R2 — keyed delete via a tombstone segment."""
        segs = self._segments()
        if not segs:
            return
        tomb = (
            keys.select(*self.key_cols)
            .distinct()
            .withColumn(self._TOMB_COL, F.lit(True))
        )
        self._write_segment(tomb, "tomb", self._next_seq(segs))
        self._maybe_compact()

    def _fold_to_run(self, segs: list[tuple[int, str, str]]) -> None:
        """MINOR fold: collapse ``segs`` (never the base) into ONE run
        segment, preserving tombstone winners as embedded rows so the
        base below still sees deletions at read time. Pause is
        O(bytes folded) — independent of base size."""
        has_tombs = any(k in ("tomb", "trun") for _, k, _ in segs)
        self._write_segment(
            self._fold(segs, keep_tombs=True),
            "trun" if has_tombs else "run",
            self._next_seq(self._list_segments()),
        )
        for _, _, p in segs:
            self.fs.delete(p)

    def _maybe_compact(self) -> None:
        segs = self._segments()
        non_base = [s for s in segs if s[1] != "base"]
        if not non_base:
            return
        base_bytes = sum(self.fs.size_bytes(p) for _, k, p in segs if k == "base")
        nb_bytes = sum(self.fs.size_bytes(p) for _, _, p in non_base)
        if (
            self.major_compaction == "auto"
            and nb_bytes >= max(base_bytes, 1) * self.compact_bytes_ratio
        ):
            # the doubling rule: accumulated folds outweigh the base —
            # full fold, O(base), amortized O(1)/row across the run of
            # appends that reached here
            self.compact_now()
            return
        # MINOR tier: bound live segment count without touching the
        # base. Fresh delta/tomb appends fold into a run; accumulated
        # runs re-fold together. Each pause is O(bytes folded).
        small = [s for s in non_base if s[1] in ("delta", "tomb")]
        if len(small) >= self.compact_max_segments:
            self._fold_to_run(small)
        runs = [s for s in self._segments() if s[1] in ("run", "trun")]
        if len(runs) >= self.compact_max_segments:
            self._fold_to_run(runs)

    def compact_now(self) -> None:
        """MAJOR fold: every live segment into one fresh base; remove
        the folded segments, any crash-stranded shadowed segments, and
        any dead ``.staging-*`` dirs. Safe against concurrent READERS
        (the new base shadows what it folded); must be serialized with
        other writers like every registry write — under
        ``major_compaction="manual"`` this is the call the operator
        schedules off the ingest path."""
        all_segs = self._list_segments()
        segs = self._segments()
        if segs and not (len(segs) == 1 and segs[0][1] == "base"):
            # key-disjoint with nothing tombstoned, _table is the plain
            # union: the rewrite skips the fold's shuffle
            self._write_segment(self._table(segs), "base", self._next_seq(all_segs))
            for _, _, p in all_segs:
                self.fs.delete(p)
        else:
            live = {p for _, _, p in segs}
            for _, _, p in all_segs:  # crash-stranded shadowed leftovers
                if p not in live:
                    self.fs.delete(p)
        # a crashed _write_segment leaves a .staging-* dir no reader
        # ever lists; single-writer discipline means none can be live
        for name in self.fs.list_dirs(self.path):
            if name.startswith(".staging-"):
                self.fs.delete(f"{self.path}/{name}")


def _union(dfs: list[DataFrame]) -> DataFrame:
    """By-name union of segment frames (a segment may lack columns a
    later one added, e.g. the tombstone flag)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def _is_log_layout(fs: HadoopFS, path: str) -> bool:
    """True iff ``path`` holds a LogStructuredRegistry's seg-* child
    directories (its on-disk signature)."""
    for name in fs.list_dirs(path):
        parts = name.split("-", 3)
        if len(parts) == 4 and parts[0] == "seg" and parts[1].isdigit():
            return True
    return False


def _is_fresh(fs: HadoopFS, path: str) -> bool:
    """True iff ``path`` is missing or an empty directory."""
    return not fs.exists(path) or (not fs.list_dirs(path) and fs.size_bytes(path) == 0)


def make_registry(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    backend: str = "auto",
    insert_only: bool = False,
    major_compaction: str = "auto",
    prefer: str | None = None,
) -> ParquetRegistry:
    """Registry factory: ``backend`` = "parquet", "log", or "auto".

    ``prefer="log"`` (only meaningful under "auto") declares an
    unbounded-ingest call site — streaming sinks, the curate CLI's
    dedup ledgers: a FRESH path then gets the log backend instead of
    parquet. Existing registries always keep their on-disk format
    regardless of preference.

    "log" is the log-structured backend — O(batch) appends +
    fold-forward compaction — the right choice for streaming ingest
    ledgers that grow without bound (see ``LogStructuredRegistry``);
    ``insert_only=True`` additionally declares the at-most-once-per-key
    write discipline that lets its reads skip the fold (scan-speed at
    any ledger size; only meaningful for the log backend), and
    ``major_compaction="manual"`` keeps the O(base) full fold off the
    writer's path (the operator schedules ``compact_now()``).

    "auto" honours what is already on disk: a path holding seg-*
    segment directories reopens as the log backend it was written by
    (so a later run that drops an explicit ``backend="log"`` cannot
    misread the ledger as empty parquet). A fresh path with
    ``prefer="log"`` gets the log backend; anything else — including
    an existing parquet-format registry — gets the parquet backend.

    Migration parquet → log: read the parquet registry, write its
    table as the log ledger's first base —
    ``make_registry(spark, new_path, keys, backend="log").replace(
    make_registry(spark, old_path, keys, backend="parquet").read())``
    — then point the caller at ``new_path`` (in-place reuse of the
    same path is refused by the format guards in both directions).
    """
    if backend not in ("auto", "parquet", "log"):
        raise ValueError(f"backend={backend!r} (have 'auto'|'parquet'|'log')")
    fs = HadoopFS(spark, path)
    log_layout = _is_log_layout(fs, path)
    if backend == "auto":
        # 1. an existing seg-* layout reopens as log (a ledger written
        #    with backend="log" must not be misread as empty parquet);
        # 2. a fresh path declared unbounded-ingest gets log;
        # 3. anything else gets parquet
        if log_layout or (prefer == "log" and _is_fresh(fs, path)):
            backend = "log"
        else:
            backend = "parquet"
    if backend == "parquet":
        if log_layout:
            raise ValueError(
                f"registry at {path} is log-structured (seg-* segments); "
                "reading it as parquet would fail or miss rows — use "
                "backend='log' (or 'auto', which detects it)"
            )
        return ParquetRegistry(spark, path, key_cols)
    if not log_layout and not _is_fresh(fs, path):
        # non-empty dir with no seg-* children = some other format;
        # reading it as an empty ledger would silently re-admit
        # everything the old ledger had blocked
        raise ValueError(
            f"registry at {path} exists but is not log-structured; "
            "use its original backend or migrate it first"
        )
    return LogStructuredRegistry(
        spark,
        path,
        key_cols,
        insert_only=insert_only,
        major_compaction=major_compaction,
    )


def chunk_ledger(chunks: DataFrame, delivered: DataFrame, key: str = "rel_path") -> DataFrame:
    """R4 — producer ledger from a chunk table + delivered-ack table:
    per file, delivered/to-send chunk sets and completion state
    (reference: producer_file_registry.py:169-289)."""
    all_chunks = chunks.select(key, "chunk_i", "n_total_chunks")
    # distinct: at-least-once delivery acks the same chunk repeatedly —
    # a duplicate ack must not multiply join rows / inflate counts
    acked = delivered.select(key, "chunk_i").distinct().withColumn("_d", F.lit(1))
    joined = all_chunks.join(acked, [key, "chunk_i"], "left")
    return (
        joined.groupBy(key)
        .agg(
            F.max("n_total_chunks").alias("n_chunks"),
            F.sort_array(
                F.collect_list(F.when(F.col("_d").isNotNull(), F.col("chunk_i")))
            ).alias("chunks_delivered"),
            F.sort_array(
                F.collect_list(F.when(F.col("_d").isNull(), F.col("chunk_i")))
            ).alias("chunks_to_send"),
        )
        .withColumn("n_chunks_delivered", F.size("chunks_delivered").cast("long"))
        .withColumn("n_chunks_to_send", F.size("chunks_to_send").cast("long"))
        .withColumn(
            "status",
            F.when(F.col("n_chunks_to_send") == 0, "completed").otherwise("in_progress"),
        )
    )


def incomplete_files(ledger: DataFrame) -> DataFrame:
    """R7 — (rel_path, chunks_to_send) for files not fully delivered."""
    return ledger.filter(F.col("n_chunks_to_send") > 0).select(
        "rel_path", "chunks_to_send"
    )


def completed_filepaths(ledger: DataFrame) -> DataFrame:
    """R6 — distinct completed paths."""
    return ledger.filter(F.col("status") == "completed").select("rel_path").distinct()


def resume_plan(
    discovered_files: DataFrame, ledger: DataFrame, key: str = "rel_path"
) -> tuple[DataFrame, DataFrame]:
    """R8 — on startup: (files to skip, files to resume) =
    (completed ∩ discovered via semi join, in-progress via semi join)
    (reference: data_file_upload_directory.py:522-572)."""
    completed = ledger.filter(F.col("status") == "completed").select(key)
    in_progress = ledger.filter(F.col("status") != "completed").select(key)
    skip = discovered_files.join(F.broadcast(completed), key, "left_semi")
    resume = discovered_files.join(F.broadcast(in_progress), key, "left_semi")
    return skip, resume


def rerun_key_filter(stream: DataFrame, registry: DataFrame, key: str = "rel_path") -> DataFrame:
    """F5 — registry-driven rerun: keep only stream records whose file is
    still in progress (the reference builds one alternation regex over
    incomplete files, stream_handler_registries.py:84-104; a broadcast
    semi join is the scalable restatement)."""
    incomplete = registry.filter(F.col("status") != "completed").select(key)
    return stream.join(F.broadcast(incomplete), key, "left_semi")
