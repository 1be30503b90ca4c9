"""Bloom sidecar + write-time combo index for the incremental
fingerprint probe — makes the common per-micro-batch ledger probe
O(batch) instead of O(ledger).

Why: ``phash.incremental_fingerprint_neardup``'s exact probe is a
broadcast nested-loop join that evaluates ``bit_count`` on every
(ledger row, batch row) pair — cheap while that product is small, but
O(ledger x batch) per micro-batch. Past ``phash.NLJ_PAIR_BUDGET``
pairs the ``sidecar="auto"`` policy switches to this sidecar, which
removes the per-batch ledger-side work:

- **Write-time combo index**: the 56× combination-key explode of each
  admitted row is computed ONCE, at admit time, and appended to a
  log-structured index (O(batch) one-file segments, sorted by
  ``combo_key`` so parquet row-group min/max statistics serve pushed
  point/IN filters). The probe never re-explodes the ledger.
- **Bloom sidecar**: an m-bit bloom over all admitted combo keys
  (plus a second, smaller bloom over admitted media_ids for the
  collision guard). At probe time the micro-batch's combo keys are
  marked against the mask; bloom-NEGATIVE keys are definitively
  absent and skip the index entirely, so a no-hit batch costs one
  row-local mark pass and zero ledger I/O. Bloom-positive keys (real
  matches + a controlled false-positive tail) are verified EXACTLY
  against the index — membership is never decided by the bloom alone.
- **Coverage accounting**: the ledger upsert remains the commit point
  (ledger first, sidecar second). The sidecar records which run_ids
  it covers (one O(1) run-log append per batch — the meta table
  itself is ONE row, so the per-batch commit is O(batch), not
  O(total runs ever)) and how many rows; a probe first compares its
  row count against the ledger's (a parquet-footer count) and, on
  mismatch
  (crash between ledger commit and sidecar update, a pre-sidecar
  ledger, an out-of-band append), REPAIRS by exploding exactly the
  uncovered rows — the exact-probe fallback. A lost or deleted
  sidecar is the same case with zero covered rows: one full O(ledger)
  repair (one combo explode of the whole ledger), then flat again.

Every per-batch term is O(batch), amortized — the round-16 XL stress
showed the FIRST sidecar cut only the ledger-ROW term and left four
O(mask) = O(ledger-keys) per-batch terms (full-mask ``bloom_build`` +
treeReduce per batch, 95–226 s at a 2^30 mask; a full-mask meta
rewrite AND reload per batch; a full-mask re-broadcast per batch; an
every-batch resize that OOM'd at the 2^30→2^31 fold). The storage and
transfer design that removes them:

- **Masks update by POSITIONS, not by mask**: a batch's new bit
  positions (``keys × k`` int64s, O(batch)) are computed JVM-side,
  collected once through Arrow, and OR'd into the driver-resident
  mask — no executor ever builds a full mask on the common path.
- **Snapshot + delta persistence**: per batch the sidecar durably
  appends only the packed positions (``masks/delta-<snap>-<seq>``);
  a full-mask snapshot (``masks/snap-<id>``) is written only when
  accumulated delta bytes exceed the mask size — amortized O(batch),
  and a cold load replays at most one mask's worth of deltas.
- **Layered broadcast marking** (``bloom.bloom_mark_layered``): the
  mask ships to executors as a base broadcast (re-shipped only on
  rebase/resize) plus per-batch position-delta broadcasts; reused
  Python workers keep the materialized union mask in a module-global
  cache and grow it in place — per-batch ship is O(batch).
- **Chunked distributed (re)builds** (``bloom.bloom_build_chunked``):
  resizes and huge-batch absorbs shuffle positions by mask chunk so
  no task ever holds more than ~4 MiB of mask — removes the
  ``n_partitions × m/8`` transient that OOM'd the 2^31 fold — and
  the resize target is sized with 2× headroom (fill lands at
  ``resize_fill/2``) so rebuilds are geometric in the key count, not
  once per batch.
- **Driver session cache** (``_STATE_CACHE``): within one
  (single-writer) session the masks and their broadcast layers are
  kept across calls, validated against the committed meta token
  (snap id, delta seq, row count) — reload from storage happens only
  cross-session or after an out-of-band change.

False positives in the bloom or duplicate index rows (a crash between
the index append and the meta commit makes the next repair re-append
the same rows) only cause extra exact checks — never a wrong verdict.
An in-session failure between mask update and meta commit leaves the
cached mask a SUPERSET of the committed bits — same harmless class.
False negatives cannot occur for committed rows: a row is only
counted as covered after its keys are in the mask and the index, and
uncovered rows are probed exactly via repair.
"""

from __future__ import annotations

import math
import uuid as _uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.registry import HadoopFS, LogStructuredRegistry, ParquetRegistry
from .bloom import (
    BloomFilter,
    apply_packed,
    bloom_build_chunked,
    bloom_mark_layered,
    pack_positions,
    positions_col,
)

_META_SCHEMA = StructType(
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
        StructField("snap_id", StringType()),
        StructField("delta_seq", LongType()),
        StructField("n_keys", LongType()),
    ]
)

#: rows of the mask store (snapshots hold mask bytes, deltas hold
#: packed int64 bit positions; both chunked at _MASK_CHUNK)
_BLOB_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("chunk", LongType()),
        StructField("mask", BinaryType()),
    ]
)

#: blob bytes per row — parquet handles large binary cells, but
#: bounded rows keep the writer's row-group memory predictable
_MASK_CHUNK = 4 << 20

#: packed-position bytes past which a batch absorb switches from the
#: driver positions-collect to the distributed chunked partial-mask
#: build (bounds the driver collect AND the per-worker delta apply)
_POS_COLLECT_MAX = 256 << 20

#: driver session cache: meta path -> (token, spark, combo _MaskState,
#: id _MaskState, delta_bytes). Token = the committed meta identity
#: (snap_id, delta_seq, n_items, m_bits, id_m_bits, k) — any committed
#: change bumps it, so a hit proves the cached masks equal storage.
_STATE_CACHE: dict = {}


def _combo_bloom_key() -> F.Column:
    """The string key hashed into the combo bloom — MUST be derived
    identically at build (admitted rows) and probe (batch rows)."""
    return F.concat_ws(":", F.col("combo"), F.col("combo_key"))


class _MaskState:
    """Driver-side state for one bloom mask: the current bits
    (mutable, OR'd by positions), the tracked key count (for the
    predicted-fill resize trigger), and the broadcast LAYERS the mark
    pass ships (base mask at last rebase + position deltas since)."""

    __slots__ = (
        "m_bits",
        "k",
        "arr",
        "n_keys",
        "epoch",
        "base_bc",
        "delta_bcs",
        "parent",
        "_parent_bcs",
    )

    def __init__(self, m_bits: int, k: int, arr=None, n_keys: int = 0):
        self.m_bits = m_bits
        self.k = k
        self.arr = (
            arr if arr is not None else np.zeros(m_bits // 8, dtype=np.uint8)
        )
        self.n_keys = n_keys
        self.epoch: str | None = None
        self.base_bc = None
        self.delta_bcs: list = []
        # lineage handoff across one rebase: (parent epoch, n deltas)
        # plus the parent's delta broadcasts, kept alive so warm
        # workers can adopt their cached union mask instead of
        # re-loading the new base (O(batch) vs O(mask) per worker)
        self.parent: tuple | None = None
        self._parent_bcs: list = []

    def as_filter(self) -> BloomFilter:
        return BloomFilter(self.m_bits, self.k, self.arr.tobytes())

    def predicted_fill(self) -> float:
        """Fill predicted from the tracked key count — O(1), no
        popcount scan. Tracks slightly high across batches (repeated
        keys re-counted), which only triggers growth early; at resize
        time the count is corrected from the index."""
        return 1.0 - math.exp(-self.k * self.n_keys / self.m_bits)

    def or_positions(self, pos: np.ndarray, spark: SparkSession | None = None):
        """OR raw bit positions into the mask (driver-packed to the
        unique-byte form first — one vectorized fancy-index OR here
        and in every worker). With ``spark``, also append the packed
        delta as a broadcast layer (callers that skip this MUST rebase
        before the next mark — the layers would otherwise miss these
        bits)."""
        if pos.size:
            idx, val = pack_positions(pos)
            apply_packed(self.arr, idx, val)
            if spark is not None and self.base_bc is not None:
                self.delta_bcs.append(
                    spark.sparkContext.broadcast((idx.tobytes(), val.tobytes()))
                )
        self.n_keys += pos.size // self.k

    def or_partial(self, mask: bytes, n_keys_added: int):
        """OR a same-size partial mask in (the chunked-build path),
        then rebase — the layers cannot express a mask-shaped delta."""
        self.arr |= np.frombuffer(mask, dtype=np.uint8)
        self.n_keys += n_keys_added
        self.rebase()

    def replace(self, arr: np.ndarray, m_bits: int, n_keys: int):
        self.rebase()
        self.arr = arr
        self.m_bits = m_bits
        self.n_keys = n_keys

    def rebase(self, handoff: bool = False):
        """Drop the broadcast layers; the next mark re-broadcasts the
        current mask as a fresh base under a new epoch. With
        ``handoff`` (legal ONLY when every bit OR'd since the last
        epoch went through a broadcast delta), the old epoch + deltas
        are kept as the next epoch's lineage parent so warm workers
        skip the base reload."""
        drop = [] if self.base_bc is None else [self.base_bc]
        drop += self._parent_bcs
        if handoff and self.base_bc is not None:
            self.parent = (self.epoch, len(self.delta_bcs))
            self._parent_bcs = list(self.delta_bcs)
        else:
            drop += list(self.delta_bcs)
            self.parent = None
            self._parent_bcs = []
        for bc in drop:
            try:
                bc.destroy()
            except Exception:
                pass
        self.base_bc = None
        self.delta_bcs = []
        self.epoch = None

    def mark(self, df: DataFrame, key_col: str, owner: str, out_col="maybe_seen"):
        spark = df.sparkSession
        if self.base_bc is None:
            self.epoch = _uuid.uuid4().hex
            self.base_bc = spark.sparkContext.broadcast(self.arr.tobytes())
            self.delta_bcs = []
        parent = (
            (self.parent[0], self.parent[1], self._parent_bcs)
            if self.parent is not None
            else None
        )
        return bloom_mark_layered(
            df,
            key_col,
            self.k,
            self.m_bits,
            self.base_bc,
            self.delta_bcs,
            (owner, self.epoch),
            out_col,
            parent,
        )


class FingerprintProbeSidecar:
    """Durable sidecar state for one fingerprint ledger, stored next
    to it at ``<ledger_path>.probeidx/{index,meta,masks}``.
    Single-writer, same discipline as the ledger itself (serialize
    inside the stream's foreachBatch)."""

    def __init__(
        self,
        spark: SparkSession,
        ledger_path: str,
        bits: int,
        blocks: int,
        max_hamming: int,
        combo_m_bits: int = 1 << 22,
        id_m_bits: int = 1 << 18,
        k: int = 4,
        resize_fill: float = 0.25,
        max_pushdown_keys: int = 8192,
        resize: str = "auto",
        max_m_bits: int = 1 << 33,
    ):
        self.spark = spark
        self.bits = bits
        self.blocks = blocks
        self.max_hamming = max_hamming
        self.k = k
        self.resize_fill = resize_fill
        self.max_pushdown_keys = max_pushdown_keys
        if resize not in ("auto", "manual"):
            raise ValueError(f"resize={resize!r} (have 'auto'|'manual')")
        self.resize = resize
        if max_m_bits < 8 or max_m_bits & (max_m_bits - 1):
            # the clamp hands max_m_bits verbatim to bloom_build_chunked,
            # which needs whole bytes and whole 2^25-bit chunks past 2^30:
            # any power of two >= 8 satisfies both
            raise ValueError(
                f"max_m_bits={max_m_bits}: mask growth clamps to this "
                "size, so it must be a power of two >= 8"
            )
        if max(combo_m_bits, id_m_bits) > max_m_bits:
            raise ValueError(
                f"mask of {max(combo_m_bits, id_m_bits)} bits exceeds the "
                f"broadcast envelope max_m_bits={max_m_bits} "
                f"({max_m_bits // (8 << 20)} MiB resident per Python "
                "worker — see SCALING.md): shard the ingest by media_id "
                "so each ledger's key count stays inside the envelope, "
                "or raise max_m_bits explicitly if the workers have the "
                "memory"
            )
        self.max_m_bits = max_m_bits
        base = ledger_path.rstrip("/") + ".probeidx"
        self.path = base
        # the index rides the log backend: O(batch) appends, sorted
        # segments for combo_key row-group pruning, insert-only union
        # reads (duplicate rows after a crash-repair are benign here)
        self.index = LogStructuredRegistry(
            spark,
            f"{base}/index",
            ["combo", "combo_key", "media_id"],
            insert_only=True,
            segment_sort_cols=["combo_key"],
        )
        self.meta = ParquetRegistry(spark, f"{base}/meta", ["kind", "chunk"])
        # covered-run bookkeeping rides its own log registry: one
        # appended run row per batch (O(1)/batch write; minor folds
        # bound segment count) — the r16 layout rewrote one meta row
        # per run id EVER, every batch: O(total runs) per commit, the
        # exact super-constant class the sidecar exists to remove
        self.runs = LogStructuredRegistry(
            spark, f"{base}/runs", ["run_id"], insert_only=True
        )
        self.masks_path = f"{base}/masks"
        self.fs = HadoopFS(spark, base)
        # in-memory state, populated by load_or_init
        self._combo = _MaskState(combo_m_bits, k)
        self._ids = _MaskState(id_m_bits, k)
        self.n_items = 0
        self.snap_id: str | None = None
        self.delta_seq = 0
        self.delta_bytes = 0
        # frames persisted during one probe→record cycle, released at
        # the end of record() (the gated path's last step)
        self._pins: list[DataFrame] = []

    @property
    def combo_bloom(self) -> BloomFilter:
        return self._combo.as_filter()

    @property
    def covered(self) -> set[str]:
        """Committed run ids — introspection/test surface only (an
        O(runs) driver collect; no per-batch path materializes this)."""
        df = self.runs.read()
        if df is None:
            return set()
        return {r.run_id for r in df.select("run_id").collect()}

    @property
    def id_bloom(self) -> BloomFilter:
        return self._ids.as_filter()

    @property
    def _n_combos(self) -> int:
        from .phash import _combo_params

        return len(_combo_params(self.bits, self.blocks, self.max_hamming)[2])

    # ---------------------------------------------------------- state

    def load_or_init(self) -> None:
        """Read the meta table if present; refuse a params mismatch
        (a silently changed combo budget would re-derive different
        probe keys than the index holds — the same refusal discipline
        as the streaming params sidecar), and refuse a meta table in a
        layout this class does not write (masks inline in the meta
        table, or covered runs inline instead of in the run log). On a
        session-cache token hit the masks are adopted in memory — no
        mask I/O at all."""
        df = self.meta.read()
        if df is None:
            return
        rows = df.collect()
        if "snap_id" not in df.columns or any(r.kind == "run" for r in rows):
            raise self._refusal("meta table is in an unsupported older layout")
        meta = next(r for r in rows if r.kind == "meta")
        stored = (meta.bits, meta.blocks, meta.max_hamming)
        if stored != (self.bits, self.blocks, self.max_hamming):
            raise ValueError(
                "fingerprint probe sidecar at "
                f"{self.meta.path} was built with (bits, blocks, "
                f"max_hamming)={stored}, called with "
                f"{(self.bits, self.blocks, self.max_hamming)} — a "
                "changed budget would probe different keys than the "
                "index holds; keep the original params or rebuild the "
                "ledger AND its sidecar"
            )
        self.n_items = meta.n_items
        self.k = meta.k
        self.snap_id = meta.snap_id
        self.delta_seq = int(meta.delta_seq)
        n_keys = int(meta.n_keys)
        token = (
            self.snap_id,
            self.delta_seq,
            self.n_items,
            meta.m_bits,
            meta.id_m_bits,
            meta.k,
        )
        cached = _STATE_CACHE.get(self.meta.path)
        if (
            cached is not None
            and cached[0] == token
            and cached[1] is self.spark
        ):
            _, _, self._combo, self._ids, self.delta_bytes = cached
            return
        blobs = self._read_blobs(f"{self.masks_path}/snap-{self.snap_id}")
        carr = self._as_mask(blobs.get("cmask", b""), meta.m_bits, "cmask")
        iarr = self._as_mask(blobs.get("imask", b""), meta.id_m_bits, "imask")
        self.delta_bytes = 0
        for s in range(1, self.delta_seq + 1):
            d = self._read_blobs(f"{self.masks_path}/delta-{self.snap_id}-{s}")
            for key, arr in (("cpos", carr), ("ipos", iarr)):
                pos = np.frombuffer(d.get(key, b""), dtype=np.int64)
                apply_packed(arr, *pack_positions(pos))
                self.delta_bytes += pos.nbytes
        self._combo = _MaskState(meta.m_bits, meta.k, carr, n_keys)
        self._ids = _MaskState(meta.id_m_bits, meta.k, iarr, self.n_items)
        self._cache_put(token)

    def _cache_put(self, token) -> None:
        stale = _STATE_CACHE.pop(self.meta.path, None)
        if stale is not None and stale[2] is not self._combo:
            stale[2].rebase()
            stale[3].rebase()
        while len(_STATE_CACHE) >= 8:  # bound driver mask residency
            old = _STATE_CACHE.pop(next(iter(_STATE_CACHE)))
            old[2].rebase()
            old[3].rebase()
        _STATE_CACHE[self.meta.path] = (
            token,
            self.spark,
            self._combo,
            self._ids,
            self.delta_bytes,
        )

    def _refusal(self, what: str) -> ValueError:
        """The refusal for a sidecar this class cannot load: the sidecar
        is derived state, so the fix is always to delete it and let
        ``repair()`` rebuild it from the ledger."""
        return ValueError(
            f"probe sidecar at {self.path}: {what} — delete {self.path} "
            "and repair() rebuilds it from the ledger"
        )

    def _as_mask(self, raw: bytes, m_bits: int, kind: str) -> np.ndarray:
        if len(raw) != m_bits // 8:
            raise self._refusal(
                f"{kind} mask is {len(raw)} bytes, expected {m_bits // 8}"
            )
        return np.frombuffer(raw, dtype=np.uint8).copy()

    # ------------------------------------------------------ mask store

    def _write_blobs(self, path: str, blobs: dict[str, bytes]) -> None:
        import pandas as pd

        rows = [
            (kind, i // _MASK_CHUNK, data[i : i + _MASK_CHUNK])
            for kind, data in blobs.items()
            for i in range(0, max(len(data), 1), _MASK_CHUNK)
        ]
        pdf = pd.DataFrame(rows, columns=[f.name for f in _BLOB_SCHEMA.fields])
        # overwrite: a crashed earlier attempt at the same name was
        # never referenced by a committed meta, so clobbering it is safe
        (
            self.spark.createDataFrame(pdf, _BLOB_SCHEMA)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )

    def _read_blobs(self, path: str) -> dict[str, bytes]:
        pdf = self.spark.read.parquet(path).toPandas()
        out: dict[str, bytes] = {}
        for kind in pdf["kind"].unique():
            sub = pdf[pdf["kind"] == kind].sort_values("chunk")
            out[kind] = b"".join(bytes(b) for b in sub["mask"])
        return out

    def _write_delta(self, cpos: np.ndarray, ipos: np.ndarray) -> None:
        seq = self.delta_seq + 1
        self._write_blobs(
            f"{self.masks_path}/delta-{self.snap_id}-{seq}",
            {"cpos": cpos.tobytes(), "ipos": ipos.tobytes()},
        )
        self.delta_seq = seq
        self.delta_bytes += cpos.nbytes + ipos.nbytes

    def _write_snapshot(self) -> None:
        sid = _uuid.uuid4().hex
        self._write_blobs(
            f"{self.masks_path}/snap-{sid}",
            {
                "cmask": self._combo.arr.tobytes(),
                "imask": self._ids.arr.tobytes(),
            },
        )
        self.snap_id = sid
        self.delta_seq = 0
        self.delta_bytes = 0

    def _gc_masks(self) -> None:
        """Drop snapshot/delta dirs the committed meta no longer
        references (orphans from crashed attempts, superseded
        snapshots and their folded deltas)."""
        keep = {f"snap-{self.snap_id}"} | {
            f"delta-{self.snap_id}-{s}" for s in range(1, self.delta_seq + 1)
        }
        for name in self.fs.list_dirs(self.masks_path):
            if name not in keep:
                self.fs.delete(f"{self.masks_path}/{name}")

    def _commit_meta(self) -> None:
        """Atomically publish the sidecar state: the meta table (a
        staged-rename replace) references the snapshot + deltas that
        are already durable — readers never see uncommitted mask
        state, and a crash before this point leaves the previous
        commit fully intact (heal = repair of the uncovered rows).
        ONE row — covered runs live in the run log (``_log_runs``),
        so the rewrite is O(1) in ledger age, not O(total runs)."""
        if self.snap_id is None:  # first commit
            self._write_snapshot()
        import pandas as pd

        rows = [
            (
                "meta",
                0,
                None,
                None,
                self.n_items,
                self._combo.m_bits,
                self._ids.m_bits,
                self.k,
                self.bits,
                self.blocks,
                self.max_hamming,
                self.snap_id,
                self.delta_seq,
                self._combo.n_keys,
            )
        ]
        pdf = pd.DataFrame(rows, columns=[f.name for f in _META_SCHEMA.fields])
        self.meta.replace(  # staged rename — atomic, never partial
            self.spark.createDataFrame(pdf, _META_SCHEMA)
        )
        self._gc_masks()
        self._cache_put(
            (
                self.snap_id,
                self.delta_seq,
                self.n_items,
                self._combo.m_bits,
                self._ids.m_bits,
                self.k,
            )
        )

    # ------------------------------------------------------- run log

    def _log_runs(self, run_ids: DataFrame) -> None:
        """Append newly covered run ids — one O(batch) run-log delta
        per call (the log backend's minor folds bound segment count).
        Called strictly AFTER ``_commit_meta``: a run row must never
        claim coverage whose mask bits are not committed (that would
        be a bloom false negative = a wrong admit). The reverse crash
        window — committed bits, missing run row — only makes a future
        repair re-explode that run: duplicate index rows are benign
        and mask ORs are idempotent."""
        self.runs.upsert(run_ids.select("run_id").distinct())

    # ---------------------------------------------------------- probe

    def blocked_ids(self, keyed: DataFrame) -> DataFrame:
        """Batch ids whose fingerprint is within the hamming budget of
        a COMMITTED ledger fingerprint. ``keyed`` is ``_combo_keyed``
        output (_id, _fp, combo, combo_key). Bloom-negative keys are
        skipped (no false negatives for covered rows); bloom-positive
        keys are verified exactly against the index — the bloom alone
        never blocks (or admits) anything."""
        from pyspark import StorageLevel

        marked = self._combo.mark(
            keyed.withColumn("_bk", _combo_bloom_key()),
            "_bk",
            f"{self.meta.path}#combo",
        )
        # persist the (tiny) bloom-positive subset: the candidate-key
        # collect below AND the caller's eventual materialization of the
        # verify join both consume it — without the pin, the full
        # batch-explode + mask-mark pass executes once PER consumer
        # (measured 70 s of a 205 s batch at a 2^30 mask, two passes).
        # Released in record(), the gated path's final step.
        pos = (
            marked.filter(F.col("maybe_seen"))
            .select("_id", "_fp", "combo", "combo_key")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._pins.append(pos)
        # bounded driver collect: distinct candidate keys, capped — the
        # IN list reaches the index scan as a pushed filter, so parquet
        # row-group stats (segments are combo_key-sorted) prune the
        # read to the touched key ranges; past the cap we keep the
        # plain equi-join (full index scan — exact either way)
        cand = [
            r.combo_key
            for r in pos.select("combo_key")
            .distinct()
            .limit(self.max_pushdown_keys + 1)
            .collect()
        ]
        if not cand:
            return keyed.select("_id").limit(0)
        idx = self.index.read()
        if idx is None:
            return keyed.select("_id").limit(0)
        if len(cand) <= self.max_pushdown_keys:
            idx = idx.filter(F.col("combo_key").isin(cand))
        return (
            pos.join(idx, ["combo", "combo_key"])
            .filter(F.expr("bit_count(_fp ^ fingerprint)") <= self.max_hamming)
            .select("_id")
            .distinct()
        )

    def any_id_maybe_seen(self, batch: DataFrame, id_col: str = "_id") -> bool:
        """Collision-guard gate: False means NO batch media_id can be
        in the ledger (bloom has no false negatives for covered rows),
        so the exact guard join is skipped entirely."""
        marked = self._ids.mark(
            batch.withColumn("_ik", F.col(id_col).cast("string")),
            "_ik",
            f"{self.meta.path}#id",
        )
        return marked.filter(F.col("maybe_seen")).limit(1).count() > 0

    # ---------------------------------------------------------- write

    def _explode(self, rows: DataFrame) -> DataFrame:
        """(media_id, fingerprint) → write-time combo index rows."""
        from .phash import _combo_keyed

        keyed = _combo_keyed(
            rows.select(
                F.col("media_id").alias("_id"), F.col("fingerprint").alias("_fp")
            ),
            self.bits,
            self.blocks,
            self.max_hamming,
        )
        return keyed.select(
            "combo",
            "combo_key",
            F.col("_id").alias("media_id"),
            F.col("_fp").alias("fingerprint"),
        )

    def _absorb(self, exploded: DataFrame, rows: DataFrame, n_new: int) -> None:
        """Fold one batch's keys into both masks and persist the
        change — O(batch): the new BIT POSITIONS (keys × k int64s) are
        computed JVM-side, collected once through Arrow, OR'd into the
        driver masks, appended as broadcast delta layers for the mark
        pass, and durably logged as a position delta. A snapshot (full
        mask write + broadcast rebase) happens only when accumulated
        deltas exceed the mask size — amortized O(batch). Batches
        whose packed positions exceed _POS_COLLECT_MAX instead build
        partial masks with the chunked distributed builder (no big
        driver collect; O(batch + mask), and such a batch is Ω(mask))."""
        est = n_new * self._n_combos * self.k * 8
        if est > _POS_COLLECT_MAX:
            cpart = bloom_build_chunked(
                exploded.withColumn("_bk", _combo_bloom_key()),
                "_bk",
                m_bits=self._combo.m_bits,
                k=self.k,
            )
            ipart = bloom_build_chunked(
                rows.withColumn("_ik", F.col("media_id").cast("string")),
                "_ik",
                m_bits=self._ids.m_bits,
                k=self.k,
            )
            self._combo.or_partial(cpart.mask, n_new * self._n_combos)
            self._ids.or_partial(ipart.mask, n_new)
            self._write_snapshot()
            return
        pos_pdf = (
            exploded.withColumn("_bk", _combo_bloom_key())
            .select(
                F.explode(
                    positions_col(F.col("_bk"), self.k, self._combo.m_bits)
                ).alias("p"),
                F.lit(0).alias("t"),
            )
            .unionByName(
                rows.select(
                    F.explode(
                        positions_col(
                            F.col("media_id").cast("string"),
                            self.k,
                            self._ids.m_bits,
                        )
                    ).alias("p"),
                    F.lit(1).alias("t"),
                )
            )
            .toPandas()
        )
        p = pos_pdf["p"].to_numpy(dtype=np.int64)
        t = pos_pdf["t"].to_numpy()
        cpos = np.unique(p[t == 0])
        ipos = np.unique(p[t == 1])
        snap = self.snap_id is None or (
            self.delta_bytes + cpos.nbytes + ipos.nbytes
            > len(self._combo.arr) + len(self._ids.arr)
        )
        if snap:
            # broadcast this last delta too, then rebase WITH lineage:
            # the new base == old base | all broadcast deltas, so warm
            # workers adopt their cached union mask instead of paying
            # the O(mask)-per-worker base reload after every snapshot
            self._combo.or_positions(cpos, self.spark)
            self._ids.or_positions(ipos, self.spark)
            self._combo.rebase(handoff=True)
            self._ids.rebase(handoff=True)
            self._write_snapshot()
        else:
            self._combo.or_positions(cpos, self.spark)
            self._ids.or_positions(ipos, self.spark)
            self._write_delta(cpos, ipos)

    def _sized_m_bits(self, cur_m: int, n_keys: int) -> int:
        """Smallest power-of-two mask ≥ 4×current whose PREDICTED fill
        sits at or under ``resize_fill/2`` for ``n_keys`` distinct keys
        — the 2× headroom makes rebuilds geometric (keys must double
        before the next trigger; an earlier draft sized to land exactly
        AT the threshold and re-triggered nearly every batch). The
        defaults start small — 2^22/2^18 — so a fresh ledger's
        per-batch constant is KiB-sized meta I/O, and growth is paid
        only when the ledger earns it.

        Growth CLAMPS at ``max_m_bits`` (default 2^33 = 1 GiB — the
        broadcast envelope: every reused Python worker holds one
        materialized union mask, ``bloom._LAYER_CACHE``). At the clamp
        the mask saturates instead of growing: verdicts stay exact
        (bloom positives are always verified against the index; the
        rising false-positive rate only sends more keys to that exact
        verify), so the gate degrades toward an index-scan probe
        rather than OOM-ing the workers. The recipe past the envelope
        is sharding the INGEST by media_id so each ledger's key count
        stays inside it (SCALING.md)."""
        if cur_m >= self.max_m_bits:
            return cur_m
        need = self.k * max(n_keys, 1) / -math.log(1.0 - self.resize_fill / 2)
        m = cur_m * 4
        while m < need:
            m *= 2
        if m > self.max_m_bits:
            import warnings

            warnings.warn(
                f"fingerprint probe sidecar at {self.meta.path}: mask "
                f"growth clamped at max_m_bits={self.max_m_bits} "
                f"({self.max_m_bits // (8 << 20)} MiB per Python worker); "
                "the bloom will saturate and the probe degrades toward "
                "an exact index scan — shard the ingest by media_id so "
                "each ledger stays inside the envelope, or raise "
                "max_m_bits if the workers have the memory (SCALING.md)",
                stacklevel=3,
            )
            return self.max_m_bits
        return m

    def _maybe_resize(self) -> None:
        """Auto-resize hook on the ingest path: a no-op under
        ``resize="manual"`` — there the operator schedules
        :meth:`rebuild_now` off the ingest path (mirroring the log
        backend's ``major_compaction="manual"`` / ``compact_now``
        pairing), because the rebuild, though amortized-geometric, is
        a single-batch O(ledger keys) pause inside ``foreachBatch``
        (measured 203 s at the 2^29→2^31 transition of a 42M-key
        index). Deferring it is always safe: a fuller bloom only
        costs extra exact verifies, never a wrong verdict. The other
        escape is pre-sizing ``combo_m_bits`` for the expected ledger
        scale so growth never triggers (SCALING.md recipe)."""
        if self.resize == "manual":
            return
        self._rebuild_masks()

    def rebuild_now(self) -> bool:
        """Operator-scheduled mask rebuild + commit — the
        ``resize="manual"`` companion (call ``load_or_init`` first,
        serialized with the writer like any sidecar write). Runs the
        same fill check and chunked rebuild as the auto path and
        commits the new masks; returns True when a rebuild happened."""
        if self._rebuild_masks():
            self._commit_meta()
            return True
        return False

    def _rebuild_masks(self) -> bool:
        """Grow a mask when its predicted fill crosses the threshold —
        rebuild from the index with the CHUNKED builder (no task holds
        more than ~4 MiB of mask — the full-mask treeReduce this
        replaces OOM'd a 16 GiB heap at the 2^30→2^31 fold), sized
        from the index's actual key count so one rebuild lands at
        steady state. Saturation only costs false positives (extra
        exact checks), so the threshold trades probe selectivity
        against rebuild frequency."""
        need_c = (
            self._combo.m_bits < self.max_m_bits
            and self._combo.predicted_fill() > self.resize_fill
        )
        need_i = (
            self._ids.m_bits < self.max_m_bits
            and self._ids.predicted_fill() > self.resize_fill
        )
        if not (need_c or need_i):
            return False
        idx = self.index.read()
        if idx is None:
            return False
        from pyspark import StorageLevel

        # the index reads as FEW partitions (coalesce(1) log segments):
        # without a widen, the rebuild's position hashing runs nearly
        # serial on the segment count (measured 415 s for the 2^29→2^31
        # rebuild at a 42M-row index; the shuffle moves 40 B rows)
        par = idx.sparkSession.sparkContext.defaultParallelism
        if idx.rdd.getNumPartitions() < par:
            idx = idx.repartition(par)
        idx = idx.persist(StorageLevel.DISK_ONLY)
        try:
            n_keys = idx.count()  # combo rows ≈ distinct combo keys
            if need_c:
                m = self._sized_m_bits(self._combo.m_bits, n_keys)
                nb = bloom_build_chunked(
                    idx.withColumn("_bk", _combo_bloom_key()),
                    "_bk",
                    m_bits=m,
                    k=self.k,
                )
                self._combo.replace(
                    np.frombuffer(nb.mask, dtype=np.uint8).copy(), m, n_keys
                )
            if need_i:
                # media_id appears once per combo row — duplicates set
                # the same bits, so the index is a valid id-bloom
                # build source; ids are keys/combos, sized accordingly
                n_ids = n_keys // self._n_combos + 1
                m = self._sized_m_bits(self._ids.m_bits, n_ids)
                nb = bloom_build_chunked(
                    idx.withColumn("_ik", F.col("media_id").cast("string")),
                    "_ik",
                    m_bits=m,
                    k=self.k,
                )
                self._ids.replace(
                    np.frombuffer(nb.mask, dtype=np.uint8).copy(), m, n_ids
                )
            self._write_snapshot()
            return True
        finally:
            idx.unpersist()

    def record(
        self,
        admitted: DataFrame,
        run_id: str,
        n_admitted: int,
    ) -> None:
        """Cover one committed batch: append its exploded combo rows to
        the index, absorb its keys into the masks (positions delta +
        broadcast layers), atomically commit the meta (counts +
        mask-store pointer), then append the run to the run log.
        Called AFTER the ledger upsert — the ledger is the commit
        point; a crash in here is healed by the next call's repair.

        An EMPTY admit writes nothing at all: the ledger holds no rows
        for the run, so there is no coverage to record (repair scopes
        by ledger rows) and a replay recomputes the same empty set from
        the same ledger state — the r16 layout paid a full meta rewrite
        here, one row per run id ever, every batch."""
        from pyspark import StorageLevel

        try:
            if not n_admitted:
                return
            # the exploded combo rows feed TWO actions (index append
            # + position collect) — pin so the 56× explode and its
            # hashing run once, not per consumer. DISK_ONLY: the
            # explode is 56×batch rows (~1.7 GB at a 500k batch);
            # a local sequential disk reread is cheap next to the
            # recompute
            exploded = self._explode(admitted).persist(StorageLevel.DISK_ONLY)
            self._pins.append(exploded)
            self.index.upsert(exploded)
            self._absorb(exploded, admitted, n_admitted)
            self._maybe_resize()
            self.n_items += n_admitted
            self._commit_meta()
            self._log_runs(
                self.spark.createDataFrame([(run_id,)], "run_id string")
            )
        finally:
            for df in self._pins:
                df.unpersist()
            self._pins.clear()

    def repair(self, ledger: DataFrame | None, ledger_count: int) -> None:
        """Bring the sidecar up to date with the committed ledger: the
        exact-probe fallback path. Explodes only the UNCOVERED rows
        (rows whose run_id the sidecar has not recorded) — after a
        normal crash that is one batch; for a lost sidecar or a
        pre-sidecar ledger it is the whole table, i.e. one O(ledger)
        combo explode, once."""
        if ledger is None or ledger_count == 0:
            self._clear_runs()
            self.n_items = 0
            self._reset_masks()
            self._commit_meta()
            return
        if self.n_items > ledger_count:
            # the ledger shrank out-of-band (not a flow this operator
            # performs): stale index/mask entries could block on rows
            # no longer committed — rebuild from scratch
            self._clear_runs()
            self.n_items = 0
            self.index.replace(
                self._explode(ledger.select("media_id", "fingerprint")).limit(0)
            )
            self._reset_masks()
        uncovered = ledger
        covered_df = self.runs.read()
        if covered_df is not None:
            # run-log rows are tiny; the planner broadcasts a small
            # log and falls back to a shuffle join only when the run
            # count genuinely outgrows the broadcast threshold — no
            # driver-built O(runs) list either way
            uncovered = ledger.join(covered_df, "run_id", "left_anti")
        from pyspark import StorageLevel

        uncovered = uncovered.select("media_id", "fingerprint", "run_id")
        # a full-ledger repair otherwise explodes+hashes the few
        # coalesced log segments on as few cores
        par = uncovered.sparkSession.sparkContext.defaultParallelism
        if uncovered.rdd.getNumPartitions() < par:
            uncovered = uncovered.repartition(par)
        uncovered = uncovered.persist(StorageLevel.MEMORY_AND_DISK)
        exploded = None
        try:
            n_unc = uncovered.count()
            if n_unc:
                # both repair actions (index append + position collect)
                # consume the explode — pin it for the repair's scope
                exploded = self._explode(uncovered).persist(
                    StorageLevel.DISK_ONLY
                )
                self.index.upsert(exploded)
                self._absorb(exploded, uncovered, n_unc)
                self._maybe_resize()
            self.n_items = ledger_count
            self._commit_meta()
            if n_unc:
                self._log_runs(uncovered.select("run_id"))
        finally:
            uncovered.unpersist()
            if exploded is not None:
                exploded.unpersist()

    def _clear_runs(self) -> None:
        if self.runs.exists():
            self.runs.replace(
                self.spark.createDataFrame([], "run_id string")
            )

    def _reset_masks(self) -> None:
        self._combo.replace(
            np.zeros(self._combo.m_bits // 8, dtype=np.uint8),
            self._combo.m_bits,
            0,
        )
        self._ids.replace(
            np.zeros(self._ids.m_bits // 8, dtype=np.uint8), self._ids.m_bits, 0
        )
        self._write_snapshot()
