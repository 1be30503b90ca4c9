"""Shared parameter sidecar for durable sketch/mask ledgers.

A ledger's rows are only meaningful under the parameters that wrote
them: HLL registers under their ``p`` (a different p is a different
bucket space — max-merging across them silently estimates nonsense),
CMS cells under their ``(d, w)`` (a different geometry aliases
counters), bloom positions under their ``(n, m_bits, k)``. Every
ledger-backed streaming sink therefore persists its parameters in a
one-row parquet sidecar at ``<ledger path>_params`` on first start and
VALIDATES them on every restart — a mismatch is refused by name before
any batch runs, and a pre-sidecar ledger is refused as unverifiable
rather than guessed at.

The sidecar rides the same Hadoop-visible storage as the ledger and is
written through ``ParquetRegistry.replace`` (staged write, rename-aside
swap, rollback on a failed swap).
"""

from __future__ import annotations


def ensure_sidecar_params(
    registry, params: dict[str, int | str], sink_name: str
) -> None:
    """Write-once / validate-always parameter guard for a registry-backed
    ledger. ``params`` is an ordered mapping of parameter name to int or
    str (e.g. a fingerprint MODE); raises ``ValueError`` on restart
    mismatch or on a legacy ledger with no sidecar.

    The LEDGER's existence decides which mode applies, not the
    sidecar's: while no ledger exists there is nothing the parameters
    could disagree with, so the sidecar is simply (re)written — which
    makes 'start a fresh ledger' (delete the ledger directory) actually
    work without also hunting down the sidecar, recovers a sidecar
    orphaned by a sink that was constructed but never started, and
    self-heals a half-written sidecar from a crash during first start
    (the ledger cannot exist yet at that point). An unreadable sidecar
    NEXT TO a live ledger refuses by name — the one state that needs a
    human decision."""
    spark = registry.spark
    params_path = registry.path.rstrip("/") + "_params"
    names = list(params)

    def _norm(v):
        return v if isinstance(v, str) else int(v)

    want = tuple(_norm(params[n]) for n in names)
    if not registry.exists():
        schema = ", ".join(
            f"{n} {'string' if isinstance(params[n], str) else 'long'}"
            for n in names
        )
        # staged write + rename-aside swap with rollback: a reader
        # racing this overwrite sees the old sidecar or the new one,
        # never a half-written directory or none at all — the
        # "unreadable sidecar next to a live ledger" refusal is reserved
        # for real corruption, and a concurrent sink's per-batch guard
        # must not hit the 'predates parameter tracking' refusal
        # mid-swap while both writers agree on parameters
        from ..operators.registry import ParquetRegistry

        ParquetRegistry(spark, params_path, []).replace(
            spark.createDataFrame([want], schema)
        )
        return
    if not registry.fs.exists(params_path):
        raise ValueError(
            f"{sink_name}: ledger at {registry.path} predates parameter "
            "tracking and carries no _params sidecar — cannot verify "
            f"({', '.join(names)}) match; write the sidecar manually if "
            "the parameters are known to be right"
        )
    try:
        row = spark.read.parquet(params_path).first()
        have = tuple(row[n] for n in names)
    except Exception as exc:
        raise ValueError(
            f"{sink_name}: _params sidecar at {params_path} is unreadable "
            f"({exc.__class__.__name__}) next to a live ledger — verify the "
            "ledger's parameters and rewrite the sidecar manually"
        ) from exc
    if have != want:
        raise ValueError(
            f"{sink_name}: ledger at {registry.path} was built with "
            f"({', '.join(names)})={have}, restart requested {want} — "
            "reuse the recorded parameters or start a fresh ledger "
            "(deleting the ledger directory resets the sidecar too)"
        )


def refuse_lost_ledger(registry, batch_id: int, sink_name: str) -> None:
    """Refuse the one ledger state that is only reachable by LOSING the
    ledger: ``batch_id > 0`` (the checkpoint has committed at least one
    batch) while the ledger is absent but its ``_params`` sidecar still
    exists.

    Every legitimate fresh start happens at batch 0 (new checkpoint) or
    with no sidecar at all; the sink's own batch 0 creates the ledger
    before its checkpoint commits, so by any later batch the ledger
    exists unless it was destroyed afterward — a crash between
    ``ParquetRegistry._overwrite``'s two renames, or a manual delete of
    the ledger directory while the checkpoint survived. Treating that
    as 'no history' would silently re-admit up to quota per key /
    re-weight from an empty census against outputs already written;
    this turns it into a refusal by name (round-12 advisory). Resets
    remain possible by also deleting the checkpoint (start at batch 0)
    or the sidecar (explicitly disclaiming the recorded parameters)."""
    if int(batch_id) > 0 and not registry.exists():
        params_path = registry.path.rstrip("/") + "_params"
        if registry.fs.exists(params_path):
            raise ValueError(
                f"{sink_name}: batch {batch_id} found NO ledger at "
                f"{registry.path} but its _params sidecar exists — the "
                "ledger was lost after this stream's earlier batches "
                "committed (crash mid-overwrite or manual delete). "
                "Refusing to silently restart history: restore the "
                "ledger (a .old-* staging copy may survive next to it), "
                "or delete the checkpoint AND sidecar to genuinely start "
                "fresh"
            )

