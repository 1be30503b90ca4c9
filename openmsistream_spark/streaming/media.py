"""Streaming multimodal near-dup ingest — the streaming twin of
``llm/phash.incremental_fingerprint_neardup``, completing the
batch↔stream parity the text families already have (exact dedup,
MinHash-LSH, span, bloom, quota, mixing, …) for the perceptual
fingerprint families (image dHash, audio envelope, video keyframes).

Contract (the repo's durable-ledger discipline): the stream's
checkpoint sequences micro-batches; the fingerprint LEDGER owns which
media have ever been admitted, as (media_id, fingerprint,
run_id="batch-<id>") rows. Batch B:

1. decodes + fingerprints the batch's media (ONE Arrow stage — the
   batch operators, shared code),
2. admits via ``incremental_fingerprint_neardup``: no prior admitted
   fingerprint within ``max_hamming`` (a broadcast nested-loop Hamming
   probe of the ledger against the bounded micro-batch, or the
   bloom-gated combo-index sidecar past ``phash.NLJ_PAIR_BUDGET``), no
   smaller-id within-batch match, ledger upsert keyed on media_id,
3. writes the admitted (media_id, fingerprint) rows to ``batch=<id>``
   (partition overwrite — the idempotent sink shape).

Replay identity holds by the incremental operator's own contract: a
replayed batch re-runs with the SAME run_id, finds the ledger's rows
tagged with it, and returns them verbatim — the committed decision,
byte-identical output, the exactly-once shape every ledger sink here
shares. A first run returns the rows it upserted, which are exactly
the ledger's rows for its run_id.

Scale: ledger rows are 24 bytes/admitted item; fingerprints are
computed once per batch, onto the driver (the trigger bounds the
batch); the per-batch probe streams the ledger's fingerprints past
the broadcast batch (ledger x batch bit counts, no ledger shuffle)
while that pair count stays within ``phash.NLJ_PAIR_BUDGET``, and past
it the sidecar keeps the probe O(batch). The params
sidecar pins (bits, blocks, max_hamming, modality) across restarts —
a silently changed budget would admit a different replayed set, so the
guard refuses instead (the round-12 advisory discipline), as does a
lost-ledger state past batch 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .batch_sink import batch_sink


def _fingerprinter(modality: str, video_every_nth: int = 1):
    """modality -> (media frame, strict) -> ONE (media_id, fingerprint)
    row per media_id. Video reduces its per-frame hashes to the
    majority-fold representative (``video_representative_fingerprint``)
    because the ledger contract is one-row-per-media_id — from raw
    frame output the admission would keep only each video's first
    frame."""
    if modality == "image":
        from ..llm.phash import image_fingerprints

        return lambda media, strict: image_fingerprints(media, strict=strict)
    if modality == "audio":
        from ..llm.audiofp import audio_fingerprints

        return lambda media, strict: audio_fingerprints(media, strict=strict)
    if modality == "video":
        from ..llm.videofp import (
            video_frame_fingerprints,
            video_representative_fingerprint,
        )

        return lambda media, strict: video_representative_fingerprint(
            video_frame_fingerprints(
                media, every_nth=video_every_nth, strict=strict
            )
        ).select("media_id", "fingerprint")
    raise ValueError(
        f"unknown modality {modality!r} (have ['audio', 'image', 'video'])"
    )


def media_neardup_stream_sink(
    media,
    fp_registry,
    out_dir: str,
    checkpoint_dir: str,
    *,
    modality: str = "image",
    bits: int = 64,
    blocks: int = 8,
    max_hamming: int = 3,
    strict: bool = True,
    video_every_nth: int = 1,
):
    """foreachBatch sink: fingerprint each micro-batch's media
    (``media_id``, ``content`` columns), admit only never-seen-near
    items against the durable fingerprint ledger, write admitted
    (media_id, fingerprint) to ``batch=<id>``.

    ``fp_registry`` must be ``make_registry(spark, path, ["media_id"],
    backend="log", insert_only=True)`` — this ledger grows without
    bound with admitted media, so the log backend's O(batch) appends
    (not parquet's O(ledger) rewrite) are the scale-safe choice;
    under "auto" a fresh path picks it via ``prefer="log"``. The
    admission probe is a broadcast nested-loop Hamming join of the
    ledger against the micro-batch while ledger rows x batch rows stay
    within ``phash.NLJ_PAIR_BUDGET``; past it (the probe's
    ``sidecar="auto"`` policy) it keeps a bloom sidecar + write-time
    combo index beside the ledger (``<path>.probeidx`` —
    ``llm/phash_index``), so the per-batch probe stays O(batch) at
    any ledger size.
    ``modality="video"`` fingerprints each video as the MAJORITY-fold
    representative of its sampled keyframes (every ``video_every_nth``
    frames — part of the pinned params: a changed sampling rate would
    hash replayed videos differently) so the ledger keeps its
    one-row-per-media_id contract. Returns the configured
    ``DataStreamWriter`` — caller picks the trigger and calls
    ``.start()``."""
    fingerprint = _fingerprinter(modality, video_every_nth)
    from ..llm.phash import incremental_fingerprint_neardup

    params = {
        "modality": modality,
        "bits": bits,
        "blocks": blocks,
        "max_hamming": max_hamming,
    }
    if modality == "video":
        # only video consumes the sampling rate; keeping the key out of
        # image/audio sidecars leaves their existing checkpoints valid
        params["video_every_nth"] = video_every_nth

    def step(batch_df: DataFrame, batch_id: int, emit) -> None:
        fps = fingerprint(batch_df, strict)
        admitted = incremental_fingerprint_neardup(
            fps,
            fp_registry,
            bits=bits,
            blocks=blocks,
            max_hamming=max_hamming,
            run_id=f"batch-{batch_id}",
        )
        emit(admitted)

    return batch_sink(
        media, "media_neardup_stream_sink", out_dir, checkpoint_dir, step,
        registry=fp_registry, params=params,
    )
