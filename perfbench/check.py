"""Output checks, each against a reference that shares no code with the
package under test. A check returns a list of problems; an empty list
means the output is correct (``output_ok=1``)."""

from __future__ import annotations

import hashlib
import os
import re
from collections import defaultdict

import numpy as np

# --------------------------------------------------------------------------
# file_transport: every file byte-identical, no extra files
# --------------------------------------------------------------------------


def check_files(out_dir: str, digests: dict[str, str]) -> list[str]:
    """``digests``: rel_path -> sha512 hex of the generated file."""
    problems = []
    found = {}
    for dirpath, _, names in os.walk(out_dir):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                found[os.path.relpath(path, out_dir)] = hashlib.sha512(
                    fh.read()
                ).hexdigest()
    for rel, want in sorted(digests.items()):
        got = found.pop(rel, None)
        if got is None:
            problems.append(f"missing file {rel}")
        elif got != want:
            problems.append(f"sha512 mismatch for {rel}")
    problems.extend(f"extra file {rel}" for rel in sorted(found))
    return problems


# --------------------------------------------------------------------------
# media_ingest: brute-force Hamming reference with the keep-first rule
# --------------------------------------------------------------------------

_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def decode_pgm(data: bytes) -> np.ndarray:
    m = re.match(rb"P5\s+(\d+)\s+(\d+)\s+(\d+)\s", data)
    w, h = int(m.group(1)), int(m.group(2))
    return np.frombuffer(data[m.end():], dtype=np.uint8, count=w * h).reshape(h, w)


def dhash(gray: np.ndarray) -> int:
    """64-bit difference hash on an 8x9 grid of area means, as a signed
    int: bit r*8+c is set when cell (r, c) is darker than (r, c+1).
    Cells split the image at floor(i*h/8) rows and floor(j*w/9) columns;
    means are compared exactly as cross-multiplied integer sums."""
    h, w = gray.shape
    g = gray.astype(np.int64)
    rows = [(i * h) // 8 for i in range(9)]
    cols = [(j * w) // 9 for j in range(10)]
    fp = 0
    for r in range(8):
        band = g[rows[r]:rows[r + 1]]
        cells = [band[:, cols[c]:cols[c + 1]] for c in range(9)]
        sums = [int(c.sum()) for c in cells]
        areas = [c.size for c in cells]
        for c in range(8):
            if sums[c] * areas[c + 1] < sums[c + 1] * areas[c]:
                fp |= 1 << (r * 8 + c)
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def _min_hamming(fps: np.ndarray, ledger: np.ndarray) -> np.ndarray:
    """Per fingerprint in ``fps``, the smallest Hamming distance to any
    row of ``ledger`` (65 when the ledger is empty)."""
    out = np.full(len(fps), 65, dtype=np.int64)
    if len(ledger) == 0 or len(fps) == 0:
        return out
    lu = ledger.view(np.uint64)
    for i, fp in enumerate(fps.view(np.uint64)):
        x = np.bitwise_xor(lu, fp).view(np.uint8).reshape(-1, 8)
        out[i] = int(_POP8[x].sum(axis=1, dtype=np.int64).min())
    return out


def keep_first(
    items: list[tuple[int, int]], ledger: np.ndarray, max_hamming: int
) -> list[tuple[int, int]]:
    """The admission rule of one batch: drop items within ``max_hamming``
    of any ledger fingerprint, then drop every survivor within budget of
    a smaller-id survivor. ``items`` is (id, signed fingerprint)."""
    if not items:
        return []
    fps = np.array([fp for _, fp in items], dtype=np.int64)
    near_ledger = _min_hamming(fps, ledger) <= max_hamming
    survivors = sorted(
        (it for it, blocked in zip(items, near_ledger) if not blocked)
    )
    admitted = []
    sfps = np.array([fp for _, fp in survivors], dtype=np.int64)
    for i, it in enumerate(survivors):
        if _min_hamming(sfps[i:i + 1], sfps[:i])[0] > max_hamming:
            admitted.append(it)
    return admitted


def media_reference(
    prefill: np.ndarray,
    old_rows: list[tuple[int, bytes]],
    batches: list[list[tuple[int, bytes]]],
    max_hamming: int,
) -> list[dict[int, int]]:
    """Expected admitted {media_id: fingerprint} per stream batch, given
    a ledger pre-filled with ``prefill`` and the fingerprints of
    ``old_rows``."""
    old = [dhash(decode_pgm(b)) for _, b in old_rows]
    ledger = np.concatenate(
        [np.asarray(prefill, dtype=np.int64), np.array(old, dtype=np.int64)]
    )
    out = []
    for rows in batches:
        items = [(i, dhash(decode_pgm(b))) for i, b in rows]
        adm = keep_first(items, ledger, max_hamming)
        out.append(dict(adm))
        ledger = np.concatenate(
            [ledger, np.array([fp for _, fp in adm], dtype=np.int64)]
        )
    return out


def check_media(got: list[dict[int, int]], want: list[dict[int, int]]) -> list[str]:
    problems = []
    for b, (g, w) in enumerate(zip(got, want)):
        if set(g) != set(w):
            problems.append(
                f"batch {b}: admitted ids differ (missing "
                f"{sorted(set(w) - set(g))[:5]}, extra {sorted(set(g) - set(w))[:5]})"
            )
        bad = [i for i in set(g) & set(w) if g[i] != w[i]]
        if bad:
            problems.append(f"batch {b}: fingerprint mismatch for ids {sorted(bad)[:5]}")
    if len(got) != len(want):
        problems.append(f"{len(got)} output batches, expected {len(want)}")
    return problems


# --------------------------------------------------------------------------
# text_curation: the properties the generator planted
# --------------------------------------------------------------------------


def check_curation(
    survivors: list[tuple[int, int]], batches: list[list[tuple[int, str]]], truth: dict
) -> list[str]:
    """``survivors``: (micro-batch, doc_id) rows of the curated output.

    - each exact-duplicate group (a unique doc and its case/whitespace
      copies) has exactly one survivor, in the first batch the group
      appears in;
    - no planted near-duplicate of a doc admitted in an EARLIER batch
      survives (near-duplicates within one batch are both new to the
      ledger, so the sink may admit both);
    - no low-quality doc survives; no doc survives twice.
    """
    problems = []
    ids = [d for _, d in survivors]
    if len(ids) != len(set(ids)):
        problems.append("a doc_id survives more than once")
    batch_of = {d: b for b, rows in enumerate(batches) for d, _ in rows}
    surv = set(ids)
    group = {d: d for d in truth["unique"]}
    for copy, src in truth["exact"].items():
        group[copy] = src
    members = defaultdict(list)
    for d, g in group.items():
        members[g].append(d)
    for g, docs in members.items():
        alive = [d for d in docs if d in surv]
        first = min(batch_of[d] for d in docs)
        if len(alive) != 1:
            problems.append(f"exact group {g}: {len(alive)} survivors, expected 1")
        elif batch_of[alive[0]] != first:
            problems.append(f"exact group {g}: survivor not from batch {first}")
    first_batch = {g: min(batch_of[d] for d in docs) for g, docs in members.items()}
    near_alive = sorted(
        d for d, src in truth["near"].items()
        if d in surv and first_batch[group[src]] < batch_of[d]
    )
    if near_alive:
        problems.append(f"near-duplicates survived: {near_alive[:5]}")
    low_alive = sorted(surv & set(truth["low_quality"]))
    if low_alive:
        problems.append(f"low-quality docs survived: {low_alive[:5]}")
    unknown = surv - set(batch_of)
    if unknown:
        problems.append(f"unknown doc ids in output: {sorted(unknown)[:5]}")
    return problems
