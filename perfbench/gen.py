"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed yields
byte-identical inputs, and ``inputs_digest`` folds whatever a run
generated into one sha256 so two runs on one seed can be shown to have
seen the same bytes. Sizes are fixed per workload; only contents and
orderings vary with the seed, so the amount of work stays the same from
seed to seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

# --------------------------------------------------------------------------
# file_transport: a directory tree of binary files, later chunked,
# produced to a topic and re-laid out into out-of-order segments
# --------------------------------------------------------------------------

#: chunk size used by the producer (128 KiB).
CHUNK = 128 * 1024

#: (number of files, whole chunks per file) per size class. The
#: remainder of each file is random in [1, CHUNK), so the chunk count
#: per file is fixed and only the last chunk's length varies by seed.
#: The "boundary" class is handled separately (sizes straddle CHUNK).
FILE_CLASSES = [(10, 0), (10, 1), (6, 2), (3, 5)]
BOUNDARY_SIZES = [CHUNK - 1, CHUNK, CHUNK + 1, 2 * CHUNK]
#: share of topic messages delivered twice, and the share of those
#: duplicate copies that carry one flipped payload byte
DUP_SHARE = 0.15
CORRUPT_SHARE_OF_DUPS = 0.5


def make_files(seed: int) -> dict[str, bytes]:
    """rel_path -> content for the file_transport workload."""
    rng = np.random.default_rng([seed, 1])
    sizes = [
        n_chunks * CHUNK + int(rng.integers(1, CHUNK))
        for count, n_chunks in FILE_CLASSES
        for _ in range(count)
    ] + BOUNDARY_SIZES
    order = rng.permutation(len(sizes))
    files = {}
    for i, idx in enumerate(order):
        size = sizes[idx]
        subdir = ("", "raw", "raw/run_a", "proc")[i % 4]
        name = f"f{i:03d}_{int(rng.integers(0, 1 << 30)):08x}.dat"
        rel = f"{subdir}/{name}" if subdir else name
        files[rel] = rng.integers(0, 256, size=size, dtype=np.uint8).tobytes()
    return files


def write_files(files: dict[str, bytes], root: str) -> None:
    for rel, data in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)


#: byte offset from the END of a wire message that lands in the chunk
#: payload: the message ends with the file mtime packed as a msgpack
#: float64 (1 marker byte + 8 bytes), right after the ``data`` field.
_PAYLOAD_TAIL = 10


def relayout_messages(
    messages: list[tuple[bytes, bytes]],
    seed: int,
    n_segments: int,
) -> tuple[list[list[tuple[bytes, bytes]]], dict]:
    """Spread topic messages over ``n_segments`` out of order, with a
    seeded share of duplicate deliveries. Corruption is planted only on
    duplicate copies (one flipped payload byte), so every file stays
    reconstructable from its original copies. Returns the segments and
    the planted counts."""
    rng = np.random.default_rng([seed, 2])
    msgs = sorted(messages)  # topic row order is not seeded; fix it
    n = len(msgs)
    n_dup = int(round(n * DUP_SHARE))
    dup_idx = rng.choice(n, size=n_dup, replace=False)
    n_corrupt = int(round(n_dup * CORRUPT_SHARE_OF_DUPS))
    out = list(msgs)
    for j, i in enumerate(dup_idx):
        key, value = msgs[i]
        if j < n_corrupt:
            b = bytearray(value)
            b[len(b) - _PAYLOAD_TAIL] ^= 0xFF
            value = bytes(b)
        out.append((key, value))
    perm = rng.permutation(len(out))
    segments = [[] for _ in range(n_segments)]
    for pos, i in enumerate(perm):
        segments[pos * n_segments // len(out)].append(out[i])
    return segments, {"messages": n, "duplicates": n_dup, "corrupt": n_corrupt}


# --------------------------------------------------------------------------
# media_ingest: PGM images with planted near-duplicates
# --------------------------------------------------------------------------

IMG_H, IMG_W = 32, 36
#: "old" images: already in the pre-filled ledger, near-copied by batches
N_OLD = 40


def pgm(gray: np.ndarray) -> bytes:
    h, w = gray.shape
    return f"P5 {w} {h} 255\n".encode() + gray.astype(np.uint8).tobytes()


def _base_image(rng) -> np.ndarray:
    # an 8x9 random grid upsampled to the image size plus pixel noise:
    # the dHash grid sees the coarse cells, so fingerprints are spread
    coarse = rng.integers(0, 256, size=(8, 9))
    img = np.kron(coarse, np.ones((IMG_H // 8, IMG_W // 9)))
    img = img + rng.integers(-6, 7, size=img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


def _near_copy(img: np.ndarray, rng) -> np.ndarray:
    out = img.astype(np.int64)
    ys = rng.integers(0, IMG_H, size=6)
    xs = rng.integers(0, IMG_W, size=6)
    out[ys, xs] += rng.integers(-3, 4, size=6)
    return np.clip(out, 0, 255).astype(np.uint8)


def make_media(
    seed: int, n_batches: int, batch_size: int
) -> tuple[list[list[tuple[int, bytes]]], list[tuple[int, bytes]], dict]:
    """(batches of (media_id, pgm bytes), old images for the ledger
    pre-fill, planted counts). Planted per batch: near-copies of old
    (already ledgered) images, near-copies of earlier batches' items,
    within-batch near-copies, and a hot family — near-copies of one base
    image spread over every batch, so one set of combo buckets is hot."""
    rng = np.random.default_rng([seed, 3])
    old = [_base_image(rng) for _ in range(N_OLD)]
    hot = _base_image(rng)
    next_id = 1
    batches, seen = [], []
    planted = {"old_hits": 0, "cross_batch": 0, "in_batch": 0, "hot": 0}
    for b in range(n_batches):
        imgs = []
        n_hot = max(2, batch_size // 12)
        n_old_hit = batch_size // 12
        n_cross = batch_size // 12 if seen else 0
        n_in = batch_size // 12
        for _ in range(n_hot):
            imgs.append(_near_copy(hot, rng))
        for _ in range(n_old_hit):
            imgs.append(_near_copy(old[int(rng.integers(0, N_OLD))], rng))
        for _ in range(n_cross):
            imgs.append(_near_copy(seen[int(rng.integers(0, len(seen)))], rng))
        fresh = [
            _base_image(rng)
            for _ in range(batch_size - len(imgs) - n_in)
        ]
        imgs.extend(fresh)
        for _ in range(n_in):
            imgs.append(_near_copy(fresh[int(rng.integers(0, len(fresh)))], rng))
        planted["hot"] += n_hot
        planted["old_hits"] += n_old_hit
        planted["cross_batch"] += n_cross
        planted["in_batch"] += n_in
        order = rng.permutation(len(imgs))
        rows = []
        for i in order:
            rows.append((next_id, pgm(imgs[i])))
            next_id += 1
        seen.extend(fresh)
        batches.append(rows)
    old_rows = [(10**9 + i, pgm(img)) for i, img in enumerate(old)]
    return batches, old_rows, planted


def prefill_fingerprints(seed: int, n: int) -> np.ndarray:
    """Random 64-bit fingerprints for the bulk of the pre-filled
    ledger (signed, as the ledger stores them)."""
    rng = np.random.default_rng([seed, 4])
    info = np.iinfo(np.int64)
    return rng.integers(info.min, info.max, size=n, dtype=np.int64, endpoint=True)


# --------------------------------------------------------------------------
# text_curation: documents with planted exact and near duplicates
# --------------------------------------------------------------------------

def _vocab(rng, n: int = 3000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, size=k)))
    return sorted(words)


def _sentence_text(words: list[str]) -> str:
    out, i = [], 0
    while i < len(words):
        s = words[i:i + 12]
        out.append(" ".join(s).capitalize() + ".")
        i += 12
    return " ".join(out)


def make_documents(
    seed: int, n_batches: int, batch_size: int
) -> tuple[list[list[tuple[int, str]]], dict]:
    """Batches of (doc_id, text) plus the planted ground truth:

    - ``unique``: ids of docs that are neither copies nor low quality;
      each passes every default quality rule by construction;
    - ``exact``: id -> id of the doc it copies (case and whitespace
      changed only), within and across batches;
    - ``near``: id -> id of the doc it lightly edits (1 word in 50
      replaced), within and across batches, always a later id;
    - ``low_quality``: ids of docs too short to pass the length rule.
    """
    rng = np.random.default_rng([seed, 5])
    vocab = _vocab(rng)
    next_id = 1
    truth = {"unique": [], "exact": {}, "near": {}, "low_quality": []}
    words_of: dict[int, list[str]] = {}
    text_of: dict[int, str] = {}
    batches = []
    for b in range(n_batches):
        rows = []
        n_exact = batch_size // 10
        n_near = batch_size // 10
        n_low = max(1, batch_size // 40)
        n_unique = batch_size - n_exact - n_near - n_low
        for _ in range(n_unique):
            n_words = int(rng.integers(60, 110))
            words = [vocab[int(i)] for i in rng.integers(0, len(vocab), n_words)]
            if rng.random() < 0.2:  # PII for the redaction stage
                words.insert(
                    int(rng.integers(0, n_words)),
                    f"{words[0]}@{words[1]}.org",
                )
            doc = next_id
            next_id += 1
            words_of[doc] = words
            text_of[doc] = _sentence_text(words)
            truth["unique"].append(doc)
            rows.append((doc, text_of[doc]))
        batch_uniques = [r[0] for r in rows]
        pool = list(words_of)  # earlier batches and this one
        for _ in range(n_exact):
            src = pool[int(rng.integers(0, len(pool)))]
            if rng.random() < 0.5:
                src = batch_uniques[int(rng.integers(0, len(batch_uniques)))]
            doc = next_id
            next_id += 1
            truth["exact"][doc] = src
            rows.append((doc, "  " + text_of[src].upper().replace(" ", "   ")))
        for _ in range(n_near):
            src = pool[int(rng.integers(0, len(pool)))]
            if rng.random() < 0.5:
                src = batch_uniques[int(rng.integers(0, len(batch_uniques)))]
            words = list(words_of[src])
            for pos in rng.choice(len(words), size=len(words) // 50, replace=False):
                words[int(pos)] = vocab[int(rng.integers(0, len(vocab)))]
            doc = next_id
            next_id += 1
            truth["near"][doc] = src
            rows.append((doc, _sentence_text(words)))
        for _ in range(n_low):
            doc = next_id
            next_id += 1
            truth["low_quality"].append(doc)
            words = [vocab[int(i)] for i in rng.integers(0, len(vocab), 8)]
            rows.append((doc, _sentence_text(words)))
        order = rng.permutation(len(rows))
        batches.append([rows[i] for i in order])
    return batches, truth


# --------------------------------------------------------------------------
# input digest
# --------------------------------------------------------------------------

def inputs_digest(parts) -> str:
    """sha256 over a nested structure of bytes, str, int, numpy arrays,
    lists, tuples and dicts (dicts in sorted key order)."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, bytes):
            h.update(b"b%d:" % len(x))
            h.update(x)
        elif isinstance(x, str):
            feed(x.encode())
        elif isinstance(x, (int, np.integer)):
            h.update(b"i%d;" % int(x))
        elif isinstance(x, dict):
            h.update(b"{")
            for k in sorted(x):
                feed(str(k))
                feed(x[k])
            h.update(b"}")
        elif isinstance(x, np.ndarray):
            feed(x.tobytes())
        else:
            h.update(b"[")
            for item in x:
                feed(item)
            h.update(b"]")

    feed(parts)
    return h.hexdigest()
