"""NumPy-vectorized docID-delta + variable-byte posting compression.

The reference keeps its inverted index inside Elasticsearch (opaque —
Lucene's own codecs); the north rule requires an explicit posting-list
format with delta + varbyte compression and block-max skip metadata.
This codec is the storage kernel: it runs inside ``mapInPandas`` /
``applyInPandas`` on executors, so it must be vectorized — no per-value
Python loops over posting entries (loops below are over *byte
positions*, ≤10 iterations, each vectorized over the whole array).

Format: little-endian 7-bit groups, low group first; the LAST byte of
each value has the high bit set.  Doc IDs are delta-encoded (first
value absolute), term frequencies encoded raw.
"""

from __future__ import annotations

import numpy as np


def vb_encode_with_sizes(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode uint64 array → (varbyte bytes, per-value byte counts).

    The size array lets a caller encode a whole partition in ONE call
    and slice out sub-ranges (posting blocks) by byte offset — per-call
    numpy overhead was the index build's hot spot at ~600k block-sized
    calls (NOTES_SCALING.md).

    Strategy: build an (n, maxb) row-major byte matrix with plain
    shifts, mark terminator bits, then boolean-select the valid bytes
    in one pass — row-major flattening preserves low-byte-first order
    per value.  ~4 full-array ops for the typical maxb=2-3, versus the
    old per-byte-position gather/scatter loop (measured ~4× faster on
    posting-gap distributions)."""
    v = np.asarray(values)
    if v.dtype == np.int64:
        v = v.view(np.uint64)  # non-negative by contract; free
    else:
        v = v.astype(np.uint64, copy=False)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    vmax = int(v.max())
    maxb = 1
    while vmax >= (1 << (7 * maxb)):
        maxb += 1
    if maxb == 1:  # whole array single-byte (common for tf runs)
        out = v.astype(np.uint8) | np.uint8(0x80)
        return out.tobytes(), np.ones(v.size, dtype=np.int64)
    nbytes = np.ones(v.size, dtype=np.int64)
    for j in range(1, maxb):
        nbytes += v >= np.uint64(1 << (7 * j))
    bmat = np.empty((v.size, maxb), dtype=np.uint8)
    for j in range(maxb):
        bmat[:, j] = ((v >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
    bmat[np.arange(v.size), nbytes - 1] |= 0x80  # terminator bits
    valid = np.arange(maxb)[None, :] < nbytes[:, None]
    return bmat[valid].tobytes(), nbytes


def vb_encode(values: np.ndarray) -> bytes:
    """Encode uint64 array → varbyte bytes."""
    return vb_encode_with_sizes(values)[0]


def vb_decode(buf) -> np.ndarray:
    """Decode varbyte bytes (or a uint8 array) → uint64 array.

    One vectorized pass per byte position: value i's j-th byte sits at
    starts[i] + j, so ≤10 passes, each over only the values that long —
    for the typical 1–3-byte values that is 1–3 passes."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    low = b & np.uint8(0x7F)
    ends = np.flatnonzero(b >= 0x80)
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    out = low[starts].astype(np.uint64)
    for j in range(1, int(lens.max())):
        sel = np.flatnonzero(lens > j)
        out[sel] |= low[starts[sel] + j].astype(np.uint64) << np.uint64(7 * j)
    return out


def delta_encode(doc_ids: np.ndarray) -> np.ndarray:
    """Sorted doc_ids → gaps (first absolute)."""
    d = np.asarray(doc_ids, dtype=np.uint64)
    out = np.empty_like(d)
    out[0] = d[0]
    out[1:] = d[1:] - d[:-1]
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=np.uint64), dtype=np.uint64)


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """(sorted doc_ids, tfs) → (varbyte(delta(doc_ids)), varbyte(tfs))."""
    return vb_encode(delta_encode(doc_ids)), vb_encode(np.asarray(tfs, dtype=np.uint64))


def decode_postings(doc_ids_vb: bytes, tfs_vb: bytes) -> tuple[np.ndarray, np.ndarray]:
    return delta_decode(vb_decode(doc_ids_vb)), vb_decode(tfs_vb)
