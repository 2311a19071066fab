"""Posting-list compression kernels: delta + varbyte over numpy arrays.

Lucene stores postings as docID-sorted, delta-encoded, block-compressed
integers (the behavior behind the reference's index — configured via
schema.xml, executed by Lucene). We use classic VByte: little-endian
7-bit groups, high bit = continuation. All kernels are vectorized numpy
(no per-value Python in the encode hot path beyond the final pack) and
run inside Arrow batches via applyInPandas (see operators/postings.py).
``encode_blocks``/``decode_blocks`` are the batch forms every kernel
uses: one varbyte pass over a whole batch of blocks, never one per block.
"""

from __future__ import annotations

import numpy as np


def varbyte_encode_arr(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a uint64 array to VByte; returns (uint8 buffer, per-value
    byte widths). Vectorized: one pass per byte position, O(10) passes.
    The widths let callers slice per-segment byte ranges out of one big
    encode (operators/postings.py encodes a whole (tbucket, bucket)
    group's terms in three calls total, not three per term)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # byte width = number of 7-bit groups (>=1); loop is O(max width)=O(10)
    widths = np.ones(v.shape, dtype=np.int64)
    tmp = v.copy()
    tmp >>= np.uint64(7)
    while tmp.any():
        widths += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(widths.sum())
    out = np.empty(total, dtype=np.uint8)
    # offsets of each value's first byte
    ends = np.cumsum(widths)
    starts = ends - widths
    rem = v.copy()
    pos = starts.copy()
    alive = np.ones(v.shape, dtype=bool)
    while alive.any():
        byte = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem = rem >> np.uint64(7)
        more = rem > 0
        byte[more] |= 0x80
        out[pos[alive]] = byte[alive]
        pos += 1
        alive &= more
    return out, widths


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array to VByte (single-buffer convenience)."""
    out, _ = varbyte_encode_arr(values)
    return out.tobytes()


def varbyte_decode(buf: bytes, n: int | None = None) -> np.ndarray:
    """Decode VByte buffer to uint64 array (vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    # value boundaries: positions where is_last is True end a value
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    payload = (raw & 0x7F).astype(np.uint64)
    # shift amount = position within each value's group
    idx = np.arange(raw.size, dtype=np.int64)
    group_start = np.repeat(starts, ends - starts + 1)
    shifts = ((idx - group_start) * 7).astype(np.uint64)
    contrib = payload << shifts
    out = np.add.reduceat(contrib, starts)
    if n is not None:
        assert out.size == n, f"decoded {out.size}, expected {n}"
    return out.astype(np.uint64)


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    v = np.asarray(sorted_vals, dtype=np.uint64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    d = np.asarray(deltas, dtype=np.uint64)
    return np.cumsum(d, dtype=np.uint64)


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> tuple[bytes, bytes, bytes]:
    """(docID-sorted) posting triple -> (delta+vbyte ids, vbyte tfs, vbyte dls)."""
    order = np.argsort(doc_ids, kind="stable")
    ids = np.asarray(doc_ids, dtype=np.uint64)[order]
    return (
        varbyte_encode(delta_encode(ids)),
        varbyte_encode(np.asarray(tfs, dtype=np.uint64)[order]),
        varbyte_encode(np.asarray(dls, dtype=np.uint64)[order]),
    )


def decode_postings(ids_buf: bytes, tfs_buf: bytes, dls_buf: bytes, n: int | None = None):
    ids = delta_decode(varbyte_decode(ids_buf, n))
    return ids, varbyte_decode(tfs_buf, n), varbyte_decode(dls_buf, n)


def decode_blocks(ns, doc_ids, tfs=None, dls=None):
    """Decode a batch of posting blocks in one vectorized pass: the
    per-block buffers are joined, varbyte-decoded once, and the doc_id
    deltas summed with a cumsum segmented at block starts (each block's
    first id is stored absolute). Returns flat int64 arrays
    ``(block_idx, doc_id, tf, dl)`` in block order; ``tf``/``dl`` are
    None when their buffers are not given (a doc_id-only scan)."""
    ns = np.asarray(ns, dtype=np.int64)
    total = int(ns.sum())
    block = np.repeat(np.arange(ns.size, dtype=np.int64), ns)
    ids = np.cumsum(varbyte_decode(b"".join(doc_ids), total), dtype=np.uint64)
    # subtract the running sum before each block's start (uint64 wraps
    # cancel exactly), leaving per-block prefix sums
    before = np.concatenate((np.zeros(1, dtype=np.uint64), ids))[np.cumsum(ns) - ns]
    ids = (ids - before[block]).astype(np.int64)

    def values(bufs):
        if bufs is None:
            return None
        return varbyte_decode(b"".join(bufs), total).astype(np.int64)

    return block, ids, values(tfs), values(dls)


def encode_blocks(starts: np.ndarray, doc_ids: np.ndarray, tfs: np.ndarray,
                  dls: np.ndarray) -> tuple[list[bytes], list[bytes], list[bytes]]:
    """The inverse of ``decode_blocks``: flat postings, doc_id-ascending
    within each block, split into blocks at the offsets ``starts`` (the
    first is 0) -> per-block (doc_ids, tfs, dls) buffers, the same bytes
    ``encode_postings`` gives block by block. Three varbyte passes in
    total; each block is a slice of the shared buffers."""
    starts = np.asarray(starts, dtype=np.int64)
    ids = np.asarray(doc_ids, dtype=np.uint64)
    deltas = ids.copy()
    deltas[1:] -= ids[:-1]
    deltas[starts] = ids[starts]
    bounds = np.append(starts, ids.size)
    out = []
    for vals in (deltas, tfs, dls):
        buf, widths = varbyte_encode_arr(np.asarray(vals, dtype=np.uint64))
        off = np.concatenate(([0], np.cumsum(widths)))[bounds]
        out.append([buf[off[j]:off[j + 1]].tobytes() for j in range(starts.size)])
    return out[0], out[1], out[2]


def in_ranges(ids: np.ndarray, ranges) -> np.ndarray:
    """Mask of ``ids`` inside any inclusive (lo, hi) range (tombstones,
    delete runs); one binary search per id whatever the range count."""
    if not ranges:
        return np.zeros(np.shape(ids), dtype=bool)
    r = np.asarray(sorted((int(lo), int(hi)) for lo, hi in ranges), dtype=np.int64)
    # the highest hi among ranges starting at or below each lo covers
    # overlapping ranges too
    his = np.maximum.accumulate(r[:, 1])
    i = np.searchsorted(r[:, 0], ids, side="right") - 1
    return (i >= 0) & (ids <= his[np.maximum(i, 0)])
