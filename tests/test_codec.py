"""varbyte + delta codec roundtrips (SURVEY.md §5.2.1), incl. hypothesis."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from easy_solr4files_index_spark.functions.codec import (
    decode_blocks,
    decode_postings,
    encode_blocks,
    delta_decode,
    delta_encode,
    encode_postings,
    in_ranges,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_known_values():
    v = np.array([0, 1, 127, 128, 300, 2**21, 2**63 + 5], dtype=np.uint64)
    buf = varbyte_encode(v)
    assert varbyte_decode(buf).tolist() == v.tolist()
    # 0..127 take 1 byte, 128..16383 take 2
    assert len(varbyte_encode(np.array([127], dtype=np.uint64))) == 1
    assert len(varbyte_encode(np.array([128], dtype=np.uint64))) == 2


def test_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0
    assert delta_encode(np.array([], dtype=np.uint64)).size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63), max_size=500))
def test_varbyte_roundtrip(xs):
    v = np.array(xs, dtype=np.uint64)
    assert varbyte_decode(varbyte_encode(v)).tolist() == v.tolist()


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=300))
def test_delta_roundtrip(xs):
    v = np.array(sorted(xs), dtype=np.uint64)
    assert delta_decode(delta_encode(v)).tolist() == v.tolist()


@settings(max_examples=50, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=200))
def test_postings_roundtrip_unsorted_input(ids):
    rng = np.random.default_rng(1)
    ids_arr = np.array(list(ids), dtype=np.uint64)
    rng.shuffle(ids_arr)
    tfs = rng.integers(1, 50, ids_arr.size).astype(np.uint64)
    dls = rng.integers(1, 500, ids_arr.size).astype(np.uint64)
    b_ids, b_tfs, b_dls = encode_postings(ids_arr, tfs, dls)
    d_ids, d_tfs, d_dls = decode_postings(b_ids, b_tfs, b_dls, ids_arr.size)
    order = np.argsort(ids_arr, kind="stable")
    assert d_ids.tolist() == sorted(ids)
    assert d_tfs.tolist() == tfs[order].tolist()
    assert d_dls.tolist() == dls[order].tolist()


def _blocks(rng, sizes, max_id):
    out = []
    for n in sizes:
        ids = np.sort(rng.choice(max_id, n, replace=False)).astype(np.uint64)
        out.append((ids, rng.integers(1, 50, n), rng.integers(1, 5000, n)))
    return out


@pytest.mark.parametrize("sizes,max_id", [
    ([], 10),                                   # no blocks
    ([1] * 7, 1000),                            # n=1 blocks
    ([3, 1, 5], 2**40),                         # deltas >= 2^28
    (list(np.random.default_rng(3).integers(1, 40, 400)), 10**6),  # hundreds
])
def test_decode_blocks_matches_per_block_decode(sizes, max_id):
    """The batch decoder returns exactly what decode_postings returns
    block by block, concatenated, with each posting's block index; and
    encode_blocks is its inverse, byte for byte."""
    rng = np.random.default_rng(len(sizes))
    blocks = _blocks(rng, sizes, max_id)
    enc = [encode_postings(*blk) for blk in blocks]
    block, ids, tfs, dls = decode_blocks(
        [len(b[0]) for b in blocks], [e[0] for e in enc],
        [e[1] for e in enc], [e[2] for e in enc])
    per = [decode_postings(*e, len(b[0])) for e, b in zip(enc, blocks)]
    assert block.tolist() == [j for j, b in enumerate(blocks) for _ in b[0]]
    assert ids.tolist() == [int(v) for p in per for v in p[0]]
    assert tfs.tolist() == [int(v) for p in per for v in p[1]]
    assert dls.tolist() == [int(v) for p in per for v in p[2]]
    starts = np.cumsum([0] + [len(b[0]) for b in blocks])[:-1]
    assert list(zip(*encode_blocks(starts, ids, tfs, dls))) == enc
    # a doc_id-only decode skips the tf/dl buffers
    _, only_ids, no_tfs, no_dls = decode_blocks(
        [len(b[0]) for b in blocks], [e[0] for e in enc])
    assert only_ids.tolist() == ids.tolist() and no_tfs is None and no_dls is None


def test_in_ranges_overlapping_and_unsorted():
    ids = np.arange(25)
    mask = in_ranges(ids, [(10, 19), (3, 5), (12, 13), (0, 1), (24, 24)])
    exp = {0, 1, 3, 4, 5, 24} | set(range(10, 20))
    assert [int(i) for i in ids[mask]] == sorted(exp)
    assert not in_ranges(ids, ()).any()
