"""Codec property tests (SURVEY.md §5 unit/property row)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from aarhus_spark.codec import vbyte_decode, vbyte_encode


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    buf = np.frombuffer(vbyte_encode(arr), dtype=np.uint8)
    out, off = vbyte_decode(buf, len(vals), 0)
    assert off == buf.size
    np.testing.assert_array_equal(out, arr)


def test_vbyte_known_bytes():
    # 0 -> 00; 127 -> 7f; 128 -> 80 01; 300 -> ac 02
    assert vbyte_encode(np.array([0])) == b"\x00"
    assert vbyte_encode(np.array([127])) == b"\x7f"
    assert vbyte_encode(np.array([128])) == b"\x80\x01"
    assert vbyte_encode(np.array([300])) == b"\xac\x02"


# --- direct encode_blocks ↔ decode_block coverage (the vectorized
# encoder is the riskiest codec path; previously tested only indirectly
# through e2e index builds) ---

def _roundtrip_blocks(docids, tfs, dls, avgdl, block_size):
    from aarhus_spark.codec import decode_block, encode_blocks
    payload, blocks = encode_blocks(docids, tfs, dls, avgdl, block_size)
    # block metadata invariants
    n = docids.size
    exp_blocks = -(-n // block_size) if n else 0
    assert len(blocks) == exp_blocks
    got_d, got_t, got_l = [], [], []
    buf = np.frombuffer(payload, dtype=np.uint8)
    for bi, (last_docid, max_partial, offset) in enumerate(blocks):
        d, t, l = decode_block(buf, offset)
        s, e = bi * block_size, min((bi + 1) * block_size, n)
        assert d[-1] == last_docid == docids[e - 1]
        # exact per-block max of the BM25 tf/length factor
        from aarhus_spark.config import B, K1
        tf_f = tfs[s:e].astype(np.float64)
        norm = K1 * (1.0 - B + B * dls[s:e].astype(np.float64) / avgdl) if avgdl > 0 else K1
        assert max_partial == pytest.approx(float((tf_f / (tf_f + norm)).max()), rel=0, abs=0)
        got_d.append(d)
        got_t.append(t)
        got_l.append(l)
    np.testing.assert_array_equal(np.concatenate(got_d) if got_d else np.empty(0, np.int64), docids)
    np.testing.assert_array_equal(np.concatenate(got_t) if got_t else np.empty(0, np.int64), tfs)
    np.testing.assert_array_equal(np.concatenate(got_l) if got_l else np.empty(0, np.int64), dls)


@given(
    st.integers(min_value=1, max_value=9),       # block size (forces multi-block)
    st.lists(st.integers(min_value=1, max_value=2**45), min_size=1, max_size=120),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_encode_blocks_roundtrip_random(block_size, gaps, data):
    docids = np.cumsum(np.array(gaps, dtype=np.int64))
    n = docids.size
    tfs = np.array(data.draw(st.lists(st.integers(1, 50_000), min_size=n, max_size=n)), dtype=np.int64)
    dls = np.array(data.draw(st.lists(st.integers(1, 1 << 45), min_size=n, max_size=n)), dtype=np.int64)
    avgdl = float(data.draw(st.floats(min_value=1.0, max_value=1e6)))
    _roundtrip_blocks(docids, tfs, dls, avgdl, block_size)


def test_encode_blocks_wide_values_and_boundaries():
    # 40-50-bit values across exact / off-by-one block boundaries
    rng = np.random.default_rng(42)
    for n in (1, 127, 128, 129, 256, 1000):
        gaps = rng.integers(1, 1 << 43, size=n, dtype=np.int64)
        docids = np.cumsum(gaps)
        tfs = rng.integers(1, 1 << 20, size=n).astype(np.int64)
        dls = rng.integers(1, 1 << 48, size=n).astype(np.int64)
        _roundtrip_blocks(docids, tfs, dls, 350.0, 128)


def test_encode_blocks_rejects_unsorted():
    from aarhus_spark.codec import encode_blocks
    with pytest.raises(ValueError):
        encode_blocks(np.array([5, 5]), np.array([1, 1]), np.array([1, 1]), 10.0, 4)


def test_positional_decoders_bound_each_block_at_its_end():
    """A block without a position stream must raise wherever it sits in
    the row, not only as the row's last block: bounded at its end (the
    next block's offset), its stream cannot run on into the next
    block's header and deltas and return them as positions."""
    from aarhus_spark.codec import (decode_all_blocks_positions,
                                    decode_block_positions, encode_blocks)
    docids = np.arange(1, 13, dtype=np.int64) * 3
    tfs = np.array([1, 2, 1, 3] * 3, dtype=np.int64)
    dls = np.full(12, 9, dtype=np.int64)
    bare, bare_blocks = encode_blocks(docids, tfs, dls, 9.0, 4)
    offs = [b[2] for b in bare_blocks]
    assert len(offs) == 3
    buf = np.frombuffer(bare, dtype=np.uint8)
    for i, off in enumerate(offs):
        end = offs[i + 1] if i + 1 < len(offs) else buf.size
        with pytest.raises(ValueError):
            decode_block_positions(buf, off, end)
    with pytest.raises(ValueError):
        decode_all_blocks_positions(bare, offs)
    # one position-less block ahead of well-formed positional blocks: a
    # decoder bounded only by the payload's end reads the next block's
    # bytes as positions and the whole row decodes without an error
    pos = np.concatenate([np.arange(t, dtype=np.int64) for t in tfs[4:]])
    tail, tail_blocks = encode_blocks(docids[4:], tfs[4:], dls[4:], 9.0, 4,
                                      positions=pos)
    row_offs = [0] + [offs[1] + b[2] for b in tail_blocks]
    with pytest.raises(ValueError):
        decode_all_blocks_positions(bare[:offs[1]] + tail, row_offs)
    d, t, _l, p = decode_all_blocks_positions(tail, [b[2] for b in tail_blocks])
    np.testing.assert_array_equal(d, docids[4:])
    np.testing.assert_array_equal(p, pos)
