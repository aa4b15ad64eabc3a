"""Codec property tests (SURVEY.md §5 unit/property row)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from aarhus_spark.codec import (decode_all_blocks, decode_blocks,
                                decode_blocks_pos_bytes, encode_blocks,
                                encode_pos_chunks, vbyte_encode)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    # the values ride a hand-built block's tf and dl streams, which the
    # decoder returns raw; the block must end exactly at the buffer's end
    arr = np.array(vals, dtype=np.uint64)
    n = len(vals)
    payload = (vbyte_encode(np.array([n])) + vbyte_encode(np.ones(n, np.int64))
               + vbyte_encode(arr) + vbyte_encode(arr))
    d, t, l = decode_all_blocks(payload, [0])
    np.testing.assert_array_equal(d, np.arange(1, n + 1))
    np.testing.assert_array_equal(t.astype(np.uint64), arr)
    np.testing.assert_array_equal(l.astype(np.uint64), arr)


def test_vbyte_known_bytes():
    # 0 -> 00; 127 -> 7f; 128 -> 80 01; 300 -> ac 02
    assert vbyte_encode(np.array([0])) == b"\x00"
    assert vbyte_encode(np.array([127])) == b"\x7f"
    assert vbyte_encode(np.array([128])) == b"\x80\x01"
    assert vbyte_encode(np.array([300])) == b"\xac\x02"


# --- direct encode_blocks ↔ per-block decode coverage (the vectorized
# encoder is the riskiest codec path; previously tested only indirectly
# through e2e index builds) ---

def _roundtrip_blocks(docids, tfs, dls, avgdl, block_size):
    payload, blocks = encode_blocks(docids, tfs, dls, avgdl, block_size)
    # block metadata invariants
    n = docids.size
    exp_blocks = -(-n // block_size) if n else 0
    assert len(blocks) == exp_blocks
    got_d, got_t, got_l = [], [], []
    offs = [b[2] for b in blocks]
    for bi, (last_docid, max_partial, _offset) in enumerate(blocks):
        d, t, l, counts, _ = decode_blocks(payload, offs, bi, bi + 1)
        assert counts.tolist() == [d.size]
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
    with pytest.raises(ValueError):
        encode_blocks(np.array([5, 5]), np.array([1, 1]), np.array([1, 1]), 10.0, 4)


def test_positional_decoders_bound_each_block_at_its_end():
    """A block without a position stream must raise wherever it sits in
    the row, not only as the row's last block: bounded at its end (the
    next block's offset), its stream cannot run on into the next
    block's header and deltas and return them as positions."""
    docids = np.arange(1, 13, dtype=np.int64) * 3
    tfs = np.array([1, 2, 1, 3] * 3, dtype=np.int64)
    dls = np.full(12, 9, dtype=np.int64)
    bare, bare_blocks = encode_blocks(docids, tfs, dls, 9.0, 4)
    offs = [b[2] for b in bare_blocks]
    assert len(offs) == 3
    for i in range(len(offs)):
        with pytest.raises(ValueError):
            decode_blocks(bare, offs, i, i + 1, positions=True)
    with pytest.raises(ValueError):
        decode_blocks(bare, offs, positions=True)
    # one position-less block ahead of well-formed positional blocks: a
    # decoder bounded only by the payload's end reads the next block's
    # bytes as positions and the whole row decodes without an error
    pos = np.concatenate([np.arange(t, dtype=np.int64) for t in tfs[4:]])
    tail, tail_blocks = encode_blocks(docids[4:], tfs[4:], dls[4:], 9.0, 4,
                                      positions=pos)
    row_offs = [0] + [offs[1] + b[2] for b in tail_blocks]
    with pytest.raises(ValueError):
        decode_blocks(bare[:offs[1]] + tail, row_offs, positions=True)
    d, t, _l, _c, p = decode_blocks(tail, [b[2] for b in tail_blocks],
                                    positions=True)
    np.testing.assert_array_equal(d, docids[4:])
    np.testing.assert_array_equal(p, pos)


def test_per_block_positions_decode_matches_row():
    """Per-block decodes, with and without positions, agree with each
    other and concatenate to the encoded run."""
    rng = np.random.default_rng(7)
    n = 700
    docids = np.cumsum(rng.integers(1, 9, size=n, dtype=np.int64))
    tfs = rng.integers(1, 6, size=n).astype(np.int64)
    dls = rng.integers(20, 400, size=n).astype(np.int64)
    pos = np.concatenate([np.sort(rng.choice(1000, size=int(t), replace=False))
                          for t in tfs]).astype(np.int64)
    payload, blocks = encode_blocks(docids, tfs, dls, avgdl=120.0,
                                    block_size=128, positions=pos)
    offs = [b[2] for b in blocks]
    got_pos, got_d = [], []
    for i in range(len(blocks)):
        d3, t3, l3, _, _ = decode_blocks(payload, offs, i, i + 1)
        d4, t4, l4, _, flat4 = decode_blocks(payload, offs, i, i + 1,
                                             positions=True)
        assert (d3 == d4).all() and (t3 == t4).all() and (l3 == l4).all()
        got_pos.append(flat4)
        got_d.append(d3)
    assert (np.concatenate(got_d) == docids).all()
    assert (np.concatenate(got_pos) == pos).all()


def test_pos_bytes_view_rejects_trailing_garbage():
    docids = np.arange(5, dtype=np.int64)
    tfs = np.full(5, 2, np.int64)
    dls = np.full(5, 4, np.int64)
    pos = np.tile(np.array([0, 2], np.int64), 5)
    buf, plens = encode_pos_chunks(pos, tfs)
    payload, blocks = encode_blocks(docids, tfs, dls, 4.0, 128,
                                    pos_encoded=(buf, plens))
    offs = [b[2] for b in blocks]
    # clean payload decodes
    d, t, l, pb, pl = decode_blocks_pos_bytes(payload, offs)
    np.testing.assert_array_equal(d, docids)
    # trailing garbage byte in the last block's position section: the
    # stream no longer ends at the block boundary -> must raise
    bad = np.concatenate([np.frombuffer(payload, np.uint8),
                          np.array([0x01], np.uint8)])
    with pytest.raises(ValueError, match="payload/offset mismatch"):
        decode_blocks_pos_bytes(bad, offs)


@pytest.mark.parametrize("docid_bytes", [
    [0x80] * 10 + [0x01],      # 11 bytes: no uint64 needs more than 10
    [0xFF] * 9 + [0x02],       # 10 bytes whose top group overflows 2^64
])
def test_overlong_varint_raises(docid_bytes):
    # a 2-posting block whose first docid delta is the bad varint
    payload = bytes([0x02] + docid_bytes + [0x05, 1, 1, 1, 1])
    with pytest.raises(ValueError, match="64 bits"):
        decode_all_blocks(payload, [0])


def _views(payload, offs):
    """Every public view's reading of a whole row, positions included."""
    d, t, l = decode_all_blocks(payload, offs)
    d2, t2, l2, counts, pos = decode_blocks(payload, offs, positions=True)
    d3, t3, l3, pbuf, plens = decode_blocks_pos_bytes(payload, offs)
    for a, b in ((d, d2), (d, d3), (t, t2), (t, t3), (l, l2), (l, l3)):
        np.testing.assert_array_equal(a, b)
    return d, t, l, counts, pos, pbuf, plens


def _raises_everywhere(payload, offs, scoring_too=True):
    views = [lambda: decode_blocks(payload, offs, positions=True),
             lambda: decode_blocks_pos_bytes(payload, offs)]
    if scoring_too:
        views += [lambda: decode_all_blocks(payload, offs),
                  lambda: decode_blocks(payload, offs)]
    for view in views:
        with pytest.raises(ValueError):
            view()


@given(st.integers(min_value=1, max_value=9), st.data())
@settings(max_examples=80, deadline=None)
def test_views_roundtrip_and_reject_malformed(block_size, data):
    docids = np.array(sorted(data.draw(st.sets(
        st.integers(0, 2**63 - 1), min_size=1, max_size=40))), dtype=np.int64)
    n = docids.size
    tfs = np.array(data.draw(st.lists(st.integers(1, 4), min_size=n, max_size=n)),
                   dtype=np.int64)
    dls = np.array(data.draw(st.lists(st.integers(1, 2**40), min_size=n, max_size=n)),
                   dtype=np.int64)
    pos = np.concatenate([np.array(sorted(data.draw(st.sets(
        st.integers(0, 2**31), min_size=int(tf), max_size=int(tf)))), dtype=np.int64)
        for tf in tfs])
    payload, blocks = encode_blocks(docids, tfs, dls, 100.0, block_size,
                                    positions=pos)
    offs = [b[2] for b in blocks]
    d, t, l, counts, got_pos, pbuf, plens = _views(payload, offs)
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)
    np.testing.assert_array_equal(l, dls)
    np.testing.assert_array_equal(got_pos, pos)
    assert counts.sum() == n and (counts <= block_size).all()
    # verbatim position bytes re-block to the identical payload
    assert encode_blocks(d, t, l, 100.0, block_size,
                         pos_encoded=(pbuf, plens))[0] == payload
    # any block range reads its slice of the run
    lo = data.draw(st.integers(0, len(offs)))
    hi = data.draw(st.integers(lo, len(offs)))
    rd, _, _, rc, rp = decode_blocks(payload, offs, lo, hi, positions=True)
    s, e = min(lo * block_size, n), min(hi * block_size, n)
    np.testing.assert_array_equal(rd, docids[s:e])
    ps = np.concatenate(([0], np.cumsum(tfs)))
    np.testing.assert_array_equal(rp, pos[ps[s]:ps[e]])

    raw = np.frombuffer(payload, np.uint8)
    ends = offs[1:] + [raw.size]
    j = data.draw(st.integers(0, len(offs) - 1))
    # a truncated payload
    cut = data.draw(st.integers(1, raw.size))
    _raises_everywhere(payload[:-cut], offs, scoring_too=False)
    bare, bare_blocks = encode_blocks(docids, tfs, dls, 100.0, block_size)
    bare_offs = [b[2] for b in bare_blocks]
    _raises_everywhere(bare[:-min(cut, len(bare))], bare_offs)

    def splice(j, block):
        """The row with block j's bytes replaced by ``block``."""
        grow = len(block) - (ends[j] - offs[j])
        out = payload[:offs[j]] + block + payload[ends[j]:]
        return out, offs[:j + 1] + [o + grow for o in offs[j + 1:]]

    # block j without its position stream, wherever it sits
    bare_blk = bare[bare_offs[j]:(bare_offs + [len(bare)])[j + 1]]
    p, o = splice(j, bare_blk)
    _raises_everywhere(p, o, scoring_too=False)
    np.testing.assert_array_equal(decode_all_blocks(p, o)[0], docids)
    # one stray byte after block j
    _raises_everywhere(*splice(j, payload[offs[j]:ends[j]] + b"\x00"))
    # block j's header re-encoded as an 11-byte varint
    blk = payload[offs[j]:ends[j]]
    _raises_everywhere(*splice(j, bytes([blk[0] | 0x80] + [0x80] * 9 + [0x00])
                               + blk[1:]))
