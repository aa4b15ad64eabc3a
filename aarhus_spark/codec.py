"""Posting-list codec: delta-gap + VByte, numpy-vectorized.

SURVEY.md §1.4 / §2.9 F9. Postings for one segment row are stored as

    varint(n) ⧺ vbyte(delta(docids)) ⧺ vbyte(tfs) ⧺ vbyte(dls)
    [ ⧺ vbyte(delta(positions)) ]          (format v4)

- docids strictly ascending int64, delta-gapped (first value stored
  absolute) — Manning et al. 2008 ch.5.
- tfs, dls stored raw (small positive ints).
- dls (doc lengths) ride inside the postings so segments are fully
  self-contained: query-time BM25 needs no join against a doclens
  table — the deliberate space-for-shuffle trade documented in
  DESIGN.md (a dl of <16k costs ≤2 bytes/posting; it removes a
  10^12-row docid join from the query hot path).
- positions (format v4, phrase/proximity queries): posting i carries
  its tf_i term positions (0-based token index in the doc), so the
  stream holds Σtf values, delta-gapped WITHIN each posting (first
  value of each posting stored absolute — per-posting streams are
  therefore independently concatenable and sliceable at posting
  boundaries). The stream sits AFTER the dls stream inside each
  block, so ``decode_block`` (the BM25 scoring hot path) never reads
  or skips a single position byte — only ``decode_block_positions``
  pays for them.

VByte format: little-endian 7-bit groups, MSB set = continuation
(final byte has MSB clear). Encode/decode are numpy-vectorized —
no per-value Python loop; the decode loop is over the ≤10 byte
positions of a varint, not over values.

Non-SQL-expressible (binary payloads) → rows-only harness check
(SURVEY §2.9 F9).
"""

from __future__ import annotations

import numpy as np


def _vbyte_encode_arr(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a non-negative int64 array to VByte. Returns the uint8
    byte array AND per-value byte counts (so callers can slice the
    stream at any value boundary without re-encoding)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # byte length per value: ceil(bits/7), min 1 — computed over the 10
    # possible 7-bit groups (log2-float is unsafe past 2^53)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for i in range(1, 10):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * i))).astype(np.int64)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # start offset of each value's byte run
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    # fill group i of every value that has at least i+1 bytes
    for i in range(10):
        sel = nbytes > i
        if not sel.any():
            break
        grp = ((v[sel] >> np.uint64(7 * i)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] > (i + 1)).astype(np.uint8) << 7
        out[starts[sel] + i] = grp | cont
    return out, nbytes


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int64 array to VByte bytes (vectorized)."""
    out, _ = _vbyte_encode_arr(values)
    return out.tobytes()


def vbyte_decode(buf: np.ndarray, n: int, offset: int = 0) -> tuple[np.ndarray, int]:
    """Decode ``n`` VByte values from ``buf`` (uint8 array) starting at
    ``offset``. Returns (values uint64 array, next offset). Vectorized:
    loops over byte-positions (≤10), not values."""
    if n == 0:
        return np.empty(0, dtype=np.uint64), offset
    # a uint64 takes at most 10 VByte bytes: scanning only the next 10·n
    # keeps one block's decode O(block), not O(rest of the payload)
    b = buf[offset:offset + 10 * n]
    is_last = (b & 0x80) == 0
    # index of the terminating byte of each of the first n values
    ends = np.flatnonzero(is_last)[:n]
    if ends.size < n:
        raise ValueError("vbyte_decode: buffer truncated")
    starts = np.concatenate(([0], ends[:-1] + 1))
    out = np.zeros(n, dtype=np.uint64)
    lens = ends - starts + 1
    maxlen = int(lens.max())
    for i in range(maxlen):
        sel = lens > i
        out[sel] |= (b[starts[sel] + i] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * i)
    return out, offset + int(ends[-1]) + 1


def _pos_deltas(flat_pos: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Delta-gap a flat position stream with a reset (absolute value) at
    each posting start. Positions within one posting must be strictly
    ascending (a term occurs at distinct, increasing token indexes)."""
    flat_pos = np.asarray(flat_pos, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    total = flat_pos.size
    if int(tfs.sum()) != total:
        raise ValueError(f"positions: Σtf={int(tfs.sum())} != len(flat)={total}")
    if total == 0:
        return np.empty(0, dtype=np.int64)
    deltas = np.empty(total, dtype=np.int64)
    deltas[0] = flat_pos[0]
    np.subtract(flat_pos[1:], flat_pos[:-1], out=deltas[1:])
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    deltas[starts] = flat_pos[starts]
    # validity: within-posting deltas strictly positive, absolutes ≥ 0
    chk = deltas.copy()
    chk[starts] = 1
    if chk.min() <= 0 or flat_pos[starts].min() < 0:
        raise ValueError("positions must be strictly ascending within each posting")
    return deltas


def encode_pos_chunks(flat_pos: np.ndarray, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode a flat position stream ONCE (vectorized) and return
    ``(byte_buffer uint8, per_posting_byte_lens int64)`` — the shape
    the build pipeline ships through the shuffle: per-posting byte runs
    are independently concatenable (deltas reset at posting starts), so
    the fragment encoder assembles block position sections by pure byte
    concatenation, never re-encoding a value."""
    tfs = np.asarray(tfs, dtype=np.int64)
    deltas = _pos_deltas(flat_pos, tfs)
    buf, vlens = _vbyte_encode_arr(deltas)
    voff = np.concatenate(([0], np.cumsum(vlens)))
    psum = np.concatenate(([0], np.cumsum(tfs)))
    return buf, voff[psum[1:]] - voff[psum[:-1]]


def _pos_undelta(deltas: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_pos_deltas` — segmented cumsum, vectorized."""
    deltas = deltas.astype(np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if deltas.size == 0:
        return deltas
    c = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    base = c[starts] - deltas[starts]      # stream-sum before each posting
    return c - np.repeat(base, tfs)


def encode_blocks(
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    block_size: int = 128,
    k1: float | None = None,
    b: float | None = None,
    positions: np.ndarray | None = None,
    pos_encoded: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[bytes, list[tuple[int, float, int]]]:
    """Encode a posting run as independent fixed-size blocks.

    Returns ``(payload, blocks)`` where payload is the concatenation of
    per-block self-contained runs (each starts with varint n and an
    absolute first docid) and ``blocks[i] = (last_docid, max_partial,
    byte_offset)`` — the block-max metadata of SURVEY §1.4 (Ding & Suel
    2011) plus the byte offset that lets query-time WAND decode only
    surviving blocks. ``max_partial`` is the exact per-block maximum of
    the BM25 tf/length factor tf/(tf + k1*(1-b+b*dl/avgdl)) — idf is
    applied at query time.

    ``positions`` (format v4): the FLAT position stream of the run —
    posting i owns the next tf_i values. Encoded as a fourth VByte
    stream at the tail of each block (module docstring); block cut
    points land on posting boundaries, so each block's position
    section is self-contained.

    ``pos_encoded``: the same stream ALREADY VByte-encoded as
    ``(byte_buffer, per_posting_byte_lens)`` (see
    :func:`encode_pos_chunks`) — the hot-path form: the build encodes
    positions once at tokenize time and every later stage only
    byte-concatenates. Mutually exclusive with ``positions``;
    byte-identical output.
    """
    from .config import B, K1  # late import to keep codec numpy-only at module load

    k1 = K1 if k1 is None else k1
    b = B if b is None else b
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = docids.size
    if n == 0:
        return b"", []
    tf_f = tfs.astype(np.float64)
    norm = k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl) if avgdl > 0 else k1
    partials = tf_f / (tf_f + norm)

    # Fully vectorized across blocks (the per-block-loop version spent
    # its time in small-array numpy overhead — measured 0.4M postings/s;
    # this path is one vbyte pass per stream + per-block slice copies):
    # deltas with an ABSOLUTE value at each block start (blocks are
    # self-contained), then one vbyte encoding of each stream whose
    # per-value byte counts let us cut it at block boundaries.
    starts_idx = np.arange(0, n, block_size, dtype=np.int64)
    ends_idx = np.minimum(starts_idx + block_size, n)           # exclusive
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = docids[0]
    np.subtract(docids[1:], docids[:-1], out=deltas[1:])
    if n > 1 and deltas[1:].min() <= 0:
        raise ValueError("encode_blocks: docids must be strictly ascending")
    deltas[starts_idx] = docids[starts_idx]
    d_bytes, d_len = _vbyte_encode_arr(deltas)
    t_bytes, t_len = _vbyte_encode_arr(tfs)
    l_bytes, l_len = _vbyte_encode_arr(dls)
    h_bytes, h_len = _vbyte_encode_arr(ends_idx - starts_idx)   # varint(n) headers
    # byte offset of each VALUE in its stream (exclusive prefix sums)
    d_off = np.concatenate(([0], np.cumsum(d_len)))
    t_off = np.concatenate(([0], np.cumsum(t_len)))
    l_off = np.concatenate(([0], np.cumsum(l_len)))
    h_off = np.concatenate(([0], np.cumsum(h_len)))
    block_bytes = (h_len
                   + (d_off[ends_idx] - d_off[starts_idx])
                   + (t_off[ends_idx] - t_off[starts_idx])
                   + (l_off[ends_idx] - l_off[starts_idx]))
    if positions is not None and pos_encoded is not None:
        raise ValueError("pass positions OR pos_encoded, not both")
    if positions is not None:
        p_bytes, p_len = _vbyte_encode_arr(_pos_deltas(positions, tfs))
        p_off = np.concatenate(([0], np.cumsum(p_len)))
        # position-VALUE index of each posting boundary → of each block
        psum = np.concatenate(([0], np.cumsum(tfs)))
        p_lo, p_hi = psum[starts_idx], psum[ends_idx]
        block_bytes = block_bytes + (p_off[p_hi] - p_off[p_lo])
    elif pos_encoded is not None:
        p_bytes, plens = pos_encoded
        if plens.size != n:
            raise ValueError(f"pos_encoded: {plens.size} lens for {n} postings")
        # byte offset of each POSTING's run (not per-value — already
        # encoded); block [s, e) copies bytes [pb_off[s], pb_off[e])
        pb_off = np.concatenate(([0], np.cumsum(np.asarray(plens, np.int64))))
        p_lo, p_hi = starts_idx, ends_idx          # posting-indexed
        p_off = pb_off                             # shared copy loop below
        block_bytes = block_bytes + (pb_off[ends_idx] - pb_off[starts_idx])
    out_off = np.concatenate(([0], np.cumsum(block_bytes)))
    out = np.empty(int(out_off[-1]), dtype=np.uint8)
    max_partials = np.maximum.reduceat(partials, starts_idx)
    blocks: list[tuple[int, float, int]] = []
    for bi in range(starts_idx.size):                           # pure slice copies
        s, e, pos = starts_idx[bi], ends_idx[bi], int(out_off[bi])
        copies = [
            (h_bytes, h_off, bi, bi + 1),
            (d_bytes, d_off, s, e),
            (t_bytes, t_off, s, e),
            (l_bytes, l_off, s, e),
        ]
        if positions is not None or pos_encoded is not None:
            copies.append((p_bytes, p_off, int(p_lo[bi]), int(p_hi[bi])))
        for src, off_arr, vlo, vhi in copies:
            lo, hi = int(off_arr[vlo]), int(off_arr[vhi])
            out[pos:pos + hi - lo] = src[lo:hi]
            pos += hi - lo
        blocks.append((int(docids[e - 1]), float(max_partials[bi]), int(out_off[bi])))
    return out.tobytes(), blocks


def decode_block(payload: bytes | np.ndarray, offset: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode the single block starting at byte ``offset``."""
    return decode_block_ext(payload, offset)[:3]


def decode_block_positions(payload: bytes | np.ndarray, offset: int,
                           end: int | None = None) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode a v4 block INCLUDING its position stream ->
    (docids, tfs, dls, flat_positions); posting i owns the next tf_i
    position values. ``end`` is the block's end byte (the next block's
    offset, or the payload length for the last block): with it, a v3
    (position-less) block raises wherever it sits in the payload —
    without it, only a last block does, and an earlier one decodes the
    next block's bytes as its positions (see :func:`decode_positions_at`)."""
    d, tfs, dls, off = decode_block_ext(payload, offset)
    return d, tfs, dls, decode_positions_at(payload, off, tfs, end=end)


def decode_block_ext(payload: bytes | np.ndarray, offset: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Decode a block's three scoring streams AND return the byte offset
    where its v4 position stream starts — so a later pass can decode
    ONLY the positions (:func:`decode_positions_at`) without re-decoding
    docids/tfs/dls. The phrase two-pass hot path: pass 1 scores and
    intersects on this; pass 2 pays for position bytes only in blocks
    still holding candidates."""
    buf = np.frombuffer(payload, dtype=np.uint8) if isinstance(payload, (bytes, bytearray)) else payload
    (n_arr, off) = vbyte_decode(buf, 1, offset)
    n = int(n_arr[0])
    deltas, off = vbyte_decode(buf, n, off)
    tfs, off = vbyte_decode(buf, n, off)
    dls, off = vbyte_decode(buf, n, off)
    return np.cumsum(deltas.astype(np.int64)), tfs.astype(np.int64), dls.astype(np.int64), off


def decode_positions_at(payload: bytes | np.ndarray, pos_off: int,
                        tfs: np.ndarray, end: int | None = None) -> np.ndarray:
    """Decode a v4 block's position stream given its start offset (from
    :func:`decode_block_ext`) and the block's tfs — flat positions,
    posting i owns the next tf_i values.

    ``end`` bounds the stream at the NEXT block's byte offset (or the
    payload length for the last block). With it, a position-less
    (v3-style) or truncated payload raises instead of silently decoding
    the next block's header bytes as position deltas — the stream must
    both FIT within [pos_off, end) and END there exactly (a trailing
    gap means the offsets don't describe this payload)."""
    buf = np.frombuffer(payload, dtype=np.uint8) if isinstance(payload, (bytes, bytearray)) else payload
    tfs = np.asarray(tfs, dtype=np.int64)
    view = buf if end is None else buf[:end]
    try:
        pdeltas, nxt = vbyte_decode(view, int(tfs.sum()), pos_off)
    except ValueError as e:
        raise ValueError("decode_positions_at: position stream truncated "
                         "or absent (v3-style payload?)") from e
    if end is not None and nxt != end:
        raise ValueError(
            f"decode_positions_at: position stream ended at byte {nxt}, "
            f"expected block end {end} — payload/offset mismatch")
    return _pos_undelta(pdeltas, tfs)


def decode_blocks_keep_pos_flat(payload: bytes | np.ndarray,
                                offsets: list[int] | np.ndarray
                                ) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                                           np.ndarray, np.ndarray]:
    """Decode every block's scoring streams but keep the position
    sections as ONE verbatim byte buffer with per-posting byte lengths
    — the (pbuf, plens) shape :func:`encode_blocks` re-blocks by pure
    byte concatenation (``pos_encoded`` path). It materializes NO
    per-posting Python bytes objects: per-value boundaries come from
    one vectorized continuation-bit scan per block and the buffer is
    sliced numpy-side. The merge path (build.py _make_merger) and
    compaction (compact.py): per-posting position runs are
    independently concatenable (deltas reset at posting starts), so a
    merge or docid remap never needs to decode or re-encode a position
    value.

    Returns (docids, tfs, dls, pos_buf uint8, per_posting_byte_lens).
    """
    buf = np.frombuffer(payload, dtype=np.uint8) if isinstance(payload, (bytes, bytearray)) else payload
    offs = [int(o) for o in offsets]
    bounds = offs[1:] + [buf.size]
    ds, ts, ls, pbs, pls = [], [], [], [], []
    for off, end in zip(offs, bounds):
        d, tfs, dls, o = decode_block_ext(buf, off)
        total = int(tfs.sum())
        b = buf[o:end]
        vends = np.flatnonzero((b & 0x80) == 0)
        if vends.size < total:
            raise ValueError("decode_blocks_keep_pos_flat: position stream truncated")
        vends = vends[:total]
        psum = np.cumsum(tfs)
        pe = vends[psum - 1] + 1 if total else np.empty(0, np.int64)
        # end-exactness (mirrors decode_positions_at): the position
        # stream must END at the block boundary — a trailing gap means
        # the offsets don't describe this payload, and passing the bytes
        # verbatim into a merged index would embed the misalignment
        if (int(pe[-1]) if total else 0) != b.size:
            raise ValueError(
                f"decode_blocks_keep_pos_flat: position stream ended at byte "
                f"{int(pe[-1]) if total else 0} of {b.size} in block — "
                f"payload/offset mismatch (v3-style payload?)")
        ps = np.concatenate(([0], pe[:-1])) if total else np.empty(0, np.int64)
        ds.append(d)
        ts.append(tfs)
        ls.append(dls)
        pbs.append(b[:int(pe[-1])] if total else b[:0])
        pls.append(pe - ps)
    if not ds:
        z = np.empty(0, np.int64)
        return z, z.copy(), z.copy(), np.empty(0, np.uint8), z.copy()
    return (np.concatenate(ds), np.concatenate(ts), np.concatenate(ls),
            np.concatenate(pbs), np.concatenate(pls))


def decode_all_blocks_positions(payload: bytes | np.ndarray, offsets: list[int] | np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode every block of a v4 blocked run with positions, each
    bounded at its block's end (raises on a position-less run)."""
    buf = np.frombuffer(payload, dtype=np.uint8) if isinstance(payload, (bytes, bytearray)) else payload
    offs = [int(o) for o in offsets]
    ds, ts, ls, ps = [], [], [], []
    for off, end in zip(offs, offs[1:] + [buf.size]):
        d, t, l, p = decode_block_positions(buf, off, end)
        ds.append(d); ts.append(t); ls.append(l); ps.append(p)
    if not ds:
        z = np.empty(0, np.int64)
        return z, z.copy(), z.copy(), z.copy()
    return (np.concatenate(ds), np.concatenate(ts),
            np.concatenate(ls), np.concatenate(ps))


def permute_poslists(flat_pos: np.ndarray, tfs: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Reorder a flat per-posting position stream to follow a posting
    permutation (``order`` over postings, e.g. from a docid argsort):
    posting order[i]'s position segment becomes segment i. Vectorized
    segment gather — no per-posting Python loop."""
    tfs = np.asarray(tfs, dtype=np.int64)
    if flat_pos.size == 0:
        return np.asarray(flat_pos, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    l = tfs[order]
    s = starts[order]
    out_starts = np.concatenate(([0], np.cumsum(l)[:-1]))
    idx = np.repeat(s - out_starts, l) + np.arange(int(l.sum()), dtype=np.int64)
    return np.asarray(flat_pos, dtype=np.int64)[idx]


def decode_all_blocks(payload: bytes | np.ndarray, offsets: list[int] | np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode every block of a blocked run (given the block offsets)."""
    buf = np.frombuffer(payload, dtype=np.uint8) if isinstance(payload, (bytes, bytearray)) else payload
    ds, ts, ls = [], [], []
    for off in offsets:
        d, t, l = decode_block(buf, int(off))
        ds.append(d)
        ts.append(t)
        ls.append(l)
    if not ds:
        z = np.empty(0, np.int64)
        return z, z.copy(), z.copy()
    return np.concatenate(ds), np.concatenate(ts), np.concatenate(ls)

