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
  block, so the scoring view (``positions=False``) gathers no
  position value — it only counts them to check the block's end.

Blocks decode through ONE scanner (``_scan``): a block ends where the
next one starts (the last at the payload's end), one continuation-bit
scan delimits every varint of a run of blocks, and one ≤10-round
gather decodes the wanted values — no per-block or per-value Python
loop. Three views wrap it: :func:`decode_all_blocks` and
:func:`decode_blocks` (scoring streams, optionally positions, over a
block range) and :func:`decode_blocks_pos_bytes` (verbatim position
bytes for the merger and compaction). VByte format: little-endian
7-bit groups, MSB set = continuation (final byte has MSB clear); a
uint64 takes at most 10 bytes.

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


def _runs(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + l)`` for every (s, l) pair — the
    repeat/arange index math of each segmented gather below."""
    shift = np.repeat(starts - (np.cumsum(lens) - lens), lens)
    return shift + np.arange(shift.size, dtype=np.int64)


def _gather(b: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """uint64 values of the varints at byte ``starts`` (``lens`` ≤ 10
    bytes each): one OR per byte round over the values still that long."""
    out = (b[starts] & 0x7F).astype(np.uint64)
    idx, r = np.flatnonzero(lens > 1), 1
    while idx.size:
        out[idx] |= (b[starts[idx] + r] & 0x7F).astype(np.uint64) << np.uint64(7 * r)
        r += 1
        idx = idx[lens[idx] > r]
    return out


def _scan(payload: bytes | np.ndarray, offsets, lo: int, hi: int | None,
          positions: str | None) -> tuple:
    """Decode blocks ``[lo, hi)`` of a row whose blocks start at byte
    ``offsets`` — the one block decoder every public view wraps.

    Block i ends where block i+1 starts, the row's last block at the
    end of the payload. One continuation-bit scan over the blocks'
    contiguous bytes delimits every varint; header, stream and
    position value indices follow by repeat/arange over the per-block
    counts, and the wanted values come out of one ≤10-round gather.
    Raises ValueError when the offsets leave the payload or split a
    varint, a varint runs past its block's end or past 64 bits, or a
    block's value count disagrees with its header: ``positions=None``
    accepts a block with or without its Σtf position values;
    ``"values"`` (decoded flat positions) and ``"bytes"`` (verbatim
    position bytes and per-posting byte lengths) require them.

    Returns (docids, tfs, dls, per-block posting counts, positions)."""
    buf = np.frombuffer(payload, dtype=np.uint8) if isinstance(payload, (bytes, bytearray)) else payload
    offs = np.asarray(offsets, dtype=np.int64)
    hi = offs.size if hi is None else hi
    if not 0 <= lo <= hi <= offs.size:
        raise ValueError(f"blocks [{lo}, {hi}) outside a row of {offs.size} blocks")
    bounds = np.empty(hi - lo + 1, dtype=np.int64)
    bounds[:-1] = offs[lo:hi]
    bounds[-1] = offs[hi] if hi < offs.size else buf.size
    if bounds[0] < 0 or bounds[-1] > buf.size or (np.diff(bounds) <= 0).any():
        raise ValueError("block offsets are not ascending within the payload")
    if bounds[0] > 0 and buf[bounds[0] - 1] >= 0x80:
        raise ValueError(f"block offset {bounds[0]} falls inside a varint")
    b = buf[bounds[0]:bounds[-1]]
    rel = bounds - bounds[0]
    last = b < 0x80                          # the one continuation-bit scan
    if not last[rel[1:] - 1].all():
        raise ValueError("block truncated: a varint runs past its block's end")
    term = np.flatnonzero(last)
    vlen = np.diff(term, prepend=-1)
    if vlen.size and vlen.max() >= 10 and ((vlen > 10).any() or (b[term[vlen == 10]] > 1).any()):
        raise ValueError("varint longer than 64 bits")
    vstart = term - (vlen - 1)
    first = np.searchsorted(term, rel[:-1])  # value index of each block's header
    nvals = np.diff(first, append=term.size)
    hdr = _gather(b, vstart[first], vlen[first])
    if (hdr > ((nvals - 1) // 3).astype(np.uint64)).any():
        raise ValueError("block truncated: fewer values than its header's 3n")
    n = hdr.astype(np.int64)
    m = int(n.sum())
    d_idx = _runs(first + 1, n)
    nn = np.repeat(n, n)
    pcount = nvals - 1 - 3 * n
    idx = [d_idx, d_idx + nn, d_idx + 2 * nn]
    if positions is not None:
        idx.append(_runs(first + 1 + 3 * n, pcount))
    idx = np.concatenate(idx)
    vals = _gather(b, vstart[idx], vlen[idx])
    tfs, dls = vals[m:2 * m].view(np.int64), vals[2 * m:3 * m].view(np.int64)
    cn = np.concatenate(([0], np.cumsum(n)))
    ct = np.concatenate(([0], np.cumsum(tfs)))
    ok = pcount == ct[cn[1:]] - ct[cn[:-1]]
    if positions is None:
        ok |= pcount == 0
    if not ok.all():
        bi = int(np.flatnonzero(~ok)[0])
        raise ValueError(
            f"block {lo + bi}: {int(pcount[bi])} values after its scoring "
            f"streams, Σtf={int(ct[cn[bi + 1]] - ct[cn[bi]])} — position stream "
            f"absent, truncated or followed by stray bytes (payload/offset mismatch)")
    # segmented cumsum: uint64 wraps modulo 2^64, so subtracting each
    # block's running base leaves the exact docids even near 2^63
    c = np.cumsum(vals[:m])
    base = np.concatenate((np.zeros(1, np.uint64), c))[cn[:-1]]
    docids = (c - np.repeat(base, n)).view(np.int64)
    pos = None
    if positions == "values":
        pos = _pos_undelta(vals[3 * m:], tfs)
    elif positions == "bytes":
        cv = np.concatenate(([0], np.cumsum(vlen[idx[3 * m:]])))
        plens = cv[ct[1:]] - cv[ct[:-1]]
        cp = np.concatenate(([0], np.cumsum(plens)))
        sec = cp[cn[1:]] - cp[cn[:-1]]       # a block's position bytes end at its end
        pos = (b[_runs(rel[1:] - sec, sec)], plens)
    return docids, tfs, dls, n, pos


def decode_blocks(payload: bytes | np.ndarray, offsets, lo: int = 0,
                  hi: int | None = None, positions: bool = False) -> tuple:
    """Decode blocks ``[lo, hi)`` (default: all) of a row whose blocks
    start at byte ``offsets`` -> (docids, tfs, dls, per-block posting
    counts, flat positions or None). Posting i owns the next tf_i
    position values. The scoring hot path (``positions=False``) reads
    v3 and v4 blocks alike; ``positions=True`` raises on a block
    without a position stream."""
    return _scan(payload, offsets, lo, hi, "values" if positions else None)


def decode_blocks_pos_bytes(payload: bytes | np.ndarray, offsets
                            ) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                                       np.ndarray, np.ndarray]:
    """Decode every block's scoring streams but keep the position
    sections VERBATIM -> (docids, tfs, dls, pos_buf uint8,
    per_posting_byte_lens): the ``pos_encoded`` shape
    :func:`encode_blocks` re-blocks by byte concatenation. Per-posting
    position runs are independently concatenable (deltas reset at
    posting starts), so the merger (build.py) and compaction never
    decode or re-encode a position value."""
    docids, tfs, dls, _n, (pbuf, plens) = _scan(payload, offsets, 0, None, "bytes")
    return docids, tfs, dls, pbuf, plens


def decode_all_blocks(payload: bytes | np.ndarray, offsets: list[int] | np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode every block of a blocked run (given the block offsets)."""
    return _scan(payload, offsets, 0, None, None)[:3]
