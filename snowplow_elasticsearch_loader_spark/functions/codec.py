"""The posting-block codec: delta-gap + LEB128 varint, pure numpy.

The reference has no columnar/compressed layer (it ships JSON strings
to ES and lets Lucene encode postings); this module owns that delegated
capability (SURVEY E2, north_star: "delta-gap + varint-compressed
posting blocks"), and it is the only module that knows the byte format.

Block format. A block holds up to ``block_size`` postings of one term,
in ascending doc order, as four LEB128 byte streams:

- ``docs_varint``: doc-id gaps, restarting at each block (the first
  value is the block's first doc id);
- ``tfs_varint``: term frequencies;
- ``dls_varint``: doc lengths, so scoring needs no docstats join (the
  analog of Lucene norms living next to postings);
- ``pos_varint``: token positions, ``tf`` per posting, as gaps that
  restart at each posting; empty in a non-positional index.

``pack_blocks`` is the one encoder and ``unpack_blocks`` /
``unpack_positions`` the one decoder. Varints self-delimit, so a
batch of blocks decodes as one concatenated stream per column, and one
segment cumsum undoes the restarts. Everything is vectorized — the
per-row invariant from BASELINE.json input_hint ("no per-row Python")
applies inside UDFs too: encode/decode touch numpy arrays, never Python
ints in a loop.
"""

from __future__ import annotations

import numpy as np

_U7 = np.uint64(7)
_MASK = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def _encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128 bytes of a uint array and each value's byte offset (n + 1
    offsets). Vectorized scatter: the only Python loops run over the
    <=10 byte positions."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    lens = np.ones(v.size, dtype=np.int64)
    tmp = v >> _U7
    while tmp.any():
        lens += tmp > 0
        tmp >>= _U7
    off = np.concatenate(([0], np.cumsum(lens)))
    out = np.zeros(int(off[-1]), dtype=np.uint8)
    idx = off[:-1].copy()
    cur = v.copy()
    remaining = lens.copy()
    while True:
        mask = remaining > 0
        if not mask.any():
            break
        byte = (cur[mask] & _MASK).astype(np.uint8)
        more = (remaining[mask] > 1).astype(np.uint8) << 7
        out[idx[mask]] = byte | more
        cur[mask] >>= _U7
        idx[mask] += 1
        remaining[mask] -= 1
    return out.tobytes(), off


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint array."""
    return _encode(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of varint_encode -> uint64 array (segment-reduce, no loop
    over values)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & _CONT) == 0
    # value start positions: 0 and every position after a terminating byte
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    pos_in_value = np.arange(b.size, dtype=np.uint64) - np.repeat(
        starts.astype(np.uint64), np.diff(np.concatenate((starts, [b.size])))
    )
    parts = (b & _MASK).astype(np.uint64) << (pos_in_value * _U7)
    return np.add.reduceat(parts, starts)


def _delta(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Gaps between consecutive values, restarting (gap = value) at
    each index in ``starts``."""
    gaps = values.copy()
    gaps[1:] -= values[:-1]
    gaps[starts] = values[starts]
    return gaps


def _undelta(gaps: np.ndarray, seg_len: np.ndarray) -> np.ndarray:
    """Inverse of ``_delta`` over consecutive segments of ``seg_len``
    values: one cumsum, minus each segment's running offset."""
    seg_len = seg_len[seg_len > 0]
    c = np.cumsum(gaps, dtype=np.uint64)
    starts = np.cumsum(seg_len) - seg_len
    return (c - np.repeat(c[starts] - gaps[starts], seg_len)).astype(np.int64)


def _slices(buf: bytes, off: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> list[bytes]:
    """``buf`` cut into the byte runs of values ``starts[i]:ends[i]``."""
    return [buf[s:e] for s, e in zip(off[starts].tolist(), off[ends].tolist())]


def pack_blocks(
    doc: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    bstart: np.ndarray,
    pos: np.ndarray | None = None,
) -> tuple[list[bytes], list[bytes], list[bytes], list[bytes]]:
    """One group's postings -> per-block (docs, tfs, dls, pos) bytes.

    ``doc``/``tf``/``dl`` are (term, doc)-sorted, duplicate-collapsed
    posting arrays and ``bstart`` the ascending offsets where blocks
    start (every term start is one). ``pos`` is the optional flat
    position stream: posting ``i``'s ``tf[i]`` ascending positions, in
    posting order. Each column is encoded whole, then cut at the block
    boundaries."""
    doc = np.asarray(doc, dtype=np.uint64)
    tf = np.asarray(tf, dtype=np.uint64)
    bend = np.concatenate((bstart[1:], [doc.size]))
    cols = [
        _slices(*_encode(v), bstart, bend)
        for v in (_delta(doc, bstart), tf, np.asarray(dl, dtype=np.uint64))
    ]
    if pos is not None and pos.size:
        cum_tf = np.concatenate(([0], np.cumsum(tf))).astype(np.int64)
        pgaps = _delta(pos.astype(np.uint64), cum_tf[:-1])
        cols.append(_slices(*_encode(pgaps), cum_tf[bstart], cum_tf[bend]))
    else:
        cols.append([b""] * bstart.size)
    return tuple(cols)


def _decode_cat(parts) -> np.ndarray:
    """One varint_decode over a column of byte strings, concatenated."""
    return varint_decode(b"".join(bytes(x) for x in parts))


def block_sizes(docs_varint) -> np.ndarray:
    """Postings per block, counted off each block's doc stream (one
    terminating byte per varint): ``doc_count`` for readers that do not
    carry that column."""
    parts = [bytes(x) for x in docs_varint]
    b = np.frombuffer(b"".join(parts), dtype=np.uint8)
    ends = np.cumsum([len(p) for p in parts], dtype=np.int64)
    done = np.concatenate(([0], np.cumsum((b & _CONT) == 0)))
    return np.diff(np.concatenate(([0], done[ends])))


def unpack_blocks(doc_count, docs_varint, tfs_varint, dls_varint):
    """A batch of blocks -> (doc, tf, dl) int64 arrays, flat over the
    batch in block order. ``doc_count`` is each block's posting count;
    a stream whose length disagrees with it raises ``ValueError``."""
    cnt = np.asarray(doc_count, dtype=np.int64)
    gaps, tf, dl = (_decode_cat(c) for c in (docs_varint, tfs_varint, dls_varint))
    if not gaps.size == tf.size == dl.size == int(cnt.sum()):
        raise ValueError("posting stream length disagrees with doc_count")
    return _undelta(gaps, cnt), tf.astype(np.int64), dl.astype(np.int64)


def unpack_positions(pos_varint: bytes, tf: np.ndarray) -> np.ndarray:
    """A batch's concatenated positions stream -> flat int64 positions,
    posting ``i`` holding the next ``tf[i]`` of them in ascending order
    (pass 0 for the postings of a block without positions). A stream
    whose length disagrees with ``tf`` raises ``ValueError``."""
    gaps, tf = varint_decode(pos_varint), np.asarray(tf, dtype=np.int64)
    if gaps.size != int(tf.sum()):
        raise ValueError("positions stream length disagrees with tf")
    return _undelta(gaps, tf)
