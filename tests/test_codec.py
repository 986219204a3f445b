"""Codec unit tier (SURVEY §5.4: 'varint/delta codec roundtrip ... add
property-style randomized arrays')."""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pytest

import snowplow_elasticsearch_loader_spark as pkg
from snowplow_elasticsearch_loader_spark.functions import codec


@pytest.mark.parametrize(
    "vals",
    [
        [],
        [0],
        [127],
        [128],
        [1, 2, 3],
        [2**32 - 1, 2**32, 2**63 - 1, 2**64 - 1],
        list(range(1000)),
    ],
)
def test_varint_roundtrip_cases(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(arr)), arr)


def test_varint_roundtrip_random():
    rng = np.random.RandomState(42)
    for _ in range(25):
        n = rng.randint(0, 5000)
        # mixed magnitudes to cross byte-length boundaries
        arr = (rng.randint(0, 2**62, size=n).astype(np.uint64)) >> rng.randint(
            0, 60, size=n
        ).astype(np.uint64)
        assert np.array_equal(codec.varint_decode(codec.varint_encode(arr)), arr)


def _column(rng, n_terms: int, max_doc: int, block_size: int):
    """A (term, doc)-sorted posting column split into blocks the way the
    build splits it: a block starts at every term start and every
    ``block_size`` postings within a term. Returns (doc, tf, dl, bstart)."""
    docs, bstart = [], []
    for _ in range(n_terms):
        d = np.unique(rng.randint(0, max_doc, size=rng.randint(1, 300), dtype=np.uint64))
        base = sum(x.size for x in docs)
        bstart.extend(range(base, base + d.size, block_size))
        docs.append(d)
    doc = np.concatenate(docs)
    tf = rng.randint(1, 50, size=doc.size).astype(np.uint64)
    dl = rng.randint(1, 2000, size=doc.size).astype(np.uint64)
    return doc, tf, dl, np.array(bstart, dtype=np.int64)


def _roundtrip(doc, tf, dl, bstart):
    docs_b, tfs_b, dls_b, pos_b = codec.pack_blocks(doc, tf, dl, bstart)
    assert len(docs_b) == len(tfs_b) == len(dls_b) == len(pos_b) == bstart.size
    assert pos_b == [b""] * bstart.size
    cnt = np.diff(np.concatenate((bstart, [doc.size])))
    assert np.array_equal(codec.block_sizes(docs_b), cnt)
    d, t, l = codec.unpack_blocks(cnt, docs_b, tfs_b, dls_b)
    assert d.dtype == t.dtype == l.dtype == np.int64
    assert np.array_equal(d, doc.astype(np.int64))
    assert np.array_equal(t, tf.astype(np.int64))
    assert np.array_equal(l, dl.astype(np.int64))
    return docs_b, cnt


def test_delta_roundtrip_random():
    # doc ids up to 2^63 - 1, the largest the int64 doc_id column holds;
    # block size 1 makes every block a single-posting block
    rng = np.random.RandomState(7)
    for i in range(20):
        max_doc = [2**40, 2**63 - 1][i % 2]
        _roundtrip(*_column(rng, rng.randint(1, 6), max_doc, [1, 3, 128][i % 3]))


def test_block_roundtrip():
    rng = np.random.RandomState(1)
    doc, tf, dl, bstart = _column(rng, 4, 10**9, 16)
    docs_b, cnt = _roundtrip(doc, tf, dl, bstart)
    # the doc gaps restart at each block: any block decodes on its own,
    # starting from its absolute first doc id
    tfs_b, dls_b = codec.pack_blocks(doc, tf, dl, bstart)[1:3]
    ends = np.cumsum(cnt)
    for j, s in enumerate(bstart):
        one = slice(j, j + 1)
        d, t, l = codec.unpack_blocks(cnt[one], docs_b[one], tfs_b[one], dls_b[one])
        assert codec.varint_decode(docs_b[j])[0] == doc[s]
        assert np.array_equal(d, doc[s : ends[j]].astype(np.int64))
        assert np.array_equal(t, tf[s : ends[j]].astype(np.int64))


def test_positions_roundtrip_with_posting_restarts():
    rng = np.random.RandomState(3)
    doc, tf, dl, bstart = _column(rng, 3, 5000, 4)
    # tf[i] ascending positions per posting, restarting at each posting
    pos = np.concatenate([np.sort(rng.choice(10**6, size=int(t), replace=False)) for t in tf])
    docs_b, tfs_b, dls_b, pos_b = codec.pack_blocks(doc, tf, dl, bstart, pos)
    _, t, _ = codec.unpack_blocks(codec.block_sizes(docs_b), docs_b, tfs_b, dls_b)
    assert np.array_equal(codec.unpack_positions(b"".join(pos_b), t), pos)
    # a block without positions holds zero of them per posting
    cnt = np.diff(np.concatenate((bstart, [doc.size])))
    keep = np.repeat(np.arange(bstart.size) % 2 == 0, cnt)
    mixed = b"".join(p if j % 2 == 0 else b"" for j, p in enumerate(pos_b))
    got = codec.unpack_positions(mixed, np.where(keep, t, 0))
    assert np.array_equal(got, pos[np.repeat(keep, tf.astype(np.int64))])


def test_unpack_rejects_stream_that_disagrees_with_doc_count():
    doc = np.array([3, 9, 12, 40], dtype=np.uint64)
    ones = np.ones(4, dtype=np.uint64)
    docs_b, tfs_b, dls_b, _ = codec.pack_blocks(doc, ones, ones, np.array([0, 2]))
    with pytest.raises(ValueError, match="doc_count"):
        codec.unpack_blocks([2, 3], docs_b, tfs_b, dls_b)
    with pytest.raises(ValueError, match="doc_count"):
        codec.unpack_blocks([2, 2], docs_b, tfs_b, dls_b[:1])
    with pytest.raises(ValueError, match="tf"):
        codec.unpack_positions(codec.varint_encode(np.arange(3)), np.array([2, 2]))


def test_compression_actually_compresses():
    ids = np.arange(10_000, dtype=np.uint64) * 3 + 5
    docs_b = codec.pack_blocks(ids, ids * 0 + 1, ids * 0 + 1, np.array([0]))[0]
    assert len(docs_b[0]) < ids.nbytes / 4  # gaps of 3 -> 1 byte each


def test_only_codec_touches_the_byte_format():
    """The block format has one home: no package module but
    functions/codec.py calls the varint or delta primitives, so swapping
    the format (e.g. for columnar postings) is a one-module change."""
    names = {"varint_encode", "varint_decode", "delta_encode", "delta_decode"}
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for p in sorted(root.rglob("*.py")):
        if p == root / "functions" / "codec.py":
            continue
        for node in ast.walk(ast.parse(p.read_text())):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if name in names:
                offenders.append(f"{p.relative_to(root)}:{node.lineno} {name}")
            if isinstance(node, ast.ImportFrom):
                offenders += [
                    f"{p.relative_to(root)}:{node.lineno} {a.name}"
                    for a in node.names
                    if a.name in names
                ]
    assert not offenders, offenders
