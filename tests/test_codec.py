"""Varbyte + posting-block codec tests.

Known vectors hand-derived from the reference's varbyte spec
(IndexerInvertedCompressed.java:704-725): big-endian 7-bit groups,
0x80 flag on the LAST byte."""

import numpy as np
from hypothesis import given, settings, strategies as st

from websearchengine_spark.functions.codec import (
    decode_posting_blocks,
    encode_posting_blocks,
    posting_blocks,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_known_vectors():
    # hand-derived from the spec: value < 128 -> single byte with 0x80 set
    assert varbyte_encode(np.array([0])) == bytes([0x80])
    assert varbyte_encode(np.array([1])) == bytes([0x81])
    assert varbyte_encode(np.array([127])) == bytes([0xFF])
    # 128 = 0b1_0000000 -> groups [1, 0]; terminator on last
    assert varbyte_encode(np.array([128])) == bytes([0x01, 0x80])
    # 16383 = 0b1111111_1111111 -> [0x7F, 0xFF]
    assert varbyte_encode(np.array([16383])) == bytes([0x7F, 0xFF])
    # 16384 -> 3 bytes [1, 0, 0x80]
    assert varbyte_encode(np.array([16384])) == bytes([0x01, 0x00, 0x80])
    # concatenation of values
    assert varbyte_encode(np.array([1, 128])) == bytes([0x81, 0x01, 0x80])


def test_varbyte_decode_known_vectors():
    assert varbyte_decode(bytes([0x81, 0x01, 0x80, 0xFF])).tolist() == [1, 128, 127]


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.int64)) == b""
    assert varbyte_decode(b"").tolist() == []


def test_varbyte_large_values():
    vals = np.array([2**40, 2**62, 10**12, 0, 1])
    assert varbyte_decode(varbyte_encode(vals)).tolist() == vals.tolist()


@given(
    st.lists(st.integers(min_value=0, max_value=2**62), max_size=200)
)
@settings(max_examples=200)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.int64)
    assert varbyte_decode(varbyte_encode(arr)).tolist() == values


@st.composite
def posting_list(draw):
    m = draw(st.integers(min_value=1, max_value=300))
    gaps = draw(st.lists(st.integers(1, 10**6), min_size=m, max_size=m))
    doc_ids = np.cumsum(np.array(gaps, dtype=np.int64))
    tfs = np.array(draw(st.lists(st.integers(1, 8), min_size=m, max_size=m)), dtype=np.int64)
    dls = tfs + np.array(
        draw(st.lists(st.integers(0, 500), min_size=m, max_size=m)), dtype=np.int64
    )
    positions = []
    for tf in tfs:
        pgaps = draw(st.lists(st.integers(1, 50), min_size=int(tf), max_size=int(tf)))
        positions.extend(np.cumsum(pgaps) - 1)
    return doc_ids, tfs, dls, np.array(positions, dtype=np.int64)


@given(posting_list())
@settings(max_examples=50, deadline=None)
def test_posting_blocks_roundtrip(pl):
    from websearchengine_spark.functions.codec import bm25_impact

    doc_ids, tfs, dls, positions = pl
    avg_dl = float(dls.mean())
    blocks = encode_posting_blocks(doc_ids, tfs, dls, positions, avg_dl, block_size=64)
    d, t, dl, p = decode_posting_blocks(posting_blocks(blocks), want_doclens=True)
    assert d.tolist() == doc_ids.tolist()
    assert t.tolist() == tfs.tolist()
    assert dl.tolist() == dls.tolist()
    assert p.tolist() == positions.tolist()
    # block metadata is correct
    assert blocks[0][0] == doc_ids[0]
    assert blocks[-1][1] == doc_ids[-1]
    assert sum(b[2] for b in blocks) == len(doc_ids)
    assert max(b[3] for b in blocks) == tfs.max()
    # max_impact is a true upper bound per block
    impacts = bm25_impact(tfs.astype(float), dls.astype(float), avg_dl)
    off = 0
    for b in blocks:
        assert b[4] >= impacts[off : off + b[2]].max() - 1e-12
        off += b[2]


def test_posting_blocks_skip_decode_positions():
    doc_ids = np.array([3, 10, 11])
    tfs = np.array([2, 1, 3])
    dls = np.array([7, 3, 9])
    positions = np.array([0, 5, 2, 1, 4, 9])
    blocks = encode_posting_blocks(doc_ids, tfs, dls, positions, avg_dl=6.0)
    d, t, dl, p = decode_posting_blocks(posting_blocks(blocks), want_positions=False)
    assert p is None
    assert dl is None
    assert d.tolist() == [3, 10, 11]
    assert t.tolist() == [2, 1, 3]


@given(posting_list())
@settings(max_examples=50, deadline=None)
def test_decode_remerges_interleaved_block_runs(pl):
    """Indexes written with the retired champion-head layout store a
    list as two doc-ordered runs whose block ranges interleave (the
    top-impact postings, then the rest).  Decoding must re-merge them to
    the EXACT doc-ordered (doc_ids, tfs, dls, positions) of the plain
    layout, and the kernel must score them identically."""
    from websearchengine_spark.functions.codec import bm25_impact
    from websearchengine_spark.operators.topk import shard_topk

    doc_ids, tfs, dls, positions = pl
    avg_dl = float(dls.mean())
    impacts = bm25_impact(tfs.astype(float), dls.astype(float), avg_dl)
    head = np.zeros(len(doc_ids), dtype=bool)
    head[np.argsort(-impacts, kind="stable")[: max(1, len(doc_ids) // 10)]] = True
    starts = np.concatenate([[0], np.cumsum(tfs)[:-1]])

    def run(mask):
        pos = [positions[s : s + t] for s, t in zip(starts[mask], tfs[mask])]
        return encode_posting_blocks(
            doc_ids[mask], tfs[mask], dls[mask],
            np.concatenate(pos) if pos else np.empty(0, np.int64),
            avg_dl, block_size=8,
        )

    legacy = [b[:6] + (True,) for b in run(head)] + (run(~head) if (~head).any() else [])
    d, t, dl, p = decode_posting_blocks(posting_blocks(legacy), want_doclens=True)
    assert d.tolist() == doc_ids.tolist()
    assert t.tolist() == tfs.tolist()
    assert dl.tolist() == dls.tolist()
    assert p.tolist() == positions.tolist()

    plain = encode_posting_blocks(doc_ids, tfs, dls, positions, avg_dl, block_size=8)
    spec = [(0, {"t": 1.0}, [])]
    want = shard_topk({"t": posting_blocks(plain)}, spec, "bm25", {"t": 1.0}, avg_dl, 5)
    got = shard_topk({"t": posting_blocks(legacy)}, spec, "bm25", {"t": 1.0}, avg_dl, 5)
    for w, g in zip(want[:3], got[:3]):
        np.testing.assert_array_equal(w, g)


# ---- batched varbyte (the build/compaction encode path) ---------------

def test_varbyte_encode_many_matches_singles():
    from websearchengine_spark.functions.codec import (
        varbyte_encode,
        varbyte_encode_many,
    )

    rng = np.random.default_rng(7)
    chunks = [
        rng.integers(0, 1 << int(b), size=int(n), dtype=np.int64)
        for b, n in zip(rng.integers(1, 62, size=50), rng.integers(0, 40, size=50))
    ]
    chunks.insert(0, np.empty(0, dtype=np.int64))  # leading empty chunk
    chunks.append(np.empty(0, dtype=np.int64))  # trailing empty chunk
    out = varbyte_encode_many(chunks)
    assert len(out) == len(chunks)
    for c, b in zip(chunks, out):
        assert b == varbyte_encode(c)
    assert varbyte_encode_many([]) == []
    assert varbyte_encode_many([np.empty(0, np.int64)] * 3) == [b"", b"", b""]


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=(1 << 62) - 1), max_size=20),
        min_size=1,
        max_size=12,
    )
)
def test_varbyte_encode_many_property(chunk_lists):
    from websearchengine_spark.functions.codec import (
        varbyte_encode,
        varbyte_encode_many,
    )

    chunks = [np.array(c, dtype=np.int64) for c in chunk_lists]
    assert varbyte_encode_many(chunks) == [varbyte_encode(c) for c in chunks]


def test_encode_posting_blocks_defer_bytes_identical():
    from websearchengine_spark.functions.codec import (
        encode_posting_blocks,
        varbyte_encode_many,
    )

    rng = np.random.default_rng(11)
    for m in [5, 300]:
        docs = np.sort(rng.choice(100000, size=m, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 5, size=m).astype(np.int64)
        dls = rng.integers(10, 200, size=m).astype(np.int64)
        pos = np.concatenate(
            [np.sort(rng.integers(0, 200, size=t)) for t in tfs]
        ).astype(np.int64)
        eager = encode_posting_blocks(docs, tfs, dls, pos, 55.0)
        deferred = encode_posting_blocks(
            docs, tfs, dls, pos, 55.0, _defer_bytes=True
        )
        datas = varbyte_encode_many([b[5] for b in deferred])
        rebuilt = [b[:5] + (d,) + b[6:] for b, d in zip(deferred, datas)]
        assert rebuilt == eager


def test_varbyte_encode_many_crosses_pass_boundary(monkeypatch):
    """Chunked passes are byte-identical to one encode per chunk: with a
    tiny pass size (chunks and values straddle every pass boundary) and
    with the real ENCODE_PASS_VALUES over a batch that crosses it."""
    from websearchengine_spark.functions import codec

    rng = np.random.default_rng(3)
    chunks = [
        rng.integers(0, 1 << int(b), size=int(n), dtype=np.int64)
        for b, n in zip(rng.integers(1, 62, size=40), rng.integers(0, 23, size=40))
    ]
    want = [varbyte_encode(c) for c in chunks]
    with monkeypatch.context() as m:
        m.setattr(codec, "ENCODE_PASS_VALUES", 7)
        assert codec.varbyte_encode_many(chunks) == want
    big = [
        rng.integers(0, 1 << 40, size=600_000, dtype=np.int64),
        rng.integers(0, 300, size=700_000, dtype=np.int64),
        np.arange(5, dtype=np.int64),
    ]
    assert sum(c.size for c in big) > codec.ENCODE_PASS_VALUES
    assert codec.varbyte_encode_many(big) == [varbyte_encode(c) for c in big]


# ---- the vectorized multi-block decoder against a per-block reference --

KEY_SHIFT = 41  # the kernel's (shard, doc_id) key: shard << 41 | doc_id


def _reference_decode(blocks, want_positions):
    """Plain per-block decode of block tuples: each block's stream is
    [n gaps, n tfs, n doc lengths, position deltas], positions restart
    per doc; the postings are returned in ascending doc order."""
    rows = []
    for first, _last, n, _mt, _mi, data, *_ in blocks:
        vals = varbyte_decode(data).tolist()
        gaps, tfs, dls, deltas = vals[:n], vals[n : 2 * n], vals[2 * n : 3 * n], vals[3 * n :]
        doc, at = first, 0
        for g, tf, dl in zip(gaps, tfs, dls):
            doc += g
            pos = []
            for j in range(tf):
                pos.append(deltas[at] if j == 0 else pos[-1] + deltas[at])
                at += 1
            rows.append((doc, tf, dl, pos))
    rows.sort(key=lambda r: r[0])
    return (
        [r[0] for r in rows],
        [r[1] for r in rows],
        [r[2] for r in rows],
        [p for r in rows for p in r[3]] if want_positions else None,
    )


@st.composite
def sharded_blocks(draw):
    """Block tuples of 1-4 shards' posting lists (doc_id % n_shards ==
    shard), keyed by (shard, doc_id) like the kernel keys them,
    interleaved across shards; some shards stored in the legacy
    two-run head layout; plus a random block subset."""
    n_shards = draw(st.integers(1, 4))
    block_size = draw(st.integers(4, 128))
    blocks = []
    for shard in range(n_shards):
        m = draw(st.integers(1, 150))
        gaps = draw(st.lists(st.integers(1, 50), min_size=m, max_size=m))
        docs = np.cumsum(np.array(gaps, dtype=np.int64)) * n_shards + shard
        tfs = np.array(draw(st.lists(st.integers(1, 5), min_size=m, max_size=m)), dtype=np.int64)
        dls = tfs + np.array(draw(st.lists(st.integers(0, 400), min_size=m, max_size=m)), dtype=np.int64)
        pos = np.concatenate(
            [np.cumsum(draw(st.lists(st.integers(1, 30), min_size=int(t), max_size=int(t)))) - 1 for t in tfs]
        ).astype(np.int64)
        starts = np.concatenate([[0], np.cumsum(tfs)[:-1]])
        key = np.int64(shard) << KEY_SHIFT

        def run(mask):
            p = [pos[s : s + t] for s, t in zip(starts[mask], tfs[mask])]
            return [
                (b[0] + key, b[1] + key, *b[2:])
                for b in encode_posting_blocks(
                    docs[mask], tfs[mask], dls[mask],
                    np.concatenate(p) if p else np.empty(0, np.int64),
                    10.0, block_size=block_size,
                )
            ]

        if draw(st.booleans()) and m > 1:  # legacy head layout
            head = np.zeros(m, dtype=bool)
            head[draw(st.lists(st.integers(0, m - 1), min_size=1, max_size=m))] = True
            blocks += [b[:6] + (True,) for b in run(head)]
            blocks += run(~head) if (~head).any() else []
        else:
            blocks += run(np.ones(m, dtype=bool))
    order = draw(st.permutations(range(len(blocks))))
    blocks = [blocks[i] for i in order]
    subset = draw(st.lists(st.booleans(), min_size=len(blocks), max_size=len(blocks)))
    return blocks, np.array(subset, dtype=bool)


@given(sharded_blocks(), st.booleans())
@settings(max_examples=150, deadline=None)
def test_decode_posting_blocks_matches_per_block_reference(case, want_positions):
    """One vectorized pass over many blocks decodes exactly what a plain
    per-block decode gives: random lists, block sizes 4-128, random
    block subsets, blocks interleaved across shards, positions on and
    off, legacy head blocks."""
    blocks, subset = case
    chosen = [b for b, keep in zip(blocks, subset) if keep]
    d, t, dl, p = decode_posting_blocks(
        posting_blocks(blocks).take(subset), want_positions=want_positions, want_doclens=True
    )
    want = _reference_decode(chosen, want_positions)
    assert d.tolist() == want[0]
    assert t.tolist() == want[1]
    assert dl.tolist() == want[2]
    assert (p is None) if not want_positions else p.tolist() == want[3]
