"""Delta-gap + varbyte posting-block codec (numpy-vectorized).

The reference stores, per term, a flat byte stream of varbyte-encoded
(docid, position) pairs with ABSOLUTE docids repeated per occurrence
(IndexerInvertedCompressed.java:137-154, compressInt :704-725,
decompressArray :678-701). Its varbyte convention is big-endian 7-bit
groups with the HIGH BIT (0x80) set on the LAST byte (terminator
convention — the inverse of the classic continuation bit, but
equivalent).

Our format keeps the same varbyte byte convention (so hand-derived
vectors from the reference spec validate the codec) but improves the
layout — the index is internal state, so the format is ours to define
(SURVEY.md §1.4, §7.3):

  per (shard, term) the posting list is cut into blocks of up to
  ``BLOCK_SIZE`` docs; each block is
      struct<first_docid, last_docid, n, data:binary>
  where ``data`` is ONE varbyte stream holding, in order:
      n doc-gaps   (gap[0] = docid[0] - first_docid == 0, then deltas)
      n tfs
      n doc-lengths (rides the block so BM25 needs no doc-table join)
      sum(tf) position-deltas (per doc: pos[0], then deltas)

A block stores only what the ranking kernel reads: [first_docid,
last_docid] is the block-max skip test (a block is decoded only when
its doc range meets the candidates), ``n`` sizes the decode.

All encode/decode paths are numpy array ops — no per-value Python in
the hot loop beyond the final ``bytes()`` copy.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

BLOCK_SIZE = 128

_MASK7 = 0x7F
_TERM = 0x80  # set on the LAST byte of each value (reference convention)


_MAX_GROUPS = 9  # 63 bits — covers any non-negative int64 (10^12-doc docids)


def _encode_pass(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte bytes of the uint64 values ``v`` (uint8 array) and each
    value's byte count.  Builds a (len, 9) byte matrix and compacts it
    with a mask: ~90 bytes of scratch per value."""
    # number of 7-bit groups per value: 1..9
    nb = np.ones(v.shape, dtype=np.int8)
    for width in range(2, _MAX_GROUPS + 1):
        nb = np.where(v >= (1 << (7 * (width - 1))), width, nb)
    # groups[i, g] = g-th 7-bit group, most significant first
    shifts = np.arange(_MAX_GROUPS - 1, -1, -1, dtype=np.uint64) * np.uint64(7)
    groups = (v[:, None] >> shifts[None, :]).astype(np.uint8) & _MASK7
    keep = np.arange(_MAX_GROUPS)[None, :] >= (_MAX_GROUPS - nb[:, None])
    # terminator bit on the last group of each value
    groups[:, _MAX_GROUPS - 1] |= _TERM
    return groups[keep], nb


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a 1-D array of non-negative int64s to varbyte bytes.

    Big-endian 7-bit groups, 0x80 flag on the final byte of each value.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    return _encode_pass(v)[0].tobytes()


# values per vectorized encode pass of varbyte_encode_many: bounds its
# scratch (~90 B per value) at ~100 MB however many values one call gets
ENCODE_PASS_VALUES = 1 << 20


def varbyte_encode_many(chunks: list[np.ndarray]) -> list[bytes]:
    """Encode MANY value arrays in few vectorized passes.

    Byte-identical per chunk to ``varbyte_encode(chunk)`` (varbyte is
    per-value independent, so concatenating inputs and splitting the
    output at value boundaries is exact).  Exists because the encoder's
    per-call numpy overhead (~60 us on the block-sized arrays the index
    build emits) dominates the build's encode stage when called once per
    block; one call per Arrow batch amortizes it (guide §4.2).  The
    concatenated values are encoded ENCODE_PASS_VALUES at a time, so a
    large batch (or one huge chunk) does not build one huge scratch
    matrix.
    """
    if not chunks:
        return []
    lens = np.array([np.asarray(c).size for c in chunks], dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return [b""] * len(chunks)
    v = np.concatenate([np.asarray(c, dtype=np.uint64) for c in chunks if len(c)])
    passes = [
        _encode_pass(v[i : i + ENCODE_PASS_VALUES])
        for i in range(0, total, ENCODE_PASS_VALUES)
    ]
    buf = np.concatenate([out for out, _ in passes]).tobytes()
    # byte offset of each chunk = cumulative bytes of the values before it
    byte_cum = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(np.concatenate([nb for _, nb in passes]), out=byte_cum[1:])
    val_bounds = np.zeros(len(chunks) + 1, dtype=np.int64)
    np.cumsum(lens, out=val_bounds[1:])
    offs = byte_cum[val_bounds]
    mv = memoryview(buf)
    return [bytes(mv[offs[i] : offs[i + 1]]) for i in range(len(chunks))]


def _value_bounds(raw: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(first byte, last byte) of every varbyte value in ``raw``."""
    ends = np.flatnonzero(raw >= _TERM)
    starts = np.empty_like(ends)
    starts[:1] = 0
    starts[1:] = ends[:-1] + 1
    return starts, ends


def _decode_values(raw: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """The int64 values whose bytes are raw[starts[i] : ends[i] + 1]:
    big-endian 7-bit groups, so byte ends[i] - j holds bits 7j..7j+6.
    One pass per byte length, over the values that long (values are
    mostly 1-2 bytes, so this touches each byte about once)."""
    out = (raw[ends] & _MASK7).astype(np.int64)
    extra = ends - starts
    for j in range(1, int(extra.max(initial=0)) + 1):
        m = np.flatnonzero(extra >= j)
        out[m] |= (raw[ends[m] - j] & _MASK7).astype(np.int64) << (7 * j)
    return out


def varbyte_decode(data: bytes | np.ndarray) -> np.ndarray:
    """Decode a full varbyte stream back into an int64 array. Vectorized."""
    raw = np.frombuffer(data, dtype=np.uint8) if not isinstance(data, np.ndarray) else data
    return _decode_values(raw, *_value_bounds(raw))


BM25_K1 = 1.2
BM25_B = 0.75


def _gather_segments(values: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """values[starts[i] : starts[i]+lens[i]] for every i, concatenated.
    Fully vectorized (np.repeat index arithmetic, no per-segment loop);
    a view when the segments are adjacent in order."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=values.dtype)
    if np.array_equal(starts[1:], starts[:-1] + lens[:-1]):
        return values[starts[0] : starts[0] + total]
    out_starts = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=out_starts[1:])
    idx = np.repeat(starts - out_starts, lens) + np.arange(total, dtype=np.int64)
    return values[idx]


def encode_posting_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    positions: np.ndarray | None,
    block_size: int = BLOCK_SIZE,
    _defer_bytes: bool = False,
) -> list[tuple[int, int, int, bytes]]:
    """Encode one term's posting list into block-max blocks.

    ``doc_ids`` strictly ascending int64 (len m); ``tfs``/``doc_lens``
    int64 (len m); ``positions`` int64 concatenation of each doc's
    ascending position list (len sum(tfs)).

    Returns (first_docid, last_docid, n, data) tuples, the stored block
    struct's fields; ``data`` is one varbyte stream of [gaps, tfs, dls,
    posdeltas].

    ``_defer_bytes=True`` returns the per-block VALUE ARRAY in the data
    slot instead of varbyte bytes, so a batching caller can run ONE
    ``varbyte_encode_many`` over many blocks (byte-identical output;
    the build's Arrow encoder uses this — guide §4.2).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doc_lens = np.asarray(doc_lens, dtype=np.int64)
    # positions=None -> doconly-style positionless blocks: the data stream
    # is just [gaps, tfs, dls] (decode with want_positions=False only)
    if positions is not None:
        positions = np.asarray(positions, dtype=np.int64)
    m = doc_ids.size
    pos_offsets = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(tfs, out=pos_offsets[1:])
    blocks = []
    for start in range(0, m, block_size):
        end = min(start + block_size, m)
        d = doc_ids[start:end]
        t = tfs[start:end]
        dl = doc_lens[start:end]
        gaps = np.diff(d, prepend=d[0])  # gap[0] = 0
        if positions is not None:
            p = positions[pos_offsets[start] : pos_offsets[end]]
            # per-doc position deltas: pos[0] absolute, then diffs
            pdelta = np.diff(p, prepend=np.int64(0))
            starts_of_docs = pos_offsets[start:end] - pos_offsets[start]
            pdelta[starts_of_docs] = p[starts_of_docs]
            vals = np.concatenate([gaps, t, dl, pdelta])
        else:
            vals = np.concatenate([gaps, t, dl])
        data = vals if _defer_bytes else varbyte_encode(vals)
        blocks.append((int(d[0]), int(d[-1]), int(d.size), data))
    return blocks


class PostingBlocks(NamedTuple):
    """Posting blocks as columns, one entry per block: its ``shard``,
    its [``first``, ``last``] doc_id range and posting count ``n``, and
    its varbyte stream ``buf[start:end]`` — one byte buffer shared by
    every block (zero-copy from an Arrow binary column)."""

    shard: np.ndarray
    first: np.ndarray
    last: np.ndarray
    n: np.ndarray
    start: np.ndarray
    end: np.ndarray
    buf: np.ndarray

    def take(self, idx) -> "PostingBlocks":
        """The blocks at ``idx`` (an index array, mask or slice)."""
        return PostingBlocks(*(a[idx] for a in self[:6]), self.buf)


def posting_blocks(blocks: list[tuple], shard: int = 0) -> PostingBlocks:
    """Columns of one posting list's blocks as encode_posting_blocks
    returns them."""
    lens = np.array([len(b[3]) for b in blocks], dtype=np.int64)
    end = np.cumsum(lens)
    return PostingBlocks(
        np.full(len(blocks), shard, dtype=np.int64),
        *(np.array([b[i] for b in blocks], dtype=np.int64) for i in range(3)),
        end - lens,
        end,
        np.frombuffer(b"".join(b[3] for b in blocks), dtype=np.uint8),
    )


def arrow_posting_blocks(lists, shards: np.ndarray) -> tuple[PostingBlocks, np.ndarray]:
    """Columns of a stored ``blocks`` column (Arrow list<struct<
    first_docid, last_docid, n, data>>, one list per row) with
    ``shards`` giving each row's shard.  Returns the blocks of every row
    and the row offsets: row r's blocks are entries offsets[r] to
    offsets[r+1].  The numeric fields and the data bytes are zero-copy
    views of the Arrow buffers."""
    import pyarrow as pa

    if isinstance(lists, pa.ChunkedArray):
        lists = (
            lists.combine_chunks() if lists.num_chunks else pa.array([], lists.type)
        )
    offsets = lists.offsets.to_numpy().astype(np.int64)
    offsets -= offsets[0]
    flat = lists.flatten()
    fields = dict(zip((f.name for f in flat.type), flat.flatten()))
    data = fields["data"]
    if len(data):
        wide = pa.types.is_large_binary(data.type)
        _, boff, values = data.buffers()
        bounds = np.frombuffer(boff, dtype=np.int64 if wide else np.int32)[
            data.offset : data.offset + len(data) + 1
        ].astype(np.int64)
        buf = np.frombuffer(values, dtype=np.uint8) if values is not None else np.empty(0, np.uint8)
    else:
        bounds, buf = np.zeros(1, dtype=np.int64), np.empty(0, dtype=np.uint8)
    return (
        PostingBlocks(
            np.repeat(np.asarray(shards, dtype=np.int64), np.diff(offsets)),
            *(
                fields[c].to_numpy().astype(np.int64, copy=False)
                for c in ("first_docid", "last_docid", "n")
            ),
            bounds[:-1],
            bounds[1:],
            buf,
        ),
        offsets,
    )


def doc_ordered(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray | None,
    positions: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None, np.ndarray | None]:
    """Postings (doc_ids, tfs, doclens, per-doc position runs) in
    ascending doc_id order: runs whose doc ranges interleave (the kernel
    concatenating blocks of one term decoded at different times,
    topk.shard_topk) are merge-sorted back into one order, positions
    re-gathered run-wise."""
    if doc_ids.size > 1 and np.any(doc_ids[1:] < doc_ids[:-1]):
        order = np.argsort(doc_ids, kind="stable")
        if positions is not None and positions.size:
            offsets = np.zeros(doc_ids.size, dtype=np.int64)
            np.cumsum(tfs[:-1], out=offsets[1:])
            positions = _gather_segments(positions, offsets[order], tfs[order])
        doc_ids = doc_ids[order]
        tfs = tfs[order]
        if doclens is not None:
            doclens = doclens[order]
    return doc_ids, tfs, doclens, positions


def decode_posting_blocks(
    blocks: PostingBlocks,
    want_positions: bool = True,
    want_doclens: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None, np.ndarray | None]:
    """Decode every block of ``blocks`` in ONE vectorized pass to
    (doc_ids, tfs, doclens-or-None, positions-or-None), in block order:
    doc_id-ascending for a posting list's blocks as stored, and for the
    kernel's (shard, doc_id)-keyed blocks in shard order.  The doc_ids
    are each block's ``first`` plus its
    gaps, so a caller that offsets ``first`` (the kernel's (shard,
    doc_id) keys) gets its keys back.  Without ``want_positions`` the
    position bytes are never decoded: only each block's first 3n values
    (gaps, tfs, doc lengths) are."""
    empty = np.empty(0, dtype=np.int64)
    n = blocks.n.astype(np.int64)
    n_post = int(n.sum())
    if n_post == 0:
        return (
            empty, empty, empty if want_doclens else None,
            empty if want_positions else None,
        )
    lens = blocks.end - blocks.start
    raw = _gather_segments(blocks.buf, blocks.start, lens)
    starts, ends = _value_bounds(raw)
    # each block's first value: the first one ending in its bytes
    val_start = np.searchsorted(ends, np.cumsum(lens) - lens)
    if want_positions:
        vals = _decode_values(raw, starts, ends)
        val_count = np.diff(np.append(val_start, ends.size))
    else:
        # only each block's first 3n values (gaps, tfs, doc lengths)
        val_count = 3 * n
        first = np.cumsum(val_count) - val_count
        sel = np.repeat(val_start - first, val_count) + np.arange(3 * n_post)
        vals = _decode_values(raw, starts[sel], ends[sel])
        val_start = first

    post_start = np.zeros(n.size, dtype=np.int64)
    np.cumsum(n[:-1], out=post_start[1:])
    n_rep = np.repeat(n, n)
    at = np.repeat(val_start - post_start, n) + np.arange(n_post, dtype=np.int64)
    gaps = vals[at]
    tfs = vals[at + n_rep]
    # gap[0] of every block is 0: a global cumsum restarted per block
    run = np.cumsum(gaps)
    doc_ids = run - np.repeat(run[post_start] - blocks.first, n)
    doclens = vals[at + 2 * n_rep] if want_doclens else None
    positions = None
    if want_positions:
        pdelta = _gather_segments(vals, val_start + 3 * n, val_count - 3 * n)
        # per doc: pos[0] absolute, then deltas — a cumsum restarted at
        # each doc's first position
        positions = np.cumsum(pdelta)
        starts = np.zeros(n_post, dtype=np.int64)
        np.cumsum(tfs[:-1], out=starts[1:])
        positions = positions - np.repeat(positions[starts] - pdelta[starts], tfs)
    return doc_ids, tfs, doclens, positions
