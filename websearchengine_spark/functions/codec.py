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
      struct<first_docid, last_docid, n, max_tf, data:binary>
  where ``data`` is ONE varbyte stream holding, in order:
      n doc-gaps   (gap[0] = docid[0] - first_docid == 0, then deltas)
      n tfs
      n doc-lengths (rides the block so BM25 needs no doc-table join)
      sum(tf) position-deltas (per doc: pos[0], then deltas)

Blocks carry ``last_docid`` (skip pointer) and ``max_tf`` (score upper
bound input) for block-max WAND.

All encode/decode paths are numpy array ops — no per-value Python in
the hot loop beyond the final ``bytes()`` copy.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_MASK7 = 0x7F
_TERM = 0x80  # set on the LAST byte of each value (reference convention)


_MAX_GROUPS = 9  # 63 bits — covers any non-negative int64 (10^12-doc docids)


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a 1-D array of non-negative int64s to varbyte bytes.

    Big-endian 7-bit groups, 0x80 flag on the final byte of each value.
    Vectorized: builds a (len, 9) byte matrix and compacts it with a mask.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
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
    out = groups[keep]
    return out.tobytes()


def varbyte_encode_many(chunks: list[np.ndarray]) -> list[bytes]:
    """Encode MANY value arrays in one vectorized pass.

    Byte-identical per chunk to ``varbyte_encode(chunk)`` (varbyte is
    per-value independent, so concatenating inputs and splitting the
    output at value boundaries is exact).  Exists because the encoder's
    per-call numpy overhead (~60 us on the block-sized arrays the index
    build emits) dominates the build's encode stage when called once per
    block; one call per Arrow batch amortizes it (guide §4.2).
    """
    if not chunks:
        return []
    lens = np.array([np.asarray(c).size for c in chunks], dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return [b""] * len(chunks)
    v = np.concatenate([np.asarray(c, dtype=np.uint64) for c in chunks if len(c)])
    nb = np.ones(v.shape, dtype=np.int8)
    for width in range(2, _MAX_GROUPS + 1):
        nb = np.where(v >= (1 << (7 * (width - 1))), width, nb)
    shifts = np.arange(_MAX_GROUPS - 1, -1, -1, dtype=np.uint64) * np.uint64(7)
    groups = (v[:, None] >> shifts[None, :]).astype(np.uint8) & _MASK7
    keep = np.arange(_MAX_GROUPS)[None, :] >= (_MAX_GROUPS - nb[:, None])
    groups[:, _MAX_GROUPS - 1] |= _TERM
    buf = groups[keep].tobytes()
    # byte offset of each chunk = cumulative bytes of the values before it
    byte_cum = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(nb, out=byte_cum[1:])
    val_bounds = np.zeros(len(chunks) + 1, dtype=np.int64)
    np.cumsum(lens, out=val_bounds[1:])
    offs = byte_cum[val_bounds]
    mv = memoryview(buf)
    return [bytes(mv[offs[i] : offs[i + 1]]) for i in range(len(chunks))]


def varbyte_decode(data: bytes | np.ndarray) -> np.ndarray:
    """Decode a full varbyte stream back into an int64 array. Vectorized."""
    raw = np.frombuffer(data, dtype=np.uint8) if not isinstance(data, np.ndarray) else data
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (raw & _TERM) != 0
    # value id for each byte = number of terminators strictly before it
    vid = np.zeros(raw.size, dtype=np.int64)
    np.cumsum(is_last[:-1], out=vid[1:])
    n_values = int(is_last.sum())
    # position of each byte within its value, from the END (0 = last byte)
    ends = np.flatnonzero(is_last)
    pos_from_end = ends[vid] - np.arange(raw.size)
    contrib = (raw & _MASK7).astype(np.int64) << (7 * pos_from_end)
    out = np.zeros(n_values, dtype=np.int64)
    np.add.at(out, vid, contrib)
    return out


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_impact(tfs: np.ndarray, dls: np.ndarray, avg_dl: float) -> np.ndarray:
    """Per-posting BM25 term impact (idf excluded): the tf-saturation part
    (k1+1)*tf / (tf + k1*(1 - b + b*dl/avgdl)).  Monotone in tf, anti-
    monotone in dl -> its block max is a valid score upper bound once
    multiplied by the (query-time, global-df) idf."""
    return ((BM25_K1 + 1.0) * tfs) / (
        tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * dls / avg_dl)
    )


def _gather_segments(
    values: np.ndarray, offsets: np.ndarray, lens: np.ndarray, sel: np.ndarray
) -> np.ndarray:
    """values[offsets[i] : offsets[i]+lens[i]] for i in sel, concatenated.
    Fully vectorized (np.repeat index arithmetic, no per-segment loop)."""
    l_sel = lens[sel]
    total = int(l_sel.sum())
    if total == 0:
        return np.empty(0, dtype=values.dtype)
    out_starts = np.zeros(l_sel.size, dtype=np.int64)
    np.cumsum(l_sel[:-1], out=out_starts[1:])
    idx = (
        np.repeat(offsets[sel], l_sel)
        + np.arange(total, dtype=np.int64)
        - np.repeat(out_starts, l_sel)
    )
    return values[idx]


def encode_posting_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    positions: np.ndarray | None,
    avg_dl: float,
    block_size: int = BLOCK_SIZE,
    _defer_bytes: bool = False,
) -> list[tuple[int, int, int, int, float, bytes, bool]]:
    """Encode one term's posting list into block-max blocks.

    ``doc_ids`` strictly ascending int64 (len m); ``tfs``/``doc_lens``
    int64 (len m); ``positions`` int64 concatenation of each doc's
    ascending position list (len sum(tfs)).  ``avg_dl`` is the corpus
    average doc length (stats.total_tf / stats.num_docs), baked into the
    per-block ``max_impact`` BM25 upper bound (k1=1.2, b=0.75).

    Returns (first_docid, last_docid, n, max_tf, max_impact, data, head)
    tuples; ``data`` is one varbyte stream of [gaps, tfs, dls, posdeltas].
    ``head`` is always False: the stored struct keeps the field so that
    indexes written with the retired champion-head layout (head blocks
    whose doc ranges overlap the tail's) still decode and merge.

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
    impacts = bm25_impact(tfs.astype(np.float64), doc_lens.astype(np.float64), avg_dl)
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
        blocks.append(
            (
                int(d[0]),
                int(d[-1]),
                int(d.size),
                int(t.max()),
                float(impacts[start:end].max()),
                data,
                False,
            )
        )
    return blocks


def decode_block(
    blk: tuple, want_positions: bool = True, want_doclens: bool = False
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None, np.ndarray | None]:
    """Decode ONE block to (doc_ids, tfs, doclens-or-None,
    positions-or-None); doc_ids ascending within the block."""
    first_docid, _last, n, _max_tf, _max_imp, data = blk[:6]
    vals = varbyte_decode(np.frombuffer(data, dtype=np.uint8))
    tfs = vals[n : 2 * n]
    docs = np.cumsum(vals[:n]) + first_docid
    dls = vals[2 * n : 3 * n] if want_doclens else None
    pos = None
    if want_positions:
        pdelta = vals[3 * n :]
        pos = np.cumsum(pdelta)
        # reset the running sum at each doc boundary: pdelta stores
        # pos[0] absolute per doc, so recompute with segmented cumsum
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(tfs[:-1], out=starts[1:])
        pos = pos - np.repeat(pos[starts] - pdelta[starts], tfs)
    return docs, tfs, dls, pos


def concat_decoded(
    parts: list, want_positions: bool = True, want_doclens: bool = False
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None, np.ndarray | None]:
    """Join decode_block outputs into one posting list, ALWAYS doc_id-
    ascending: block runs whose doc ranges interleave (the retired
    champion-head layout, or any block subset) are merge-sorted back
    into one global doc order, positions re-gathered segment-wise."""
    empty = np.empty(0, dtype=np.int64)

    def cat(i):
        return np.concatenate([p[i] for p in parts]) if parts else empty

    doc_ids, tfs = cat(0), cat(1)
    doclens = cat(2) if want_doclens else None
    positions = cat(3) if want_positions else None
    if doc_ids.size > 1 and np.any(doc_ids[1:] < doc_ids[:-1]):
        order = np.argsort(doc_ids, kind="stable")
        if positions is not None and positions.size:
            offsets = np.zeros(doc_ids.size, dtype=np.int64)
            np.cumsum(tfs[:-1], out=offsets[1:])
            positions = _gather_segments(positions, offsets, tfs, order)
        doc_ids = doc_ids[order]
        tfs = tfs[order]
        if doclens is not None and doclens.size:
            doclens = doclens[order]
    return doc_ids, tfs, doclens, positions


def decode_posting_blocks(
    blocks: list[tuple] | list,
    want_positions: bool = True,
    want_doclens: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None, np.ndarray | None]:
    """Decode blocks back to (doc_ids, tfs, doclens-or-None, positions-
    or-None), doc_id-ascending (see concat_decoded)."""
    return concat_decoded(
        [decode_block(b, want_positions, want_doclens) for b in blocks],
        want_positions, want_doclens,
    )
