"""Posting-block codec: delta + fixed-width bit-packed (FOR) blocks, numpy.

Re-derivation of the *capability* of Lucene41's postings format
(src/Lucene.Net/Codecs/Lucene41/Lucene41PostingsWriter.cs:283-354 — 128-int
FOR-packed blocks of docID deltas and term frequencies; ForUtil.cs:33-124 —
per-block bit width) re-designed for columnar storage: each 128-posting block
is one parquet row carrying binary payloads plus skip/block-max metadata
columns. The multi-level skip list (Lucene41SkipWriter.cs:28-75) collapses to
the flat metadata columns (first_docid/last_docid/max_score_bound) which a
columnar scan prunes directly — Spark's analogue of Advance().

Wire format per payload:  [width:1 byte][bit-packed big-endian values]
  width == 0 encodes an all-equal block: the single value follows as 8-byte
  big-endian (Lucene's all-equal optimization, Lucene41PostingsFormat.cs:38-40).
docids_enc packs the n-1 deltas docid[i] - docid[i-1], tfs_enc the n tfs,
pos_enc a position per occurrence, off_enc [start, end-start] per occurrence,
pay_enc the payload lengths followed by the payload bytes; norm bytes ride
along raw (1 byte/posting). An empty buffer: the block lacks that channel.

Both directions work on a whole batch of blocks, one np.unpackbits /
np.packbits per bit width ("Columnar Formatted Inverted Index for
Highly-Paralleled, Vectorized Query Processing", ICDE 2025): most blocks hold
a handful of postings, so per-call overhead is what a batch saves.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128  # Lucene41PostingsFormat.cs:375


def _offsets(counts) -> np.ndarray:
    """[0, c0, c0+c1, …]: where each run of `counts` starts, plus the end."""
    out = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=out[1:])
    return out


def _ranges(starts, lens) -> np.ndarray:
    """Flat indices of the runs [starts[i], starts[i] + lens[i])."""
    lens = np.asarray(lens, dtype=np.int64)
    ends = np.cumsum(lens)
    return np.arange(int(ends[-1]) if len(ends) else 0, dtype=np.int64) + np.repeat(
        np.asarray(starts, dtype=np.int64) - (ends - lens), lens
    )


def runs(*keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the runs of equal consecutive rows of `keys`."""
    n = len(keys[0])
    cut = np.zeros(max(n - 1, 0), dtype=bool)
    for k in keys:
        cut |= k[1:] != k[:-1]
    starts = np.flatnonzero(np.r_[n > 0, cut])
    return starts, np.r_[starts[1:], n][: len(starts)]


def join_bytes(col) -> tuple[np.ndarray, np.ndarray]:
    """A binary column as (its values' bytes concatenated, _offsets of
    their lengths)."""
    vals = list(col)
    lens = np.fromiter(map(len, vals), dtype=np.int64, count=len(vals))
    return np.frombuffer(b"".join(vals), dtype=np.uint8), _offsets(lens)


def cut_bytes(a: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """A binary column: the bytes of a[s:e] for each run (s, e)."""
    buf, n = a.tobytes(), a.itemsize
    out = [buf[s * n : e * n] for s, e in zip(starts.tolist(), ends.tolist())]
    return np.fromiter(out, dtype=object, count=len(out))


def _pad_mask(n_bits: np.ndarray, n_bytes: np.ndarray) -> np.ndarray:
    """Over the bits of buffers of n_bytes bytes laid end to end, True on
    each buffer's first n_bits (its values) and False on its tail padding."""
    keep = np.ones(8 * int(n_bytes.sum()), dtype=bool)
    pad = 8 * n_bytes - n_bits
    keep[_ranges(8 * np.cumsum(n_bytes) - pad, pad)] = False
    return keep


def _pack(values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Fixed-width bit-pack runs of non-negative ints: run i (the next
    counts[i] values) becomes one buffer, [width][values as width-bit
    big-endian fields, zero-padded to a byte]; an all-equal or empty run is
    [0][its value as 8 big-endian bytes]. Returns an object array of bytes."""
    v = np.asarray(values).astype(np.uint64)
    counts = np.asarray(counts, dtype=np.int64)
    begin = np.cumsum(counts) - counts
    live = np.nonzero(counts)[0]
    mx = np.zeros(len(counts), dtype=np.uint64)
    width = np.zeros(len(counts), dtype=np.int64)
    if len(live):
        mx[live] = np.maximum.reduceat(v, begin[live])
        mn = np.minimum.reduceat(v, begin[live])
        bit_len = np.searchsorted(
            np.uint64(1) << np.arange(64, dtype=np.uint64), mx[live], side="right"
        )
        width[live] = np.where(mn == mx[live], 0, bit_len)
    n_bytes = np.where(width == 0, 8, (counts * width + 7) // 8)
    at = _offsets(1 + n_bytes)
    out = np.zeros(int(at[-1]), dtype=np.uint8)
    out[at[:-1]] = width
    for w in np.unique(width):
        blk = np.flatnonzero(width == w)
        if w == 0:  # an all-equal run stores its value once, in 64 bits
            vals, n, w = mx[blk], np.ones(len(blk), dtype=np.int64), 64
        else:
            vals, n = v[_ranges(begin[blk], counts[blk])], counts[blk]
        nb = (int(w) + 7) // 8
        bits = np.unpackbits(vals.astype(">u8").view(np.uint8).reshape(-1, 8)[:, 8 - nb :], axis=1)
        keep = _pad_mask(n * w, n_bytes[blk])
        stream = np.zeros(len(keep), dtype=np.uint8)
        stream[keep] = bits[:, 8 * nb - w :].reshape(-1)
        out[_ranges(at[blk] + 1, n_bytes[blk])] = np.packbits(stream)
    return cut_bytes(out, at[:-1], at[1:])


def _unpack(data: np.ndarray, at: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Inverse of _pack: buffer i, data[at[i]:at[i+1]], holds counts[i]
    values (a count of 0 reads nothing). Returns them flat, int64."""
    counts = np.asarray(counts, dtype=np.int64)
    out = np.empty(int(counts.sum()), dtype=np.int64)
    live = np.nonzero(counts)[0]
    begin = np.cumsum(counts) - counts
    width = data[at[live]].astype(np.int64)
    for w in np.unique(width):
        blk = live[width == w]
        n = counts[blk]
        eq = w == 0  # an all-equal run stores its value once, in 64 bits
        stored, w = (np.ones(len(blk), dtype=np.int64), 64) if eq else (n, int(w))
        n_bytes = (stored * w + 7) // 8
        bits = np.unpackbits(data[_ranges(at[blk] + 1, n_bytes)])
        bits = bits[_pad_mask(stored * w, n_bytes)].reshape(-1, w)
        nb = (w + 7) // 8  # each value: w bits -> nb bytes -> 8 big-endian bytes
        field = np.zeros((len(bits), 8 * nb), dtype=np.uint8)
        field[:, 8 * nb - w :] = bits
        by = np.zeros((len(bits), 8), dtype=np.uint8)
        by[:, 8 - nb :] = np.packbits(field, axis=1)
        vals = by.view(">u8").reshape(-1).astype(np.int64)
        out[_ranges(begin[blk], n)] = np.repeat(vals, n if eq else 1)
    return out


@dataclass
class Frame:
    """A batch of block rows, decoded flat. Block i holds postings
    at[i]:at[i+1]; posting j holds occurrences occ_at[j]:occ_at[j+1] of the
    per-occurrence arrays (positions, offsets, payload lengths). A channel
    is None when the batch has no column for it; has_* marks the blocks
    whose buffer carries it (the others read as zeros)."""

    at: np.ndarray
    docids: np.ndarray  # int64, plus the batch's docbase column if any
    tfs: np.ndarray  # int64
    occ_at: np.ndarray
    norms: np.ndarray | None = None  # uint8
    pos: np.ndarray | None = None  # int64
    has_pos: np.ndarray | None = None
    off_start: np.ndarray | None = None  # int64
    off_end: np.ndarray | None = None
    has_off: np.ndarray | None = None
    pay_len: np.ndarray | None = None  # int64, 0 = no payload
    pay_buf: np.ndarray | None = None  # uint8, every payload's bytes in order
    pay_at: np.ndarray | None = None  # block i's bytes: pay_buf[pay_at[i]:pay_at[i+1]]
    has_pay: np.ndarray | None = None

    def block_of(self) -> np.ndarray:
        """Each posting's block index."""
        return np.repeat(np.arange(len(self.at) - 1), np.diff(self.at))

    def float_payloads(self) -> np.ndarray:
        """The payloads read as 4-byte big-endian float32
        (PayloadHelper.EncodeSingle — Analysis.Common/Analysis/Payloads/
        PayloadHelper.cs); an occurrence without one is NaN."""
        out = np.full(len(self.pay_len), np.nan, dtype=np.float32)
        has = self.pay_len == 4
        start = np.cumsum(self.pay_len) - self.pay_len
        out[has] = self.pay_buf[_ranges(start[has], np.full(int(has.sum()), 4))].view(">f4")
        return out


def _channel(col, n_occ: np.ndarray, per: int = 1):
    """A per-occurrence channel (`per` values an occurrence) of a batch:
    (values in occurrence order, zero where a block has none; blocks that
    have it; the raw bytes and their _offsets)."""
    data, at = join_bytes(col)
    has = at[1:] > at[:-1]
    counts = per * n_occ * has
    vals = _unpack(data, at, counts)
    if not has.all():
        full = np.zeros(per * int(n_occ.sum()), dtype=np.int64)
        full[_ranges(per * (np.cumsum(n_occ) - n_occ)[has], counts[has])] = vals
        vals = full
    return vals, has, data, at


def decode_frame(frame) -> Frame:
    """Decode a batch of block rows (a pandas frame or a dict of columns:
    first_docid, count, docids_enc, tfs_enc, and optionally docbase,
    norms_enc, pos_enc, off_enc, pay_enc). Each optional channel decodes
    when the batch has its column; docbase shifts the docids."""
    count = np.asarray(frame["count"], dtype=np.int64)
    at = _offsets(count)
    head = at[:-1]
    inc = np.zeros(int(at[-1]), dtype=np.int64)
    body = np.ones(len(inc), dtype=bool)
    body[head] = False
    inc[body] = _unpack(*join_bytes(frame["docids_enc"]), count - 1)
    run = np.cumsum(inc)  # a block's deltas summed from its head on
    first = np.asarray(frame["first_docid"], dtype=np.int64)
    if "docbase" in frame:
        first = first + np.asarray(frame["docbase"], dtype=np.int64)
    docids = run + np.repeat(first - run[head], count)
    tfs = _unpack(*join_bytes(frame["tfs_enc"]), count)
    occ_at = _offsets(tfs)
    out = Frame(at=at, docids=docids, tfs=tfs, occ_at=occ_at)
    if "norms_enc" in frame:
        out.norms = np.frombuffer(b"".join(frame["norms_enc"]), dtype=np.uint8)
        if len(out.norms) != len(docids):
            raise ValueError("norms_enc lengths do not match the block counts")
    n_occ = np.diff(occ_at[at])
    if "pos_enc" in frame:
        out.pos, out.has_pos, _, _ = _channel(frame["pos_enc"], n_occ)
    if "off_enc" in frame:
        flat, out.has_off, _, _ = _channel(frame["off_enc"], n_occ, per=2)
        out.off_start = flat[0::2]
        out.off_end = out.off_start + flat[1::2]
    if "pay_enc" in frame:
        out.pay_len, has, data, b_at = _channel(frame["pay_enc"], n_occ)
        # the payload bytes follow the packed lengths
        n, w = n_occ[has], data[b_at[:-1][has]].astype(np.int64)
        start = b_at[:-1][has] + 1 + np.where(w == 0, 8, (n * w + 7) // 8)
        n_bytes = np.zeros(len(count), dtype=np.int64)
        n_bytes[has] = b_at[1:][has] - start
        out.pay_buf = data[_ranges(start, n_bytes[has])]
        out.pay_at, out.has_pay = _offsets(n_bytes), has
    return out


def encode_frame(
    at: np.ndarray,
    docids: np.ndarray,
    tfs: np.ndarray,
    norms: np.ndarray,
    denoms: np.ndarray,
    block_size: int = BLOCK_SIZE,
    pos: tuple | None = None,
    off: tuple | None = None,
    pay: tuple | None = None,
) -> dict[str, np.ndarray]:
    """Encode many posting lists into block rows at once.

    Group g, postings at[g]:at[g+1] (docids strictly ascending), is one
    (field, term, salt) list, cut into blocks of block_size. denoms[i] is
    posting i's norm cache entry: a block's max_score_bound is
    max(tf / (tf + denom)), the term-independent part of the BM25 upper
    bound — block-max metadata absent from Lucene 4.8's skip entries
    (SURVEY.md §4.1); pruning with it is rank-safe.

    Per-occurrence channels (Lucene41PostingsWriter.cs:283-354 writes pos
    blocks beside doc blocks), each with per-group _offsets: pos =
    (positions, at); off = (flat [start, end-start] pairs, at); pay =
    (lengths, at, bytes as uint8, bytes_at), a length of 0 = no payload.
    A group keeps a channel only when it covers every occurrence (offsets
    and payloads also need positions); otherwise its blocks carry an empty
    buffer, so a merge of segments at mixed index levels keeps the lowest.

    Returns the postings table's block columns (bar field, term, salt and
    bucket) plus `group`, each block's group index."""
    at = np.asarray(at, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    n_blocks = -(-np.diff(at) // block_size)
    group = np.repeat(np.arange(len(n_blocks)), n_blocks)
    block_no = np.arange(len(group)) - np.repeat(np.cumsum(n_blocks) - n_blocks, n_blocks)
    b0 = at[group] + block_no * block_size
    b1 = np.minimum(b0 + block_size, at[group + 1])
    count = b1 - b0
    tf32 = tfs.astype(np.float32)
    kern = tf32 / (tf32 + np.asarray(denoms, dtype=np.float32))
    out = {
        "group": group,
        "block_no": block_no,
        "first_docid": docids[b0],
        "last_docid": docids[b1 - 1],
        "count": count,
        "sum_tf": np.add.reduceat(tfs, b0),
        "max_score_bound": np.maximum.reduceat(kern, b0).astype(np.float64),
        "docids_enc": _pack(np.diff(docids)[_ranges(b0, count - 1)], count - 1),
        "tfs_enc": _pack(tfs, count),
        "norms_enc": cut_bytes(np.asarray(norms, dtype=np.uint8), b0, b1),
    }
    empty = np.full(len(group), b"", dtype=object)
    occ_at = _offsets(tfs)
    g_occ = np.diff(occ_at[at])
    rel = occ_at[b0] - occ_at[at[group]]  # a block's first occurrence in its group
    n_occ = occ_at[b1] - occ_at[b0]

    def complete(ch, per=1):
        """Groups whose channel holds `per` values for every occurrence."""
        return np.diff(ch[1]) == per * g_occ if ch is not None else g_occ < 0

    def packed(ok, values, v_at, per=1):
        blk = np.nonzero(ok[group])[0]
        n = per * n_occ[blk]
        enc = empty.copy()
        enc[blk] = _pack(values[_ranges(v_at[group[blk]] + per * rel[blk], n)], n)
        return enc, blk

    has = complete(pos)
    out["pos_enc"] = packed(has, *pos)[0] if has.any() else empty
    ok = has & complete(off, 2)
    out["off_enc"] = packed(ok, *off, per=2)[0] if ok.any() else empty
    out["pay_enc"] = empty
    if (ok := has & complete(pay)).any():
        lens, l_at, buf, b_at = pay
        out["pay_enc"], blk = packed(ok, lens, l_at)
        # the payload bytes follow their packed lengths
        g, l0 = group[blk], l_at[group[blk]] + rel[blk]
        cum = _offsets(lens)
        y0 = b_at[g] + cum[l0] - cum[l_at[g]]
        y1 = y0 + cum[l0 + n_occ[blk]] - cum[l0]
        out["pay_enc"][blk] += cut_bytes(np.asarray(buf, dtype=np.uint8), y0, y1)
    return out


def decode_block(
    docids_enc: bytes, tfs_enc: bytes, first_docid: int, count: int
) -> tuple[np.ndarray, np.ndarray]:
    """Decode one block -> (docids ascending int64, tfs int64): a frame of
    one row."""
    f = decode_frame({
        "first_docid": [first_docid], "count": [count],
        "docids_enc": [docids_enc], "tfs_enc": [tfs_enc],
    })
    return f.docids, f.tfs


def encode_posting_list(
    docids: np.ndarray,
    tfs: np.ndarray,
    norm_bytes: np.ndarray,
    cache: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """Split one term's sorted postings into encoded block rows (dicts of
    the postings table's block columns): a frame of one group."""
    nb = np.asarray(norm_bytes, dtype=np.uint8)
    cols = encode_frame(
        np.array([0, len(docids)]), np.asarray(docids, dtype=np.int64), tfs, nb,
        cache[nb], block_size,
    )
    del cols["group"], cols["sum_tf"]
    return [dict(zip(cols, row)) for row in zip(*cols.values())]
