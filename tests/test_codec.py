"""Posting-block codec round-trip — the BasePostingsFormatTestCase analogue.

The reference round-trips random postings through each codec and verifies
enumeration + stats (src/Lucene.Net.TestFramework/Index/BasePostingsFormatTestCase.cs).
Here: property-based round-trips of the frame codec (encode_frame /
decode_frame), its bytes against a per-block reference packer, and the
block-max metadata invariants.
"""
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucenenet_spark.oracle import norm_cache
from lucenenet_spark.operators.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_frame,
    encode_frame,
    encode_posting_list,
)

ENC_COLS = ["docids_enc", "tfs_enc", "norms_enc", "pos_enc", "off_enc", "pay_enc"]


def _pack(values: np.ndarray) -> bytes:
    """Reference per-block packer (the wire format, one block at a time):
    [width][values as width-bit big-endian fields]; an all-equal or empty
    block is [0][its value as 8 big-endian bytes]."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return bytes([0]) + (0).to_bytes(8, "big")
    mx = int(v.max())
    if int(v.min()) == mx:
        return bytes([0]) + mx.to_bytes(8, "big")
    width = max(1, mx.bit_length())
    # bit matrix (n, width), MSB first, then packbits
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return bytes([width]) + np.packbits(bits.reshape(-1)).tobytes()


def _encode(docids, tfs, norms=None, cache=None, pos=None, off=None):
    """encode_frame over one posting list."""
    docids = np.asarray(docids, dtype=np.int64)
    n = len(docids)
    norms = np.zeros(n, dtype=np.uint8) if norms is None else norms
    cache = np.ones(256, dtype=np.float32) if cache is None else cache

    def ch(a):
        return None if a is None else (np.asarray(a), np.array([0, len(a)]))

    return encode_frame(
        np.array([0, n]), docids, tfs, norms, cache[norms], pos=ch(pos), off=ch(off)
    )


def _frame(cols, docbase=None):
    """Block columns -> decode_frame's input batch."""
    f = {c: list(cols[c]) for c in ["first_docid", "count"] + ENC_COLS}
    if docbase is not None:
        f["docbase"] = docbase
    return f


@given(
    docids=st.lists(st.integers(0, 2**40), min_size=1, max_size=300, unique=True),
    tf_seed=st.integers(0, 2**31),
)
@settings(max_examples=60, deadline=None)
def test_block_roundtrip(docids, tf_seed):
    docids = np.array(sorted(docids), dtype=np.int64)
    rng = np.random.default_rng(tf_seed)
    tfs = rng.integers(1, 1000, size=len(docids)).astype(np.int64)
    f = decode_frame(_frame(_encode(docids, tfs)))
    np.testing.assert_array_equal(f.docids, docids)
    np.testing.assert_array_equal(f.tfs, tfs)


def test_all_equal_block_is_tiny():
    # Lucene's all-equal optimization (Lucene41PostingsFormat.cs:38-40):
    # constant deltas/tfs must collapse to the 9-byte width-0 payload
    docids = np.arange(0, 128 * 7, 7, dtype=np.int64)
    tfs = np.full(128, 3, dtype=np.int64)
    cols = _encode(docids, tfs)
    assert len(cols["docids_enc"][0]) == 9 and len(cols["tfs_enc"][0]) == 9
    f = decode_frame(_frame(cols))
    np.testing.assert_array_equal(f.docids, docids)
    np.testing.assert_array_equal(f.tfs, tfs)


def test_singleton_block():
    cols = _encode([42], np.array([5]))
    f = decode_frame(_frame(cols))
    assert f.docids.tolist() == [42] and f.tfs.tolist() == [5]
    # the kept one-block wrappers read and write the same bytes
    assert decode_block(cols["docids_enc"][0], cols["tfs_enc"][0], 42, 1)[0].tolist() == [42]
    row = encode_posting_list(np.array([42]), np.array([5]), np.array([0], np.uint8),
                              np.ones(256, np.float32))[0]
    assert all(row[c] == cols[c][0] for c in ["docids_enc", "tfs_enc", "norms_enc"])


def test_encode_posting_list_blocks_and_bounds():
    n = 300
    rng = np.random.default_rng(7)
    docids = np.cumsum(rng.integers(1, 50, size=n)).astype(np.int64)
    tfs = rng.integers(1, 20, size=n).astype(np.int64)
    nbytes = rng.integers(100, 130, size=n).astype(np.uint8)
    cache = norm_cache(1.2, 0.75, np.float32(25.0))
    cols = _encode(docids, tfs, nbytes, cache)
    assert cols["block_no"].tolist() == [0, 1, 2]
    assert cols["count"].tolist() == [128, 128, 44]
    # block chain strictly monotone (CheckIndex invariant)
    assert cols["last_docid"][0] < cols["first_docid"][1]
    f = decode_frame(_frame(cols))
    np.testing.assert_array_equal(f.docids, docids)
    np.testing.assert_array_equal(f.tfs, tfs)
    np.testing.assert_array_equal(f.norms, nbytes)
    for i in range(3):
        # block-max bound really is the max of the per-doc score kernel
        t = f.tfs[f.at[i] : f.at[i + 1]].astype(np.float32)
        kern = t / (t + cache[f.norms[f.at[i] : f.at[i + 1]]])
        assert cols["max_score_bound"][i] == float(np.max(kern))
        assert cols["sum_tf"][i] == int(t.sum())
    # the one-list wrapper writes the same block rows
    for i, r in enumerate(encode_posting_list(docids, tfs, nbytes, cache)):
        assert all(r[c] == cols[c][i] for c in ["docids_enc", "tfs_enc", "norms_enc"])
        assert r["max_score_bound"] == cols["max_score_bound"][i]


def test_block_max_bound_dominates_scores():
    # bound * weight >= every true score in the block, for any weight >= 0
    rng = np.random.default_rng(11)
    tfs = rng.integers(1, 100, size=128).astype(np.int64)
    nb = rng.integers(1, 256, size=128).astype(np.uint8)
    cache = norm_cache(1.2, 0.75, np.float32(10.0))
    bound = _encode(np.arange(128), tfs, nb, cache)["max_score_bound"][0]
    w = np.float32(3.7)
    scores = (w * tfs.astype(np.float32)) / (tfs.astype(np.float32) + cache[nb])
    assert (scores <= np.float32(bound) * w + 1e-6).all()


@given(
    st.lists(
        st.tuples(st.integers(1, 5), st.integers(0, 10000)), min_size=1, max_size=300
    ),
    st.integers(0, 2**40),
)
@settings(max_examples=40, deadline=None)
def test_positions_roundtrip(tf_posbase, base):
    """encode_frame(pos=...) + decode_frame round-trips the flat
    per-occurrence positions, split per posting by occ_at."""
    docids = np.cumsum([1 + (p % 3) for _tf, p in tf_posbase]) + base
    tfs = np.array([tf for tf, _p in tf_posbase], dtype=np.int64)
    rng = np.random.RandomState(7)
    positions = np.concatenate(
        [np.sort(rng.choice(pb + 500, size=tf, replace=False)) for tf, pb in tf_posbase]
    ).astype(np.int64)
    norms = rng.randint(100, 200, size=len(docids)).astype(np.uint8)
    cache = norm_cache(1.2, 0.75, np.float32(20.0))
    f = decode_frame(_frame(_encode(docids, tfs, norms, cache, pos=positions)))
    assert f.has_pos.all()
    assert np.array_equal(f.pos, positions)
    assert np.array_equal(f.occ_at, np.concatenate([[0], np.cumsum(tfs)]))


def test_offsets_round_trip():
    """DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS payload: interleaved
    [start, len] pairs per occurrence round-trip."""
    rng = np.random.default_rng(7)
    n = 300
    docids = np.sort(rng.choice(100000, size=n, replace=False))
    tfs = rng.integers(1, 5, size=n).astype(np.int64)
    total = int(tfs.sum())
    positions = rng.integers(0, 500, size=total).astype(np.int64)
    starts = rng.integers(0, 4000, size=total).astype(np.int64)
    lens = rng.integers(1, 30, size=total).astype(np.int64)
    offs = np.empty(2 * total, dtype=np.int64)
    offs[0::2] = starts
    offs[1::2] = lens
    cols = _encode(docids, tfs, pos=positions, off=offs)
    assert len(cols["off_enc"]) == 3
    f = decode_frame(_frame(cols))
    assert (f.pos == positions).all()
    assert (f.off_start == starts).all()
    assert (f.off_end == starts + lens).all()


def _random_list(rng, width, n, ch_width):
    """One posting list of n postings: docid deltas of bit width `width`
    (at most 54, so the docids fit int64), positions and offsets of width
    ch_width, random payloads."""
    def of_width(w, size, lo=0):
        if w == 0:
            return np.full(size, lo, dtype=np.int64)
        v = rng.integers(0, 2 ** (w - 1), size=size, dtype=np.uint64) + np.uint64(2 ** (w - 1))
        v[rng.random(size) < 0.5] = np.uint64(lo)
        return v.astype(np.int64)

    deltas = np.maximum(of_width(min(width, 54), n), 1)  # docids < 2^62
    docids = np.cumsum(deltas) - deltas[0]
    tfs = np.maximum(of_width(min(width, 3), n), 1)
    occ = int(tfs.sum())
    pos = of_width(ch_width, occ)
    off = of_width(ch_width, 2 * occ)
    lens = rng.integers(0, 6, size=occ)
    lens[rng.random(occ) < 0.3] = 0
    return docids, tfs, pos, off, lens, rng.bytes(int(lens.sum()))


@pytest.mark.parametrize("width", range(64))
def test_frame_bytes_match_reference(width):
    """encode_frame writes, for blocks of every bit width 0-63 (counts 1,
    2 and full blocks, all-equal blocks included), exactly the bytes the
    per-block reference packer writes, across several groups at once and
    with positions, offsets and payloads; decode_frame inverts it."""
    rng = np.random.default_rng(width)
    lists = [
        _random_list(rng, width, n, (width + k) % 64)
        for k, n in enumerate([1, 2, 130, 128, 5])
    ]
    lists.append(_random_list(rng, 0, 40, 0))  # all-equal everything
    at = np.cumsum([0] + [len(x[0]) for x in lists])
    cat = [np.concatenate([x[i] for x in lists]) for i in range(5)]
    offsets = [np.cumsum([0] + [len(x[i]) for x in lists]) for i in range(6)]
    pay = np.frombuffer(b"".join(x[5] for x in lists), dtype=np.uint8)
    norms = rng.integers(0, 256, size=len(cat[0])).astype(np.uint8)
    cache = norm_cache(1.2, 0.75, np.float32(20.0))
    cols = encode_frame(
        at, cat[0], cat[1], norms, cache[norms], BLOCK_SIZE,
        pos=(cat[2], offsets[2]), off=(cat[3], offsets[3]),
        pay=(cat[4], offsets[4], pay, offsets[5]),
    )
    i = 0
    for g, (docids, tfs, pos, off, lens, buf) in enumerate(lists):
        occ = np.concatenate([[0], np.cumsum(tfs)])
        y = np.concatenate([[0], np.cumsum(lens)])
        for b0 in range(0, len(docids), BLOCK_SIZE):
            b1 = min(b0 + BLOCK_SIZE, len(docids))
            o0, o1 = occ[b0], occ[b1]
            assert cols["group"][i] == g and cols["count"][i] == b1 - b0
            assert cols["docids_enc"][i] == _pack(np.diff(docids[b0:b1]))
            assert cols["tfs_enc"][i] == _pack(tfs[b0:b1])
            assert cols["pos_enc"][i] == _pack(pos[o0:o1])
            assert cols["off_enc"][i] == _pack(off[2 * o0 : 2 * o1])
            assert cols["pay_enc"][i] == _pack(lens[o0:o1]) + buf[y[o0] : y[o1]]
            i += 1
    assert i == len(cols["group"])
    f = decode_frame(_frame(cols, docbase=[7] * i))
    np.testing.assert_array_equal(f.docids, cat[0] + 7)
    np.testing.assert_array_equal(f.tfs, cat[1])
    np.testing.assert_array_equal(f.norms, norms)
    np.testing.assert_array_equal(f.pos, cat[2])
    np.testing.assert_array_equal(f.off_start, cat[3][0::2])
    np.testing.assert_array_equal(f.off_end, cat[3][0::2] + cat[3][1::2])
    np.testing.assert_array_equal(f.pay_len, cat[4])
    assert f.pay_buf.tobytes() == pay.tobytes()


def test_incomplete_channel_is_left_out():
    """A group whose positions (or offsets, payloads) do not cover every
    occurrence carries empty buffers for that channel, and a decoded frame
    marks those blocks absent with zeros in their place."""
    docids = np.array([1, 5, 9, 2, 3], dtype=np.int64)
    tfs = np.array([2, 1, 1, 1, 2])
    pos = np.array([0, 4, 2, 7, 0, 1, 5])  # group 0 complete, group 1 not
    cols = encode_frame(
        np.array([0, 3, 5]), docids, tfs, np.zeros(5, np.uint8), np.ones(5, np.float32),
        pos=(pos, np.array([0, 4, 6])),
    )
    assert cols["pos_enc"][0] and cols["pos_enc"][1] == b""
    f = decode_frame(_frame(cols))
    assert f.has_pos.tolist() == [True, False]
    assert f.pos.tolist() == [0, 4, 2, 7, 0, 0, 0]
    assert f.has_off.tolist() == [False, False] and not f.off_end.any()
