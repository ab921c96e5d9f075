"""Property tests for the posting codecs (no Spark needed)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from alix_spark.index import codec


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    buf, offsets = codec.varbyte_encode(arr)
    assert np.array_equal(codec.varbyte_decode(buf), arr) or (arr.size == 0)
    # every value's bytes are the slice at its offsets
    assert offsets[0] == 0 and offsets[-1] == len(buf)
    for i, v in enumerate(arr[:20]):
        assert codec.varbyte_decode(buf[offsets[i] : offsets[i + 1]]).tolist() == [v]


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40),
        max_size=300,
        unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.sort(np.array(ids, dtype=np.uint64))
    gaps = codec.delta_encode(arr)
    assert np.array_equal(codec.delta_decode(gaps), arr)


@given(st.lists(st.integers(min_value=0, max_value=2**40), unique=True, max_size=200))
@settings(max_examples=100, deadline=None)
def test_delta_varbyte_composed(ids):
    arr = np.sort(np.array(ids, dtype=np.uint64))
    buf, _ = codec.varbyte_encode(codec.delta_encode(arr))
    assert np.array_equal(codec.delta_decode(codec.varbyte_decode(buf)), arr)


def _reference_blocks(term, bucket, seg_id, ids, tfs, pos_deltas):
    """One term's block rows, one block at a time: the block layout
    spelled out (segments module docstring)."""
    from alix_spark.index.segments import BLOCK

    rows, occ = [], np.concatenate(([0], np.cumsum(tfs)))
    for b0 in range(0, ids.size, BLOCK):
        b1 = min(b0 + BLOCK, ids.size)
        d, t = ids[b0:b1], tfs[b0:b1]
        pos = (
            b""
            if pos_deltas is None
            else codec.varbyte_encode(pos_deltas[occ[b0] : occ[b1]])[0]
        )
        rows.append((
            bucket, seg_id, term, b0 // BLOCK, d.size,
            codec.varbyte_encode(codec.delta_encode(d))[0],
            codec.varbyte_encode(t)[0], int(d[0]), int(t.sum()), pos,
        ))
    return rows


def test_encode_blocks_at_block_edges():
    """Terms of 127, 128 and 129 postings (one block short of, exactly at,
    and one past the block size) with doc ids above 2^35, with and
    without a positions stream: the one-pass encoder cuts every block as
    the per-block layout does, and the blocks decode back."""
    from alix_spark.index import segments as seg_mod

    rng = np.random.default_rng(7)
    base = np.uint64(2**35 + 3)
    terms, ids, tfs = ["a", "b", "c"], [], []
    for n in (127, 128, 129):
        ids.append(base + np.cumsum(rng.integers(1, 2**20, n)).astype(np.uint64))
        tfs.append(rng.integers(1, 300, n).astype(np.int64))
    starts = np.cumsum([0, 127, 128])
    ids_all, tfs_all = np.concatenate(ids), np.concatenate(tfs)
    pos = np.concatenate(
        [rng.integers(0, 2**14, int(t)) for t in tfs_all]
    ).astype(np.uint64)
    for pos_deltas in (pos, None):
        got = seg_mod.encode_blocks(
            9, terms, [4, 5, 6], starts, ids_all, tfs_all, pos_deltas
        )
        assert got.groupby("term").size().to_dict() == {"a": 1, "b": 1, "c": 2}
        expect = []
        for i, term in enumerate(terms):
            lo = starts[i]
            hi = starts[i + 1] if i + 1 < len(terms) else ids_all.size
            occ = np.concatenate(([0], np.cumsum(tfs_all)))
            expect += _reference_blocks(
                term, 4 + i, 9, ids_all[lo:hi], tfs_all[lo:hi],
                None if pos_deltas is None else pos_deltas[occ[lo] : occ[hi]],
            )
        assert [
            tuple(x.item() if isinstance(x, np.generic) else x for x in r)
            for r in got.itertuples(index=False)
        ] == expect
        # in block order and reversed: the decoder sorts by block_id
        for i, term in enumerate(terms):
            rows = got[got["term"] == term]
            for shuffled in (rows, rows.iloc[::-1]):
                d, t, p = seg_mod.decode_blocks_pos(shuffled)
                assert np.array_equal(d, ids[i]) and np.array_equal(t, tfs[i])
                if pos_deltas is None:
                    assert p is None
                    assert (got["positions"] == b"").all()
                else:
                    occ = np.concatenate(([0], np.cumsum(tfs_all)))
                    lo = starts[i]
                    hi = starts[i + 1] if i + 1 < len(terms) else ids_all.size
                    assert np.array_equal(p, pos[occ[lo] : occ[hi]])


def test_encode_blocks_of_no_postings_is_empty():
    from alix_spark.index import segments as seg_mod

    empty = np.array([], dtype=np.int64)
    got = seg_mod.encode_blocks(0, [], [], empty, empty, empty, empty)
    assert got.empty
    assert list(got.columns) == [f.name for f in seg_mod.SEGMENT_SCHEMA.fields]
    buf, offsets = codec.varbyte_encode(empty)
    assert buf == b"" and offsets.tolist() == [0]


def test_smallfloat_exact_small_values():
    # values below 2^4 are subnormal: exact roundtrip (Lucene semantics)
    v = np.arange(0, 16)
    assert np.array_equal(codec.byte4_to_int(codec.int_to_byte4(v)), v)


def test_smallfloat_monotone_and_lossy():
    v = np.arange(0, 100000)
    q = codec.quantize_doc_len(v)
    # quantization never exceeds the input and is monotone non-decreasing
    assert (q <= v).all()
    assert (np.diff(q) >= 0).all()
    # idempotent: quantizing a quantized value is identity
    assert np.array_equal(codec.quantize_doc_len(q), q)


def test_smallfloat_golden_vs_lucene():
    """Byte-for-byte golden comparison against lucene-core-8.8.1
    (tests/golden/smallfloat_lucene881.csv was produced by running
    SmallFloat.intToByte4/byte4ToInt through the reference's own jar)."""
    import pathlib

    golden = pathlib.Path(__file__).parent / "golden" / "smallfloat_lucene881.csv"
    rows = [tuple(map(int, line.split(","))) for line in golden.read_text().split()]
    i = np.array([r[0] for r in rows])
    expected = np.array([r[1] for r in rows])
    assert np.array_equal(codec.quantize_doc_len(i), expected)
    # spot semantics: small lengths are exact, larger ones round down
    assert codec.quantize_doc_len(np.array([17]))[0] == 17
    assert codec.quantize_doc_len(np.array([39]))[0] == 39
    assert codec.quantize_doc_len(np.array([41]))[0] == 40
