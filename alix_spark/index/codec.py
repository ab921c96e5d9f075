"""Posting-list compression codecs — pure numpy, used inside grouped-map
pandas UDFs (never per-row Python).

* delta-gap + variable-byte encoding for doc-id lists (the classic
  inverted-index layout; Lucene uses FOR/PackedInts, varbyte keeps the
  kernel simple while preserving the size/shape characteristics).
* ``SmallFloat`` 4-bit-mantissa quantization — a reimplementation of the
  public algorithm Lucene uses for length norms (``SmallFloat.intToByte4``
  / ``byte4ToInt`` in lucene-core; the reference relies on it implicitly
  through ``BM25Similarity``, ``/root/reference/java/alix/lucene/Alix.java:232``).
  Needed for rank-identity with the Lucene reference: Lucene 8 scores BM25
  against the quantized doc length, so exact-length BM25 can produce
  different rankings.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------- #
# varbyte
# ---------------------------------------------------------------------- #


def varbyte_encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a non-negative int array as variable-byte (7 bits/byte,
    little-endian groups, high bit = continuation) in one vectorized
    pass.

    Returns ``(buf, offsets)``: ``offsets`` has ``len(values) + 1``
    entries and value ``i`` occupies ``buf[offsets[i]:offsets[i + 1]]``,
    so the encoding of any run of values is one slice — the segment
    encoder varbytes a whole segment's column at once and cuts the
    per-block buffers out of it."""
    v = np.asarray(values, dtype=np.uint64)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    if v.size == 0:
        return b"", offsets
    # bytes per value: ceil(bits/7), min 1
    nbytes = np.ones(v.size, dtype=np.int64)
    vmax = int(v.max())
    shift = 7
    while shift < 64 and vmax >> shift:
        nbytes += v >= np.uint64(1 << shift)
        shift += 7
    np.cumsum(nbytes, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    starts = offsets[:-1]
    for i in range(shift // 7):
        live = np.flatnonzero(nbytes > i) if i else slice(None)
        byte = ((v[live] >> np.uint64(7 * i)) & np.uint64(0x7F)).astype(np.uint8)
        more = nbytes[live] > i + 1
        out[starts[live] + i] = byte | (more.astype(np.uint8) << 7)
    return out.tobytes(), offsets


def varbyte_decode(buf: bytes, n: int | None = None) -> np.ndarray:
    """Decode a varbyte buffer back to uint64 values."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.array([], dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    values = np.zeros(ends.size, dtype=np.uint64)
    lengths = ends - starts + 1
    max_len = int(lengths.max())
    for i in range(max_len):
        mask = lengths > i
        idx = starts[mask] + i
        values[mask] |= (b[idx] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * i
        )
    if n is not None and values.size != n:
        raise ValueError(f"decoded {values.size} values, expected {n}")
    return values


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing ids → first value + gaps (gap-1 not used: ids
    may repeat across merged segments is an error, so gaps >= 1)."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    out[1:] = a[1:] - a[:-1]
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64)


# ---------------------------------------------------------------------- #
# SmallFloat (Lucene norm quantization, public algorithm)
# ---------------------------------------------------------------------- #


def long_to_int4(i: np.ndarray) -> np.ndarray:
    """Vectorized Lucene ``SmallFloat.longToInt4``: order-preserving
    encoding keeping 4 significant bits."""
    v = np.asarray(i, dtype=np.int64)
    if (v < 0).any():
        raise ValueError("negative value")
    num_bits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        mask = tmp > 0
        if not mask.any():
            break
        num_bits[mask] += 1
        tmp >>= 1
    shift = num_bits - 4
    subnormal = shift < 0
    # normal: top 4 bits, drop the implicit leading one, add shift+1 exponent
    sh = np.where(subnormal, 0, shift)
    encoded = (v >> sh) & 0x07
    encoded = encoded | ((sh + 1) << 3)
    return np.where(subnormal, v, encoded).astype(np.int64)


def int4_to_long(b: np.ndarray) -> np.ndarray:
    """Vectorized Lucene ``SmallFloat.int4ToLong`` inverse."""
    v = np.asarray(b, dtype=np.int64)
    bits = v & 0x07
    shift = (v >> 3) - 1
    subnormal = shift == -1
    decoded = np.where(subnormal, bits, (bits | 0x08) << np.where(subnormal, 0, shift))
    return decoded.astype(np.int64)


# values below this threshold are stored verbatim in the norm byte; the
# remaining byte space holds longToInt4-coded values. Matches Lucene:
# NUM_FREE_VALUES = 255 - longToInt4(Integer.MAX_VALUE)
_MAX_INT4 = int(long_to_int4(np.array([2**31 - 1]))[0])
NUM_FREE_VALUES = 255 - _MAX_INT4


def int_to_byte4(i: np.ndarray) -> np.ndarray:
    """Lucene ``SmallFloat.intToByte4`` (norm byte for a doc length).

    Validated byte-for-byte against lucene-core-8.8.1 for i in
    [0, 10^6] (tests/test_codec.py golden spot checks).
    """
    v = np.asarray(i, dtype=np.int64)
    if (v < 0).any():
        raise ValueError("negative value")
    free = v < NUM_FREE_VALUES
    enc = np.where(
        free, v, NUM_FREE_VALUES + long_to_int4(np.maximum(v - NUM_FREE_VALUES, 0))
    )
    if (enc > 255).any():
        raise ValueError("value too large for byte4")
    return enc.astype(np.uint8)


def byte4_to_int(b: np.ndarray) -> np.ndarray:
    """Lucene ``SmallFloat.byte4ToInt``."""
    v = np.asarray(b, dtype=np.uint8).astype(np.int64)
    free = v < NUM_FREE_VALUES
    return np.where(
        free, v, NUM_FREE_VALUES + int4_to_long(np.maximum(v - NUM_FREE_VALUES, 0))
    ).astype(np.int64)


def quantize_doc_len(dl: np.ndarray) -> np.ndarray:
    """Doc length as Lucene sees it at query time: encode to the 1-byte
    norm then decode. This is the length BM25 must use for rank identity
    with the Lucene reference."""
    return byte4_to_int(int_to_byte4(np.asarray(dl, dtype=np.int64)))
