"""Vectorized variable-byte codec (TightVariableByte-compatible layout).

Encodes each uint32 as 1-5 bytes of 7-bit chunks, least-significant
chunk first, with the HIGH BIT SET ON THE TERMINATING (last) byte —
the same wire layout as the reference's ``TightVariableByte``
(codec/block_codecs.hpp:19-123: ``extract7bits`` + MSB terminator).

Both directions are numpy-vectorized: encode scatters chunk bytes via
offset arithmetic (loop over at most 5 chunk positions, each iteration
fully vectorized); decode locates terminator bytes with a mask and
reassembles values with per-position shifts.
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # ceil(64 / 7) — u64-capable (docIDs exceed u32 at 10^12 docs);
# for u32 values the wire bytes are identical to the 5-byte reference layout.


def varint_encode(values: np.ndarray) -> bytes:
    """uint array -> varint bytes."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: 1 + floor(bit_length-1 / 7)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for i in range(1, _MAX_BYTES):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * i))).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for i in range(_MAX_BYTES):
        mask = nbytes > i
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * i)) & np.uint64(0x7F)
        pos = starts[mask] + i
        is_last = nbytes[mask] == i + 1
        out[pos] = chunk.astype(np.uint8) | (is_last.astype(np.uint8) << 7)
    return out.tobytes()


def varint_sizes(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length (no encoding). Because varint is
    a per-value code, ``varint_encode(v)[off[i]:off[j]]`` equals
    ``varint_encode(v[i:j])`` with ``off = cumsum(sizes)`` — block
    writers exploit this to encode a whole posting list once and
    slice per-block payloads out of the single buffer."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for i in range(1, _MAX_BYTES):
        mask = v >= (np.uint64(1) << np.uint64(7 * i))
        if not mask.any():
            break
        nbytes += mask.astype(np.int64)
    return nbytes


def varint_decode(data: bytes, n: int | None = None) -> np.ndarray:
    """varint bytes -> uint64 array (``n`` optional sanity check)."""
    raw = np.frombuffer(data, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    term = (raw & 0x80) != 0
    if term.all():  # every value fits 7 bits (tfs, short gaps): one op
        vals = (raw & 0x7F).astype(np.uint64)
        if n is not None and vals.size != n:
            raise ValueError(
                f"varint_decode: expected {n} values, got {vals.size}"
            )
        return vals
    ends = np.flatnonzero(term)  # index of last byte of each value
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    payload = (raw & 0x7F).astype(np.uint64)
    for i in range(_MAX_BYTES):
        mask = lengths > i
        if not mask.any():
            break
        vals[mask] |= payload[starts[mask] + i] << np.uint64(7 * i)
    if n is not None and vals.size != n:
        raise ValueError(f"varint_decode: expected {n} values, got {vals.size}")
    return vals


# Self-delimiting per-value code: decode(a + b, n_a + n_b) ==
# concat(decode(a, n_a), decode(b, n_b)) and encode(a ++ b) ==
# encode(a) + encode(b), with ``sizes`` the per-value byte lengths.
# codecs/columns.py (the one payload decode: segment encode,
# decode_segments, the query proto build) uses this to decode or
# encode many blocks in ONE call — fixed-layout codecs must NOT set
# it (tests/test_codecs.py checks flagged codecs).
varint_decode.concat_safe = True
varint_encode.concat_safe = True
varint_encode.sizes = varint_sizes
