"""Block payload columns: codec values <-> Arrow binary columns.

Segment rows carry their block payloads (``doc_bytes``, ``tf_bytes``,
``len_bytes``) as Arrow binary columns. Both directions work a whole
column per call instead of a block per call. A self-delimiting
per-value codec (``concat_safe`` on its encode/decode: varint and its
maskedvbyte alias) encodes or decodes every block of a column in ONE
call over one contiguous buffer, and the column is built from or read
through its Arrow offsets and values buffers with no per-block
``bytes`` objects. Other codecs run per block on zero-copy slices cut
at the same boundaries.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def binary_column(data: pa.Table | pa.RecordBatch,
                  name: str) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, values) of a binary column as numpy views of its Arrow
    buffers — zero-copy for a single-chunk column."""
    arr = data.column(name)
    if isinstance(arr, pa.ChunkedArray):
        chunks = arr.chunks
        arr = chunks[0] if len(chunks) == 1 else pa.concat_arrays(chunks)
    off_type = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, off_buf, data_buf = arr.buffers()
    offsets = np.frombuffer(off_buf, off_type)[arr.offset:arr.offset + len(arr) + 1]
    return offsets.astype(np.int64), np.frombuffer(data_buf, np.uint8)


def _segmented_arange(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """concat(arange(s, s + n) for s, n in zip(starts, lengths))."""
    ends = np.cumsum(lengths)
    total = int(ends[-1]) if len(ends) else 0
    return np.arange(total) + np.repeat(starts - ends + lengths, lengths)


def decode_column(column, rows: np.ndarray | None, counts: np.ndarray,
                  decode) -> np.ndarray:
    """int64 values of ``rows`` (storage row indices, in output order,
    ``counts`` values each; None = every row in storage order) of one
    payload ``column`` (offsets, values). Self-delimiting codecs decode
    every row in ONE call — over the values buffer itself for all
    rows, else over one gather of the rows' bytes; other codecs decode
    per block from zero-copy slices."""
    off, data = column
    if rows is None:
        lo, hi = off[:-1], off[1:]
    else:
        lo, hi = off[rows], off[rows + 1]
    if getattr(decode, "concat_safe", False):
        if rows is None:
            buf = data[off[0]:off[-1]]
        else:
            buf = data[_segmented_arange(lo, hi - lo)]
        return decode(buf, int(counts.sum())).astype(np.int64)
    mv = memoryview(data)
    return np.concatenate([
        decode(mv[a:b], n)
        for a, b, n in zip(lo.tolist(), hi.tolist(), counts.tolist())
    ]).astype(np.int64)


def docs_from_payload(payload: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Absolute docIDs of consecutive blocks (``counts`` postings each)
    from their doc payload: each block's first value is absolute, the
    rest are gaps-1. One cumsum over value+1, then every block re-based
    to its absolute first doc (the re-base cancels whatever the cumsum
    carried in, so block starts need no special case)."""
    starts = np.cumsum(counts) - counts
    docs = payload + 1
    np.cumsum(docs, out=docs)
    docs += np.repeat(payload[starts] - docs[starts], counts)
    return docs


def encode_column(values: np.ndarray, starts: np.ndarray, encode) -> pa.Array:
    """Binary column with one encoded block per entry of ``starts``
    (ascending block start positions in ``values``; the first is 0).
    Self-delimiting codecs encode the whole column in ONE call and the
    column is assembled zero-copy on that buffer, with block offsets
    from the cumsum of the per-value byte sizes; other codecs encode
    per block."""
    if getattr(encode, "concat_safe", False):
        pos = np.zeros(len(values) + 1, dtype=np.int64)
        np.cumsum(encode.sizes(values), out=pos[1:])
        if pos[-1] > np.iinfo(np.int32).max:
            raise OverflowError("encoded column exceeds 2 GiB binary offsets")
        offsets = np.append(pos[starts], pos[-1]).astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(starts),
            [None, pa.py_buffer(offsets), pa.py_buffer(encode(values))],
        )
    ends = np.append(starts[1:], len(values))
    return pa.array(
        [encode(values[s:e]) for s, e in zip(starts.tolist(), ends.tolist())],
        type=pa.binary(),
    )
