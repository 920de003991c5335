"""Byte-level run-length encoding.

Wire format matches the reference's ``RunLengthByteWriter/Reader``
(``org/apache/orc/impl/RunLengthByteWriter.java:63-101`` /
``RunLengthByteReader.java:47-82``):

- control byte c in [0, 127]: a run of (c + 3) copies of the next byte
  (runs of 3..130);
- control byte c in [128, 255]: (256 - c) literal bytes follow (1..128).

Used for the DECIMAL scale stream, union tags, and as the second stage of
the boolean bitfield (PRESENT) encoder.  Encoder is numpy run-detection +
a per-segment Python loop (segment count, not value count).
"""

from __future__ import annotations

import numpy as np

MIN_REPEAT = 3
MAX_REPEAT = 130
MAX_LITERAL = 128
MAX_RUN_BYTES = 1 + MAX_LITERAL  # a literal run: control byte + 128 bytes


def encode(values: np.ndarray) -> bytes:
    values = np.ascontiguousarray(values, dtype=np.uint8)
    n = values.size
    if n == 0:
        return b""
    # maximal equal-value runs
    change = np.flatnonzero(np.diff(values)) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [n]))
    lengths = ends - starts
    is_run = lengths >= MIN_REPEAT

    out = bytearray()
    i = 0
    nruns = starts.size
    vbytes = values.tobytes()
    while i < nruns:
        if is_run[i]:
            s, length, val = int(starts[i]), int(lengths[i]), int(values[starts[i]])
            while length >= MIN_REPEAT:
                chunk = min(length, MAX_REPEAT)
                out.append(chunk - MIN_REPEAT)
                out.append(val)
                length -= chunk
            if length:  # 1-2 leftover values become literals w/ next segment
                _emit_literals(out, vbytes[s + lengths[i] - length : s + lengths[i]])
            i += 1
        else:
            # coalesce consecutive non-run segments into one literal span
            j = i
            while j < nruns and not is_run[j]:
                j += 1
            _emit_literals(out, vbytes[int(starts[i]) : int(ends[j - 1])])
            i = j
    return bytes(out)


def encode_with_marks(
    values: np.ndarray, marks: list[int]
) -> tuple[bytes, list[tuple[int, int]]]:
    """Encode, and for each value index in ``marks`` return the seek
    position ``(byte offset of the control byte whose chunk contains the
    value, values already consumed within that chunk)`` — what
    ``RunLengthByteReader.seek`` consumes (RunLengthByteReader.java:
    84-99).  A mark exactly on a chunk boundary points at the next
    chunk's control byte with used=0; a mark at/after the end points at
    end-of-stream.  Cost: one O(encoded-size) walk, independent of the
    mark count."""
    blob = encode(values)
    # walk the self-delimiting chunks once, recording (control byte
    # offset, first value index, value count) per chunk
    spans: list[tuple[int, int, int]] = []
    pos = filled = 0
    n = len(blob)
    while pos < n:
        c = blob[pos]
        if c < 128:
            count, step = c + MIN_REPEAT, 2
        else:
            count, step = 256 - c, 1 + (256 - c)
        spans.append((pos, filled, count))
        filled += count
        pos += step
    starts = np.array([s[1] for s in spans], dtype=np.int64)
    out: list[tuple[int, int]] = []
    for m in marks:
        if m >= filled or not spans:
            out.append((n, 0))
            continue
        i = int(np.searchsorted(starts, m, side="right")) - 1
        cpos, cfirst, _ = spans[i]
        out.append((cpos, m - cfirst))
    return blob, out


def _emit_literals(out: bytearray, chunk: bytes) -> None:
    pos = 0
    while pos < len(chunk):
        size = min(len(chunk) - pos, MAX_LITERAL)
        out.append(256 - size)
        out.extend(chunk[pos : pos + size])
        pos += size


def decode(data: bytes | memoryview, n: int) -> np.ndarray:
    """Decode ``n`` bytes; data that ends before them raises ``ValueError``."""
    out = np.empty(n, dtype=np.uint8)
    pos = 0
    filled = 0
    # cast('B'): pa.Buffer exports a SIGNED 'b' memoryview — indexing
    # would yield negative ints for bytes >= 0x80 and misparse headers
    data = memoryview(data).cast("B")
    end = len(data)
    while filled < n:
        if pos >= end:
            break
        c = data[pos]
        pos += 1
        if c < 128:
            if pos >= end:
                break
            # clamp: a seek-based decode may need fewer values than the
            # final run/literal chunk holds
            run = min(c + MIN_REPEAT, n - filled)
            out[filled : filled + run] = data[pos]
            pos += 1
            filled += run
        else:
            lit = min(256 - c, n - filled)
            if pos + lit > end:
                break
            out[filled : filled + lit] = np.frombuffer(data[pos : pos + lit], np.uint8)
            pos += lit
            filled += lit
    if filled < n:
        raise ValueError(
            f"byte-RLE stream truncated: data ends after {filled} of {n} values"
        )
    return out
