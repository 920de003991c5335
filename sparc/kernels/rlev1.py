"""ORC RLEv1 integer coding (the 0.11-era legacy encoding).

Wire format matches the reference's ``RunLengthIntegerWriter/Reader``
(``org/apache/orc/impl/RunLengthIntegerWriter.java:52-136`` /
``RunLengthIntegerReader.java``; constants ``MIN_REPEAT_SIZE=3``,
``MAX_DELTA=127``, ``MIN_DELTA=-128``, ``MAX_LITERAL_SIZE=128``):

- control byte c in [0, 127]: a run of (c + 3) values ``base + i*delta``
  — next byte is the signed delta, then the base as a varint;
- control byte c in [128, 255]: (256 - c) literal varints follow.

Varints are unsigned LEB128; signed streams zigzag first.  Conformance
oracle: ``orcfile.write_orc(version="0.11")`` files decode value-
identically in pyarrow's C++ ORC reader (tests/test_orcfile.py).
"""

from __future__ import annotations

import numpy as np

from .util import read_vulong, write_vslong, write_vulong

MIN_REPEAT = 3
MAX_REPEAT = 130
MAX_LITERAL = 128
# Most bytes one run can take: a literal run of 128 ten-byte varints.
MAX_RUN_BYTES = 1 + MAX_LITERAL * 10


def encode(values: np.ndarray, signed: bool = True) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = v.size
    out = bytearray()
    if n == 0:
        return b""
    # constant-delta segments (delta defined between consecutive values)
    d = np.diff(v)
    change = np.flatnonzero(np.diff(d)) + 1  # segment starts in delta space
    seg_starts = np.concatenate(([0], change))  # index into d
    seg_ends = np.concatenate((change, [d.size]))

    write_value = write_vslong if signed else write_vulong

    def emit_literals(lo: int, hi: int) -> None:
        pos = lo
        while pos < hi:
            k = min(hi - pos, MAX_LITERAL)
            out.append(256 - k)
            for x in v[pos : pos + k].tolist():
                write_value(out, x)
            pos += k

    def emit_run(base_idx: int, count: int, delta: int) -> None:
        pos = base_idx
        left = count
        while left >= MIN_REPEAT:
            k = min(left, MAX_REPEAT)
            out.append(k - MIN_REPEAT)
            out.append(delta & 0xFF)
            write_value(out, int(v[pos]))
            pos += k
            left -= k
        if left:
            emit_literals(pos, pos + left)

    i = 0  # next value index not yet emitted
    for s, e in zip(seg_starts.tolist(), seg_ends.tolist()):
        # segment covers values [s, e+1) with constant delta d[s]
        count = e - s + 1
        delta = int(d[s]) if d.size else 0
        if count >= MIN_REPEAT and -128 <= delta <= 127:
            first = max(s, i)
            run_count = e + 1 - first
            if run_count >= MIN_REPEAT:
                if first > i:
                    emit_literals(i, first)
                emit_run(first, run_count, delta)
                i = e + 1
        # else: leave for literals (coalesced with following segments)
    if i < n:
        emit_literals(i, n)
    return bytes(out)


def decode(data: bytes | memoryview, n: int, signed: bool = True) -> np.ndarray:
    """Decode ``n`` values.  ``n`` may stop inside the last run (a seek
    reads only a row group's values); data that ends before ``n`` values
    raises ``ValueError``."""
    out = np.empty(n, dtype=np.int64)
    data = memoryview(data).cast("B")  # unsigned: pa.Buffer views are 'b'
    pos = 0
    filled = 0
    try:
        while filled < n:
            c = data[pos]
            pos += 1
            if c < 128:
                run = min(c + MIN_REPEAT, n - filled)
                delta = data[pos]
                if delta >= 128:
                    delta -= 256
                pos += 1
                base, pos = read_vulong(data, pos)
                if signed:
                    base = (base >> 1) ^ -(base & 1)
                out[filled : filled + run] = base + delta * np.arange(run, dtype=np.int64)
                filled += run
            else:
                for _ in range(min(256 - c, n - filled)):
                    val, pos = read_vulong(data, pos)
                    if signed:
                        val = (val >> 1) ^ -(val & 1)
                    out[filled] = val
                    filled += 1
    except IndexError as exc:  # a read past the end
        raise ValueError(
            f"RLEv1 stream truncated: data ends after {filled} of {n} values"
        ) from exc
    return out
