"""Kernel round-trip tests: util / bitpack / byterle / bitfield / rlev2.

Mirrors the reference test strategy (SURVEY.md §5: TestSerializationUtils,
TestBitFieldReader, TestRunLengthByteReader, TestRunLengthIntegerReaderV2,
TestNewIntegerEncoding) with FIXTURES.md §F2 value tables.
"""

from __future__ import annotations

import numpy as np
import pytest

from sparc.kernels import bitfield, bitpack, byterle, rlev1, rlev2
from sparc.kernels.util import (
    bits_required,
    closest_fixed_bits,
    decode_bit_width,
    encode_bit_width,
    percentile_bits,
    zigzag_decode,
    zigzag_encode,
)

RNG = np.random.default_rng(42)
I64 = np.int64
U64 = np.uint64

# ---------------------------------------------------------------------------
# util
# ---------------------------------------------------------------------------


def test_zigzag_roundtrip():
    v = np.array(
        [0, -1, 1, -2, 2, 2**62, -(2**62), 2**63 - 1, -(2**63)], dtype=I64
    )
    z = zigzag_encode(v)
    assert z[0] == 0 and z[1] == 1 and z[2] == 2 and z[3] == 3 and z[4] == 4
    assert np.array_equal(zigzag_decode(z), v)


def test_bits_required():
    assert bits_required(np.array([0], dtype=U64))[0] == 0
    assert bits_required(np.array([1], dtype=U64))[0] == 1
    assert bits_required(np.array([255], dtype=U64))[0] == 8
    assert bits_required(np.array([256], dtype=U64))[0] == 9
    assert bits_required(np.array([2**63], dtype=U64))[0] == 64
    assert bits_required(np.array([2**64 - 1], dtype=U64))[0] == 64


def test_width_tables():
    # reference FixedBitSizes: 1..24, 26, 28, 30, 32, 40, 48, 56, 64
    assert closest_fixed_bits(0) == 1
    assert closest_fixed_bits(7) == 7
    assert closest_fixed_bits(25) == 26
    assert closest_fixed_bits(33) == 40
    assert closest_fixed_bits(57) == 64
    assert closest_fixed_bits(3, aligned=True) == 4
    assert closest_fixed_bits(9, aligned=True) == 16
    for w in list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]:
        assert decode_bit_width(encode_bit_width(w)) == w


def test_percentile_bits():
    u = np.array([1] * 91 + [2**40] * 9, dtype=U64)
    assert percentile_bits(u, 1.0) == 48  # closest fixed to 41
    assert percentile_bits(u, 0.9) == 1  # 9 outliers <= int(100*0.1) discardable
    assert percentile_bits(np.array([], dtype=U64), 1.0) == 0


@pytest.mark.parametrize("n", [1, 9, 511, 512, 513, 1500, 5000])
@pytest.mark.parametrize("shape", ["mixed_widths", "sparse_outliers"])
def test_chunk_percentile_widths_match_percentile_bits(n, shape):
    """The RLEv2 planner's batched per-chunk percentiles equal the scalar
    percentile_bits on every 512-value chunk, the short tail included."""
    rng = np.random.default_rng(n)
    if shape == "mixed_widths":
        u = rng.integers(0, 2**63, n, dtype=U64) >> rng.integers(0, 64, n).astype(U64)
    else:
        u = rng.integers(0, 2**9, n).astype(U64)
        hit = rng.random(n) < 0.07
        u[hit] = rng.integers(2**20, 2**50, int(hit.sum())).astype(U64)
    starts = range(0, n, rlev2.MAX_SCOPE)
    cn = np.array([min(rlev2.MAX_SCOPE, n - s) for s in starts])
    got = rlev2._chunk_percentile_widths(bits_required(u), cn)
    assert got.shape == (3, cn.size)
    for k, s in enumerate(starts):
        chunk = u[s : s + rlev2.MAX_SCOPE]
        for row, p in enumerate((1.0, 0.9, 0.95)):
            assert got[row, k] == percentile_bits(chunk, p), (k, p)


# ---------------------------------------------------------------------------
# bitpack
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "width", [1, 2, 3, 4, 5, 7, 8, 11, 16, 17, 23, 24, 26, 30, 32, 33, 40, 48, 56, 63, 64]
)
def test_bitpack_roundtrip(width):
    n = 1000
    if width == 64:
        vals = RNG.integers(0, 2**63, n, dtype=np.uint64) * 2 + RNG.integers(
            0, 2, n
        ).astype(np.uint64)
    else:
        vals = RNG.integers(0, 2**width, n, dtype=np.uint64, endpoint=False)
    packed = bitpack.pack(vals, width)
    assert len(packed) == bitpack.packed_size(n, width)
    assert np.array_equal(bitpack.unpack(packed, n, width), vals)


def test_bitpack_empty_and_single():
    assert bitpack.pack(np.array([], dtype=U64), 13) == b""
    one = np.array([5], dtype=U64)
    assert np.array_equal(bitpack.unpack(bitpack.pack(one, 3), 1, 3), one)


@pytest.mark.parametrize("width", range(1, 65))
def test_bitpack_unpack_sizes_at_every_width(width):
    """Every size around the 8-value group and both sides of
    ``WORD_UNPACK_MIN``, unpacked from bytes and from a memoryview that
    ends exactly at the packed size (with 0xFF bytes after it that a read
    past the view would pick up)."""
    rng = np.random.default_rng(width)
    for n in (1, 7, 8, 9, 512, 75_000):
        vals = rng.integers(0, 2**63, n, dtype=np.uint64) * U64(2) + rng.integers(
            0, 2, n, dtype=np.uint64
        )
        vals >>= U64(64 - width)
        packed = bitpack.pack(vals, width)
        assert len(packed) == bitpack.packed_size(n, width)
        assert np.array_equal(bitpack.unpack(packed, n, width), vals), n
        view = memoryview(packed + b"\xff" * 16)[: len(packed)]
        assert np.array_equal(bitpack.unpack(view, n, width), vals), n


def _pack_bit_matrix(vals: np.ndarray, width: int) -> bytes:
    """The low ``width`` bits of every value, MSB first, through a bit
    matrix: the packing ``bitpack.pack`` must equal at every size."""
    bits = np.unpackbits(vals.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1)
    return np.packbits(bits[:, 64 - width :]).tobytes()


@pytest.mark.parametrize("width", range(1, 65))
def test_bitpack_pack_sizes_at_every_width(width):
    """``pack`` equals the bit-matrix packing on both sides of
    ``WORD_PACK_MIN`` and around the 8-value group, with bits set above
    ``width`` (PATCHED_BASE packs base-reduced values whose patched bits
    lie there), and ``unpack`` reads it back."""
    rng = np.random.default_rng(1000 + width)
    low = U64(2**width - 1) if width < 64 else U64(2**64 - 1)
    for n in (1, 7, 8, 9, 511, 512, 513, 40_000, 75_000):
        vals = rng.integers(0, 2**63, n, dtype=np.uint64) * U64(2) + rng.integers(
            0, 2, n, dtype=np.uint64
        )
        packed = bitpack.pack(vals, width)
        assert packed == _pack_bit_matrix(vals, width), n
        assert np.array_equal(bitpack.unpack(packed, n, width), vals & low), n


# ---------------------------------------------------------------------------
# byterle / bitfield
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "make",
    [
        lambda: np.zeros(1000, dtype=np.uint8),
        lambda: np.arange(1000, dtype=np.uint8),  # all literals
        lambda: np.repeat(np.arange(20, dtype=np.uint8), 7),  # runs of 7
        lambda: np.repeat(np.arange(5, dtype=np.uint8), 131),  # > MAX_REPEAT
        lambda: np.array([1, 1, 2, 2, 3, 3, 3, 4], dtype=np.uint8),  # mixed
        lambda: RNG.integers(0, 3, 5000).astype(np.uint8),
        lambda: np.array([], dtype=np.uint8),
        lambda: np.array([9], dtype=np.uint8),
        lambda: np.array([7, 7], dtype=np.uint8),
        lambda: np.repeat(np.arange(3, dtype=np.uint8), 300),  # long literal+run mix
    ],
)
def test_byterle_roundtrip(make):
    vals = make()
    enc = byterle.encode(vals)
    assert np.array_equal(byterle.decode(enc, vals.size), vals)


def test_byterle_compresses_runs():
    vals = np.zeros(130, dtype=np.uint8)
    assert len(byterle.encode(vals)) == 2


@pytest.mark.parametrize("n", [0, 1, 7, 8, 9, 64, 1000, 10001])
def test_bitfield_roundtrip(n):
    flags = RNG.integers(0, 2, n).astype(bool)
    enc = bitfield.encode(flags)
    assert np.array_equal(bitfield.decode(enc, n), flags)


def test_bitfield_mostly_true_is_tiny():
    flags = np.ones(10000, dtype=bool)
    assert len(bitfield.encode(flags)) < 30


# ---------------------------------------------------------------------------
# rlev2 — FIXTURES.md F2 value tables
# ---------------------------------------------------------------------------


def _rt(vals, signed=True, aligned=False):
    v = np.asarray(vals, dtype=I64)
    enc = rlev2.encode(v, signed=signed, aligned=aligned)
    dec = rlev2.decode(enc, v.size, signed=signed)
    assert np.array_equal(dec, v), f"roundtrip failed for {v[:20]}..."
    return enc


@pytest.mark.parametrize("signed", [True, False])
@pytest.mark.parametrize("aligned", [True, False])
@pytest.mark.parametrize(
    "name,vals",
    [
        ("empty", []),
        ("single", [7]),
        ("two", [7, 9]),
        ("const3", [5] * 3),
        ("const10", [5] * 10),
        ("const11", [5] * 11),
        ("const512", [123] * 512),
        ("const513", [123] * 513),
        ("const514", [123] * 514),  # split must not strand a <3 tail
        ("const_large", [2**55] * 1000),
        ("ramp", list(range(1000))),
        ("ramp_desc", list(range(1000, 0, -1))),
        ("fixed_delta7", list(range(0, 7000, 7))),
        ("fixed_delta_neg", list(range(0, -7000, -7))),
        ("alternating", [1, -1] * 300),
        ("boundaries", [2**63 - 1, -(2**63), 0, 1, -1] * 3),
        ("exactly512", list(range(512))),
        ("exactly513", list(range(513))),
        ("run_then_random", [9] * 100 + [3, 1, 4, 1, 5, 9, 2, 6] * 10),
        ("random_then_run", [3, 1, 4, 1, 5, 9, 2, 6] * 10 + [9] * 100),
        ("interleaved_runs", ([7] * 5 + [1, 2, 9]) * 50),
        ("monotonic_jitter", np.cumsum(np.abs(RNG.integers(0, 50, 800))).tolist()),
        ("decreasing_zero_first_delta", [10, 10, 8, 5, 1, 0, -4, -9] * 40),
    ],
)
def test_rlev2_patterns(name, vals, signed, aligned):
    if not signed and any(np.asarray(vals, dtype=I64) < 0):
        # unsigned streams carry nonnegative values in practice; the codec
        # must still round-trip the two's-complement view
        pass
    _rt(vals, signed=signed, aligned=aligned)


@pytest.mark.parametrize("aligned", [False, True])
@pytest.mark.parametrize("signed", [False, True])
def test_rlev2_cuts_equal_separate_encodes(signed, aligned):
    """One batched ``encode`` over cut groups gives each group the bytes of
    encoding it alone, and they decode back.  The groups share a plan:
    short falling DELTA groups whose payloads of one width lie a few values
    apart in the batch (they must not be packed as one stretch), outlier
    chunks that need the 95p width, chunks under the 90p gap test and
    unsigned values at or above 2^63."""
    rng = np.random.default_rng(7 + 2 * signed + aligned)
    falling = [-2, -2, -4, -5, -7, -7, -8, -8, -9, -10, -10, -11, -13, -13, -14, -16]
    outliers = rng.integers(0, 2**9, 3_000)
    outliers[rng.random(3_000) < 0.03] = 2**40
    shapes = [
        (falling, [3, 11]),
        (outliers, [512, 700, 1_800, 2_048]),
        (rng.integers(0, 30, 2_500), [1_024, 2_000]),
        (np.where(rng.random(1_500) < 0.5, -1, 2**62) - rng.integers(0, 9, 1_500), [600]),
    ]
    for v, cuts in shapes:
        v = np.asarray(v, dtype=I64)
        blobs = rlev2.encode(v, signed, aligned, cuts=cuts)
        groups = np.split(v, cuts)
        assert blobs == [rlev2.encode(g, signed, aligned) for g in groups]
        for blob, g in zip(blobs, groups):
            assert np.array_equal(rlev2.decode(blob, g.size, signed), g)


@pytest.mark.parametrize("width", [1, 2, 4, 7, 24, 33, 56, 63])
def test_rlev2_direct_random(width):
    vals = RNG.integers(0, 2**width, 5000, dtype=np.int64, endpoint=False)
    _rt(vals, signed=False)
    _rt(vals, signed=True)


def test_rlev2_patched_base():
    # 90p/100p width gap with <=5% outliers → PATCHED_BASE
    vals = RNG.integers(0, 2**10, 512, dtype=np.int64)
    vals[RNG.choice(512, 10, replace=False)] += 2**35
    enc = _rt(vals, signed=True)
    # patched must beat direct-at-40-bits
    assert len(enc) < 2 + (512 * 40 + 7) // 8


def test_rlev2_patched_negative_min():
    vals = RNG.integers(-500, 500, 512, dtype=np.int64)
    vals[RNG.choice(512, 8, replace=False)] = 2**40
    _rt(vals)


def test_rlev2_patched_min_near_2_55():
    vals = RNG.integers(0, 1000, 400, dtype=np.int64) + (2**55 - 500)
    vals[::97] += 2**5
    _rt(vals)
    # |min| >= 2^56 must NOT use patched base (BASE_VALUE_LIMIT) but still rt
    vals2 = vals + 2**56
    _rt(vals2)


def test_rlev2_patch_gap_over_255():
    vals = np.ones(512, dtype=np.int64)
    vals[0] = 2**30
    vals[500] = 2**30  # gap 500 needs a 255-filler patch entry
    _rt(vals)


def _patched_base_run(data: np.ndarray, base: int, entries: list) -> bytes:
    """A PATCHED_BASE run written by hand: ``data`` at 4 bits, a one-byte
    base, 4-bit patches and 8-bit gaps (12-bit entries)."""
    count = data.size
    header = bytes(
        (
            2 << 6 | encode_bit_width(4) << 1 | (count - 1) >> 8,
            (count - 1) & 0xFF,
            0 << 5 | encode_bit_width(4),  # 1 base byte, patch width 4
            (8 - 1) << 5 | len(entries),  # gap width 8
            base,
        )
    )
    ent = np.array([gap << 4 | patch for gap, patch in entries], dtype=U64)
    return header + bitpack.pack(data.astype(U64), 4) + bitpack.pack(ent, 12)


def test_rlev2_patch_past_its_run_raises():
    """A patch gap that points past its PATCHED_BASE run raises a
    ``ValueError`` naming the position and the run length, instead of
    ORing the patch into a later run's value."""
    data = np.arange(100) % 16
    second = rlev2.encode(np.arange(50, dtype=I64), signed=False)
    good = _patched_base_run(data, 7, [(10, 5), (40, 3)]) + second
    expect = data + 7
    expect[10] += 5 << 4
    expect[50] += 3 << 4
    expect = np.concatenate((expect, np.arange(50)))
    assert np.array_equal(rlev2.decode(good, 150, signed=False), expect)
    # a partial read drops the patches beyond the values taken
    assert np.array_equal(rlev2.decode(good, 30, signed=False), expect[:30])
    # a zero gap puts a second patch on the same value: both are ORed in
    twice = _patched_base_run(data, 7, [(10, 5), (0, 3)])
    expect = data + 7
    expect[10] += (5 | 3) << 4
    assert np.array_equal(rlev2.decode(twice, 100, signed=False), expect)
    # bump the last gap: that patch now sits at value 250 of a 100-value run
    bad = _patched_base_run(data, 7, [(10, 5), (240, 3)]) + second
    for n in (100, 150):
        with pytest.raises(ValueError, match="patch at value 250 past its run of 100"):
            rlev2.decode(bad, n, signed=False)


@pytest.mark.parametrize("n", [10**6, 10**11])
def test_rlev2_count_beyond_the_data_raises_before_allocating(n):
    """A count far past what the stream holds raises the truncation error
    (the output is sized from the run headers, not from ``n``)."""
    blob = rlev2.encode(RNG.integers(0, 1000, 100, dtype=np.int64), signed=False)
    with pytest.raises(ValueError, match="truncated"):
        rlev2.decode(blob, n, signed=False)


def test_rlev2_null_dense_pattern():
    # PRESENT handling lives a layer up; here: sparse non-null values only
    vals = RNG.integers(0, 100, 50, dtype=np.int64)
    _rt(vals)


def test_rlev2_compression_wins():
    # sanity: structured inputs must compress well below 8 bytes/value
    ramp = np.arange(100000, dtype=np.int64)
    enc = rlev2.encode(ramp, signed=True)
    assert len(enc) < 100000 * 0.02  # ~6 bytes per 512-run
    const = np.full(100000, 42, dtype=np.int64)
    enc = rlev2.encode(const, signed=True)
    assert len(enc) < 100000 * 0.01


def test_rlev2_mostly_sorted_timestampish():
    base = 1_700_000_000
    steps = RNG.integers(0, 5, 20000)
    jitter = np.where(RNG.random(20000) < 0.3, RNG.integers(-3, 4, 20000), 0)
    vals = (base + np.cumsum(steps) + jitter).astype(np.int64)
    enc = _rt(vals)
    assert len(enc) < vals.size * 8 * 0.5


def test_byterle_encode_with_marks_seek_contract():
    # position (offset, used) must let a reader resume mid-stream: decode
    # from the control byte at `offset`, drop `used` values, and get
    # exactly values[m:]
    rng = np.random.default_rng(17)
    for trial in range(20):
        n = int(rng.integers(1, 3000))
        # run-heavy + literal mix
        vals = rng.integers(0, 4, n).astype(np.uint8)
        vals[rng.random(n) < 0.3] = rng.integers(0, 256)
        marks = sorted(set(int(m) for m in rng.integers(0, n, 8)))
        blob, poss = byterle.encode_with_marks(vals, marks)
        assert blob == byterle.encode(vals)
        for m, (off, used) in zip(marks, poss):
            tail = byterle.decode(memoryview(blob)[off:], n - m + used)
            assert np.array_equal(tail[used:], vals[m:]), (trial, m)


def test_bitfield_encode_with_marks_bit_offsets():
    rng = np.random.default_rng(23)
    flags = rng.random(5000) < 0.7
    marks = [0, 1, 7, 8, 9, 63, 64, 501, 4999]
    blob, poss = bitfield.encode_with_marks(flags, marks)
    assert blob == bitfield.encode(flags)
    n = len(flags)
    for m, (off, used, bits) in zip(marks, poss):
        assert bits == m % 8
        nbytes_left = (n + 7) // 8 - m // 8 + used
        packed_tail = byterle.decode(memoryview(blob)[off:], nbytes_left)
        got = np.unpackbits(packed_tail[used:])[bits : bits + (n - m)]
        assert np.array_equal(got.astype(bool), flags[m:]), m


# ---------------------------------------------------------------------------
# truncated streams: data that ends before n values raises ValueError
# ---------------------------------------------------------------------------

_TRUNC_RNG = np.random.default_rng(7)
_OUTLIERS = _TRUNC_RNG.integers(0, 100, 512)
_OUTLIERS[[17, 300]] = 1 << 40
# (coder, stream, first run's header byte mode or None, values)
_TRUNCATED_STREAMS = {
    "rlev2/short_repeat": (
        rlev2, 0, np.full(5, -7, dtype=I64)
    ),
    "rlev2/direct": (rlev2, 1, _TRUNC_RNG.integers(-(1 << 20), 1 << 20, 200)),
    "rlev2/patched_base": (rlev2, 2, _OUTLIERS),
    "rlev2/delta": (rlev2, 3, np.cumsum(_TRUNC_RNG.integers(1, 50, 300))),
    "rlev1/run": (rlev1, None, np.full(50, 5, dtype=I64)),
    "rlev1/literals": (rlev1, None, _TRUNC_RNG.integers(-(10**12), 10**12, 100)),
    "rlev1/delta_run": (rlev1, None, np.arange(0, 300, 2)),
    "rlev1/mixed": (
        rlev1, None, np.concatenate((np.full(40, 9), _TRUNC_RNG.integers(0, 9, 60)))
    ),
    "byterle/run": (byterle, None, np.full(100, 3)),
    "byterle/literals": (byterle, None, _TRUNC_RNG.integers(0, 256, 100)),
    "byterle/mixed": (
        byterle, None, np.concatenate((np.full(10, 1), _TRUNC_RNG.integers(0, 256, 20)))
    ),
    "byterle/long": (byterle, None, _TRUNC_RNG.integers(0, 4, 1000)),
}


def _encode_for(coder, vals):
    if coder is byterle:
        return byterle.encode(np.asarray(vals, dtype=np.uint8))
    return coder.encode(np.asarray(vals, dtype=I64), signed=True)


def _decode_for(coder, data, n):
    if coder is byterle:
        return byterle.decode(data, n)
    return coder.decode(data, n, signed=True)


@pytest.mark.parametrize("cut", ["header", "mid_payload", "last_byte"])
@pytest.mark.parametrize("name", sorted(_TRUNCATED_STREAMS))
def test_truncated_stream_raises_value_error(name, cut):
    coder, mode, vals = _TRUNCATED_STREAMS[name]
    data = _encode_for(coder, vals)
    # the stream is what its name says, and decodes whole
    if mode is not None:
        assert data[0] >> 6 == mode
    expect = np.asarray(vals).astype(_decode_for(coder, data, 0).dtype)
    assert np.array_equal(_decode_for(coder, data, len(vals)), expect)
    end = {"header": 1, "mid_payload": len(data) // 2, "last_byte": len(data) - 1}[cut]
    with pytest.raises(ValueError, match="truncated"):
        _decode_for(coder, data[:end], len(vals))
