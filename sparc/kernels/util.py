"""Shared integer-coding utilities: zigzag, varint, bit-width tables, percentiles.

Semantics mirror the reference's ``org/apache/orc/impl/SerializationUtils.java``
(zigzagEncode/zigzagDecode :286-295, writeVulong/writeVslong :62-93,
getClosestFixedBits :363-390, getClosestAlignedFixedBits :394-415,
encodeBitWidth :427-453, decodeBitWidth :462-480, percentileBits :305-327,
findClosestNumBits :273) — re-implemented as vectorized numpy, not a port.
The width lookup tables are value-identical to the reference's: compressed-size
parity depends on them (SURVEY.md §2.2).
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
I64 = np.int64
_ONE = U64(1)

# ---------------------------------------------------------------------------
# zigzag
# ---------------------------------------------------------------------------


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag fold: 0,-1,1,-2,... -> 0,1,2,3,...

    ``(v << 1) ^ (v >> 63)``: the left shift on the uint64 view, the
    arithmetic right shift on the int64 values (all ones for a negative
    value), both by a scalar.
    """
    v = np.ascontiguousarray(v, dtype=I64)
    out = v.view(U64) << _ONE
    out ^= (v >> 63).view(U64)
    return out


def zigzag_decode(z: np.ndarray) -> np.ndarray:
    """uint64 array zigzag -> int64: ``(z >> 1) ^ -(z & 1)``.  A shift by a
    scalar costs what a multiply does (numpy 1.26); only shifts by an array
    of counts are slow."""
    sign = z & _ONE
    np.negative(sign, out=sign)
    out = z >> _ONE
    out ^= sign
    return out.view(I64)


# ---------------------------------------------------------------------------
# bits-required (64 - clz) and the fixed-width tables
# ---------------------------------------------------------------------------

_POW2 = (U64(1) << np.arange(64, dtype=U64)).astype(U64)  # 1,2,4,...,2^63
# _BIT_FLOOR[b]: smallest value with b significant bits (0 for b = 0)
_BIT_FLOOR = np.concatenate(([U64(0)], _POW2))
_FLOAT_EXACT = U64(1 << 53)  # every integer below this is exact in float64


def bits_required(u: np.ndarray) -> np.ndarray:
    """Per-value number of significant bits of a uint64 array (0 for 0).

    frexp on the float64 image gives the exponent in one vector op.  The
    image is exact below 2^53; above, rounding can overshoot by 1 near
    power-of-2 boundaries (values near 2^64 round to 2^64), so those few
    values are corrected with an exact table compare.  Avoids
    ``searchsorted``, which measured ~1µs/element (numpy 1.26, x86-64).
    """
    u = np.ascontiguousarray(u, dtype=U64)
    _, e = np.frexp(u.astype(np.float64))
    bits = e.astype(np.int64)
    if u.size and u.max() >= _FLOAT_EXACT:
        big = np.flatnonzero(u >= _FLOAT_EXACT)
        b = np.minimum(bits[big], 64)
        bits[big] = b - (u[big] < _BIT_FLOOR[b])
    return bits


def _build_closest_fixed() -> np.ndarray:
    # widths the serializer supports: 1..24, 26, 28, 30, 32, 40, 48, 56, 64
    table = np.zeros(65, dtype=np.int64)
    supported = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]
    sup = np.array(supported)
    for n in range(65):
        need = max(n, 1)
        table[n] = sup[np.searchsorted(sup, need)]
    return table


def _build_closest_aligned() -> np.ndarray:
    table = np.zeros(65, dtype=np.int64)
    sup = np.array([1, 2, 4, 8, 16, 24, 32, 40, 48, 56, 64])
    for n in range(65):
        need = max(n, 1)
        table[n] = sup[np.searchsorted(sup, need)]
    return table


CLOSEST_FIXED_BITS = _build_closest_fixed()
CLOSEST_ALIGNED_BITS = _build_closest_aligned()

# width -> 5-bit header code (FixedBitSizes enum ordinal in the reference)
_ENC_WIDTH = {w: w - 1 for w in range(1, 25)}
_ENC_WIDTH.update({26: 24, 28: 25, 30: 26, 32: 27, 40: 28, 48: 29, 56: 30, 64: 31})
_DEC_WIDTH = {c: w for w, c in _ENC_WIDTH.items()}

_WIDTH_TO_CODE = np.zeros(65, dtype=np.int64)
for _w, _c in _ENC_WIDTH.items():
    _WIDTH_TO_CODE[_w] = _c


def closest_fixed_bits(n: int, aligned: bool = False) -> int:
    table = CLOSEST_ALIGNED_BITS if aligned else CLOSEST_FIXED_BITS
    return int(table[int(n)])


def encode_bit_width(width: int) -> int:
    return _ENC_WIDTH[int(CLOSEST_FIXED_BITS[width])]


def decode_bit_width(code: int) -> int:
    return _DEC_WIDTH[code]


def percentile_bits(u: np.ndarray, p: float) -> int:
    """Smallest supported bit width covering fraction ``p`` of the values.

    Mirrors SerializationUtils.percentileBits: histogram values by their
    closest-fixed-width bucket, walk down from 64 discarding the top
    ``len*(1-p)`` values.
    """
    u = np.ascontiguousarray(u, dtype=U64)
    n = u.size
    if n == 0:
        return 0
    widths = CLOSEST_FIXED_BITS[bits_required(u)]
    hist = np.bincount(_WIDTH_TO_CODE[widths], minlength=32)
    discard = int(n * (1.0 - p))  # truncating cast, like the reference
    for code in range(31, -1, -1):
        discard -= hist[code]
        if discard < 0:
            return _DEC_WIDTH[code]
    return 0


# ---------------------------------------------------------------------------
# varint (LEB128) — used for run headers / DELTA bases only (scalar is fine)
# ---------------------------------------------------------------------------


def write_vulong(out: bytearray, value: int) -> None:
    value &= (1 << 64) - 1
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def write_vslong(out: bytearray, value: int) -> None:
    write_vulong(out, ((value << 1) ^ (value >> 63)) & ((1 << 64) - 1))


def read_vulong(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result & ((1 << 64) - 1), pos
        shift += 7


def read_vslong(data: bytes, pos: int) -> tuple[int, int]:
    u, pos = read_vulong(data, pos)
    v = (u >> 1) ^ -(u & 1)
    return v, pos


def to_signed64(value: int) -> int:
    """Interpret a (possibly ≥2^63) int as two's-complement int64."""
    value &= (1 << 64) - 1
    return value - (1 << 64) if value >= (1 << 63) else value
