"""ORC's BloomFilterUtf8 (SURVEY.md §2.6): the engine's one bloom filter.

Both writers store it the way orc-core 2.2.2 does (``BloomFilter`` /
``BloomFilterUtf8`` and ``Murmur3``, constants and control flow recovered
from its bytecode): the engine's ``BLOOM_FILTER_UTF8`` stream and
``orcfile.write_orc``'s are the same ``BloomFilterIndex`` protobuf, one
``BloomFilter {numHashFunctions=1, utf8bitset=3}`` entry per row group
(``BloomFilterIO.serialize``), the bitset as little-endian uint64 words.
A filter is sized for the row index stride, as the reference's tree
writers size theirs.  Values hash as the writer's ``add*`` dispatch does:

- strings and binary: ``Murmur3.hash64`` of the bytes (UTF-8 for str);
- integers and dates: the Thomas-Wang long mix (``getLongHash``);
- floating point: the long mix of ``Double.doubleToLongBits``;
- timestamps: the long mix of UTC epoch milliseconds (floor);
- decimals: Murmur3 of the HiveDecimal plain string.

Building hashes whole Arrow columns with numpy (a decimal column still
formats each value's HiveDecimal string in Python first); the scalar
:func:`murmur3_hash64` and :func:`_orc_long_hash` hash probe literals
and are the reference the vectorized kernels are tested against.  Blooms
only prune, so a stream that does not parse as one entry per row group
is treated as absent: it refutes nothing.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
import struct

import numpy as np
import pyarrow as pa

from .stripe import _is_binary_like, non_null

DEFAULT_FPP = 0.01  # OrcConf.BLOOM_FILTER_FPP (orc.bloom.filter.fpp)

_M64 = (1 << 64) - 1
_MURMUR_C1 = (-8663945395140668459) & _M64
_MURMUR_C2 = 5545529020109919103
_MURMUR_SEED = 104729
_TS_PER_MILLI = {"s": None, "ms": 1, "us": 1_000, "ns": 1_000_000}
_WIDE = _decimal.Context(prec=80)

# --- scalar hashes (probe literals; the vectorized kernels' reference) -------


def _signed(v: int) -> int:
    """A Java long's value from its low 64 bits."""
    v &= _M64
    return v - (1 << 64) if v >= 1 << 63 else v


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def murmur3_hash64(data: bytes, seed: int = _MURMUR_SEED) -> int:
    """org.apache.orc.util.Murmur3.hash64 (signed Java long result)."""

    def mix(k: int) -> int:
        return (_rotl64((k * _MURMUR_C1) & _M64, 31) * _MURMUR_C2) & _M64

    h = seed & _M64
    n8 = len(data) & ~7
    for i in range(0, n8, 8):
        k = mix(int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h ^ k, 27) * 5 + 1390208809) & _M64
    if len(data) > n8:  # the 1..7 tail bytes, little-endian
        h ^= mix(int.from_bytes(data[n8:], "little"))
    h ^= len(data)
    for mult in (0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53):
        h ^= h >> 33
        h = (h * mult) & _M64
    return _signed(h ^ (h >> 33))


def _orc_long_hash(key: int) -> int:
    """BloomFilter.getLongHash: Thomas-Wang 64-bit mix with Java's
    ARITHMETIC right shifts (lshr on signed longs; Python's >> on a
    negative int is arithmetic too)."""
    key = _signed(key)
    key = _signed(~key + (key << 21))
    key ^= key >> 24
    key = _signed(key + (key << 3) + (key << 8))
    key ^= key >> 14
    key = _signed(key + (key << 2) + (key << 4))
    key ^= key >> 28
    return _signed(key + (key << 31))


def _orc_decimal_str(value) -> str:
    """HiveDecimal.toString form: plain notation, trailing fractional
    zeros stripped, zero is "0" regardless of scale or sign — the string
    DecimalTreeWriter feeds bloomFilterUtf8.addString (validated against
    a live Java writer's bloom streams: hit rate 1.0 vs 0.0085 for the
    raw-scale string).  Normalized under a context wider than decimal128's
    38 digits: the default 28-digit one rounds longer values."""
    if not value:
        return "0"
    return format(value.normalize(_WIDE), "f")


def _orc_timestamp_millis(value: _dt.datetime) -> int:
    """TimestampTreeWriter bloom key: UTC epoch milliseconds (floor),
    java.sql.Timestamp.getTime() semantics (validated against a live
    Java writer's bloom streams)."""
    if value.tzinfo is None:
        value = value.replace(tzinfo=_dt.timezone.utc)
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (value - epoch) // _dt.timedelta(milliseconds=1)


def _double_bits(x: float) -> int:
    """Double.doubleToLongBits: every NaN payload is the canonical one."""
    return 0x7FF8000000000000 if math.isnan(x) else struct.unpack("<q", struct.pack("<d", x))[0]


# --- vectorized hashes (build side) ------------------------------------------


def _u64(v: int) -> np.uint64:
    return np.uint64(v & _M64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _u64(r)) | (x >> _u64(64 - r))


def _sar(x: np.ndarray, r: int) -> np.ndarray:
    return (x.view(np.int64) >> r).view(np.uint64)


def hash64(arr: pa.Array) -> np.ndarray:
    """Murmur3.hash64 of every non-null value of a string or binary
    array, as int64.  Values are taken longest first, so each 8-byte
    block round runs over a prefix of the still-active values."""
    arr = non_null(arr).cast(pa.large_binary())
    n = len(arr)
    _, off_buf, data_buf = arr.buffers()
    offs = np.frombuffer(off_buf, np.int64, n + 1, arr.offset * 8)
    data = np.frombuffer(data_buf, np.uint8) if data_buf is not None else np.zeros(0, np.uint8)
    # one little-endian 8-byte load per position, in bounds at every tail
    loads = np.lib.stride_tricks.sliding_window_view(
        np.concatenate([data[: offs[-1]], np.zeros(8, np.uint8)]), 8
    )

    def load(pos: np.ndarray) -> np.ndarray:
        return loads[pos].view("<u8")[:, 0]

    lens = offs[1:] - offs[:-1]
    nblocks = lens >> 3
    order = np.argsort(-nblocks, kind="stable")
    starts, nblocks = offs[:-1][order], nblocks[order]
    h = np.full(n, _MURMUR_SEED, np.uint64)
    c1, c2 = _u64(_MURMUR_C1), _u64(_MURMUR_C2)
    active = np.searchsorted(-nblocks, -np.arange(int(nblocks[0]) if n else 0), "left")
    for j, a in enumerate(active.tolist()):
        k = _rotl(load(starts[:a] + 8 * j) * c1, 31) * c2
        h[:a] = _rotl(h[:a] ^ k, 27) * _u64(5) + _u64(1390208809)
    # tail: the 0..7 bytes after the last block (zero bytes leave h as is)
    tail = (lens[order] & 7).astype(np.uint64)
    k1 = load(starts + 8 * nblocks) & ((_u64(1) << (tail << _u64(3))) - _u64(1))
    h ^= _rotl(k1 * c1, 31) * c2
    h ^= lens[order].astype(np.uint64)
    for mult in (0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53):
        h ^= h >> _u64(33)
        h *= _u64(mult)
    h ^= h >> _u64(33)
    out = np.empty(n, np.uint64)
    out[order] = h
    return out.view(np.int64)


def long_hash(keys: np.ndarray) -> np.ndarray:
    """:func:`_orc_long_hash` over an int64 array."""
    k = keys.astype(np.int64).view(np.uint64)  # datetime64[D] -> epoch days
    k = ~k + (k << _u64(21))
    k ^= _sar(k, 24)
    k = k + (k << _u64(3)) + (k << _u64(8))
    k ^= _sar(k, 14)
    k = k + (k << _u64(2)) + (k << _u64(4))
    k ^= _sar(k, 28)
    k = k + (k << _u64(31))
    return k.view(np.int64)


def _ts_millis(ticks, unit: str):
    """Epoch milliseconds (floor) of an int or int64 array of ``unit`` ticks."""
    per = _TS_PER_MILLI[unit]
    return ticks * 1000 if per is None else ticks // per


def hashes(arr: pa.Array) -> np.ndarray | None:
    """The 64-bit hash the reference writer adds for every non-null value
    of ``arr``; None for a type it keeps no bloom filter for."""
    t = arr.type
    if _is_binary_like(t):
        return hash64(arr)
    nn = arr.drop_null() if arr.null_count else arr
    if pa.types.is_integer(t) or pa.types.is_date32(t):
        return long_hash(nn.to_numpy(zero_copy_only=False))
    if pa.types.is_floating(t):
        vals = np.asarray(nn.cast(pa.float64()), np.float64)
        bits = vals.view(np.int64).copy()
        bits[np.isnan(vals)] = 0x7FF8000000000000
        return long_hash(bits)
    if pa.types.is_timestamp(t):
        return long_hash(_ts_millis(np.asarray(nn.view(pa.int64())), t.unit))
    if pa.types.is_decimal(t):
        strs = [_orc_decimal_str(v).encode() for v in nn.to_pylist()]
        return hash64(pa.array(strs, pa.binary()))
    return None


# --- filters -----------------------------------------------------------------


def _orc_bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """(numBits, numHashFunctions) of ``new BloomFilter(n, fpp)``."""
    n = max(n, 1)
    bits = int(-n * math.log(fpp) / (math.log(2.0) ** 2))  # d2i truncates
    num_bits = bits + (64 - bits % 64)  # always rounds up, +64 when aligned
    # Java Math.round = floor(x + 0.5), not banker's rounding
    k = max(1, int(math.floor(num_bits / n * math.log(2.0) + 0.5)))
    return num_bits, k


def _positions(h: np.ndarray, num_bits: int, k: int) -> np.ndarray:
    """The bits BloomFilter.addHash sets for each 64-bit hash in ``h``:
    the int32-wrapping ``h1 + i*h2`` (i = 1..k), ``~`` on negatives,
    modulo ``num_bits``."""
    h1 = h.astype(np.int32).astype(np.int64)
    h2 = (h >> 32).astype(np.int32).astype(np.int64)
    combined = (h1 + np.arange(1, k + 1, dtype=np.int64)[:, None] * h2).astype(np.int32)
    combined ^= combined >> 31  # ~ on negatives
    return combined.ravel() % num_bits


def _bitset(h: np.ndarray, num_bits: int, k: int) -> np.ndarray:
    bits = np.zeros(num_bits, bool)
    bits[_positions(h, num_bits, k)] = True
    return np.packbits(bits, bitorder="little").view("<u8")


def build(
    arr: pa.Array, bounds: list[tuple[int, int]], n_expected: int, fpp: float = DEFAULT_FPP
) -> list[tuple[np.ndarray, int]] | None:
    """One (words, numHashFunctions) filter per row group ``[lo, hi)`` of
    ``arr``, each sized for ``n_expected`` values; None for a type the
    reference keeps no bloom filter for."""
    h = hashes(arr)
    if h is None:
        return None
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        before = np.concatenate(([0], np.cumsum(valid)))
    else:
        before = np.arange(len(arr) + 1)
    num_bits, k = _orc_bloom_params(n_expected, fpp)
    return [(_bitset(h[before[lo] : before[hi]], num_bits, k), k) for lo, hi in bounds]


def pack_multi(filters: list[tuple[np.ndarray, int]]) -> bytes:
    """Per-row-group filters -> BloomFilterIndex protobuf."""
    from .orcfile import _f_bytes, _f_varint

    return b"".join(
        _f_bytes(1, _f_varint(1, k) + _f_bytes(3, words.astype("<u8").tobytes()))
        for words, k in filters
    )


def unpack_multi(blob, n_groups: int) -> list[tuple[np.ndarray, int]] | None:
    """BloomFilterIndex -> [(words, numHashFunctions)] per row group, or
    None unless ``blob`` holds exactly ``n_groups`` entries, each with
    k >= 1 and a whole-word utf8bitset."""
    from .orcread import _parse_pb

    out = []
    try:
        index = _parse_pb(blob)
        if set(index) - {1}:
            return None
        for entry in index.get(1, []):
            bf = _parse_pb(entry)  # TypeError: not a length-delimited entry
            k, bits = bf.get(1, [0])[-1], bf.get(3, [b""])[-1]
            if set(bf) - {1, 3} or not isinstance(k, int) or k < 1:
                return None
            if not isinstance(bits, memoryview) or not len(bits) or len(bits) % 8:
                return None
            out.append((np.frombuffer(bits, "<u8"), k))
    except (IndexError, TypeError, ValueError):
        return None
    return out if len(out) == n_groups else None


def _test_hash(words: np.ndarray, k: int, h64: int) -> bool:
    """BloomFilter.testHash: True = maybe present."""
    pos = _positions(np.array([h64], np.int64), words.size * 64, k)
    bits = words[pos >> 6] >> (pos & 63).astype(np.uint64)
    return bool(np.all(bits & _u64(1)))


def _integral(value) -> int | None:
    if isinstance(value, (int, np.integer)) or isinstance(value, float) and value.is_integer():
        return int(value)
    if isinstance(value, _decimal.Decimal) and value.is_finite():
        return int(value) if value == value.to_integral_value() else None
    return None


def probe_hashes(t: pa.DataType, value) -> list[int] | None:
    """The hashes a column of type ``t`` holding ``value`` would have
    added — any one of them present means "maybe" — or None when the
    literal cannot be mapped into the column's type (cannot refute).

    Integer and date columns take integral literals (a date as its
    epoch day); float columns any real number, as ``float(v)``, probing
    both zeros for 0.0; string and binary columns str (as UTF-8) or
    bytes; timestamp columns an int in the column's unit (the engine's
    stats domain) or a datetime; decimal columns a Decimal or an int."""
    if isinstance(value, (str, bytes)):
        if not _is_binary_like(t):
            return None
        return [murmur3_hash64(value.encode("utf-8") if isinstance(value, str) else value)]
    if pa.types.is_integer(t) or pa.types.is_date32(t):
        if pa.types.is_date32(t) and type(value) is _dt.date:
            value = (value - _dt.date(1970, 1, 1)).days
        v = _integral(value)
        return None if v is None else [_orc_long_hash(v)]
    if pa.types.is_floating(t):
        try:
            x = float(value)
        except (TypeError, ValueError, OverflowError):
            return None
        return [_orc_long_hash(_double_bits(z)) for z in ((x, -x) if x == 0 else (x,))]
    if pa.types.is_timestamp(t):
        if isinstance(value, _dt.datetime):
            return [_orc_long_hash(_orc_timestamp_millis(value))]
        if isinstance(value, (int, np.integer)) and not isinstance(value, bool):
            return [_orc_long_hash(_ts_millis(int(value), t.unit))]
        return None
    if pa.types.is_decimal(t) and isinstance(value, (int, _decimal.Decimal)):
        d = _decimal.Decimal(value)
        return [murmur3_hash64(_orc_decimal_str(d).encode())] if d.is_finite() else None
    return None


def might_contain_rg_list(filters: list, t: pa.DataType, value, g: int) -> bool:
    """Row group ``g``'s filter may hold ``value``; False is definite."""
    words, k = filters[g]
    hs = probe_hashes(t, value)
    return hs is None or any(_test_hash(words, k, h) for h in hs)


def might_contain_any(blob, t: pa.DataType, value, n_groups: int) -> bool:
    """Stripe-level probe: some row group's filter may hold ``value``."""
    filters = unpack_multi(blob, n_groups)
    hs = probe_hashes(t, value)
    return filters is None or hs is None or any(
        _test_hash(words, k, h) for words, k in filters for h in hs
    )
