"""Column statistics: one model for the engine's stripes and ORC files.

``ColumnStats`` is ``org/apache/orc/impl/ColumnStatisticsImpl.java`` for
one window of one column: value and null counts, min/max, and a sum (the
sum of lengths for string/binary, the true count for bool).  A builder
runs once per column over its non-null values and returns ``Windows``,
which answers any run of the column's row groups: one group (the row
index), a stripe, or the file.

- min/max (int, date, timestamp, decimal, string), int sums, string
  byte sums and true counts are taken once per row group, and a run
  merges its groups' exactly.  A group's int sum adds the int64 sums of
  its words' 32-bit halves (exact below 2^31 values) as a Python int;
- double min/max/sum come from the window's own slice (a merged sum
  would reorder the additions).

A window has two serialized forms: ``to_dict``, the engine stripe
footer's, and ``to_pb``, ORC's ``ColumnStatistics`` protobuf.
``from_pb`` parses the protobuf into the dict form ``sarg.py``
evaluates.  The statistics serve pruning and metrics only: the
dictionary choice counts distinct values in the first 10k rows and FSST
decides on a sample (``stripe.py``).
"""

from __future__ import annotations

import decimal
import math
import struct
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa

STRING_STAT_TRUNCATE = 1024  # UTF-8 bytes, ColumnStatisticsImpl truncation limit


@dataclass
class ColumnStats:
    kind: str  # int | decimal | timestamp | float | bool | string | binary | struct | union
    n_values: int = 0
    n_nulls: int = 0
    minimum: Any = None
    maximum: Any = None
    total: Any = None  # sum for numeric, sum of lengths for string/binary
    n_distinct: int | None = None  # the dictionary size of a dict-encoded column

    @property
    def has_null(self) -> bool:
        return self.n_nulls > 0

    def to_dict(self) -> dict:
        mn, mx = self.minimum, self.maximum
        mn_t = mx_t = False
        if self.kind in ("string", "binary"):
            mn, mn_t = _truncate(mn)
            mx, mx_t = _truncate(mx)
        return {
            "kind": self.kind,
            "n_values": self.n_values,
            "n_nulls": self.n_nulls,
            "min": mn,
            "max": mx,
            # explicit lossy-bound markers (the reference proto's
            # lowerBound/upperBound distinction): a True flag means the
            # stored text is NOT the exact column extreme and pruning must
            # treat the bound as unknown in that direction
            "min_trunc": mn_t,
            "max_trunc": mx_t,
            "sum": self.total,
            "n_distinct": self.n_distinct,
        }

    def to_pb(self, t: pa.DataType, row_group: bool) -> bytes:
        """ORC ColumnStatistics of a column of Arrow type ``t``:
        numberOfValues (1), the typed statistics, hasNull (10).  The
        row-index form (``row_group``) carries no bool or binary
        statistics; count-only kinds (nested columns, the root) carry none.

        - int: IntegerStatistics (2), min/max only; date32: DateStatistics
          (7) in days, the field the reference reads for DATE columns (it
          ignores IntegerStatistics there);
        - timestamp: TimestampStatistics (9) in epoch millis, with the
          ORC-611 UTC pair equal to them (writerTimezone is UTC).  The max
          is ceiled so sub-millisecond values stay inside it: the
          reference keeps the remainder in maximumNanos, which is left out;
        - decimal: DecimalStatistics (6) in HiveDecimal plain form;
        - double: DoubleStatistics (3), left out when a value is not
          finite, whose bounds would not prune;
        - string: StringStatistics (4), over-limit bounds as
          lowerBound/upperBound (``_string_pb``)."""
        from .orcfile import _f_bytes, _f_packed, _f_varint

        lo, hi = self.minimum, self.maximum
        typed = b""
        if self.kind == "bool":
            if not row_group:
                typed = _f_bytes(5, _f_packed(1, [self.total or 0]))
        elif self.kind == "binary":
            if not row_group:
                typed = _f_bytes(8, _f_varint(1, _zz(self.total or 0)))
        elif lo is None:
            pass
        elif self.kind == "string":
            typed = _f_bytes(4, _string_pb(lo, hi, self.total))
        elif self.kind == "float":
            if math.isfinite(lo) and math.isfinite(hi):
                typed = _f_bytes(3, struct.pack("<BdBdBd", 9, lo, 17, hi, 25, self.total))
        elif self.kind == "decimal":
            from .bloom import _orc_decimal_str

            typed = _f_bytes(6, b"".join(
                _f_bytes(f, _orc_decimal_str(_scaled(v, t.scale)).encode())
                for f, v in ((1, lo), (2, hi))
            ))
        elif self.kind == "timestamp":
            from .stripe import _TS_UNITS

            unit_scale = _TS_UNITS[t.unit]
            per_ms = unit_scale // 1000  # unit ticks per millisecond (>=1)
            ms_lo = lo // per_ms if per_ms > 1 else lo * (1000 // unit_scale)
            ms_hi = -((-hi) // per_ms) if per_ms > 1 else hi * (1000 // unit_scale)
            typed = _f_bytes(9, b"".join(
                _f_varint(f, _zz(v)) for f, v in ((1, ms_lo), (2, ms_hi), (3, ms_lo), (4, ms_hi))
            ))
        else:
            field = 7 if pa.types.is_date32(t) else 2
            typed = _f_bytes(field, _f_varint(1, _zz(lo)) + _f_varint(2, _zz(hi)))
        return _f_varint(1, self.n_values) + typed + _f_varint(10, int(self.has_null))


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _scaled(unscaled: int, scale: int) -> decimal.Decimal:
    """The decimal ``unscaled`` × 10^-``scale``, exact at any precision."""
    return decimal.Decimal(f"{unscaled}E-{scale}")


def _truncate(v) -> tuple:
    """(stored text, lossy flag).  Bytes are cut at a UTF-8 character
    boundary so the cut itself never fabricates U+FFFD; any replacement
    char remaining means the value wasn't valid UTF-8 (binary), which is
    just as lossy for ordering purposes, so it also sets the flag."""
    if v is None:
        return None, False
    if isinstance(v, bytes):
        lossy = len(v) > STRING_STAT_TRUNCATE
        cut = v[:STRING_STAT_TRUNCATE]
        if lossy:
            while cut and (cut[-1] & 0xC0) == 0x80:
                cut = cut[:-1]
            if cut and cut[-1] >= 0xC0:
                cut = cut[:-1]
        text = cut.decode("utf-8", "replace")
        return text, lossy or "�" in text
    s = str(v)
    return s[:STRING_STAT_TRUNCATE], len(s) > STRING_STAT_TRUNCATE


def lossy_bounds(st: dict) -> tuple[bool, bool]:
    """(min lossy, max lossy) of a string stats dict: its
    ``min_trunc``/``max_trunc`` flags.  Footers written before the flags
    are judged from the stored text, conservatively: a bound at the
    truncation length, or holding U+FFFD, may be lossy."""
    flags = []
    for key in ("min", "max"):
        lossy = st.get(f"{key}_trunc")
        if lossy is None:
            lossy = len(st[key]) >= STRING_STAT_TRUNCATE or "�" in st[key]
        flags.append(lossy)
    return flags[0], flags[1]


def _utf8_prefix(b: bytes, limit: int) -> bytes:
    """Longest prefix of ``b`` of at most ``limit`` bytes that ends on a
    UTF-8 codepoint boundary (back off over continuation bytes)."""
    cut = limit
    while cut > 0 and (b[cut] & 0xC0) == 0x80:
        cut -= 1
    return b[:cut]


def _increment_bound(s: str) -> str | None:
    """Smallest-effort string strictly greater than every string with
    prefix ``s``: bump the last codepoint, skipping the surrogate gap
    (U+D800–U+DFFF can't be UTF-8-encoded), carrying past U+10FFFF by
    dropping the char and bumping the previous one.  ``None`` when every
    char is U+10FFFF (no bound exists — legal to omit)."""
    chars = list(s)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            return "".join(chars[:i]) + chr(nxt)
    return None


def _string_pb(mn: bytes, mx: bytes, total_len: int) -> bytes:
    """StringStatistics body (minimum=1, maximum=2, sum=3; lowerBound=4 /
    upperBound=5 for over-limit bounds, matching ColumnStatisticsImpl's
    truncation contract — 1024 UTF-8 *bytes*, backing off to a codepoint
    boundary: lowerBound is a prefix <= the true minimum; upperBound must
    compare > the true maximum, so the last kept codepoint is incremented
    skipping the surrogate gap; when no increment exists the bound is
    omitted — legal, and merely unprunable)."""
    from .orcfile import _f_bytes, _f_varint

    if len(mn) <= STRING_STAT_TRUNCATE:
        body = _f_bytes(1, mn)
    else:
        body = _f_bytes(4, _utf8_prefix(mn, STRING_STAT_TRUNCATE))
    if len(mx) <= STRING_STAT_TRUNCATE:
        body += _f_bytes(2, mx)
    else:
        ub = _increment_bound(_utf8_prefix(mx, STRING_STAT_TRUNCATE).decode("utf-8"))
        if ub is not None:
            body += _f_bytes(5, ub.encode("utf-8"))
    return body + _f_varint(3, _zz(total_len))


def from_pb(spb: dict) -> dict:
    """ColumnStatistics protobuf -> the engine's sarg stats dict
    ({min, max, n_values, n_nulls, *_trunc}).  Only the domains sarg can
    compare are mapped (integer / double / string); anything else yields
    a bounds-free dict, which sarg treats as CANNOT_SKIP — pruning stays
    sound by construction."""
    from .orcread import _parse_pb

    def szz(v: int) -> int:
        return (v >> 1) ^ -(v & 1)

    out: dict = {"n_values": spb.get(1, [None])[0]}
    # hasNull (field 10) is optional and absent in files written before it
    # existed (e.g. some v0.11 writers): leave n_nulls UNKNOWN rather than
    # defaulting to 0 — sarg must answer IS NULL conservatively, not NO.
    if 10 in spb:
        out["n_nulls"] = 1 if spb[10][0] else 0
    if 2 in spb:  # IntegerStatistics (sint64 min/max)
        ist = _parse_pb(spb[2][0])
        if 1 in ist:
            out["min"] = szz(ist[1][0])
        if 2 in ist:
            out["max"] = szz(ist[2][0])
    elif 3 in spb:  # DoubleStatistics (fixed64 doubles)
        dst = _parse_pb(spb[3][0])
        if 1 in dst:
            out["min"] = struct.unpack("<d", int(dst[1][0]).to_bytes(8, "little"))[0]
        if 2 in dst:
            out["max"] = struct.unpack("<d", int(dst[2][0]).to_bytes(8, "little"))[0]
    elif 4 in spb:  # StringStatistics; lowerBound/upperBound (4/5) mark
        # truncated bounds — map to the engine's lossy-bound flags
        sst = _parse_pb(spb[4][0])
        if 1 in sst:
            out["min"] = bytes(sst[1][0]).decode("utf-8", "replace")
        elif 4 in sst:
            out["min"] = bytes(sst[4][0]).decode("utf-8", "replace")
            out["min_trunc"] = True
        if 2 in sst:
            out["max"] = bytes(sst[2][0]).decode("utf-8", "replace")
        elif 5 in sst:
            out["max"] = bytes(sst[5][0]).decode("utf-8", "replace")
            out["max_trunc"] = True
    return out


# --- windows ------------------------------------------------------------------


class Windows:
    """One column's statistics over its row groups, which lie back to back
    in its non-null values (group g holds ``voffs[g]:voffs[g + 1]`` and
    ``nulls[g]`` nulls), and over any run of them.  ``fill(stats, g0,
    g1)`` sets the typed fields of a run that holds values; kinds that
    keep counts only (nested columns) have none."""

    def __init__(self, kind: str, voffs, nulls, fill: Callable | None):
        self.kind = kind
        self.voffs = np.asarray(voffs, np.int64)
        self.ncum = np.concatenate(([0], np.cumsum(nulls, dtype=np.int64)))
        self.fill = fill

    def run(self, g0: int, g1: int) -> ColumnStats:
        """Statistics over row groups ``g0`` .. ``g1 - 1``."""
        a, z = int(self.voffs[g0]), int(self.voffs[g1])
        s = ColumnStats(self.kind, z - a, int(self.ncum[g1] - self.ncum[g0]))
        if z > a and self.fill is not None:
            self.fill(s, g0, g1)
        return s


def _per_group(ufunc: np.ufunc, values: np.ndarray, voffs: np.ndarray) -> list:
    """``ufunc`` reduced over each row group's values, as Python scalars;
    None for an empty group."""
    starts = voffs[:-1]
    full = np.flatnonzero(voffs[1:] > starts)
    out: list = [None] * len(starts)
    for g, v in zip(full.tolist(), ufunc.reduceat(values, starts[full]).tolist()):
        out[g] = v
    return out


def _merge(mins: list, maxs: list, g0: int, g1: int) -> tuple:
    """Least minimum and greatest maximum of the non-empty groups of a
    run: both are order statistics, so the merge is exact."""
    return (
        min(v for v in mins[g0:g1] if v is not None),
        max(v for v in maxs[g0:g1] if v is not None),
    )


def _group_sums(values: np.ndarray, voffs: np.ndarray) -> list[int]:
    """Exact sum of each row group's 64-bit ints as a Python int: the
    sums of the words' high and low 32-bit halves, each exact below 2^31
    values a group.  A run's sum adds its groups' (exact, in any order)."""
    high = _per_group(np.add, values >> 32, voffs)
    low = _per_group(np.add, values & 0xFFFFFFFF, voffs)
    return [0 if h is None else (h << 32) + lo for h, lo in zip(high, low)]


def int_stats(values: np.ndarray, voffs, nulls, kind: str = "int") -> Windows:
    """int64 values: ints, dates (days), timestamps (native unit ticks),
    unscaled decimal64s and list lengths, per ``kind``."""
    voffs = np.asarray(voffs, np.int64)
    mins = _per_group(np.minimum, values, voffs)
    maxs = _per_group(np.maximum, values, voffs)
    sums = _group_sums(values, voffs)

    def fill(s, g0, g1):
        s.minimum, s.maximum = _merge(mins, maxs, g0, g1)
        s.total = sum(sums[g0:g1])

    return Windows(kind, voffs, nulls, fill)


def decimal128_stats(lo: np.ndarray, hi: np.ndarray, voffs, nulls) -> Windows:
    """128-bit unscaled decimals given as (low u64, high i64) word pairs;
    min/max/sum are exact Python ints (DecimalStatisticsImpl keeps exact
    HiveDecimal bounds the same way)."""
    voffs = np.asarray(voffs, np.int64)
    mins: list = []
    maxs: list = []
    for a, z in zip(voffs[:-1].tolist(), voffs[1:].tolist()):
        if z == a:
            mins.append(None)
            maxs.append(None)
            continue
        order = np.lexsort((lo[a:z], hi[a:z]))  # signed high word primary
        i, j = a + int(order[0]), a + int(order[-1])
        mins.append((int(hi[i]) << 64) + int(lo[i]))
        maxs.append((int(hi[j]) << 64) + int(lo[j]))
    sums = [(h << 64) + w for h, w in zip(_group_sums(hi, voffs), _group_sums(lo, voffs))]

    def fill(s, g0, g1):
        s.minimum, s.maximum = _merge(mins, maxs, g0, g1)
        s.total = sum(sums[g0:g1])

    return Windows("decimal", voffs, nulls, fill)


def float_stats(values: np.ndarray, voffs, nulls) -> Windows:
    """float64 values; NaN propagates into min and max."""
    voffs = np.asarray(voffs, np.int64)

    def fill(s, g0, g1):
        v = values[voffs[g0] : voffs[g1]]
        s.minimum, s.maximum, s.total = float(v.min()), float(v.max()), float(v.sum())

    return Windows("float", voffs, nulls, fill)


def string_stats(values: pa.Array, voffs, nulls, kind: str = "string") -> Windows:
    """Non-null values as one ``large_binary`` array.  Binary columns
    keep no min/max (BinaryStatisticsImpl tracks only the byte sum): blob
    bounds are useless for pruning and would bloat every row index."""
    voffs = np.asarray(voffs, np.int64)
    lens = pa.compute.binary_length(values).to_numpy(zero_copy_only=False)
    sums = _group_sums(lens.astype(np.int64), voffs)
    mins: list = []
    maxs: list = []
    if kind == "string":
        for a, z in zip(voffs[:-1].tolist(), voffs[1:].tolist()):
            mm = pa.compute.min_max(values.slice(a, z - a))  # nulls when empty
            mins.append(mm["min"].as_py())
            maxs.append(mm["max"].as_py())

    def fill(s, g0, g1):
        if kind == "string":
            s.minimum, s.maximum = _merge(mins, maxs, g0, g1)
        s.total = sum(sums[g0:g1])

    return Windows(kind, voffs, nulls, fill)


def bool_stats(values: np.ndarray, voffs, nulls) -> Windows:
    """bool values; the sum is the true count, like BooleanStatisticsImpl."""
    voffs = np.asarray(voffs, np.int64)
    trues = _group_sums(values.astype(np.int64), voffs)

    def fill(s, g0, g1):
        n_true = sum(trues[g0:g1])
        s.minimum, s.maximum, s.total = n_true == s.n_values, n_true > 0, n_true

    return Windows("bool", voffs, nulls, fill)


def of_array(arr: pa.Array, bounds: list[tuple[int, int]]) -> Windows:
    """Windows of an ORC column node's (parent-masked) array whose row
    groups are ``bounds``, back to back from row 0.  Nested nodes keep
    counts only."""
    from .orcfile import _decimal_words
    from .stripe import _arrow_nonnull_int64, _is_binary_like, non_null

    t = arr.type
    rows = np.array([lo for lo, _ in bounds] + [bounds[-1][1]], np.int64)
    voffs = rows
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        voffs = np.concatenate(([0], np.cumsum(valid, dtype=np.int64)))[rows]
    nulls = np.diff(rows) - np.diff(voffs)
    if pa.types.is_nested(t):
        return Windows("struct", voffs, nulls, None)
    if pa.types.is_integer(t) or pa.types.is_date32(t):
        return int_stats(_arrow_nonnull_int64(arr), voffs, nulls)
    if pa.types.is_timestamp(t):
        return int_stats(_arrow_nonnull_int64(arr), voffs, nulls, "timestamp")
    if pa.types.is_floating(t):
        vals = non_null(arr).to_numpy(zero_copy_only=False).astype(np.float64)
        return float_stats(vals, voffs, nulls)
    if _is_binary_like(t):
        is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
        return string_stats(
            non_null(arr).cast(pa.large_binary()), voffs, nulls,
            "string" if is_str else "binary",
        )
    if pa.types.is_boolean(t):
        return bool_stats(non_null(arr).to_numpy(zero_copy_only=False), voffs, nulls)
    if pa.types.is_decimal(t):
        return decimal128_stats(*_decimal_words(arr), voffs, nulls)
    raise NotImplementedError(f"orcfile: unsupported type {t}")
