"""SearchArgument-style composite predicates over stripe, row-group and row stats.

The engine-side analog of the reference's three-level predicate pruning
driver (SURVEY.md §2.7): an expression tree of AND / OR / NOT over leaf
predicates (=, <, <=, >, >=, IN, BETWEEN, IS NULL) evaluated against
min/max/null statistics with the reference's six-valued TruthValue
algebra (``org/apache/hadoop/hive/ql/io/sarg/SearchArgument.java``
ExpressionTree + ``RecordReaderImpl.evaluatePredicateMinMax``
RecordReaderImpl.java:812-900).

TruthValue is represented as the *set of row outcomes still possible*
given the stats — a subset of {'Y', 'N', 'U'} (match / no-match /
null-comparison).  YES == {'Y'}, NO_NULL == {'N','U'}, etc.  NOT swaps
Y and N; AND/OR apply Kleene three-valued logic element-wise across the
cartesian product.  This reproduces ORC's TruthValue.and/or/not tables
exactly while staying obviously correct.  A region is prunable iff 'Y'
is not a possible outcome (TruthValue.isNeeded() == false).

Predicates are plain tuples (JSON-able, picklable into executor-side
evaluation):

    ("=", col, v)  ("<", col, v)  ("<=", col, v)  (">", col, v)
    (">=", col, v)  ("in", col, [v, ...])  ("between", col, lo, hi)
    ("is_null", col)
    ("and", p1, p2, ...)  ("or", p1, p2, ...)  ("not", p)

Any type mismatch, missing statistic, or un-normalizable probe degrades
to CANNOT_SKIP ({'Y','N','U'}), the tri-state "cannot skip" semantics
ADVICE.md called for — pruning may only ever be a no-op, never wrong.

One tree drives all three of the reference's levels: stripes and row
groups through :func:`keep` on their statistics (and blooms), rows
through :func:`row_mask` on a decoded table, which drops a row exactly
when :func:`evaluate` refutes that row's own statistics.  The decoded
rows then meet the same tree once more as a Catalyst filter
(:func:`to_sql`), which stays the authority on row semantics.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import stats as stats_mod

YES = frozenset("Y")
NO = frozenset("N")
IS_NULL = frozenset("U")
YES_NULL = frozenset("YU")
NO_NULL = frozenset("NU")
YES_NO = frozenset("YN")
CANNOT_SKIP = frozenset("YNU")  # YES_NO_NULL


def is_needed(tv: frozenset) -> bool:
    """True unless the region provably contains no matching row."""
    return "Y" in tv


def not_(tv: frozenset) -> frozenset:
    return frozenset({"Y": "N", "N": "Y", "U": "U"}[x] for x in tv)


def _and3(x: str, y: str) -> str:
    if x == "N" or y == "N":
        return "N"
    if x == "U" or y == "U":
        return "U"
    return "Y"


def _or3(x: str, y: str) -> str:
    if x == "Y" or y == "Y":
        return "Y"
    if x == "U" or y == "U":
        return "U"
    return "N"


def and_(a: frozenset, b: frozenset) -> frozenset:
    return frozenset(_and3(x, y) for x in a for y in b)


def or_(a: frozenset, b: frozenset) -> frozenset:
    return frozenset(_or3(x, y) for x in a for y in b)


# stats ticks per second of the timestamp units a datetime literal maps
# to.  Nanoseconds are left out: Spark truncates them to microseconds, so a
# nanosecond comparison could refute a row Spark's filter keeps.
_TICKS = {"s": 1, "ms": 1_000, "us": 1_000_000}
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _temporal(probe: dt.date, unit: str | None):
    """A ``datetime`` / ``date`` literal in the stats domain of a column
    whose ``unit`` (``footer_stats``) is a timestamp unit / ``"day"``:
    epoch ticks, a ``Fraction`` when the literal falls between ticks.  A
    naive datetime is local time, as ``_sql_literal`` (and pyspark) read
    it.  TypeError for any other pairing."""
    if isinstance(probe, dt.datetime):
        if unit not in _TICKS:
            raise TypeError(f"datetime literal vs {unit} stats")
        try:
            d = probe.astimezone(dt.timezone.utc) - _EPOCH
        except (OverflowError, ValueError) as e:
            raise TypeError(f"datetime literal {probe} out of range") from e
        us = (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
        q = Fraction(us * _TICKS[unit], 1_000_000)
        return q.numerator if q.denominator == 1 else q
    if unit != "day":
        raise TypeError(f"date literal vs {unit} stats")
    return (probe - dt.date(1970, 1, 1)).days


def _normalize(probe, lo, hi, stats: dict):
    """Coerce (probe, min, max) into one comparable domain, or raise
    TypeError when no safe comparison exists.  Returned min may be ""
    (unbounded below) and max may be None (unbounded above) when the
    stored string bound is lossy."""
    if isinstance(probe, bytes):
        # strict: an invalid-UTF-8 probe has no sound ordering vs string
        # stats; UnicodeDecodeError -> CANNOT_SKIP via the caller
        probe = probe.decode("utf-8")
    if isinstance(probe, dt.date):
        probe = _temporal(probe, stats.get("unit"))
    if isinstance(lo, Decimal):
        # decimal bounds compare exactly with int and finite Decimal
        # literals.  A float literal cannot skip: Spark's residual filter
        # compares a decimal column with a double in double, which an
        # exact comparison could contradict.
        if isinstance(probe, bool) or not isinstance(probe, (int, Decimal)):
            raise TypeError(f"probe {type(probe)} vs decimal stats")
        if isinstance(probe, Decimal) and not probe.is_finite():
            raise TypeError(f"probe {probe} vs decimal stats")
        return probe, lo, hi
    if isinstance(lo, bool) or isinstance(probe, bool):
        return bool(probe), bool(lo), bool(hi)
    if isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
        if isinstance(probe, str):
            probe = float(probe)  # ValueError -> caught by caller
        if not isinstance(probe, (int, float, Fraction)):
            raise TypeError(f"probe {type(probe)} vs numeric stats")
        return probe, lo, hi
    if isinstance(lo, str) and isinstance(hi, str):
        if not isinstance(probe, str):
            raise TypeError(f"probe {type(probe)} vs string stats")
        # Lossy bounds (truncation or replace-decoding, stats._truncate)
        # are not the true extremes: a lossy max is a prefix of an unknown
        # larger value -> +inf; a lossy min may have had U+FFFD injected
        # above the true bytes -> unbounded below ("" sorts <= any str).
        lo_lossy, hi_lossy = stats_mod.lossy_bounds(stats)
        if hi_lossy:
            hi = None
        if lo_lossy:
            lo = ""
        return probe, lo, hi
    raise TypeError(f"unsupported stats domain {type(lo)}/{type(hi)}")


def _with_null(tv: frozenset, has_null: bool) -> frozenset:
    return tv | IS_NULL if has_null else tv


def _eval_leaf(pred: tuple, stats: dict | None, probe=None) -> frozenset:
    """Evaluate one leaf against one column's stats dict
    ({min, max, n_nulls, n_values, kind}).  ``probe`` is an optional
    membership refuter (bloom filter: probe(v) False => definitely
    absent) consulted when min/max alone cannot refute an equality."""
    if stats is None:
        return CANNOT_SKIP
    op = pred[0]
    n_values = stats.get("n_values")
    # n_nulls absent (legacy files without hasNull) => null presence is
    # UNKNOWN: is_null cannot be refuted, and comparisons must assume a
    # null may be present (conservative — only ever widens the answer).
    n_nulls = stats.get("n_nulls")
    has_null = True if n_nulls is None else n_nulls > 0
    if op == "is_null":
        if n_nulls is None:
            return CANNOT_SKIP
        if not has_null:
            return NO
        return YES if n_values == 0 else YES_NO
    if n_values == 0:
        return IS_NULL  # comparisons over an all-null region yield null
    lo, hi = stats.get("min"), stats.get("max")
    if lo is None or hi is None:
        # No comparable bounds (e.g. timestamp/decimal statistics the
        # reader doesn't map) — a bloom filter can still refute equality:
        # probe(v) False means v is definitely absent from the region.
        if probe is not None and op == "=" and not probe(pred[2]):
            return _with_null(NO, has_null)
        if (
            probe is not None and op == "in" and pred[2]
            and not any(probe(v) for v in pred[2])
        ):
            return _with_null(NO, has_null)
        return CANNOT_SKIP
    try:
        if op == "in":
            vals = [_normalize(v, lo, hi, stats) for v in pred[2]]
            if not vals or all(_definitely_out(p, l, h) for p, l, h in vals):
                return _with_null(NO, has_null)
            if probe is not None and not any(probe(v) for v in pred[2]):
                return _with_null(NO, has_null)  # bloom: none present
            s_lo, s_hi = vals[0][1], vals[0][2]
            if s_hi is not None and s_lo == s_hi and any(p == s_lo for p, _, _ in vals):
                return _with_null(YES, has_null)  # constant region, value hit
            return _with_null(YES_NO, has_null)
        if op == "between":
            p_lo, s_lo, s_hi = _normalize(pred[2], lo, hi, stats)
            p_hi, _, _ = _normalize(pred[3], lo, hi, stats)
            if (s_hi is not None and s_hi < p_lo) or s_lo > p_hi:
                return _with_null(NO, has_null)
            if s_lo >= p_lo and (s_hi is not None and s_hi <= p_hi):
                return _with_null(YES, has_null)
            return _with_null(YES_NO, has_null)
        probe_v, s_lo, s_hi = _normalize(pred[2], lo, hi, stats)
        if op == "=":
            if _definitely_out(probe_v, s_lo, s_hi):
                return _with_null(NO, has_null)
            if s_lo == s_hi == probe_v:
                return _with_null(YES, has_null)
            if probe is not None and not probe(pred[2]):
                return _with_null(NO, has_null)  # bloom: definitely absent
            return _with_null(YES_NO, has_null)
        if op == "<":
            if s_hi is not None and s_hi < probe_v:
                return _with_null(YES, has_null)
            if s_lo >= probe_v:
                return _with_null(NO, has_null)
            return _with_null(YES_NO, has_null)
        if op == "<=":
            if s_hi is not None and s_hi <= probe_v:
                return _with_null(YES, has_null)
            if s_lo > probe_v:
                return _with_null(NO, has_null)
            return _with_null(YES_NO, has_null)
        if op == ">":
            if s_lo > probe_v:
                return _with_null(YES, has_null)
            if s_hi is not None and s_hi <= probe_v:
                return _with_null(NO, has_null)
            return _with_null(YES_NO, has_null)
        if op == ">=":
            if s_lo >= probe_v:
                return _with_null(YES, has_null)
            if s_hi is not None and s_hi < probe_v:
                return _with_null(NO, has_null)
            return _with_null(YES_NO, has_null)
    except (TypeError, ValueError):
        return CANNOT_SKIP
    raise ValueError(f"unknown predicate op {op!r}")


def _definitely_out(probe, s_lo, s_hi) -> bool:
    return probe < s_lo or (s_hi is not None and probe > s_hi)


def evaluate(
    pred: tuple, column_stats: dict[str, dict], probes: dict | None = None
) -> frozenset:
    """Evaluate a predicate tree against {column: stats dict}.

    ``probes`` optionally maps column -> membership refuter (bloom:
    callable(v) returning False only when v is definitely absent),
    consulted for =/IN leaves the stats alone cannot refute — the
    ``checkInBloomFilter`` layer (RecordReaderImpl.java:932-978).

    NOTE on NOT: a bloom-refuted leaf returns a *definite* NO, so NOT
    over it is sound (NO -> YES is correct when the value truly isn't
    there)."""
    op = pred[0]
    if op == "and":
        tv = YES
        for child in pred[1:]:
            tv = and_(tv, evaluate(child, column_stats, probes))
        return tv
    if op == "or":
        tv = NO
        for child in pred[1:]:
            tv = or_(tv, evaluate(child, column_stats, probes))
        return tv
    if op == "not":
        return not_(evaluate(pred[1], column_stats, probes))
    probe = probes.get(pred[1]) if probes else None
    return _eval_leaf(pred, column_stats.get(pred[1]), probe)


def keep(
    pred: tuple, column_stats: dict[str, dict], probes: dict | None = None
) -> bool:
    """True if the region (stripe / row group) may contain matches."""
    return is_needed(evaluate(pred, column_stats, probes))


# -- row level ----------------------------------------------------------------
#
# A TruthValue per row is three boolean masks (Y, N, U possible), combined
# with the same Kleene tables as the sets above.  A leaf sees one column's
# non-null values as a *domain*: the values as ``footer_stats`` would store
# them for a one-row region (``_values``) and the representative bound
# ``_normalize`` needs to coerce the literal into that domain once.


def _full(tv: frozenset, n: int) -> tuple:
    return tuple(np.full(n, x in tv) for x in "YNU")


def _and_rows(a: tuple, b: tuple) -> tuple:
    (ya, na, ua), (yb, nb, ub) = a, b
    return ya & yb, na | nb, (ua & (yb | ub)) | (ub & (ya | ua))


def _or_rows(a: tuple, b: tuple) -> tuple:
    (ya, na, ua), (yb, nb, ub) = a, b
    return ya | yb, na & nb, (ua & (ub | nb)) | (ub & (ua | na))


_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1


def _cmp_int(v: np.ndarray, q) -> tuple:
    """(v < q, v == q, v > q) of int64 (or object int) values against an
    int, float or Fraction, exactly as Python compares them."""
    n = len(v)
    if isinstance(q, float) and not np.isfinite(q):  # NaN: both False
        return np.full(n, q > 0), np.zeros(n, bool), np.full(n, q < 0)
    q = Fraction(q)
    fl = q.numerator // q.denominator
    ce = -(-q.numerator // q.denominator)
    no = np.zeros(n, bool)
    if v.dtype == object:  # Python ints: no range to clamp to
        return v < ce, v == fl if fl == ce else no, v > fl
    # v < q  <=>  v < ceil(q);  v > q  <=>  v > floor(q);  clamped to int64
    lt = np.full(n, True) if ce > _I64_MAX else v < max(ce, _I64_MIN)
    gt = np.full(n, True) if fl < _I64_MIN else v > min(fl, _I64_MAX)
    eq = v == fl if fl == ce and _I64_MIN <= fl <= _I64_MAX else no
    return lt, eq, gt


def _cmp_float(v: np.ndarray, p) -> tuple:
    """(v < p, v == p, v > p) of float64 values against an int or float,
    exactly as Python compares them (NaN is unordered)."""
    if isinstance(p, int):
        try:
            f = float(p)
        except OverflowError:
            f = float("inf") if p > 0 else float("-inf")
        if f > p:  # no float lies strictly between p and f
            return v < f, np.zeros(len(v), bool), v >= f
        if f < p:
            return v <= f, np.zeros(len(v), bool), v > f
        p = f
    return v < p, v == p, v > p


def _values(arr: pa.Array):
    """``(values, representative bound, stats for _normalize)`` of a
    non-null column in the stats domain ``footer_stats`` gives it, or
    None when it has none (binary and nested columns)."""
    from . import stripe

    t = arr.type
    if pa.types.is_integer(t) or pa.types.is_date32(t):
        unit = {"unit": "day"} if pa.types.is_date32(t) else {}
        return stripe._arrow_nonnull_int64(arr), 0, unit
    if pa.types.is_timestamp(t):
        return stripe._arrow_nonnull_int64(arr), 0, {"unit": t.unit}
    if pa.types.is_decimal128(t):
        if t.precision <= 18:
            v = stripe._decimal_unscaled_int64(arr)
        else:
            lo, hi = stripe._decimal_unscaled_words(arr)
            v = (hi.astype(object) << 64) + lo.astype(object)
        return v, Decimal(0), {}
    if pa.types.is_floating(t):
        return arr.to_numpy(zero_copy_only=False).astype(np.float64), 0.0, {}
    if pa.types.is_boolean(t):
        return arr.to_numpy(zero_copy_only=False), False, {}
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return arr, "", {"min_trunc": False, "max_trunc": False}
    return None


def _truthy(v) -> np.ndarray:
    """``bool(min)`` of each value's one-row stats: the domain a bool
    literal (or a bool column) moves a comparison to."""
    if isinstance(v, pa.Array):
        return pc.binary_length(v).to_numpy(zero_copy_only=False) > 0
    return v if v.dtype == bool else v != 0


def _cmp(v, t: pa.DataType, p) -> tuple:
    """``((lo <, ==, >), (hi <, ==, >))`` of each value's one-row stats
    bounds against the normalized literal ``p``.  They differ only for a
    string whose stored bound is lossy (``stats._truncate``): its min is
    unbounded below ("") and its max unknown (every test false)."""
    if isinstance(p, bool):
        b = _truthy(v)
        c = (b < p, b == p, b > p)
        return c, c
    if isinstance(v, pa.Array):
        c = tuple(
            f(v, p).to_numpy(zero_copy_only=False)
            for f in (pc.less, pc.equal, pc.greater)
        )
        lossy = pc.or_(
            pc.greater(pc.binary_length(v), stats_mod.STRING_STAT_TRUNCATE),
            pc.match_substring(v, "\ufffd"),
        ).to_numpy(zero_copy_only=False)
        if not lossy.any():
            return c, c
        lo = tuple(np.where(lossy, x, y) for x, y in zip((p != "", p == "", False), c))
        return lo, tuple(y & ~lossy for y in c)
    if pa.types.is_decimal(t):  # unscaled values: scale the literal
        p = Fraction(p) * 10**t.scale
    c = _cmp_float(v, p) if v.dtype == np.float64 else _cmp_int(v, p)
    return c, c


def _leaf_outcome(pred: tuple, v, t: pa.DataType, rep, st: dict) -> tuple:
    """(definitely YES, definitely NO) per non-null value: ``_eval_leaf``
    over a one-row region whose min = max = the value."""
    op = pred[0]
    n = len(v)
    if op == "in":
        probes = [_normalize(x, rep, rep, st)[0] for x in pred[2]]
        if len({isinstance(p, bool) for p in probes}) > 1:
            raise TypeError("bool and non-bool literals in one IN list")
        no, hit = np.full(n, True), np.zeros(n, bool)
        for p in probes:
            (_, lo_eq, lo_gt), (hi_lt, hi_eq, _) = _cmp(v, t, p)
            no &= lo_gt | hi_lt
            hit |= lo_eq & hi_eq
        return hit & ~no, no
    if op == "between":
        p_lo = _normalize(pred[2], rep, rep, st)[0]
        p_hi = _normalize(pred[3], rep, rep, st)[0]
        if isinstance(p_lo, bool) != isinstance(p_hi, bool):
            raise TypeError("bool and non-bool BETWEEN bounds")
        (_, a_eq, a_gt), (a_lt, _, _) = _cmp(v, t, p_lo)
        (_, _, b_gt), (b_lt, b_eq, _) = _cmp(v, t, p_hi)
        no = a_lt | b_gt
        return ~no & (a_gt | a_eq) & (b_lt | b_eq), no
    p = _normalize(pred[2], rep, rep, st)[0]
    (_, lo_eq, lo_gt), (hi_lt, hi_eq, _) = _cmp(v, t, p)
    if op == "=":
        no = lo_gt | hi_lt
        return lo_eq & hi_eq & ~no, no
    yes, no = {
        "<": (hi_lt, lo_gt | lo_eq),
        "<=": (hi_lt | hi_eq, lo_gt),
        ">": (lo_gt, hi_lt | hi_eq),
        ">=": (lo_gt | lo_eq, hi_lt),
    }[op]
    return yes, no & ~yes


def _leaf_rows(pred: tuple, table: pa.Table) -> tuple:
    from .stripe import as_array, non_null

    n = table.num_rows
    if pred[1] not in table.column_names:
        return _full(CANNOT_SKIP, n)
    arr = as_array(table.column(pred[1]))
    null = np.zeros(n, bool)
    if arr.null_count:
        null = arr.is_null().to_numpy(zero_copy_only=False)
    if pred[0] == "is_null":
        return null, ~null, np.zeros(n, bool)
    if pred[0] not in ("=", "<", "<=", ">", ">=", "in", "between"):
        raise ValueError(f"unknown predicate op {pred[0]!r}")
    nn = non_null(arr)
    try:
        dom = _values(nn)
        if dom is None:
            raise TypeError(f"no stats domain for {arr.type}")
        yes, no = _leaf_outcome(pred, dom[0], nn.type, dom[1], dom[2])
        cannot = False
    except (TypeError, ValueError):
        yes = no = np.zeros(len(nn), bool)
        cannot = True  # CANNOT_SKIP
    # a comparison over a null value is null (IS_NULL), whatever the domain
    y, no_, u = np.zeros(n, bool), np.zeros(n, bool), null.copy()
    y[~null], no_[~null], u[~null] = ~no, ~yes, cannot
    return y, no_, u


def _rows(pred: tuple, table: pa.Table) -> tuple:
    op = pred[0]
    if op in ("and", "or"):
        acc, combine = (
            (_full(YES, table.num_rows), _and_rows) if op == "and"
            else (_full(NO, table.num_rows), _or_rows)
        )
        for child in pred[1:]:
            acc = combine(acc, _rows(child, table))
        return acc
    if op == "not":
        y, n, u = _rows(pred[1], table)
        return n, y, u
    return _leaf_rows(pred, table)


def row_mask(pred: tuple, table: pa.Table) -> np.ndarray:
    """Keep-mask of a decoded table's rows: the row-level pruning layer.
    A row is dropped exactly when :func:`evaluate` refutes the statistics
    of a region holding that row alone (min = max = its value, its null
    count), so the three levels prune by one rule.  Columns the table
    lacks, binary and nested columns, and literals that do not normalize
    against a column keep their non-null rows."""
    return _rows(pred, table)[0]


def _sql_literal(v) -> str:
    """``v`` as a Spark SQL literal of the type ``F.lit(v)`` gives it."""
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, Decimal):
        return f"{v}BD"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    if isinstance(v, dt.datetime):
        # a naive datetime is local time, as pyspark converts it
        return f"TIMESTAMP'{v.astimezone().isoformat()}'"
    if isinstance(v, dt.date):
        return f"DATE'{v.isoformat()}'"
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def to_sql(pred: tuple) -> str:
    """Compile a predicate tree to a Spark SQL boolean expression (one
    ``F.expr``, a single JVM round trip) — the row-level filter layer
    (``FilterFactory.createSArgFilter`` FilterFactory.java:111-159): the
    SAME tree drives stripe pruning, row-group pruning, and the residual
    row filter.  Comparisons use Spark semantics on the decoded column
    types, so literals must be comparable to the column: e.g. a timestamp
    column compares against a py-datetime literal, which the pruning
    levels map into their raw-tick statistics (``_temporal``; a
    nanosecond column is not pruned on one)."""
    op = pred[0]
    if op in ("and", "or"):
        return f" {op.upper()} ".join(f"({to_sql(c)})" for c in pred[1:])
    if op == "not":
        return f"NOT ({to_sql(pred[1])})"
    col = "`" + pred[1].replace("`", "``") + "`"
    if op == "is_null":
        return f"{col} IS NULL"
    if op in ("=", "<", "<=", ">", ">="):
        return f"{col} {op} {_sql_literal(pred[2])}"
    if op == "in":
        return f"{col} IN ({', '.join(_sql_literal(v) for v in pred[2])})"
    if op == "between":
        return f"{col} BETWEEN {_sql_literal(pred[2])} AND {_sql_literal(pred[3])}"
    raise ValueError(f"unknown predicate op {op!r}")


def columns_of(pred: tuple) -> set[str]:
    """Column names referenced anywhere in a predicate tree."""
    op = pred[0]
    if op in ("and", "or"):
        out: set[str] = set()
        for child in pred[1:]:
            out |= columns_of(child)
        return out
    if op == "not":
        return columns_of(pred[1])
    return {pred[1]}


def from_range(column: str, lo=None, hi=None) -> tuple:
    """Back-compat: the old single-column (lo, hi) filter as a sarg."""
    if lo is not None and hi is not None:
        return ("between", column, lo, hi)
    if lo is not None:
        return (">=", column, lo)
    if hi is not None:
        return ("<=", column, hi)
    return ("or", ("is_null", column), ("not", ("is_null", column)))  # keep all
