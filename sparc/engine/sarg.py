"""SearchArgument-style composite predicates over stripe/rowgroup stats.

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
"""

from __future__ import annotations

from decimal import Decimal

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


def _normalize(probe, lo, hi, stats: dict):
    """Coerce (probe, min, max) into one comparable domain, or raise
    TypeError when no safe comparison exists.  Returned min may be ""
    (unbounded below) and max may be None (unbounded above) when the
    stored string bound is lossy."""
    if isinstance(probe, bytes):
        # strict: an invalid-UTF-8 probe has no sound ordering vs string
        # stats; UnicodeDecodeError -> CANNOT_SKIP via the caller
        probe = probe.decode("utf-8")
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
        if not isinstance(probe, (int, float)):
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


def to_spark_column(pred: tuple):
    """Compile a predicate tree to a Catalyst Column — the row-level
    filter layer (``FilterFactory.createSArgFilter``
    FilterFactory.java:111-159): the SAME tree drives stripe pruning,
    row-group pruning, and the residual row filter.  Comparisons use
    Spark semantics on the decoded column types, so literals must be
    comparable to the column (e.g. a timestamp column compares against a
    timestamp/py-datetime literal, while the stats domain uses raw
    integers — pass the appropriate form at each level)."""
    from pyspark.sql import functions as F

    op = pred[0]
    if op == "and":
        out = to_spark_column(pred[1])
        for child in pred[2:]:
            out = out & to_spark_column(child)
        return out
    if op == "or":
        out = to_spark_column(pred[1])
        for child in pred[2:]:
            out = out | to_spark_column(child)
        return out
    if op == "not":
        return ~to_spark_column(pred[1])
    col = F.col(pred[1])
    if op == "is_null":
        return col.isNull()
    if op == "=":
        return col == F.lit(pred[2])
    if op == "<":
        return col < F.lit(pred[2])
    if op == "<=":
        return col <= F.lit(pred[2])
    if op == ">":
        return col > F.lit(pred[2])
    if op == ">=":
        return col >= F.lit(pred[2])
    if op == "in":
        return col.isin(list(pred[2]))
    if op == "between":
        return col.between(F.lit(pred[2]), F.lit(pred[3]))
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
