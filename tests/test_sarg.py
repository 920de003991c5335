"""Truth-table tests for the SearchArgument analog (sparc.engine.sarg).

Mirrors the reference's TestRecordReaderImpl pruning truth tables:
``evaluatePredicateMinMax`` leaf semantics (RecordReaderImpl.java:812-900)
and the six-valued TruthValue AND/OR/NOT algebra."""

import pytest

from sparc.engine import sarg
from sparc.engine.sarg import (
    CANNOT_SKIP, IS_NULL, NO, NO_NULL, YES, YES_NO, YES_NULL,
)


def _stats(mn, mx, n_values=100, n_nulls=0, kind="int"):
    return {"kind": kind, "min": mn, "max": mx, "n_values": n_values,
            "n_nulls": n_nulls}


# ---------------------------------------------------------------------------
# leaf truth tables (mirror evaluatePredicateMinMax)
# ---------------------------------------------------------------------------

INT = _stats(10, 100)                       # [10, 100], no nulls
INT_NULLS = _stats(10, 100, n_nulls=5)      # [10, 100] + nulls
CONST = _stats(42, 42)                      # constant region
ALL_NULL = _stats(None, None, n_values=0, n_nulls=100)

LEAF_CASES = [
    # (predicate, stats, expected)
    (("=", "c", 5), INT, NO),
    (("=", "c", 200), INT, NO),
    (("=", "c", 50), INT, YES_NO),
    (("=", "c", 42), CONST, YES),
    (("=", "c", 41), CONST, NO),
    (("=", "c", 50), INT_NULLS, YES_NO | IS_NULL),
    (("=", "c", 5), INT_NULLS, NO_NULL),
    (("<", "c", 10), INT, NO),
    (("<", "c", 11), INT, YES_NO),
    (("<", "c", 101), INT, YES),
    (("<=", "c", 9), INT, NO),
    (("<=", "c", 10), INT, YES_NO),
    (("<=", "c", 100), INT, YES),
    ((">", "c", 100), INT, NO),
    ((">", "c", 99), INT, YES_NO),
    ((">", "c", 9), INT, YES),
    ((">=", "c", 101), INT, NO),
    ((">=", "c", 100), INT, YES_NO),
    ((">=", "c", 10), INT, YES),
    (("in", "c", [1, 5, 200]), INT, NO),
    (("in", "c", [1, 50]), INT, YES_NO),
    (("in", "c", [42, 1]), CONST, YES),
    (("in", "c", []), INT, NO),
    (("between", "c", 1, 5), INT, NO),
    (("between", "c", 101, 200), INT, NO),
    (("between", "c", 1, 200), INT, YES),
    (("between", "c", 10, 100), INT, YES),
    (("between", "c", 50, 200), INT, YES_NO),
    (("is_null", "c"), INT, NO),
    (("is_null", "c"), INT_NULLS, YES_NO),
    (("is_null", "c"), ALL_NULL, YES),
    # comparisons over an all-null region yield null per row
    (("=", "c", 5), ALL_NULL, IS_NULL),
    (("<", "c", 5), ALL_NULL, IS_NULL),
]


@pytest.mark.parametrize("pred,stats,expected", LEAF_CASES)
def test_leaf_truth_table(pred, stats, expected):
    assert sarg.evaluate(pred, {"c": stats}) == expected


def test_missing_column_or_stats_cannot_skip():
    assert sarg.evaluate(("=", "absent", 1), {"c": INT}) == CANNOT_SKIP
    assert sarg.evaluate(("=", "c", 1), {"c": {"kind": "int", "n_values": 5,
                                              "n_nulls": 0, "min": None,
                                              "max": None}}) == CANNOT_SKIP


def test_type_mismatch_cannot_skip():
    s = _stats("aaa", "zzz", kind="string")
    # object probe vs string stats -> no safe comparison -> keep
    assert sarg.evaluate(("=", "c", object()), {"c": s}) == CANNOT_SKIP
    # numeric probe vs string stats
    assert sarg.evaluate(("<", "c", 5), {"c": s}) == CANNOT_SKIP


def test_string_semantics_and_truncated_max():
    s = _stats("ham", "spam", kind="string")
    assert sarg.evaluate(("=", "c", "eggs"), {"c": s}) == NO
    assert sarg.evaluate(("=", "c", "jam"), {"c": s}) == YES_NO
    assert sarg.evaluate(("=", "c", b"jam"), {"c": s}) == YES_NO  # bytes probe ok
    # a max at the truncation limit is only a prefix: upper bound unusable,
    # lower bound still valid
    t = _stats("ham", "x" * 1024, kind="string")
    assert sarg.evaluate(("=", "c", "x" * 2000), {"c": t}) == YES_NO
    assert sarg.evaluate(("=", "c", "aaa"), {"c": t}) == NO


def test_multibyte_truncated_bounds_never_refute():
    """ADVICE r2 (high): a multibyte max truncated at 1024 BYTES decodes to
    < 1024 chars; the old char-length heuristic treated it as exact and
    falsely pruned.  The stats layer now carries explicit lossy flags and
    char-boundary truncation; a lossy bound must never refute a probe that
    could match the untruncated value."""
    import pyarrow as pa

    from sparc.engine import stats as stats_mod

    s = stats_mod.string_stats(
        pa.array([("é" * 800).encode()] * 2, pa.large_binary()), [0, 2], [0]
    ).run(0, 1).to_dict()
    # true max 'é'*800 is 1600 bytes -> stored prefix is ~512 chars; a
    # probe of 'é'*700 (greater than the stored prefix) MUST stay keepable
    assert s["max_trunc"] and s["min_trunc"]
    assert sarg.keep(("=", "c", "é" * 700), {"c": s})
    assert sarg.keep((">", "c", "é" * 700), {"c": s})
    # lossy min: replace-decoding may inject U+FFFD above the true bytes,
    # so '<' over a small probe must also stay keepable
    assert sarg.keep(("<", "c", "a"), {"c": s})
    # char-boundary cut: the stored text must not end in U+FFFD
    assert not s["max"].endswith("�")
    # untruncated multibyte bounds remain exact and still prune
    e = stats_mod.string_stats(
        pa.array(["émx".encode(), "émm".encode()], pa.large_binary()), [0, 2], [0]
    ).run(0, 1).to_dict()
    assert not e["max_trunc"]
    assert not sarg.keep(("=", "c", "é~~~"), {"c": e})


def test_invalid_utf8_probe_and_stats_cannot_skip():
    # an invalid-UTF-8 bytes probe has no sound ordering: CANNOT_SKIP
    s = _stats("ham", "spam", kind="string")
    assert sarg.evaluate(("=", "c", b"\xff\xfe"), {"c": s}) == CANNOT_SKIP
    # binary stats that replace-decoded to U+FFFD are lossy both ways
    from sparc.engine import stats as stats_mod

    b = stats_mod.ColumnStats(
        "binary", 1, 0, minimum=b"\xff\x01", maximum=b"\xff\x02", total=2
    ).to_dict()
    assert b["min_trunc"] and b["max_trunc"]
    assert sarg.keep(("=", "c", "anything"), {"c": b})


# ---------------------------------------------------------------------------
# TruthValue algebra (mirror SearchArgument.TruthValue tables)
# ---------------------------------------------------------------------------


def test_not_table():
    assert sarg.not_(YES) == NO
    assert sarg.not_(NO) == YES
    assert sarg.not_(IS_NULL) == IS_NULL
    assert sarg.not_(YES_NULL) == NO_NULL
    assert sarg.not_(NO_NULL) == YES_NULL
    assert sarg.not_(YES_NO) == YES_NO
    assert sarg.not_(CANNOT_SKIP) == CANNOT_SKIP


def test_and_table():
    assert sarg.and_(YES, YES) == YES
    assert sarg.and_(YES, NO) == NO
    assert sarg.and_(NO, CANNOT_SKIP) == NO       # NO dominates AND
    assert sarg.and_(YES, IS_NULL) == IS_NULL
    assert sarg.and_(YES_NO, YES_NO) == YES_NO
    assert sarg.and_(YES_NULL, YES) == YES_NULL
    assert sarg.and_(NO_NULL, YES) == NO_NULL
    assert sarg.and_(CANNOT_SKIP, CANNOT_SKIP) == CANNOT_SKIP


def test_or_table():
    assert sarg.or_(NO, NO) == NO
    assert sarg.or_(YES, NO) == YES
    assert sarg.or_(YES, CANNOT_SKIP) == YES      # YES dominates OR
    assert sarg.or_(NO, IS_NULL) == IS_NULL
    assert sarg.or_(YES_NO, YES_NO) == YES_NO
    assert sarg.or_(NO_NULL, NO) == NO_NULL
    assert sarg.or_(YES_NULL, NO) == YES_NULL


# ---------------------------------------------------------------------------
# composite trees
# ---------------------------------------------------------------------------


def test_composite_and_or_not():
    stats = {"a": _stats(10, 100), "b": _stats(0, 5)}
    # a in range AND b impossible -> prune
    p = ("and", ("between", "a", 20, 30), ("=", "b", 99))
    assert not sarg.keep(p, stats)
    # a impossible OR b possible -> keep
    p = ("or", ("=", "a", 500), ("<", "b", 3))
    assert sarg.keep(p, stats)
    # NOT of a definite YES -> prune
    p = ("not", ("between", "a", 0, 1000))
    assert not sarg.keep(p, stats)
    # NOT of YES_NO -> still cannot skip
    p = ("not", ("=", "a", 50))
    assert sarg.keep(p, stats)
    # two-clause AND where each clause alone is possible but one is NO
    p = ("and", ("=", "a", 50), ("and", (">", "b", 10), ("<", "a", 90)))
    assert not sarg.keep(p, stats)


def test_keep_semantics_with_nulls():
    stats = {"a": _stats(10, 100, n_nulls=3)}
    assert not sarg.keep(("=", "a", 5), stats)      # NO_NULL: no Y possible
    assert sarg.keep(("is_null", "a"), stats)
    assert not sarg.keep(("=", "a", 5), {"a": ALL_NULL})  # IS_NULL: prune


def test_from_range():
    assert sarg.from_range("c", 1, 5) == ("between", "c", 1, 5)
    assert sarg.from_range("c", 1, None) == (">=", "c", 1)
    assert sarg.from_range("c", None, 5) == ("<=", "c", 5)
    assert sarg.keep(sarg.from_range("c", None, None), {"c": INT})


def test_absent_has_null_is_conservative():
    """ADVICE r3: legacy files written before hasNull existed omit field
    10 — null presence is UNKNOWN, so IS NULL must not be refuted and
    comparisons must keep the null possibility open."""
    s = {"min": 1, "max": 9, "n_values": 10}   # no n_nulls key at all
    assert sarg.evaluate(("is_null", "c"), {"c": s}) == CANNOT_SKIP
    # = outside [min,max] may still skip (null rows don't match =) ...
    assert sarg.evaluate(("=", "c", 99), {"c": s}) in (NO, NO_NULL)
    # ... but a definite YES must be softened by the possible null
    hit = {"min": 5, "max": 5, "n_values": 10}
    assert sarg.evaluate(("=", "c", 5), {"c": hit}) in (YES_NULL, YES_NO, CANNOT_SKIP)


def test_stats_from_pb_absent_hasnull_left_unknown():
    from sparc.engine.orcfile import _f_bytes, _f_varint, _varint
    from sparc.engine.orcread import _parse_pb
    from sparc.engine.stats import from_pb

    def zz(v):
        return (v << 1) ^ (v >> 63) if v < 0 else v << 1

    body = _f_varint(1, zz(3)) + _f_varint(2, zz(7))
    blob = _f_varint(1, 10) + _f_bytes(2, body)   # no field 10
    st = from_pb(_parse_pb(blob))
    assert "n_nulls" not in st
    assert st["min"] == 3 and st["max"] == 7
    blob10 = blob + _varint(10 << 3) + b"\x00"
    assert from_pb(_parse_pb(blob10))["n_nulls"] == 0
