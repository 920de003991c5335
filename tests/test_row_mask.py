"""Row-level pruning (``sarg.row_mask``) and temporal literals in sarg.

The row mask is the third pruning level of the one predicate tree: a row
is dropped exactly when ``sarg.evaluate`` refutes the statistics of a
region that holds that row alone.  The property test builds those one-row
statistics with the engine's own builders (``stats.of_array`` with one
row group per row), maps them through ``stripe.footer_stats`` as the
planner does, and asks ``sarg.keep`` — the oracle the mask must equal on
every scalar column kind.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, seed, settings, strategies as st

from sparc.engine import sarg, stats, stripe

UTC = dt.timezone.utc
TS0 = dt.datetime(2020, 9, 13, 12, 26, 40, tzinfo=UTC)
DAY0 = dt.date(1970, 1, 1)

# column -> (arrow type, value strategy, extra literals).  Values sit in
# narrow ranges so that literals drawn from the same strategy hit them; the
# extra literals fall between or just past them, or outside the domain.
_TS_US = 1_600_000_000_000_000
_BIG = Decimal("12345678901234567890123456789012.345678")
COLUMNS = {
    "i": (pa.int64(), st.one_of(
        st.integers(-3, 3), st.sampled_from([-(2**63), 2**63 - 1, 2**53 + 1])),
        [0.5, -1.5, 2.0**53, 2**63, -(2**63) - 1, 2**70, "2", "nan", math.inf, math.nan]),
    "i32": (pa.int32(), st.integers(-3, 3), [2.5, -0.5, "-1"]),
    "d": (pa.date32(), st.dates(dt.date(1969, 12, 29), dt.date(1970, 1, 3)),
          [-2, 0, 1.5, TS0]),
    "ts_us": (pa.timestamp("us", "UTC"), st.integers(-2, 2).map(
        lambda k: TS0 + dt.timedelta(microseconds=250_000 * k)),
        [TS0.replace(tzinfo=None), TS0 + dt.timedelta(microseconds=1),
         _TS_US, dt.date(2020, 9, 13)]),
    "ts_ms": (pa.timestamp("ms"), st.integers(-2, 2).map(
        lambda k: (TS0 + dt.timedelta(milliseconds=k)).replace(tzinfo=None)),
        [TS0 + dt.timedelta(microseconds=500), TS0 - dt.timedelta(microseconds=1),
         (TS0 + dt.timedelta(milliseconds=1)).replace(tzinfo=None)]),
    "ts_ns": (pa.timestamp("ns", "UTC"), st.integers(-2, 2).map(
        lambda k: _TS_US * 1_000 + k * 500), [_TS_US * 1_000, TS0]),
    "dec": (pa.decimal128(12, 2), st.integers(-300, 300).map(
        lambda k: Decimal(k).scaleb(-2)),
        [Decimal("0.005"), Decimal("-1.015"), Decimal("1E+40"), 1, -2, 1.5,
         Decimal("NaN")]),
    # built from text: Decimal arithmetic would round to 28 digits
    "big": (pa.decimal128(38, 6), st.sampled_from([
        _BIG, Decimal("12345678901234567890123456789012.345677"),
        Decimal("-12345678901234567890123456789012.345678"),
        Decimal("0.000001"), Decimal(0),
    ]), [Decimal("12345678901234567890123456789012.3456775"),
         Decimal("12345678901234567890123456789012.3456785"),
         int(_BIG), int(_BIG) + 1, 0]),
    "f": (pa.float64(), st.one_of(
        st.sampled_from([0.0, -0.0, math.nan, math.inf, -math.inf, 1.0, 2.0**53,
                         2.0**53 + 4]),
        st.floats(-3, 3)),
        # 2**53 + 1 rounds down to a float, 2**53 + 3 up
        [0, 1, 2**53 + 1, 2**53 + 3, 2**1030, -(2**1030), "1.0", "inf", Decimal("1")]),
    "f32": (pa.float32(), st.floats(-3, 3, width=32), [0.1, 1, "0.5"]),
    "b": (pa.bool_(), st.booleans(), [0, 1, 2, "x", "", None]),
    "s": (pa.string(), st.one_of(
        st.sampled_from(["", "a", "ab", "b", "é", "日本", "\ufffd", "a\ufffd",
                         "k" * 1_030, "é" * 600, "k" * 1_024]),
        st.text(max_size=3)),
        ["", "k", "k" * 1_031, "é" * 601, b"ab", b"\xff", 1, "\U0010ffff"]),
    "bin": (pa.binary(), st.binary(max_size=3), [b"a", "a", 1]),
    "rec": (pa.struct([("x", pa.int32())]), st.integers(0, 2).map(lambda x: {"x": x}),
            [0, 1, "a"]),
}

# literals of another type than the column's: every one must either map
# into the column's stats domain or keep the row, on both sides
FOREIGN_LITERALS = [
    None, "1", "abc", b"a", 0, 1, 1.5, 2**70, math.nan, Decimal("1.50"),
    TS0, TS0.replace(tzinfo=None), dt.date(1970, 1, 2),
]
FOREIGN = st.sampled_from(FOREIGN_LITERALS)


def _literal(col: str):
    """A literal for ``col``: one of its own values (as the column holds
    them, or as stats-domain ticks for timestamps and dates), one of its
    extra literals, or a foreign one."""
    _, own, extra = COLUMNS[col]
    if col in ("ts_us", "ts_ms"):
        unit = 1_000_000 if col == "ts_us" else 1_000
        as_int = own.map(lambda v: round(
            (v.replace(tzinfo=v.tzinfo or UTC) - dt.datetime(1970, 1, 1, tzinfo=UTC))
            / dt.timedelta(microseconds=1)) * unit // 1_000_000)
        own = st.one_of(own, as_int)
    if col == "d":
        own = st.one_of(own, own.map(lambda v: (v - DAY0).days))
    if col == "rec":
        own = st.integers(0, 2)
    return st.one_of(own, own, st.sampled_from(extra), FOREIGN)


def _leaf(col: str):
    lit = _literal(col)
    non_bool = lit.filter(lambda v: not isinstance(v, bool))
    bools = st.booleans()
    return st.one_of(
        st.just(("is_null", col)),
        st.tuples(st.sampled_from(["=", "<", "<=", ">", ">="]), st.just(col),
                  st.one_of(lit, bools)),
        # one IN list / BETWEEN never mixes bool and non-bool literals
        st.tuples(st.just("in"), st.just(col), st.one_of(
            st.lists(non_bool, max_size=3), st.lists(bools, max_size=2))),
        st.tuples(st.just("between"), st.just(col), non_bool, non_bool),
        st.tuples(st.just("between"), st.just(col), bools, bools),
    )


LEAVES = st.one_of([_leaf(c) for c in COLUMNS])
PREDICATES = st.recursive(
    LEAVES,
    lambda kids: st.one_of(
        kids.map(lambda k: ("not", k)),
        st.lists(kids, min_size=1, max_size=3).map(lambda ks: ("and", *ks)),
        st.lists(kids, min_size=1, max_size=3).map(lambda ks: ("or", *ks)),
    ),
    max_leaves=5,
)


@st.composite
def tables(draw) -> pa.Table:
    n = draw(st.integers(1, 8))
    cols = {}
    for name, (t, values, _) in COLUMNS.items():
        vals = draw(st.lists(
            st.one_of(st.none(), values, values, values), min_size=n, max_size=n))
        cols[name] = pa.array(vals, t)
    return pa.table(cols)


def _row_stats(table: pa.Table) -> list[dict]:
    """Each row's sarg stats map: the engine's builders over one row
    group per row, then ``footer_stats`` as the planner reads a footer."""
    bounds = [(i, i + 1) for i in range(table.num_rows)]
    columns = []
    for name in table.column_names:
        arr = stripe.as_array(table.column(name))
        meta = {"name": name, "arrow_type": str(arr.type)}
        if pa.types.is_timestamp(arr.type):
            meta["ts_unit"] = arr.type.unit
        if pa.types.is_decimal(arr.type):
            meta["scale"] = arr.type.scale
        columns.append((meta, stats.of_array(arr, bounds)))
    return [
        stripe.footer_stats(
            {"columns": [dict(m, stats=w.run(i, i + 1).to_dict()) for m, w in columns]},
            None,
        )
        for i in range(table.num_rows)
    ]


@seed(20_261_020)
@settings(max_examples=250, deadline=None)
@given(table=tables(), preds=st.lists(PREDICATES, min_size=12, max_size=12))
def test_row_mask_equals_one_row_evaluate(table, preds):
    stats_of = _row_stats(table)
    for pred in preds:
        want = [sarg.keep(pred, s) for s in stats_of]
        assert sarg.row_mask(pred, table).tolist() == want, pred


# Each column's boundary values, for the exhaustive test below: the
# literals of ``COLUMNS`` sit between or just past these.
EDGE_VALUES = {
    "i": [-3, 0, 2, -(2**63), 2**63 - 1, 2**53 + 1],
    "i32": [-3, 0, 2],
    "d": [dt.date(1969, 12, 29), DAY0, dt.date(1970, 1, 3)],
    "ts_us": [TS0 - dt.timedelta(milliseconds=250), TS0, TS0 + dt.timedelta(microseconds=1)],
    "ts_ms": [(TS0 + dt.timedelta(milliseconds=k)).replace(tzinfo=None) for k in (-1, 0, 2)],
    "ts_ns": [_TS_US * 1_000 - 500, _TS_US * 1_000, _TS_US * 1_000 + 1_000],
    "dec": [Decimal("-1.01"), Decimal("0.00"), Decimal("1.00"), Decimal("2.99")],
    "big": [_BIG, Decimal("12345678901234567890123456789012.345677"),
            Decimal("-12345678901234567890123456789012.345678"), Decimal(0)],
    "f": [0.0, -0.0, math.nan, math.inf, -math.inf, 1.0, 2.0**53, 2.0**53 + 4],
    "f32": [0.5, -1.0, 0.1],
    "b": [True, False],
    "s": ["", "a", "ab", "é", "\ufffd", "a\ufffd", "k" * 1_030, "é" * 600, "k" * 1_024],
    "bin": [b"", b"a"],
    "rec": [{"x": 0}, {"x": 1}],
}


def test_row_mask_equals_one_row_evaluate_on_edges():
    """Every comparison of every edge value with every literal of its
    column, plain and negated, on a table that holds each value and a
    null: the deterministic complement of the property test."""
    rows = 1 + max(len(v) for v in EDGE_VALUES.values())
    table = pa.table({
        c: pa.array(([None] + v * rows)[:rows], COLUMNS[c][0])
        for c, v in EDGE_VALUES.items()
    })
    stats_of = _row_stats(table)
    for c, values in EDGE_VALUES.items():
        lits = values + COLUMNS[c][2] + FOREIGN_LITERALS
        for lit in lits + [True, False]:
            leaves = [(op, c, lit) for op in ("=", "<", "<=", ">", ">=")]
            if not isinstance(lit, bool):
                leaves += [("in", c, [lit, values[0]]), ("between", c, lit, values[-1]),
                           ("between", c, values[0], lit)]
            for leaf in leaves:
                for pred in (leaf, ("not", leaf)):
                    want = [sarg.keep(pred, st_) for st_ in stats_of]
                    assert sarg.row_mask(pred, table).tolist() == want, pred


def _ts_stripe():
    """4 row groups of 16 rows, one second apart, and 64 consecutive days."""
    t = pa.table({
        "ts": pa.array([TS0 + dt.timedelta(seconds=i) for i in range(64)],
                       pa.timestamp("us", "UTC")),
        "ms": pa.array([TS0 + dt.timedelta(seconds=i) for i in range(64)],
                       pa.timestamp("ms", "UTC")),
        "d": pa.array([dt.date(2020, 1, 1) + dt.timedelta(days=i) for i in range(64)],
                      pa.date32()),
    })
    return t, stripe.encode_stripe(t, row_index_stride=16)


def _us(v: dt.datetime) -> int:
    return (v - dt.datetime(1970, 1, 1, tzinfo=UTC)) // dt.timedelta(microseconds=1)


@pytest.mark.parametrize("pred_of", [
    lambda v: ("=", "ts", v),
    lambda v: ("between", "ts", v, v + dt.timedelta(seconds=20)),
    lambda v: ("<", "ts", v),
    lambda v: ("in", "ts", [v, v + dt.timedelta(seconds=40)]),
])
def test_datetime_literals_prune_like_their_ticks(pred_of):
    """A datetime literal prunes the groups its epoch ticks prune."""
    _, (_, footer) = _ts_stripe()
    lit = dt.datetime(2020, 9, 13, 12, 27, tzinfo=UTC)

    def ticks(p):
        return tuple(
            [_us(x) for x in v] if isinstance(v, list)
            else _us(v) if isinstance(v, dt.datetime) else v
            for v in p
        )

    typed = stripe.pick_row_groups(footer, pred_of(lit))
    assert typed == stripe.pick_row_groups(footer, ticks(pred_of(lit)))
    assert typed is not None and len(typed) < 4


def test_temporal_literals_map_by_unit():
    t, (_, footer) = _ts_stripe()
    lit = TS0 + dt.timedelta(seconds=30, microseconds=500)
    # between two ticks of a millisecond column: an exact rational
    assert stripe.pick_row_groups(footer, ("<=", "ms", lit)) == [0, 1]
    assert stripe.pick_row_groups(footer, (">", "ms", lit)) == [1, 2, 3]
    assert not sarg.row_mask(("=", "ms", lit), t).any()
    assert np.flatnonzero(sarg.row_mask(("<=", "ms", lit), t)).tolist() == list(range(31))
    day = dt.date(2020, 1, 20)
    assert stripe.pick_row_groups(footer, ("=", "d", day)) == [1]
    assert stripe.pick_row_groups(footer, ("=", "d", (day - DAY0).days)) == [1]
    # a naive datetime is local time, as the SQL literal reads it
    naive = lit.astimezone().replace(tzinfo=None)
    assert stripe.pick_row_groups(footer, ("<=", "ms", naive)) == [0, 1]
    # no mapping across kinds: date vs timestamp, datetime vs date
    assert stripe.pick_row_groups(footer, ("=", "ts", day)) is None
    assert stripe.pick_row_groups(footer, ("=", "d", lit)) is None


def test_nanosecond_columns_keep_datetime_literals_unmapped():
    """Spark truncates nanoseconds to microseconds, so comparing a
    datetime with nanosecond ticks could refute a row Spark keeps."""
    t = pa.table({"ns": pa.array([_us(TS0) * 1_000 + 500], pa.timestamp("ns", "UTC"))})
    assert sarg.row_mask(("=", "ns", TS0), t).tolist() == [True]
    assert sarg.row_mask(("=", "ns", _us(TS0) * 1_000), t).tolist() == [False]


def test_row_mask_on_a_decoded_stripe():
    """The mask of a decoded stripe keeps exactly the matching rows of
    exact domains, whatever the row groups' statistics."""
    t, (streams, footer) = _ts_stripe()
    back = stripe.decode_stripe(streams, footer)
    lo = TS0 + dt.timedelta(seconds=10)
    pred = ("or", ("between", "ts", lo, lo + dt.timedelta(seconds=3)),
            ("=", "d", dt.date(2020, 3, 1)))
    mask = sarg.row_mask(pred, back)
    assert np.flatnonzero(mask).tolist() == [10, 11, 12, 13, 60]
    # a column the table lacks cannot refute anything
    assert sarg.row_mask(("=", "nope", 1), back).all()
    assert sarg.row_mask(("not", ("=", "nope", 1)), back).all()
