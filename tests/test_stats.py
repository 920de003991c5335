"""The one statistics model (``sparc.engine.stats``): every window a
writer asks for against a brute-force reference taken on that window
alone, the ORC protobuf form parsed back, decimal pruning in the value
domain, and the builders' traced names.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Context, Decimal

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from sparc.engine import orcfile, orcread, sarg, stats, stripe

_FAST = settings(max_examples=60, deadline=None)
_EPOCH = dt.date(1970, 1, 1)

# --- windows against a brute-force reference -----------------------------------

_TYPES = {
    "int": pa.int64(),
    "date": pa.date32(),
    "decimal64": pa.decimal128(12, 3),
    "decimal_big": pa.decimal128(30, 4),
    "timestamp": pa.timestamp("ns"),
    "float": pa.float64(),
    "bool": pa.bool_(),
    "string": pa.string(),
    "binary": pa.binary(),
}
# the engine footer's kind for each
_KINDS = {
    "int": "int", "date": "int", "decimal64": "decimal", "decimal_big": "decimal",
    "timestamp": "timestamp", "float": "float", "bool": "bool", "string": "string",
    "binary": "binary",
}


def _value(kind: str):
    if kind in ("int", "timestamp"):
        return st.integers(-(2**63), 2**63 - 1)
    if kind == "date":
        return st.integers(-700_000, 10**6).map(lambda d: _EPOCH + dt.timedelta(days=d))
    if kind == "decimal64":
        return st.integers(-(10**12) + 1, 10**12 - 1).map(lambda u: Decimal(f"{u}E-3"))
    if kind == "decimal_big":
        return st.integers(-(10**30) + 1, 10**30 - 1).map(lambda u: Decimal(f"{u}E-4"))
    if kind == "float":
        return st.one_of(
            st.floats(allow_nan=False, width=64),
            st.sampled_from([math.nan, math.inf, -math.inf, 0.0, -0.0]),
        )
    if kind == "bool":
        return st.booleans()
    if kind == "string":
        return st.one_of(
            st.text(max_size=8),
            st.integers(1020, 1030).map(lambda n: "é" * (n // 2) + "x" * (n % 2)),
        )
    return st.binary(max_size=12)


@st.composite
def columns(draw):
    kind = draw(st.sampled_from(list(_TYPES)))
    rows = draw(st.lists(st.one_of(st.none(), _value(kind)), max_size=120))
    stride = 8 * draw(st.integers(1, 6))
    split = draw(st.booleans())
    return kind, pa.array(rows, _TYPES[kind]), stride, split


def _cells(kind: str, arr: pa.Array) -> list:
    """The column's cells in the statistics domain: days, unscaled
    decimals, nanosecond ticks, UTF-8 bytes."""
    if kind == "timestamp":
        return arr.cast(pa.int64()).to_pylist()
    cells = arr.to_pylist()
    if kind == "date":
        return [None if v is None else (v - _EPOCH).days for v in cells]
    if kind.startswith("decimal"):
        exact = Context(prec=80)
        return [None if v is None else int(v.scaleb(arr.type.scale, exact)) for v in cells]
    if kind == "string":
        return [None if v is None else v.encode() for v in cells]
    return cells


def _reference(kind: str, cells: list) -> stats.ColumnStats:
    vals = [v for v in cells if v is not None]
    s = stats.ColumnStats(_KINDS[kind], len(vals), len(cells) - len(vals))
    if not vals:
        return s
    if kind == "float":
        nan = any(math.isnan(v) for v in vals)
        s.minimum = math.nan if nan else min(vals)
        s.maximum = math.nan if nan else max(vals)
        s.total = float(np.array(vals, np.float64).sum())
    elif kind == "bool":
        s.minimum, s.maximum, s.total = all(vals), any(vals), sum(vals)
    elif kind == "binary":
        s.total = sum(len(v) for v in vals)
    elif kind == "string":
        s.minimum, s.maximum, s.total = min(vals), max(vals), sum(len(v) for v in vals)
    else:
        s.minimum, s.maximum, s.total = min(vals), max(vals), sum(vals)
    return s


def _key(s: stats.ColumnStats) -> tuple:
    def norm(v):
        return "nan" if isinstance(v, float) and math.isnan(v) else v

    return (s.kind, s.n_values, s.n_nulls, norm(s.minimum), norm(s.maximum), norm(s.total))


@_FAST
@given(columns())
def test_every_window_equals_a_reference_on_that_window_alone(case):
    """Row groups, stripes (a split in two, or one) and the file, as
    ``write_orc`` windows them; row groups and the column, as
    ``encode_column`` writes them into the footer."""
    kind, arr, stride, split = case
    bounds = stripe._row_bounds(len(arr), stride)
    n = len(bounds)
    runs = [(0, n)] if not split or n < 2 else [(0, n // 2), (n // 2, n)]
    cells = _cells(kind, arr)

    def ref(g0: int, g1: int) -> stats.ColumnStats:
        return _reference(kind, cells[bounds[g0][0] : bounds[g1 - 1][1]])

    windows = stats.of_array(arr, bounds)
    for g0, g1 in [(g, g + 1) for g in range(n)] + runs:
        assert _key(windows.run(g0, g1)) == _key(ref(g0, g1)), (g0, g1)

    _streams, meta = stripe.encode_column(arr, "c", "none", False, stride)
    want = [ref(g, g + 1) for g in range(n)] + [ref(0, n)]
    if meta["encoding"] == "dict":
        want[-1].n_distinct = len({v for v in cells if v is not None})
    got = [e["stats"] for e in meta["row_index"]] + [meta["stats"]]
    assert [_dict_key(d) for d in got] == [_dict_key(s.to_dict()) for s in want]


def _dict_key(d: dict) -> tuple:
    return tuple("nan" if isinstance(v, float) and math.isnan(v) else v for v in d.values())


@_FAST
@given(st.sampled_from(["int", "float", "string"]).flatmap(
    lambda k: st.tuples(st.just(k), st.lists(_value(k), min_size=1, max_size=30))
))
def test_to_pb_parses_back_into_the_window_domain(case):
    kind, vals = case
    arr = pa.array(vals, _TYPES[kind])
    s = stats.of_array(arr, [(0, len(arr))]).run(0, 1)
    got = stats.from_pb(orcread._parse_pb(s.to_pb(arr.type, False)))
    assert got["n_values"] == len(vals) and got["n_nulls"] == 0
    if kind == "int":
        assert (got["min"], got["max"]) == (min(vals), max(vals))
    elif kind == "float":
        if all(math.isfinite(v) for v in vals):
            assert (got["min"], got["max"]) == (min(vals), max(vals))
        else:
            assert "min" not in got and "max" not in got  # no DoubleStatistics
    else:
        lo, hi = min(vals), max(vals)
        if len(lo.encode()) <= stats.STRING_STAT_TRUNCATE:
            assert got["min"] == lo and "min_trunc" not in got
        else:
            assert got["min_trunc"] and lo.startswith(got["min"])
        if len(hi.encode()) <= stats.STRING_STAT_TRUNCATE:
            assert got["max"] == hi and "max_trunc" not in got
        else:
            assert got["max_trunc"] and got["max"] > hi


# --- decimal literals prune in the value domain ---------------------------------


@st.composite
def decimal_cases(draw):
    precision = draw(st.sampled_from([6, 12, 18, 19, 28, 38]))
    scale = draw(st.integers(0, min(6, precision)))
    limit = 10 ** min(precision, 30)
    centre = draw(st.integers(-limit // 2, limit // 2))
    unscaled = st.integers(max(-limit + 1, centre - 500), min(limit - 1, centre + 500))
    rows = draw(st.lists(st.one_of(st.none(), unscaled), min_size=1, max_size=80))
    cells = [None if u is None else Decimal(f"{u}E-{scale}") for u in rows]
    present = [c for c in cells if c is not None]

    def literal():
        """A value in the column or near it, as an int when integral half
        of the time."""
        d = draw(st.one_of(
            st.sampled_from(present) if present else st.nothing(),
            unscaled.map(lambda u: Decimal(f"{u}E-{scale}")),
        ))
        return int(d) if d == d.to_integral_value() and draw(st.booleans()) else d

    op = draw(st.sampled_from(["=", "in", "<=", ">=", "between"]))
    if op == "in":
        pred = ("in", "d", [literal() for _ in range(draw(st.integers(1, 3)))])
    elif op == "between":
        pred = ("between", "d", *sorted([literal(), literal()]))
    else:
        pred = (op, "d", literal())
    return pa.array(cells, pa.decimal128(precision, scale)), pred


def _matches(pred: tuple, v: Decimal) -> bool:
    op = pred[0]
    if op == "=":
        return v == pred[2]
    if op == "in":
        return any(v == x for x in pred[2])
    if op == "<=":
        return v <= pred[2]
    if op == ">=":
        return v >= pred[2]
    return pred[2] <= v <= pred[3]


def _kept(footer: dict, pred: tuple) -> set[int]:
    groups = stripe.pick_row_groups(footer, pred)
    n = len(footer["columns"][0]["row_index"])
    return set(range(n)) if groups is None else set(groups)


@settings(max_examples=150, deadline=None)
@given(decimal_cases())
def test_decimal_pruning_never_refutes_a_matching_row(case):
    """No row group and no stripe holding a matching value is refuted, for
    int and Decimal literals; a float literal refutes only all-null ones."""
    arr, pred = case
    stride = 8
    streams, footer = stripe.encode_stripe(pa.table({"d": arr}), row_index_stride=stride)
    cells = arr.to_pylist()
    holding = {i // stride for i, v in enumerate(cells) if v is not None and _matches(pred, v)}
    assert holding <= _kept(footer, pred), pred
    if holding:
        assert sarg.keep(pred, stripe.footer_stats(footer, None)), pred
    as_float = (pred[0], "d", *(
        [float(x) for x in arg] if isinstance(arg, list) else float(arg) for arg in pred[2:]
    ))
    with_values = {i // stride for i, v in enumerate(cells) if v is not None}
    assert with_values <= _kept(footer, as_float), as_float
    if with_values:
        assert sarg.keep(as_float, stripe.footer_stats(footer, None))


def test_decimal_int_and_float_literals_keep_the_groups_holding_them():
    """decimal(6, 2) holding 5.00 in every group: = 5 and = 5.0 keep every
    group and the stripe, as Decimal(5) does; a literal outside the
    column refutes them."""
    t = pa.table({"d": pa.array([Decimal("5.00")] * 960, pa.decimal128(6, 2))})
    _streams, footer = stripe.encode_stripe(t, row_index_stride=96)
    assert len(footer["columns"][0]["row_index"]) == 10
    for lit in (5, 5.0, Decimal(5), Decimal("5.000")):
        assert stripe.pick_row_groups(footer, ("=", "d", lit)) is None, lit
        assert sarg.keep(("=", "d", lit), stripe.footer_stats(footer, None)), lit
    for lit in (6, Decimal("5.01"), 500):
        assert stripe.pick_row_groups(footer, ("=", "d", lit)) == [], lit
        assert not sarg.keep(("=", "d", lit), stripe.footer_stats(footer, None)), lit


# --- the builders run through their traced names ---------------------------------


def _flat_table(n: int = 2_000) -> pa.Table:
    rng = np.random.default_rng(7)
    return pa.table(
        {
            "i": pa.array(rng.integers(-(10**6), 10**6, n), pa.int64()),
            "f": pa.array(rng.normal(size=n)),
            "s": pa.array([f"v{i % 37}" for i in range(n)]),
            "b": pa.array(rng.random(n) < 0.5),
            "d": pa.array([Decimal(int(u)).scaleb(-2) for u in rng.integers(0, 10**6, n)],
                          pa.decimal128(24, 2)),
        }
    )


def test_both_writers_build_stats_through_the_traced_names(tmp_path):
    from perfbench.tracing import Tracer

    t = _flat_table()
    with Tracer().installed() as tracer:
        stripe.encode_stripe(t, row_index_stride=512)
    built = sum(1 for *_, name, _a, _b in tracer.spans if name == "engine.stats.build")
    assert 1 <= built <= t.num_columns
    with Tracer().installed() as tracer:
        orcfile.write_orc(t, str(tmp_path / "t.orc"), row_index_stride=512, rows_per_stripe=1_000)
    assert any(name == "engine.stats.build" for *_, name, _a, _b in tracer.spans)
