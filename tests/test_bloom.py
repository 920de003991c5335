"""ORC's BloomFilterUtf8 in ``sparc.engine.bloom``: the vectorized hash
kernels against the scalar reference, the engine's stripe stream against
``write_orc``'s, probe soundness over column type x literal type, and
bloom streams that do not parse."""

from __future__ import annotations

import datetime as dt
import struct
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from sparc.engine import bloom, orcfile, orcread, stripe
from sparc.fixtures import pages

_FAST = settings(max_examples=60, deadline=None)


# --- vectorized hashes against the scalar reference --------------------------

values = st.one_of(
    st.binary(min_size=0, max_size=17),
    st.text(max_size=12).map(lambda s: s.encode("utf-8")),  # non-ASCII too
    st.binary(min_size=18, max_size=70),
)


@_FAST
@given(
    st.lists(st.one_of(st.none(), values), max_size=60),
    st.integers(0, 5),
    st.sampled_from([pa.binary(), pa.large_binary()]),
)
def test_hash64_matches_scalar_murmur3(vals, skip, typ):
    arr = pa.array(vals, typ).slice(min(skip, len(vals)))  # nonzero offset
    want = [bloom.murmur3_hash64(v) for v in arr.to_pylist() if v is not None]
    assert bloom.hash64(arr).tolist() == want  # nulls dropped


def test_hash64_every_length_and_strings():
    vals = [bytes(range(1, n + 1)) for n in range(18)]  # lengths 0..17
    assert bloom.hash64(pa.array(vals)).tolist() == [bloom.murmur3_hash64(v) for v in vals]
    s = pa.array(["", "é", "日本語テキスト", None, "abcdefgh"], pa.large_string())
    assert bloom.hash64(s).tolist() == [
        bloom.murmur3_hash64(v.encode()) for v in s.to_pylist() if v is not None
    ]
    assert bloom.hash64(pa.array([], pa.string())).tolist() == []


@_FAST
@given(st.lists(st.integers(-(2**63), 2**63 - 1), max_size=40))
def test_long_hash_matches_scalar(keys):
    keys += [0, 1, -1, 2**63 - 1, -(2**63), 2**62, -(2**62)]
    got = bloom.long_hash(np.array(keys, np.int64)).tolist()
    assert got == [bloom._orc_long_hash(k) for k in keys]


# --- the engine's stream is write_orc's BloomFilterIndex ---------------------


def test_engine_url_stream_equals_write_orc_bloom_index(tmp_path):
    """Same column, stride and fpp: the engine's BLOOM_FILTER_UTF8 stream
    and the one ``write_orc`` writes are the same bytes.
    ``test_orcfile``'s bitset tests tie the latter to a live Java
    BloomFilter, word for word."""
    t = pages.generate(4_096, seed=1).select(["url"])
    streams, footer = stripe.encode_stripe(
        t, codec="none", row_index_stride=1_000, bloom_columns=["url"]
    )
    ours = streams[("url", "BLOOM_FILTER_UTF8")]
    path = str(tmp_path / "url.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=t.num_rows, row_index_stride=1_000,
        bloom_columns=["url"], bloom_fpp=bloom.DEFAULT_FPP,
    )
    with open(path, "rb") as f:
        data = f.read()
    _ps, kind, tail = orcread._tail(data, path)
    (st_,) = orcread._stripes(tail)
    _sf, dirs = orcread._stripe_directory(data, st_, kind)
    (theirs,) = [bytes(b) for k, _c, b in dirs if k == "BLOOM_FILTER_UTF8"]
    assert ours == theirs
    filters = bloom.unpack_multi(ours, 5)
    assert [k for _w, k in filters] == [7] * 5
    assert footer["columns"][0]["streams"]["BLOOM_FILTER_UTF8"]["encoded"] == len(ours)


# --- streams that do not parse are absent ------------------------------------


def _legacy_sbm1(n_groups: int, m: int = 9_856, k: int = 7) -> bytes:
    """A stream in the pre-ORC pandas-filter framing: ``SBM1``, a u16
    group count, u32 lengths, then per group ``<u32 m><u8 k><u8 len>``,
    the dtype tag and an all-zero bitset (which would refute anything)."""
    one = struct.pack("<IBB", m, k, 8) + b"object/b" + bytes((m + 7) // 8)
    lens = b"".join(struct.pack("<I", len(one)) for _ in range(n_groups))
    return b"SBM1" + struct.pack("<H", n_groups) + lens + one * n_groups


@pytest.mark.parametrize(
    "blob",
    [
        _legacy_sbm1(4),
        _legacy_sbm1(1),
        b"",
        b"\x0a\x05\x08\x07",
        b"\x0a\x02\x08\x00",
        # all-zero filters cut by one word: a short slice would read the
        # last entry as a valid filter one word smaller
        bloom.pack_multi([(np.zeros(16, np.uint64), 3)] * 4)[:-8],
    ],
    ids=["sbm1", "sbm1-single", "empty", "truncated", "k-zero", "cut-one-word"],
)
def test_unreadable_bloom_stream_keeps_every_group(blob):
    evens = np.arange(0, 8000, 2, dtype=np.int64)
    t = pa.table({"v": pa.array(evens), "tag": pa.array([f"t{v}" for v in evens])})
    streams, footer = stripe.encode_stripe(t, row_index_stride=1000, bloom_columns=["tag"])
    assert stripe.pick_row_groups(footer, ("=", "tag", "t9"), streams=streams) == []
    assert bloom.unpack_multi(blob, 4) is None
    streams[("tag", "BLOOM_FILTER_UTF8")] = blob
    by_stats = stripe.pick_row_groups(footer, ("=", "tag", "t9"))
    assert by_stats == [0]  # "t9" sorts inside group 0's bounds only
    assert stripe.pick_row_groups(footer, ("=", "tag", "t9"), streams=streams) == by_stats
    assert bloom.might_contain_any(blob, pa.string(), "t9", 4)


def test_wrong_group_count_is_absent():
    arr = pa.array([f"k{i}" for i in range(30)])
    blob = bloom.pack_multi(bloom.build(arr, [(0, 10), (10, 20), (20, 30)], 10))
    assert len(bloom.unpack_multi(blob, 3)) == 3
    assert bloom.unpack_multi(blob, 2) is None
    assert bloom.might_contain_any(blob, pa.string(), "absent", 2)
    assert not bloom.might_contain_any(blob, pa.string(), "absent", 3)


@pytest.mark.parametrize("col", [pa.array([True, False] * 8), pa.array([[1]] * 16)])
def test_engine_bloom_on_unsupported_type_raises(tmp_path, col):
    """Bool and nested columns get no bloom filter, as in ``write_orc``:
    asking for one is an error, not a silently missing stream."""
    t = pa.table({"c": col})
    with pytest.raises(NotImplementedError, match="bloom"):
        stripe.encode_stripe(t, row_index_stride=8, bloom_columns=["c"])
    with pytest.raises(NotImplementedError, match="bloom"):
        orcfile.write_orc(t, str(tmp_path / "c.orc"), row_index_stride=8, bloom_columns=["c"])


# --- probe soundness: column type x literal type -----------------------------

# kind -> (arrow type, strategy of stored python values)
COLUMNS = {
    "int64": (pa.int64(), st.integers(-40, 40)),
    "int32": (pa.int32(), st.integers(-40, 40)),
    "date32": (pa.date32(), st.integers(-40, 40).map(
        lambda d: dt.date(1970, 1, 1) + dt.timedelta(days=d))),
    "float64": (pa.float64(), st.sampled_from([-0.0, 0.0, 1.5, -2.0, 3.0, 1e300, 0.1])),
    "float32": (pa.float32(), st.sampled_from([-0.0, 0.0, 1.5, -2.0, 3.0, 0.25])),
    "string": (pa.string(), st.text(alphabet="abé", max_size=3)),
    "binary": (pa.binary(), st.binary(max_size=3)),
    "timestamp": (pa.timestamp("us"), st.integers(-3_000, 3_000).map(
        lambda us: dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us))),
    "decimal": (pa.decimal128(6, 2), st.integers(-500, 500).map(
        lambda u: Decimal(u).scaleb(-2))),
}


def _key(kind: str, v):
    """A stored value in the domain literals compare against."""
    if kind == "date32":
        return (v - dt.date(1970, 1, 1)).days
    if kind == "timestamp":
        return (v - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    return v


def _literals(kind: str, v) -> list:
    """Literals equal to stored value ``v`` in some Python type."""
    k = _key(kind, v)
    if kind in ("string", "binary"):
        out = [k, k.encode("utf-8") if isinstance(k, str) else k]
        try:
            out.append(k.decode("utf-8"))
        except (AttributeError, UnicodeDecodeError):
            pass
        return out
    if kind == "date32":
        return [k, v, float(k), Decimal(k)]
    if kind == "timestamp":
        return [k, v]
    out = [k, float(k), Decimal(k)]
    if float(k).is_integer():
        out.append(int(k))
    return out


def _matches(kind: str, k, lit) -> bool:
    if kind in ("string", "binary"):
        b = lit.encode("utf-8") if isinstance(lit, str) else lit
        return isinstance(b, bytes) and b == (k.encode("utf-8") if isinstance(k, str) else k)
    if kind == "date32" and type(lit) is dt.date:
        lit = _key(kind, lit)
    elif kind == "timestamp" and isinstance(lit, dt.datetime):
        lit = _key(kind, lit)
    return not isinstance(lit, (str, bytes, dt.date)) and k == lit


any_literal = st.one_of(
    st.integers(-40, 40), st.floats(-50, 50), st.text(max_size=2), st.binary(max_size=2),
    st.decimals(-5, 5, places=2), st.dates(), st.datetimes(),
)


@st.composite
def cases(draw):
    kind = draw(st.sampled_from(sorted(COLUMNS)))
    typ, vals = COLUMNS[kind]
    rows = draw(st.lists(st.one_of(st.none(), vals), min_size=1, max_size=40))
    present = [v for v in rows if v is not None]
    if present and draw(st.booleans()):
        lit = draw(st.sampled_from(_literals(kind, draw(st.sampled_from(present)))))
    else:
        lit = draw(any_literal)
    return kind, pa.array(rows, typ), lit


def _holding_groups(kind, arr, lit, stride) -> set[int]:
    return {
        i // stride for i, v in enumerate(arr.to_pylist())
        if v is not None and _matches(kind, _key(kind, v), lit)
    }


@settings(max_examples=150, deadline=None)
@given(cases())
def test_bloom_never_refutes_a_group_holding_the_literal(tmp_path_factory, case):
    """pick_row_groups and read_orc_filtered, each with the bloom
    against without it: the bloom drops no group that holds a row equal
    to the literal (str/bytes, int/float/Decimal and date/datetime
    cross-probes included)."""
    kind, arr, lit = case
    stride = 8
    pred = ("=", "c", lit)
    t = pa.table({"c": arr})
    holding = _holding_groups(kind, arr, lit, stride)

    streams, footer = stripe.encode_stripe(t, row_index_stride=stride, bloom_columns=["c"])
    assert ("c", "BLOOM_FILTER_UTF8") in streams
    all_groups = set(range(len(footer["columns"][0]["row_index"])))
    by_stats = stripe.pick_row_groups(footer, pred)
    with_bloom = stripe.pick_row_groups(footer, pred, streams=streams)
    by_stats = all_groups if by_stats is None else set(by_stats)
    with_bloom = all_groups if with_bloom is None else set(with_bloom)
    assert holding & by_stats <= with_bloom, (kind, lit)

    d = tmp_path_factory.mktemp("orc")
    got = {}
    for name, cols in (("plain", None), ("bloom", ["c"])):
        path = str(d / f"{name}.orc")
        orcfile.write_orc(t, path, row_index_stride=stride, bloom_columns=cols)
        tb, _, _ = orcread.read_orc_filtered(path, pred)
        got[name] = sum(
            _matches(kind, _key(kind, v), lit) for v in tb.column("c").to_pylist() if v is not None
        )
    assert got["bloom"] == got["plain"], (kind, lit)


def test_read_orc_filtered_hashes_by_column_type(tmp_path):
    """An int literal probes a double column as a double, and a float
    literal an int column as a long: the group holding the value stays.
    A zero probes both zeros: -0.0 == 0.0, though their bits differ."""
    i = np.arange(0, 8000, 2)
    d = i.astype(np.float64)
    d[0] = -0.0  # no +0.0 stored
    t = pa.table({"i": pa.array(i, pa.int64()), "d": pa.array(d)})
    path = str(tmp_path / "x.orc")
    orcfile.write_orc(t, path, row_index_stride=1000, bloom_columns=["i", "d"])
    for v in (5000, 5002, 7000):
        for pred in (("=", "d", v), ("=", "i", float(v)), ("=", "d", float(v)), ("=", "i", v)):
            tb, total, kept = orcread.read_orc_filtered(path, pred)
            assert (total, kept) == (4, 1), pred
            assert v in tb.column(pred[1]).to_pylist()
    assert orcread.read_orc_filtered(path, ("=", "d", 5001))[2] == 0
    for z in (0, 0.0, -0.0):
        assert orcread.read_orc_filtered(path, ("in", "d", [z, 3.0]))[2] == 1
