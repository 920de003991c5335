"""Property-based fuzz over the wire-format kernels (hypothesis).

Every kernel must round-trip arbitrary inputs bit-identically — the
`TestNewIntegerEncoding`-style exhaustive-pattern layer (SURVEY §5.1)
generalized to generated data."""

import numpy as np
from hypothesis import given, settings, strategies as st

from sparc.engine import stripe
from sparc.kernels import bitfield, byterle, fsst, rlev1, rlev2

_FAST = settings(max_examples=60, deadline=None)

int64s = st.integers(min_value=-(2**63), max_value=2**63 - 1)
small_ints = st.integers(min_value=-(2**20), max_value=2**20)


@_FAST
@given(st.lists(int64s, max_size=1500))
def test_rlev2_signed_roundtrip(xs):
    v = np.array(xs, dtype=np.int64)
    assert np.array_equal(rlev2.decode(rlev2.encode(v, signed=True), v.size, signed=True), v)


@_FAST
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=1500))
def test_rlev2_unsigned_roundtrip(xs):
    v = np.array(xs, dtype=np.uint64).astype(np.int64)
    out = rlev2.decode(rlev2.encode(v, signed=False), v.size, signed=False)
    assert np.array_equal(out, v)


@_FAST
@given(
    st.lists(small_ints, max_size=400),
    st.integers(min_value=1, max_value=5),
)
def test_rlev2_runs_and_ramps(xs, rep):
    """Repeat/ramp-amplified inputs exercise SHORT_REPEAT/DELTA paths."""
    base = np.repeat(np.array(xs or [0], dtype=np.int64), rep)
    ramp = base + np.arange(base.size)
    for v in (base, ramp):
        assert np.array_equal(
            rlev2.decode(rlev2.encode(v, signed=True), v.size, signed=True), v
        )


_piece = st.tuples(
    st.sampled_from(["ramp", "const", "noise", "outliers"]),
    st.integers(min_value=1, max_value=700),  # length
    st.one_of(small_ints, int64s),  # base / outlier value
    st.integers(min_value=-64, max_value=64),  # step / noise width
)


@_FAST
@given(
    st.lists(_piece, min_size=1, max_size=12),
    st.integers(min_value=513, max_value=5000),
    st.booleans(),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_rlev2_multichunk_mixed(pieces, n, signed, aligned, seed):
    """Inputs spanning several 512-value chunks that mix ramps, constant
    runs, narrow noise and sparse outliers (every sub-encoding, chunk
    boundaries inside and between runs) round-trip, and encoding is
    deterministic."""
    v = _mixed_values(pieces, n, seed)
    enc = rlev2.encode(v, signed=signed, aligned=aligned)
    assert rlev2.encode(v.copy(), signed=signed, aligned=aligned) == enc
    assert np.array_equal(rlev2.decode(enc, n, signed=signed), v)


def _mixed_values(pieces, n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    parts = []
    for kind, m, base, k in pieces:
        if kind == "ramp":
            parts.append(base + k * np.arange(m))
        elif kind == "const":
            parts.append(np.full(m, base))
        elif kind == "noise":
            parts.append(base + rng.integers(0, 2 ** (abs(k) % 40 + 1), m))
        else:
            v = rng.integers(0, 64, m)
            v[rng.random(m) < 0.03] = base
            parts.append(v)
    return np.resize(np.concatenate(parts).astype(np.int64), n)


@_FAST
@given(
    st.lists(_piece, min_size=1, max_size=12),
    st.integers(min_value=513, max_value=5000),
    st.booleans(),
    st.booleans(),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.floats(min_value=0.0, max_value=1.0),
)
def test_rlev2_multichunk_prefix_decode(pieces, n, signed, aligned, seed, frac):
    """Decoding the first ``k`` values of a mixed multi-chunk stream, for a
    random ``k`` that may end inside any run, returns exactly ``v[:k]``."""
    v = _mixed_values(pieces, n, seed)
    k = int(frac * n)
    enc = rlev2.encode(v, signed=signed, aligned=aligned)
    assert np.array_equal(rlev2.decode(enc, k, signed=signed), v[:k])


@_FAST
@given(st.lists(int64s, max_size=800))
def test_rlev1_roundtrip(xs):
    v = np.array(xs, dtype=np.int64)
    assert np.array_equal(rlev1.decode(rlev1.encode(v, signed=True), v.size, signed=True), v)


@_FAST
@given(st.binary(max_size=2000))
def test_byterle_roundtrip(data):
    v = np.frombuffer(data, dtype=np.uint8)
    assert np.array_equal(byterle.decode(byterle.encode(v), v.size), v)


@_FAST
@given(st.lists(st.booleans(), max_size=2000))
def test_bitfield_roundtrip(bits):
    v = np.array(bits, dtype=bool)
    assert np.array_equal(bitfield.decode(bitfield.encode(v), v.size), v)


@settings(max_examples=25, deadline=None)
@given(st.binary(max_size=6000))
def test_fsst_roundtrip_arbitrary_bytes(data):
    table = fsst.train(data[:2048])
    assert fsst.decompress(fsst.compress(data, table), table) == data


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.integers(min_value=-(2**40), max_value=2**40)),
        max_size=300,
    ),
    st.lists(st.one_of(st.none(), st.text(max_size=20)), max_size=300),
)
def test_stripe_roundtrip_fuzz(ints, texts):
    import pyarrow as pa

    n = max(len(ints), len(texts), 1)
    ints = (ints + [None] * n)[:n]
    texts = (texts + [None] * n)[:n]
    t = pa.table(
        {"i": pa.array(ints, pa.int64()), "s": pa.array(texts, pa.string())}
    )
    streams, footer = stripe.encode_stripe(t, row_index_stride=64)
    assert stripe.decode_stripe(streams, footer).equals(t)


# --- nested ORC writer fuzz: random schemas/values -> pyarrow C++ read ------

_leaf_st = st.sampled_from(["int64", "string", "float64", "bool"])


def _leaf_values(kind, n, draw):
    if kind == "int64":
        return [None if draw(st.booleans()) and i % 5 == 0 else draw(small_ints)
                for i in range(n)]
    if kind == "float64":
        return [draw(st.floats(allow_nan=False, width=32)) for _ in range(n)]
    if kind == "bool":
        return [draw(st.booleans()) for _ in range(n)]
    return [None if i % 7 == 3 else draw(st.text(max_size=8)) for i in range(n)]


@settings(max_examples=20, deadline=None)
@given(st.data())
def test_orcfile_nested_fuzz(data):
    """Random list/struct/map-of-leaf tables (with nulls at both levels)
    must cross-read bit-identically through the C++ ORC reader."""
    import pyarrow as pa
    import pyarrow.orc
    import tempfile, os

    from sparc.engine import orcfile

    draw = data.draw
    n = draw(st.integers(min_value=0, max_value=60))
    shape = draw(st.sampled_from(["list", "struct", "map", "list_struct"]))
    leaf = draw(_leaf_st)
    pa_leaf = {"int64": pa.int64(), "string": pa.string(),
               "float64": pa.float64(), "bool": pa.bool_()}[leaf]
    if shape == "list":
        vals = [None if i % 9 == 4 else
                _leaf_values(leaf, i % 4, draw) for i in range(n)]
        arr = pa.array(vals, pa.list_(pa_leaf))
    elif shape == "struct":
        vals = [None if i % 9 == 4 else
                {"a": _leaf_values(leaf, 1, draw)[0]} for i in range(n)]
        arr = pa.array(vals, pa.struct([("a", pa_leaf)]))
    elif shape == "map":
        vals = [None if i % 9 == 4 else
                [(f"k{j}", _leaf_values(leaf, 1, draw)[0]) for j in range(i % 3)]
                for i in range(n)]
        arr = pa.array(vals, pa.map_(pa.string(), pa_leaf))
    else:
        vals = [None if i % 9 == 4 else
                [{"a": _leaf_values(leaf, 1, draw)[0]} for _ in range(i % 3)]
                for i in range(n)]
        arr = pa.array(vals, pa.list_(pa.struct([("a", pa_leaf)])))
    t = pa.table({"x": arr})
    # also fuzz the row-indexed layout: child group windows come from
    # parent present/length prefix sums, PRESENT stays one continuous
    # bit stream — tiny strides maximize boundary cases
    stride = draw(st.sampled_from([0, 8, 16]))
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "f.orc")
        orcfile.write_orc(
            t, p, rows_per_stripe=max(n // 2, 1), row_index_stride=stride
        )
        got = pa.orc.ORCFile(p).read()
        a = got["x"].combine_chunks()
        b = t["x"].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b)


@settings(max_examples=15, deadline=None)
@given(st.data())
def test_orcread_pyarrow_written_fuzz(data):
    """Reverse direction: the C++ ORC writer produces random flat+nested
    tables; OUR kernels must decode them identically to the C++ reader."""
    import pyarrow as pa
    import pyarrow.orc
    import tempfile, os

    from sparc.engine import orcread

    draw = data.draw
    n = draw(st.integers(min_value=1, max_value=50))
    comp = draw(st.sampled_from(["UNCOMPRESSED", "ZLIB", "ZSTD"]))
    ints = [None if i % 6 == 2 else draw(small_ints) for i in range(n)]
    strs = [None if i % 7 == 3 else draw(st.text(max_size=10)) for i in range(n)]
    lists = [None if i % 5 == 4 else
             [draw(small_ints) for _ in range(i % 3)] for i in range(n)]
    t = pa.table(
        {
            "i": pa.array(ints, pa.int64()),
            "s": pa.array(strs, pa.string()),
            "l": pa.array(lists, pa.list_(pa.int64())),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "f.orc")
        pa.orc.write_table(t, p, compression=comp)
        got = orcread.read_orc(p)
        ref = pa.orc.ORCFile(p).read()
        for name in ref.schema.names:
            a = got[name].combine_chunks()
            b = ref[name].combine_chunks()
            if a.type != b.type:
                b = b.cast(a.type)
            assert a.equals(b), name
