"""Stripe encode/decode round-trip tests (TestVectorOrcFile analog).

Every type, with and without nulls, must reconstruct bit-identically;
plus real-testdata round-trips and reference-size sanity.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sparc.engine import stripe

RNG = np.random.default_rng(11)


def _roundtrip(table: pa.Table) -> pa.Table:
    streams, footer = stripe.encode_stripe(table)
    out = stripe.decode_stripe(streams, footer)
    assert out.num_rows == table.num_rows
    for name in table.schema.names:
        expected = table[name].combine_chunks() if isinstance(table[name], pa.ChunkedArray) else table[name]
        actual = out[name].combine_chunks() if isinstance(out[name], pa.ChunkedArray) else out[name]
        assert actual.type == expected.type, f"{name}: {actual.type} != {expected.type}"
        if pa.types.is_floating(actual.type):
            # bit-exact comparison (arrow equals treats NaN != NaN)
            a = actual.fill_null(0).to_numpy(zero_copy_only=False)
            e = expected.fill_null(0).to_numpy(zero_copy_only=False)
            assert np.array_equal(a.view(np.uint64 if a.dtype == np.float64 else np.uint32),
                                  e.view(np.uint64 if e.dtype == np.float64 else np.uint32)), name
            assert actual.is_null().equals(expected.is_null()), name
        else:
            assert actual.equals(expected), f"column {name} mismatch"
    return out


def test_int_roundtrip():
    _roundtrip(pa.table({
        "a": pa.array(RNG.integers(-(2**40), 2**40, 5000), pa.int64()),
        "b": pa.array(RNG.integers(0, 100, 5000), pa.int32()),
    }))


def test_int_with_nulls():
    vals = RNG.integers(0, 1000, 5000).astype(object)
    vals[RNG.random(5000) < 0.3] = None
    _roundtrip(pa.table({"a": pa.array(vals.tolist(), pa.int64())}))


def test_all_null_column():
    _roundtrip(pa.table({"a": pa.array([None] * 100, pa.int64())}))


def test_timestamp_roundtrip():
    base = np.int64(1_704_067_200_000_000)  # 2024-01-01 in us
    us = base + np.cumsum(RNG.integers(0, 5_000_000, 10000))
    _roundtrip(pa.table({"ts": pa.array(us, pa.timestamp("us"))}))


def test_timestamp_pre_2015_and_pre_1970():
    us = np.array([-(10**15), -1, 0, 1, 10**15, 1_420_070_400_000_000], np.int64)
    _roundtrip(pa.table({"ts": pa.array(us, pa.timestamp("us"))}))


def test_timestamp_with_nulls():
    us = [1_700_000_000_000_000, None, 1_700_000_001_500_000, None]
    _roundtrip(pa.table({"ts": pa.array(us, pa.timestamp("us"))}))


def test_format_nanos_contract():
    nanos = np.array([0, 1, 100, 1000, 123456789, 500_000_000, 999_999_999, 10_000_000], np.int64)
    packed = stripe.format_nanos(nanos)
    assert np.array_equal(stripe.parse_nanos(packed), nanos)
    # microsecond-sourced nanos (multiple of 1000) pack small
    assert packed[3] == (1 << 3) | 2  # 1000 = 1 * 10^3 -> zeros=3 -> low3=2


def _format_nanos_scalar(x: int) -> int:
    """One value the way the packing has always been written: the most
    trailing zeros from 7 down to 2 that divide it, as code zeros - 1."""
    if x == 0 or x % 100:
        return x << 3
    z = next(z for z in range(7, 1, -1) if x % 10**z == 0)
    return (x // 10**z) << 3 | (z - 1)


def _parse_nanos_scalar(v: int) -> int:
    zeros = v & 7
    return (v >> 3) * (10 ** (zeros + 1) if zeros else 1)


@pytest.mark.parametrize("unit", ["ns", "us", "ms"])
def test_format_and_parse_nanos_match_scalar_packing(unit):
    """Zeros, values with 0 to 8 trailing zeros (all a nanosecond field
    can hold) and the nanos of ``unit`` timestamps pack and unpack exactly
    as value-by-value packing does, all-zero input included (it skips the
    digit loop)."""
    scale = {"ns": 1, "us": 1_000, "ms": 1_000_000}[unit]
    rng = np.random.default_rng(scale)
    trailing = [d * 10**z for d in rng.integers(1, 10, 100).tolist() for z in range(9)]
    ticks = rng.integers(0, 10**9 // scale, 2_000) * scale
    for nanos in (
        np.zeros(1_000, np.int64),
        np.array([0] * 5 + trailing + [999_999_999, 1, 10, 100_000_000], np.int64),
        ticks,
        np.where(rng.random(2_000) < 0.9, 0, ticks),
    ):
        packed = stripe.format_nanos(nanos)
        assert packed.tolist() == [_format_nanos_scalar(x) for x in nanos.tolist()]
        back = stripe.parse_nanos(packed)
        assert back.tolist() == [_parse_nanos_scalar(x) for x in packed.tolist()]
        assert np.array_equal(back, nanos)


def test_sliced_single_chunk_table_roundtrip():
    """A table sliced at an offset hands the encoder its one chunk as is
    (no combined copy), so every column kind, nested ones included, is
    encoded from an array with a nonzero offset."""
    import conftest

    table = conftest.mixed_orc_table(n=1_500).slice(333, 900)
    assert all(c.num_chunks == 1 and c.chunk(0).offset == 333 for c in table.columns)
    streams, footer = stripe.encode_stripe(table)
    out = stripe.decode_stripe(streams, footer)
    for name in table.column_names:
        assert out.column(name).to_pylist() == table.column(name).to_pylist(), name


def test_float_roundtrip_bitexact():
    vals = RNG.random(5000)
    vals[0] = np.nan
    vals[1] = np.inf
    vals[2] = -0.0
    _roundtrip(pa.table({
        "d": pa.array(vals, pa.float64()),
        "f": pa.array(vals.astype(np.float32), pa.float32()),
    }))


def test_bool_roundtrip():
    _roundtrip(pa.table({"b": pa.array(RNG.integers(0, 2, 1000).astype(bool))}))


def test_string_dict_mode():
    langs = RNG.choice(["en", "zh", "es", "fr", "de"], 5000, p=[0.4, 0.2, 0.2, 0.1, 0.1])
    t = pa.table({"lang": pa.array(langs.tolist(), pa.string())})
    streams, footer = stripe.encode_stripe(t)
    assert footer["columns"][0]["encoding"] == "dict"
    assert footer["columns"][0]["dict_size"] == 5
    out = stripe.decode_stripe(streams, footer)
    assert out["lang"].combine_chunks().equals(t["lang"].combine_chunks())


def test_string_direct_mode_unique():
    urls = [f"https://example{i}.com/p{i}" for i in range(3000)]
    t = pa.table({"url": pa.array(urls, pa.string())})
    streams, footer = stripe.encode_stripe(t)
    assert footer["columns"][0]["encoding"] in ("direct", "direct_fsst")
    _roundtrip(t)


def test_string_with_nulls_and_empties():
    vals = ["", "x", None, "yy", "", None, "zzz"] * 100
    _roundtrip(pa.table({"s": pa.array(vals, pa.string())}))


def test_binary_with_nulls():
    vals = [b"\x00\x01\xff", None, b"", b"abc" * 100] * 50
    _roundtrip(pa.table({"b": pa.array(vals, pa.binary())}))


@pytest.mark.parametrize("t", [pa.string(), pa.large_binary()])
def test_non_null_shares_the_data_buffer_of_empty_null_slots(t):
    arr = pa.array(["ab", None, "", "cde", None, "f"] * 3, t).slice(2, 14)
    nn = stripe.non_null(arr)
    assert nn.buffers()[2].address == arr.buffers()[2].address
    assert nn.to_pylist() == [v for v in arr.to_pylist() if v is not None]


def test_non_null_copies_when_a_null_slot_holds_bytes():
    # offsets 0,1,3,4 with slot 1 null: the null slot spans "bc"
    offs = np.array([0, 1, 3, 4], np.int32)
    valid = pa.py_buffer(np.packbits([1, 0, 1], bitorder="little"))
    arr = pa.Array.from_buffers(
        pa.string(), 3, [valid, pa.py_buffer(offs), pa.py_buffer(b"abcd")], null_count=1
    )
    assert stripe.non_null(arr).to_pylist() == ["a", "d"]


@pytest.mark.parametrize("fmt", [None, 1, "2"])
def test_decode_refuses_other_format_generations(fmt):
    streams, footer = stripe.encode_stripe(pa.table({"x": pa.array([1, 2, 3])}))
    assert footer["format"] == stripe.FORMAT == 2
    footer = dict(footer, stripe_id=4)
    if fmt is None:
        del footer["format"]
    else:
        footer["format"] = fmt
    with pytest.raises(stripe.SparcFormatError, match=f"stripe 4: footer field 'format' is {fmt!r}"):
        stripe.decode_stripe(streams, footer)


def test_binary_never_dictionary():
    # BinaryTreeWriter is always DIRECT in the reference — even a
    # low-cardinality binary column must not build a dictionary (and the
    # 10k-row unique() probe must not run: it was ~40% of blob-column CPU)
    vals = [b"aa", b"bb", b"aa", b"bb"] * 1000
    t = pa.table({"b": pa.array(vals, pa.binary())})
    streams, footer = stripe.encode_stripe(t)
    assert footer["columns"][0]["encoding"] == "direct"
    assert "DICTIONARY_DATA" not in {k for _, k in streams}
    out = stripe.decode_stripe(streams, footer)
    assert out["b"].combine_chunks().equals(t["b"].combine_chunks())


def test_large_types():
    _roundtrip(pa.table({
        "ls": pa.array(["a" * i for i in range(200)], pa.large_string()),
        "lb": pa.array([bytes([i % 256]) * (i % 50) for i in range(200)], pa.large_binary()),
    }))


def test_list_of_floats():
    vecs = [RNG.random(16).astype(np.float32).tolist() for _ in range(500)]
    _roundtrip(pa.table({"emb": pa.array(vecs, pa.list_(pa.float32()))}))


def test_multibyte_utf8_strings():
    vals = ["héllo", "中文网页", "🎉emoji", "plain"] * 200
    _roundtrip(pa.table({"s": pa.array(vals, pa.string())}))


def test_date32():
    days = pa.array(RNG.integers(10000, 20000, 1000).astype(np.int32), pa.int32()).cast(pa.date32())
    _roundtrip(pa.table({"d": days}))


# ---------------------------------------------------------------------------
# the web-page shaped table (input_hint schema) + real testdata
# ---------------------------------------------------------------------------


def test_pages_shaped_table():
    n = 2000
    urls = [f"https://www.site{RNG.integers(0, 50)}.com/page/{i}" for i in range(n)]
    ts = pa.array(
        1_704_067_200_000_000 + np.cumsum(RNG.integers(0, 1_000_000, n)),
        pa.timestamp("us"),
    )
    html = [
        None if RNG.random() < 0.02 else (b"<html><body>" + b"word " * int(RNG.integers(10, 500)) + b"</body></html>")
        for _ in range(n)
    ]
    text = ["word " * int(RNG.integers(5, 100)) for _ in range(n)]
    lang = RNG.choice(["en", "zh", "es", "fr", "de"], n, p=[0.4, 0.2, 0.2, 0.1, 0.1])
    t = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": ts,
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
    })
    streams, footer = stripe.encode_stripe(t)
    out = stripe.decode_stripe(streams, footer)
    # byte-identical text per url — the north rule's per-row invariant
    for col in ("url", "text", "html"):
        assert t[col].combine_chunks().equals(out[col].combine_chunks())
    by_col = {c["name"]: c for c in footer["columns"]}
    assert by_col["lang"]["encoding"] == "dict"
    assert by_col["url"]["encoding"] in ("direct", "direct_fsst")


@pytest.mark.parametrize("table_name", ["documents", "events", "lineitem", "embeddings"])
def test_real_testdata_roundtrip(table_name):
    t = pq.read_table(f"/root/testdata/sf0.001/{table_name}.parquet")
    _roundtrip(t)


def test_compression_beats_raw_on_documents():
    t = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    streams, footer = stripe.encode_stripe(t)
    total = sum(len(v) for v in streams.values())
    raw = sum(
        c["stats"]["sum"] or 0
        for c in footer["columns"]
        if c["stats"]["kind"] in ("string", "binary")
    ) + sum(c["n_rows"] * 8 for c in footer["columns"] if c["stats"]["kind"] == "int")
    assert total < raw * 0.5
