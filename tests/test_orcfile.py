"""Reference cross-read: ORC files emitted by our kernels, read back by
two independent conformant readers — pyarrow's C++ ORC reader and (in
the Spark tests) the reference orc-core Java reader itself.  The
strongest available oracle that the kernel wire formats (RLEv2 all four
sub-encodings, byte-RLE bitfields, DICTIONARY_V2 sorted dictionaries,
timestamp split, protobuf tail) match the ORC spec bit-for-bit."""

import numpy as np
import pyarrow as pa
import pyarrow.orc
import pytest

from sparc.engine import orcfile, stats


def _cross_read(table: pa.Table, path, rows_per_stripe=100_000):
    orcfile.write_orc(table, str(path), rows_per_stripe=rows_per_stripe)
    got = pa.orc.ORCFile(str(path)).read()
    assert got.num_rows == table.num_rows
    for name in table.schema.names:
        a = got[name].combine_chunks()
        b = table[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), f"column {name} mismatch"
    return got


def test_scalars_with_nulls(tmp_path):
    t = pa.table(
        {
            "a": pa.array([1, None, 3, -(2**40), 5], pa.int64()),
            "s": pa.array(["x", "y", None, "x", "zz"], pa.string()),
            "d": pa.array([1.5, None, -0.0, 3.25, float("inf")], pa.float64()),
            "b": pa.array([True, False, None, True, None]),
        }
    )
    _cross_read(t, tmp_path / "t.orc")


def test_rlev2_stress_patterns(tmp_path):
    rng = np.random.default_rng(11)
    vals = np.concatenate(
        [
            np.full(2000, -7),                        # short repeat
            np.arange(0, 10000, 3),                   # fixed delta
            rng.integers(-(2**50), 2**50, 4000),      # wide direct
            np.concatenate([np.full(510, 3), [2**55, -(2**55)]] * 4),  # patches
            np.zeros(1000, dtype=np.int64),
            rng.integers(0, 2, 3000),
        ]
    ).astype(np.int64)
    t = pa.table({"v": pa.array(vals, pa.int64())})
    _cross_read(t, tmp_path / "t.orc", rows_per_stripe=5000)


def test_timestamps_and_dates(tmp_path):
    rng = np.random.default_rng(12)
    n = 8000
    base = 1_600_000_000_000_000
    us = base + rng.integers(0, 10**10, n)
    us[::7] = base + (us[::7] - base) // 1_000_000 * 1_000_000  # whole seconds
    t = pa.table(
        {
            "ts": pa.array(us, pa.timestamp("us")),
            "dt": pa.array(rng.integers(-3000, 30000, n).astype(np.int32), pa.date32()),
        }
    )
    _cross_read(t, tmp_path / "t.orc")


def test_dictionary_and_direct_strings(tmp_path):
    rng = np.random.default_rng(13)
    langs = np.array(["en", "de", "fr", "zh", "es"])
    t = pa.table(
        {
            "lang": pa.array(langs[rng.integers(0, 5, 6000)].tolist(), pa.string()),
            "url": pa.array([f"https://e{i}.com/{rng.integers(0,99)}" for i in range(6000)]),
            "payload": pa.array(
                [bytes(rng.integers(0, 256, rng.integers(0, 64)).astype(np.uint8)) for _ in range(6000)],
                pa.binary(),
            ),
        }
    )
    _cross_read(t, tmp_path / "t.orc", rows_per_stripe=2500)


def test_empty_and_single_row(tmp_path):
    t1 = pa.table({"a": pa.array([], pa.int64()), "s": pa.array([], pa.string())})
    _cross_read(t1, tmp_path / "empty.orc")
    t2 = pa.table({"a": pa.array([9], pa.int64()), "s": pa.array(["only"], pa.string())})
    _cross_read(t2, tmp_path / "one.orc")


def test_pages_fixture_cross_read(tmp_path):
    from sparc.fixtures import pages

    t = pages.generate(12_000, seed=42, row_offset=0)
    _cross_read(t, tmp_path / "pages.orc", rows_per_stripe=5000)


def test_zlib_compressed_cross_read(tmp_path):
    """compression=ZLIB: every stream + protobuf section wrapped in the
    reference's 3-byte-header chunked framing (raw DEFLATE,
    store-original-if-bigger) — the C++ reader decoding it is the
    conformance oracle for the compressed-stream contract."""
    from sparc.fixtures import pages

    t = pages.generate(8000, seed=44, row_offset=0)
    path = str(tmp_path / "z.orc")
    orcfile.write_orc(t, path, rows_per_stripe=3000, compression="ZLIB")
    f = pa.orc.ORCFile(path)
    assert f.compression == "ZLIB"
    _cross_read_table(f.read(), t)
    # incompressible payloads exercise the stored-original chunk flag
    rng = np.random.default_rng(9)
    t2 = pa.table(
        {
            "blob": pa.array(
                [bytes(rng.integers(0, 256, 2000).astype(np.uint8)) for _ in range(300)],
                pa.binary(),
            )
        }
    )
    path2 = str(tmp_path / "z2.orc")
    orcfile.write_orc(t2, path2, compression="ZLIB")
    _cross_read_table(pa.orc.ORCFile(path2).read(), t2)


def _cross_read_table(got: pa.Table, want: pa.Table) -> None:
    assert got.num_rows == want.num_rows
    for name in want.schema.names:
        a = got[name].combine_chunks()
        b = want[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name


def test_v011_rlev1_cross_read(tmp_path):
    """version='0.11' emits the legacy RLEv1 layout; the C++ reader
    decoding it is the conformance oracle for the rlev1 kernel."""
    rng = np.random.default_rng(17)
    n = 9000
    t = pa.table(
        {
            "runs": pa.array(
                np.concatenate(
                    [np.full(3000, 5), np.arange(0, 12000, 2)]
                ).astype(np.int64)
            ),
            "rand": pa.array(rng.integers(-(2**45), 2**45, n), pa.int64()),
            "lang": pa.array(
                np.array(["en", "de", "fr"])[rng.integers(0, 3, n)].tolist()
            ),
            "url": pa.array([f"https://v11-{i}.com" for i in range(n)]),
            "nul": pa.array(
                [None if i % 5 == 0 else i for i in range(n)], pa.int64()
            ),
            # v0.11 timestamps: same 2015-epoch split, RLEv1 coders
            "ts": pa.array(
                1_600_000_000_000_000 + rng.integers(-(10**15), 10**10, n),
                pa.timestamp("us"),
            ),
        }
    )
    orcfile.write_orc(t, str(tmp_path / "v11.orc"), rows_per_stripe=4000,
                      version="0.11")
    got = pa.orc.ORCFile(str(tmp_path / "v11.orc")).read()
    for name in t.schema.names:
        a = got[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name


def test_rlev1_kernel_roundtrip():
    from sparc.kernels import rlev1

    rng = np.random.default_rng(2)
    cases = [
        np.arange(1000), np.full(500, 7), np.array([1, 2, 3]), np.array([5]),
        rng.integers(-(10**12), 10**12, 777),
        np.repeat(np.arange(50), rng.integers(1, 8, 50)),
        np.array([], dtype=np.int64),
        np.arange(0, 130 * 4, 1),  # exact MAX_REPEAT chunking
    ]
    for signed in (True, False):
        for c in cases:
            v = c.astype(np.int64)
            if not signed:
                v = np.abs(v)
            dec = rlev1.decode(rlev1.encode(v, signed=signed), v.size, signed=signed)
            assert np.array_equal(dec, v)


def test_spark_java_reader_cross_read(spark, tmp_path):
    """The reference reader itself (orc-core 2.2.2 via Spark) reads our
    file value-identically."""
    from sparc.fixtures import pages

    t = pages.generate(6_000, seed=43, row_offset=0)
    path = str(tmp_path / "pages_spark.orc")
    orcfile.write_orc(t, path, rows_per_stripe=2500)
    got = spark.read.orc(path)
    assert got.count() == 6000
    import pandas as pd

    gp = got.toPandas()
    ep = t.to_pandas()
    assert list(gp.columns) == list(ep.columns)

    def rows(df):
        # full-row multiset compare (urls can repeat, so single-column
        # sorts would misalign); timestamps to raw microseconds
        ts = (
            pd.to_datetime(df["warc_ts"])
            .astype("datetime64[ns]")
            .astype("int64")
            // 1000
        )
        return sorted(
            zip(df["url"], ts, df["html"], df["text"], df["lang"]),
            key=lambda r: (r[0], r[1]),
        )

    assert rows(gp) == rows(ep)


@pytest.mark.parametrize("comp", ["SNAPPY", "ZSTD"])
def test_snappy_zstd_compressed_cross_read(tmp_path, comp):
    """SNAPPY/ZSTD 3-byte-header chunk framing in OUR writer, read back
    by pyarrow's C++ reader AND our own orcread kernels."""
    rng = np.random.default_rng(23)
    n = 20_000
    t = pa.table(
        {
            "i": pa.array(rng.integers(-(10**9), 10**9, n), pa.int64()),
            "s": pa.array([f"val-{i % 91}" for i in range(n)]),
            "f": pa.array(rng.standard_normal(n)),
            "nul": pa.array(
                [None if i % 11 == 0 else i for i in range(n)], pa.int64()
            ),
        }
    )
    path = tmp_path / f"c_{comp}.orc"
    orcfile.write_orc(t, str(path), rows_per_stripe=7000, compression=comp)
    got = pa.orc.ORCFile(str(path)).read()
    for name in t.schema.names:
        a = got[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name
    from sparc.engine import orcread

    ours = orcread.read_orc(str(path))
    assert ours["i"].combine_chunks().equals(t["i"].combine_chunks())


@pytest.mark.parametrize("comp", ["NONE", "ZLIB", "ZSTD"])
def test_row_index_pyarrow_reads(tmp_path, comp):
    """Indexed files (rowIndexStride > 0) stay fully readable."""
    n = 25_000
    t = pa.table(
        {
            "k": pa.array(np.arange(n), pa.int64()),
            "s": pa.array([f"row-{i}" for i in range(n)]),
            "f": pa.array(np.arange(n) * 0.5),
            "b": pa.array([i % 3 == 0 for i in range(n)]),
            "nul": pa.array([None if i % 7 == 0 else i for i in range(n)], pa.int64()),
        }
    )
    path = tmp_path / f"idx_{comp}.orc"
    orcfile.write_orc(
        t, str(path), rows_per_stripe=10_000, row_index_stride=1000,
        compression=comp,
    )
    got = pa.orc.ORCFile(str(path)).read()
    for name in t.schema.names:
        a = got[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name


def test_row_index_java_reader_skips(spark, tmp_path):
    """The reference Java reader must be able to SKIP row groups using
    OUR ROW_INDEX streams: a pushed-down point filter over a sorted
    column seeks via our recorded positions — wrong positions would
    surface as garbage values or a reader exception, so exact results
    here verify the seek contract, not just the happy full-scan path."""
    n = 60_000
    t = pa.table(
        {
            "k": pa.array(np.arange(n), pa.int64()),
            "payload": pa.array([f"payload-{i}" for i in range(n)]),
            "f": pa.array(np.arange(n) * 0.25),
            "nul": pa.array([None if i % 5 == 0 else i * 2 for i in range(n)], pa.int64()),
        }
    )
    path = str(tmp_path / "skip.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=30_000, row_index_stride=1000,
        compression="ZLIB",
    )
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    try:
        df = spark.read.orc(path)
        # point lookups landing mid-stripe: the reader must seek into
        # row group 41 of stripe 1 via our positions
        rows = df.filter("k >= 41000 and k < 41010").orderBy("k").collect()
        assert [r["k"] for r in rows] == list(range(41000, 41010))
        assert [r["payload"] for r in rows] == [
            f"payload-{i}" for i in range(41000, 41010)
        ]
        assert [r["f"] for r in rows] == [i * 0.25 for i in range(41000, 41010)]
        assert [r["nul"] for r in rows] == [
            None if i % 5 == 0 else i * 2 for i in range(41000, 41010)
        ]
        # and a full scan still matches
        assert df.count() == n
    finally:
        spark.conf.unset("spark.sql.orc.filterPushdown")


def _decimal_table(n=9000, seed=31):
    """Deterministic decimal(38,10) + decimal(10,2) columns with nulls
    and mantissas crossing the 64-bit word boundary (the bigdec path)."""
    from decimal import Decimal

    rng = np.random.default_rng(seed)
    hi = rng.integers(-(10**13), 10**13, n, dtype=np.int64)
    lo = rng.integers(0, 10**14, n, dtype=np.int64)
    big = [
        None if i % 13 == 0 else Decimal(int(h) * 10**14 + int(l)).scaleb(-10)
        for i, (h, l) in enumerate(zip(hi, lo))
    ]
    small = [
        None if i % 17 == 0 else Decimal(int(v)).scaleb(-2)
        for i, v in enumerate(rng.integers(-(10**7), 10**7, n))
    ]
    return pa.table(
        {
            "big": pa.array(big, pa.decimal128(38, 10)),
            "small": pa.array(small, pa.decimal128(10, 2)),
        }
    )


@pytest.mark.parametrize("comp", ["NONE", "ZLIB"])
def test_decimal_cross_read(tmp_path, comp):
    """decimal(38,10): our bigdec zigzag-varint mantissa + signed RLE
    scale stream (DecimalTreeWriter semantics, SerializationUtils.
    writeBigInteger SerializationUtils.java:195-217) read back by
    pyarrow's C++ ORC reader AND our own orcread kernels."""
    t = _decimal_table()
    path = str(tmp_path / f"dec_{comp}.orc")
    orcfile.write_orc(t, path, rows_per_stripe=4000, compression=comp)
    got = pa.orc.ORCFile(path).read()
    for name in t.schema.names:
        a = got[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name
    from sparc.engine import orcread

    ours = orcread.read_orc(path)
    for name in t.schema.names:
        assert ours[name].combine_chunks().equals(t[name].combine_chunks()), name


def test_decimal_row_index_cross_read(tmp_path):
    """Indexed decimal columns (per-group varint/RLE restarts) stay
    readable by the C++ reader."""
    t = _decimal_table(n=6000, seed=32)
    path = str(tmp_path / "dec_idx.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=3000, row_index_stride=1000,
        compression="ZLIB",
    )
    got = pa.orc.ORCFile(path).read()
    for name in t.schema.names:
        a = got[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name


def test_decimal_v011_rlev1_scale_stream(tmp_path):
    """v0.11 decimal: same varint mantissa, RLEv1 signed scale stream."""
    t = _decimal_table(n=3000, seed=33)
    path = str(tmp_path / "dec_v11.orc")
    orcfile.write_orc(t, path, rows_per_stripe=1500, version="0.11")
    got = pa.orc.ORCFile(path).read()
    for name in t.schema.names:
        a = got[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name


def test_decimal_spark_java_reader_cross_read(spark, tmp_path):
    """The reference Java reader (orc-core DecimalTreeReader) reads our
    unbounded-decimal file value-identically — the strongest oracle for
    the bigdec kernel's wire format."""
    t = _decimal_table(n=5000, seed=34)
    path = str(tmp_path / "dec_spark.orc")
    orcfile.write_orc(t, path, rows_per_stripe=2000, compression="ZLIB")
    got = spark.read.orc(path)
    assert got.count() == 5000
    gp = got.toPandas()
    ep = t.to_pandas()
    for col in ("big", "small"):
        assert sorted(
            (str(v) for v in gp[col].dropna()),
        ) == sorted(str(v) for v in ep[col].dropna()), col
        assert gp[col].isna().sum() == ep[col].isna().sum(), col


def _nested_table(n=4000):
    tags = [None if i % 13 == 0 else [f"t{j}" for j in range(i % 5)] for i in range(n)]
    pt = [
        {"x": float(i), "y": None if i % 7 == 0 else i * 2} if i % 11 else None
        for i in range(n)
    ]
    mp = [
        None if i % 17 == 0 else [(f"k{j}", j * i) for j in range(i % 4)]
        for i in range(n)
    ]
    deep = [
        None if i % 19 == 0 else {"a": [i, None, i + 1], "b": {"c": f"s{i % 9}"}}
        for i in range(n)
    ]
    return pa.table(
        {
            "tags": pa.array(tags, pa.list_(pa.string())),
            "pt": pa.array(pt, pa.struct([("x", pa.float64()), ("y", pa.int64())])),
            "m": pa.array(mp, pa.map_(pa.string(), pa.int64())),
            "deep": pa.array(
                deep,
                pa.struct(
                    [("a", pa.list_(pa.int64())), ("b", pa.struct([("c", pa.string())]))]
                ),
            ),
            "k": pa.array(np.arange(n), pa.int64()),
        }
    )


@pytest.mark.parametrize("comp", ["NONE", "ZLIB", "ZSTD"])
def test_nested_cross_read(tmp_path, comp):
    """list / struct / map / struct-in-struct columns with nulls at every
    level: pre-order column-id tree, per-level PRESENT + LENGTH streams
    (StructTreeWriter/ListTreeWriter/MapTreeWriter semantics), read back
    by pyarrow's C++ ORC reader and our own orcread kernels."""
    t = _nested_table()
    path = str(tmp_path / f"nested_{comp}.orc")
    orcfile.write_orc(t, path, rows_per_stripe=1500, compression=comp)
    got = pa.orc.ORCFile(path).read()
    for name in t.schema.names:
        a = got[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name
    from sparc.engine import orcread

    ours = orcread.read_orc(path)
    for name in t.schema.names:
        a = ours[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name


def test_nested_v011_cross_read(tmp_path):
    t = _nested_table(n=2000)
    path = str(tmp_path / "nested_v11.orc")
    orcfile.write_orc(t, path, rows_per_stripe=900, version="0.11")
    got = pa.orc.ORCFile(path).read()
    for name in t.schema.names:
        a = got[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name


def test_nested_spark_java_reader_cross_read(spark, tmp_path):
    """The reference Java reader traverses our nested column-id tree."""
    t = _nested_table(n=3000)
    path = str(tmp_path / "nested_spark.orc")
    orcfile.write_orc(t, path, rows_per_stripe=1200, compression="ZLIB")
    df = spark.read.orc(path)
    assert df.count() == 3000
    rows = df.orderBy("k").collect()
    exp = t.to_pylist()
    for r, e in zip(rows, exp):
        assert r["k"] == e["k"]
        assert r["tags"] == e["tags"]
        assert (r["pt"] is None) == (e["pt"] is None)
        if e["pt"] is not None:
            assert r["pt"]["x"] == e["pt"]["x"] and r["pt"]["y"] == e["pt"]["y"]
        em = None if e["m"] is None else dict(e["m"])
        assert r["m"] == em
        assert (r["deep"] is None) == (e["deep"] is None)
        if e["deep"] is not None:
            assert r["deep"]["a"] == e["deep"]["a"]
            assert r["deep"]["b"]["c"] == e["deep"]["b"]["c"]


@pytest.mark.parametrize("comp", ["NONE", "ZLIB"])
def test_nested_row_index_pyarrow_full_read(tmp_path, comp):
    """Row-indexed NESTED file: child streams are segmented through the
    parents' present/length prefix sums, PRESENT stays one continuous
    bit stream (arbitrary, non-multiple-of-8 group boundaries).  A full
    continuous read by the C++ reader catches any boundary drift."""
    t = _nested_table()
    path = str(tmp_path / f"nested_ri_{comp}.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=1500, row_index_stride=504, compression=comp
    )
    got = pa.orc.ORCFile(path).read()
    for name in t.schema.names:
        a = got[name].combine_chunks()
        b = t[name].combine_chunks()
        if a.type != b.type:
            a = a.cast(b.type)
        assert a.equals(b), name


def test_nested_row_index_java_reader_skips(spark, tmp_path):
    """The reference Java reader must SEEK into row groups of a nested
    file via our positions: a pushed-down point filter on the flat sort
    column lands mid-stripe, and every nested column's values at those
    rows must reconstruct exactly — wrong child positions (PRESENT bit
    offsets, LENGTH run offsets, element-space windows) would surface as
    shifted values or a reader exception."""
    n = 60_000
    t = _nested_table(n=n)
    path = str(tmp_path / "nested_skip.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=30_000, row_index_stride=1000,
        compression="ZLIB",
    )
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    try:
        df = spark.read.orc(path)
        rows = df.filter("k >= 41003 and k < 41011").orderBy("k").collect()
        assert [r["k"] for r in rows] == list(range(41003, 41011))
        for r, i in zip(rows, range(41003, 41011)):
            exp_tags = None if i % 13 == 0 else [f"t{j}" for j in range(i % 5)]
            assert r["tags"] == exp_tags, i
            if i % 11:
                assert r["pt"]["x"] == float(i)
                assert r["pt"]["y"] == (None if i % 7 == 0 else i * 2)
            else:
                assert r["pt"] is None
            exp_m = None if i % 17 == 0 else {f"k{j}": j * i for j in range(i % 4)}
            got_m = dict(r["m"]) if r["m"] is not None else None
            assert got_m == exp_m, i
            if i % 19 == 0:
                assert r["deep"] is None
            else:
                assert list(r["deep"]["a"]) == [i, None, i + 1]
                assert r["deep"]["b"]["c"] == f"s{i % 9}"
        assert df.count() == n
    finally:
        spark.conf.unset("spark.sql.orc.filterPushdown")


def test_union_cross_read(tmp_path):
    """ORC UNION (kind 13): byte-RLE TAG stream + per-variant children in
    row order (UnionTreeWriter semantics).  No reference *producer*
    exists in this stack (Spark has no union type), so our writer IS the
    producer and the C++ reader + our own kernels are the two consumers."""
    rng = np.random.default_rng(21)
    n = 3000
    tags = rng.integers(0, 2, n).astype(np.int8)
    offs = np.zeros(n, np.int32)
    for v in (0, 1):
        m = tags == v
        offs[m] = np.arange(m.sum(), dtype=np.int32)
    ints = pa.array(rng.integers(-(10**9), 10**9, int((tags == 0).sum())), pa.int64())
    strs = pa.array([f"u{i % 13}" for i in range(int((tags == 1).sum()))])
    u = pa.UnionArray.from_dense(
        pa.array(tags, pa.int8()), pa.array(offs, pa.int32()), [ints, strs], ["i", "s"]
    )
    t = pa.table({"u": u, "k": pa.array(np.arange(n), pa.int64())})
    for comp in ("NONE", "ZLIB"):
        p = str(tmp_path / f"u_{comp}.orc")
        orcfile.write_orc(t, p, rows_per_stripe=1100, compression=comp)
        got = pa.orc.ORCFile(p).read()  # C++ reader represents it sparse
        assert got["u"].combine_chunks().to_pylist() == u.to_pylist(), comp
        assert got["k"].combine_chunks().equals(t["k"].combine_chunks())
        from sparc.engine import orcread

        ours = orcread.read_orc(p)  # our kernels rebuild it dense
        assert ours["u"].combine_chunks().to_pylist() == u.to_pylist(), comp


def test_union_sparse_input_cross_read(tmp_path):
    """Arrow sparse-mode unions normalize through the same row-order
    per-variant take."""
    rng = np.random.default_rng(22)
    n = 1500
    tags = rng.integers(0, 2, n).astype(np.int8)
    su = pa.UnionArray.from_sparse(
        pa.array(tags, pa.int8()),
        [
            pa.array(rng.integers(0, 99, n), pa.int64()),
            pa.array([f"s{i % 7}" for i in range(n)]),
        ],
    )
    t = pa.table({"u": su})
    p = str(tmp_path / "u_sparse.orc")
    orcfile.write_orc(t, p, rows_per_stripe=700)
    got = pa.orc.ORCFile(p).read()
    assert got["u"].combine_chunks().to_pylist() == [v.as_py() for v in su]


def test_char_varchar_type_overrides(tmp_path, spark):
    """CHAR(n)/VARCHAR(n) wire types (Type proto kinds 17/16 +
    maximumLength) over string streams; write-time pad/truncate
    enforcement is sparc.ops.mask's job.  Both reference readers accept
    the typed file and return the stored (padded) values."""
    vals_c = ["ab ", "cde", "f  ", "xy "]
    vals_v = ["a", "bcdef", "gh", ""]
    t = pa.table({"c": pa.array(vals_c), "v": pa.array(vals_v)})
    path = str(tmp_path / "cv.orc")
    orcfile.write_orc(
        t, path, type_overrides={"c": ("char", 3), "v": ("varchar", 5)}
    )
    # the footer really carries the typed kinds + maximumLength
    from sparc.engine import orcread

    with open(path, "rb") as fh:
        data = fh.read()
    ps = orcread._parse_pb(data[-1 - data[-1] : -1])
    footer = orcread._parse_pb(data[-1 - data[-1] - ps[1][0] : -1 - data[-1]])
    kinds = [
        (orcread._parse_pb(x).get(1, [0])[0], orcread._parse_pb(x).get(4, [None])[0])
        for x in footer[4]
    ]
    assert kinds[1:] == [(17, 3), (16, 5)]
    got = pa.orc.ORCFile(path).read()
    assert got["c"].combine_chunks().to_pylist() == vals_c
    assert got["v"].combine_chunks().to_pylist() == vals_v
    sdf = spark.read.orc(path)
    rows = {r["c"]: r["v"] for r in sdf.collect()}
    assert rows == dict(zip(vals_c, vals_v))
    with pytest.raises(ValueError):
        orcfile.write_orc(
            pa.table({"i": pa.array([1], pa.int64())}),
            str(tmp_path / "bad.orc"),
            type_overrides={"i": ("char", 3)},
        )


def test_nested_edge_cases(tmp_path):
    """Empty nested tables, all-null row-index decimal groups, and a
    single-row union next to a list column."""
    from decimal import Decimal

    from sparc.engine import orcread

    t0 = pa.table(
        {
            "l": pa.array([], pa.list_(pa.int64())),
            "s": pa.array([], pa.struct([("a", pa.string())])),
            "m": pa.array([], pa.map_(pa.string(), pa.int64())),
            "d": pa.array([], pa.decimal128(38, 10)),
        }
    )
    p0 = str(tmp_path / "empty_nested.orc")
    orcfile.write_orc(t0, p0)
    assert pa.orc.ORCFile(p0).read().num_rows == 0
    assert orcread.read_orc(p0).num_rows == 0

    vals = [None] * 1500 + [Decimal(123456789) * 10**10 for _ in range(1500)]
    t1 = pa.table(
        {
            "d": pa.array(vals, pa.decimal128(38, 2)),
            "k": pa.array(np.arange(3000), pa.int64()),
        }
    )
    p1 = str(tmp_path / "dec_nullgroups.orc")
    orcfile.write_orc(
        t1, p1, rows_per_stripe=3000, row_index_stride=1000, compression="ZLIB"
    )
    assert pa.orc.ORCFile(p1).read()["d"].combine_chunks().equals(
        t1["d"].combine_chunks()
    )

    u = pa.UnionArray.from_dense(
        pa.array([0], pa.int8()),
        pa.array([0], pa.int32()),
        [pa.array([7], pa.int64()), pa.array([], pa.string())],
        ["i", "s"],
    )
    t2 = pa.table({"u": u, "l": pa.array([[1, 2]], pa.list_(pa.int64()))})
    p2 = str(tmp_path / "one_union.orc")
    orcfile.write_orc(t2, p2)
    got = pa.orc.ORCFile(p2).read()
    assert got["u"].combine_chunks().to_pylist() == [7]
    assert got["l"].combine_chunks().to_pylist() == [[1, 2]]
    assert orcread.read_orc(p2)["u"].combine_chunks().to_pylist() == [7]


def test_char_varchar_orcread_and_length_guard(tmp_path):
    """Our own kernels read the CHAR/VARCHAR wire types back, and the
    writer refuses values longer than the declared maximumLength (a file
    the reference writer could never produce)."""
    from sparc.engine import orcread

    t = pa.table({"c": pa.array(["ab ", "cde"]), "v": pa.array(["a", "bcdef"])})
    path = str(tmp_path / "cv2.orc")
    orcfile.write_orc(
        t, path, type_overrides={"c": ("char", 3), "v": ("varchar", 5)}
    )
    got = orcread.read_orc(path)
    assert got["c"].combine_chunks().to_pylist() == ["ab ", "cde"]
    assert got["v"].combine_chunks().to_pylist() == ["a", "bcdef"]
    with pytest.raises(ValueError, match="exceeds varchar"):
        orcfile.write_orc(
            pa.table({"v": pa.array(["toolongvalue"])}),
            str(tmp_path / "bad2.orc"),
            type_overrides={"v": ("varchar", 3)},
        )


def test_row_index_typed_stats_java_and_self_prune(spark, tmp_path):
    """Row-group entries carry per-type statistics (Integer + String
    with the 1024-char truncation contract + Double): the reference
    Java reader accepts the file and answers pushed-down string/double
    point filters exactly, and our own read_orc_filtered prunes row
    groups of OUR file via those statistics."""
    from sparc.engine import orcread

    n = 20_000
    t = pa.table(
        {
            "k": pa.array(np.arange(n), pa.int64()),
            "s": pa.array([f"w{i:07d}" for i in range(n)]),
            "f": pa.array(np.arange(n) * 0.25),
            "long_s": pa.array(
                ["é" * 1500 if i % 2 else f"z{i}" for i in range(n)]
            ),
        }
    )
    path = str(tmp_path / "typed_stats.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=10_000, row_index_stride=1000,
        compression="ZLIB",
    )
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    try:
        df = spark.read.orc(path)
        rows = df.filter("s = 'w0014500'").collect()
        assert len(rows) == 1 and rows[0]["k"] == 14500
        rows = df.filter("f >= 1250.0 and f < 1251.0").orderBy("k").collect()
        assert [r["k"] for r in rows] == [5000, 5001, 5002, 5003]
        assert df.count() == n
    finally:
        spark.conf.unset("spark.sql.orc.filterPushdown")
    tb, total, kept = orcread.read_orc_filtered(path, ("=", "s", "w0014500"))
    assert total == 20 and kept == 1
    assert "w0014500" in tb.column("s").to_pylist()
    _, _, kept2 = orcread.read_orc_filtered(
        path, ("and", (">=", "f", 1250.0), ("<", "f", 1500.0))
    )
    assert kept2 <= 3
    # truncated bounds on >1024-char strings must stay sound: the probe
    # exists only in row group 3, and lossy bounds may not lose it
    _, _, kept3 = orcread.read_orc_filtered(path, ("=", "long_s", "z3500"))
    got3, _, _ = orcread.read_orc_filtered(path, ("=", "long_s", "z3500"))
    assert "z3500" in got3.column("long_s").to_pylist()


def test_bloom_bitsets_word_identical_to_java(spark, tmp_path):
    """The strongest writer-side bloom oracle: our emitted bitset words
    equal a live Java BloomFilter (same n/fpp) fed the same values, word
    for word — then the whole loop closes: our writer's blooms prune our
    consumer's reads of our file, and the Java reader still reads the
    file exactly."""
    from sparc.engine import bloom

    jvm = spark.sparkContext._jvm
    n = 2000
    vals = [f"key-{i*2:06d}" for i in range(n)]
    ints = [i * 3 for i in range(n)]
    for fpp in (0.05, 0.01):
        jbf = jvm.org.apache.orc.util.BloomFilterUtf8(n, fpp)
        for v in vals:
            jbf.addBytes(bytearray(v.encode()), 0, len(v))
        [(ours, k)] = bloom.build(pa.array(vals), [(0, n)], n, fpp)
        assert k == jbf.getNumHashFunctions()
        theirs = np.array(list(jbf.getBitSet()), np.int64).astype(np.uint64)
        assert np.array_equal(ours, theirs), f"string bitset fpp={fpp}"
        jbf2 = jvm.org.apache.orc.util.BloomFilterUtf8(n, fpp)
        for v in ints:
            jbf2.addLong(v)
        [(ours2, k2)] = bloom.build(pa.array(ints, pa.int64()), [(0, n)], n, fpp)
        assert k2 == jbf2.getNumHashFunctions()
        theirs2 = np.array(list(jbf2.getBitSet()), np.int64).astype(np.uint64)
        assert np.array_equal(ours2, theirs2), f"long bitset fpp={fpp}"
    # end-to-end: our file, our consumer, reference layout
    t = pa.table(
        {
            "k": pa.array(np.arange(20_000) * 2, pa.int64()),
            "s": pa.array([f"u-{i*2:07d}" for i in range(20_000)]),
        }
    )
    path = str(tmp_path / "bloomed.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=10_000, row_index_stride=1000,
        compression="ZLIB", bloom_columns=["k", "s"],
    )
    df = spark.read.orc(path)  # Java reader accepts the bloomed file
    assert df.count() == 20_000
    assert df.filter("k = 20000").count() == 1
    from sparc.engine import orcread as orv

    # absent-but-in-range probes: only blooms can refute -> all pruned
    _, total, kept = orv.read_orc_filtered(path, ("=", "k", 20_001))
    assert total == 20 and kept == 0, (total, kept)
    _, _, kept2 = orv.read_orc_filtered(path, ("=", "s", "u-0020001"))
    assert kept2 == 0
    # present probes never refuted
    got, _, kept3 = orv.read_orc_filtered(path, ("=", "s", "u-0020000"))
    assert kept3 >= 1 and "u-0020000" in got.column("s").to_pylist()


def test_string_stats_surrogate_boundary_truncation(tmp_path):
    """ADVICE r3 (medium): a string whose 1024-byte truncation point lands
    on U+D7FF must not crash the row-index writer — the incremented upper
    bound would fall in the surrogate gap; the writer must skip to U+E000
    (still a valid strictly-greater bound)."""
    danger = "a" * 1023 + "퟿" + "tail-beyond-truncation" * 10
    t = pa.table({"s": pa.array([danger, "zz"] * 64, pa.string())})
    p = tmp_path / "surrogate.orc"
    orcfile.write_orc(t, str(p), row_index_stride=8)  # crashed before fix
    got = pa.orc.ORCFile(str(p)).read()
    assert got["s"].combine_chunks().equals(t["s"].combine_chunks())


def test_string_stats_truncate_on_utf8_bytes(tmp_path):
    """ADVICE r3 (low): truncation limit is 1024 UTF-8 *bytes* per the
    reference ColumnStatisticsImpl, not 1024 chars — a 600-char multibyte
    string (1800 bytes) must get truncated lowerBound/upperBound, on a
    codepoint boundary."""
    mn = "é" * 600              # 1200 bytes, 600 chars
    mx = "中" * 600              # 1800 bytes, 600 chars
    blob = stats.ColumnStats(
        "string", 4, 0, mn.encode(), mx.encode(), 3000
    ).to_pb(pa.string(), False)
    from sparc.engine.orcread import _parse_pb
    sst = _parse_pb(_parse_pb(blob)[4][0])
    assert 1 not in sst and 4 in sst            # lowerBound, not minimum
    lb = bytes(sst[4][0])
    assert len(lb) <= 1024
    lb.decode("utf-8")                          # codepoint boundary held
    assert 2 not in sst and 5 in sst            # upperBound, not maximum
    ub = bytes(sst[5][0]).decode("utf-8")
    assert ub > mx                              # strictly greater bound


def test_increment_bound_edge_cases():
    assert stats._increment_bound("ab") == "ac"
    # U+D7FF bumps past the surrogate gap
    assert stats._increment_bound("a퟿") == "a\ue000"
    # U+10FFFF carries into the previous char
    assert stats._increment_bound("a\U0010ffff") == "b"
    # all-max string has no bound
    assert stats._increment_bound("\U0010ffff\U0010ffff") is None


def test_bloom_columns_typo_raises(tmp_path):
    """ADVICE r3 (low): unknown bloom_columns entries must raise, not
    silently emit a bloom-less file."""
    t = pa.table({"s": pa.array(["x", "y"]), "v": pa.array([1, 2])})
    with pytest.raises(ValueError, match="bloom_columns"):
        orcfile.write_orc(
            t, str(tmp_path / "x.orc"), bloom_columns=["s", "vv"],
            row_index_stride=8,
        )
    # blooms are row-index entries: without a stride there is nowhere
    # to put them, so the request must fail rather than be dropped
    with pytest.raises(ValueError, match="bloom_columns.*row_index_stride"):
        orcfile.write_orc(t, str(tmp_path / "y.orc"), bloom_columns=["s"])


def test_bloom_double_bitsets_word_identical_to_java(spark, tmp_path):
    """Round-3 gap: BloomFilter.addDouble parity — our
    doubleToLongBits -> Thomas-Wang path must equal a live Java
    BloomFilterUtf8 fed the same doubles, word for word (incl. the
    canonical-NaN and -0.0 bit patterns)."""
    from sparc.engine import bloom

    jvm = spark.sparkContext._jvm
    vals = [i * 0.5 - 37.25 for i in range(800)] + [
        float("nan"), float("inf"), float("-inf"), -0.0, 0.0,
    ]
    for fpp in (0.05, 0.01):
        jbf = jvm.org.apache.orc.util.BloomFilterUtf8(len(vals), fpp)
        for v in vals:
            jbf.addDouble(float(v))
        [(ours, k)] = bloom.build(
            pa.array(vals, pa.float64()), [(0, len(vals))], len(vals), fpp
        )
        assert k == jbf.getNumHashFunctions()
        theirs = np.array(list(jbf.getBitSet()), np.int64).astype(np.uint64)
        assert np.array_equal(ours, theirs), f"double bitset fpp={fpp}"


def test_bloom_double_end_to_end_prune(tmp_path):
    """Our writer emits double blooms; read_orc_filtered refutes an
    absent-but-in-range double probe via the bloom alone, zero matches
    lost on present probes."""
    from sparc.engine import orcread as orv

    n = 8000
    t = pa.table({"x": pa.array(np.arange(n) * 2.0, pa.float64())})
    path = str(tmp_path / "dbloom.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=4000, row_index_stride=1000,
        compression="ZLIB", bloom_columns=["x"], bloom_fpp=0.001,
    )
    # odd value: inside [min,max] everywhere, absent everywhere
    _, total, kept = orv.read_orc_filtered(path, ("=", "x", 3.0))
    assert total == 8 and kept == 0, (total, kept)
    got, _, kept2 = orv.read_orc_filtered(path, ("=", "x", 6000.0))
    assert kept2 >= 1 and 6000.0 in got.column("x").to_pylist()


def test_bloom_ts_decimal_java_written_prune(spark, tmp_path):
    """Role-swapped: the reference Java writer's own timestamp/decimal/
    double bloom streams refute our absent probes (forms validated
    against the live writer: ts=addLong(millis), dec=addString of the
    trailing-zero-stripped plain string)."""
    import glob
    import datetime as dt
    from decimal import Decimal
    import pandas as pd
    from sparc.engine import orcread as orv

    n = 4000
    pdf = pd.DataFrame({
        "d": np.arange(n) * 2.0,
        "ts": pd.to_datetime(
            1_600_000_000_000 + np.arange(n) * 61_000, unit="ms"
        ),
        "dec": [Decimal(f"{i * 2}.{i % 100:02d}00") for i in range(n)],
    })
    df = spark.createDataFrame(pdf)
    df = df.withColumn("dec", df["dec"].cast("decimal(20,4)"))
    path = str(tmp_path / "jbloom")
    (df.coalesce(1).write.mode("overwrite")
       .option("orc.bloom.filter.columns", "d,ts,dec")
       .option("orc.row.index.stride", "1000").orc(path))
    f = glob.glob(path + "/part*.orc")[0]

    # absent double (odd) -> fully pruned; present -> kept, value found
    _, total, kept = orv.read_orc_filtered(f, ("=", "d", 3.0))
    assert total == 4 and kept == 0, (total, kept)
    got, _, k2 = orv.read_orc_filtered(f, ("=", "d", 4000.0))
    assert k2 >= 1 and 4000.0 in got.column("d").to_pylist()

    # absent timestamp (off-grid millis) -> pruned via bloom alone
    absent_ts = dt.datetime.utcfromtimestamp(1_600_000_000.5)
    _, _, kt = orv.read_orc_filtered(f, ("=", "ts", absent_ts))
    assert kt == 0
    present_ts = dt.datetime.utcfromtimestamp(1_600_000_061)
    got_t, _, kt2 = orv.read_orc_filtered(f, ("=", "ts", present_ts))
    assert kt2 >= 1

    # absent decimal -> pruned; present decimal (scale-insensitive) kept
    _, _, kd = orv.read_orc_filtered(f, ("=", "dec", Decimal("3.1400")))
    assert kd == 0
    got_d, _, kd2 = orv.read_orc_filtered(f, ("=", "dec", Decimal("2.01")))
    assert kd2 >= 1


def test_metadata_stripe_statistics_parsed_by_java(spark, tmp_path):
    """write_orc emits the ORC Metadata section (one StripeStatistics per
    stripe, typed ColumnStatistics per column id) plus typed file-footer
    statistics — the inputs to reference-side STRIPE elimination
    (OrcInputFormat split pruning / Reader.getStripeStatistics, one level
    above the ROW_INDEX skips already covered).  Verified by the live
    Java reader parsing every typed domain back value-exactly."""
    import datetime as dt
    from decimal import Decimal

    n = 6000
    t = pa.table({
        "k": pa.array(np.arange(n), pa.int64()),
        "s": pa.array([f"row-{i:06d}" for i in range(n)]),
        "f": pa.array(np.arange(n) * 0.5),
        "d": pa.array(
            [dt.date(2020, 1, 1) + dt.timedelta(days=i % 900) for i in range(n)],
            pa.date32(),
        ),
        "ts": pa.array(
            [dt.datetime(2021, 1, 1) + dt.timedelta(seconds=i) for i in range(n)],
            pa.timestamp("us"),
        ),
        "dec": pa.array([Decimal(i) / 100 for i in range(n)], pa.decimal128(12, 2)),
        "b": pa.array([i % 3 == 0 for i in range(n)]),
        "bin": pa.array([b"xy" * (i % 5) for i in range(n)], pa.binary()),
        "nul": pa.array([None if i % 7 == 0 else i for i in range(n)], pa.int64()),
    })
    path = str(tmp_path / "meta_typed.orc")
    orcfile.write_orc(t, path, rows_per_stripe=2000, compression="ZLIB")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(path),
        jvm.org.apache.orc.OrcFile.readerOptions(conf),
    )
    ss = reader.getStripeStatistics()
    assert ss.size() == 3
    st = ss.get(1).getColumnStatistics()  # stripe 1 = rows 2000..3999
    assert (st[1].getMinimum(), st[1].getMaximum()) == (2000, 3999)
    assert (st[2].getMinimum(), st[2].getMaximum()) == ("row-002000", "row-003999")
    assert st[2].getSum() == 2000 * 10
    assert (st[3].getMinimum(), st[3].getMaximum(), st[3].getSum()) == (
        1000.0, 1999.5, sum(i * 0.5 for i in range(2000, 4000)),
    )
    # date: i%900 covers the full 0..899 range inside the stripe
    assert str(st[4].getMinimumLocalDate()).endswith("2020-01-01")
    assert str(st[4].getMaximumLocalDate()).endswith("2022-06-18")
    # timestamp millis (UTC): 2000s..3999s after 2021-01-01; the reader
    # widens the (nanos-less) maximum by <1ms — conservative by contract
    base_ms = int(dt.datetime(2021, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert st[5].getMinimumUTC().getTime() == base_ms + 2_000_000
    assert 0 <= st[5].getMaximumUTC().getTime() - (base_ms + 3_999_000) <= 1
    assert str(st[6].getMinimum()) == "20" and str(st[6].getMaximum()) == "39.99"
    assert st[7].getTrueCount() == sum(1 for i in range(2000, 4000) if i % 3 == 0)
    assert st[8].getSum() == sum(2 * (i % 5) for i in range(2000, 4000))
    assert st[9].hasNull() and st[9].getNumberOfValues() == 2000 - sum(
        1 for i in range(2000, 4000) if i % 7 == 0
    )
    # file-level footer statistics, same typed domains
    fs = reader.getStatistics()
    assert (fs[1].getMinimum(), fs[1].getMaximum()) == (0, n - 1)
    assert fs[9].hasNull()
    assert fs[5].getMinimumUTC().getTime() == base_ms
    # the indexed writer path emits the same section
    path2 = str(tmp_path / "meta_idx.orc")
    orcfile.write_orc(
        t, path2, rows_per_stripe=2000, row_index_stride=504, compression="ZSTD"
    )
    r2 = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(path2),
        jvm.org.apache.orc.OrcFile.readerOptions(conf),
    )
    st2 = r2.getStripeStatistics().get(2).getColumnStatistics()
    assert (st2[1].getMinimum(), st2[1].getMaximum()) == (4000, 5999)
    assert spark.read.orc(path2).count() == n


def test_java_row_group_skip_on_date_and_timestamp(spark, tmp_path):
    """The per-group ROW_INDEX statistics now carry Date/Timestamp/
    Decimal-typed domains (ColumnStatisticsImpl deserializes stats BY
    TYPE — IntegerStatistics on a DATE column is ignored, i.e.
    unprunable).  Proof of pruning, not just tolerance: a low-level Java
    RecordReader with a date sarg returns only the surviving row groups'
    rows, far fewer than the file's total."""
    import datetime as dt
    from py4j.java_gateway import get_field

    n = 40_000
    t = pa.table({
        "d": pa.array(
            [dt.date(2020, 1, 1) + dt.timedelta(days=i // 100) for i in range(n)],
            pa.date32(),
        ),
        "ts": pa.array(
            [dt.datetime(2022, 1, 1) + dt.timedelta(seconds=i) for i in range(n)],
            pa.timestamp("us"),
        ),
    })
    path = str(tmp_path / "dts_idx.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=20_000, row_index_stride=1000, compression="ZLIB"
    )
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(path),
        jvm.org.apache.orc.OrcFile.readerOptions(conf),
    )
    sf = jvm.org.apache.hadoop.hive.ql.io.sarg.SearchArgumentFactory
    PL = jvm.org.apache.hadoop.hive.ql.io.sarg.PredicateLeaf

    def rows_with(sarg, col):
        cols = gw.new_array(jvm.java.lang.String, 2)
        cols[1] = col
        rr = reader.rows(reader.options().searchArgument(sarg, cols))
        batch = reader.getSchema().createRowBatch()
        total = 0
        while rr.nextBatch(batch):
            total += get_field(batch, "size")
        rr.close()
        return total

    # day 250 lives in rows 25000..25099 -> exactly one 1000-row group
    probe_day = jvm.java.time.LocalDate.of(2020, 9, 7)  # 2020-01-01 + 250d
    sarg_d = (
        sf.newBuilder().startAnd()
        .equals("d", PL.Type.DATE, jvm.java.sql.Date.valueOf(str(probe_day)))
        .end().build()
    )
    got_d = rows_with(sarg_d, "d")
    assert got_d == 1000, got_d

    # a 10-second timestamp window -> one group as well
    ms = int(dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
    t_lo = jvm.java.sql.Timestamp(ms + 25_000_000)
    t_hi = jvm.java.sql.Timestamp(ms + 25_009_000)
    sarg_t = (
        sf.newBuilder().startAnd()
        .between("ts", PL.Type.TIMESTAMP, t_lo, t_hi)
        .end().build()
    )
    got_t = rows_with(sarg_t, "ts")
    assert got_t == 1000, got_t


def test_timestamp_instant_emit_both_readers(spark, tmp_path):
    """tz-aware Arrow timestamps emit the TIMESTAMP_INSTANT category
    (kind 18, "timestamp with local time zone" — absolute instants, no
    writer-zone wall-clock semantics).  pyarrow's C++ reader AND the
    reference Java reader (spark.read.orc under an instant-preserving
    session zone) both read our file back value-identically, including
    the indexed multi-stripe layout."""
    import pyarrow.orc as pa_orc

    n = 8000
    us = np.arange(n) * 1_234_567 + 1_600_000_000_000_000
    t = pa.table({
        "ts": pa.array(us.astype("datetime64[us]")).cast(pa.timestamp("us", tz="UTC")),
        "k": pa.array(np.arange(n), pa.int64()),
    })
    path = str(tmp_path / "instant.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=2000, row_index_stride=504, compression="ZSTD"
    )
    got = pa_orc.ORCFile(path).read()
    assert got.schema.field("ts").type.tz is not None  # instant category
    assert got["ts"].cast(pa.timestamp("us", tz="UTC")).combine_chunks().equals(
        t["ts"].combine_chunks()
        if isinstance(t["ts"], pa.ChunkedArray)
        else t["ts"]
    )
    # Spark's DDL parser rejects "timestamp with local time zone", so the
    # Java oracle is orc-core itself: schema category + first-batch
    # values through a raw RecordReader (TimestampColumnVector holds
    # epoch millis + nanos)
    from py4j.java_gateway import get_field

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(path),
        jvm.org.apache.orc.OrcFile.readerOptions(conf),
    )
    assert "timestamp with local time zone" in reader.getSchema().toString()
    rr = reader.rows()
    batch = reader.getSchema().createRowBatch()
    assert rr.nextBatch(batch)
    tsv = get_field(batch, "cols")[0]
    total = 0
    for i in range(3):
        ms, nanos = tsv.getTime(i), tsv.getNanos(i)  # nanos = nanos-of-second
        assert (ms // 1000) * 1_000_000_000 + nanos == int(us[i]) * 1000, (
            i, ms, nanos,
        )
    total += get_field(batch, "size")
    while rr.nextBatch(batch):
        total += get_field(batch, "size")
    rr.close()
    assert total == n


def test_metadata_stripe_statistics_nested_java_parse(spark, tmp_path):
    """The stats tree walk masks nested children exactly like the encode
    walks (struct children filtered by parent validity, list children
    sliced to present parents); the Java reader parsing the Metadata of a
    nested file with nulls at BOTH levels proves the per-id protos line
    up with the type tree."""
    n = 3000
    t = pa.table({
        "rec": pa.array(
            [
                None if i % 9 == 4 else {"a": None if i % 5 == 0 else i, "b": f"s{i}"}
                for i in range(n)
            ],
            pa.struct([("a", pa.int64()), ("b", pa.string())]),
        ),
        "xs": pa.array(
            [None if i % 7 == 3 else list(range(i % 4)) for i in range(n)],
            pa.list_(pa.int64()),
        ),
    })
    path = str(tmp_path / "nested_meta.orc")
    orcfile.write_orc(t, path, rows_per_stripe=1000, compression="ZLIB")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(path),
        jvm.org.apache.orc.OrcFile.readerOptions(conf),
    )
    ss = reader.getStripeStatistics()
    assert ss.size() == 3
    # ids pre-order: 0 root, 1 rec, 2 rec.a, 3 rec.b, 4 xs, 5 xs elem
    st = ss.get(0).getColumnStatistics()
    present_recs = [i for i in range(1000) if i % 9 != 4]
    a_vals = [i for i in present_recs if i % 5 != 0]
    assert st[1].getNumberOfValues() == len(present_recs) and st[1].hasNull()
    assert st[2].getNumberOfValues() == len(a_vals)
    assert (st[2].getMinimum(), st[2].getMaximum()) == (min(a_vals), max(a_vals))
    assert st[3].getMinimum() == min(f"s{i}" for i in present_recs)
    elem_count = sum(i % 4 for i in range(1000) if i % 7 != 3)
    assert st[5].getNumberOfValues() == elem_count
    assert spark.read.orc(path).count() == n


def test_timestamp_instant_non_utc_display_zone(tmp_path):
    """A tz-aware column whose display zone is not UTC still stores the
    same absolute instants (Arrow's storage is UTC ticks regardless of
    the display zone): round-trip through our writer + the C++ reader is
    instant-identical."""
    import pyarrow.orc as pa_orc

    n = 2000
    us = np.arange(n) * 3_600_000_001 + 1_262_304_000_000_000  # 2010-01-01
    arr = pa.array(us.astype("datetime64[us]")).cast(
        pa.timestamp("us", tz="America/Chicago")
    )
    t = pa.table({"ts": arr})
    path = str(tmp_path / "instant_chi.orc")
    orcfile.write_orc(t, path, rows_per_stripe=700, compression="ZSTD")
    got = pa_orc.ORCFile(path).read()
    assert got.schema.field("ts").type.tz is not None
    assert (
        got["ts"].cast(pa.timestamp("us", tz="UTC")).combine_chunks()
        .equals(arr.cast(pa.timestamp("us", tz="UTC")))
    )


def _null_free_stripe_table(n: int = 60_000) -> pa.Table:
    """Nullable columns, flat and nested, whose nulls all fall in stripe 0
    (rows < 30,000) of a 30,000-row-stripe file."""
    s0 = n // 2
    return pa.table(
        {
            "k": pa.array(np.arange(n), pa.int64()),
            "nul": pa.array(
                [None if i < s0 and i % 5 == 0 else i * 2 for i in range(n)],
                pa.int64(),
            ),
            "s": pa.array([None if i < s0 and i % 7 == 0 else f"v{i}" for i in range(n)]),
            "b": pa.array([None if i < s0 and i % 3 == 0 else i % 2 == 0 for i in range(n)]),
            "st": pa.array(
                [None if i < s0 and i % 11 == 0 else {"a": i % 97} for i in range(n)],
                pa.struct([("a", pa.int64())]),
            ),
        }
    )


def _present_columns_by_stripe(path: str) -> list[set[int]]:
    from sparc.engine import orcread

    with open(path, "rb") as f:
        data = f.read()
    _ps, kind, footer = orcread._tail(data, path)
    return [
        {c for k, c, _b in orcread._stripe_directory(data, st, kind)[1] if k == "PRESENT"}
        for st in orcread._stripes(footer)
    ]


@pytest.mark.parametrize("comp", ["NONE", "ZSTD"])
def test_null_free_stripe_has_no_present_in_indexed_file(tmp_path, comp):
    """A row-indexed stripe whose slice of a nullable column has no nulls
    writes no PRESENT stream for it, and its row-index entries carry no
    PRESENT positions: pyarrow reads the file value-exact and a seek to
    every row group returns exactly that group's rows."""
    from sparc.engine import orcread

    t = _null_free_stripe_table()
    path = str(tmp_path / f"nf_{comp}.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=30_000, row_index_stride=1000, compression=comp
    )
    # column ids: k=1, nul=2, s=3, b=4, st=5, st.a=6
    assert _present_columns_by_stripe(path) == [{2, 3, 4, 5}, set()]
    got = pa.orc.ORCFile(path).read()
    assert got.equals(t)
    for g in range(60):
        assert orcread.read_orc_row_groups(path, [g]).equals(
            t.slice(g * 1000, 1000)
        ), g


def test_null_free_stripe_java_reader_skips(spark, tmp_path):
    """The Java reader reads the null-free-stripe file value-exact and a
    pushed-down point filter still seeks into row groups of both stripes
    through positions that omit PRESENT in stripe 1 (as in
    ``test_row_index_java_reader_skips``)."""
    t = _null_free_stripe_table()
    path = str(tmp_path / "nf.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=30_000, row_index_stride=1000,
        compression="ZLIB",
    )
    assert _present_columns_by_stripe(path) == [{2, 3, 4, 5}, set()]
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    try:
        df = spark.read.orc(path)
        want = t.to_pylist()
        for lo in (11_000, 41_000):
            rows = df.filter(f"k >= {lo} and k < {lo + 10}").orderBy("k").collect()
            assert [r.asDict(recursive=True) for r in rows] == want[lo : lo + 10]
        full = df.orderBy("k").collect()
        assert [r.asDict(recursive=True) for r in full] == want
    finally:
        spark.conf.unset("spark.sql.orc.filterPushdown")


@pytest.mark.parametrize("stride", [0, 400])
def test_sliced_single_chunk_table_reads_back(tmp_path, stride):
    """``write_orc`` takes a single-chunk column as it is, offset and all:
    a table sliced at an offset (every kind, a dense union among them, and
    a sparse union) reads back value for value."""
    import conftest

    from sparc.engine import orcread

    n = 1_500
    tags = pa.array((np.arange(n) % 3 == 0).astype(np.int8))
    sparse = pa.UnionArray.from_sparse(
        tags, [pa.array(np.arange(n)), pa.array([f"s{i}" for i in range(n)])], ["i", "s"]
    )
    table = conftest.mixed_orc_table(n=n).append_column("sp", sparse).slice(333, 900)
    assert all(c.num_chunks == 1 and c.chunk(0).offset == 333 for c in table.columns)
    path = str(tmp_path / "sliced.orc")
    orcfile.write_orc(table, path, row_index_stride=stride, rows_per_stripe=500)
    back = orcread.read_orc(path)
    for name in table.column_names:
        assert back.column(name).to_pylist() == table.column(name).to_pylist(), name
