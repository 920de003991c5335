"""Reverse cross-validation: REAL ORC files written by reference
implementations (pyarrow's C++ writer, Spark's orc-core Java writer)
decoded by THIS engine's kernels (sparc.engine.orcread) — together with
test_orcfile.py (our writer → their readers) this closes the loop on
wire-format conformance in both directions."""

import glob

import numpy as np
import pyarrow as pa
import pyarrow.orc
import pytest

from sparc.engine import orcread
from sparc.kernels import block


def _assert_same_as_pyarrow(path: str):
    got = orcread.read_orc(path)
    ref = pa.orc.ORCFile(path).read()
    assert got.num_rows == ref.num_rows
    for name in ref.schema.names:
        a = got[name].combine_chunks()
        b = ref[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name
    return got


@pytest.fixture(scope="module")
def mixed_table():
    rng = np.random.default_rng(6)
    n = 5000
    return pa.table(
        {
            "i": pa.array(rng.integers(-(10**12), 10**12, n), pa.int64()),
            "small": pa.array(rng.integers(0, 100, n).astype(np.int32), pa.int32()),
            "s": pa.array([f"row-{i % 37}" for i in range(n)]),        # dict
            "u": pa.array([f"https://x{i}.com" for i in range(n)]),    # direct
            "d": pa.array(rng.standard_normal(n)),
            "nul": pa.array([None if i % 7 == 0 else i for i in range(n)], pa.int64()),
        }
    )


@pytest.mark.parametrize("comp", ["UNCOMPRESSED", "ZLIB", "SNAPPY", "ZSTD"])
def test_read_pyarrow_written_orc(tmp_path, mixed_table, comp):
    path = str(tmp_path / f"pa_{comp}.orc")
    pa.orc.write_table(mixed_table, path, compression=comp)
    got = _assert_same_as_pyarrow(path)
    # also value-identical to the source table
    for name in mixed_table.schema.names:
        a = got[name].combine_chunks()
        b = mixed_table[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name


@pytest.mark.parametrize("comp", ["zlib", "snappy", "zstd"])
def test_read_spark_java_written_orc(spark, tmp_path, comp):
    """The reference Java writer's output decoded by our kernels."""
    from sparc.fixtures import pages

    t = pages.generate(4000, seed=45, row_offset=0)
    import pyarrow.parquet as pq

    src = str(tmp_path / "in.parquet")
    pq.write_table(t, src)
    out = str(tmp_path / f"orc_{comp}")
    (
        spark.read.parquet(src)
        .coalesce(1)
        .write.mode("overwrite")
        .option("compression", comp)
        .orc(out)
    )
    path = glob.glob(out + "/part-*.orc")[0]
    got = _assert_same_as_pyarrow(path)
    assert got.num_rows == 4000


def _java_rlev2_table(n: int) -> pa.Table:
    """Integer columns shaped to draw each RLEv2 sub-encoding from the
    reference Java writer in the middle of a stream."""
    rng = np.random.default_rng(47)
    # repeats of 3-10 between random values: SHORT_REPEAT mid-stream
    parts = []
    while sum(p.size for p in parts) < n:
        parts.append(rng.integers(-(10**6), 10**6, int(rng.integers(1, 6))))
        parts.append(np.full(int(rng.integers(3, 11)), rng.integers(-(10**6), 10**6)))
    repeats = np.concatenate(parts)[:n]
    # 512-value chunks of small values with several outliers, two of them
    # more than 255 values apart: PATCHED_BASE with gap filler entries
    outliers = rng.integers(0, 100, n)
    for start in range(0, n, 512):
        for at in (3, 40, 300, 470):
            if start + at < n:
                outliers[start + at] = int(rng.integers(1 << 28, 1 << 36))
    # descending ramps, fixed and jittered steps: negative DELTA runs
    parts = []
    while sum(p.size for p in parts) < n:
        m = int(rng.integers(20, 700))
        top = int(rng.integers(0, 10**9))
        if rng.random() < 0.5:
            parts.append(top - int(rng.integers(1, 50)) * np.arange(m))
        else:
            parts.append(top - np.cumsum(rng.integers(1, 1000, m)))
    ramps = np.concatenate(parts)[:n]
    full = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64, endpoint=True)
    return pa.table(
        {
            "repeats": pa.array(repeats, pa.int64()),
            "outliers": pa.array(outliers, pa.int64()),
            "ramps": pa.array(ramps, pa.int64()),
            "full": pa.array(full, pa.int64()),
        }
    )


def test_read_spark_java_written_rlev2_sub_encodings(spark, tmp_path):
    """The reference Java writer's mid-stream SHORT_REPEAT runs (repeats of
    3-10, which sparc's own writer never emits mid-stream), PATCHED_BASE
    runs with gaps over 255, negative DELTA runs and full-range DIRECT
    runs decode like pyarrow's reader, whole and one row group at a time."""
    import pyarrow.parquet as pq

    n = 25_000
    t = _java_rlev2_table(n)
    src = str(tmp_path / "ints.parquet")
    pq.write_table(t, src)
    out = str(tmp_path / "orc_ints")
    (
        spark.read.parquet(src)
        .coalesce(1)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .orc(out)
    )
    path = glob.glob(out + "/part-*.orc")[0]
    got = _assert_same_as_pyarrow(path)
    assert got.select(t.column_names).equals(t)
    stride = 10_000  # orc-core's default row index stride
    for g in range((n + stride - 1) // stride):
        rows = orcread.read_orc_row_groups(path, [g])
        assert rows.select(t.column_names).equals(t.slice(g * stride, stride)), g


def test_read_java_written_v011_rlev1(spark, tmp_path):
    """v0.11 ingest: the reference Java writer in 0.11 mode emits
    DIRECT/DICTIONARY (RLEv1) streams — our reader must dispatch on the
    ColumnEncoding kind, not assume RLEv2 (ADVICE r2)."""
    from sparc.fixtures import pages

    t = pages.generate(3000, seed=46, row_offset=0)
    import pyarrow.parquet as pq

    src = str(tmp_path / "in.parquet")
    pq.write_table(t, src)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("orc.write.format", "0.11")
    try:
        out = str(tmp_path / "orc011")
        (
            spark.read.parquet(src)
            .coalesce(1)
            .write.mode("overwrite")
            .option("compression", "zlib")
            .orc(out)
        )
    finally:
        hconf.unset("orc.write.format")
    path = glob.glob(out + "/part-*.orc")[0]
    # prove the file really carries v1 encodings before trusting the test
    with open(path, "rb") as f:
        data = f.read()
    ps = orcread._parse_pb(data[-1 - data[-1] : -1])
    kind = orcread._KINDS[ps.get(2, [0])[0]]
    footer = orcread._parse_pb(
        block.decompress(
            data[-1 - data[-1] - ps[1][0] : -1 - data[-1]], kind
        )
    )
    sp = orcread._parse_pb(footer[3][0])
    base, ilen, dlen = sp[1][0], sp.get(2, [0])[0], sp[3][0]
    sf = orcread._parse_pb(
        block.decompress(data[base + ilen + dlen : base + ilen + dlen + sp[4][0]], kind)
    )
    enc_kinds = {orcread._parse_pb(x).get(1, [0])[0] for x in sf.get(2, [])}
    assert enc_kinds <= {0, 1}, f"expected v1 encodings only, got {enc_kinds}"
    got = _assert_same_as_pyarrow(path)
    assert got.num_rows == 3000


def test_read_own_v011_writer(tmp_path, mixed_table):
    """Our 0.11 writer's output (pyarrow-verified elsewhere) decoded by
    our own kernels: RLEv1 integer + length + dict-code streams."""
    from sparc.engine import orcfile

    path = str(tmp_path / "own011.orc")
    orcfile.write_orc(mixed_table, path, version="0.11")
    _assert_same_as_pyarrow(path)


def test_unknown_writer_timezone_refused():
    """An unresolvable writerTimezone must raise, not silently drift."""
    import sparc.engine.orcread as orv

    src = orv._StripeStreams(
        [{1: [9]}], [{}], "Not/AZone", {0: {"DATA": b"", "SECONDARY": b""}}
    )
    with pytest.raises(NotImplementedError, match="writerTimezone"):
        orv._decode_orc_column(0, 0, src)


def test_non_utc_writer_timezone_instants(spark, tmp_path):
    """A file REALLY written with a non-UTC JVM default zone (which is
    what orc-core records as writerTimezone) decodes to exactly what the
    reference Java reader produces under a UTC session: ORC TIMESTAMP is
    wall-clock semantics, so the writer's local wall time is re-expressed
    in the reader zone with a per-VALUE (DST-dependent) offset — values
    on both sides of a DST transition prove the per-value part."""
    import pandas as pd

    # instants straddling the US DST switch (2015-03-08) + a winter one
    vals = pd.to_datetime(
        ["2015-01-15 12:00:00", "2015-03-08 01:59:59", "2015-03-08 03:00:01",
         "2015-07-01 23:30:00", "2020-11-01 01:30:00"]
    )
    src_df = spark.createDataFrame(pd.DataFrame({"ts": vals}))
    jtz = spark._jvm.java.util.TimeZone
    orig_tz = jtz.getDefault()
    out = str(tmp_path / "orc_chicago")
    try:
        jtz.setDefault(jtz.getTimeZone("America/Chicago"))
        src_df.coalesce(1).write.mode("overwrite").orc(out)
    finally:
        jtz.setDefault(orig_tz)
    path = glob.glob(out + "/part-*.orc")[0]
    # prove the file really records the foreign zone before trusting it
    with open(path, "rb") as f:
        data = f.read()
    ps = orcread._parse_pb(data[-1 - data[-1] : -1])
    kind = orcread._KINDS[ps.get(2, [0])[0]]
    footer = orcread._parse_pb(
        block.decompress(data[-1 - data[-1] - ps[1][0] : -1 - data[-1]], kind)
    )
    sp = orcread._parse_pb(footer[3][0])
    base, ilen, dlen = sp[1][0], sp.get(2, [0])[0], sp[3][0]
    sf = orcread._parse_pb(
        block.decompress(data[base + ilen + dlen : base + ilen + dlen + sp[4][0]], kind)
    )
    assert bytes(sf[3][0]).decode() == "America/Chicago"
    got = orcread.read_orc(path)["ts"].combine_chunks().cast(pa.timestamp("us"))
    # oracle: the reference Java reader under the same UTC session
    ref = spark.read.orc(out).toPandas()["ts"].sort_values().reset_index(drop=True)
    got_pd = got.to_pandas().sort_values().reset_index(drop=True)
    assert (got_pd == ref.astype("datetime64[us]")).all()


def test_read_java_written_decimal(spark, tmp_path):
    """Reference-written (orc-core DecimalTreeWriter) decimal(38,10) and
    decimal(12,3) decoded by OUR bigdec kernels.  HiveDecimal strips
    trailing zeros before serializing, so wire scales vary per value —
    this exercises orcread's rescale-to-declared-scale path too."""
    from decimal import Decimal

    rng = np.random.default_rng(41)
    n = 4000
    big_vals = [
        None
        if i % 11 == 0
        else Decimal(int(h) * 10**14 + int(l)).scaleb(-10)
        for i, (h, l) in enumerate(
            zip(
                rng.integers(-(10**13), 10**13, n),
                # multiples of 1e4 make some values end in zeros -> the
                # Java writer strips them to a smaller wire scale
                rng.integers(0, 10**10, n) * 10**4,
            )
        )
    ]
    small_vals = [
        None if i % 7 == 0 else Decimal(int(v) * (10 if i % 2 else 1)).scaleb(-3)
        for i, v in enumerate(rng.integers(-(10**8), 10**8, n))
    ]
    t = pa.table(
        {
            "big": pa.array(big_vals, pa.decimal128(38, 10)),
            "small": pa.array(small_vals, pa.decimal128(12, 3)),
        }
    )
    sdf = spark.createDataFrame(t.to_pandas())
    out = str(tmp_path / "jdec")
    sdf.coalesce(1).write.mode("overwrite").option("compression", "zlib").orc(out)
    (path,) = glob.glob(out + "/*.orc")
    got = orcread.read_orc(path)
    for name in ("big", "small"):
        a = got[name].combine_chunks()
        ref = pa.orc.ORCFile(path).read()[name].combine_chunks()
        assert a.equals(ref), name
        # Spark infers its own precision/scale from pandas (38,18), so
        # compare numerically, not textually
        assert sorted(a.drop_null().to_pylist()) == sorted(
            t[name].combine_chunks().drop_null().to_pylist()
        ), name


def test_read_java_written_nested(spark, tmp_path):
    """Reference-written (orc-core Struct/List/MapTreeWriter) nested
    columns decoded by OUR kernels via the recursive type-tree walk."""
    n = 2500
    rows = [
        {
            "k": i,
            "tags": None if i % 13 == 0 else [f"t{j}" for j in range(i % 5)],
            "pt": None if i % 11 == 0 else {"x": float(i), "y": None if i % 7 == 0 else i * 2},
            "m": None if i % 17 == 0 else {f"k{j}": j * i for j in range(i % 4)},
        }
        for i in range(n)
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField(
                "pt",
                T.StructType(
                    [T.StructField("x", T.DoubleType()), T.StructField("y", T.LongType())]
                ),
            ),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    out = str(tmp_path / "jnested")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").option(
        "compression", "zlib"
    ).orc(out)
    (path,) = glob.glob(out + "/*.orc")
    got = orcread.read_orc(path)
    ref = pa.orc.ORCFile(path).read()
    assert got.num_rows == n
    for name in ref.schema.names:
        a = got[name].combine_chunks()
        b = ref[name].combine_chunks()
        if a.type != b.type:
            b = b.cast(a.type)
        assert a.equals(b), name


def test_timestamp_instant_ingest_from_reference_writers():
    """TIMESTAMP_INSTANT columns written by the reference C++ writer
    (pyarrow.orc emits the instant category for tz-aware columns) decode
    through our kernels as absolute instants — writerTimezone plays no
    role by definition — value-identical at microsecond precision,
    nulls and compressed framing included."""
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.orc as pa_orc

    from sparc.engine import orcread

    n = 5000
    with tempfile.TemporaryDirectory() as d:
        v = pa.array(
            [
                None if i % 9 == 0 else 1_500_000_000_000_000_000 + i * 987_654_000
                for i in range(n)
            ],
            pa.timestamp("ns", tz="UTC"),
        )
        p = f"{d}/instant.orc"
        pa_orc.write_table(pa.table({"ts": v}), p, compression="zstd")
        got = orcread.read_orc(p)
        assert str(got.schema.field("ts").type) == "timestamp[us, tz=UTC]"
        exp = v.cast(pa.timestamp("us", tz="UTC"), safe=False)  # us floor
        assert got["ts"].combine_chunks().equals(exp)


def test_statistics_api_and_user_metadata(spark, tmp_path):
    """Reader-API analogs: read_orc_statistics parses file + per-stripe
    statistics and user metadata from the tail alone; write_orc's
    user_metadata round-trips through the Java reader
    (Reader.getMetadataValue) and a Java-written file's own user
    metadata parses back through ours."""
    import numpy as np
    import pyarrow as pa

    from sparc.engine import orcfile, orcread

    t = pa.table({
        "k": pa.array(np.arange(5000), pa.int64()),
        "s": pa.array([f"x{i}" for i in range(5000)]),
    })
    path = str(tmp_path / "um.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=2000, compression="ZLIB",
        user_metadata={"pipeline.fingerprint": b"abc123"},
    )
    fs, ss, um = orcread.read_orc_statistics(path)
    assert fs[1] == {"n_values": 5000, "n_nulls": 0, "min": 0, "max": 4999}
    assert len(ss) == 3 and ss[1][1]["min"] == 2000 and ss[1][1]["max"] == 3999
    assert ss[2][2]["min"] == "x4000"
    assert um == {"pipeline.fingerprint": b"abc123"}
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(path),
        jvm.org.apache.orc.OrcFile.readerOptions(conf),
    )
    assert reader.hasMetadataValue("pipeline.fingerprint")
    buf = reader.getMetadataValue("pipeline.fingerprint")
    decoded = jvm.java.nio.charset.StandardCharsets.UTF_8.decode(buf).toString()
    assert decoded == "abc123"
    # reverse direction: a Java-written file's user metadata through ours
    jpath = str(tmp_path / "java_um.orc")
    wopts = jvm.org.apache.orc.OrcFile.writerOptions(conf).setSchema(
        jvm.org.apache.orc.TypeDescription.fromString("struct<k:bigint>")
    )
    writer = jvm.org.apache.orc.OrcFile.createWriter(
        jvm.org.apache.hadoop.fs.Path(jpath), wopts
    )
    writer.addUserMetadata(
        "who", jvm.java.nio.ByteBuffer.wrap(bytearray(b"java-writer"))
    )
    writer.close()
    _, _, um_j = orcread.read_orc_statistics(jpath)
    assert um_j == {"who": b"java-writer"}


def test_spark_timestamp_ntz_attribute(spark, tmp_path_factory):
    """Spark stores TIMESTAMP_NTZ as ORC long + a
    spark.sql.catalyst.type=timestamp_ntz Type attribute (epoch micros).
    orcread honors the annotation like spark.read.orc does — including
    on empty part files (zero stripes), which must come back as typed
    empty tables, not crash."""
    import datetime
    import glob as _glob

    d = str(tmp_path_factory.mktemp("ntz") / "o")
    rows = [
        (datetime.datetime(2020, 3, 15, 12, 30, 45, 123456),),
        (datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),),
    ]
    spark.createDataFrame(rows, "ts timestamp_ntz").write.orc(d)
    got = []
    for f in sorted(_glob.glob(d + "/*.orc")):
        t = orcread.read_orc(f)
        assert t.schema.field(0).type == pa.timestamp("us")
        got.extend(t["ts"].to_pylist())
    assert sorted(got) == sorted(r[0] for r in rows)


@pytest.mark.parametrize("compression", ["NONE", "ZSTD"])
def test_damaged_tail_raises_value_error_naming_the_file(tmp_path, compression):
    """A file cut anywhere inside its footer or postscript, or whose
    postscript lacks the ``ORC`` magic, raises one ValueError naming the
    path — never a KeyError/IndexError, and never a shorter table."""
    import re

    from conftest import mixed_orc_table
    from sparc.engine import orcfile

    src = str(tmp_path / "whole.orc")
    orcfile.write_orc(
        mixed_orc_table(), src, rows_per_stripe=3000, row_index_stride=1000,
        compression=compression,
    )
    with open(src, "rb") as f:
        data = f.read()
    ps, _kind, _footer = orcread._tail(data, src)
    footer_start = len(data) - 1 - data[-1] - ps[1][0]
    path = str(tmp_path / "damaged.orc")
    assert data[-4:-1] == b"ORC"
    damaged = [data[:cut] for cut in range(footer_start, len(data))]
    damaged.append(data[:-4] + b"ORK" + data[-1:])
    for blob in damaged:
        with open(path, "wb") as f:
            f.write(blob)
        with pytest.raises(ValueError, match=re.escape(path)):
            orcread.read_orc(path)
