"""Consumer-side row-group seek over reference-written indexed ORC.

``orcread.read_orc_row_groups`` is the ``RecordReaderImpl.seekToRowEntry``
analog: it parses the file's own ROW_INDEX streams and seeks every
stream via the recorded positions ((block, in-block) when compressed,
RLE used-in-run, bitfield used+bits).  The oracle is the reference Java
writer (Spark's bundled orc-core): if our position interpretation were
wrong, mid-stripe groups would decode shifted or crash.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import bench
from sparc.engine import bloom, orcread
from sparc.kernels import block


def _write_java_orc(spark, tmp_path, compression: str, n: int = 60_000) -> str:
    df = (
        spark.range(n).withColumnRenamed("id", "k")
        .withColumn(
            "s_direct",
            F.format_string("u%08d-x%d", "k", F.pmod("k", F.lit(997))),
        )
        .withColumn(
            "s_dict",
            F.concat(F.lit("lang"), F.pmod("k", F.lit(7)).cast("string")),
        )
        .withColumn("f", F.col("k") * 0.5)
        .withColumn(
            "b",
            F.when(F.pmod("k", F.lit(9)) == 0, None).otherwise(
                F.pmod("k", F.lit(2)) == 0
            ),
        )
        .withColumn(
            "nul",
            F.when(F.pmod("k", F.lit(5)) == 0, None).otherwise(F.col("k") * 3),
        )
        .withColumn("ts", F.timestamp_micros((F.col("k") * 10_000_000).cast("long")))
        .withColumn(
            "dec",
            F.when(F.pmod("k", F.lit(11)) == 0, None).otherwise(
                (F.col("k").cast("decimal(38,10)") / F.lit(7)).cast("decimal(38,10)")
            ),
        )
        .orderBy("k").coalesce(1)
    )
    d = str(tmp_path / f"seek_{compression}")
    shutil.rmtree(d, ignore_errors=True)
    df.write.mode("overwrite").option("compression", compression).orc(d)
    return glob.glob(d + "/*.orc")[0]


@pytest.mark.parametrize("compression", ["none", "zlib"])
def test_seek_groups_match_full_read_slices(spark, tmp_path, compression):
    path = _write_java_orc(spark, tmp_path, compression)
    full = orcread.read_orc(path)
    assert full.num_rows == 60_000
    for gsel, slices in (
        ([1, 4], [(10_000, 10_000), (40_000, 10_000)]),  # mid-stripe seeks
        ([0], [(0, 10_000)]),
        ([5], [(50_000, 10_000)]),  # last group
    ):
        got = orcread.read_orc_row_groups(path, gsel)
        exp = pa.concat_tables([full.slice(lo, ln) for lo, ln in slices])
        assert got.num_rows == exp.num_rows
        for c in exp.column_names:
            a = got.column(c).combine_chunks()
            b = exp.column(c).combine_chunks()
            assert a.equals(b), (gsel, c)


def test_seek_with_projection(spark, tmp_path):
    path = _write_java_orc(spark, tmp_path, "zlib")
    got = orcread.read_orc_row_groups(path, [2], columns=["k", "s_dict", "dec"])
    assert got.column_names == ["k", "s_dict", "dec"]
    assert got.column("k").to_pylist() == list(range(20_000, 30_000))


def test_seek_unindexed_file_refused(spark, tmp_path):
    df = spark.range(100).coalesce(1)
    d = str(tmp_path / "noidx")
    df.write.mode("overwrite").option("orc.row.index.stride", "0").orc(d)
    path = glob.glob(d + "/*.orc")[0]
    with pytest.raises((ValueError, Exception)):
        orcread.read_orc_row_groups(path, [0])


@pytest.mark.parametrize("compression", ["none", "zlib"])
def test_seek_nested_columns(spark, tmp_path, compression):
    """Nested seek: each node in the subtree is seeked via its OWN
    row-index positions, with child group value counts derived from the
    parent's decoded PRESENT/LENGTH minis (TreeReader seek recursion).
    Oracle: the reference Java writer's own nested indexed file."""
    n = 50_000
    df = (
        spark.range(n).withColumnRenamed("id", "k")
        .withColumn(
            "arr",
            F.when(F.pmod("k", F.lit(11)) == 0, None).otherwise(
                F.array_repeat(F.col("k") * 2, F.pmod("k", F.lit(4)).cast("int"))
            ),
        )
        .withColumn(
            "st",
            F.when(F.pmod("k", F.lit(13)) == 0, None).otherwise(
                F.struct(
                    (F.col("k") * 3).alias("a"),
                    F.when(F.pmod("k", F.lit(3)) == 0, None)
                    .otherwise(F.concat(F.lit("v"), F.col("k").cast("string")))
                    .alias("b"),
                )
            ),
        )
        .withColumn(
            "mp",
            F.when(F.pmod("k", F.lit(17)) == 0, None).otherwise(
                F.create_map(
                    F.concat(F.lit("m"), F.pmod("k", F.lit(5)).cast("string")),
                    F.col("k").cast("double"),
                )
            ),
        )
        .orderBy("k").coalesce(1)
    )
    d = str(tmp_path / f"nested_seek_{compression}")
    df.write.mode("overwrite").option("compression", compression).option(
        "orc.row.index.stride", "1000"
    ).orc(d)
    path = glob.glob(d + "/*.orc")[0]
    full = orcread.read_orc(path)
    for gsel in ([7, 23], [0], [49]):
        got = orcread.read_orc_row_groups(path, gsel)
        exp = pa.concat_tables([full.slice(g * 1000, 1000) for g in gsel])
        for c in exp.column_names:
            a = got.column(c).combine_chunks()
            b = exp.column(c).combine_chunks()
            assert a.equals(b), (compression, gsel, c)


def test_filtered_read_prunes_and_matches(spark, tmp_path):
    """pickRowGroups with roles swapped: the reference file's OWN
    ColumnStatistics drive OUR SearchArgument; only surviving groups are
    seek-decoded.  Soundness: result ⊇ the true matches; effectiveness:
    a selective range prunes most groups."""
    path = _write_java_orc(spark, tmp_path, "zlib")
    full = orcread.read_orc(path)
    pred = ("and", (">=", "k", 41_000), ("<", "k", 43_000))
    got, n_total, n_kept = orcread.read_orc_filtered(path, pred)
    assert n_total == 6 and 1 <= n_kept <= 2, (n_total, n_kept)
    ks = got.column("k").to_pylist()
    want = [k for k in full.column("k").to_pylist() if 41_000 <= k < 43_000]
    assert set(want) <= set(ks)  # no true match lost
    # string-stats pruning on the dictionary column keeps everything
    # (every group holds every lang value) — sound, not effective
    got2, _, kept2 = orcread.read_orc_filtered(path, ("=", "s_dict", "lang3"))
    assert kept2 == 6
    # an impossible range prunes all groups
    got3, _, kept3 = orcread.read_orc_filtered(path, ("=", "k", -5))
    assert kept3 == 0 and got3.num_rows == 0


def test_murmur3_and_long_hash_match_java(spark):
    """Byte-exact validation of the probe hashes against the live
    reference classes (orc-core 2.2.2 in the running JVM)."""
    import random

    jvm = spark.sparkContext._jvm
    M = jvm.org.apache.orc.util.Murmur3
    rng = random.Random(7)
    cases = [b"", b"a", b"hello world", bytes(8), bytes(range(256))]
    cases += [rng.randbytes(rng.randrange(0, 64)) for _ in range(40)]
    theirs = [M.hash64(bytearray(b)) for b in cases]
    assert [bloom.murmur3_hash64(b) for b in cases] == theirs
    assert bloom.hash64(pa.array(cases, pa.binary())).tolist() == theirs
    bf = jvm.org.apache.orc.util.BloomFilter(1000, 0.01)
    longs = [0, 1, -1, 2**62, -(2**62), 12345] + [
        rng.randrange(-(2**63), 2**63) for _ in range(40)
    ]
    for v in longs:
        bf.addLong(v)
    words = np.array(list(bf.getBitSet()), dtype=np.int64).astype(np.uint64)
    k = bf.getNumHashFunctions()
    for v in longs:  # everything added must test positive through OUR probe
        assert bloom._test_hash(words, k, bloom._orc_long_hash(v)), v
    absent = [rng.randrange(-(2**63), 2**63) for _ in range(200)]
    ours = [bloom._test_hash(words, k, bloom._orc_long_hash(v)) for v in absent]
    theirs = [bool(bf.testLong(v)) for v in absent]
    assert ours == theirs  # bit-identical decisions, incl. false positives


def test_filtered_read_uses_reference_blooms(spark, tmp_path):
    """A reference-written file with orc.bloom.filter.columns: equality
    probes inside the min/max range but ABSENT from the data can only be
    refuted by the bloom filters — kept == 0 proves our Murmur3/probe
    reimplementation matches the writer's bit-for-bit (a wrong hash
    would keep groups or, worse, drop true matches)."""
    n = 60_000
    df = (
        spark.range(n).withColumnRenamed("id", "k")
        # even numbers only: odd probes fall inside min/max but are absent
        .withColumn("ev", F.col("k") * 2)
        .withColumn(
            "s", F.format_string("url-%08d", (F.col("k") * 2).cast("int"))
        )
        .orderBy("k").coalesce(1)
    )
    d = str(tmp_path / "bloomy")
    (
        df.write.mode("overwrite")
        .option("compression", "zlib")
        .option("orc.row.index.stride", "10000")
        .option("orc.bloom.filter.columns", "ev,s")
        .orc(d)
    )
    path = glob.glob(d + "/*.orc")[0]
    # absent long probe within range: stats keep all 6 groups, blooms drop all
    got, total, kept = orcread.read_orc_filtered(path, ("=", "ev", 50_001))
    assert total == 6 and kept == 0, (total, kept)
    # absent string probe within range
    got2, _, kept2 = orcread.read_orc_filtered(path, ("=", "s", "url-00050001"))
    assert kept2 == 0, kept2
    # present values are NEVER refuted (soundness), and decode correctly
    got3, _, kept3 = orcread.read_orc_filtered(path, ("=", "ev", 50_000))
    assert kept3 >= 1
    assert 50_000 in got3.column("ev").to_pylist()
    got4, _, kept4 = orcread.read_orc_filtered(path, ("=", "s", "url-00050000"))
    assert kept4 >= 1
    assert "url-00050000" in got4.column("s").to_pylist()


def test_stripe_level_prune_from_metadata_never_touches_refuted_stripes(
    spark, tmp_path
):
    """read_orc_filtered consults the file Metadata section (per-stripe
    ColumnStatistics) BEFORE any stripe bytes: a refuted stripe's footer
    and ROW_INDEX are never read.  Observable, not inferred: the refuted
    stripes' index+footer regions are OVERWRITTEN WITH GARBAGE on disk —
    if the pruner touched them the parse would explode — and the
    surviving stripe still decodes value-exactly.  Works identically on
    reference-written files (their writer emits the same section)."""
    import glob

    import numpy as np
    import pyarrow as pa

    from sparc.engine import orcfile, orcread

    n = 60_000
    t = pa.table(
        {
            "k": pa.array(np.arange(n), pa.int64()),
            "s": pa.array([f"row-{i:06d}" for i in range(n)]),
        }
    )
    path = str(tmp_path / "prune_meta.orc")
    orcfile.write_orc(
        t, path, rows_per_stripe=20_000, row_index_stride=1000,
        compression="ZLIB",
    )
    # locate stripes from the tail, then corrupt stripes 0 and 2's index
    # AND stripe-footer bytes
    with open(path, "rb") as f:
        data = bytearray(f.read())
    ps_len = data[-1]
    ps = orcread._parse_pb(data[-1 - ps_len:-1])
    footer = orcread._parse_pb(
        block.decompress(
            data[-1 - ps_len - ps[1][0]:-1 - ps_len], "zlib"
        )
    )
    stripes = [orcread._parse_pb(s) for s in footer[3]]
    assert len(stripes) == 3
    for si in (0, 2):
        sp = stripes[si]
        off, idx_len = sp[1][0], sp[2][0]
        data[off:off + idx_len] = b"\xde" * idx_len  # ROW_INDEX garbage
        sf_off = off + idx_len + sp[3][0]
        data[sf_off:sf_off + sp[4][0]] = b"\xad" * sp[4][0]  # StripeFooter garbage
    with open(path, "wb") as f:
        f.write(data)
    got, total, kept = orcread.read_orc_filtered(
        path, ("between", "k", 25_000, 25_009)
    )
    assert total == 60 and kept == 1
    assert got.column("k").to_pylist()[:10] == list(range(25_000, 25_010))

    # same pruning against a REFERENCE-written multi-stripe file
    src = spark.range(300_000).selectExpr(
        "id as k", "concat('v-', lpad(cast(id as string), 8, '0')) as s"
    )
    jdir = str(tmp_path / "java_stripes")
    (
        src.repartition(1).sortWithinPartitions("k").write.mode("overwrite")
        .option("orc.stripe.size", 1_000_000)
        .option("orc.row.index.stride", 10_000).orc(jdir)
    )
    jf = glob.glob(jdir + "/*.orc")[0]
    got_j, total_j, kept_j = orcread.read_orc_filtered(
        jf, ("between", "k", 123_000, 123_500)
    )
    ks = got_j.column("k").to_pylist()
    assert kept_j == 1 and total_j == 30
    assert all(123_000 <= k <= 123_500 for k in ks if 123_000 <= k <= 123_500)
    assert {k for k in range(123_000, 123_501)} <= set(ks)


# --- seek coverage: every group, every codec, no re-encode, bounded inflate --


def _assert_groups_match_full(path: str, rows_per_group: int, n_groups: int, subset):
    """Every single row group, and one multi-group subset, decoded by seek
    equals the same slices of the whole-file decode (groups laid out every
    ``rows_per_group`` rows)."""
    full = orcread.read_orc(path)
    for gsel in [[g] for g in range(n_groups)] + [list(subset)]:
        got = orcread.read_orc_row_groups(path, gsel)
        exp = pa.concat_tables(
            [full.slice(g * rows_per_group, rows_per_group) for g in gsel]
        )
        assert got.num_rows == exp.num_rows, gsel
        for c in exp.column_names:
            a = got.column(c).combine_chunks()
            b = exp.column(c).combine_chunks()
            assert a.equals(b), (path, gsel, c)


@pytest.mark.parametrize("compression", ["NONE", "ZLIB", "SNAPPY", "ZSTD"])
def test_seek_every_group_sparc_written(tmp_path, compression):
    """Our writer's indexed files (nulls at every level, direct strings,
    timestamps, decimals, struct/list/map/union), two stripes with a
    partial last group: 3,000-row stripes, 1,000-row groups, 5,500 rows."""
    from conftest import mixed_orc_table

    from sparc.engine import orcfile

    path = str(tmp_path / f"mixed_{compression}.orc")
    orcfile.write_orc(
        mixed_orc_table(), path, rows_per_stripe=3000, row_index_stride=1000,
        compression=compression,
    )
    _assert_groups_match_full(path, 1000, 6, [1, 2, 4, 5])


def test_seek_every_group_sparc_written_rlev1(tmp_path):
    """The same over the 0.11 layout: RLEv1 streams read from seek
    positions."""
    from conftest import mixed_orc_table

    from sparc.engine import orcfile

    path = str(tmp_path / "mixed_v11.orc")
    orcfile.write_orc(
        mixed_orc_table(), path, rows_per_stripe=3000, row_index_stride=1000,
        compression="ZLIB", version="0.11",
    )
    _assert_groups_match_full(path, 1000, 6, [0, 3, 4])


def test_seek_every_group_java_zstd(spark, tmp_path):
    path = _write_java_orc(spark, tmp_path, "zstd")
    _assert_groups_match_full(path, 10_000, 6, [0, 2, 3])


def _chunk_count(stored: memoryview) -> int:
    pos = n = 0
    while pos < len(stored):
        pos += 3 + (int.from_bytes(stored[pos : pos + 3], "little") >> 1)
        n += 1
    return n


def test_seek_every_group_java_small_chunks(spark, tmp_path):
    """A reference-written file with 4 KiB compression chunks: RLE runs and
    row groups straddle chunk boundaries, so a group's values end in a
    chunk past the one its position names."""
    n = 60_000
    df = (
        spark.range(n).withColumnRenamed("id", "k")
        .withColumn("h", F.pmod(F.col("k") * 7919, F.lit(100_003)))
        .withColumn(
            "nul",
            F.when(F.pmod("k", F.lit(5)) == 0, None).otherwise(
                F.pmod(F.col("k") * 31, F.lit(977))
            ),
        )
        .withColumn(
            "s", F.format_string("u%08d", F.pmod(F.col("k") * 13, F.lit(50_000)))
        )
        .withColumn("f", F.col("k") * 0.25)
        .orderBy("k").coalesce(1)
    )
    d = str(tmp_path / "small_chunks")
    (
        df.write.mode("overwrite").option("compression", "zlib")
        .option("orc.compress.size", "4096").orc(d)
    )
    path = glob.glob(d + "/*.orc")[0]
    with open(path, "rb") as f:
        data = f.read()
    _ps, kind, footer = orcread._tail(data, path)
    (st,) = orcread._stripes(footer)
    _sf, streams = orcread._stripe_directory(data, st, kind)
    n_groups = (st["n_rows"] + 9_999) // 10_000
    (h_data,) = [b for skind, col, b in streams if skind == "DATA" and col == 2]
    assert _chunk_count(h_data) > n_groups
    _assert_groups_match_full(path, 10_000, n_groups, [1, 2, 5])


def test_selective_read_calls_no_encoder(tmp_path, monkeypatch):
    """A row-group read decodes each kept value once: no kernel encoder
    runs on the read path."""
    from conftest import mixed_orc_table

    from sparc.engine import orcfile
    from sparc.kernels import bitfield, byterle, rlev1, rlev2

    path = str(tmp_path / "no_encode.orc")
    orcfile.write_orc(
        mixed_orc_table(), path, rows_per_stripe=3000, row_index_stride=1000,
        compression="ZSTD",
    )
    full = orcread.read_orc(path)

    def forbidden(*args, **kwargs):
        raise AssertionError("encoder called on the read path")

    for mod in (rlev2, rlev1, bitfield, byterle):
        monkeypatch.setattr(mod, "encode", forbidden)
    monkeypatch.setattr(bitfield, "encode_with_marks", forbidden)
    monkeypatch.setattr(byterle, "encode_with_marks", forbidden)
    got = orcread.read_orc_row_groups(path, [2, 3])
    exp = full.slice(2000, 2000)
    for c in exp.column_names:
        assert got.column(c).combine_chunks().equals(exp.column(c).combine_chunks()), c
    table, total, kept = orcread.read_orc_filtered(path, ("between", "k", 4100, 4200))
    assert (total, kept) == (6, 1)
    assert table.column("k").to_pylist() == list(range(4000, 5000))


# the sf0.1 table, whichever scale factor the bench directory points at
LINEITEM = os.path.join(
    os.path.dirname(os.path.normpath(bench.SF_DIR)), "sf0.1", "lineitem.parquet"
)


@pytest.mark.skipif(not os.path.exists(LINEITEM), reason="sf0.1 testdata absent")
def test_one_group_read_inflates_a_fraction(tmp_path, monkeypatch):
    """A 1-of-8-group read of a 75,000-row lineitem file (ZSTD, 10,000-row
    stride) inflates at most a quarter of the file's compressed stream
    bytes: only the chunks its values live in."""
    import pyarrow.parquet as pq

    from sparc.engine import orcfile

    path = str(tmp_path / "lineitem.orc")
    orcfile.write_orc(
        pq.read_table(LINEITEM).slice(0, 75_000), path, compression="ZSTD",
        row_index_stride=10_000,
    )
    with open(path, "rb") as f:
        data = f.read()
    _ps, kind, footer = orcread._tail(data, path)
    stream_bytes = 0
    for st in orcread._stripes(footer):
        _sf, streams = orcread._stripe_directory(data, st, kind)
        stream_bytes += sum(len(b) for _k, _c, b in streams)
    inflated = []
    real = block.inflate_chunk

    def counting(mv, pos, kind):
        inflated.append(3 + (int.from_bytes(mv[pos : pos + 3], "little") >> 1))
        return real(mv, pos, kind)

    monkeypatch.setattr(block, "inflate_chunk", counting)
    got = orcread.read_orc_row_groups(path, [3])
    assert got.num_rows == 10_000
    assert sum(inflated) <= 0.25 * stream_bytes, (sum(inflated), stream_bytes)


def test_filtered_read_reads_the_file_once(tmp_path, monkeypatch):
    """read_orc_filtered hands its file bytes and parsed tail to the
    row-group reader: one open of the file per filtered read."""
    import builtins

    from sparc.engine import orcfile

    t = pa.table({"k": pa.array(np.arange(5000), pa.int64())})
    path = str(tmp_path / "once.orc")
    orcfile.write_orc(t, path, row_index_stride=1000, compression="ZLIB")
    opened = []

    def counting_open(file, *args, **kwargs):
        opened.append(file)
        return builtins.open(file, *args, **kwargs)

    monkeypatch.setattr(orcread, "open", counting_open, raising=False)
    got, total, kept = orcread.read_orc_filtered(path, ("=", "k", 2500))
    assert (total, kept) == (5, 1)
    assert got.column("k").to_pylist() == list(range(2000, 3000))
    assert opened == [path]
