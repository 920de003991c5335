"""Tests for stripe pruning (stats + bloom), write-time masking, and
stripe compaction — the SURVEY.md §2.1/§2.6/§2.7/§2.9 surfaces."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sparc.engine import bloom
from sparc.fixtures import pages
from sparc.job import compact_job, decode_job, encode_job
from sparc.ops import mask

N_ROWS = 4000


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("data") / "pages.parquet"
    pages.write_parquet(str(p), N_ROWS, seed=7)
    return str(p)


@pytest.fixture(scope="module")
def streams_dir(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("streams") / "s")
    df = spark.read.parquet(pages_path)
    encode_job.run_encode(
        df, out, n_stripes=6, resume=False,
        bloom_columns=["url"], fingerprint="prune-test",
    )
    return out


# ---------------------------------------------------------------------------
# stats-based stripe pruning
# ---------------------------------------------------------------------------


def test_stripe_stats_parse(spark, streams_dir):
    stats = decode_job.stripe_column_stats(spark, streams_dir)
    cols = {s["column"] for s in stats}
    assert {"url", "warc_ts", "html", "text", "lang"} <= cols
    url_stats = [s for s in stats if s["column"] == "url"]
    assert len(url_stats) == 6
    assert all(s["min"] is not None and s["max"] is not None for s in url_stats)


def test_prune_keeps_matching_stripes_only(spark, streams_dir):
    stats = decode_job.stripe_column_stats(spark, streams_dir)
    url_stats = sorted(
        (s for s in stats if s["column"] == "url"), key=lambda s: s["stripe_id"]
    )
    # probe with one stripe's exact min: that stripe must survive
    target = url_stats[2]
    keep = decode_job.prune_stripes(
        spark, streams_dir, "url", lo=target["min"], hi=target["min"]
    )
    assert target["stripe_id"] in keep
    # stripes whose range excludes the probe must be gone
    for s in url_stats:
        if s["min"] > target["min"] or s["max"] < target["min"]:
            assert s["stripe_id"] not in keep


def test_pruned_decode_is_correct_subset(spark, pages_path, streams_dir):
    df = spark.read.parquet(pages_path)
    lo, hi = "https://a", "https://m"
    decoded = decode_job.run_decode(
        spark, streams_dir, stripe_filter=("url", lo, hi)
    )
    got = (
        decoded.filter((F.col("url") >= lo) & (F.col("url") <= hi))
        .count()
    )
    want = df.filter((F.col("url") >= lo) & (F.col("url") <= hi)).count()
    assert got == want  # pruning never loses matching rows


def test_composite_predicate_pruning(spark, pages_path, streams_dir):
    """AND/OR/NOT trees prune distributively and never lose matching rows
    (SearchArgument analog end-to-end over real stripes)."""
    df = spark.read.parquet(pages_path)
    pred = (
        "and",
        ("between", "url", "https://a", "https://m"),
        ("not", ("is_null", "lang")),
    )
    decoded = decode_job.run_decode(spark, streams_dir, stripe_filter=pred)
    row_pred = (
        (F.col("url") >= "https://a") & (F.col("url") <= "https://m")
        & F.col("lang").isNotNull()
    )
    assert decoded.filter(row_pred).count() == df.filter(row_pred).count()

    # an impossible conjunction prunes every stripe
    impossible = ("and", ("=", "lang", "zz-nope"), ("<", "url", "https://zzzz"))
    kept = decode_job.prune_stripes_df(spark, streams_dir, impossible).count()
    total = decode_job.footers_df(spark, streams_dir).count()
    assert total > 0
    # "zz-nope" is outside every stripe's lang range -> all pruned
    assert kept == 0

    # an OR with one satisfiable arm keeps at least the matching stripes
    some = ("or", ("=", "lang", "zz-nope"), (">", "url", "https://"))
    assert decode_job.prune_stripes_df(spark, streams_dir, some).count() == total


def test_three_level_filter_from_one_predicate(spark, pages_path, streams_dir):
    """row_filter=True: the same sarg tree prunes stripes, prunes row
    groups, and filters rows — output equals the plain-DataFrame filter."""
    df = spark.read.parquet(pages_path)
    pred = (
        "and",
        ("between", "url", "https://a", "https://m"),
        ("in", "lang", ["en", "de", "fr"]),
    )
    got = decode_job.run_decode(
        spark, streams_dir, stripe_filter=pred, row_filter=True
    )
    want = df.filter(
        (F.col("url") >= "https://a") & (F.col("url") <= "https://m")
        & F.col("lang").isin(["en", "de", "fr"])
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# bloom pruning
# ---------------------------------------------------------------------------


def _bloom(values, typ=None):
    """One ORC bloom filter over ``values``, sized for them, at the
    default fpp (0.01) -> (filters, column type) for the probes."""
    arr = pa.array(values, typ)
    return bloom.build(arr, [(0, len(arr))], len(arr)), arr.type


def _maybe(f, value) -> bool:
    filters, t = f
    return bloom.might_contain_rg_list(filters, t, value, 0)


def test_bloom_roundtrip_no_false_negatives():
    vals = [f"key-{i}" for i in range(5000)]
    f = _bloom(vals)
    assert all(_maybe(f, v) for v in vals)
    fp = sum(_maybe(f, f"absent-{i}") for i in range(5000))
    assert fp / 5000 <= 0.02  # measured FPP at the 0.01 target


def test_bloom_probe_dtype_mismatch_no_false_negative():
    """The probe maps the literal into the column's type: an int probes a
    double column as a double, a float an int column as a long."""
    f = _bloom([float(i) for i in range(1000)])
    assert _maybe(f, 5)       # int probe vs float64 build
    assert _maybe(f, 5.0)
    f2 = _bloom(list(range(1000)))
    assert _maybe(f2, 7.0)    # float probe vs int64 build
    assert _maybe(f2, 7)
    # a literal the column's type cannot hold degrades to "cannot skip"
    assert _maybe(f2, "not-a-number")
    assert _maybe(f2, 7.5)
    absent = sum(_maybe(f2, float(v)) for v in range(1000, 3000))
    assert absent / 2000 <= 0.02


def test_bloom_str_bytes_cross_probe_no_false_negative():
    """str and bytes literals probe string and binary columns alike:
    both hash the UTF-8 bytes."""
    sf = _bloom([f"key-{i}" for i in range(500)])
    assert _maybe(sf, b"key-7")   # bytes probe vs string build
    assert _maybe(sf, "key-7")
    bf = _bloom([f"key-{i}".encode() for i in range(500)])
    assert _maybe(bf, "key-7")    # str probe vs binary build
    assert _maybe(bf, b"key-7")
    uf = _bloom(["ключ", "キー"])
    assert _maybe(uf, "ключ".encode()) and _maybe(uf, "キー")
    # non-stringlike probe vs string filter: cannot skip, never false-neg
    assert _maybe(sf, 42)
    # absent keys still refute through either literal type
    fp = sum(_maybe(sf, f"absent-{i}") + _maybe(sf, f"absent-{i}".encode()) for i in range(500))
    assert fp < 30


def test_bloom_probe_emits_no_runtime_warnings():
    import warnings

    vals = [f"k{i}" for i in range(100)]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        f = _bloom(vals)
        _bloom([2**63 - 1, -(2**63), 0, None], pa.int64())
        _bloom([float("nan"), -0.0, 1e308], pa.float64())
        for i in range(50):
            _maybe(f, f"k{i}")


def test_bloom_prunes_stripes(spark, pages_path, streams_dir):
    df = spark.read.parquet(pages_path)
    probe = df.select("url").first()[0]
    keep = decode_job.prune_stripes_bloom(spark, streams_dir, "url", probe)
    assert keep  # the probe's stripe must survive
    absent = decode_job.prune_stripes_bloom(
        spark, streams_dir, "url", "https://definitely-not-present.example/x"
    )
    assert len(absent) < 6  # bloom prunes at least one stripe for absent keys


def test_bloom_prune_keeps_stripes_with_pre_orc_bloom_streams(spark, streams_dir, tmp_path):
    """Stripes written with the earlier pandas filter (``SBM1`` framing)
    hold no readable ORC bloom: every stripe is kept, nothing raises.
    The patched-in filter has all bits clear, so misreading it as a
    filter would refute every key.  The probe is absent but inside every
    stripe's url range, so only a bloom could refute it."""
    import json
    import shutil
    import struct

    d = str(tmp_path / "legacy")
    shutil.copytree(streams_dir, d)
    for row in decode_job.footers_df(spark, d).collect():
        footer = json.loads(row["footer"])
        ((off, ln),) = [
            (o, n) for c, k, o, n in footer["stream_spans"]
            if c == "url" and k == "BLOOM_FILTER_UTF8"
        ]
        n_bits = (ln - 24) * 8
        one = struct.pack("<IBB", n_bits, 7, 8) + b"object/b" + bytes(n_bits // 8)
        blob = b"SBM1" + struct.pack("<HI", 1, len(one)) + one
        assert len(blob) == ln
        with open(decode_job._stripe_path(footer, d), "r+b") as f:
            f.seek(off)
            f.write(blob)
    probe = "https://www.host0100.example.com/definitely-not-present/x"
    assert len(decode_job.prune_stripes_bloom(spark, streams_dir, "url", probe)) < 6
    keep = decode_job.prune_stripes_bloom(spark, d, "url", probe)
    assert len(keep) == 6


# ---------------------------------------------------------------------------
# masking
# ---------------------------------------------------------------------------


def test_redact_classes(spark):
    df = spark.createDataFrame([("Ab1-Cd2",)], "s string")
    out = mask.redact(df, "s").first()[0]
    assert out == "Xx9-Xx9"


def test_sha256_and_nullify(spark):
    df = spark.createDataFrame([("secret",), ("secret",), ("other",)], "s string")
    hashed = mask.sha256_mask(df, "s").toPandas()["s"]
    assert hashed[0] == hashed[1] != hashed[2]
    assert len(hashed[0]) == 64
    nulled = mask.nullify(df, "s").toPandas()["s"]
    assert nulled.isna().all()


def test_masked_encode_roundtrip(spark, pages_path, tmp_path):
    df = spark.read.parquet(pages_path)
    masked = mask.apply_masks(df, {"url": "sha256", "lang": "redact"})
    out = str(tmp_path / "masked_streams")
    encode_job.run_encode(masked, out, n_stripes=4,
                          key="url", resume=False)
    decoded = decode_job.run_decode(spark, out)
    assert decoded.count() == N_ROWS
    langs = decoded.select("lang").distinct().toPandas()["lang"]
    assert all(set(v) <= set("x9X") for v in langs)


# ---------------------------------------------------------------------------
# compaction
# ---------------------------------------------------------------------------


def test_compact_merges_without_reencode(spark, pages_path, tmp_path):
    df = spark.read.parquet(pages_path)
    half1 = df.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    half2 = df.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    d1, d2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    encode_job.run_encode(half1, d1, n_stripes=3, resume=False)
    encode_job.run_encode(half2, d2, n_stripes=3, resume=False)
    out = str(tmp_path / "merged")
    res = compact_job.compact(spark, [d1, d2], out, n_output_files=2)
    assert res["n_stripes"] == 6
    decoded = decode_job.run_decode(spark, out)
    assert decoded.count() == N_ROWS
    # byte-identical text per url across the compaction (north-rule invariant)
    src = df.select("url", "text").toPandas().sort_values("url").reset_index(drop=True)
    got = decoded.select("url", "text").toPandas().sort_values("url").reset_index(drop=True)
    assert src.equals(got)


# ---------------------------------------------------------------------------
# schema evolution (reader-schema casts)
# ---------------------------------------------------------------------------


def test_decode_with_reader_schema_casts(spark, streams_dir):
    decoded = decode_job.run_decode(
        spark, streams_dir, columns=["url", "warc_ts"],
        cast_to={"warc_ts": "string"},
    )
    assert dict(decoded.dtypes)["warc_ts"] == "string"
    assert decoded.filter(F.col("warc_ts").startswith("2024")).count() > 0

