"""Reader↔file schema mapping (SchemaEvolution.buildConversion analog):
add / drop / rename / reorder / type-widen / positional resolution."""

import pytest
from pyspark.sql import functions as F

from sparc.fixtures import pages
from sparc.job import decode_job, encode_job


@pytest.fixture(scope="module")
def streams_dir(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("evo") / "pages.parquet"
    pages.write_parquet(str(src), 2000, seed=31)
    out = str(tmp_path_factory.mktemp("evo") / "streams")
    df = spark.read.parquet(str(src))
    encode_job.run_encode(df, out, n_stripes=3, resume=False)
    return out


@pytest.fixture(scope="module")
def original(spark, streams_dir):
    return decode_job.run_decode(spark, streams_dir)


def test_by_name_subset_and_reorder(spark, streams_dir, original):
    out = decode_job.run_decode(
        spark, streams_dir, reader_schema="lang string, url string"
    )
    assert [f.name for f in out.schema.fields] == ["lang", "url"]
    want = original.select("lang", "url")
    assert out.exceptAll(want).count() == 0
    assert want.exceptAll(out).count() == 0


def test_missing_column_null_filled(spark, streams_dir, original):
    out = decode_job.run_decode(
        spark, streams_dir, reader_schema="url string, crawl_depth int"
    )
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields) == {
        "url": "string", "crawl_depth": "int",
    }
    rows = out.count()
    assert rows == original.count()
    assert out.filter(F.col("crawl_depth").isNull()).count() == rows


def test_type_widening_casts(spark, streams_dir, original):
    out = decode_job.run_decode(
        spark, streams_dir,
        reader_schema="url string, warc_ts timestamp_ntz, lang binary",
    )
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types == {"url": "string", "warc_ts": "timestamp_ntz", "lang": "binary"}
    got = out.select("url", F.decode("lang", "utf-8").alias("lang"))
    want = original.select("url", "lang")
    assert got.exceptAll(want).count() == 0


def test_case_insensitive_by_default(spark, streams_dir, original):
    out = decode_job.run_decode(
        spark, streams_dir, reader_schema="URL string, Lang string"
    )
    assert [f.name for f in out.schema.fields] == ["URL", "Lang"]
    assert out.count() == original.count()
    assert out.filter(F.col("URL").isNull()).count() == 0
    # case-sensitive: no match -> null fill
    strict = decode_job.run_decode(
        spark, streams_dir, reader_schema="URL string", case_sensitive=True
    )
    assert strict.filter(F.col("URL").isNull()).count() == strict.count()


def test_positional_resolution(spark, streams_dir, original):
    """Positional: reader field i maps to file column i regardless of
    names (file order: url, warc_ts, html, text, lang)."""
    out = decode_job.run_decode(
        spark, streams_dir,
        reader_schema="the_url string, ts timestamp_ntz",
        positional=True,
    )
    assert [f.name for f in out.schema.fields] == ["the_url", "ts"]
    want = original.select(
        F.col("url").alias("the_url"), F.col("warc_ts").alias("ts")
    )
    assert out.exceptAll(want).count() == 0
    assert want.exceptAll(out).count() == 0


def test_positional_beyond_file_width_null_fills(spark, streams_dir, original):
    out = decode_job.run_decode(
        spark, streams_dir,
        reader_schema="a string, b timestamp_ntz, c binary, d string, e string, f double",
        positional=True,
    )
    assert out.filter(F.col("f").isNull()).count() == original.count()


def test_reader_schema_exclusive_with_columns(spark, streams_dir):
    with pytest.raises(ValueError):
        decode_job.run_decode(
            spark, streams_dir, reader_schema="url string", columns=["url"]
        )


def test_evolution_composes_with_pruning(spark, streams_dir, original):
    """Schema mapping + stripe/row-group pruning in one read, with the
    predicate on a column OUTSIDE the reader schema."""
    probe = original.orderBy("url").first()["url"]
    out = decode_job.run_decode(
        spark, streams_dir,
        reader_schema="lang string, missing_col long",
        stripe_filter=("=", "url", probe),
    )
    assert out.count() >= 1
    assert {f.name for f in out.schema.fields} == {"lang", "missing_col"}
