"""Golden digests of ``write_orc``'s output bytes.

The row-indexed writer encodes each stream per row group; any change to how
it batches those encodes must keep every file byte-identical (stream bytes,
row-index positions, statistics and the tail all follow from them).  Each
case writes a file and compares its sha256 against the digest recorded
before the writer was batched (the two-stripe cases: before the unindexed
and row-indexed writer walks became one; the string-statistics cases:
before stripe and file string min/max were merged from the row groups).

Cases: the first 75,000 rows of the sf0.1 ``lineitem`` table (ZSTD, stride
10,000: the ``orc-lineitem`` benchmark shape), and the seeded mixed table of
``conftest.mixed_orc_table`` (nulls, direct strings, timestamps, decimals,
nested columns) under NONE and ZSTD, with and without a row index; and an
unindexed two-stripe table (``_two_stripe_table``) whose string columns,
flat and inside a list, are dictionary-encoded in stripe 0 and direct in
stripe 1 and whose nullable columns have nulls only in stripe 0, under
NONE and ZSTD and once as a 0.11 file; and an indexed two-stripe string
table (``_string_stats_table``) whose stripe and file string statistics
cover an all-null row group, empty strings, non-ASCII and over-limit
values, under NONE and ZSTD; and the statistics corners of
``conftest.stats_edge_table`` (NaN and ±inf doubles, an all-null row group,
full-range int64, ``ns``/``ms`` timestamps, over-limit strings), in three
stripes with and without a row index, recorded before the writer's
statistics moved into ``stats.py``; and decimals of 29 to 38 significant
digits (``_wide_decimal_table``) with a bloom filter, whose statistics
and bloom keys must keep every digit, recorded after the fix that stopped
them being rounded to 28.  To regenerate after an *intended*
format change::

    PYTHONPATH=.:tests python tests/test_orcfile_golden.py
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pytest

import bench
from conftest import mixed_orc_table, stats_edge_table
from sparc.engine import orcfile

LINEITEM = os.path.join(
    os.path.dirname(os.path.normpath(bench.SF_DIR)), "sf0.1", "lineitem.parquet"
)


def _lineitem_case():
    import pyarrow.parquet as pq

    t = pq.read_table(LINEITEM).slice(0, 75_000)
    return "lineitem/75000/ZSTD/10000", t, {
        "compression": "ZSTD", "row_index_stride": 10_000,
    }


def _mixed_cases():
    t = mixed_orc_table()
    for comp in ("NONE", "ZSTD"):
        for stride in (0, 1000):
            yield f"mixed/{comp}/{stride}", t, {
                "compression": comp, "row_index_stride": stride,
                "rows_per_stripe": 3000,
            }


def _two_stripe_table(n: int = 3_500, rows_per_stripe: int = 2_000):
    """Stripe 0 (rows < ``rows_per_stripe``) holds repeating strings and
    every null; stripe 1 holds unique strings and no nulls."""
    import pyarrow as pa

    s0 = range(rows_per_stripe)
    s1 = range(rows_per_stripe, n)
    return pa.table(
        {
            "s": pa.array([f"c{i % 7}" for i in s0] + [f"u{i}" for i in s1]),
            "n": pa.array(
                [None if i % 5 == 0 else i * 3 for i in s0] + [-i for i in s1],
                pa.int64(),
            ),
            "b": pa.array(
                [None if i % 3 == 0 else i % 2 == 0 for i in s0]
                + [i % 4 == 0 for i in s1]
            ),
            "ls": pa.array(
                [None if i % 9 == 0 else [f"a{j % 4}" for j in range(i % 4)] for i in s0]
                + [[f"e{i}-{j}" for j in range(i % 3)] for i in s1],
                pa.list_(pa.string()),
            ),
        }
    )


def _two_stripe_cases():
    t = _two_stripe_table()
    for version, comp in (("0.12", "NONE"), ("0.12", "ZSTD"), ("0.11", "NONE")):
        yield f"two_stripe/{version}/{comp}", t, {
            "compression": comp, "version": version, "rows_per_stripe": 2_000,
        }


def _string_stats_table(n: int = 3_000):
    """Strings whose row-group, stripe and file statistics must agree, in
    two stripes of 2,000 and 1,000 rows (row groups of 400): nulls
    throughout, rows 400-799 all null (a row group with no values),
    non-ASCII values that sort above every ASCII one, values past the
    1,024-byte statistics limit, the least (empty) string only in row
    groups 3 and 6 and the greatest (emoji) ones only in row groups 2 and
    5, so each stripe's extremes lie in different row groups."""
    import pyarrow as pa

    words = ["zeta", "Ärger", "日本語", "alpha", "naïve", "Zulu"]
    vals = []
    for i in range(n):
        group = i // 400
        if i % 7 == 3 or group == 1:
            vals.append(None)
        elif i % 997 == 5:
            vals.append(("é" if i < 2_000 else "~") * 600)  # 1,200 / 600 bytes
        elif i % 11 == 0 and group in (3, 6):
            vals.append("")
        elif i % 13 == 0 and group in (2, 5):
            vals.append(f"😀{i}")
        else:
            vals.append(f"{words[i % len(words)]}{i % 61}")
    return pa.table(
        {
            "s": pa.array(vals, pa.string()),
            "ls": pa.array(vals[::-1], pa.large_string()),
        }
    )


def _string_stats_cases():
    t = _string_stats_table()
    for comp in ("NONE", "ZSTD"):
        yield f"string_stats/{comp}/400", t, {
            "compression": comp, "row_index_stride": 400,
            "rows_per_stripe": 2_000,
        }


def _stats_edge_cases():
    t = stats_edge_table()
    for stride in (0, 1_000):
        yield f"stats_edges/NONE/{stride}", t, {
            "row_index_stride": stride, "rows_per_stripe": 2_000,
        }


def _wide_decimal_table(n: int = 20_000):
    """``decimal128(38, 1)``: 0 … n-1 and, in the last row group, values
    past 28 significant digits up to the full 38."""
    from decimal import Decimal

    import pyarrow as pa

    wide = [
        Decimal("12345678901234567890123456781234.5"),
        Decimal("9999999999999999999999999999999999999.9"),
        Decimal("-1234567890123456789012345678901234567.8"),
        Decimal("100000000000000000000000000000.1"),
    ]
    return pa.table({"d": pa.array([Decimal(i) for i in range(n)] + wide, pa.decimal128(38, 1))})


def _wide_decimal_cases():
    yield "wide_decimal/ZSTD/10000", _wide_decimal_table(), {
        "compression": "ZSTD", "row_index_stride": 10_000, "bloom_columns": ["d"],
    }


def _digest(table, kwargs: dict) -> str:
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "golden.orc")
        orcfile.write_orc(table, path, **kwargs)
        with open(path, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()


GOLDEN = {
    "mixed/NONE/0": "86ca7c3422f3d8a27dae4277de0bb9056f243c1181332fcfb846caec97483489",
    "mixed/NONE/1000": "7f8ead6f822e947df86287f916b0fea564d80d81fcdc0218f7a3c3803ac69049",
    "mixed/ZSTD/0": "45725619b0c905b9be6dd5aed89fd219879177e357e56797c446d7f3e4bc7f00",
    "mixed/ZSTD/1000": "6983c3f0df7d91d73df8ed8f12ad9fafe314b557628b2dc9fdb48d0f8b80237c",
    "two_stripe/0.12/NONE": "5d46b0d73ce47b60485d36e8c4c35c701ddd5f0d533992809ab8f861440c12c4",
    "two_stripe/0.12/ZSTD": "27aa2348b2f970214673658a8cb13f2464aa9730c7c7d1d212286cf4c47e225e",
    "two_stripe/0.11/NONE": "9d179fbe8bf8d328be6d7d87cb954fe15b4da5a88494bca14f5446ccf2512db1",
    "lineitem/75000/ZSTD/10000": "e387a1da80fb09f691070d8cd49d3502dba27db4bcf57dca9986b135cdc1be38",
    "string_stats/NONE/400": "502e40cca36ded84db9fd5368483a6710605f7e5fae475a2d4a700b65f4d1f6e",
    "string_stats/ZSTD/400": "a06116c2bda83bebb4036c7c59c68d1595de0773fb3ca8b0213ddd6c7a65bce4",
    "stats_edges/NONE/0": "6bf140920ed46576c956f59f41e6bb555fc7e17d36866a3fa1d0afc1e68fe485",
    "stats_edges/NONE/1000": "042edaf50f3b58a4ca6956dca78b7600d800f983840d952ce2863419deb108ba",
    "wide_decimal/ZSTD/10000": "ac5f5794c4c4ac3c71e7976e306e3348727f7b5257752e3a1e21bdb1c7eabefd",
}


@pytest.mark.parametrize("case", [c[0] for c in _mixed_cases()])
def test_write_orc_mixed_bytes_match_golden(case):
    (table, kwargs), = [(t, kw) for name, t, kw in _mixed_cases() if name == case]
    assert _digest(table, kwargs) == GOLDEN[case]


@pytest.mark.parametrize("case", [c[0] for c in _two_stripe_cases()])
def test_write_orc_two_stripe_bytes_match_golden(case):
    (table, kwargs), = [(t, kw) for name, t, kw in _two_stripe_cases() if name == case]
    assert _digest(table, kwargs) == GOLDEN[case]


@pytest.mark.parametrize("case", [c[0] for c in _string_stats_cases()])
def test_write_orc_string_stats_bytes_match_golden(case):
    (table, kwargs), = [(t, kw) for name, t, kw in _string_stats_cases() if name == case]
    assert _digest(table, kwargs) == GOLDEN[case]


@pytest.mark.parametrize("case", [c[0] for c in _stats_edge_cases()])
def test_write_orc_stats_edge_bytes_match_golden(case):
    (table, kwargs), = [(t, kw) for name, t, kw in _stats_edge_cases() if name == case]
    assert _digest(table, kwargs) == GOLDEN[case]


@pytest.mark.parametrize("case", [c[0] for c in _wide_decimal_cases()])
def test_write_orc_wide_decimal_bytes_match_golden(case):
    (table, kwargs), = [(t, kw) for name, t, kw in _wide_decimal_cases() if name == case]
    assert _digest(table, kwargs) == GOLDEN[case]


@pytest.mark.skipif(not os.path.exists(LINEITEM), reason="sf0.1 testdata absent")
def test_write_orc_lineitem_bytes_match_golden():
    name, table, kwargs = _lineitem_case()
    assert _digest(table, kwargs) == GOLDEN[name]


if __name__ == "__main__":
    cases = (
        list(_mixed_cases()) + list(_two_stripe_cases()) + list(_string_stats_cases())
        + list(_stats_edge_cases()) + list(_wide_decimal_cases())
    )
    if os.path.exists(LINEITEM):
        cases.append(_lineitem_case())
    print("GOLDEN = {")
    for name, table, kwargs in cases:
        print(f'    "{name}": "{_digest(table, kwargs)}",')
    print("}")
