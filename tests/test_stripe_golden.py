"""Golden digests of ``encode_stripe``'s output.

The engine's stripe bytes are its storage format: any change to how the
encoder batches its kernel calls, or to how the decoder reads the stripe,
must keep every stream and every footer byte-identical.  Each case encodes
a fixed input and compares one sha256 over every ``(column, kind)`` stream
and the footer JSON (``sort_keys``, without the ``encode_seconds`` timing)
against the digest recorded before the encoder made one RLEv2 call per
stream.

Inputs (:data:`DIGESTED`): integers, dates, decimal64, big decimals, zoned
timestamps and floats with nulls; booleans with nulls whose per-group
non-null counts are not multiples of 8; dictionary, direct and binary
columns; FSST strings; list<string>, map, struct and dense-union columns;
the seed-1 pages stripe with a url bloom filter; and the statistics
corners of ``conftest.stats_edge_table`` (NaN and ±inf floats, an all-null
row group, full-range int64, ``ns``/``ms`` timestamps, strings cut at the
1,024-byte limit inside and just after multibyte characters), whose four
digests were recorded before the two statistics builders became one.
Each runs at row index stride 1,000 and unindexed, under the zstd and
none codecs.  FSST is always passed explicitly: the auto gate memoizes
rejections per process, so its choice depends on what ran before.

One deliberate format change re-recorded the four ``pages`` digests: the
url ``BLOOM_FILTER_UTF8`` stream became ORC's ``BloomFilterIndex`` (it
was a pandas-hash filter in ``SBM1`` framing).  Compared stream by
stream, that stream and its two footer size entries were the only bytes
that moved; the other 20 digests held.  Nothing else may re-record
them.  To print them (e.g. to compare two builds)::

    PYTHONPATH=. python tests/test_stripe_golden.py
"""

from __future__ import annotations

import decimal
import hashlib
import json

import numpy as np
import pyarrow as pa
import pytest
from conftest import stats_edge_table

from sparc.engine import stripe
from sparc.fixtures import pages

N = 5_500
STRIDES = (1_000, None)
CODECS = ("zstd", "none")


def _nulls(rng: np.random.Generator, p: float, n: int = N) -> np.ndarray:
    return rng.random(n) < p


def numeric_table() -> pa.Table:
    rng = np.random.default_rng(101)
    ints = rng.integers(-(10**6), 10**6, N)
    ints[:2_000] = np.arange(2_000) * 3  # a delta run, then noise
    days = 18_000 + np.cumsum(rng.integers(0, 3, N))
    unscaled = rng.integers(-(10**9), 10**9, N)
    big = [
        None if z else decimal.Decimal(int(u) * 10**14 + int(f)).scaleb(-6)
        for z, u, f in zip(
            _nulls(rng, 0.1), rng.integers(-(10**9), 10**9, N),
            rng.integers(0, 10**6, N),
        )
    ]
    ts = 1_500_000_000_000_000 + np.cumsum(rng.integers(0, 5_000_000, N))
    ts[::5] -= ts[::5] % 1_000_000  # whole seconds: trailing-zero nanos
    return pa.table(
        {
            "i64": pa.array(ints, pa.int64(), mask=_nulls(rng, 0.07)),
            "d32": pa.array(days.astype(np.int32), pa.date32(), mask=_nulls(rng, 0.03)),
            "dec64": pa.array(
                [decimal.Decimal(int(u)).scaleb(-2) for u in unscaled],
                pa.decimal128(12, 2),
                mask=_nulls(rng, 0.05),
            ),
            "decbig": pa.array(big, pa.decimal128(30, 6)),
            "ts": pa.array(
                ts, pa.timestamp("us", tz="America/New_York"), mask=_nulls(rng, 0.04)
            ),
            "f32": pa.array(
                rng.normal(0, 100, N).astype(np.float32), pa.float32(),
                mask=_nulls(rng, 0.02),
            ),
            "f64": pa.array(rng.normal(0, 1e6, N), pa.float64(), mask=_nulls(rng, 0.06)),
        }
    )


def bool_table() -> pa.Table:
    rng = np.random.default_rng(102)
    return pa.table(
        {
            "flag": pa.array(rng.random(N) < 0.3, pa.bool_(), mask=_nulls(rng, 0.11)),
            "dense": pa.array(rng.random(N) < 0.6, pa.bool_()),
        }
    )


def string_table() -> pa.Table:
    rng = np.random.default_rng(103)
    words = np.array(["alpha", "beta", "gamma", "delta", "eps", "", "zeta"])
    blobs = [
        None if z else rng.integers(0, 256, int(k), dtype=np.uint8).tobytes()
        for z, k in zip(_nulls(rng, 0.09), rng.integers(0, 60, N))
    ]
    return pa.table(
        {
            "dict_s": pa.array(
                words[rng.integers(0, len(words), N)].tolist(), pa.string(),
                mask=_nulls(rng, 0.08),
            ),
            "direct_s": pa.array(
                [f"k{i:06d}-{'x' * int(k)}" for i, k in enumerate(rng.integers(0, 30, N))],
                pa.large_string(),
                mask=_nulls(rng, 0.04),
            ),
            "bin": pa.array(blobs, pa.binary()),
        }
    )


def fsst_table() -> pa.Table:
    rng = np.random.default_rng(104)
    hosts = rng.integers(0, 40, N)
    urls = [
        None if z else f"https://www.host{h:03d}.example.com/articles/{i}/index.html"
        for i, (h, z) in enumerate(zip(hosts.tolist(), _nulls(rng, 0.05)))
    ]
    return pa.table({"url": pa.array(urls, pa.string())})


def nested_table() -> pa.Table:
    rng = np.random.default_rng(105)
    lens = rng.integers(0, 5, N)
    lists = [
        None if z else [f"w{(i * 7 + j) % 23}" for j in range(int(k))]
        for i, (k, z) in enumerate(zip(lens, _nulls(rng, 0.1)))
    ]
    maps = [
        None if z else [(f"m{j % 5}", float(i + j) / 4) for j in range(i % 3)]
        for i, z in enumerate(_nulls(rng, 0.08))
    ]
    structs = [
        None if z else {"a": int(a), "b": None if i % 6 == 0 else f"v{i}"}
        for i, (z, a) in enumerate(zip(_nulls(rng, 0.12), rng.integers(0, 99, N)))
    ]
    tags = rng.integers(0, 2, N).astype(np.int8)
    offs = np.zeros(N, np.int32)
    for v in (0, 1):
        m = tags == v
        offs[m] = np.arange(int(m.sum()), dtype=np.int32)
    union = pa.UnionArray.from_dense(
        pa.array(tags, pa.int8()),
        pa.array(offs, pa.int32()),
        [
            pa.array(rng.integers(-500, 500, int((tags == 0).sum())), pa.int64()),
            pa.array([f"u{i % 13}" for i in range(int((tags == 1).sum()))]),
        ],
        ["i", "s"],
    )
    return pa.table(
        {
            "ls": pa.array(lists, pa.list_(pa.string())),
            "mp": pa.array(maps, pa.map_(pa.string(), pa.float64())),
            "st": pa.array(
                structs, pa.struct([("a", pa.int64()), ("b", pa.string())])
            ),
            "un": union,
        }
    )


def pages_table() -> pa.Table:
    return pages.generate(4_096, seed=1)


# name -> (table builder, encode_stripe keywords besides codec and stride)
INPUTS = {
    "numeric": (numeric_table, {"fsst": False}),
    "bool": (bool_table, {"fsst": False}),
    "strings": (string_table, {"fsst": False}),
    "fsst": (fsst_table, {"fsst": True}),
    "nested": (nested_table, {"fsst": False}),
    "pages": (pages_table, {"fsst": False, "bloom_columns": ["url"]}),
}
# every input digested; the statistics corners hold NaN, which the
# ``Table.equals`` round trips over INPUTS (test_stripe_groups) never match
DIGESTED = {**INPUTS, "stats_edges": (stats_edge_table, {"fsst": False})}

# encodings each input must exercise (stride 1,000, zstd)
ENCODINGS = {
    "numeric": {
        "i64": "rlev2", "d32": "rlev2", "dec64": "decimal64",
        "decbig": "decimal_big", "ts": "timestamp_split", "f32": "float_raw",
        "f64": "float_raw",
    },
    "bool": {"flag": "bool", "dense": "bool"},
    "strings": {"dict_s": "dict", "direct_s": "direct", "bin": "direct"},
    "fsst": {"url": "direct_fsst"},
    "nested": {"ls": "list", "mp": "map", "st": "struct", "un": "union"},
    "pages": {
        "url": "direct", "warc_ts": "timestamp_split", "html": "direct",
        "text": "direct", "lang": "dict",
    },
    "stats_edges": {
        "f64": "float_raw", "f32": "float_raw", "i_gap": "rlev2", "b_gap": "bool",
        "i64": "rlev2", "ts_ns": "timestamp_split", "ts_ms": "timestamp_split",
        "s_direct": "direct", "s_dict": "dict",
    },
}

_TABLES: dict[str, pa.Table] = {}


def table(name: str) -> pa.Table:
    if name not in _TABLES:
        _TABLES[name] = DIGESTED[name][0]()
    return _TABLES[name]


def encode(name: str, stride: int | None, codec: str):
    return stripe.encode_stripe(
        table(name), codec=codec, row_index_stride=stride, **DIGESTED[name][1]
    )


def digest(streams: dict, footer: dict) -> str:
    h = hashlib.sha256()
    for (col, kind) in sorted(streams):
        data = streams[(col, kind)]
        h.update(f"{col}/{kind}/{len(data)}\n".encode())
        h.update(data)
    meta = {k: v for k, v in footer.items() if k != "encode_seconds"}
    h.update(json.dumps(meta, sort_keys=True).encode())
    return h.hexdigest()


CASES = [
    f"{name}/{stride}/{codec}" for name in DIGESTED for stride in STRIDES for codec in CODECS
]


def _case(case: str):
    name, stride, codec = case.split("/")
    return name, None if stride == "None" else int(stride), codec


GOLDEN = {
    "numeric/1000/zstd": "0ddc5a11e5e39492017877020e37bce4ffe3a9bcb29f7f6be33d245d5008fcc7",
    "numeric/1000/none": "4502c85ffa57b65d51a430176860e88bd3a584d3bdda1495fe89291621d3bbf6",
    "numeric/None/zstd": "ef0c1112fe6066a8612b7239971740631c3c62eb8372ef5fe694d46eaaad2414",
    "numeric/None/none": "4d7994084d2821f81921451650b854ab9cb5b53ed380a824b047f5b32255c71d",
    "bool/1000/zstd": "671e3618bfc0508fbd63ee04f7702eb75294e11362fcb7324b97d47270d7ff55",
    "bool/1000/none": "72d6eeb6b21132928f0b762fab7a2307e1e044fe62f641a33bade19a96d71241",
    "bool/None/zstd": "31be9f206efef3b6451316855388805e6c5ea6bfe54aee70a3a705b5354ee693",
    "bool/None/none": "bb423a1da116d2c5c14ed66eadc5d8117475526c39693c77df7033195904eb66",
    "strings/1000/zstd": "8bee33aa0496626be5583861fc34ba46a5f4d0af164ad06d31db55f0e1e3479f",
    "strings/1000/none": "77ef93d03c05ee004191d459f941883ab8d91e8f80bda935c0a168a43c3b8412",
    "strings/None/zstd": "7668e3566830ef942061543c28e1fc5c1d1de256d19001aa81cd45369985cdc8",
    "strings/None/none": "670c2c0de8c57d397ecb8e62ff05ab7d19259f0151cf2cb742c40888f210f996",
    "fsst/1000/zstd": "ddfce9d762d8bc281f84691dd3a31e727aeb065f7d0f2f1fc79727a0587735dc",
    "fsst/1000/none": "96ec4915ca4314540270f24e6ab72e8c80042c908eb53c216e37bbf498aa5f3f",
    "fsst/None/zstd": "804f0ebc66e0fed057e843bead9bc31a78eaa60ae7bf734c1d1ecc4cd5e711bc",
    "fsst/None/none": "1c2f7cc55e8ac996de75c915a3391ae55e632aa3b6e0cfd39d6545257ec3636d",
    "nested/1000/zstd": "e378ec5e01e87a248f91303e266ce5a4cb7b52ffa6b00fbb2e26661488cc21a9",
    "nested/1000/none": "bc55ccf34e39d01572d82075536a70da2a04e7dd5dbf94bc1b9bd84a389ef1f3",
    "nested/None/zstd": "ec907fdd46aea15289246eda836d74540a34c8485914e7f60ea4278906035c5c",
    "nested/None/none": "f1fb1bdcb49dbd2ef0321246d70ff924affb3de9e144e4efafba9beb5a871c38",
    "pages/1000/zstd": "755d8b3e6fe2e76f37ad269826e249275735b169f7f1e24b32d16a12c6ed58e4",
    "pages/1000/none": "93771aba532f198f7ca13ccbf880513ff7db1c1cd7794601869b29408c2de628",
    "pages/None/zstd": "ab92f3d786d8cd546297b904f501f95e9204f197447bf9f2ee5211073d8741e0",
    "pages/None/none": "1de95a160c7af67095500aff9ad06650463bb6827c58228323e7d70779f1938e",
    "stats_edges/1000/zstd": "06e2ec822e805376a2bf37a53f7a5f21d376fdc9b7b5a21dd5c0f186e402743d",
    "stats_edges/1000/none": "d4a751d4214645032c0f8abe3f60bb04af5357b277cf602849c1cd46ea41e72a",
    "stats_edges/None/zstd": "6f1e669ea0c7a4784c28e2a4a8b1c3cacfe51ce2831121c44039feffcaf991dd",
    "stats_edges/None/none": "751cbd9178b9a5fb3f1def09fed39be4bd4d29a4f5373f4c6858c7b07cb1b5dd",
}


@pytest.mark.parametrize("case", CASES)
def test_encode_stripe_bytes_match_golden(case):
    assert digest(*encode(*_case(case))) == GOLDEN[case]


@pytest.mark.parametrize("name", list(DIGESTED))
def test_inputs_exercise_their_encodings(name):
    _streams, footer = encode(name, 1_000, "zstd")
    got = {c["name"]: c["encoding"] for c in footer["columns"]}
    assert got == ENCODINGS[name]


def test_bool_groups_pad_their_data_segments():
    """Some group's non-null count is not a multiple of 8, so its bool
    DATA segment ends in pad bits."""
    _streams, footer = encode("bool", 1_000, "zstd")
    (flag,) = [c for c in footer["columns"] if c["name"] == "flag"]
    n_vals = [e["n_rows"] - e["stats"]["n_nulls"] for e in flag["row_index"][:-1]]
    assert any(v % 8 for v in n_vals)


if __name__ == "__main__":
    print("GOLDEN = {")
    for case in CASES:
        print(f'    "{case}": "{digest(*encode(*_case(case)))}",')
    print("}")
