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
that moved; the other 20 digests held.

A second re-recorded all 28: streams moved from the engine's 8-byte chunk
header (compressed length and flag, raw length) to ORC's 3-byte one, and
footers gained ``"format": 2``.  Compared with the previous encoder case
by case, every stream's chunk bodies and stored-original flags were
byte-identical with the headers stripped (481 chunks in 352 streams, 216
stored original), each compressed stream shrank by exactly 5 bytes per
chunk, ``none``-codec and bloom streams were identical, and the footers
differed only in ``format`` and the compressed sizes (``compressed``,
``segments``, and the ``encoded`` size of a CHILD stream, which records
its pre-compressed length).  Nothing else may re-record them.  To print
them (e.g. to compare two builds)::

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
    "numeric/1000/zstd": "3fda013dc1d4358042c93618ccfee37202ee104053a455dcf4fd3f0eba01fea8",
    "numeric/1000/none": "050bd5665925583ec74d704086f4aa44c0e67b3d768a21cc9c86a59cfb92cbd9",
    "numeric/None/zstd": "ca28549c4dc4ba42d715e7f02fd46bbc7922a6b29f1a1d81718f0097490696b1",
    "numeric/None/none": "7065e4547caceec40ff9f634b10f4d50e19c08072e928bf7f847f9ac536d8bcb",
    "bool/1000/zstd": "9a9b55bfcb195f5740f2eb4b53a896996954b6201cdc6e4b9a725b91c86caf3c",
    "bool/1000/none": "823d98d7ccb71e39fb81b1c2b56e85a4edb29d60b646421d77a24569d0406dd3",
    "bool/None/zstd": "5c23a83901d0ad2f5046ab77cbb34147475b62bb336cebf8be84ca69de6e9f49",
    "bool/None/none": "bcbf027563cd7ba42932dcc32eb7d178bad68a9b49a58b0afa38af095d9f8504",
    "strings/1000/zstd": "200f75b0183c5f40fac2efd36207294e2bde6b6587f68c5ce92e94f433bcf049",
    "strings/1000/none": "beba54622ea7499121bd530cd5f8ddb43bf9c1caf39ca7367b0b4218ad8f1b92",
    "strings/None/zstd": "f984fe22826a046e7f1993d95c12d0ad49d374641199f5d5901a173c5dbb08d1",
    "strings/None/none": "d29fa6448aa49fd0f4b0b2d9e36b6ba47e3fbdc82cd1a48442d2910662d0aec0",
    "fsst/1000/zstd": "2477ba7252aa9aa1022e64c938b82c679d02381be805dd434e42a94b773b91dc",
    "fsst/1000/none": "67d02b29d84a4a2fbac4ec0d3444e20d4ef025a4912382e6ee52a14cd4a2ff69",
    "fsst/None/zstd": "fa34e1ead6d5ac39931715e93dd2f511558a9f88df334d4181601bbb5533e471",
    "fsst/None/none": "65381953b3fa69c7833bb721976e7fd89a80c68e0045f33b4fef196e74ec9b6b",
    "nested/1000/zstd": "a40281211dbb2e969bba820f2b8bed2c5c951e11f833c6e4c1abf9f42f777c8e",
    "nested/1000/none": "036bf09211decec4da30bdbb548d881b98a1c43a76a882b5da576091cd5f0bfe",
    "nested/None/zstd": "be160e02caf82579f92d0c23a4107885cdec391cf3ef6608ad5da1fea4e05911",
    "nested/None/none": "506a32dcda5559645db670439310275db767739a90929a8e0f0defe4d8bb37bc",
    "pages/1000/zstd": "90a0352843463bb62e35f1734c59aa4d32c146a1543df881ecacbbfeb3e4443b",
    "pages/1000/none": "f3c21b2df85237915fa03459751545a31976d4db261917381357851ec3126e9a",
    "pages/None/zstd": "afee46d9f7c9ccffcc0df228cedf29fca9fa68b5f8262fb96c6f94b75f64adae",
    "pages/None/none": "53f8faf2401bb7500ab20cc2c5378b69af2dbbf6306082fd647cb37c83a93eb7",
    "stats_edges/1000/zstd": "754e1d185c6046a7f99f81259970efc3230493d68de518eb5145751baaf7c6a3",
    "stats_edges/1000/none": "a85db98632c9e1ba1d1bdeb31daeb07375155a67acdc52f9d503a34d39873d3c",
    "stats_edges/None/zstd": "e05974a0d50f41ce1bd4b7764ba2b27f6e2af0ec154bd653cd61480010ec37f2",
    "stats_edges/None/none": "239f541642d9a06c9d53da551b8207a0ce99ce23fc3c0967ee6e680ecab3918c",
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
