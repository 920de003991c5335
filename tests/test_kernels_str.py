"""Tests for the string/binary stack: block codec, dictionary, FSST.

Mirrors reference suites TestStringRedBlackTree (dictionary semantics) and
TestInStream/TestOutStream (chunk headers, store-if-bigger); FSST has no
reference oracle — self round-trip + size-win checks (SURVEY.md §2.3).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, seed, settings, strategies as st

from sparc.kernels import block, dictionary, fsst
from sparc.kernels.block import SparcFormatError

RNG = np.random.default_rng(7)

# ---------------------------------------------------------------------------
# block codec
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("codec", ["zstd", "zlib", "snappy", "none"])
def test_block_roundtrip(codec):
    data = b"the quick brown fox " * 5000  # ~100 KiB, compressible
    enc = block.compress(data, codec)
    assert block.decompress(enc, codec) == data
    if codec != "none":
        assert len(enc) < len(data) / 3


def test_block_multi_chunk():
    data = bytes(RNG.integers(0, 4, 900_000, dtype=np.uint8))  # > 3 chunks
    enc = block.compress(data, "zstd")
    assert block.decompress(enc, "zstd") == data


def test_block_store_if_bigger():
    data = RNG.integers(0, 256, 100_000, dtype=np.uint8).tobytes()  # incompressible
    enc = block.compress(data, "zstd")
    assert block.decompress(enc, "zstd") == data
    assert len(enc) <= len(data) + 3  # stored + one header

def test_block_empty():
    assert block.decompress(block.compress(b"", "zstd"), "zstd") == b""


def test_block_codecs_are_orc_kinds():
    assert block.CODECS == {"none": 0, "zlib": 1, "snappy": 2, "zstd": 5}
    with pytest.raises(ValueError, match="unknown codec 'lz4'"):
        block.compress(b"abc", "lz4")


def _piece(kind: str, n: int, rng: np.random.Generator) -> bytes:
    if kind == "random":  # incompressible: its chunks are stored original
        return rng.integers(0, 256, n, dtype=np.uint8).tobytes()
    if kind == "text":
        return (b"the quick brown fox %d " * (n // 20 + 1))[:n]
    return bytes(n)


@st.composite
def _framing_cases(draw):
    """(payload, codec, chunk size): sizes at the chunk boundaries in one
    kind of bytes, or several chunks mixing compressible and random ones
    (random pieces at most one ORC chunk long, to bound codec time)."""
    codec = draw(st.sampled_from(sorted(block.CODECS)))
    chunk = draw(st.sampled_from((block.CHUNK_SIZE, block.ORC_CHUNK_SIZE)))
    rng = np.random.default_rng(draw(st.integers(0, 2**32)))
    size = draw(st.sampled_from((0, 1, chunk - 1, chunk, chunk + 1, None)))
    if size is not None:
        kind = draw(st.sampled_from(("random", "text", "zeros")))
        return _piece(kind, size, rng), codec, chunk
    pieces = draw(st.lists(
        st.tuples(st.sampled_from(("random", "text", "zeros")), st.floats(0.0, 1.0)),
        min_size=2, max_size=5,
    ))
    data = b"".join(
        _piece(k, int(f * block.ORC_CHUNK_SIZE) + 1, rng) if k == "random"
        else _piece(k, int(f * chunk) + 1, rng)
        for k, f in pieces
    )
    return data + bytes(max(0, chunk + 1 - len(data))), codec, chunk  # > 1 chunk


@seed(20261020)
@settings(max_examples=200, deadline=None)
@given(_framing_cases())
def test_block_framing_roundtrip(case):
    """Whole and chunk by chunk: every chunk but the last inflates to the
    chunk size, the chunk starts are the ones ``frame`` reports, and
    ``none`` passes bytes through unframed."""
    data, codec, chunk = case
    framed, starts = block.frame(data, codec, chunk=chunk)
    assert bytes(block.decompress(framed, codec)) == data
    if codec == "none" or not data:
        assert framed == data and starts == [0]
        return
    view, pos, seen, parts = memoryview(framed), 0, [], []
    while pos < len(view):
        seen.append(pos)
        part, pos = block.inflate_chunk(view, pos, codec)
        parts.append(bytes(part))
    assert seen == starts
    assert [len(p) for p in parts[:-1]] == [chunk] * (len(parts) - 1)
    assert 0 < len(parts[-1]) <= chunk
    assert b"".join(parts) == data


def test_block_damaged_input_raises_format_error():
    framed = block.compress(b"abc" * 1000, "zstd")
    bad_magic = bytearray(framed)
    bad_magic[3] ^= 0xFF  # first byte of the zstd frame magic
    with pytest.raises(SparcFormatError, match="zstd frame magic"):
        block.decompress(bytes(bad_magic), "zstd")
    for codec in ("zstd", "zlib", "snappy"):
        framed = block.compress(b"abc" * 1000, codec)
        with pytest.raises(SparcFormatError, match="past the"):
            block.decompress(framed[:-1], codec)  # header length runs past the end
        with pytest.raises(SparcFormatError, match="past the"):
            block.decompress(framed[:2], codec)  # a header cut short


# ---------------------------------------------------------------------------
# dictionary
# ---------------------------------------------------------------------------


def test_dictionary_sorted_semantics():
    vals = np.array(["pear", "apple", "pear", "fig", "apple"], dtype=object)
    codes, uniques = dictionary.encode_sorted(vals)
    assert uniques == [b"apple", b"fig", b"pear"]  # byte-lexicographic
    assert codes.tolist() == [2, 0, 2, 1, 0]
    assert dictionary.decode(codes, uniques) == [b"pear", b"apple", b"pear", b"fig", b"apple"]


def test_dictionary_multibyte_utf8_byte_order():
    # byte-lexicographic, NOT codepoint order: b'\xc3\xa9' (é) > b'z'
    vals = np.array(["é", "z", "中", "a"], dtype=object)
    codes, uniques = dictionary.encode_sorted(vals)
    assert uniques == ["a".encode(), "z".encode(), "é".encode(), "中".encode()]
    assert dictionary.decode(codes, uniques) == [v.encode() for v in vals]


def test_dictionary_bytes_input():
    vals = np.array([b"b", b"a", b"b", b""], dtype=object)
    codes, uniques = dictionary.encode_sorted(vals)
    assert uniques == [b"", b"a", b"b"]
    assert codes.tolist() == [2, 1, 2, 0]


def test_dictionary_threshold():
    assert dictionary.should_use_dictionary(5, 10000)
    assert dictionary.should_use_dictionary(8000, 10000)
    assert not dictionary.should_use_dictionary(8001, 10000)
    assert not dictionary.should_use_dictionary(0, 0)


def test_dictionary_all_unique():
    vals = np.array([f"u{i:05d}" for i in range(1000)], dtype=object)
    codes, uniques = dictionary.encode_sorted(vals)
    assert len(uniques) == 1000
    assert dictionary.decode(codes, uniques) == [v.encode() for v in vals]


# ---------------------------------------------------------------------------
# FSST
# ---------------------------------------------------------------------------

WORDS = [
    "the", "of", "and", "http", "https", "www", "com", "org", "page",
    "data", "spark", "columnar", "compression", "engine", "stream",
]


def _word_soup(n_words: int, seed: int = 3) -> bytes:
    rng = np.random.default_rng(seed)
    # Zipf-ish word frequencies
    p = 1.0 / np.arange(1, len(WORDS) + 1)
    p /= p.sum()
    words = rng.choice(WORDS, n_words, p=p)
    return " ".join(words.tolist()).encode()


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"hello hello hello hello",
        _word_soup(2000),
        "héllo wörld 中文 🎉 ".encode() * 50,
        bytes(range(256)) * 4,  # all byte values
        RNG.integers(0, 256, 5000, dtype=np.uint8).tobytes(),  # random bytes
        b"\xff" * 100,  # escape byte itself, repeated
        b"ab\xffcd" * 50,  # escape byte mixed in
    ],
)
def test_fsst_roundtrip(data):
    table = fsst.train(data)
    enc = fsst.compress(data, table)
    assert fsst.decompress(enc, table) == data


def test_fsst_with_table_stream():
    data = _word_soup(5000)
    enc = fsst.compress_with_table(data)
    assert fsst.decompress_with_table(enc) == data


def test_fsst_compresses_text():
    data = _word_soup(20000)
    table = fsst.train(data)
    enc = fsst.compress(data, table)
    ratio = len(enc) / len(data)
    assert ratio < 0.55, f"FSST ratio {ratio:.3f} too weak on word soup"


def test_fsst_url_like():
    urls = "".join(
        f"https://www.example{i % 100}.com/path/to/page{i}?q=spark\n" for i in range(2000)
    ).encode()
    table = fsst.train(urls)
    enc = fsst.compress(urls, table)
    assert fsst.decompress(enc, table) == urls
    assert len(enc) / len(urls) < 0.45


def test_fsst_block_boundary_clamp():
    # a long symbol straddling every parse-block boundary: the lockstep
    # walk must clamp it (1-byte rescue or escape) without corrupting
    # the round-trip or duplicating the overlapped bytes
    sym = b"abcdefgh"  # likely trained as a long symbol
    data = sym * ((fsst._BLOCK * 4) // len(sym) + 7)  # misaligned vs _BLOCK
    table = fsst.train(data)
    enc = fsst.compress(data, table)
    assert fsst.decompress(enc, table) == data
    # boundary cost stays tiny: within 2% of the unclamped entropy
    assert len(enc) <= len(data) * 0.25


def test_fsst_lockstep_matches_scalar_walk():
    # the vectorized lockstep walk and the scalar walk (short-input path)
    # must both round-trip the same data; sizes may differ only by the
    # block-boundary clamp allowance
    data = _word_soup(30000)  # > _WALK_LOCKSTEP_MIN -> lockstep
    table = fsst.train(data)
    enc_vec = fsst.compress(data, table)
    assert fsst.decompress(enc_vec, table) == data
    # scalar reference: force the short path by compressing in small pieces
    step = fsst._WALK_LOCKSTEP_MIN - 1
    enc_scalar = b"".join(
        fsst.compress(data[i : i + step], table) for i in range(0, len(data), step)
    )
    assert fsst.decompress(enc_scalar, table) == data
    assert len(enc_vec) <= len(enc_scalar) * 1.02 + 64


def test_fsst_table_roundtrip():
    table = fsst.train(_word_soup(1000))
    ser = table.serialize()
    table2, pos = fsst.SymbolTable.deserialize(ser)
    assert pos == len(ser)
    assert table2.symbols == table.symbols


def test_fsst_shared_table_across_rows():
    # stripe usage: one table trained on a sample encodes every row
    rows = [_word_soup(50, seed=s) for s in range(50)]
    table = fsst.train(b"".join(rows[:10]))
    for r in rows:
        assert fsst.decompress(fsst.compress(r, table), table) == r


def test_unsorted_hash_dictionary():
    """orc.dictionary.implementation=hash analog: first-occurrence order,
    codes reconstruct values identically; the sorted variant keeps the
    DICTIONARY_V2 contract."""
    import pyarrow as pa

    vals = pa.array(["pear", "apple", "pear", "fig", "apple"])
    codes, uniques = dictionary.encode_unsorted(vals)
    assert uniques == [b"pear", b"apple", b"fig"]  # insertion order
    assert dictionary.decode(codes, uniques) == [
        b"pear", b"apple", b"pear", b"fig", b"apple",
    ]
    s_codes, s_uniques = dictionary.encode_sorted(vals)
    assert s_uniques == sorted(s_uniques)


def test_block_true_multi_chunk_mixed():
    """> CHUNK_SIZE payloads exercise the multi-chunk reassembly path,
    including a MIX of compressed and stored-original chunks (zstd-hard
    random bytes force store-if-bigger; zeros compress)."""
    sz = block.CHUNK_SIZE
    data = (
        bytes(RNG.integers(0, 256, sz + 1000, dtype=np.uint8))  # stored
        + b"\x00" * (sz // 2)                                   # compressed
        + bytes(RNG.integers(0, 256, 500, dtype=np.uint8))      # tail chunk
    )
    for codec in ("zstd", "zlib", "snappy"):
        enc = block.compress(data, codec)
        out = block.decompress(enc, codec)
        assert bytes(out) == data, codec


def test_block_decompress_return_types_support_buffer_protocol():
    """decompress returns zero-copy views (Buffer / memoryview / ndarray)
    — all must satisfy np.frombuffer and len()."""
    comp = block.decompress(block.compress(b"aa" * 50_000, "zstd"), "zstd")
    stored = block.decompress(
        block.compress(bytes(RNG.integers(0, 256, 1000, dtype=np.uint8)), "zstd"),
        "zstd",
    )
    multi = block.decompress(
        block.compress(b"\x01" * (block.CHUNK_SIZE + 10), "zstd"), "zstd"
    )
    for out in (comp, stored, multi):
        assert np.frombuffer(out, np.uint8).size == len(out)
