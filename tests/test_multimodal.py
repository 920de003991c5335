"""Multimodal plumbing: vectorized stub decode vs a per-row reference."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparc.ops import multimodal


def _ref_stub(payload: bytes | None):
    """Per-row reference implementation of the stub (test-only loop)."""
    if payload is None or len(payload) == 0:
        return "", 0, 0, [0.0] * 8
    header = payload[:8].hex()
    w = 64 + payload[0] % 64
    h = 64 + payload[-1] % 64
    arr = np.frombuffer(payload[:256].ljust(256, b"\0"), dtype=np.uint8)
    feat = (arr.reshape(8, 32).mean(axis=1) / 255.0).astype(np.float32)
    return header, int(w), int(h), feat.tolist()


PAYLOADS = [
    b"hello world this is a payload",
    b"",
    None,
    b"x",
    bytes(range(256)) * 3,  # longer than the 256-byte feature window
    b"\x00\xff\x7f\x80",
]


@pytest.fixture(scope="module")
def feats(spark):
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(PAYLOADS)], "doc_id long, payload binary"
    ).repartition(2)
    rows = multimodal.extract_features(df).orderBy("id").collect()
    return {r["id"]: r for r in rows}


def test_metadata_matches_reference(feats):
    for i, p in enumerate(PAYLOADS):
        header, w, h, feat = _ref_stub(p)
        r = feats[i]
        n = len(p) if p else 0
        assert r["n_bytes"] == n
        assert r["header"] == header
        assert r["fake_width"] == w
        assert r["fake_height"] == h
        np.testing.assert_allclose(r["feature"], feat, atol=1e-6)


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(PAYLOADS)], "doc_id long, payload binary"
    )
    a = {r["id"]: r["feat_fp"] for r in multimodal.extract_features(df).collect()}
    b = {
        r["id"]: r["feat_fp"]
        for r in multimodal.extract_features(df.repartition(3)).collect()
    }
    assert a == b
    # distinct payloads -> distinct fingerprints (no trivial collisions)
    assert len(set(a.values())) == len(set(
        bytes(p) if p else b"" for p in PAYLOADS
    ))


def _ref_fingerprint(feat) -> int:
    """The feature fingerprint recomputed per row: each component rounded to
    6 decimals as an integer of millionths, mixed with ``_FP_WEIGHTS`` in
    wrapping 64-bit arithmetic, read back as a signed int64."""
    total = 0
    for x, w in zip(feat, multimodal._FP_WEIGHTS.tolist()):
        scaled = int(np.float64(round(float(x), 6)) * 1e6) & (2**64 - 1)
        total = (total + scaled * w) & (2**64 - 1)
    return total - 2**64 if total >= 2**63 else total


def test_multimodal_feature_fp_query_matches_reference(spark):
    """Value gate of the ``multimodal_feature_fp`` query of
    ``__spark_entry__`` (no SQL oracle expresses it): every document's
    fingerprint equals an independent per-row recomputation from the raw
    parquet text."""
    import os

    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod
    import bench

    # the sf0.001 tables, whichever scale factor the bench directory points at
    sf_dir = os.path.join(os.path.dirname(os.path.normpath(bench.SF_DIR)), "sf0.001")
    got = {
        r["id"]: r["feat_fp"]
        for r in entry_mod.queries()["multimodal_feature_fp"](spark, sf_dir).collect()
    }
    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    want = {
        i: _ref_fingerprint(_ref_stub(None if t is None else t.encode("utf-8"))[3])
        for i, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
    }
    assert len(want) > 0
    assert got == want


def test_metadata_surface_schema(spark):
    df = spark.createDataFrame([(1, b"abc")], "doc_id long, payload binary")
    out = multimodal.extract_metadata(df)
    assert [f.name for f in out.schema.fields] == [
        "id", "n_bytes", "header", "fake_width", "fake_height",
    ]
    r = out.collect()[0]
    assert (r["n_bytes"], r["header"]) == (3, "616263")


def _install_fake_pil(monkeypatch):
    """A fake PIL whose Image.open parses b'IMG' + (w, h, fill) payloads —
    drives the real import guard and the real _pil_features code."""
    import sys
    import types

    class _Img:
        def __init__(self, w, h, fill):
            self.size = (w, h)
            self._fill = fill

        def convert(self, mode):
            return self

        def resize(self, wh):
            return np.full((wh[1], wh[0]), self._fill, np.uint8)

    class Image:
        @staticmethod
        def open(buf):
            raw = buf.getvalue()
            if not raw.startswith(b"IMG") or len(raw) < 6:
                raise ValueError("not an image")
            return _Img(raw[3], raw[4], raw[5])

    pil = types.ModuleType("PIL")
    pil.Image = Image
    monkeypatch.setitem(sys.modules, "PIL", pil)


def test_fake_pil_flows_through_guard(monkeypatch):
    """Round-4 verdict item #8: injecting a PIL module makes REAL decode
    results (true dims, histogram features) flow through the exact same
    plumbing the stub uses — resolution guard, offset extraction, batch
    Arrow assembly — with no code changes."""
    import pyarrow as pa

    _install_fake_pil(monkeypatch)
    monkeypatch.setenv("SPARC_MEDIA_DECODER", "auto")
    assert multimodal._resolve_decoder() is multimodal._pil_features

    payloads = [b"IMG" + bytes([40, 30, 128]), b"", b"not-an-image-x"]
    arr = pa.array(payloads, pa.binary())
    rb = pa.RecordBatch.from_arrays(
        [pa.array([0, 1, 2], pa.int64()), arr], names=["doc_id", "payload"]
    )
    # the identical generator Spark workers run, driven in-process so the
    # injected module is visible to the decode
    run = multimodal._run_factory("doc_id", "payload", with_feature=True)
    out = list(run(iter([rb])))[0]
    names = out.schema.names
    w = out.column(names.index("fake_width")).to_pylist()
    h = out.column(names.index("fake_height")).to_pylist()
    feats = out.column(names.index("feature")).to_pylist()
    assert (w[0], h[0]) == (40, 30)  # true dims from the (fake) decoder
    # constant gray 128 -> all mass in histogram bin 4
    np.testing.assert_allclose(feats[0], [0, 0, 0, 0, 1, 0, 0, 0], atol=1e-6)
    assert (w[1], h[1]) == (0, 0)     # empty payload
    assert (w[2], h[2]) == (-1, -1)   # undecodable: flagged, not faked
    assert out.column(names.index("header")).to_pylist()[0].startswith("494d47")


def test_custom_decoder_ships_to_spark_workers(spark):
    """An explicit decoder callable cloudpickles into the workers and its
    values come back through the full mapInArrow surface."""

    def decode(data, starts, lens):
        n = starts.size
        hdr_mat, hdr_n = multimodal._padded_matrix(data, starts, lens, 8)
        header = multimodal._hex_strings(hdr_mat, hdr_n)
        width = (lens % 1000).astype(np.int32)
        height = np.full(n, 7, np.int32)
        feat = np.tile(np.arange(8, dtype=np.float32) / 8.0, (n, 1))
        return header, width, height, feat

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(PAYLOADS)], "doc_id long, payload binary"
    ).repartition(2)
    rows = multimodal.extract_features(df, decoder=decode).orderBy("id").collect()
    assert len(rows) == len(PAYLOADS)
    for r in rows:
        assert r["fake_height"] == 7
        assert r["fake_width"] == r["n_bytes"] % 1000
        np.testing.assert_allclose(
            r["feature"], np.arange(8) / 8.0, atol=1e-6
        )


def test_pil_mode_strict_raises_without_pil(monkeypatch):
    import sys

    monkeypatch.setenv("SPARC_MEDIA_DECODER", "pil")
    monkeypatch.setitem(sys.modules, "PIL", None)  # force ImportError
    with pytest.raises(ImportError, match="SPARC_MEDIA_DECODER=pil"):
        multimodal._resolve_decoder()


def test_auto_mode_falls_back_to_stub_without_pil(monkeypatch):
    import sys

    monkeypatch.setenv("SPARC_MEDIA_DECODER", "auto")
    monkeypatch.setitem(sys.modules, "PIL", None)
    assert multimodal._resolve_decoder() is multimodal._stub_features
    monkeypatch.delenv("SPARC_MEDIA_DECODER")
    assert multimodal._resolve_decoder() is multimodal._stub_features


def test_matches_spark_sql_mirror(spark):
    """The vectorized numpy path agrees with a pure-SQL recomputation."""
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(PAYLOADS) if p], "doc_id long, payload binary"
    )
    ours = multimodal.extract_metadata(df)
    sql = df.select(
        F.col("doc_id").alias("id"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.lower(F.hex(F.expr("substring(payload, 1, 8)"))).alias("header"),
        (64 + F.conv(F.hex(F.expr("substring(payload, 1, 1)")), 16, 10) % 64)
        .cast("int").alias("fake_width"),
        (64 + F.conv(
            F.hex(F.expr("substring(payload, octet_length(payload), 1)")), 16, 10
        ) % 64).cast("int").alias("fake_height"),
    )
    assert ours.exceptAll(sql).count() == 0
    assert sql.exceptAll(ours).count() == 0
