"""Read REAL ORC files with this engine's own kernels — the reverse
cross-validation direction: the reference writer (Spark's orc-core /
pyarrow) produces the file, OUR RLEv2 / byte-RLE / bitfield / dictionary
decoders reconstruct it.  Together with ``orcfile`` (our writer → their
readers) this closes the loop on wire-format conformance.

Scope (an oracle, not the product read path): compression NONE / ZLIB /
SNAPPY / ZSTD, whose chunks ``block`` inflates (the same framing engine
stripes use), schemas of int8..int64, date32, double/float,
bool, nested list / map / struct / union to any depth (recursive
type-tree walk), string (DIRECT / DICTIONARY v1 *and* DIRECT_V2 / DICTIONARY_V2 —
the ColumnEncoding kind selects RLEv1 vs RLEv2 per stream, mirroring
TreeReaderFactory's reader-version dispatch), binary, timestamp
(any IANA writerTimezone — wall-clock semantics matching the reference
reader: per-file 2015-base shift + vectorized per-value writer-zone
conversion, verified against spark.read.orc under a UTC session),
decimal (unbounded varint mantissa + signed per-value scale with
rescale-to-declared-scale, ``DecimalTreeReader`` semantics).

Decoding is two steps, shared by whole-stripe and row-group reads:

- *stream → values*: a source hands each stream out from a start
  position (a buffer plus the coder state already consumed there) and
  the kernels decode exactly the values asked for: PRESENT flags, RLE
  and byte-RLE values, raw byte ranges (``_flags`` / ``_ints`` /
  ``_tags`` / ``_raw``);
- *values → Arrow*: :func:`_decode_tree` and the leaf builders, which
  re-expand nested children through their parents' PRESENT bits.

:func:`read_orc` reads every stream whole from the stripe start.
:func:`read_orc_row_groups` seeks every stream of every node to its
row-index position and inflates only the compression chunks those values
live in, so each kept value is decoded once and nothing is re-encoded.

Tail layout per ``ReaderImpl.extractPostScript/extractFileTail``
(ReaderImpl.java:649-667, 454-501); stream directory per
``StripePlanner.parseStripe`` (StripePlanner.java:142-158)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..kernels import bitfield, block, byterle, rlev1, rlev2
from . import bloom as bloom_mod, stats as stats_mod, stripe as stripe_mod

# --- minimal protobuf parser ------------------------------------------------


def _parse_pb(data: bytes | memoryview) -> dict[int, list]:
    """field number -> list of raw values (ints for varint, memoryview for
    length-delimited; fixed64/32 returned as ints)."""
    out: dict[int, list] = {}
    mv = memoryview(data)
    pos = 0
    n = len(mv)
    while pos < n:
        key, pos = _varint(mv, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _varint(mv, pos)
        elif wire == 2:
            ln, pos = _varint(mv, pos)
            if pos + ln > n:
                raise ValueError("truncated length-delimited field")
            v = mv[pos : pos + ln]
            pos += ln
        elif wire == 1:
            v = int.from_bytes(mv[pos : pos + 8], "little")
            pos += 8
        elif wire == 5:
            v = int.from_bytes(mv[pos : pos + 4], "little")
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        out.setdefault(field, []).append(v)
    return out


def _varint(mv: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = mv[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _packed_varints(raw) -> list[int]:
    mv = memoryview(raw)
    out = []
    pos = 0
    while pos < len(mv):
        v, pos = _varint(mv, pos)
        out.append(v)
    return out


# --- ORC enums ---------------------------------------------------------------

_KINDS = {v: k for k, v in block.CODECS.items()}  # CompressionKind -> codec

_TYPE_KINDS = {
    0: "boolean", 1: "byte", 2: "short", 3: "int", 4: "long", 5: "float",
    6: "double", 7: "string", 8: "binary", 9: "timestamp", 10: "list",
    11: "map", 12: "struct", 13: "union", 14: "decimal", 15: "date",
    16: "varchar", 17: "char", 18: "timestamp_instant",
}
_STREAM_KIND = {0: "PRESENT", 1: "DATA", 2: "LENGTH", 3: "DICTIONARY_DATA",
                5: "SECONDARY", 6: "ROW_INDEX", 8: "BLOOM_FILTER_UTF8",
                7: "BLOOM_FILTER"}
_INT_WIDTH = {"byte": pa.int8(), "short": pa.int16(), "int": pa.int32(),
              "long": pa.int64()}


_INDEX_KINDS = ("ROW_INDEX", "BLOOM_FILTER", "BLOOM_FILTER_UTF8", "?")


def _tail(data: bytes, path: str) -> tuple[dict, str, dict]:
    """(PostScript, compression kind, Footer) of a whole file's bytes.

    A damaged tail raises one ``ValueError`` naming ``path`` and the
    section; the PostScript must carry the ``ORC`` magic in field 8000
    (``ReaderImpl.ensureOrcFooter``), so a truncated file cannot parse as
    a shorter one."""
    section = "postscript"
    try:
        ps_len = data[-1]
        ps = _parse_pb(data[-1 - ps_len : -1])
        if [bytes(m) for m in ps.get(8000, [])] != [b"ORC"]:
            raise ValueError("no ORC magic in field 8000")
        footer_len = ps[1][0]
        kind = _KINDS.get(ps.get(2, [0])[0])
        if kind is None:
            raise NotImplementedError(f"orcread: compression kind {ps[2][0]}")
        section = "footer"
        if 1 + ps_len + footer_len > len(data):
            raise ValueError(f"{footer_len} bytes run past the file start")
        footer = _parse_pb(
            block.decompress(data[-1 - ps_len - footer_len : -1 - ps_len], kind)
        )
        if 4 not in footer:
            raise ValueError("no types")
    except NotImplementedError:
        raise
    except Exception as e:
        raise ValueError(f"orcread: {path}: corrupt ORC {section}: {e}") from e
    return ps, kind, footer


def _stripes(footer: dict) -> list[dict]:
    stripes = []
    for s in footer.get(3, []):
        sp = _parse_pb(s)
        stripes.append(
            {
                "offset": sp[1][0],
                "index_len": sp.get(2, [0])[0],
                "data_len": sp[3][0],
                "footer_len": sp[4][0],
                "n_rows": sp[5][0],
            }
        )
    return stripes


def _stripe_directory(
    data: bytes, st: dict, kind: str
) -> tuple[dict, list[tuple[str, int, memoryview]]]:
    """(parsed StripeFooter, [(stream kind, column id, stored bytes)] in
    file order): stream payloads are laid out sequentially from the
    stripe start."""
    foot = st["offset"] + st["index_len"] + st["data_len"]
    sf = _parse_pb(block.decompress(data[foot : foot + st["footer_len"]], kind))
    mv = memoryview(data)
    pos = st["offset"]
    streams = []
    for x in sf.get(1, []):
        stream = _parse_pb(x)
        ln = stream.get(3, [0])[0]
        streams.append(
            (
                _STREAM_KIND.get(stream.get(1, [0])[0], "?"),
                stream.get(2, [0])[0],
                mv[pos : pos + ln],
            )
        )
        pos += ln
    return sf, streams


def _writer_tz(sf: dict) -> str:
    # StripeFooter.writerTimezone (field 3): timestamp seconds are
    # wall-clock in this zone; only UTC decodes without per-value
    # DST adjustment, so anything else must fail loudly, not drift
    return bytes(sf[3][0]).decode() if 3 in sf else "UTC"


def read_orc(path: str) -> pa.Table:
    """Parse + decode an ORC file with this engine's kernels."""
    with open(path, "rb") as f:
        data = f.read()
    _ps, kind, footer = _tail(data, path)
    types = [_parse_pb(t) for t in footer[4]]
    root = types[0]
    assert _TYPE_KINDS[root.get(1, [0])[0]] == "struct"
    subtypes = _packed_varints(root[2][0]) if 2 in root else []
    names = [bytes(b).decode() for b in root.get(3, [])]
    stripes = _stripes(footer)

    col_chunks: dict[int, list[pa.Array]] = {i: [] for i in range(len(names))}
    for st in stripes:
        sf, streams = _stripe_directory(data, st, kind)
        per_col: dict[int, dict[str, bytes]] = {}
        for skind, col, stored in streams:
            if skind not in _INDEX_KINDS:
                per_col.setdefault(col, {})[skind] = block.decompress(stored, kind)
        src = _StripeStreams(
            types, [_parse_pb(x) for x in sf.get(2, [])], _writer_tz(sf), per_col
        )
        for i, type_id in enumerate(subtypes):
            col_chunks[i].append(_decode_tree(type_id, st["n_rows"], src))

    if not stripes:
        # zero-stripe file (Spark writes these for empty partitions):
        # a typed empty table, as every reference reader returns
        return pa.table(
            {n: pa.nulls(0, _arrow_type_of(types, s))
             for n, s in zip(names, subtypes)}
        )
    cols = [pa.concat_arrays(chunks) if len(chunks) != 1 else chunks[0]
            for chunks in (col_chunks[i] for i in range(len(names)))]
    return pa.table(dict(zip(names, cols)))


def _arrow_type_of(types: list[dict], idx: int) -> pa.DataType:
    """Arrow type a decode of this ORC Type node produces (used only to
    shape zero-stripe empties — the decode paths carry their own types)."""
    t = types[idx]
    tk = _TYPE_KINDS[t.get(1, [0])[0]]
    subtypes = _packed_varints(t[2][0]) if 2 in t else []
    names = [bytes(b).decode() for b in t.get(3, [])]
    if tk in _INT_WIDTH:
        at = _INT_WIDTH[tk]
        if tk == "long" and _catalyst_type(t) == "timestamp_ntz":
            return pa.timestamp("us")
        return at
    simple = {
        "boolean": pa.bool_(), "float": pa.float32(), "double": pa.float64(),
        "string": pa.string(), "char": pa.string(), "varchar": pa.string(),
        "binary": pa.binary(), "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
        "timestamp_instant": pa.timestamp("us", tz="UTC"),
    }
    if tk in simple:
        return simple[tk]
    if tk == "decimal":
        return pa.decimal128(t.get(5, [38])[0], t.get(6, [10])[0])
    if tk == "struct":
        return pa.struct(
            [pa.field(n, _arrow_type_of(types, s)) for n, s in zip(names, subtypes)]
        )
    if tk == "list":
        return pa.list_(_arrow_type_of(types, subtypes[0]))
    if tk == "map":
        return pa.map_(
            _arrow_type_of(types, subtypes[0]), _arrow_type_of(types, subtypes[1])
        )
    raise NotImplementedError(f"empty-file type {tk}")


# --- stream -> values ---------------------------------------------------------
#
# A source hands out each stream of a type-tree node from a start position:
# ``(buffer, used, bits)`` — the bytes from the position on, plus the coder
# state already consumed there (values of the current run; bits of the
# current byte for bitfields).  A whole-stripe read starts every stream at
# byte 0 with nothing used; a row-group read starts it at the row-index
# entry.  The helpers below decode exactly the values asked for.


class _StripeStreams:
    """Every stream of one stripe, inflated whole and read from its start."""

    def __init__(self, types, encodings, writer_tz, per_col):
        self.types, self.encodings, self.writer_tz = types, encodings, writer_tz
        self.per_col = per_col

    def has(self, tid: int, skind: str) -> bool:
        return skind in self.per_col.get(tid, ())

    def stream(self, tid: int, skind: str, nbytes: int | None = None):
        """``(buffer, used, bits)`` of a stream; ``nbytes`` is how many
        bytes a raw read needs (a whole stream holds them all)."""
        return self.per_col[tid][skind], 0, 0


def _enc_kind(src, tid: int) -> int:
    return src.encodings[tid].get(1, [0])[0]  # 0 DIRECT, 1 DICT, 2/3 *_V2


def _int_coder(enc_kind: int):
    # ColumnEncoding selects the integer coder: DIRECT/DICTIONARY carry
    # RLEv1 streams (0.11-era), *_V2 carry RLEv2 (RunLengthIntegerReader
    # vs RunLengthIntegerReaderV2 dispatch, TreeReaderFactory)
    return rlev1 if enc_kind in (0, 1) else rlev2


def _flags(src, tid: int, skind: str, n: int) -> np.ndarray:
    buf, used, bits = src.stream(tid, skind)
    skip = 8 * used + bits
    return bitfield.decode(buf, skip + n)[skip:]


def _ints(src, tid: int, skind: str, n: int, signed: bool) -> np.ndarray:
    buf, used, _ = src.stream(tid, skind)
    rle = _int_coder(_enc_kind(src, tid))
    return rle.decode(buf, used + n, signed=signed)[used:]


def _tags(src, tid: int, n: int) -> np.ndarray:
    buf, used, _ = src.stream(tid, "DATA")
    return byterle.decode(buf, used + n)[used:]


def _raw(src, tid: int, skind: str, nbytes: int | None = None):
    return src.stream(tid, skind, nbytes)[0]


def _present(src, tid: int, n_rows: int) -> tuple[np.ndarray | None, int]:
    """(validity or None when every slot is set, non-null value count)."""
    if not src.has(tid, "PRESENT"):
        return None, n_rows
    valid = _flags(src, tid, "PRESENT", n_rows)
    n_vals = int(valid.sum())
    return (None if n_vals == n_rows else valid), n_vals


# --- values -> Arrow ----------------------------------------------------------


def _decode_tree(type_id: int, n_rows: int, src) -> pa.Array:
    """Recursive column decode over the pre-order type tree.  Nested
    nulls per the ORC model (TreeReaderFactory's StructTreeReader
    :2569-2661, ListTreeReader :2792-2878, MapTreeReader :2884-2979,
    UnionTreeReader :2671-2766, DecimalTreeReader :1484-1782 —
    orc-core 2.2.2 jar line tables per SURVEY §0): a child
    stream holds entries only for slots where the parent is present, so
    each level re-expands its children through its own PRESENT bits."""
    type_pb = src.types[type_id]
    tk = _TYPE_KINDS[type_pb.get(1, [0])[0]]
    if tk not in ("struct", "list", "map", "union"):
        return _decode_orc_column(type_id, n_rows, src)
    valid, n_vals = _present(src, type_id, n_rows)
    subtypes = _packed_varints(type_pb[2][0]) if 2 in type_pb else []

    if tk == "union":
        # UnionTreeReader: DATA = byte-RLE tags; variant values follow in
        # row order.  Arrow unions cannot carry top-level nulls, so a
        # PRESENT-bearing union (Hive can write one) has no lossless
        # Arrow image — refuse rather than guess.
        if valid is not None:
            raise NotImplementedError("orcread: union with nulls")
        tags = _tags(src, type_id, n_rows).astype(np.int8)
        offsets = np.zeros(n_rows, np.int32)
        kids = []
        for i, sid in enumerate(subtypes):
            mask = tags == i
            cnt = int(mask.sum())
            kids.append(_decode_tree(sid, cnt, src))
            offsets[mask] = np.arange(cnt, dtype=np.int32)
        return pa.UnionArray.from_dense(
            pa.array(tags, pa.int8()), pa.array(offsets, pa.int32()), kids
        )
    if tk == "struct":
        names = [bytes(b).decode() for b in type_pb.get(3, [])]
        kids = [_decode_tree(sid, n_vals, src) for sid in subtypes]
        if valid is not None:
            # inflate to n_rows: parent-null slots become null children
            idx = np.zeros(n_rows, np.int64)
            idx[valid] = np.arange(n_vals)
            take_idx = pa.array(idx, pa.int64(), mask=~valid)
            kids = [k.take(take_idx) for k in kids]
            return pa.StructArray.from_arrays(kids, names, mask=pa.array(~valid))
        return pa.StructArray.from_arrays(kids, names)
    lengths = _ints(src, type_id, "LENGTH", n_vals, signed=False)
    total = int(lengths.sum())
    if total > 2**31 - 1:
        raise NotImplementedError(
            f"orcread: stripe holds {total} nested elements — exceeds "
            "int32 Arrow list offsets"
        )
    if valid is None:
        off_arr = pa.array(
            np.concatenate(([0], np.cumsum(lengths))).astype(np.int32), pa.int32()
        )
    else:
        full_len = np.zeros(n_rows, np.int64)
        full_len[valid] = lengths
        offs = np.concatenate(([0], np.cumsum(full_len))).astype(np.int32)
        off_arr = pa.array(
            offs, pa.int32(), mask=np.concatenate((~valid, [False]))
        )
    if tk == "list":
        return pa.ListArray.from_arrays(off_arr, _decode_tree(subtypes[0], total, src))
    return pa.MapArray.from_arrays(
        off_arr,
        _decode_tree(subtypes[0], total, src),
        _decode_tree(subtypes[1], total, src),
    )


def _catalyst_type(type_pb: dict) -> str | None:
    """Spark's logical-type annotation on an ORC Type (attributes field,
    ``repeated StringPair attributes = 7`` with key
    ``spark.sql.catalyst.type``) — how Spark's writer marks e.g.
    TIMESTAMP_NTZ columns it physically stores as plain longs of epoch
    micros (verified: -1 reads back 1969-12-31T23:59:59.999999)."""
    for pair in type_pb.get(7, []):
        p = _parse_pb(pair)
        if 1 in p and bytes(p[1][0]) == b"spark.sql.catalyst.type" and 2 in p:
            return bytes(p[2][0]).decode()
    return None


def _decode_orc_column(tid: int, n_rows: int, src) -> pa.Array:
    type_pb = src.types[tid]
    arr = _decode_orc_column_raw(tid, n_rows, src)
    # honor Spark's logical-type annotation the way spark.read.orc does:
    # an attributed NTZ long column comes back as timestamp[us], not int64
    if _catalyst_type(type_pb) == "timestamp_ntz" and arr.type == pa.int64():
        arr = arr.view(pa.timestamp("us"))
    return arr


def _decode_orc_column_raw(tid: int, n_rows: int, src) -> pa.Array:
    type_pb = src.types[tid]
    enc_pb = src.encodings[tid]
    tk = _TYPE_KINDS[type_pb.get(1, [0])[0]]
    enc_kind = _enc_kind(src, tid)
    valid, n_vals = _present(src, tid, n_rows)

    def scatter(vals: np.ndarray, t: pa.DataType) -> pa.Array:
        return stripe_mod._scatter_numeric(vals, valid, n_rows, t)

    if tk in _INT_WIDTH:
        vals = _ints(src, tid, "DATA", n_vals, signed=True)
        return scatter(vals.astype(_INT_WIDTH[tk].to_pandas_dtype()), _INT_WIDTH[tk])
    if tk == "date":
        vals = _ints(src, tid, "DATA", n_vals, signed=True)
        return scatter(vals.astype(np.int32), pa.date32())
    if tk in ("double", "float"):
        np_t = np.dtype(np.float64 if tk == "double" else np.float32)
        vals = np.frombuffer(
            _raw(src, tid, "DATA", n_vals * np_t.itemsize),
            dtype=np_t.newbyteorder("<"),
            count=n_vals,
        )
        return scatter(vals.astype(np_t), pa.float64() if tk == "double" else pa.float32())
    if tk == "boolean":
        vals = _flags(src, tid, "DATA", n_vals)
        return scatter(vals, pa.bool_())
    if tk == "timestamp_instant":
        # TIMESTAMP_INSTANT ("timestamp with local time zone"): the wire
        # value is an absolute instant relative to 2015-01-01 00:00 UTC —
        # writerTimezone is irrelevant by definition, no wall-clock
        # re-expression on either side (TimestampTreeReader's instantly-
        # typed variant skips the zone adjustment)
        seconds = _ints(src, tid, "DATA", n_vals, signed=True)
        nanos = stripe_mod.parse_nanos(
            _ints(src, tid, "SECONDARY", n_vals, signed=False)
        )
        us = (seconds + stripe_mod.TS_BASE_SECONDS) * 1_000_000 + nanos // 1_000
        return scatter(us, pa.timestamp("us", tz="UTC"))
    if tk == "timestamp":
        writer_tz = src.writer_tz
        utc = writer_tz in ("UTC", "GMT", "Etc/UTC", "Etc/GMT")
        if utc:
            base = stripe_mod.TS_BASE_SECONDS
        else:
            # The wire value is (instant seconds - base), where base is
            # the INSTANT of 2015-01-01 00:00:00 wall-clock in the
            # writer's zone (TreeWriterBase's base_timestamp) — one
            # per-file constant.
            from datetime import datetime
            from zoneinfo import ZoneInfo

            try:
                zone = ZoneInfo(writer_tz)
            except Exception as exc:
                raise NotImplementedError(
                    f"orcread: unknown writerTimezone {writer_tz!r}"
                ) from exc
            base = int(datetime(2015, 1, 1, tzinfo=zone).timestamp())
        seconds = _ints(src, tid, "DATA", n_vals, signed=True)
        nanos = stripe_mod.parse_nanos(
            _ints(src, tid, "SECONDARY", n_vals, signed=False)
        )
        us = (seconds + base) * 1_000_000 + nanos // 1_000
        if not utc:
            # ORC TIMESTAMP is wall-clock semantics: the reference reader
            # re-expresses the writer's LOCAL wall clock in the reader's
            # zone (TimestampTreeReader's writer/reader offset
            # adjustment; verified against spark.read.orc under a UTC
            # session).  The offset is per-VALUE (DST), so convert the
            # recovered instants to writer-zone wall time vectorized.
            import pandas as pd

            wall = (
                pd.DatetimeIndex(us.astype("datetime64[us]"), tz="UTC")
                .tz_convert(zone)
                .tz_localize(None)
            )
            us = wall.values.astype("datetime64[us]").astype(np.int64)
        return scatter(us, pa.timestamp("us"))
    if tk in ("string", "binary", "varchar", "char"):
        # CHAR/VARCHAR carry ordinary string streams; maximumLength is
        # type metadata only (values are stored as written)
        t = pa.binary() if tk == "binary" else pa.string()
        if enc_kind in (1, 3):  # DICTIONARY / DICTIONARY_V2
            nd = enc_pb.get(2, [0])[0]
            dlens = _ints(src, tid, "LENGTH", nd, signed=False)
            dblob = np.frombuffer(_raw(src, tid, "DICTIONARY_DATA"), np.uint8)
            codes = _ints(src, tid, "DATA", n_vals, signed=False)
            doffs = np.concatenate(([0], np.cumsum(dlens)))
            row_lens = dlens[codes] if n_vals else np.zeros(0, dtype=np.int64)
            buf = stripe_mod._ragged_gather(dblob, doffs[codes], row_lens)
            return stripe_mod._build_binary(buf, row_lens, valid, n_rows, t)
        row_lens = _ints(src, tid, "LENGTH", n_vals, signed=False)
        blob = _raw(src, tid, "DATA", int(row_lens.sum()))
        return stripe_mod._build_binary(
            np.frombuffer(blob, np.uint8), row_lens, valid, n_rows, t
        )
    if tk == "decimal":
        # DecimalTreeReader: DATA = unbounded zigzag-varint mantissa,
        # SECONDARY = signed RLE per-value scale.  HiveDecimal strips
        # trailing zeros, so a value's wire scale may be below the column
        # scale; the reader rescales to the declared scale.
        from ..kernels import bigdec

        prec = type_pb.get(5, [38])[0]
        scale = type_pb.get(6, [0])[0]
        lo, hi = bigdec.decode(_raw(src, tid, "DATA"), n_vals)
        val_scales = _ints(src, tid, "SECONDARY", n_vals, signed=True)
        if n_vals and not (val_scales == scale).all():
            # rare path: exact Python-int rescale (oracle read, not hot)
            out_lo = np.empty(n_vals, np.uint64)
            out_hi = np.empty(n_vals, np.int64)
            for i in range(n_vals):
                v = (int(hi[i]) << 64) | int(lo[i])
                v *= 10 ** (scale - int(val_scales[i]))
                out_lo[i] = v & 0xFFFFFFFFFFFFFFFF
                out_hi[i] = v >> 64
            lo, hi = out_lo, out_hi
        return stripe_mod._build_decimal_big(
            lo, hi, valid, n_rows, pa.decimal128(prec, scale)
        )
    raise NotImplementedError(f"orcread: type {tk}")


# --- row-group seek (consumer side of the row index) -------------------------
#
# ``RecordReaderImpl.seekToRowEntry`` analog over row-indexed files: parse
# each column's ROW_INDEX stream, consume the per-entry position list in
# the reader's order (per stream: [compressed block start, offset in
# block] when compressed else [stream offset], then coder state — RLE:
# values used in run; bitfield: bytes used in run + bits in byte), and
# decode ONLY the requested row groups.  Dictionary streams are
# stripe-level and therefore carry no positions
# (StringDictionaryTreeReader.seek skips them).
#
# Inflate bound (the ``StripePlanner.planPartialDataReading`` analog): a
# stream is inflated from the chunk of the first kept group's position
# through the chunk holding the next group's position.  When the coder is
# mid-run there (used or bits non-zero) this group's last values sit in
# that run, so the read extends by the longest run the coder can emit;
# raw byte ranges are exact.  After the stripe's last group a stream is
# read to its end.  Every decoder raises ValueError on data that ends
# early, so a bound that were too tight could only fail loudly.

_RUN_BYTES = {
    "rle_v1": rlev1.MAX_RUN_BYTES,
    "rle_v2": rlev2.MAX_RUN_BYTES,
    "byte": byterle.MAX_RUN_BYTES,
    "bits": byterle.MAX_RUN_BYTES,  # a bitfield is byte-RLE of packed bits
    "raw": 0,
}


class _Stream:
    """A stream's stored bytes, inflated chunk by chunk on demand and
    cached, so row groups that share a chunk inflate it once.  A position
    is (chunk start in the stored stream, offset into that chunk's
    uncompressed bytes); an uncompressed stream is one chunk at 0."""

    def __init__(self, stored: memoryview, kind: str):
        self.stored, self.kind = stored, kind
        self._chunks: dict[int, tuple] = {}

    def _chunk(self, c: int) -> tuple:
        if self.kind == "none":
            return self.stored, len(self.stored)
        if c not in self._chunks:
            self._chunks[c] = block.inflate_chunk(self.stored, c, self.kind)
        return self._chunks[c]

    def read(self, start: tuple[int, int], end=None, extra: int = 0) -> memoryview:
        """Uncompressed bytes from position ``start`` up to ``extra`` bytes
        past position ``end`` (clipped at the stream's end), or through the
        stream's end when ``end`` is None."""
        c, skip = start
        size = len(self.stored)
        parts = []
        while c < size and (end is None or c < end[0]):
            chunk, c = self._chunk(c)
            parts.append(chunk)
        stop = None
        if end is not None:
            stop = sum(len(p) for p in parts) + end[1] + extra
            got = 0
            while got < end[1] + extra and c < size:
                chunk, c = self._chunk(c)
                parts.append(chunk)
                got += len(chunk)
        buf = parts[0] if len(parts) == 1 else b"".join(parts)  # b"" if none
        return memoryview(buf).cast("B")[skip:stop]


def _stream_coder(tk: str, skind: str, enc_kind: int) -> str:
    """'bits' | 'rle_v1' | 'rle_v2' | 'byte' | 'raw' — what seek state the
    stream's coder consumes (BitFieldReader / RunLength*Reader /
    InStream)."""
    if skind == "PRESENT" or (tk == "boolean" and skind == "DATA"):
        return "bits"
    if tk == "union" and skind == "DATA":
        return "byte"  # byte-RLE TAG stream: (offset, used), like int RLE
    if skind == "DATA" and (
        tk in ("float", "double", "decimal")
        or (tk in ("string", "binary", "varchar", "char") and enc_kind in (0, 2))
    ):
        return "raw"
    return "rle_v1" if enc_kind in (0, 1) else "rle_v2"


def _stripe_level(skind: str, enc_kind: int) -> bool:
    """Dictionary streams: read whole, no row-index positions."""
    return skind == "DICTIONARY_DATA" or (skind == "LENGTH" and enc_kind in (1, 3))


class _GroupStreams(_StripeStreams):
    """The streams of the consecutive row groups ``g0..g1`` of one stripe,
    each read from its node's row-index entry ``g0`` (see the inflate
    bound above)."""

    def __init__(self, types, encodings, writer_tz, stored, row_index, g0, g1, kind):
        super().__init__(types, encodings, writer_tz, stored)
        self.row_index, self.g0, self.g1, self.kind = row_index, g0, g1, kind
        self._positions: dict[tuple[int, int], dict] = {}

    def _entry(self, tid: int, g: int) -> dict[str, tuple[int, int, int, int]]:
        """Stream kind -> (chunk, offset in chunk, used, bits) of row group
        ``g``, consuming the entry's positions in stream order."""
        if (tid, g) not in self._positions:
            tk = _TYPE_KINDS[self.types[tid].get(1, [0])[0]]
            enc_kind = self.encodings[tid].get(1, [0])[0]
            entries = self.row_index.get(tid, [])
            pos = entries[g] if g < len(entries) else []
            at = 0
            out = {}
            for skind in self.per_col.get(tid, {}):
                if _stripe_level(skind, enc_kind):
                    continue
                coder = _stream_coder(tk, skind, enc_kind)
                width = (1 if self.kind == "none" else 2) + (
                    2 if coder == "bits" else 0 if coder == "raw" else 1
                )
                p = pos[at : at + width]
                at += width
                if len(p) < width:
                    raise ValueError(
                        f"orcread: row-index entry {g} of column {tid} is short"
                    )
                if self.kind == "none":
                    p = [0, *p]  # the offset is into the stream's one chunk
                used = p[2] if len(p) > 2 else 0
                bits = p[3] if len(p) > 3 else 0
                out[skind] = (p[0], p[1], used, bits)
            self._positions[tid, g] = out
        return self._positions[tid, g]

    def stream(self, tid: int, skind: str, nbytes: int | None = None):
        st = self.per_col[tid][skind]
        enc_kind = self.encodings[tid].get(1, [0])[0]
        if _stripe_level(skind, enc_kind):
            return st.read((0, 0)), 0, 0
        c, off, used, bits = self._entry(tid, self.g0)[skind]
        if nbytes is not None:  # a raw range of known length
            return st.read((c, off), (c, off + nbytes)), used, bits
        if self.g1 + 1 >= len(self.row_index.get(tid, [])):
            return st.read((c, off)), used, bits  # the stripe's last group
        nc, noff, nused, nbits = self._entry(tid, self.g1 + 1)[skind]
        tk = _TYPE_KINDS[self.types[tid].get(1, [0])[0]]
        extra = _RUN_BYTES[_stream_coder(tk, skind, enc_kind)] if nused or nbits else 0
        return st.read((c, off), (nc, noff), extra), used, bits


def read_orc_row_groups(
    path: str, groups: list[int], columns: list[str] | None = None
) -> pa.Table:
    """Decode only the requested row groups (global, file-order indices
    of ``rowIndexStride`` spans) of a row-indexed ORC file, seeking into
    every stream of every node via the file's own ROW_INDEX positions.
    The selective analog of :func:`read_orc`: each run of consecutive kept
    groups is decoded once, straight from its seek positions to Arrow,
    and only the compression chunks its values live in are inflated (the
    bound is described above ``_Stream``)."""
    with open(path, "rb") as f:
        data = f.read()
    _ps, kind, footer = _tail(data, path)
    return _read_row_groups(data, kind, footer, groups, columns)


def _read_row_groups(
    data: bytes, kind: str, footer: dict, groups: list[int],
    columns: list[str] | None,
) -> pa.Table:
    stride = footer.get(8, [0])[0]
    if not stride:
        raise ValueError("read_orc_row_groups: file has no row index")
    types = [_parse_pb(t) for t in footer[4]]
    root = types[0]
    subtypes = _packed_varints(root[2][0]) if 2 in root else []
    names = [bytes(b).decode() for b in root.get(3, [])]
    sel_names = names if columns is None else list(columns)
    sel = [(i, names[i]) for i in range(len(names)) if names[i] in sel_names]
    want = set(groups)
    col_chunks: dict[int, list[pa.Array]] = {i: [] for i, _ in sel}
    g_base = 0
    for st in _stripes(footer):
        n_rows = st["n_rows"]
        n_gr = (n_rows + stride - 1) // stride
        local = sorted(g - g_base for g in want if g_base <= g < g_base + n_gr)
        g_base += n_gr
        if not local:
            continue
        sf, streams = _stripe_directory(data, st, kind)
        stored: dict[int, dict[str, _Stream]] = {}
        row_index: dict[int, list[list[int]]] = {}
        for skind, col, blob in streams:
            if skind == "ROW_INDEX":
                ri = _parse_pb(block.decompress(blob, kind))
                entries = []
                for e in ri.get(1, []):
                    epb = _parse_pb(e)
                    entries.append(
                        _packed_varints(epb[1][0]) if 1 in epb else []
                    )
                row_index[col] = entries
            elif skind not in _INDEX_KINDS:
                stored.setdefault(col, {})[skind] = _Stream(blob, kind)
        encodings = [_parse_pb(x) for x in sf.get(2, [])]
        # runs of consecutive kept groups, each decoded as one span
        runs = []
        for g in local:
            if runs and runs[-1][1] == g - 1:
                runs[-1][1] = g
            else:
                runs.append([g, g])
        for g0, g1 in runs:
            src = _GroupStreams(
                types, encodings, _writer_tz(sf), stored, row_index, g0, g1, kind
            )
            rows = min((g1 + 1) * stride, n_rows) - g0 * stride
            for i, _name in sel:
                col_chunks[i].append(_decode_tree(subtypes[i], rows, src))
    out_cols = []
    out_names = []
    for i, name in sel:
        chunks = col_chunks[i]
        out_names.append(name)
        out_cols.append(
            pa.concat_arrays(chunks) if len(chunks) != 1 else chunks[0]
        )
    return pa.table(dict(zip(out_names, out_cols)))


def read_orc_statistics(
    path: str,
) -> tuple[list[dict], list[list[dict]], dict[str, bytes]]:
    """Reference Reader API analog (``Reader.getStatistics`` /
    ``getStripeStatistics`` / ``getMetadataValue``): parse a file's tail
    into (file column statistics per column id, per-stripe column
    statistics from the Metadata section, user metadata).  Stats dicts
    are the engine's sarg form ({min, max, n_values, n_nulls, ...});
    unmapped typed domains yield bounds-free dicts.  Only the tail is
    read — no stripe bytes are touched."""
    with open(path, "rb") as f:
        data = f.read()
    ps, kind, footer = _tail(data, path)
    file_stats = [stats_mod.from_pb(_parse_pb(s)) for s in footer.get(7, [])]
    user_meta: dict[str, bytes] = {}
    for item in footer.get(5, []):
        it = _parse_pb(item)
        user_meta[bytes(it[1][0]).decode()] = bytes(it[2][0]) if 2 in it else b""
    stripe_stats: list[list[dict]] = []
    meta_len = ps.get(5, [0])[0]
    if meta_len:
        meta_end = len(data) - 1 - data[-1] - ps[1][0]
        meta = _parse_pb(block.decompress(data[meta_end - meta_len : meta_end], kind))
        for ss in meta.get(1, []):
            stripe_stats.append(
                [stats_mod.from_pb(_parse_pb(c)) for c in _parse_pb(ss).get(1, [])]
            )
    return file_stats, stripe_stats, user_meta


def read_orc_filtered(
    path: str, predicate: tuple, columns: list[str] | None = None
) -> tuple[pa.Table, int, int]:
    """``pickRowGroups`` over a reference-written indexed file: evaluate
    the engine's SearchArgument tree (engine/sarg.py) against each row
    group's OWN ColumnStatistics parsed from the file's ROW_INDEX
    streams, then seek-decode only the surviving groups
    (RecordReaderImpl.pickRowGroups + seekToRowEntry with the roles
    swapped: their file and statistics, our pruning and kernels).

    Returns (table, total_groups, kept_groups).  The caller applies the
    residual row-level filter; pruning may drop only groups the
    statistics PROVE cannot match."""
    from . import sarg as sarg_mod

    with open(path, "rb") as f:
        data = f.read()
    ps, kind, footer = _tail(data, path)
    stride = footer.get(8, [0])[0]
    if not stride:
        raise ValueError("read_orc_filtered: file has no row index")
    # Metadata section (PostScript.metadataLength, field 5): per-stripe
    # ColumnStatistics — the coarsest pruning level, evaluated BEFORE any
    # stripe bytes (footer, indexes) are touched.  At object-store scale
    # this is the difference between one tail fetch and one round-trip
    # per stripe for stripes the statistics already refute.
    meta_len = ps.get(5, [0])[0]
    stripe_level_stats: list[list[dict]] = []
    if meta_len:
        meta_end = len(data) - 1 - data[-1] - ps[1][0]
        meta = _parse_pb(block.decompress(data[meta_end - meta_len : meta_end], kind))
        for ss in meta.get(1, []):
            cols_pb = _parse_pb(ss).get(1, [])
            stripe_level_stats.append(
                [stats_mod.from_pb(_parse_pb(c)) for c in cols_pb]
            )
    types = [_parse_pb(t) for t in footer[4]]
    root = types[0]
    subtypes = _packed_varints(root[2][0]) if 2 in root else []
    names = [bytes(b).decode() for b in root.get(3, [])]
    name_to_tid = dict(zip(names, subtypes))
    pred_cols = {
        c: name_to_tid[c] for c in sarg_mod.columns_of(predicate) if c in name_to_tid
    }
    keep_groups: list[int] = []
    g_base = 0
    n_total = 0
    for s_i, st in enumerate(_stripes(footer)):
        n_gr = (st["n_rows"] + stride - 1) // stride
        n_total += n_gr
        if s_i < len(stripe_level_stats):
            ss = stripe_level_stats[s_i]
            st_col_stats = {
                name: ss[tid]
                for name, tid in pred_cols.items()
                if tid < len(ss) and ss[tid]
            }
            if not sarg_mod.keep(predicate, st_col_stats):
                # whole stripe refuted from the tail alone: its footer and
                # index bytes are never read
                g_base += n_gr
                continue
        _sf, streams = _stripe_directory(data, st, kind)
        # per-column row-index entry stats for the predicate's columns
        entry_stats: dict[str, list[dict]] = {}
        entry_blooms: dict[str, tuple] = {}
        for skind, col, blob in streams:
            if skind == "ROW_INDEX" and col in pred_cols.values():
                ri = _parse_pb(block.decompress(blob, kind))
                name = names[subtypes.index(col)]
                stats = []
                for e in ri.get(1, []):
                    epb = _parse_pb(e)
                    stats.append(
                        stats_mod.from_pb(_parse_pb(epb[2][0])) if 2 in epb else {}
                    )
                entry_stats[name] = stats
            elif skind == "BLOOM_FILTER_UTF8" and col in pred_cols.values():
                # the reference writer's own per-row-group bloom filters
                # refute =/IN probes the min/max stats cannot; literals
                # hash as the ORC type's tree writer hashed its values (a
                # long column read back as timestamp_ntz added longs)
                filters = bloom_mod.unpack_multi(block.decompress(blob, kind), n_gr)
                if filters is not None:
                    tk = _TYPE_KINDS[types[col].get(1, [0])[0]]
                    bt = _INT_WIDTH.get(tk) or _arrow_type_of(types, col)
                    entry_blooms[names[subtypes.index(col)]] = (filters, bt)
        for g in range(n_gr):
            col_stats = {
                name: st[g]
                for name, st in entry_stats.items()
                if g < len(st) and st[g]
            }
            probes = {
                name: (
                    lambda v, _f=filters, _t=bt, _g=g:
                    bloom_mod.might_contain_rg_list(_f, _t, v, _g)
                )
                for name, (filters, bt) in entry_blooms.items()
            }
            if sarg_mod.keep(predicate, col_stats, probes or None):
                keep_groups.append(g_base + g)
        g_base += n_gr
    if keep_groups:
        table = _read_row_groups(data, kind, footer, keep_groups, columns)
    elif n_total:
        # typed empty result: decode one group for the schema, keep 0 rows
        table = _read_row_groups(data, kind, footer, [0], columns).slice(0, 0)
    else:
        table = _read_row_groups(data, kind, footer, [], columns)
    return table, n_total, len(keep_groups)
