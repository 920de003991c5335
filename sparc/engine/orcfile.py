"""Spec-conformant ORC file writer over the engine's own kernels.

SURVEY.md §5's "reference cross-read" stretch layer: emit a real ORC
file (magic, stripes, protobuf StripeFooter/Footer/PostScript — the
layout written by ``PhysicalFsWriter`` PhysicalFsWriter.java:680-716 and
``WriterImpl.writeFooter/writePostScript`` WriterImpl.java:619-706) using
THIS engine's RLEv2 / byte-RLE / bitfield / dictionary kernels, and read
it back with an independent reference implementation (pyarrow's C++ ORC
reader, Spark's Java reader).  A successful value-identical cross-read is
the strongest available oracle that the kernel wire formats match the
ORC spec bit-for-bit — far stronger than self round-trips.

Scope (deliberately minimal — an oracle, not the product sink):
- compression NONE / ZLIB / SNAPPY / ZSTD: every stream, stripe footer,
  metadata and footer in ``block``'s chunk framing (the reference's
  3-byte headers, store-original-if-bigger) at the reference's 256 KiB
  ``compressionBlockSize``
- file versions 0.12 (RLEv2) and legacy 0.11 (RLEv1)
- leaf types: int32/int64, double/float, string (dict or direct),
  binary, bool, date32, timestamp[us] (writerTimezone UTC; both file
  versions), decimal up to (38, s) — unbounded zigzag-varint mantissa +
  signed RLE scale stream, ``DecimalTreeWriter`` semantics
- nested types: list / map / struct / dense+sparse union to any depth —
  pre-order column-id tree with per-level PRESENT + LENGTH / byte-RLE
  TAG streams (Struct/List/Map/UnionTreeWriter semantics)
- nullable columns via PRESENT streams
- optional ROW_INDEX streams (``row_index_stride > 0``): per-group seek
  positions + typed statistics, and BLOOM_FILTER_UTF8 for
  ``bloom_columns``; the reference Java reader demonstrably
  row-group-SKIPS inside our files (tests prove wrong positions break
  the filtered read, so the pass is meaningful)

One recursive walk (``_walk``) emits every column's streams, encodings
and statistics at all three levels (row group, stripe, file), each taken
over a window of the same parent-masked array the streams encode.  The
walk always works in row groups: without a row index each stripe is one
group and no ROW_INDEX stream is written.  Per stripe, as the reference's
tree writers decide it:

- a string column is DICTIONARY_V2 (DICTIONARY in 0.11) when its
  distinct/non-null ratio is at most ``DICT_THRESHOLD``, else DIRECT —
  in indexed files always DIRECT;
- a column's PRESENT stream is left out of every stripe whose slice of
  the column has no nulls, its row-index positions with it
  (``TreeWriterBase.writeStripe`` TreeWriterBase.java:251-256).

The protobuf tail is hand-encoded (varint/length-delimited primitives
only — field numbers from the public orc_proto.proto)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..kernels import bitfield, block, dictionary, rlev1, rlev2
from . import bloom as bloom_mod, stats as stats_mod, stripe as stripe_mod

# --- protobuf primitives ----------------------------------------------------


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _f_varint(field: int, v: int) -> bytes:
    return _varint(field << 3) + _varint(v)


def _f_bytes(field: int, b: bytes) -> bytes:
    return _varint((field << 3) | 2) + _varint(len(b)) + b


def _f_packed(field: int, vals: list[int]) -> bytes:
    return _f_bytes(field, b"".join(_varint(v) for v in vals))


# --- enums (public orc_proto.proto) ----------------------------------------

_KIND = {
    "bool": 0, "int32": 3, "int64": 4, "float": 5, "double": 6,
    "string": 7, "large_string": 7, "binary": 8, "large_binary": 8,
    "timestamp": 9, "list": 10, "map": 11, "struct": 12, "union": 13,
    "decimal": 14, "date32[day]": 15,
}
_STREAM_PRESENT, _STREAM_DATA, _STREAM_LENGTH, _STREAM_DICT = 0, 1, 2, 3
_STREAM_SECONDARY, _STREAM_ROW_INDEX = 5, 6
_ENC_DIRECT, _ENC_DICT, _ENC_DIRECT_V2, _ENC_DICT_V2 = 0, 1, 2, 3

DICT_THRESHOLD = 0.8  # orc.dictionary.key.threshold


def _column_kind(t: pa.DataType) -> int:
    if pa.types.is_timestamp(t):
        # tz-aware Arrow timestamps are absolute instants -> the
        # TIMESTAMP_INSTANT category (kind 18, "timestamp with local
        # time zone"); tz-naive ones are wall-clock TIMESTAMP.  The
        # stream encoding is identical (seconds-from-2015 + nanos) —
        # with writerTimezone pinned to UTC the values need no
        # conversion in either category.
        return 18 if t.tz is not None else _KIND["timestamp"]
    if pa.types.is_decimal(t):
        return _KIND["decimal"]
    s = str(t)
    if s not in _KIND:
        raise NotImplementedError(f"orcfile: unsupported type {t}")
    return _KIND[s]


def _type_pb(t: pa.DataType) -> bytes:
    """Footer Type proto for a leaf column: kind (1) plus, for decimal,
    precision (5) and scale (6)."""
    out = _f_varint(1, _column_kind(t))
    if pa.types.is_decimal(t):
        out += _f_varint(5, t.precision) + _f_varint(6, t.scale)
    return out


def _decimal_words(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Non-null unscaled (low u64, high i64) words, via decimal128."""
    if not pa.types.is_decimal128(arr.type):
        arr = arr.cast(pa.decimal128(arr.type.precision, arr.type.scale))
    return stripe_mod._decimal_unscaled_words(arr)


# --- nested type tree (pre-order column ids, per orc TypeDescription) -------


def _is_nested(t: pa.DataType) -> bool:
    return (
        pa.types.is_struct(t)
        or pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_map(t)
        or pa.types.is_union(t)
    )


def _build_tree(t: pa.DataType, next_id: list[int]) -> dict:
    """Tree node {id, t, children: [(field_name, node)]} with ids
    assigned in pre-order — ORC's TypeDescription numbering."""
    node = {"id": next_id[0], "t": t, "children": []}
    next_id[0] += 1
    if pa.types.is_struct(t) or pa.types.is_union(t):
        for f in t:
            node["children"].append((f.name, _build_tree(f.type, next_id)))
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        node["children"].append(("_elem", _build_tree(t.value_type, next_id)))
    elif pa.types.is_map(t):
        node["children"].append(("_key", _build_tree(t.key_type, next_id)))
        node["children"].append(("_value", _build_tree(t.item_type, next_id)))
    return node


def _tree_type_pb(node: dict) -> bytes:
    t = node["t"]
    if "orc_override" in node:
        # CHAR/VARCHAR: string streams + a typed maximumLength (Type
        # proto field 4); write-time pad/truncate enforcement lives in
        # sparc.ops.mask
        kind_name, maxlen = node["orc_override"]
        kind = 17 if kind_name == "char" else 16
        return _f_varint(1, kind) + _f_varint(4, maxlen)
    if pa.types.is_struct(t):
        out = _f_varint(1, _KIND["struct"])
        out += _f_packed(2, [c["id"] for _, c in node["children"]])
        for name, _ in node["children"]:
            out += _f_bytes(3, name.encode())
        return out
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _f_varint(1, _KIND["list"]) + _f_packed(
            2, [node["children"][0][1]["id"]]
        )
    if pa.types.is_map(t):
        return _f_varint(1, _KIND["map"]) + _f_packed(
            2, [c["id"] for _, c in node["children"]]
        )
    if pa.types.is_union(t):
        return _f_varint(1, _KIND["union"]) + _f_packed(
            2, [c["id"] for _, c in node["children"]]
        )
    return _type_pb(t)


def _tree_type_pbs(node: dict, out: list[bytes]) -> None:
    out.append(_tree_type_pb(node))
    for _, c in node["children"]:
        _tree_type_pbs(c, out)


# --- row index (rowIndexStride > 0) ----------------------------------------
#
# Every stream restarts its coder AND its compression chunk at each
# row-group boundary, so recorded positions are exact chunk starts with
# zero in-chunk / in-run offsets — the simplest layout the reference
# reader's PositionProvider accepts (``TreeWriterBase.
# createRowIndexEntry``/``recordPosition`` TreeWriterBase.java:323-330;
# seek consumption order per coder in RunLengthIntegerReaderV2.seek /
# BitFieldReader.seek).  Position value counts per stream:
#   raw byte stream: [offset]            (+1 leading chunk offset if compressed)
#   RLE int stream:  [offset, usedInRun]
#   bitfield stream: [offset, usedInByteRLE, bitsConsumed]

_EXTRAS_RAW, _EXTRAS_RLE, _EXTRAS_BITS = 0, 1, 2


def _rle_groups(vals: np.ndarray, voffs: list[int], signed: bool, v11: bool) -> list:
    """One integer-RLE stream per group ``vals[voffs[g]:voffs[g + 1]]``,
    each restarting its runs: a single batched RLEv2 encode, or one RLEv1
    encode per group."""
    cuts = voffs[1:-1]
    if v11:
        return [rlev1.encode(v, signed=signed) for v in np.split(vals, cuts)]
    return rlev2.encode(vals, signed, cuts=cuts)


def _bits_by_stripe(
    flags: np.ndarray, offs: list[int], stripes: list[tuple[int, int]]
) -> tuple[list[bytes], list[list[tuple[int, int, int]]]]:
    """One continuous bitfield per stripe, with the seek mark of each of
    its groups: ``offs[g]`` is group g's first flag, stripe s holds groups
    ``stripes[s]``.  Restart-per-group byte flushes would inject padding
    bits when a group boundary is not a multiple of 8, which is the normal
    case for nested children's value spaces."""
    blobs, marks = [], []
    for g_lo, g_hi in stripes:
        lo = offs[g_lo]
        blob, m = bitfield.encode_with_marks(
            flags[lo : offs[g_hi]], [o - lo for o in offs[g_lo:g_hi]]
        )
        blobs.append(blob)
        marks.append(m)
    return blobs, marks


def _present_stream(
    valid: np.ndarray, offs: list[int], stripes: list[tuple[int, int]]
) -> tuple:
    """The PRESENT stream of a node with nulls, left out (None) of every
    stripe whose slice has none — ``TreeWriterBase.writeStripe``
    (TreeWriterBase.java:251-256) suppresses it there and drops its
    row-index positions (``removeIsPresentPositions`` :223)."""
    blobs, marks = _bits_by_stripe(valid, offs, stripes)
    for s, (g_lo, g_hi) in enumerate(stripes):
        if valid[offs[g_lo] : offs[g_hi]].all():
            blobs[s] = None
    return _STREAM_PRESENT, _EXTRAS_BITS, blobs, marks


def _encode_leaf(
    arr: pa.Array,
    bounds: list[tuple[int, int]],
    stripes: list[tuple[int, int]],
    v11: bool,
    indexed: bool,
) -> tuple[list[tuple], list[bytes]]:
    """-> (streams, ColumnEncoding per stripe) of a leaf column.

    ``bounds`` are the row groups of every stripe, as windows of ``arr``;
    stripe s holds groups ``stripes[s]`` (one group per stripe without a
    row index).  Streams are [(stream_kind, extras, blobs, marks)] in
    position-recording order: one blob per group (marks None), or one
    continuous bitfield per stripe with its groups' seek marks; a None
    blob leaves the stream out of that stripe.  ``v11`` emits the 0.11
    layout: RLEv1 integer streams and DIRECT/DICTIONARY (v1) encodings.

    Strings are DIRECT in an indexed file (the reference rewrites
    dictionary row-index positions on flush; restart-per-group direct
    streams sidestep that statefulness while staying legal ORC).  Without
    a row index each stripe picks DICTIONARY_V2 or DIRECT by
    ``DICT_THRESHOLD``, so DICTIONARY_DATA exists only in dictionary
    stripes."""
    t = arr.type
    streams: list[tuple] = []
    valid = arr.is_valid().to_numpy(zero_copy_only=False) if arr.null_count else None
    row_offs = [lo for lo, _ in bounds] + [len(arr)]
    if valid is not None:
        streams.append(_present_stream(valid, row_offs, stripes))
    # value offsets of each group into the non-null space
    if valid is None:
        voffs = row_offs
    else:
        cum = np.concatenate(([0], np.cumsum(valid.astype(np.int64))))
        voffs = cum[row_offs].tolist()
    nn = stripe_mod.non_null(arr)

    def vs(g: int) -> slice:
        return slice(voffs[g], voffs[g + 1])

    def rle(vals: np.ndarray, signed: bool) -> list:
        return _rle_groups(vals, voffs, signed, v11)

    enc = _f_varint(1, _ENC_DIRECT if v11 else _ENC_DIRECT_V2)
    encs = None
    n_groups = len(bounds)
    if pa.types.is_integer(t) or pa.types.is_date32(t):
        vals = stripe_mod._arrow_nonnull_int64(arr)
        streams.append((_STREAM_DATA, _EXTRAS_RLE, rle(vals, True), None))
    elif pa.types.is_timestamp(t):
        # same 2015-epoch split in every file version; only the integer
        # coder changes (RLEv1 in 0.11, RLEv2 in 0.12)
        unit_scale = stripe_mod._TS_UNITS[t.unit]
        vals = stripe_mod._arrow_nonnull_int64(arr)
        seconds = np.floor_divide(vals, unit_scale) - stripe_mod.TS_BASE_SECONDS
        nanos = stripe_mod.format_nanos(
            np.mod(vals, unit_scale) * (1_000_000_000 // unit_scale)
        )
        streams.append((_STREAM_DATA, _EXTRAS_RLE, rle(seconds, True), None))
        streams.append((_STREAM_SECONDARY, _EXTRAS_RLE, rle(nanos, False), None))
    elif pa.types.is_decimal(t):
        # DecimalTreeWriter: DATA = unbounded zigzag-varint mantissa
        # (SerializationUtils.writeBigInteger SerializationUtils.java:
        # 195-217), SECONDARY = *signed* RLE scale, one per value
        # (DecimalTreeWriter.writeBatch DecimalTreeWriter.java:159-165)
        from ..kernels import bigdec

        lo, hi = _decimal_words(nn)
        scales = np.full(len(nn), t.scale, np.int64)
        streams.append(
            (
                _STREAM_DATA,
                _EXTRAS_RAW,  # varint stream: position is the byte offset
                [bigdec.encode(lo[vs(g)], hi[vs(g)]) for g in range(n_groups)],
                None,
            )
        )
        streams.append((_STREAM_SECONDARY, _EXTRAS_RLE, rle(scales, True), None))
    elif pa.types.is_floating(t):
        np_t = np.float32 if pa.types.is_float32(t) else np.float64
        vals = nn.to_numpy(zero_copy_only=False).astype(np.dtype(np_t).newbyteorder("<"))
        streams.append(
            (
                _STREAM_DATA,
                _EXTRAS_RAW,
                [vals[vs(g)].tobytes() for g in range(n_groups)],
                None,
            )
        )
        enc = _f_varint(1, _ENC_DIRECT)
    elif pa.types.is_boolean(t):
        vals = nn.to_numpy(zero_copy_only=False)
        streams.append(
            (_STREAM_DATA, _EXTRAS_BITS, *_bits_by_stripe(vals, voffs, stripes))
        )
        enc = _f_varint(1, _ENC_DIRECT)
    elif stripe_mod._is_binary_like(t):
        bin_arr = nn.cast(pa.large_binary())
        lengths = (
            pa.compute.binary_length(bin_arr)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        blob = stripe_mod._concat_binary(bin_arr)
        boffs = np.concatenate(([0], np.cumsum(lengths)))
        dict_ok = not indexed and (pa.types.is_string(t) or pa.types.is_large_string(t))
        data, dicts, lens, encs = [], [], [None] * n_groups, [enc] * n_groups
        for g in range(n_groups):
            sub = bin_arr.slice(voffs[g], voffs[g + 1] - voffs[g])
            if dict_ok and len(sub) and len(sub.unique()) / len(sub) <= DICT_THRESHOLD:
                codes, uniques = dictionary.encode_sorted(sub)
                u_lens = np.fromiter(map(len, uniques), np.int64, len(uniques))
                data.append(_rle_groups(codes, [0, len(codes)], False, v11)[0])
                dicts.append(b"".join(uniques))
                lens[g] = _rle_groups(u_lens, [0, len(u_lens)], False, v11)[0]
                encs[g] = _f_varint(1, _ENC_DICT if v11 else _ENC_DICT_V2) + _f_varint(
                    2, len(uniques)
                )
            else:
                data.append(bytes(blob[boffs[voffs[g]] : boffs[voffs[g + 1]]]))
                dicts.append(None)
        if None in lens:  # a DIRECT group's LENGTH holds its value lengths
            direct = rle(lengths, False)
            lens = [d if d is not None else direct[g] for g, d in enumerate(lens)]
        streams.append((_STREAM_DATA, _EXTRAS_RAW, data, None))
        streams.append((_STREAM_DICT, _EXTRAS_RAW, dicts, None))
        streams.append((_STREAM_LENGTH, _EXTRAS_RLE, lens, None))
    else:
        raise NotImplementedError(f"orcfile: unsupported type {t}")
    # per-group encodings differ only without a row index (a group per stripe)
    return streams, [(encs or [enc] * n_groups)[g_lo] for g_lo, _ in stripes]


def _walk(
    node: dict,
    arr: pa.Array,
    bounds: list[tuple[int, int]],
    stripes: list[tuple[int, int]],
    v11: bool,
    indexed: bool,
    out: list[tuple],
) -> None:
    """Encode the column subtree under ``node`` and take its statistics,
    appending per node, in pre-order (== column-id order): (column_id,
    streams, ColumnEncoding per stripe, ColumnStatistics per row group
    (``indexed`` only), per stripe, and for the file).  ORC row indexes
    cover nested columns exactly like flat ones
    (``TreeWriterBase.createRowIndexEntry`` recurses childrenWriters,
    TreeWriterBase.java:323-330).

    ``bounds`` are windows in THIS node's own value space, over every
    stripe of the file (stripe s holds groups ``stripes[s]``): row-group
    row windows at the root; for children, the windows induced by the
    parent.  ORC nested nulls: a child column holds entries only for
    slots where the parent is present — struct children are filtered by
    parent validity (present-slot prefix sums), list/map children are the
    present parents' elements (element-offset windows), union variants
    are gathered by tag (per-variant tag counts) — StructTreeWriter.
    writeBatch StructTreeWriter.java:71-100, ListTreeWriter.writeBatch
    ListTreeWriter.java:73-126, MapTreeWriter.writeBatch
    MapTreeWriter.java:77-136, UnionTreeWriter.writeBatch
    UnionTreeWriter.java:59-115 (coordinates recovered from the orc-core
    2.2.2 jar's line tables per SURVEY §0).  Every statistic is taken
    over a window of the same masked array the streams encode, so the
    two cannot drift apart."""
    t = node["t"]
    arr = stripe_mod.as_array(arr)
    windows = stats_mod.of_array(arr, bounds)
    node_stats = (
        [windows.run(g, g + 1).to_pb(t, True) for g in range(len(bounds))]
        if indexed
        else None,
        [windows.run(a, b).to_pb(t, False) for a, b in stripes],
        windows.run(0, len(bounds)).to_pb(t, False),
    )
    if not _is_nested(t):
        streams, encs = _encode_leaf(arr, bounds, stripes, v11, indexed)
        out.append((node["id"], streams, encs, *node_stats))
        return
    n_groups = len(bounds)
    streams: list[tuple] = []
    valid_arr = arr.is_valid() if arr.null_count else None
    voffs = [lo for lo, _ in bounds] + [len(arr)]
    if valid_arr is not None:
        valid = valid_arr.to_numpy(zero_copy_only=False)
        streams.append(_present_stream(valid, voffs, stripes))
        cum = np.concatenate(([0], np.cumsum(valid.astype(np.int64))))
        voffs = cum[voffs].tolist()
    direct = [_f_varint(1, _ENC_DIRECT)] * len(stripes)
    if pa.types.is_struct(t):
        out.append((node["id"], streams, direct, *node_stats))
        present_bounds = [(voffs[g], voffs[g + 1]) for g in range(n_groups)]
        for i, (_, child_node) in enumerate(node["children"]):
            child = stripe_mod.as_array(arr.field(i))
            if valid_arr is not None:
                child = child.filter(valid_arr)
            _walk(child_node, child, present_bounds, stripes, v11, indexed, out)
        return
    if pa.types.is_union(t):
        # DATA = byte-RLE tags; each variant's values follow in row order.
        # Arrow unions carry no top-level validity, so there is never a
        # PRESENT stream here.
        from ..kernels import byterle

        # the type codes and offsets read at the array's own offset
        # (``UnionArray.type_codes`` and ``.offsets`` start at the buffer's)
        codes = np.frombuffer(
            arr.buffers()[1], dtype=np.int8, count=len(arr), offset=arr.offset
        )
        lut = np.zeros(128, np.uint8)
        for i, tc in enumerate(t.type_codes):
            lut[tc] = i
        tags = lut[codes]
        # RunLengthByteReader.seek consumes (offset, used) — the same
        # position shape as the int RLE coders
        streams.append(
            (
                _STREAM_DATA,
                _EXTRAS_RLE,
                [byterle.encode(tags[lo:hi]) for lo, hi in bounds],
                None,
            )
        )
        out.append((node["id"], streams, direct, *node_stats))
        dense = t.mode == "dense"
        offs_u = (
            np.frombuffer(
                arr.buffers()[2], dtype=np.int32, count=len(arr), offset=4 * arr.offset
            )
            if dense
            else None
        )
        for i, (_, child_node) in enumerate(node["children"]):
            mask = tags == i
            cum_i = np.concatenate(([0], np.cumsum(mask.astype(np.int64))))
            child_bounds = [(int(cum_i[lo]), int(cum_i[hi])) for lo, hi in bounds]
            rows = np.flatnonzero(mask)
            take = offs_u[rows] if dense else rows
            child = stripe_mod.as_array(arr.field(i)).take(pa.array(take, pa.int64()))
            _walk(child_node, child, child_bounds, stripes, v11, indexed, out)
        return
    # list / map: LENGTH of present slots per group; child windows are
    # the element-offset spans of each group's present slots
    nn = arr.drop_null() if arr.null_count else arr
    if pa.types.is_map(t):
        # MapArray.keys/.items ignore the slice window; .offsets is
        # windowed — slice the children explicitly
        offs = (
            nn.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            if len(nn)
            else np.zeros(1, np.int64)
        )
        lengths = np.diff(offs)
        lo_e, hi_e = int(offs[0]), int(offs[-1])
        children = [
            nn.keys.slice(lo_e, hi_e - lo_e),
            nn.items.slice(lo_e, hi_e - lo_e),
        ]
    else:
        lengths = (
            nn.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
            if len(nn)
            else np.zeros(0, np.int64)
        )
        children = [nn.flatten()]
    streams.append(
        (_STREAM_LENGTH, _EXTRAS_RLE, _rle_groups(lengths, voffs, False, v11), None)
    )
    encs = [_f_varint(1, _ENC_DIRECT if v11 else _ENC_DIRECT_V2)] * len(stripes)
    out.append((node["id"], streams, encs, *node_stats))
    e_cum = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
    elem_bounds = [
        (int(e_cum[voffs[g]]), int(e_cum[voffs[g + 1]])) for g in range(n_groups)
    ]
    for child, (_, child_node) in zip(children, node["children"]):
        _walk(child_node, child, elem_bounds, stripes, v11, indexed, out)


def _root_stats(n_rows: int) -> bytes:
    """The root struct's ColumnStatistics: its row count, no nulls."""
    return stats_mod.ColumnStats("struct", n_rows).to_pb(pa.struct([]), False)


def _row_index_pb(entries: list[tuple[list[int], bytes]]) -> bytes:
    """RowIndex proto: entries of (packed positions, ColumnStatistics)."""
    out = bytearray()
    for positions, st in entries:
        body = b""
        if positions:
            body += _f_bytes(1, b"".join(_varint(p) for p in positions))
        body += _f_bytes(2, st)
        out += _f_bytes(1, bytes(body))
    return bytes(out)


def write_orc(
    table: pa.Table, path: str, rows_per_stripe: int = 100_000,
    version: str = "0.12", compression: str = "NONE",
    row_index_stride: int = 0,
    type_overrides: dict[str, tuple[str, int]] | None = None,
    bloom_columns: list[str] | None = None,
    bloom_fpp: float = bloom_mod.DEFAULT_FPP,
    user_metadata: dict[str, bytes] | None = None,
) -> None:
    """Write ``table`` (flat schema) as an ORC file at ``path``.

    ``version="0.11"`` emits the legacy RLEv1 layout (cross-read oracle
    for the rlev1 kernel).  ``compression`` in ZLIB/SNAPPY/ZSTD wraps
    every stream and protobuf section in the reference's 3-byte-header
    chunked framing (cross-read oracle for the compressed-stream
    contract).  ``row_index_stride > 0`` (multiple of 8) emits real
    ROW_INDEX streams with per-group seek positions + IntegerStatistics,
    so the reference reader can *skip row groups* inside our file —
    verified by reading back with a pushed-down filter.  ``bloom_columns``
    need a row index: ORC bloom filters are per-row-group index entries."""
    v11 = version == "0.11"
    if compression not in ("NONE", "ZLIB", "SNAPPY", "ZSTD"):
        raise NotImplementedError(f"orcfile: compression {compression}")
    codec = compression.lower()
    level = 1 if codec == "zstd" else None  # pyarrow's default zstd level

    def wrap(data) -> bytes:
        return block.compress(data, codec, level, block.ORC_CHUNK_SIZE)

    if row_index_stride and row_index_stride % 8:
        raise ValueError("row_index_stride must be a multiple of 8")
    if rows_per_stripe < 1:
        raise ValueError("rows_per_stripe must be positive")
    n_cols = table.num_columns
    root_node = _build_tree(
        pa.struct([table.schema.field(i) for i in range(n_cols)]), [0]
    )
    for name, (kind_name, maxlen) in (type_overrides or {}).items():
        (node,) = [c for cn, c in root_node["children"] if cn == name]
        if kind_name not in ("char", "varchar") or not (
            pa.types.is_string(node["t"]) or pa.types.is_large_string(node["t"])
        ):
            raise ValueError(f"type_overrides: {name} must be a string column")
        # the reference writer can never store a value longer than the
        # declared maximumLength — refuse rather than emit a
        # spec-nonconformant file (pad/truncate enforcement is
        # sparc.ops.mask's job, upstream of the sink)
        longest = pa.compute.max(pa.compute.utf8_length(table.column(name))).as_py()
        if longest is not None and longest > maxlen:
            raise ValueError(
                f"type_overrides: {name} holds a {longest}-char value — "
                f"exceeds {kind_name}({maxlen})"
            )
        node["orc_override"] = (kind_name, maxlen)
    if bloom_columns:
        unknown = sorted(set(bloom_columns) - set(table.schema.names))
        if unknown:
            raise ValueError(
                f"bloom_columns: {unknown} not in schema "
                f"{table.schema.names} — a typo here would silently emit "
                "a file with no bloom streams"
            )
        if not row_index_stride:
            raise ValueError(
                f"bloom_columns: {sorted(bloom_columns)} need row_index_stride "
                "> 0 — ORC bloom filters are row-index entries, so a file "
                "without a row index would have no bloom streams"
            )
    total_rows = table.num_rows
    # every column is encoded once over the whole table: streams restart
    # at each row group, so the row groups of all stripes (``bounds``;
    # stripe s holds ``stripes[s]``, one group per stripe without a row
    # index) batch into one kernel call per stream
    bounds: list[tuple[int, int]] = []
    stripes: list[tuple[int, int]] = []
    for lo in range(0, max(total_rows, 1), rows_per_stripe):
        n_s = min(rows_per_stripe, total_rows - lo)
        rb = stripe_mod._row_bounds(n_s, row_index_stride)
        stripes.append((len(bounds), len(bounds) + len(rb)))
        bounds += [(lo + a, lo + b) for a, b in rb]
    walked: list[tuple] = []
    bloom_filters: dict[int, list] = {}
    for i in range(n_cols):
        col = stripe_mod.as_array(table.column(i))
        node = root_node["children"][i][1]
        _walk(node, col, bounds, stripes, v11, bool(row_index_stride), walked)
        if bloom_columns and root_node["children"][i][0] in bloom_columns:
            if _is_nested(node["t"]):
                raise NotImplementedError("orcfile: bloom on nested column")
            filters = bloom_mod.build(col, bounds, row_index_stride, bloom_fpp)
            if filters is None:
                raise NotImplementedError(f"orcfile: bloom on type {node['t']}")
            bloom_filters[node["id"]] = filters

    out = bytearray(b"ORC")
    header_len = 3
    stripe_infos = []
    for s_i, (g_lo, g_hi) in enumerate(stripes):
        stripe_offset = len(out)
        n_rows = bounds[g_hi - 1][1] - bounds[g_lo][0]
        index_meta: list[tuple[int, int, int]] = []  # (kind, column_id, length)
        data_meta: list[tuple[int, int, int]] = []
        index = bytearray()
        data = bytearray()
        if row_index_stride:
            # root struct (column 0) index: position-less entries with counts
            root_ri = _row_index_pb(
                [([], _root_stats(hi - b_lo)) for b_lo, hi in bounds[g_lo:g_hi]]
            )
            wrapped = wrap(root_ri)
            index_meta.append((_STREAM_ROW_INDEX, 0, len(wrapped)))
            index += wrapped
        for cid, streams, _, group_stats, _, _ in walked:
            # build each stream present in this stripe.  Two layouts:
            # - per-group pieces (marks is None): coder + compression
            #   chunk restart at each group, positions are exact piece
            #   offsets with zero coder state;
            # - one bitfield per stripe + marks (PRESENT / BOOLEAN
            #   DATA): one continuous stream, positions carry the real
            #   (chunk offset, used-in-run, bits) coder state.
            built = []  # (kind, extras, bytes, offsets-or-chunk-starts, marks)
            for kind, extras, blobs, marks in streams:
                if marks is None and blobs[g_lo] is not None:
                    pieces = [wrap(b) for b in blobs[g_lo:g_hi]]
                    offs = np.concatenate(([0], np.cumsum([len(p) for p in pieces])))
                    built.append((kind, extras, b"".join(pieces), offs[:-1], None))
                elif marks is not None and blobs[s_i] is not None:
                    wrapped, c_starts = block.frame(
                        blobs[s_i], codec, level, block.ORC_CHUNK_SIZE
                    )
                    built.append((kind, extras, wrapped, c_starts, marks[s_i]))
            for kind, _, payload, _, _ in built:
                data_meta.append((kind, cid, len(payload)))
                data += payload
            if not row_index_stride:
                continue
            entries = []
            for g in range(g_hi - g_lo):
                positions: list[int] = []
                for _, extras, _, offs, marks in built:
                    if marks is None:
                        positions.append(int(offs[g]))
                        if compression != "NONE":
                            positions.append(0)  # offset inside the chunk
                        positions.extend([0] * extras)  # coder state
                        continue
                    off, used, bits = marks[g]
                    if compression == "NONE":
                        positions.extend([off, used, bits])
                        continue
                    # the chunk holding raw offset ``off``, and off in it
                    ci = min(off // block.ORC_CHUNK_SIZE, len(offs) - 1)
                    positions.extend(
                        [offs[ci], off - ci * block.ORC_CHUNK_SIZE, used, bits]
                    )
                entries.append((positions, group_stats[g_lo + g]))
            ri = wrap(_row_index_pb(entries))
            index_meta.append((_STREAM_ROW_INDEX, cid, len(ri)))
            index += ri
            if cid in bloom_filters:
                bs = wrap(bloom_mod.pack_multi(bloom_filters[cid][g_lo:g_hi]))
                index_meta.append((8, cid, len(bs)))  # BLOOM_FILTER_UTF8
                index += bs
        out += index
        out += data
        # StripeFooter: streams=1, columns(encodings)=2, writerTimezone=3
        sf = bytearray()
        for kind, col_id, length in index_meta + data_meta:
            body = _f_varint(1, kind) + _f_varint(2, col_id) + _f_varint(3, length)
            sf += _f_bytes(1, bytes(body))
        sf += _f_bytes(2, _f_varint(1, _ENC_DIRECT))  # root struct
        for _cid, _streams, encs, *_ in walked:
            sf += _f_bytes(2, encs[s_i])
        sf += _f_bytes(3, b"UTC")
        sf_wrapped = wrap(bytes(sf))
        out += sf_wrapped
        stripe_infos.append(
            (stripe_offset, len(index), len(data), len(sf_wrapped), n_rows)
        )

    content_length = len(out)

    # Metadata section (between stripes and footer): one StripeStatistics
    # per stripe, one ColumnStatistics per column id — typed min/max so a
    # SearchArgument can refute entire stripes from the tail alone (the
    # reference reader's sargApp.pickStripes skips WHOLE stripes before
    # touching their indexes)
    meta_pb = b"".join(
        _f_bytes(
            1,
            _f_bytes(1, _root_stats(info[4]))
            + b"".join(_f_bytes(1, st[s_i]) for *_, st, _file_st in walked),
        )
        for s_i, info in enumerate(stripe_infos)
    )
    metadata_wrapped = wrap(meta_pb)
    out += metadata_wrapped

    # Footer
    footer = bytearray()
    footer += _f_varint(1, header_len)
    footer += _f_varint(2, content_length)
    for off, ilen, dlen, flen, nrows in stripe_infos:
        body = (
            _f_varint(1, off)
            + _f_varint(2, ilen)
            + _f_varint(3, dlen)
            + _f_varint(4, flen)
            + _f_varint(5, nrows)
        )
        footer += _f_bytes(3, bytes(body))
    # types in pre-order: root struct, then each column's subtree
    type_pbs: list[bytes] = []
    _tree_type_pbs(root_node, type_pbs)
    for tp in type_pbs:
        footer += _f_bytes(4, tp)
    # user metadata (Writer.addUserMetadata analog): Footer.metadata,
    # repeated UserMetadataItem { name=1, value=2 }
    for k, v in (user_metadata or {}).items():
        footer += _f_bytes(5, _f_bytes(1, k.encode()) + _f_bytes(2, bytes(v)))
    footer += _f_varint(6, total_rows)
    # file-level per-id stats: typed min/max over the whole table — lets
    # the reader skip the entire file from the footer
    footer += _f_bytes(7, _root_stats(total_rows))
    for *_, file_st in walked:
        footer += _f_bytes(7, file_st)
    footer += _f_varint(8, row_index_stride)
    footer_wrapped = wrap(bytes(footer))
    out += footer_wrapped

    # PostScript
    ps = bytearray()
    ps += _f_varint(1, len(footer_wrapped))
    ps += _f_varint(2, block.CODECS[codec])
    if compression != "NONE":
        ps += _f_varint(3, block.ORC_CHUNK_SIZE)  # compressionBlockSize
    ps += _f_packed(4, [0, 11] if v11 else [0, 12])  # file version
    ps += _f_varint(5, len(metadata_wrapped))  # metadataLength
    # writerVersion 9 = ORC_14, orc-core 2.2's CURRENT_WRITER: the reader
    # trusts a statistic only if the writer postdates its bug fix, and
    # this writer implements every gated contract — codepoint-ordered
    # string bounds (HIVE_8732), NaN-free double bounds (HIVE_13083),
    # UTF8 blooms (ORC_101), UTC timestamp statistics (ORC_135, else the
    # reader ignores timestamp min/max entirely), canonical decimal
    # strings (ORC_517), 1024-byte stat truncation (ORC_203)
    ps += _f_varint(6, 9)
    ps += _f_bytes(8000, b"ORC")
    assert len(ps) < 256
    out += ps
    out.append(len(ps))

    with open(path, "wb") as f:
        f.write(bytes(out))
