"""Decimal64 column support (Decimal64TreeWriter analog): unscaled
int64 + RLEv2, precision/scale in the footer."""

from decimal import Decimal

import pyarrow as pa
import pytest

from sparc.engine import stripe


def test_decimal_roundtrip_with_nulls():
    t = pa.table(
        {
            "d": pa.array(
                [Decimal("12.34"), None, Decimal("-99999999.99"), Decimal("0.01")],
                pa.decimal128(12, 2),
            )
        }
    )
    streams, footer = stripe.encode_stripe(t)
    assert footer["columns"][0]["encoding"] == "decimal64"
    assert footer["columns"][0]["precision"] == 12
    assert footer["columns"][0]["scale"] == 2
    assert stripe.decode_stripe(streams, footer).equals(t)


def test_decimal_max_precision_18():
    t = pa.table(
        {
            "d": pa.array(
                [Decimal("123456789012345.678"), Decimal("-0.001")],
                pa.decimal128(18, 3),
            )
        }
    )
    streams, footer = stripe.encode_stripe(t)
    assert stripe.decode_stripe(streams, footer).equals(t)


def test_decimal_big_roundtrip_with_nulls():
    """Unbounded decimal (> 18 digits): zigzag-varint 128-bit mantissa
    DATA + RLE scale SECONDARY (SerializationUtils.writeBigInteger
    semantics), vectorized over word pairs."""
    vals = [
        Decimal("12345678901234567890123456.7890123456"),
        None,
        Decimal("-" + "9" * 28 + "." + "9" * 10),
        Decimal("0.0000000001"),
        Decimal("-0.0000000001"),
        Decimal(0),
    ]
    t = pa.table({"d": pa.array(vals, pa.decimal128(38, 10))})
    streams, footer = stripe.encode_stripe(t)
    col = footer["columns"][0]
    assert col["encoding"] == "decimal_big"
    assert col["precision"] == 38 and col["scale"] == 10
    assert ("d", "SECONDARY") in streams  # scale stream, like the reference
    assert stripe.decode_stripe(streams, footer).equals(t)
    # exact integer stats over the unscaled domain
    assert col["stats"]["min"] == -int("9" * 38)
    assert col["stats"]["max"] == 123456789012345678901234567890123456


def test_decimal_big_rowgroup_segments_and_pruning():
    vals = [Decimal(10**20 + i) for i in range(-3000, 3000)]
    t = pa.table({"d": pa.array(vals, pa.decimal128(38, 0))})
    streams, footer = stripe.encode_stripe(t, row_index_stride=1000)
    assert stripe.decode_stripe(streams, footer).equals(t)
    assert stripe.decode_stripe(streams, footer, row_groups=[3]).equals(
        t.slice(3000, 1000)
    )
    sel = stripe.pick_row_groups(
        footer, ("between", "d", 10**20 - 2999, 10**20 - 2001)
    )
    assert sel == [0]


def test_bigdec_kernel_fuzz():
    """Wire parity with the scalar zigzag+LEB128 definition across the
    full 128-bit range."""
    import random

    import numpy as np

    from sparc.kernels import bigdec

    def scalar_encode(values):
        out = bytearray()
        for v in values:
            e = ((v << 1) ^ (v >> 127)) & ((1 << 128) - 1)
            while True:
                b = e & 0x7F
                e >>= 7
                if e:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    break
        return bytes(out)

    rng = random.Random(7)
    values = [0, 1, -1, 2**127 - 1, -(2**127)]
    values += [rng.randint(-(2**127), 2**127 - 1) for _ in range(2000)]
    values += [rng.randint(-(10**6), 10**6) for _ in range(2000)]
    lo = np.array([v & ((1 << 64) - 1) for v in values], dtype=np.uint64)
    hi = np.array(
        [(v >> 64) if (v >> 64) < (1 << 63) else (v >> 64) - (1 << 64) for v in values],
        dtype=np.int64,
    )
    blob = bigdec.encode(lo, hi)
    assert blob == scalar_encode(values)
    dlo, dhi = bigdec.decode(blob, len(values))
    assert [int(h) << 64 | int(l) for l, h in zip(dlo.tolist(), dhi.tolist())] == values


def test_decimal_rowgroup_segments_and_pruning():
    vals = [Decimal(i) / 100 for i in range(-3000, 3000)]
    t = pa.table({"d": pa.array(vals, pa.decimal128(10, 2))})
    streams, footer = stripe.encode_stripe(t, row_index_stride=1000)
    assert stripe.decode_stripe(streams, footer).equals(t)
    assert stripe.decode_stripe(streams, footer, row_groups=[2]).equals(
        t.slice(2000, 1000)
    )
    # per-group stats prune in the value domain (group 0 holds
    # -30.00..-20.01, group 1 starts at -20.00), for Decimal and int literals
    sel = stripe.pick_row_groups(footer, ("between", "d", Decimal("-29.99"), Decimal("-20.01")))
    assert sel == [0]
    assert stripe.pick_row_groups(footer, ("between", "d", -30, -21)) == [0]
