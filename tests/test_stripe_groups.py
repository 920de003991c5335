"""Row-group selection in ``decode_stripe`` over the golden inputs.

A selection decodes exactly the selected groups' rows, in one decompress
per stream and one RLEv2 decode per stream: listing every group costs
what a whole decode costs, and no selection costs more.  ``row_groups``
takes strictly ascending indices of existing groups only.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from sparc.engine import stripe
from sparc.kernels import block, rlev2
from test_stripe_golden import CODECS, INPUTS, encode, table

STRIDE = 1_000


def _selections(n: int) -> list[list[int]]:
    sels = [[g] for g in range(n)]
    sels.append([0, n - 1])
    sels += [[g, g + 2] for g in range(n - 2)]
    sels.append(list(range(n)))
    return sels


def _expected(t: pa.Table, sel: list[int]) -> pa.Table:
    return pa.concat_tables([t.slice(g * STRIDE, STRIDE) for g in sel])


@pytest.fixture
def calls(monkeypatch):
    """Counts of ``block.decompress`` and ``rlev2.decode`` calls."""
    counts = {"decompress": 0, "decode": 0}

    def counting(mod, attr):
        orig = getattr(mod, attr)

        def wrapper(*a, **k):
            counts[attr] += 1
            return orig(*a, **k)

        monkeypatch.setattr(mod, attr, wrapper)

    counting(block, "decompress")
    counting(rlev2, "decode")
    return counts


def _decode_counted(calls: dict, streams, footer, sel):
    calls.update(decompress=0, decode=0)
    out = stripe.decode_stripe(streams, footer, row_groups=sel)
    return out, dict(calls)


@pytest.mark.parametrize("codec", CODECS)
@pytest.mark.parametrize("name", list(INPUTS))
def test_selected_groups_decode_their_rows_in_whole_decode_calls(name, codec, calls):
    t = table(name)
    streams, footer = encode(name, STRIDE, codec)
    n = len(footer["columns"][0]["row_index"])
    assert n >= 5
    whole, whole_calls = _decode_counted(calls, streams, footer, None)
    assert whole.equals(t)
    for sel in _selections(n):
        out, sel_calls = _decode_counted(calls, streams, footer, sel)
        assert out.equals(_expected(t, sel)), sel
        if len(sel) == n:
            assert sel_calls == whole_calls
        else:
            assert all(sel_calls[k] <= whole_calls[k] for k in whole_calls), sel


@pytest.mark.parametrize(
    "sel, bad",
    [([-1], -1), ([6], 6), ([-6], -6), ([3, 0], 0), ([1, 1], 1), ([0, 2, 9], 9)],
)
def test_row_groups_must_be_ascending_indices_of_existing_groups(sel, bad):
    streams, footer = encode("numeric", STRIDE, "zstd")
    assert len(footer["columns"][0]["row_index"]) == 6
    with pytest.raises(ValueError, match=rf"'i64'.* {bad} .*\[0, 6\)"):
        stripe.decode_stripe(streams, footer, row_groups=sel)


def test_row_groups_checked_on_struct_and_union_columns():
    streams, footer = encode("nested", STRIDE, "zstd")
    for name in ("st", "un"):
        one = dict(footer, columns=[c for c in footer["columns"] if c["name"] == name])
        for sel in ([2, 1], [7]):
            with pytest.raises(ValueError, match=f"'{name}'"):
                stripe.decode_stripe(streams, one, row_groups=sel)


def test_empty_selection_decodes_no_rows():
    streams, footer = encode("nested", STRIDE, "none")
    out = stripe.decode_stripe(streams, footer, row_groups=[])
    assert out.num_rows == 0
    assert out.schema == table("nested").schema
