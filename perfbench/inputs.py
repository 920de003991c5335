"""Seeded inputs and their oracles.

The pages table comes from ``sparc.fixtures.pages`` with the generation
chunk pinned: a row's host and ``warc_ts`` depend on the offset of the
chunk it was generated in, so the workload is defined by (seed, rows,
chunk), and lookup keys are read back from the written file rather than
re-generated.  The lineitem table is a TPC-H-shaped synthetic table drawn
here from the seed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from sparc.fixtures import pages

# pages columns in file order
PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def write_pages(path: str, n_rows: int, seed: int, chunk: int) -> pa.Table:
    """Generate the pages parquet (one row group per ``chunk`` rows) and
    return the table as written."""
    pages.write_parquet(path, n_rows, seed=seed, chunk=chunk)
    return pq.read_table(path)


def _column_digest(col: pa.ChunkedArray) -> tuple[int, int]:
    """(null count, octets): byte length of binary-like values, whole
    seconds for timestamps."""
    if pa.types.is_timestamp(col.type):
        secs = pc.divide(col.cast(pa.int64()), 1_000_000)
        return col.null_count, int(pc.sum(secs).as_py() or 0)
    return col.null_count, int(pc.sum(pc.binary_length(col)).as_py() or 0)


def pages_digest(table: pa.Table) -> dict:
    """Row count plus per-column null count and octet sum."""
    out = {"rows": table.num_rows}
    for name in PAGES_COLUMNS:
        nulls, octets = _column_digest(table[name])
        out[f"{name}_nulls"] = nulls
        out[f"{name}_octets"] = octets
    return out


# DDL of the per-stripe digest rows :func:`digest_map` returns
DIGEST_DDL = "rows long, " + ", ".join(
    f"{c}_nulls long, {c}_octets long" for c in PAGES_COLUMNS
)


def digest_map(table: pa.Table) -> pa.Table:
    """``run_decode_map`` body: one digest row per decoded stripe."""
    d = pages_digest(table)
    return pa.table({k: pa.array([v], pa.int64()) for k, v in d.items()})


def sum_digests(rows) -> dict:
    out: dict[str, int] = {}
    for r in rows:
        for k, v in r.asDict().items():
            out[k] = out.get(k, 0) + v
    return out


def lookup_plan(table: pa.Table, seed: int, n: int) -> list[dict]:
    """``n`` lookups cycling through url-present, url-absent and narrow
    ``warc_ts`` ranges, with keys drawn from the written table and the
    expected answer computed by pyarrow."""
    rng = np.random.default_rng([seed, 0x10C])
    rows = rng.integers(0, table.num_rows, n)
    urls = table["url"]
    ts = table["warc_ts"].cast(pa.int64())
    plan = []
    for i, r in enumerate(rows.tolist()):
        kind = ("url_present", "url_absent", "ts_range")[i % 3]
        if kind == "ts_range":
            lo = ts[r].as_py()
            # ~30 rows at the fixture's ~1 s mean step
            q = {"kind": kind, "lo": lo, "hi": lo + 30_000_000}
        else:
            # a present key with a suffix sorts next to it, inside every
            # stripe's min/max: only the bloom filter can refute it
            q = {"kind": kind,
                 "key": urls[r].as_py() + ("" if kind == "url_present" else "-absent")}
        q["expect"] = lookup_hits(table, q)
        plan.append(q)
    return plan


def lookup_hits(table: pa.Table, q: dict) -> int:
    """Rows of ``table`` that lookup ``q`` matches."""
    if q["kind"] == "ts_range":
        ts = table["warc_ts"].cast(pa.int64())
        hit = pc.and_(pc.greater_equal(ts, q["lo"]), pc.less_equal(ts, q["hi"]))
    else:
        hit = pc.equal(table["url"], q["key"])
    return pc.sum(hit).as_py() or 0


# --- lineitem ---------------------------------------------------------------

_DAY_US = 86_400_000_000
_EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01 UTC


def lineitem(n_rows: int, seed: int) -> pa.Table:
    """TPC-H-shaped lineitem: sorted order keys with 1-7 lines per order,
    uniform part/supplier keys, two-decimal prices, low-cardinality flags
    and shipping dates over seven years."""
    rng = np.random.default_rng([seed, 0x11E])
    lines = rng.integers(1, 8, n_rows // 2 + 1)  # enough orders to cover n_rows
    n_orders = int(np.searchsorted(np.cumsum(lines), n_rows)) + 1
    lines = lines[:n_orders]
    lines[-1] -= int(lines.sum()) - n_rows
    # TPC-H order keys are sparse: 8 keys used out of every 32
    okeys = (np.arange(n_orders) // 8) * 32 + np.arange(n_orders) % 8 + 1
    order = np.repeat(np.arange(n_orders), lines)
    linenumber = np.arange(n_rows) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    partkey = rng.integers(1, 20_001, n_rows)
    quantity = rng.integers(1, 51, n_rows).astype(np.float64)
    retail = (90_000 + (partkey // 10) % 20_001 + (partkey % 1000) * 100) / 100.0
    order_day = rng.integers(0, 2_400, n_orders)
    ship_day = order_day[order] + rng.integers(1, 122, n_rows)
    shipped = ship_day < 1_260  # rows shipped before the 1995-06-17 cutoff
    returnflag = np.where(shipped, np.where(rng.random(n_rows) < 0.5, "R", "A"), "N")
    return pa.table(
        {
            "l_orderkey": pa.array(okeys[order], pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1_001, n_rows), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(np.round(quantity * retail, 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_rows) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_rows) / 100.0),
            "l_returnflag": pa.array(returnflag.tolist(), pa.string()),
            "l_linestatus": pa.array(np.where(shipped, "F", "O").tolist(), pa.string()),
            "l_shipdate": pa.array(
                _EPOCH_1992_US + ship_day * _DAY_US, pa.timestamp("us")
            ),
        }
    )


def orc_predicates(table: pa.Table, seed: int) -> list[tuple]:
    """Three seed-chosen filters on the sorted order key, so each prunes
    to a few row groups: a point lookup, a narrow range, and a range
    combined with a string equality (``and`` over two columns)."""
    rng = np.random.default_rng([seed, 0x0AC])
    okeys = table["l_orderkey"]
    a, b, c = (okeys[int(r)].as_py() for r in rng.integers(0, table.num_rows, 3))
    return [
        ("=", "l_orderkey", a),
        ("between", "l_orderkey", b, b + 2_000),
        ("and", (">=", "l_orderkey", c), ("<", "l_orderkey", c + 500),
         ("=", "l_linestatus", "F")),
    ]


def arrow_filter(table: pa.Table, pred: tuple) -> pa.Table:
    """Row-level evaluation of the predicate shapes :func:`orc_predicates`
    builds, with pyarrow compute (the oracle)."""
    return table.filter(_mask(table, pred))


def _mask(table: pa.Table, pred: tuple):
    op = pred[0]
    if op == "and":
        m = _mask(table, pred[1])
        for child in pred[2:]:
            m = pc.and_(m, _mask(table, child))
        return m
    col = table[pred[1]]
    if op == "between":
        return pc.and_(pc.greater_equal(col, pred[2]), pc.less_equal(col, pred[3]))
    fn = {"=": pc.equal, "<": pc.less, "<=": pc.less_equal,
          ">": pc.greater, ">=": pc.greater_equal}[op]
    return fn(col, pred[2])
