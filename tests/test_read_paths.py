"""The two read paths of ``decode_job.run_decode`` and their planner.

``plan_read`` prunes in the driver; a read whose kept units hold at most
``DRIVER_DECODE_BYTES`` decodes in the driver and returns a
``LocalTableScan``, every other read runs one ``mapInArrow`` job over the
units.  Both paths prune the decoded rows with the same row mask.  Every
option runs through both paths here (the budget patched to cover
everything, then to 0) and must return the same rows."""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import time
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparc.engine import stripe
from sparc.job import decode_job, encode_job, manifest
from sparc.job import partition as part_mod
from sparc.kernels.block import SparcFormatError

N = 3_072
T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _table() -> pa.Table:
    ids = list(range(N))
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "url": pa.array(
            [None if i % 17 == 0 else f"https://h{i % 97:02d}.example/p{i}" for i in ids]
        ),
        "ts": pa.array([T0 + dt.timedelta(seconds=i, microseconds=i % 1000) for i in ids],
                       pa.timestamp("us")),
        "dec": pa.array([Decimal(f"{i}.{i % 100:02d}") for i in ids], pa.decimal128(12, 2)),
        "tags": pa.array([[f"t{j}" for j in range(i % 4)] for i in ids], pa.list_(pa.string())),
        "meta": pa.array([{"a": i % 5, "b": None if i % 3 else f"b{i}"} for i in ids],
                         pa.struct([("a", pa.int32()), ("b", pa.string())])),
        "m": pa.array([[(f"k{j}", j / 2) for j in range(i % 3)] for i in ids],
                      pa.map_(pa.string(), pa.float64())),
    })


@pytest.fixture(scope="module")
def streams_dir(spark, tmp_path_factory):
    """3 stripes of 1,024 rows, row groups of 256, a bloom on url."""
    d = tmp_path_factory.mktemp("read_paths")
    src = str(d / "src.parquet")
    pq.write_table(_table(), src, row_group_size=512)
    out = str(d / "streams")
    encode_job.run_encode_paths(
        spark, src, out, target_rows_per_stripe=1_024, row_index_stride=256,
        bloom_columns=["url"],
    )
    return out


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _both(spark, d, monkeypatch, **kw) -> list[str]:
    """Rows of ``run_decode(spark, d, **kw)`` on the driver path, asserted
    equal to the task path's, as sorted reprs."""
    got = {}
    for path, budget in (("driver", 1 << 60), ("task", 0)):
        monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", budget)
        df = decode_job.run_decode(spark, d, **kw)
        plan = _plan(df)
        # Spark folds a job over no units into an empty LocalTableScan
        assert ("MapInArrow" in plan) == (path == "task") or "<empty>" in plan, plan
        got[path] = sorted(repr(r) for r in df.collect())
    assert got["driver"] == got["task"]
    return got["driver"]


URL = "https://h05.example/p5"
T_LO = dt.datetime(2024, 3, 1, 12, 5, tzinfo=dt.timezone.utc)
T_HI = T_LO + dt.timedelta(seconds=40)
OPTIONS = {
    "plain": {},
    "columns": {"columns": ["meta", "url"]},
    "sarg_tree": {"stripe_filter": (
        "and", ("between", "id", 600, 1_700), ("not", ("is_null", "url")))},
    "range_tuple": {"stripe_filter": ("id", 100, 900)},
    "no_rowgroup_prune": {"stripe_filter": ("<", "id", 300), "rowgroup_prune": False},
    "row_filter": {"stripe_filter": ("=", "url", URL), "row_filter": True},
    "datetime_literal": {"stripe_filter": ("between", "ts", T_LO, T_HI), "row_filter": True},
    "cast_to": {"cast_to": {"id": "string", "dec": "double"}},
    "reader_schema": {"reader_schema": "ID long, Url string, missing int"},
    "positional": {"reader_schema": "a long, b string", "positional": True},
    "n_partitions": {"n_partitions": 7},
    "verify_crc": {"verify_crc": True, "stripe_filter": (">", "id", 2_000)},
}


def _oracle_ids(pred: tuple) -> list[int]:
    """ids of the source rows ``pred`` matches, by pyarrow (the predicates
    here use int, url and UTC-datetime literals on the naive ts column)."""
    t = _table()
    ts = t["ts"].cast(pa.int64())

    def us(v):
        return (v - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(
            microseconds=1)

    def ev(p):
        op, col = p[0], p[1]
        if op in ("and", "or"):
            f = pc.and_kleene if op == "and" else pc.or_kleene
            out = ev(p[1])
            for c in p[2:]:
                out = f(out, ev(c))
            return out
        if op == "not":
            return pc.invert(ev(p[1]))
        if op == "is_null":
            return pc.is_null(t[col])
        arr, lits = (ts, [us(v) for v in p[2:]]) if col == "ts" else (t[col], list(p[2:]))
        if op == "between":
            return pc.and_kleene(pc.greater_equal(arr, lits[0]), pc.less_equal(arr, lits[1]))
        fn = {"=": pc.equal, "<": pc.less, "<=": pc.less_equal,
              ">": pc.greater, ">=": pc.greater_equal}[op]
        return fn(arr, lits[0])

    return t.filter(ev(pred))["id"].to_pylist()


@pytest.mark.parametrize("name", sorted(OPTIONS))
def test_paths_return_the_same_rows(spark, streams_dir, monkeypatch, name):
    rows = _both(spark, streams_dir, monkeypatch, **OPTIONS[name])
    assert rows
    if name == "row_filter":
        assert len(rows) == 1 and URL in rows[0]
    if name == "plain":
        assert len(rows) == N
    pred = OPTIONS[name].get("stripe_filter")
    if pred is not None and OPTIONS[name].get("rowgroup_prune", True):
        # row-granular pruning: exactly the matching rows, filter or not
        ids = sorted(int(re.search(r"\bid=(\d+)", r).group(1)) for r in rows)
        assert ids == _oracle_ids(decode_job._as_predicate(pred)), pred


def test_driver_path_hands_spark_only_the_matching_rows(spark, streams_dir, monkeypatch):
    """A url lookup on the driver path gives ``createDataFrame`` the one
    matching row, not its kept row group."""
    seen = []
    real = part_mod.local_frame

    def capture(spark_, rows, ddl):
        seen.append(rows)
        return real(spark_, rows, ddl)

    monkeypatch.setattr(part_mod, "local_frame", capture)
    monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", 1 << 60)
    df = decode_job.run_decode(spark, streams_dir, stripe_filter=("=", "url", URL))
    (table,) = seen
    assert table["url"].to_pylist() == [URL]
    assert df.count() == 1
    pred = ("between", "ts", T_LO, T_HI)
    seen.clear()
    decode_job.run_decode(spark, streams_dir, stripe_filter=pred)
    assert seen[0]["id"].to_pylist() == _oracle_ids(pred)


@pytest.mark.parametrize("budget", [1 << 60, 0])
def test_row_pruning_needs_rowgroup_prune_and_the_predicate_columns(
    spark, streams_dir, monkeypatch, budget
):
    """``rowgroup_prune=False``, or a projection without a predicate
    column, returns the kept stripes' / row groups' every row."""
    monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", budget)
    pred = ("<", "id", 10)
    assert decode_job.run_decode(spark, streams_dir, stripe_filter=pred).count() == 10
    whole = decode_job.run_decode(spark, streams_dir, stripe_filter=pred, rowgroup_prune=False)
    assert whole.count() == 1_024  # the one kept stripe
    group = decode_job.run_decode(spark, streams_dir, columns=["url"], stripe_filter=pred)
    assert group.count() == 256  # the one kept row group


def test_map_fn_runs_on_the_task_path(spark, streams_dir):
    """A map_fn read runs the job whatever the kept size, on the rows the
    row mask keeps."""
    def count(t):
        return pa.table({"n": pa.array([t.num_rows], pa.int64())})

    df = decode_job.run_decode_map(
        spark, streams_dir, count, "n long", stripe_filter=("<", "id", 10)
    )
    assert "MapInArrow" in _plan(df)
    assert df.agg(F.sum("n")).first()[0] == 10  # the matching rows of the kept group


def test_empty_result_on_both_paths(spark, streams_dir, monkeypatch):
    """Every group refuted: no units, no rows, the file schema kept."""
    assert decode_job.plan_read(streams_dir, ("<", "id", 0)).units == []
    assert _both(spark, streams_dir, monkeypatch, stripe_filter=("<", "id", 0)) == []
    df = decode_job.run_decode(spark, streams_dir, stripe_filter=("<", "id", 0))
    assert df.columns == ["id", "url", "ts", "dec", "tags", "meta", "m"]


def test_timestamps_agree_under_a_non_utc_session_zone(spark, streams_dir, monkeypatch):
    """Decoded timestamps are UTC instants on both paths: a session zone
    other than UTC changes how they print, not what they are."""
    want = {i: int((T0 + dt.timedelta(seconds=i, microseconds=i % 1000)
                    - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1))
            for i in range(N)}
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got = {}
        for path, budget in (("driver", 1 << 60), ("task", 0)):
            monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", budget)
            df = decode_job.run_decode(spark, streams_dir, columns=["id", "ts"]).select(
                "id", F.unix_micros("ts").alias("us"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("local"),
            )
            got[path] = sorted(tuple(r) for r in df.collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert got["driver"] == got["task"]
    assert {i: us for i, us, _ in got["driver"]} == want
    assert got["driver"][0][2] == "2024-03-01 04:00:00"  # PST is UTC-8


def test_non_microsecond_timestamps_on_both_paths(spark, tmp_path, monkeypatch):
    """Spark holds timestamps in microseconds: nanosecond columns, zoned
    or not, come back truncated to them and millisecond ones widened, on
    both paths."""
    ns = [1_700_000_000_123_456_789 + i * 1_001 for i in range(1_000)]
    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.table({
        "id": pa.array(range(1_000), pa.int64()),
        "ns": pa.array(ns, pa.timestamp("ns")),
        "ns_utc": pa.array(ns, pa.timestamp("ns", "UTC")),
        "ms": pa.array([v // 1_000_000 for v in ns], pa.timestamp("ms")),
    }), src)
    d = str(tmp_path / "streams")
    encode_job.run_encode_paths(spark, src, d, target_rows_per_stripe=500)
    got = {}
    for path, budget in (("driver", 1 << 60), ("task", 0)):
        monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", budget)
        df = decode_job.run_decode(spark, d).select(
            "id", *[F.unix_micros(c) for c in ("ns", "ns_utc", "ms")]
        )
        got[path] = sorted(tuple(r) for r in df.collect())
    assert got["driver"] == got["task"]
    assert got["task"] == [(i, v // 1_000, v // 1_000, v // 1_000_000 * 1_000)
                           for i, v in enumerate(ns)]


def test_bit_flip_raises_on_both_paths(spark, streams_dir, tmp_path, monkeypatch):
    """verify_crc checks the streams each path decodes: a flipped byte in
    a decoded stream raises on the driver path and in the task."""
    d = str(tmp_path / "flipped")
    shutil.copytree(streams_dir, d)
    footer = json.loads(decode_job.plan_read(d).units[0][0])
    (_, _, off, ln), = [s for s in footer["stream_spans"] if s[:2] == ["id", "DATA"]]
    with open(os.path.join(d, footer["stripe_file"]), "r+b") as f:
        f.seek(off + ln // 2)
        b = f.read(1)
        f.seek(off + ln // 2)
        f.write(bytes([b[0] ^ 0x40]))
    for budget in (1 << 60, 0):
        monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", budget)
        with pytest.raises(Exception, match="crc mismatch on id/DATA"):
            decode_job.run_decode(spark, d, columns=["id"], verify_crc=True).collect()
    # a read that does not decode the flipped stream does not check it
    assert _both(spark, d, monkeypatch, columns=["url"], verify_crc=True)


def test_older_format_generation_is_refused_on_both_paths(
    spark, streams_dir, tmp_path, monkeypatch
):
    """Footers written before the ``format`` field (streams in the 8-byte
    chunk framing) are refused by name before either path decodes."""
    d = str(tmp_path / "old_format")
    shutil.copytree(streams_dir, d)
    for p in manifest.paths(d):
        t = pq.read_table(p)
        blobs = [
            json.dumps({k: v for k, v in json.loads(b).items() if k != "format"}).encode()
            for b in t["data"].to_pylist()
        ]
        pq.write_table(t.set_column(3, "data", pa.array(blobs, pa.large_binary())), p)
    for budget in (1 << 60, 0):
        monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", budget)
        with pytest.raises(SparcFormatError, match=r"stripe \d+: footer field 'format' is None"):
            decode_job.run_decode(spark, d).collect()


def test_refuted_stripe_file_is_never_opened(spark, streams_dir, tmp_path, monkeypatch):
    """Stripes the planner refutes never become units: deleting their
    files changes nothing for a read that refutes them."""
    d = str(tmp_path / "partial")
    shutil.copytree(streams_dir, d)
    pred = ("<", "id", 500)
    kept = {json.loads(b)["stripe_file"] for b, _ in decode_job.plan_read(d, pred).units}
    every = {json.loads(b)["stripe_file"] for b, _ in decode_job.plan_read(d).units}
    assert kept and kept < every
    for rel in every - kept:
        os.remove(os.path.join(d, rel))
    rows = _both(spark, d, monkeypatch, stripe_filter=pred, row_filter=True)
    assert len(rows) == 500


def test_parsed_parts_are_cached_until_a_part_changes(streams_dir, tmp_path, monkeypatch):
    """Planning reads each manifest part once; a replaced or deleted part
    is seen by the next read."""
    d = str(tmp_path / "cached")
    shutil.copytree(streams_dir, d)
    parts = manifest.paths(d)
    real = pq.read_table
    footers = {p: real(p).num_rows for p in parts}
    reads = []
    monkeypatch.setattr(pq, "read_table", lambda *a, **k: reads.append(a) or real(*a, **k))
    assert decode_job.plan_read(d).counters["stripes"] == 3
    assert len(reads) == len(parts)
    reads.clear()
    assert decode_job.plan_read(d, ("=", "url", URL)).counters["stripes"] == 3
    assert decode_job.infer_schema_ddl(None, d)
    assert reads == []
    # replace the last part by one that lists only its first footer
    tmp = os.path.join(d, ".replacement")
    pq.write_table(real(parts[-1]).slice(0, 1), tmp, compression="none", store_schema=False)
    os.replace(tmp, parts[-1])
    footers[parts[-1]] = 1
    assert decode_job.plan_read(d).counters["stripes"] == sum(footers.values())
    assert len(reads) == 1  # the replacement; the other parts come cached
    reads.clear()
    os.remove(parts[0])
    del footers[parts[0]]
    assert decode_job.plan_read(d).counters["stripes"] == sum(footers.values())
    assert reads == []


def test_part_cache_under_concurrent_readers(streams_dir, tmp_path, monkeypatch):
    """Eight threads read nine parts through a cache of two entries:
    every read returns its own part's footers and the cache keeps its
    bound."""
    import sys
    import threading
    from collections import OrderedDict

    parts = []
    for i in range(3):
        shutil.copytree(streams_dir, str(tmp_path / f"c{i}"))
        parts += manifest.paths(str(tmp_path / f"c{i}"))
    want = {}
    for p in parts:
        t = pq.read_table(p)
        want[p] = t.filter(pc.equal(t["kind"], "FOOTER"))["stripe_id"].to_pylist()
    monkeypatch.setattr(decode_job, "_PARTS", OrderedDict())
    monkeypatch.setattr(decode_job, "_PARTS_MAX", 2)
    errors = []

    def reader(k: int) -> None:
        try:
            for i in range(150):
                p = parts[(k + i // 2) % len(parts)]  # twice each: a hit unless evicted
                got = [f["stripe_id"] for _, f in decode_job._footers(p)]
                if got != want[p]:
                    errors.append((p, got))
        except Exception as e:  # reported below, with the thread's part
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(decode_job._PARTS) <= 2


def test_plan_counters(streams_dir, monkeypatch):
    """The planner's counters split refutations by stats and by bloom and
    size the kept units."""
    c = decode_job.plan_read(streams_dir, ("=", "url", URL)).counters
    assert (c["stripes"], c["rowgroups"]) == (3, 12)
    assert c["stripes_refuted_by_stats"] == 0  # every range holds the url
    assert c["rowgroups_refuted_by_bloom"] >= 9  # fpp 0.01 over 11 absent groups
    refuted = c["rowgroups_refuted_by_bloom"] + c["rowgroups_refuted_by_stats"]
    assert c["rowgroups_kept"] + refuted == 12
    assert 0 < c["kept_bytes"] and c["path"] == "driver" and c["plan_s"] > 0
    full = decode_job.plan_read(streams_dir).counters
    assert full["rowgroups_kept"] == 12 and full["kept_bytes"] > c["kept_bytes"]
    ids = decode_job.plan_read(streams_dir, ("<", "id", 10), columns=["id"]).counters
    assert ids["stripes_refuted_by_stats"] == 2 and ids["rowgroups_refuted_by_stats"] == 3
    assert ids["kept_bytes"] < c["kept_bytes"]
    monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", full["kept_bytes"] - 1)
    assert decode_job.plan_read(streams_dir).counters["path"] == "task"


def test_driver_decode_initializes_runtime(spark, streams_dir, monkeypatch):
    """The driver's allocator tuning runs before it decodes (the decode
    itself calls ``runtime.init``)."""
    from sparc import runtime
    from sparc.engine import stripe as stripe_mod

    calls = []
    real_init, real_decode = runtime.init, stripe_mod.decode_stripe
    monkeypatch.setattr(runtime, "init", lambda: calls.append("init") or real_init())

    def decode(*a, **k):
        calls.append("decode")
        return real_decode(*a, **k)

    monkeypatch.setattr(stripe_mod, "decode_stripe", decode)
    monkeypatch.setattr(decode_job, "DRIVER_DECODE_BYTES", 1 << 60)
    decode_job.run_decode(spark, streams_dir, stripe_filter=("<", "id", 10))
    assert calls[:2] == ["decode", "init"]  # the first thing decode_stripe does


# Planning 10^4 one-column footers, no Spark: 0.46-0.94 s over 5 runs on
# a 4-vCPU VM (median 0.51 s, the slowest the first, cold), about 0.05 ms
# per footer; the bound leaves 6x over the slowest.
N_FOOTERS = 10_000
PLAN_BOUND_S = 6.0


def test_plan_read_scales_to_ten_thousand_footers(tmp_path):
    """Stripe stats refute all but ~1% of 10^4 synthetic footers; no
    stripe file is needed (kept stripes have no bloom to read)."""
    rows = 4_096
    streams, base = stripe.encode_stripe(
        pa.table({"k": pa.array(range(rows), pa.int64())}), row_index_stride=1_024
    )
    base["stripe_file"] = "stripes/missing.sparc"
    base["stream_spans"] = [[c, k, 0, len(v)] for (c, k), v in streams.items()]
    blobs = []
    for i in range(N_FOOTERS):
        f = json.loads(json.dumps(base))
        f["stripe_id"] = i
        col = f["columns"][0]
        for st in [col["stats"]] + [g["stats"] for g in col["row_index"]]:
            st["min"] += i * rows
            st["max"] += i * rows
        blobs.append(json.dumps(f).encode())
    d = str(tmp_path / "synthetic")
    os.makedirs(d)
    for part in range(4):
        chunk = blobs[part::4]
        pq.write_table(pa.table({
            "stripe_id": pa.array(range(part, N_FOOTERS, 4), pa.int64()),
            "column": pa.array([""] * len(chunk)),
            "kind": pa.array(["FOOTER"] * len(chunk)),
            "data": pa.array(chunk, pa.large_binary()),
        }, schema=manifest.PA_SCHEMA), os.path.join(d, f"part-{part:019d}-sparc.parquet"))
    pred = ("between", "k", 5_000 * rows + 500, 5_100 * rows - 1)
    t0 = time.perf_counter()
    plan = decode_job.plan_read(d, pred)
    wall = time.perf_counter() - t0
    c = plan.counters
    assert c["stripes"] == N_FOOTERS and len(plan.units) == 100
    assert c["stripes_refuted_by_stats"] == N_FOOTERS - 100
    assert c["rowgroups_refuted_by_stats"] == 0
    assert wall < PLAN_BOUND_S, f"planned {N_FOOTERS} footers in {wall:.2f} s"
