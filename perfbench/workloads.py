"""The four workloads.

Each workload prepares its inputs in a set-up round, then runs one kind
of operation in a closed loop.  ``plan(i)`` builds operation ``i`` and
returns the call that runs it (for a decode, the DataFrame is built in
``plan`` and the call is the Spark action); ``check(i, result)`` verifies
the result against an oracle computed from the written inputs; and
``replay(span, counters)`` repeats the engine work of the operation in
this process through sparc's public functions, for the traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from sparc.engine import orcfile, orcread, sarg, stripe
from sparc.job import decode_job, encode_job

from . import inputs


@dataclass(frozen=True)
class Scale:
    pages_rows: int
    # generation chunk = parquet row group = stripe target: every scan
    # unit is one row group and becomes one stripe
    pages_chunk: int
    row_index_stride: int
    lookups: int  # length of the cyclic lookup plan
    lineitem_rows: int
    orc_stride: int


SCALES = {
    # 8 stripes of 4096 pages rows (2 per lane at 4 lanes), 4 row groups
    # each; lineitem is 30 row groups of 10,000 rows
    "full": Scale(32_768, 4_096, 1_024, 48, 300_000, 10_000),
    # self-test size
    "tiny": Scale(2_048, 512, 256, 6, 20_000, 2_000),
}


def no_span(_name: str):
    return contextlib.nullcontext()


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's ``_SUCCESS`` and
    hidden ``.crc`` checksum files are not part of the stored table)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def read_footers(streams_dir: str) -> list[dict]:
    """Stripe footers from a files-sink manifest, in stripe-id order."""
    footers = []
    for name in sorted(os.listdir(streams_dir)):
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            t = pq.read_table(os.path.join(streams_dir, name))
            for kind, data in zip(t["kind"].to_pylist(), t["data"].to_pylist()):
                if kind == "FOOTER":
                    footers.append(json.loads(data))
    return sorted(footers, key=lambda f: f["stripe_id"])


def read_stripe(streams_dir: str, footer: dict, bloom_columns=()) -> dict:
    """The stripe's stream spans as memoryviews over one file read (bloom
    streams only for ``bloom_columns``), as the files-sink decode fetches
    them."""
    with open(os.path.join(streams_dir, footer["stripe_file"]), "rb") as f:
        mv = memoryview(f.read())
    return {
        (c, k): mv[off : off + ln]
        for c, k, off, ln in footer["stream_spans"]
        if k != "BLOOM_FILTER_UTF8" or c in bloom_columns
    }


class Workload:
    name = ""
    uses_spark = True
    warmup = 3  # untimed operations before measuring

    def __init__(self, seed: int, scale: Scale, session, lanes: int = 1):
        self.seed = seed
        self.scale = scale
        self.session = session
        self.spark = session.spark if session is not None else None
        self.input_bytes = 0  # Arrow bytes one operation covers
        self.rows = 0
        self.stored_bytes = 0  # engine bytes on disk for the table

    def prepare(self, d: str) -> None:
        raise NotImplementedError

    def plan(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> bool:
        raise NotImplementedError

    def replay(self, span, counters: dict, detail: bool = False) -> None:
        """Engine work of one operation (for lookups: of the whole plan).
        ``detail`` asks for counters that need extra, untimed work."""
        raise NotImplementedError

    def reference(self, d: str) -> dict:
        """Reference ORC writer/reader on the same input: context only."""
        raise NotImplementedError

    def close(self) -> None:
        """Stop whatever the workload started."""


class EncodePages(Workload):
    """``run_encode_paths`` over the pages parquet, files sink, bloom on url."""

    name = "encode-pages"

    def prepare(self, d: str) -> None:
        self.dir = d
        self.input = os.path.join(d, "pages.parquet")
        table = inputs.write_pages(
            self.input, self.scale.pages_rows, self.seed, self.scale.pages_chunk
        )
        self.table = table
        self.digest = inputs.pages_digest(table)
        self.input_bytes = table.nbytes
        self.rows = table.num_rows

    def encode(self, out: str) -> dict:
        return encode_job.run_encode_paths(
            self.spark, self.input, out,
            bloom_columns=["url"],
            target_rows_per_stripe=self.scale.pages_chunk,
            row_index_stride=self.scale.row_index_stride,
        )

    def plan(self, i: int):
        out = os.path.join(self.dir, f"enc-{i}")

        def run():
            self.encode(out)
            return out

        return run

    def check(self, i: int, out: str) -> bool:
        rows = decode_job.run_decode_map(
            self.spark, out, inputs.digest_map, inputs.DIGEST_DDL
        ).collect()
        self.stored_bytes = dir_bytes(out)
        self.last_stripes = len(os.listdir(os.path.join(out, "stripes")))
        shutil.rmtree(out)
        return inputs.sum_digests(rows) == self.digest

    def units(self) -> list[tuple[int, int]]:
        """Row-group ranges packed to the stripe target, as the planner
        packs them."""
        md = pq.ParquetFile(self.input).metadata
        units, lo, acc = [], 0, 0
        for g in range(md.num_row_groups):
            acc += md.row_group(g).num_rows
            if acc >= self.scale.pages_chunk:
                units.append((lo, g + 1))
                lo, acc = g + 1, 0
        if lo < md.num_row_groups:
            units.append((lo, md.num_row_groups))
        return units

    def replay(self, span, counters: dict, detail: bool = False) -> None:
        for lo, hi in self.units():
            with span("io.parquet_read"):
                pf = pq.ParquetFile(self.input)
                table = pa.Table.from_batches(
                    list(pf.iter_batches(
                        batch_size=1 << 16, row_groups=range(lo, hi), use_threads=False
                    ))
                )
            stripe.encode_stripe(
                table, codec="zstd", bloom_columns=["url"],
                row_index_stride=self.scale.row_index_stride,
            )

    def reference(self, d: str) -> dict:
        out = os.path.join(d, "ref-orc")
        t0 = time.perf_counter()
        self.spark.read.parquet(self.input).write.option("compression", "zstd").orc(out)
        t1 = time.perf_counter()
        self.spark.read.orc(out).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        size = dir_bytes(out)
        shutil.rmtree(out)
        return {"write_s": t1 - t0, "read_s": t2 - t1, "bytes": size}


class ScanPages(EncodePages):
    """``run_decode_map`` over every column of a pre-encoded pages table,
    returning one digest row per stripe."""

    name = "scan-pages"
    warmup = 4

    def prepare(self, d: str) -> None:
        super().prepare(d)
        self.enc = os.path.join(d, "enc")
        self.encode(self.enc)
        self.stored_bytes = dir_bytes(self.enc)
        self.footers = read_footers(self.enc)

    def plan(self, i: int):
        return decode_job.run_decode_map(
            self.spark, self.enc, inputs.digest_map, inputs.DIGEST_DDL
        ).collect

    def check(self, i: int, rows) -> bool:
        return inputs.sum_digests(rows) == self.digest

    def replay(self, span, counters: dict, detail: bool = False) -> None:
        for footer in self.footers:
            with span("io.stripe_read"):
                streams = read_stripe(self.enc, footer)
            table = stripe.decode_stripe(streams, footer)
            with span("bench.map_fn"):
                inputs.digest_map(table)


class LookupPages(ScanPages):
    """Selective ``run_decode(..., stripe_filter=...)`` counts: url present,
    url absent, narrow ``warc_ts`` range, in turn."""

    name = "lookup-pages"
    warmup = 5

    def prepare(self, d: str) -> None:
        super().prepare(d)
        self.lookups = inputs.lookup_plan(self.table, self.seed, self.scale.lookups)
        self.table = None

    @staticmethod
    def predicate(q: dict) -> tuple:
        if q["kind"] == "ts_range":
            return ("between", "warc_ts", q["lo"], q["hi"])
        return ("=", "url", q["key"])

    def plan(self, i: int):
        from pyspark.sql import functions as F

        q = self.lookups[i % len(self.lookups)]
        pred = self.predicate(q)
        if q["kind"] == "ts_range":
            # stripe and row-group pruning take the raw microsecond stats
            # domain; the row filter compares on the decoded timestamp
            df = decode_job.run_decode(self.spark, self.enc, stripe_filter=pred)
            df = df.filter(F.unix_micros("warc_ts").between(q["lo"], q["hi"]))
        else:
            df = decode_job.run_decode(
                self.spark, self.enc, stripe_filter=pred, row_filter=True
            )
        return df.count

    def check(self, i: int, n: int) -> bool:
        return n == self.lookups[i % len(self.lookups)]["expect"]

    def replay(self, span, counters: dict, detail: bool = False) -> None:
        """The decode job's per-stripe path for every lookup of the plan:
        stripe stats, stream fetch, row-group pick (stats + bloom), decode
        of the kept groups, row filter."""
        for q in self.lookups:
            pred = self.predicate(q)
            cols = sarg.columns_of(pred)
            matches = 0
            for footer in self.footers:
                counters["stripes"] += 1
                col_stats = {
                    c["name"]: c["stats"] for c in footer["columns"] if c.get("stats")
                }
                if not sarg.keep(pred, col_stats):
                    continue
                counters["stripes_kept"] += 1
                with span("io.stripe_read"):
                    streams = read_stripe(self.enc, footer, bloom_columns=cols)
                groups = stripe.pick_row_groups(footer, pred, streams=streams)
                n_groups = len(footer["columns"][0]["row_index"])
                counters["rowgroups"] += n_groups
                if detail:  # split refutations: stats alone, then bloom
                    by_stats = stripe.pick_row_groups(footer, pred)
                    n_stats = n_groups if by_stats is None else len(by_stats)
                    n_both = n_groups if groups is None else len(groups)
                    counters["refuted_by_stats"] += n_groups - n_stats
                    counters["refuted_by_bloom"] += n_stats - n_both
                if groups == []:
                    continue
                counters["rowgroups_kept"] += n_groups if groups is None else len(groups)
                table = stripe.decode_stripe(streams, footer, row_groups=groups)
                with span("bench.row_filter"):
                    matches += inputs.lookup_hits(table, q)
            counters["matches"] += matches
            counters["replay_checked"] += 1
            counters["replay_failed"] += matches != q["expect"]


def orc_round_trip(table: pa.Table, path: str, pred: tuple, stride: int):
    """``write_orc`` (ZSTD, row index), then ``read_orc`` and
    ``read_orc_filtered`` of the written file."""
    orcfile.write_orc(table, path, compression="ZSTD", row_index_stride=stride)
    back = orcread.read_orc(path)
    filtered, total, kept = orcread.read_orc_filtered(path, pred)
    return back, filtered, total, kept


def orc_check(table: pa.Table, pred: tuple, back, filtered) -> bool:
    """The full read equals the input; the pruned read, filtered again,
    equals the filtered input (pruning may keep extra rows, never lose
    one)."""
    return back.equals(table) and inputs.arrow_filter(filtered, pred).equals(
        inputs.arrow_filter(table, pred)
    )


def orc_lane_main(fd: int) -> None:
    """One lane process of orc-lineitem, talking over socket ``fd``: holds
    its slice of the table and runs round trips on it.  Messages:
    ("load", parquet, lo, hi, preds), ("op", orc path, predicate index,
    stride), ("check",), ("stop",)."""
    from multiprocessing.connection import Connection

    from sparc import runtime

    conn = Connection(fd)
    runtime.init()
    conn.send("ready")
    table = preds = result = None
    while True:
        msg = conn.recv()
        if msg[0] == "load":
            _, path, lo, hi, preds = msg
            table = pq.read_table(path).slice(lo, hi - lo)
            conn.send(None)
        elif msg[0] == "op":
            _, orc_path, k, stride = msg
            result = (k, orc_round_trip(table, orc_path, preds[k], stride))
            conn.send((os.path.getsize(orc_path), result[1][2], result[1][3]))
        elif msg[0] == "check":
            k, (back, filtered, _total, _kept) = result
            result = None
            conn.send(orc_check(table, preds[k], back, filtered))
        else:
            return


class OrcLineitem(Workload):
    """ORC round trips with no Spark: each lane process writes its slice of
    the table with ``write_orc`` and reads it back with ``read_orc`` and
    ``read_orc_filtered``, all lanes at once; one of three predicates per
    operation.

    Lanes, as in the Spark workloads, because on the 4-vCPU VM the
    benchmark was tuned on, single-core speed drifts by about 20% per core
    and independently across cores: one process sampled one core's state
    per run (spread 0.34 over ten runs), four lanes sample four (0.06)."""

    name = "orc-lineitem"
    uses_spark = False
    warmup = 1

    def __init__(self, seed: int, scale: Scale, session, lanes: int):
        import socket
        import subprocess
        import sys
        from multiprocessing.connection import Connection
        from pathlib import Path

        super().__init__(seed, scale, session)
        # plain subprocesses over socket pairs: multiprocessing's spawn
        # would also start a resource tracker that outlives the run
        root = str(Path(__file__).resolve().parents[1])
        code = "import sys; from perfbench.workloads import orc_lane_main; " \
               "orc_lane_main(int(sys.argv[1]))"
        self.lanes = []
        for _ in range(lanes):
            ours, theirs = socket.socketpair()
            proc = subprocess.Popen(
                [sys.executable, "-c", code, str(theirs.fileno())],
                pass_fds=[theirs.fileno()], cwd=root,
            )
            theirs.close()
            self.lanes.append((proc, Connection(ours.detach())))
        for _, conn in self.lanes:
            conn.recv()  # imports done

    def _ask(self, msgs: list[tuple]) -> list:
        for (_, conn), msg in zip(self.lanes, msgs):
            conn.send(msg)
        return [conn.recv() for _, conn in self.lanes]

    def prepare(self, d: str) -> None:
        path = os.path.join(d, "lineitem.parquet")
        pq.write_table(inputs.lineitem(self.scale.lineitem_rows, self.seed), path)
        self.table = pq.read_table(path)
        self.preds = inputs.orc_predicates(self.table, self.seed)
        self.orc = os.path.join(d, "lineitem.orc")
        self.input_bytes = self.table.nbytes
        self.rows = n = self.table.num_rows
        cuts = [n * k // len(self.lanes) for k in range(len(self.lanes) + 1)]
        self._ask([("load", path, lo, hi, self.preds) for lo, hi in zip(cuts, cuts[1:])])
        self.lane_orc = [os.path.join(d, f"lineitem-{k}.orc") for k in range(len(self.lanes))]

    def plan(self, i: int):
        k = i % len(self.preds)
        stride = self.scale.orc_stride
        return lambda: self._ask([("op", p, k, stride) for p in self.lane_orc])

    def check(self, i: int, result) -> bool:
        self.stored_bytes = sum(size for size, _total, _kept in result)
        return all(self._ask([("check",)] * len(self.lanes)))

    def close(self) -> None:
        import subprocess

        for proc, conn in self.lanes:
            try:
                conn.send(("stop",))
            except OSError:
                pass
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            conn.close()

    def replay(self, span, counters: dict, detail: bool = False) -> None:
        """One round trip per predicate of the whole table, in this process."""
        for pred in self.preds:
            back, filtered, total, kept = orc_round_trip(
                self.table, self.orc, pred, self.scale.orc_stride
            )
            counters["rowgroups"] += total
            counters["rowgroups_kept"] += kept
            counters["replay_checked"] += 1
            counters["replay_failed"] += not orc_check(self.table, pred, back, filtered)

    def reference(self, d: str) -> dict:
        import pyarrow.orc as po

        path = os.path.join(d, "ref.orc")
        t0 = time.perf_counter()
        po.write_table(self.table, path, compression="zstd")
        t1 = time.perf_counter()
        po.read_table(path)
        t2 = time.perf_counter()
        return {"write_s": t1 - t0, "read_s": t2 - t1, "bytes": os.path.getsize(path)}


WORKLOADS = {
    w.name: w for w in (EncodePages, ScanPages, LookupPages, OrcLineitem)
}
