"""Two-parallelism scaling evidence for the encode job (north rule).

The north rule requires >=0.8 encode-throughput scaling efficiency from N
to 4N executors.  No real cluster exists in this sandbox, so (per the
driver instruction) we run the same job on the same input at two
parallelism levels and report throughput at both plus the efficiency
  eff = (T_N / T_4N) / 4  ==  throughput_4N / (4 * throughput_N).

Three numbers per pair, because this VM is a hostile measurement bench:

- ``job``: the full pipeline (scan -> stripe shuffle -> encode -> stripe files).
- ``stage``: the encode stage alone, over pre-staged stripe-partitioned
  parquet (no shuffle) — the engine-scaling signal.  On a real cluster
  the shuffle scales horizontally with executors; local-mode shuffle on
  this VM anti-scales beyond ~8 threads (measured: the no-op
  scan+shuffle+pipe floor alone is 5-17 s and varies 3x run-to-run).
- ``ceiling``: pure-CPU busy-loop scaling efficiency measured around the
  runs — the oversubscribed vCPUs cap ANY job at well below 1.0.

Each timed point is the best of ``RUNS`` warm runs (cold runs pay
one-off page-fault costs a long-lived production executor does not).

Usage: python scaling_bench.py [N 4N n_rows ...]
Default pairs: (2, 8, 300k rows) and (8, 32, 900k rows).
Writes BENCH/scaling.json and prints one JSON line per pair.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import sys
import time

RUNS = 3
CACHE = os.environ.get("SPARC_BENCH_CACHE", "/tmp/sparc_bench")


def _burn(q, barrier, reps):
    """Per-process ceiling probe: run the ACTUAL encode kernel.

    A pure-ALU busy loop overstates what this workload can scale to —
    encode is memory-bandwidth-bound (codec + bit-pack passes over every
    byte), and bandwidth is shared across cores.  Generating the fixture
    is untimed; a barrier makes all processes' timed loops overlap."""
    from sparc.engine import stripe as stripe_mod
    from sparc.fixtures import pages as pages_mod

    table = pages_mod.generate(8_000, seed=7, row_offset=0)
    stripe_mod.encode_stripe(table, codec="zstd")  # warm (imports, pools)
    barrier.wait()
    u0 = os.times()
    t0 = time.perf_counter()
    for _ in range(reps):
        stripe_mod.encode_stripe(table, codec="zstd")
    wall = time.perf_counter() - t0
    u1 = os.times()
    # (wall rate, user core-s, encodes): user time is storm-insensitive —
    # fault service is SYSTEM time and descheduling doesn't tick either —
    # so user-s/encode at N vs 4N lanes isolates the bandwidth/SMT
    # contention a "hardware ceiling" is supposed to mean
    q.put((reps / wall, u1.user - u0.user, reps))


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    return s[len(s) // 2]


def cpu_ceiling(
    n: int, n4: int, reps: int = 3, probe_reps: int = 3
) -> tuple[float, list[float], float, list[float]]:
    """Hardware scaling ceiling: aggregate ratio of the encode kernel
    itself run in N vs 4N concurrent processes (no Spark).  This is the
    best ANY scheduler could do for this workload on this box.

    ``probe_reps`` INTERLEAVED repetitions per leg (N, 4N, N, 4N, ...).
    TWO ceilings come out:

    - wall ceiling (best aggregate rate per leg across reps): a ceiling
      is a capability and storm bursts only SUBTRACT from a leg's rate —
      but one leg can eat a storm in ALL reps (r5 window-1 best-per-leg
      measured 1.10, i.e. super-linear nonsense), so wall stays
      evidence, not the gate.
    - user-CPU ceiling (BEST user-core-s/encode per leg across reps,
      ratioed): fault service is system time and descheduling ticks
      neither, so user time per encode resists storms — but it is not
      storm-PROOF: a storm's bandwidth pressure inflates memory-stall
      cycles, which DO tick user time (measured: 8→32 user-eff reps
      [0.97, 0.38, 0.34] in a window whose mid canary read 13.3 s — two
      reps ate the storm at the 32 leg).  Storms only ADD stalls, so the
      per-leg MINIMUM user/encode is the capability, same best-per-leg
      logic as the wall ceiling; the per-rep ratio list stays in the
      record as the storm evidence.  In a CPU-bound regime throughput =
      lanes/user_per_unit, so eff = u_N / u_4N.

    Returns (wall eff, wall per-rep effs, user eff, user per-rep effs)."""

    def agg(nproc: int) -> tuple[float, float]:
        q = mp.Queue()
        barrier = mp.Barrier(nproc)
        ps = [mp.Process(target=_burn, args=(q, barrier, reps)) for _ in range(nproc)]
        for p in ps:
            p.start()
        vals = [q.get() for _ in range(nproc)]
        for p in ps:
            p.join()
        rate = sum(v[0] for v in vals)
        user_per = sum(v[1] for v in vals) / sum(v[2] for v in vals)
        return rate, user_per

    a_ns, a_4ns, u_ns, u_4ns, effs, u_effs = [], [], [], [], [], []
    for _ in range(probe_reps):
        (a_n, u_n), (a_4n, u_4n) = agg(n), agg(n4)
        a_ns.append(a_n)
        a_4ns.append(a_4n)
        u_ns.append(u_n)
        u_4ns.append(u_4n)
        effs.append((a_4n / a_n) / (n4 / n))
        u_effs.append(u_n / u_4n)
    return (
        (max(a_4ns) / max(a_ns)) / (n4 / n),
        [round(e, 4) for e in effs],
        min(u_ns) / min(u_4ns),
        [round(e, 4) for e in u_effs],
    )


def _fault(q, barrier, mb):
    """Per-process fault-path probe: allocate + first-touch ``mb`` MiB of
    fresh anonymous memory.  This VM's fault path serializes under
    concurrency (measured: identical 32-way work costs 6x the system
    time of 1-way — BENCH/BASELINE.md), so any job that faults fresh
    pages in its workers is capped below the ALU/bandwidth ceiling."""
    import numpy as np

    barrier.wait()
    t0 = time.perf_counter()
    a = np.empty(mb << 20, dtype=np.uint8)
    a[::4096] = 1
    q.put(mb / (time.perf_counter() - t0))


def fault_ceiling(n: int, n4: int, mb: int = 256, probe_reps: int = 3) -> tuple[float, list[float]]:
    """Scaling efficiency of concurrent fresh-page faulting alone
    (aggregate MiB/s at 4N vs N, normalized).  Reported next to the
    kernel-CPU ceiling: the job's achievable efficiency lies between
    them depending on how much fresh memory its processes touch.
    Interleaved repetitions + best-leg aggregation, like
    :func:`cpu_ceiling` (storm bursts only subtract from a leg's rate)."""

    def agg(nproc: int) -> float:
        q = mp.Queue()
        barrier = mp.Barrier(nproc)
        ps = [mp.Process(target=_fault, args=(q, barrier, mb)) for _ in range(nproc)]
        for p in ps:
            p.start()
        rates = [q.get() for _ in range(nproc)]
        for p in ps:
            p.join()
        return sum(rates)

    a_ns, a_4ns, effs = [], [], []
    for _ in range(probe_reps):
        a_n, a_4n = agg(n), agg(n4)
        a_ns.append(a_n)
        a_4ns.append(a_4n)
        effs.append((a_4n / a_n) / (n4 / n))
    return (max(a_4ns) / max(a_ns)) / (n4 / n), [round(e, 4) for e in effs]


def _tree_cpu() -> tuple[float, float]:
    """(user, system) core-seconds of this process plus all LIVE
    descendants (the local-mode JVM and its reused Python workers), read
    from /proc.  Diffing two samples around a Spark job gives the job's
    user/system CPU split: user time is storm-insensitive (fault service
    is system time; descheduling ticks neither), so a user-CPU-based
    stage efficiency survives windows that poison the wall numbers.
    Requires spark.python.worker.reuse=true — dead children's time folds
    into the parent only after wait(), which reuse avoids mid-session."""
    import glob as _glob

    hz = os.sysconf("SC_CLK_TCK")
    ppid: dict[int, int] = {}
    times: dict[int, tuple[int, int]] = {}
    for st in _glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                rest = f.read().rsplit(")", 1)[1].split()
            pid = int(st.split("/")[2])
            ppid[pid] = int(rest[1])
            times[pid] = (int(rest[11]), int(rest[12]))
        except (OSError, ValueError, IndexError):
            continue
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, pp in ppid.items():
            if pp in mine and pid not in mine:
                mine.add(pid)
                grew = True
    u = sum(times[p][0] for p in mine if p in times)
    s = sum(times[p][1] for p in mine if p in times)
    return u / hz, s / hz


def _session(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"sparc-scale-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # NOT the default in this Spark build (verified by worker PID
        # sampling: without it every job forks 32 fresh workers through
        # the single-threaded daemon, ~8 ms each, serialized)
        .config("spark.python.worker.reuse", "true")
        # v2 committer (see bench.build_spark): O(1) job commit
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .getOrCreate()
    )


def measure(cpus: int, n_stripes: int, n_rows: int, staged_path: str,
            raw_bytes: list) -> tuple[float, float, float, float, float, float]:
    """(best full-job wall, best stage-only wall, best no-op floor wall)
    at local[cpus].  The floor runs the identical scan → Arrow → Python
    pipeline with the encode kernel replaced by a byte count: it is the
    fixed plumbing cost at this parallelism, so (stage - floor) isolates
    the engine's own scaling from Spark's per-job overhead."""
    import pyarrow as _pa
    from pyspark.sql import functions as F

    import bench as bench_mod
    from sparc.job import encode_job, partition as part_mod

    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pages_path = os.path.join(CACHE, f"pages_{n_rows}_rg2m.parquet")
    bench_mod.gen_pages_parquet(spark, n_rows, pages_path)
    if not raw_bytes:
        raw_bytes.append(bench_mod.raw_bytes_of(spark, pages_path))
    df = spark.read.parquet(pages_path)

    # stage once (untimed): stripe assignment + shuffle, persisted
    if not os.path.exists(staged_path):
        staged = part_mod.with_hash_stripes(df, "url", n_stripes)
        staged.repartition(n_stripes, F.col(part_mod.STRIPE_COL)).write.mode(
            "overwrite"
        ).parquet(staged_path)

    def floor_fn(batches):
        # same per-task runtime tuning as the real encode closures (the
        # zipimport/gc fixed-cost patches live there): without it the
        # floor pays per-task protocol taxes the engine path doesn't,
        # overstating the plumbing share
        from sparc import runtime as _rt

        _rt.init_worker()
        total = 0
        for b in batches:
            total += b.num_rows
        yield _pa.RecordBatch.from_arrays(
            [_pa.array([total], _pa.int64())], names=["n"]
        )

    job_walls, stage_walls, floor_walls = [], [], []
    pys_walls, hash_floor_walls = [], []
    stage_users, stage_syss = [], []
    stage_dir = os.path.join(CACHE, f"scale_stage_{cpus}")
    fn = encode_job._encode_partition_factory(stage_dir, "zstd", None, "scale")
    for r in range(RUNS + 1):  # first run warms workers, untimed
        # full job, hash path (one full shuffle — local-mode shuffle
        # anti-scales beyond ~8 threads, reported for honesty)
        out_dir = os.path.join(CACHE, f"scale_job_{cpus}_{r}")
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        encode_job.run_encode(
            df, out_dir, n_stripes=n_stripes,
            fingerprint="scale", resume=False,
        )
        w_job = time.perf_counter() - t0
        shutil.rmtree(out_dir, ignore_errors=True)
        # hash-shaped no-op: IDENTICAL scan -> stripe assignment ->
        # repartition shuffle -> Python pipe, with the encode kernel
        # replaced by a row count.  (hash job - this) isolates the encode
        # from the shuffle, so the record can say WHICH of the two
        # anti-scales in local mode (verdict r4 item #5)
        t0 = time.perf_counter()
        part_mod.with_hash_stripes(df, "url", n_stripes).repartition(
            n_stripes, F.col(part_mod.STRIPE_COL)
        ).mapInArrow(floor_fn, schema="n long").select(F.sum("n")).collect()
        w_hash_floor = time.perf_counter() - t0
        # pyscan (direct-scan) path, the headline: workers pyarrow-read
        # scan units, the JVM only schedules — the shape a cluster run
        # uses, and the one the north rule's efficiency target is about
        pys_dir = os.path.join(CACHE, f"scale_pys_{cpus}_{r}")
        shutil.rmtree(pys_dir, ignore_errors=True)
        t0 = time.perf_counter()
        encode_job.run_encode_paths(
            spark, pages_path, pys_dir,
            target_rows_per_stripe=max(n_rows // n_stripes, 1),
            fingerprint="scale-py", resume=False,
        )
        w_pys = time.perf_counter() - t0
        shutil.rmtree(pys_dir, ignore_errors=True)
        # encode stage only: pre-staged input, no shuffle; stripe files
        # and each task's manifest file go to a scratch dir
        pre = spark.read.parquet(staged_path)
        cpu0 = _tree_cpu()
        t0 = time.perf_counter()
        pre.mapInArrow(fn, schema=encode_job.STREAMS_SCHEMA).select(
            F.sum(F.octet_length("data"))
        ).collect()
        w_stage = time.perf_counter() - t0
        cpu1 = _tree_cpu()
        stage_u, stage_s = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
        shutil.rmtree(stage_dir, ignore_errors=True)
        # no-op floor: identical scan + Arrow transfer + Python round
        # trip, kernel replaced by a count
        t0 = time.perf_counter()
        pre.mapInArrow(floor_fn, schema="n long").select(F.sum("n")).collect()
        w_floor = time.perf_counter() - t0
        if r > 0:
            job_walls.append(w_job)
            pys_walls.append(w_pys)
            stage_walls.append(w_stage)
            floor_walls.append(w_floor)
            hash_floor_walls.append(w_hash_floor)
            stage_users.append(stage_u)
            stage_syss.append(stage_s)
    spark.stop()
    # stage user/sys from the min-WALL rep: stage_efficiency is built
    # from the min walls, so the CPU split must come from the same reps
    # (a storm-hit rep's inflated user time paired with another rep's
    # clean wall would mix provenances)
    k = min(range(len(stage_walls)), key=lambda i: stage_walls[i])
    return (min(job_walls), min(pys_walls),
            min(stage_walls), min(floor_walls), min(hash_floor_walls),
            stage_users[k], stage_syss[k])


def main() -> None:
    args = [int(a) for a in sys.argv[1:]]
    if args:
        pairs = [(args[i], args[i + 1], args[i + 2]) for i in range(0, len(args), 3)]
    else:
        pairs = [(2, 8, 300_000), (8, 32, 3_000_000)]
    # a sub-30 s job at 32 cores is mostly fixed overhead (session, task
    # launch, codegen) — the round-4 900k record measured the no-op floor
    # at 2/3 of the 32-lane stage wall, so efficiency there was a
    # task-launcher property, not an engine property.  3M rows (~10 GiB)
    # drops the floor to ~1/5 of the wall for the 8->32 pair
    os.makedirs("BENCH", exist_ok=True)
    results = []
    for n, n4, n_rows in pairs:
        import bench as bench_mod

        canary = [bench_mod.host_canary_seconds()]
        ceiling, ceiling_reps, u_ceiling, u_ceiling_reps = cpu_ceiling(n, n4)
        f_ceiling, f_ceiling_reps = fault_ceiling(n, n4)
        n_stripes = max(n4 * 4, 32)
        staged_path = os.path.join(CACHE, f"staged_{n_rows}_{n_stripes}.parquet")
        raw_bytes: list = []
        (j_n, jp_n, s_n, f_n, hf_n,
         su_n, ss_n) = measure(n, n_stripes, n_rows, staged_path, raw_bytes)
        canary.append(bench_mod.host_canary_seconds())
        (j_4n, jp_4n, s_4n, f_4n, hf_4n,
         su_4n, ss_4n) = measure(n4, n_stripes, n_rows, staged_path, raw_bytes)
        canary.append(bench_mod.host_canary_seconds())
        raw = raw_bytes[0]
        speedup = n4 / n
        rec = {
            "pair": f"local[{n}] -> local[{n4}]",
            # first-touch-fault canary before the ceiling probe, between
            # the N and 4N measurements, and after: a storm hitting one
            # side but not the other invalidates the efficiency number,
            # and the record should carry that context itself
            "host_canary_s": canary,
            "n_rows": n_rows,
            "raw_bytes": raw,
            "n_stripes": n_stripes,
            "job_wall_n": round(j_n, 2),
            "job_wall_4n": round(j_4n, 2),
            "job_gbps_n": round(raw / j_n / 1e9, 4),
            "job_gbps_4n": round(raw / j_4n / 1e9, 4),
            "job_efficiency": round((j_n / j_4n) / speedup, 4),
            # hash decomposition: the same scan+assign+shuffle+pipe with
            # the encode kernel replaced by a count.  shuffle_efficiency
            # says whether the SHUFFLE anti-scales; encode-net is the
            # hash job's kernel share scaling on its own
            "hash_noop_wall_n": round(hf_n, 2),
            "hash_noop_wall_4n": round(hf_4n, 2),
            "hash_shuffle_efficiency": round((hf_n / hf_4n) / speedup, 4),
            # null when a storm makes the no-op wall exceed the full-job
            # wall on either leg (they're separate runs): the subtraction
            # is then meaningless and a clamped divisor fabricates huge
            # ratios (scaling_r5_window2's 8->32 leg measured 2.5e9)
            "hash_encode_net_efficiency": (
                round((j_n - hf_n) / (j_4n - hf_4n) / speedup, 4)
                if j_n > hf_n and j_4n > hf_4n else None
            ),
            # headline (pyscan) as a full job — the configuration the
            # efficiency target is about
            "job_pyscan_wall_n": round(jp_n, 2),
            "job_pyscan_wall_4n": round(jp_4n, 2),
            "job_pyscan_gbps_n": round(raw / jp_n / 1e9, 4),
            "job_pyscan_gbps_4n": round(raw / jp_4n / 1e9, 4),
            "job_pyscan_efficiency": round((jp_n / jp_4n) / speedup, 4),
            "job_pyscan_efficiency_vs_ceiling": round(
                (jp_n / jp_4n) / speedup / max(ceiling, 1e-9), 4
            ),
            "stage_wall_n": round(s_n, 2),
            "stage_wall_4n": round(s_4n, 2),
            "stage_gbps_n": round(raw / s_n / 1e9, 4),
            "stage_gbps_4n": round(raw / s_4n / 1e9, 4),
            "stage_efficiency": round((s_n / s_4n) / speedup, 4),
            # identical pipeline with the kernel replaced by a count: the
            # fixed scan/transfer/schedule cost at each parallelism
            "floor_wall_n": round(f_n, 2),
            "floor_wall_4n": round(f_4n, 2),
            # engine-only scaling: plumbing floor subtracted on both
            # sides; null if a storm inverts stage vs floor on either leg
            # (separate runs — a clamped divisor would fabricate ratios)
            "net_efficiency": (
                round((s_n - f_n) / (s_4n - f_4n) / speedup, 4)
                if s_n > f_n and s_4n > f_4n else None
            ),
            "hardware_ceiling_efficiency": round(ceiling, 4),
            "hardware_ceiling_reps": ceiling_reps,
            "hardware_ceiling_spread": round(max(ceiling_reps) - min(ceiling_reps), 4),
            # user-CPU ceiling: storm-insensitive contention measure (see
            # cpu_ceiling docstring) — the reproducible denominator for
            # the vs-ceiling claim; the wall ceiling above stays as
            # evidence (its spread IS the storm record)
            "hardware_ceiling_user_efficiency": round(u_ceiling, 4),
            # semantics tag: best-per-leg user/encode ratio + min-wall-rep
            # stage CPU split.  Records WITHOUT this tag computed the
            # user ceiling as a median of per-rep ratios (storm-inflatable
            # - scaling_r5_manual_2231's 8->32 leg recorded 0.377 from two
            # stormed reps) and must not feed the u/u agreement claim.
            "user_ceiling_semantics": "best_per_leg_v2",
            "hardware_ceiling_user_reps": u_ceiling_reps,
            "hardware_ceiling_user_spread": round(
                max(u_ceiling_reps) - min(u_ceiling_reps), 4
            ),
            "fault_path_ceiling_efficiency": round(f_ceiling, 4),
            "fault_path_ceiling_reps": f_ceiling_reps,
            "stage_efficiency_vs_ceiling": round((s_n / s_4n) / speedup / ceiling, 4),
            "stage_efficiency_vs_user_ceiling": round(
                (s_n / s_4n) / speedup / u_ceiling, 4
            ),
            # stage legs' process-tree CPU split (min-wall rep):
            # user core-s is storm-insensitive, so stage_user_efficiency
            # = u_N/u_4N is the engine's contention-limited scaling, and
            # (stage_efficiency / stage_user_efficiency) quantifies how
            # much of the wall shortfall is fault/system/idle, not engine
            "stage_user_core_s_n": round(su_n, 2),
            "stage_sys_core_s_n": round(ss_n, 2),
            "stage_user_core_s_4n": round(su_4n, 2),
            "stage_sys_core_s_4n": round(ss_4n, 2),
            "stage_user_efficiency": (
                round(su_n / su_4n, 4) if su_n > 0 and su_4n > 0 else None
            ),
        }
        results.append(rec)
        print(json.dumps(rec))
    out_path = os.environ.get("SPARC_SCALING_OUT", "BENCH/scaling.json")
    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)


def summarize() -> None:
    """Cross-record agreement over the round's clean scaling captures
    (BENCH/scaling_r5_window*.json): per 8->32 record, the efficiency
    numbers that gate the north-rule claim, plus whether the last three
    consecutive records agree within +-0.05 on stage_efficiency_vs_ceiling
    (round-4 verdict item #4's reproducibility bar)."""
    import glob

    fields = [
        "job_pyscan_efficiency", "stage_efficiency",
        "hardware_ceiling_efficiency", "hardware_ceiling_spread",
        "hardware_ceiling_user_efficiency", "hardware_ceiling_user_spread",
        "stage_efficiency_vs_ceiling", "stage_efficiency_vs_user_ceiling",
        "stage_user_efficiency", "job_pyscan_efficiency_vs_ceiling",
        "hash_shuffle_efficiency", "hash_encode_net_efficiency",
    ]
    # subtraction-based net efficiencies from records that predate the
    # storm-inversion null guard can carry fabricated huge ratios
    # (scaling_r5_window2: 2.5e9 from a clamped divisor); apply the same
    # guard on read so the summary never surfaces them as numbers
    _net = {"hash_encode_net_efficiency", "net_efficiency"}
    # vs-ceiling ratios: an engine cannot out-scale its own hardware
    # ceiling by >20% - beyond that the ceiling leg was storm-degraded
    # (scaling_r5_manual_2231: 1.81 from a median user ceiling whose reps
    # read [0.97, 0.38, 0.34] around a 13.3 s storm canary)
    _vs_ceiling = {"stage_efficiency_vs_ceiling",
                   "stage_efficiency_vs_user_ceiling",
                   "job_pyscan_efficiency_vs_ceiling"}

    def _san(field: str, v):
        if field in _net and isinstance(v, (int, float)) and not (0 < v < 10):
            return None
        if field in _vs_ceiling and isinstance(v, (int, float)) and not (
                0 < v <= 1.2):
            return None
        return v

    # Clean-window captures gate the WALL-based claims.  Storm-window
    # captures (scaling_r5_storm_*/manual_*) additionally feed the
    # USER-ceiling agreement: user CPU per encode is storm-insensitive by
    # construction (fault service is system time, descheduling ticks
    # neither), so a record whose walls are storm-degraded still carries
    # a valid u_N/u_4N ratio — that insensitivity is exactly the claim
    # the 3-record agreement is meant to bank.
    paths = [
        (p, True) for p in glob.glob("BENCH/scaling_r5_window*.json")
    ] + [
        (p, False)
        for pat in ("BENCH/scaling_r5_storm_*.json", "BENCH/scaling_r5_manual_*.json")
        for p in glob.glob(pat)
    ]
    paths.sort(key=lambda pc: os.path.getmtime(pc[0]))  # chronological
    rows = []
    for p, clean in paths:
        for rec in json.load(open(p)):
            if rec.get("pair", "").endswith("local[32]"):
                # cleanliness is judged on THIS pair's own embedded
                # canaries, not the file's promote status: the watcher
                # demotes a capture when ANY pair stormed, but the 8->32
                # pair it gates on carries its own three canaries
                # (scaling_r5_storm_2246: 2->8 mid canary 8.8, 8->32
                # canaries [0.6, 0.6, 0.5] - a clean pair in a demoted
                # file)
                cs = rec.get("host_canary_s") or []
                pair_clean = bool(cs) and max(cs) < 8.0
                rows.append((p.split("/")[-1], rec, clean or pair_clean))
    out: dict = {"records": []}
    for name, rec, clean in rows:
        row = {"file": name, "clean_window": clean,
               "canary": rec["host_canary_s"],
               **{f: _san(f, rec.get(f)) for f in fields}}
        # derived: the FULLY storm-insensitive scaling ratio — engine
        # user-CPU scaling over the kernel's user-CPU ceiling.  The
        # stored stage_efficiency_vs_user_ceiling has a wall numerator,
        # so it still moves with storms; u/u is the number that can
        # agree across storm-varied records.
        su, uc = rec.get("stage_user_efficiency"), rec.get(
            "hardware_ceiling_user_efficiency")
        ratio = (
            round(su / uc, 4)
            if isinstance(su, (int, float)) and isinstance(uc, (int, float))
            and uc > 0
            # only records with best-per-leg user-ceiling semantics: the
            # older median-of-ratios ceiling is storm-inflatable and its
            # u/u ratio can exceed 1 by construction artifact
            and rec.get("user_ceiling_semantics") == "best_per_leg_v2"
            else None
        )
        # sanity: an engine cannot out-scale its own hardware ceiling by
        # >20% - beyond that the ceiling leg was storm-degraded
        if ratio is not None and not (0 < ratio <= 1.2):
            ratio = None
        row["stage_user_eff_vs_user_ceiling"] = ratio
        rec["stage_user_eff_vs_user_ceiling"] = row[
            "stage_user_eff_vs_user_ceiling"]
        out["records"].append(row)
    # All agreement claims gate on clean pairs.  User-CPU metrics resist
    # storms (no fault-service or deschedule time) but are not immune:
    # stall inflation ticks user time, and a 61 s mid-pair storm moved
    # u/u from 0.96 (clean pair) to 0.84 (scaling_r5_storm_2317) while
    # walls collapsed to 0.47 — graceful degradation, still degradation.
    # Storm-pair records stay listed as exactly that evidence.
    for key, label, want_clean in [
        ("stage_user_eff_vs_user_ceiling",
         "last3_stage_user_eff_vs_user_ceiling", True),
        ("stage_efficiency_vs_user_ceiling",
         "last3_stage_eff_vs_user_ceiling", True),
        ("stage_efficiency_vs_ceiling", "last3_stage_eff_vs_ceiling", True),
    ]:
        vals = [
            _san(key, r[key]) for _, r, clean in rows
            if isinstance(r.get(key), (int, float)) and (clean or not want_clean)
        ]
        vals = [v for v in vals if v is not None]
        if len(vals) >= 3:
            last3 = vals[-3:]
            out[label] = last3
            out[label + "_agree_0p05"] = max(last3) - min(last3) <= 0.05
        else:
            out[label + "_agree_0p05"] = None
        out[label + "_n_records"] = len(vals)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    if "--summarize" in sys.argv:
        summarize()
    else:
        main()
