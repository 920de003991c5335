"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload encode-pages --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics of an untraced run; ``--trace 1`` prints the per-layer metrics of
a traced run and writes its spans to ``.perfbench_out/``.  The last line
of standard output is the result object; progress goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import session as session_mod  # noqa: E402
from perfbench.inputs import PAGES_COLUMNS  # noqa: E402
from sparc import runtime  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import SCALES, WORKLOADS, no_span  # noqa: E402

SETUP_ROUNDS = 3  # set-up is repeated and its median reported
MIN_OPS = 1  # measured operations per block, whatever --seconds says
DEADLINE_S = 170  # the whole run, set-up and teardown included

# name -> unit.  The same names, in the same order, are in BENCHMARK.json.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p75_ms": "ms",
    "op_user_cpu_ms": "ms",
    "bytes_per_row": "B/row",
}

# traced spans reported as <span>_s (self time) and <span>_calls
SPANS = [
    "io.parquet_read",
    "io.stripe_read",
    "engine.stripe.encode_stripe",
    "engine.stripe.decode_stripe",
    "engine.stripe.pick_row_groups",
    "engine.stats.build",
    "engine.bloom.build",
    "engine.bloom.probe",
    "engine.sarg.evaluate",
    "engine.orcfile.write_orc",
    "engine.orcread.read_orc",
    "engine.orcread.read_orc_filtered",
    "kernels.block.compress",
    "kernels.block.decompress",
    "kernels.dictionary.encode",
    "kernels.rlev2.encode",
    "kernels.rlev2.decode",
    "kernels.bitpack.pack",
    "kernels.bitpack.unpack",
    "kernels.byterle.encode",
    "kernels.byterle.decode",
    "kernels.bitfield.encode",
    "kernels.bitfield.decode",
]

PER_LAYER = {
    "runtime.init_s": "s",
    "job.noop_floor_s": "s",
    "job.encode_job.wall_s": "s",
    "job.encode_job.units": "count",
    "job.encode_job.stripes": "count",
    "job.encode_job.spark_jobs": "count",
    "job.encode_job.tasks": "count",
    "job.encode_job.tasks_failed": "count",
    "job.encode_job.task_skew": "ratio",
    "job.encode_job.residual_s": "s",
    "job.decode_job.plan_s": "s",
    "job.decode_job.action_s": "s",
    "job.decode_job.tasks": "count",
    "job.decode_job.residual_s": "s",
    **{f"{span}_s": "s" for span in SPANS},
    **{f"{span}_calls": "count" for span in SPANS},
    **{f"engine.stripe.encode_column_s.{c}": "s" for c in PAGES_COLUMNS},
    **{f"engine.stripe.decode_column_s.{c}": "s" for c in PAGES_COLUMNS},
    "kernels.block.compress_bytes_in": "B",
    "kernels.block.compress_bytes_out": "B",
    "kernels.block.decompress_bytes_in": "B",
    "kernels.block.decompress_bytes_out": "B",
    "kernels.rlev2.values": "count",
    "engine.prune.stripes_kept_frac": "ratio",
    "engine.prune.rowgroups_kept_frac": "ratio",
    "engine.prune.refuted_by_stats": "count",
    "engine.prune.refuted_by_bloom": "count",
    "engine.prune.rowgroups_decoded_per_match": "ratio",
    "engine.orcread.rowgroups_kept_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.unexplained_frac": "ratio",
    "ref.orc_write_s": "s",
    "ref.orc_read_s": "s",
    "ref.size_vs_reference": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Ops:
    """Closed-loop operation runner with failure accounting."""

    def __init__(self, wl, spark_groups: bool = False):
        self.wl = wl
        self.spark_groups = spark_groups
        self.attempted = 0
        self.failed = 0
        self.next_i = 0

    def run(self) -> dict | None:
        """Run the next operation; its timings, or None if it raised or
        failed its check."""
        i = self.next_i
        self.next_i += 1
        self.attempted += 1
        gid = self.wl.session.new_group() if self.spark_groups else None
        cpu0 = session_mod.tree_user_cpu_s()
        t0 = time.perf_counter()
        try:
            call = self.wl.plan(i)
            t1 = time.perf_counter()
            result = call()
            t2 = time.perf_counter()
            cpu = session_mod.tree_user_cpu_s() - cpu0
            out = {"wall_s": t2 - t0, "plan_s": t1 - t0, "action_s": t2 - t1, "cpu_s": cpu}
            if gid is not None:
                # before the check, whose own jobs must not be counted
                out.update(self.wl.session.group_stats(gid))
            ok = self.wl.check(i, result)
        except Exception:
            log(f"operation {i} raised:\n{traceback.format_exc()}")
            ok = False
        if not ok:
            self.failed += 1
            log(f"operation {i} failed")
            return None
        return out

    def loop(self, seconds: float) -> list[dict]:
        """Operations until ``seconds`` of operation time and MIN_OPS
        successes have accumulated (or the time cap is hit)."""
        done: list[dict] = []
        spent = 0.0
        cap = time.perf_counter() + max(3 * seconds, seconds + 60)
        while (spent < seconds or len(done) < MIN_OPS) and time.perf_counter() < cap:
            t = time.perf_counter()
            r = self.run()
            spent += time.perf_counter() - t if r is None else r["wall_s"]
            if r is not None:
                done.append(r)
        if not done:
            raise RuntimeError("no operation succeeded")
        return done


def end_to_end(wl, ops: list[dict], setup_s: float) -> dict:
    lat = [o["wall_s"] for o in ops]
    p50 = statistics.median(lat)
    log(f"{wl.name}: {len(ops)} ops, {wl.input_bytes / 1e6 / p50:.1f} MB/s at the "
        f"median latency over {wl.input_bytes / 1e6:.1f} MB of input")
    return {
        "setup_s": setup_s,
        "op_p50_ms": p50 * 1e3,
        "op_p75_ms": statistics.quantiles(lat, n=4, method="inclusive")[2] * 1e3,
        "op_user_cpu_ms": statistics.median(o["cpu_s"] for o in ops) * 1e3,
        "bytes_per_row": wl.stored_bytes / wl.rows,
    }


def traced(
    wl, runner: Ops, seconds: float, init_s: float, work: Path, out_path: Path
) -> dict:
    m = {name: 0.0 for name in PER_LAYER}
    m["runtime.init_s"] = init_s
    lanes = wl.session.lanes if wl.session is not None else 1

    # Spark side: the same operations, each in its own job group
    ops = runner.loop(seconds / 2) if wl.uses_spark else []
    wall = statistics.median(o["wall_s"] for o in ops) if ops else 0.0
    plan = statistics.median(o["plan_s"] for o in ops) if ops else 0.0
    floor = wl.session.noop_floor_s() if wl.uses_spark else 0.0
    m["job.noop_floor_s"] = floor

    # engine side: replay without and with the wrappers, twice each
    bare, wrapped = [], []
    tracer = None
    for _ in range(2):
        t = time.perf_counter()
        wl.replay(no_span, defaultdict(int))
        bare.append(time.perf_counter() - t)
        tracer = Tracer()
        with tracer.installed():
            t = time.perf_counter()
            wl.replay(tracer.span, defaultdict(int))
            wrapped.append(time.perf_counter() - t)
    log(f"{wl.name}: replay bare {bare}, traced {wrapped}")
    replay_s = min(bare)
    detail = defaultdict(int)
    wl.replay(no_span, detail, detail=True)
    m["trace.overhead_frac"] = min(wrapped) / replay_s - 1

    st = tracer.self_times()
    for span in SPANS:
        m[f"{span}_s"], m[f"{span}_calls"] = st.get(span, (0.0, 0))
    for c in PAGES_COLUMNS:
        m[f"engine.stripe.encode_column_s.{c}"] = st.get(
            f"engine.stripe.encode_column.{c}", (0.0, 0))[0]
        m[f"engine.stripe.decode_column_s.{c}"] = st.get(
            f"engine.stripe.decode_column.{c}", (0.0, 0))[0]
    for k in ("compress", "decompress"):
        for d in ("in", "out"):
            m[f"kernels.block.{k}_bytes_{d}"] = tracer.counters[f"kernels.block.{k}.bytes_{d}"]
    m["kernels.rlev2.values"] = tracer.counters["kernels.rlev2.values"]

    name = wl.name
    per_op_replay = replay_s
    if name == "lookup-pages":
        per_op_replay = replay_s / len(wl.lookups)
        m["engine.prune.stripes_kept_frac"] = detail["stripes_kept"] / detail["stripes"]
        m["engine.prune.rowgroups_kept_frac"] = (
            detail["rowgroups_kept"] / detail["rowgroups"] if detail["rowgroups"] else 0.0
        )
        m["engine.prune.refuted_by_stats"] = detail["refuted_by_stats"]
        m["engine.prune.refuted_by_bloom"] = detail["refuted_by_bloom"]
        m["engine.prune.rowgroups_decoded_per_match"] = detail["rowgroups_kept"] / max(
            1, detail["matches"]
        )
    if name == "orc-lineitem":
        m["engine.orcread.rowgroups_kept_frac"] = detail["rowgroups_kept"] / detail["rowgroups"]
        # the operation is the engine calls themselves: the unexplained
        # share is the replay wall outside any named span
        m["trace.unexplained_frac"] = 1 - tracer.covered_s() / wrapped[-1]
    else:
        # job wall = plan + engine work spread over the lanes + the fixed
        # cost of a single-stage Python job (the no-op floor) + the rest
        residual = wall - per_op_replay / lanes
        m["trace.unexplained_frac"] = (residual - plan - floor) / wall
        if name == "encode-pages":
            m["job.encode_job.wall_s"] = wall
            m["job.encode_job.units"] = len(wl.units())
            m["job.encode_job.stripes"] = wl.last_stripes
            m["job.encode_job.spark_jobs"] = statistics.median(o["jobs"] for o in ops)
            m["job.encode_job.tasks"] = statistics.median(o["tasks"] for o in ops)
            m["job.encode_job.tasks_failed"] = sum(o["failed"] for o in ops)
            m["job.encode_job.task_skew"] = statistics.median(o["skew"] for o in ops)
            m["job.encode_job.residual_s"] = residual
        else:
            m["job.decode_job.plan_s"] = plan
            m["job.decode_job.action_s"] = statistics.median(o["action_s"] for o in ops)
            m["job.decode_job.tasks"] = statistics.median(o["tasks"] for o in ops)
            m["job.decode_job.residual_s"] = residual
    runner.attempted += detail["replay_checked"]
    runner.failed += detail["replay_failed"]

    ref = wl.reference(str(work))
    m["ref.orc_write_s"] = ref["write_s"]
    m["ref.orc_read_s"] = ref["read_s"]
    m["ref.size_vs_reference"] = wl.stored_bytes / ref["bytes"]

    tracer.dump(str(out_path))
    return m


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    return p.parse_args(argv)


def _timeout(_sig, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    wl_cls = WORKLOADS[args.workload]
    lanes = min(4, os.cpu_count() or 1)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # temporary files of this process and of the JVM it starts stay inside
    # the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    sess = wl = None
    try:
        t0 = time.perf_counter()
        # the engine's documented once-per-process allocator set-up: this
        # process runs engine code itself in the traced replays
        runtime.init()
        if wl_cls.uses_spark:
            sess = session_mod.Session(str(work), lanes, str(ROOT))
        wl = wl_cls(args.seed, SCALES[args.scale], sess, lanes)
        init_s = time.perf_counter() - t0
        runner = Ops(wl, spark_groups=bool(args.trace) and wl.uses_spark)
        n_rounds = 1 if args.trace else SETUP_ROUNDS
        rounds, ops = [], []
        for r in range(n_rounds):
            d = work / f"round{r}"
            d.mkdir()
            t = time.perf_counter()
            wl.prepare(str(d))
            rounds.append(time.perf_counter() - t)
            if r:
                shutil.rmtree(work / f"round{r - 1}")
            if r == 0:
                for _ in range(wl.warmup):
                    runner.run()
            if not args.trace:
                # a measured block after every set-up round: the host's
                # speed drifts over tens of seconds, and blocks spread
                # across the run sample more of it than one block at the end
                ops += runner.loop(args.seconds / n_rounds)
        log(f"{args.workload}: init {init_s:.2f}s, set-up rounds {rounds}")
        if args.trace:
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            metrics = traced(
                wl, runner, args.seconds, init_s, work,
                out_dir / f"trace-{args.workload}-seed{args.seed}.json",
            )
            units = PER_LAYER
        else:
            log(f"{args.workload}: op walls {[round(o['wall_s'], 3) for o in ops]}")
            metrics = end_to_end(wl, ops, init_s + statistics.median(rounds))
            units = END_TO_END
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if wl is not None:
            wl.close()
        if sess is not None:
            sess.stop()
        shutil.rmtree(work, ignore_errors=True)
        session_mod.reap_descendants()
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
