"""Spark session lifecycle, process-tree CPU accounting and job counters.

Everything the benchmark starts lives under one work directory inside the
checkout, and :meth:`Session.stop` waits for the JVM and every Python
worker it forked to exit.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import time
from collections.abc import Iterator

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- process tree -----------------------------------------------------------


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:  # exited between listing and reading
        return None
    # the command name (field 2) may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _proc_stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_user_cpu_s() -> float:
    """User CPU seconds of this process and all live descendants, plus the
    user CPU of descendants that already exited and were reaped (cutime).

    The JVM and its pyspark workers are descendants of the benchmark
    process, so a before/after difference around an operation is the
    operation's whole-tree user CPU.  Resolution is one clock tick."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        st = _proc_stat(pid)
        if st is not None:
            # after the ')' split: utime is field 14 -> index 11, cutime 13
            total += int(st[11]) + int(st[13])
    return total / _CLK_TCK


def reap_descendants(timeout_s: float = 20.0) -> None:
    """Wait for every descendant to exit; SIGKILL whatever outlives the
    timeout so no process survives the run."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not descendants(os.getpid()):
            return
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5.0
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.05)


# --- Spark ------------------------------------------------------------------


def _warm_worker(batches: Iterator):
    """Identity mapInArrow body that also loads the engine in the worker."""
    import sparc.engine.stripe  # noqa: F401
    from sparc import runtime

    runtime.init_worker()
    yield from batches


def _identity(batches: Iterator):
    yield from batches


class Session:
    """A local Spark session whose files stay under ``work_dir``."""

    def __init__(self, work_dir: str, lanes: int, root: str):
        from pyspark.sql import SparkSession

        self.lanes = lanes
        local = os.path.join(work_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        # python workers import sparc (and perfbench, for map functions)
        # from the checkout root
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
        self.spark = (
            SparkSession.builder.master(f"local[{lanes}]")
            .appName("sparc-perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "2g")
            .config("spark.python.worker.reuse", "true")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
            # C1-only JIT: in a fresh JVM, C2 compilation competes with the
            # Python workers for the cores and drifts job latency down by
            # ~40% over the first ~25 jobs; with C1 alone the second job is
            # already at steady state
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={local} -XX:TieredStopAtLevel=1",
            )
            .config(
                "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
            )
            .getOrCreate()
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self._group = 0
        # start every Python worker and load the engine there once, so the
        # first measured or set-up job does not pay worker start-up
        self.identity_job(_warm_worker)

    def identity_job(self, fn=_identity) -> float:
        """Wall seconds of an identity mapInArrow over ``lanes`` tasks: the
        fixed cost of one single-stage Python job (the no-op floor)."""
        df = self.spark.createDataFrame([(i,) for i in range(self.lanes)], "i long")
        t0 = time.perf_counter()
        df.mapInArrow(fn, "i long").write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def noop_floor_s(self, reps: int = 3) -> float:
        return statistics.median(self.identity_job() for _ in range(reps))

    def new_group(self) -> str:
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def group_stats(self, gid: str) -> dict:
        """Job, task and failed-task counts of one job group, plus task
        skew (max / median task duration) from Spark's status store."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        tasks = failed = 0
        durations: list[int] = []
        store = self.sc._jsc.sc().statusStore()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                tasks += st.numTasks
                failed += st.numFailedTasks
                seq = store.taskList(sid, st.currentAttemptId, 1 << 20)
                for k in range(seq.size()):
                    d = seq.apply(k).duration()
                    if d.isDefined():
                        durations.append(int(d.get()))
        skew = (
            max(durations) / statistics.median(durations)
            if durations and statistics.median(durations) > 0
            else 1.0
        )
        return {"jobs": len(jobs), "tasks": tasks, "failed": failed, "skew": skew}

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        reap_descendants()
