"""Process-level allocator tuning for the encode/decode hot paths.

This sandbox's VM shows memory-state-dependent anonymous-page-fault
latency (measured from ~0.6us up to ~650us per 4 KiB first-touch fault
under pressure), which can make every fresh large numpy temporary cost
seconds.  Two mitigations, both safe no-ops on healthy hosts:

1. ``mallopt``: raise M_MMAP_THRESHOLD and M_TRIM_THRESHOLD so glibc
   serves large numpy buffers from the (reusable) heap instead of
   mmap/munmap-per-allocation — once faulted, pages stay faulted.
2. ``init`` pre-faults a heap block with ``madvise(MADV_POPULATE_WRITE)``
   (one syscall, no per-fault VMM exits; measured fast in every memory
   state we hit), then frees it back to the glibc free list for numpy
   to reuse.

Call :func:`init` once per process (driver and each Python worker);
it is idempotent and cheap after the first call.  The encode/decode
``mapInArrow`` functions call it lazily.
"""

from __future__ import annotations

import ctypes
import os

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3
_MADV_POPULATE_WRITE = 23
_PAGE = 4096

_initialized_bytes = 0
_tuned = False  # mallopt and jemalloc decay set in this process


def _libc() -> ctypes.CDLL | None:
    try:
        return ctypes.CDLL("libc.so.6", use_errno=True)
    except OSError:  # non-glibc platform
        return None


_worker_tuned = False


def init_worker() -> None:
    """Per-task-slot tuning for Spark Python workers, on top of
    :func:`init`.  A pyspark worker owns exactly ONE core (local[N]
    runs N single-slot workers), but pyarrow's default thread pool is
    sized to the whole machine — so 32 workers spawn 32x32 threads and
    every ``pq.read_table`` / compute kernel pays oversubscription
    (measured on this host: 20.4 -> 17.4 aggregate core-s/GiB and
    1.8 s -> 1.15 s wall for the same 32-way parquet scan after
    pinning the pools to 1).  Idempotent; call at the top of every
    mapInArrow closure."""
    global _worker_tuned
    init()
    if _worker_tuned:
        return
    try:
        import pyarrow as _pa

        _pa.set_cpu_count(1)
        _pa.set_io_thread_count(2)  # overlap read-ahead with decode
    except Exception:
        pass
    # Two per-TASK fixed costs in the pyspark worker protocol, measured
    # ~0.2 user-core-s per task on this host (more than an entire
    # stripe's decode kernel time) with a worker-module cProfile:
    #
    # 1. worker_util.setup_spark_files calls importlib.invalidate_caches()
    #    on EVERY task; each zipimporter on sys.path responds by
    #    re-reading its whole ZIP central directory (pyspark.zip is
    #    ~8500 entries — zipimport._read_directory dominated the
    #    profile).  The Spark-install zips are immutable for the life of
    #    the process, so re-scanning them is pure waste; runtime-added
    #    py-files live under the spark files dir, NOT under SPARK_HOME,
    #    and keep full invalidation semantics.
    # 2. pyspark.daemon's reuse loop runs a full gc.collect() between
    #    tasks (~33 ms against the imported module heap).  gc.freeze()
    #    moves the import-time heap to the permanent generation so those
    #    collections only scan task-local garbage.
    #
    # Both apply from each worker's second task onward (init_worker runs
    # inside the first task, after its setup_spark_files already ran).
    # Both are process-global side effects; deployments with mutable zips
    # under SPARK_HOME (zipimport patch) or long-lived cyclic state created
    # mid-first-task (gc.freeze) can opt out per-knob via env.
    try:
        import gc
        import zipimport

        spark_home = (
            None
            if os.environ.get("SPARC_NO_ZIPIMPORT_PATCH")
            else os.environ.get("SPARK_HOME")
        )
        if spark_home and not hasattr(zipimport.zipimporter, "_sparc_inval"):
            orig = zipimport.zipimporter.invalidate_caches

            # real paths on both sides: SPARK_HOME is often a stable
            # symlink to a versioned install directory, while the worker
            # PYTHONPATH names the spark-core jar by its real path
            _home = os.path.realpath(spark_home).rstrip(os.sep) + os.sep

            def _inval(self, _orig=orig, _home=_home):
                archive = getattr(self, "archive", "")
                # prefix check on a separator boundary: /opt/spark-extra
                # must NOT match a /opt/spark home
                if (os.path.realpath(archive) + os.sep).startswith(_home):
                    return
                _orig(self)

            zipimport.zipimporter.invalidate_caches = _inval
            zipimport.zipimporter._sparc_inval = True
        if not os.environ.get("SPARC_NO_GC_FREEZE"):
            # Collect first so only the (acyclic, import-time) module heap
            # is frozen — any cyclic garbage alive mid-first-task is
            # reclaimed rather than permanently exempted.
            gc.collect()
            gc.freeze()
    except Exception:
        pass
    _worker_tuned = True


def init(warm_bytes: int | None = None) -> int:
    """Tune malloc and optionally pre-fault ``warm_bytes`` of heap
    (default 0 — measurements show first-touch cost is host-state
    dependent and proportional to pages actually used, so a blind warm
    only helps when the populate path is in a fast state; override with
    SPARC_WARM_HEAP_BYTES).  Returns the number of bytes warmed.
    Idempotent: repeated calls only grow the warm size.
    """
    global _initialized_bytes, _tuned
    if warm_bytes is None:
        warm_bytes = int(os.environ.get("SPARC_WARM_HEAP_BYTES", 0))
    if _tuned and warm_bytes <= _initialized_bytes:
        return _initialized_bytes
    libc = _libc()
    if libc is None:
        return 0
    if not _tuned:
        _tuned = True
        libc.mallopt(_M_MMAP_THRESHOLD, 1 << 30)
        libc.mallopt(_M_TRIM_THRESHOLD, 1 << 30)
        # The thresholds cover glibc's heap, which numpy allocates from.
        # Arrow buffers come from pyarrow's default pool (jemalloc), whose
        # arenas return freed pages to the OS on a decay timer; a decay
        # of -1 stops that purge, though the arenas still take fresh
        # pages for each new large buffer.
        try:
            import pyarrow as _pa

            _pa.jemalloc_set_decay_ms(-1)
        except Exception:
            pass
    if warm_bytes <= _initialized_bytes:
        return _initialized_bytes

    import time

    import numpy as np

    def _populate(nbytes: int) -> float:
        """Allocate + pre-fault nbytes; returns wall seconds spent."""
        t0 = time.perf_counter()
        buf = np.empty(nbytes, dtype=np.uint8)
        addr = buf.ctypes.data
        start = (addr + _PAGE - 1) & ~(_PAGE - 1)
        length = (addr + nbytes - start) & ~(_PAGE - 1)
        populated = False
        if length > 0:
            r = libc.madvise(
                ctypes.c_void_p(start), ctypes.c_size_t(length), _MADV_POPULATE_WRITE
            )
            populated = r == 0
        if not populated:  # pre-5.14 kernel: plain first-touch
            buf[::_PAGE] = 0
        del buf  # back to the glibc free list (trim threshold keeps it)
        return time.perf_counter() - t0

    # Conditional warm: fault latency on this host swings ~1000x with
    # memory state.  Probe a small block first; if the projected cost of
    # the full warm exceeds the budget, skip it — a slow-state warm
    # burns (workers x seconds) of cold-start wall for a benefit that
    # only materializes in fast states anyway.
    probe = min(8 << 20, warm_bytes)
    spent = _populate(probe)
    budget_s = float(os.environ.get("SPARC_WARM_BUDGET_S", "0.25"))
    projected = spent * (warm_bytes / probe)
    if probe < warm_bytes and projected <= budget_s:
        _populate(warm_bytes)
    # mark done either way: re-probing on every call would itself be a tax
    _initialized_bytes = warm_bytes
    return _initialized_bytes
