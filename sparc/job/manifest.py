"""The footer manifest: one parquet file of FOOTER rows per encode task.

A streams dir holds ``stripes/<sid>.sparc`` files and, beside them, the
manifest files ``part-<key>-sparc.parquet`` (schema :data:`PA_SCHEMA`,
one row per stripe).  Each task commits its own file the way stripe files
commit and the way ORC's ``WriterImpl`` writes its own file tail: write a
temp file, then ``os.replace`` it to the final name.  Spark only
schedules the tasks; no Spark writer or output committer runs.

- ``<key>`` is the task's smallest stripe id, zero-padded.  Stripe ids
  come from the plan, not from the task attempt, so a retried or
  speculative attempt renames the same name over the same stripes.  A
  committed stripe is left out of every resume, so no later task can
  take an existing file's key.
- The temp name starts with ``.`` and does not end in ``.parquet``, and
  it carries the pid and a random suffix: no listing (Spark's or
  :func:`paths`) picks it up, and two attempts never share one.
- The rename is atomic, so a task's footers land together or not at all.
"""

from __future__ import annotations

import os
import secrets
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa

PA_SCHEMA = pa.schema(
    [
        ("stripe_id", pa.int64()),
        ("column", pa.string()),
        ("kind", pa.string()),
        ("data", pa.large_binary()),
    ]
)


def paths(streams_dir: str) -> list[str]:
    """Sorted manifest file paths of a streams dir; [] when the dir does
    not exist.  The one listing decode, resume and ``sparc.tools`` use: a
    manifest file ends in ``.parquet`` and is neither hidden (``.``) nor
    Spark metadata (``_``), so temp files never count."""
    try:
        names = os.listdir(streams_dir)
    except (FileNotFoundError, NotADirectoryError):
        return []
    return sorted(
        os.path.join(streams_dir, n)
        for n in names
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


def commit(footers: list[pa.RecordBatch], out_dir: str) -> None:
    """Commit one task's FOOTER batches as its manifest file; a task with
    no footers writes nothing."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if not footers:
        return
    table = pa.Table.from_batches(footers, schema=PA_SCHEMA)
    name = f"part-{pc.min(table['stripe_id']).as_py():019d}-sparc"
    tmp = os.path.join(out_dir, f".{name}.tmp-{os.getpid()}-{secrets.token_hex(6)}")
    pq.write_table(table, tmp, compression="none", store_schema=False)
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def committing(
    footers_fn: Callable[[Iterator[pa.RecordBatch]], Iterable[pa.RecordBatch]],
    out_dir: str,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """The mapInArrow body that runs ``footers_fn`` over the task's input
    and commits the FOOTER batches it yields; it yields nothing."""

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        commit(list(footers_fn(batches)), out_dir)
        return iter(())

    return task


def run(tasks, out_dir: str) -> None:
    """Run a DataFrame whose tasks commit their own manifest files (see
    :func:`committing`) into ``out_dir``: the ``noop`` sink only
    schedules them."""
    os.makedirs(out_dir, exist_ok=True)
    tasks.write.format("noop").mode("overwrite").save()
