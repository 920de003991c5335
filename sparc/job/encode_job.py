"""The distributed encode job: scan → stripe partition → mapInArrow → stripes.

Lifecycle (SURVEY.md §3.4):

    parquet/Iceberg scan (column-pruned by Catalyst)
      → stripe assignment (partition.py — xxhash64(key) % n, deterministic)
      → repartition(n, stripe_col)                 [the only shuffle]
      → mapInArrow(encode): per stripe — optional locality sort, stats,
        codec auto-selection, kernel encode → ``<out>/stripes/<sid>.sparc``
        (temp file + atomic rename) + one FOOTER row; then the task's
        FOOTER rows → ``<out>/part-<key>-sparc.parquet`` (temp file +
        atomic rename, :mod:`.manifest`)
      → ``noop`` sink: Spark only schedules the tasks

The path/manifest twin (:func:`run_encode_paths` / :func:`run_encode_units`,
"pyscan") skips the scan and the shuffle: workers read parquet row-group
units with pyarrow and cut stripes incrementally.

Resume: a stripe is complete iff its FOOTER row exists.  Re-running the
job anti-joins planned stripes against completed footers and encodes only
the remainder — per-partition lineage lives in the footer (input
fingerprint, stripe plan, row count, per-stream sizes + crc32
checksums).  A dir whose footers carry another fingerprint or stripe
plan is refused: its stripe ids name other rows.  A task renames its
stripe files before its manifest file, so a task killed in between
leaves stripe files no FOOTER row names and at most a hidden temp
manifest file, both invisible garbage; a retried task atomically
overwrites the stripe files with identical bytes.

Manifest (one parquet file per task that wrote a stripe, one row per
stripe):
    stripe_id:long, column:string, kind:string, data:binary
with column='', kind='FOOTER', data=UTF-8 JSON footer.  The footer names
the stripe file and each stream's (column, kind, offset, length) span in
it, so readers byte-range-fetch only the streams they need.  A file's
footers land together or not at all because ``os.replace`` is atomic;
its name is the task's smallest stripe id, fixed by the plan, so a
retried or speculative attempt writes the same name over the same
stripes.
"""

from __future__ import annotations

import functools
import json
import os
import zlib
from collections.abc import Iterable, Iterator
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import stripe as stripe_mod
from ..engine.stripe import ROW_INDEX_STRIDE
from . import manifest
from . import partition as part_mod

STREAMS_SCHEMA = "stripe_id long, column string, kind string, data binary"

# pyscan stripe ids: unit index * SPACE + local chunk index
INPUT_SPLIT_SPACE = 1 << 16

def write_stripe(
    table: pa.Table,
    sid: int,
    out_dir: str,
    *,
    codec: str = "zstd",
    sort_within: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    fsst: bool | None = None,
    row_index_stride: int | None = ROW_INDEX_STRIDE,
    fingerprint: str = "",
    stripe_plan: str = "",
) -> pa.RecordBatch:
    """Encode ``table`` as stripe ``sid`` into ``<out_dir>/stripes/<sid>.sparc``
    and return its one-row FOOTER manifest batch.

    The stream bytes go straight from the worker to the stripe file; only
    the footer — with the file path and per-stream (offset, length) spans —
    goes into the task's manifest file.  ``out_dir`` must be a
    filesystem every executor can reach (an object-store mount / fsspec
    path at cluster scale)."""
    if sort_within:
        table = table.sort_by([(c, "ascending") for c in sort_within])
    streams, footer = stripe_mod.encode_stripe(
        table, codec=codec, bloom_columns=bloom_columns, fsst=fsst,
        row_index_stride=row_index_stride,
    )
    footer["crc32"] = {f"{c}/{k}": zlib.crc32(v) for (c, k), v in streams.items()}
    footer["stripe_id"] = sid
    footer["input_fingerprint"] = fingerprint
    footer["stripe_plan"] = stripe_plan
    footer["sorted_by"] = sort_within or []
    rel = f"stripes/{sid}.sparc"
    path = os.path.join(out_dir, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    # span list (not a "col/kind" keyed dict): column names may
    # themselves contain the separator
    spans = []
    off = 0
    with open(tmp, "wb") as f:
        for (cname, kind), blob in streams.items():
            f.write(blob)
            spans.append([cname, kind, off, len(blob)])
            off += len(blob)
    os.replace(tmp, path)  # atomic: readers never see a partial file
    footer["stripe_file"] = rel
    footer["stream_spans"] = spans
    return pa.RecordBatch.from_arrays(
        [
            pa.array([sid], pa.int64()),
            pa.array([""], pa.string()),
            pa.array(["FOOTER"], pa.string()),
            pa.array([json.dumps(footer).encode()], pa.large_binary()),
        ],
        schema=manifest.PA_SCHEMA,
    )


def _cut_stripes(
    batches: Iterable[pa.RecordBatch], per: int, group: int
) -> Iterator[tuple[pa.Table, int]]:
    """Cut a batch stream into stripes of ``per`` rows, yielding
    ``(table, stripe_id)`` with ids ``group * INPUT_SPLIT_SPACE + local``.

    Incremental: a stripe is cut as soon as its rows have arrived, so the
    worker's resident set stays bounded at <= 2 stripe targets, not one
    whole scan unit (large per-worker footprints are first-touch-fault
    poison on fault-slow hosts, and at real scale a unit can exceed
    executor memory anyway).  Mid-stream cuts only
    at >= 2*per buffered rows: a group of ~per rows becomes ONE full
    stripe instead of a full stripe plus a runt (runts compress worse and
    add per-stripe overhead); the final stripe of a long group lands in
    [per, 2*per).  A group that would need more than INPUT_SPLIT_SPACE
    stripes raises instead of running into the next group's ids."""
    base = group * INPUT_SPLIT_SPACE
    local = 0
    buf: list[pa.RecordBatch] = []
    buffered = 0

    def sid() -> int:
        if local >= INPUT_SPLIT_SPACE:
            raise ValueError(
                f"stripe group {group} exceeds {INPUT_SPLIT_SPACE} stripes; "
                "raise target_rows_per_stripe or split the input"
            )
        return base + local

    for b in batches:
        buf.append(b)
        buffered += b.num_rows
        while buffered >= 2 * per:
            table = pa.Table.from_batches(buf)
            yield table.slice(0, per), sid()
            local += 1
            rest = table.slice(per)
            buf = rest.to_batches(max_chunksize=1 << 20) if rest.num_rows else []
            buffered = rest.num_rows
    if buffered:
        yield pa.Table.from_batches(buf), sid()


def _encode_partition_factory(
    out_dir: str,
    codec: str,
    sort_within: list[str] | None,
    fingerprint: str,
    bloom_columns: list[str] | None = None,
    fsst: bool | None = None,
    row_index_stride: int | None = ROW_INDEX_STRIDE,
    stripe_plan: str = "",
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """Build the mapInArrow function over a DataFrame's rows tagged with
    the stripe column (no per-row Python anywhere inside): each stripe
    goes through :func:`write_stripe` into ``out_dir``, and the task
    commits its footers as one manifest file (:mod:`.manifest`)."""
    write = functools.partial(
        write_stripe, out_dir=out_dir, codec=codec, sort_within=sort_within,
        bloom_columns=bloom_columns, fsst=fsst,
        row_index_stride=row_index_stride, fingerprint=fingerprint,
        stripe_plan=stripe_plan,
    )

    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .. import runtime

        runtime.init_worker()
        collected = list(batches)
        if not collected:
            return
        table = pa.Table.from_batches(collected)
        del collected
        stripe_ids = table[part_mod.STRIPE_COL]
        uniq = pa.compute.unique(stripe_ids).to_pylist()
        if len(uniq) == 1:
            # common case (partitions == stripes): no filter copy — the
            # partition IS the stripe (halves peak allocation, which the
            # host's fault pathology otherwise amplifies)
            yield write(table.drop_columns([part_mod.STRIPE_COL]), uniq[0])
            return
        for sid in uniq:
            sub = table.filter(pa.compute.equal(stripe_ids, sid))
            yield write(sub.drop_columns([part_mod.STRIPE_COL]), sid)

    return manifest.committing(encode_partition, out_dir)


def _footers(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The committed FOOTER rows of ``out_dir``, or None when it holds no
    manifest file (a listing decides that; no Spark call runs)."""
    if not manifest.paths(out_dir):
        return None
    df = spark.read.schema(STREAMS_SCHEMA).parquet(out_dir)
    return df.filter(F.col("kind") == "FOOTER")


def completed_stripes_df(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Stripe ids whose FOOTER row is committed, as a DataFrame (column
    name = the stripe column), or None when the output doesn't exist yet.

    The resume set stays plan-side: callers anti-join against it instead
    of collecting ids to the driver — at 10^7 stripes a collected
    ``isin`` literal is a multi-GB plan and a driver bottleneck, while
    the anti-join is just another (AQE-broadcastable) join."""
    footers = _footers(spark, out_dir)
    if footers is None:
        return None
    return footers.select(
        F.col("stripe_id").alias(part_mod.STRIPE_COL)
    ).distinct()


def completed_stripes(spark: SparkSession, out_dir: str) -> list[int]:
    """Stripe ids whose FOOTER row is committed (= resumable checkpoint).

    Driver-side list wrapper over :func:`completed_stripes_df` — for
    TESTS AND DIAGNOSTICS ONLY: no resume path collects ids to the driver
    anymore (at 10^7 stripes a frozenset of Python ints is ~1 GiB of
    driver heap)."""
    df = completed_stripes_df(spark, out_dir)
    if df is None:
        return []
    return [r[0] for r in df.collect()]


def completed_groups_df(
    spark: SparkSession, out_dir: str, group_col: str = "__sparc_done_group",
) -> DataFrame | None:
    """Distinct completed GROUPS (``stripe_id DIV INPUT_SPLIT_SPACE`` =
    the scan-unit index) — the plan-side resume key for pyscan's
    positional ids.

    Why group granularity is exact, not approximate: one scan unit is
    processed by exactly one task, and that task's manifest rows — every
    stripe FOOTER it produced — commit together in one manifest file,
    made visible by one atomic ``os.replace``.  So a group with ANY
    committed footer has ALL its footers committed, and a broadcast
    anti-join on the group id skips exactly the work that is done.  The
    done set never touches the driver: it flows from the footer scan into
    a broadcast exchange built executor-side."""
    df = completed_stripes_df(spark, out_dir)
    if df is None:
        return None
    return df.select(
        F.expr(f"{part_mod.STRIPE_COL} DIV {INPUT_SPLIT_SPACE}").alias(group_col)
    ).distinct()


def _resume_count(
    spark: SparkSession, out_dir: str, fingerprint: str, stripe_plan: str
) -> int:
    """Count the committed stripes a resumed run may skip, refusing a dir
    it cannot extend.

    Stripe ids are positions in a plan (hash bucket, or unit and chunk),
    so a footer committed under another input fingerprint or another
    stripe plan names other rows under the same id: skipping it drops
    rows or decodes them twice, and re-encoding it overwrites a stripe
    file that a committed footer still points at.  Such a dir raises
    ``ValueError`` naming it and both values.  Footers that carry no plan
    (written before plans were recorded) are refused the same way.

    The check rides in the one aggregate that counts the done set, so it
    adds no Spark job, and none runs when ``out_dir`` holds no manifest
    file."""
    footers = _footers(spark, out_dir)
    if footers is None:
        return 0
    data = F.col("data").cast("string")
    got_fp = F.coalesce(F.get_json_object(data, "$.input_fingerprint"), F.lit(""))
    got_plan = F.coalesce(F.get_json_object(data, "$.stripe_plan"), F.lit(""))
    row = footers.agg(
        F.count_distinct("stripe_id").alias("n"),
        F.max(F.when(got_fp != fingerprint, got_fp)).alias("fp"),
        F.max(F.when(got_plan != stripe_plan, got_plan)).alias("plan"),
    ).first()
    for what, got, want in (
        ("input fingerprint", row["fp"], fingerprint),
        ("stripe plan", row["plan"], stripe_plan),
    ):
        if got is not None:
            raise ValueError(
                f"cannot resume into {out_dir}: its committed footers carry "
                f"{what} {got or '(none)'!r}, this run has {want!r}; "
                "resume needs both to match, so encode into a fresh dir"
            )
    return row["n"]


def run_encode(
    df: DataFrame,
    out_dir: str,
    *,
    key: str = "url",
    n_stripes: int | None = None,
    target_rows_per_stripe: int = 100_000,
    codec: str = "zstd",
    sort_within: list[str] | None = None,
    resume: bool = True,
    fingerprint: str = "",
    n_partitions: int | None = None,
    bloom_columns: list[str] | None = None,
    fsst: bool | None = None,
    row_index_stride: int | None = ROW_INDEX_STRIDE,
) -> dict:
    """Run (or resume) the encode of a DataFrame.  Returns a summary dict.

    stripe = xxhash64(key) % n_stripes: content-addressed, one full
    shuffle.  ``n_stripes`` defaults to ``ceil(rows /
    target_rows_per_stripe)`` (one count job).  Parquet inputs that need
    no content addressing encode faster through :func:`run_encode_paths`,
    which keeps the JVM and the JVM→Python Arrow hop out of the data path.

    Workers write each stripe to its own file under ``out_dir`` and only
    footers enter the manifest (see :func:`write_stripe`).  With
    ``resume``, stripes whose footers are committed are skipped; a dir
    written with another ``fingerprint``, ``key`` or ``n_stripes`` raises
    ``ValueError``.
    """
    spark = df.sparkSession
    if n_stripes is None:
        total_rows = df.count()
        n_stripes = part_mod.pick_stripe_count(total_rows, 0,
                                               target_rows=target_rows_per_stripe)
    staged = part_mod.with_hash_stripes(df, key, n_stripes)
    stripe_plan = f"hash key={key} n_stripes={n_stripes}"

    skipped = 0
    if resume:
        skipped = _resume_count(spark, out_dir, fingerprint, stripe_plan)
        if skipped:
            # plan-side anti-join (matching the read path's semi-join
            # hygiene): no isin literal that scales with stripe count
            staged = staged.join(
                completed_stripes_df(spark, out_dir), part_mod.STRIPE_COL, "left_anti"
            )

    parts = n_partitions or n_stripes
    fn = _encode_partition_factory(
        out_dir, codec, sort_within, fingerprint, bloom_columns, fsst,
        row_index_stride=row_index_stride, stripe_plan=stripe_plan,
    )
    manifest.run(
        staged.repartition(parts, F.col(part_mod.STRIPE_COL))
        .mapInArrow(fn, schema=STREAMS_SCHEMA),
        out_dir,
    )
    return {"n_stripes": n_stripes, "skipped": skipped, "out_dir": out_dir}


# unit index = fidx * UNIT_SPACE + unit_within_file: identical ids whether
# planning ran on the driver or distributed, and unique as long as
# fidx < 2^26 and units-per-file < 2^20 (sid = idx * 2^16 stays in int64)
UNIT_SPACE = 1 << 20


def _pack_units(fidx: int, num_row_groups: int, rg_rows, per: int):
    """Greedy row-group packing for one file -> [(idx, rg_lo, rg_hi)].
    ``rg_rows``: callable g -> rows in row group g (footer metadata)."""
    units = []
    lo, acc, u = 0, 0, 0
    for g in range(num_row_groups):
        acc += rg_rows(g)
        if acc >= per:
            units.append((fidx * UNIT_SPACE + u, lo, g + 1))
            u += 1
            lo, acc = g + 1, 0
    if lo < num_row_groups:
        units.append((fidx * UNIT_SPACE + u, lo, num_row_groups))
    return units


def _plan_units(
    spark: SparkSession, files: list[str], per: int,
    distributed: bool | None = None,
) -> DataFrame:
    """Scan-unit plan as a DataFrame [idx, path, rg_lo, rg_hi] with ~per
    rows per unit.  Footer-metadata only (row-group row counts; no data
    pages); on an Iceberg table the manifest carries the same counts with
    zero file opens.

    Planning is itself distributed above 64 files: footer reads fan out
    over a paths DataFrame via mapInArrow, so planning cost is
    parallel-flat in file count instead of a sequential driver loop
    (round-3 item: minutes of driver I/O at 10^6 files).  Unit ids are
    identical in both modes (fidx * UNIT_SPACE + unit-within-file), so
    resume works across planner modes."""
    if len(files) >= 1 << 26:
        raise ValueError(f"{len(files)} files exceeds the 2^26 unit id space")
    if distributed is None:
        distributed = len(files) > 64
    schema = "idx long, path string, rg_lo int, rg_hi int"
    if not distributed:
        return part_mod.local_frame(spark, _plan_units_rows(files, per), schema)

    files_df = part_mod.local_frame(
        spark, list(enumerate(files)), "fidx long, path string"
    )
    n_parts = max(1, min(len(files), spark.sparkContext.defaultParallelism * 2))

    def plan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for b in batches:
            idxs, paths, los, his = [], [], [], []
            for fidx, path in zip(
                b.column("fidx").to_pylist(), b.column("path").to_pylist()
            ):
                md = pq.ParquetFile(path).metadata
                for idx, lo, hi in _pack_units(
                    fidx, md.num_row_groups,
                    lambda g, _md=md: _md.row_group(g).num_rows, per,
                ):
                    idxs.append(idx)
                    paths.append(path)
                    los.append(lo)
                    his.append(hi)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(idxs, pa.int64()),
                    pa.array(paths, pa.string()),
                    pa.array(los, pa.int32()),
                    pa.array(his, pa.int32()),
                ],
                names=["idx", "path", "rg_lo", "rg_hi"],
            )

    return files_df.repartition(n_parts, "fidx").mapInArrow(plan, schema)


def _plan_units_rows(files: list[str], per: int) -> list[tuple]:
    """Driver-side unit rows [(idx, path, rg_lo, rg_hi), ...] — parquet
    footer metadata only (no data pages)."""
    import pyarrow.parquet as pq

    rows = []
    for fidx, path in enumerate(files):
        md = pq.ParquetFile(path).metadata
        rows.extend(
            (idx, path, lo, hi)
            for idx, lo, hi in _pack_units(
                fidx, md.num_row_groups,
                lambda g, _md=md: _md.row_group(g).num_rows, per,
            )
        )
    return rows


def plan_units_from_manifest(
    spark: SparkSession, manifest_df: DataFrame,
    target_rows_per_stripe: int,
) -> DataFrame:
    """Scan-unit plan [idx, path, rg_lo, rg_hi] from a MANIFEST-shaped
    table — ``path string, rg_rows array<long>`` (per-row-group row
    counts), optionally ``fidx long`` — with ZERO file opens anywhere:
    every number the planner needs is already a manifest column.  This is
    the Iceberg path end-to-end: the ``files`` metadata table (or
    ``planTasks()``) carries per-file split offsets and record counts, so
    a caller selects them into this shape and never lists a directory or
    reads a footer.  Cf. reference writer-side task planning, which also
    plans from table metadata (orc-core OrcInputFormat.generateSplitsInfo
    analog).

    Packing reuses :func:`_pack_units` per file, so unit ids are
    IDENTICAL to filesystem planning (:func:`_plan_units`) given the same
    file order — a job may plan from the manifest today and from footers
    tomorrow and resume still anti-joins correctly.  When ``fidx`` is
    absent it is assigned by path order (deterministic for a fixed
    snapshot).  The planning fan-out is metadata-sized: 10^6 manifest
    rows is ~tens of MB through one shuffle, independent of data volume.
    """
    from pyspark.sql import Window

    if "fidx" not in manifest_df.columns:
        manifest_df = manifest_df.withColumn(
            "fidx",
            F.row_number().over(Window.orderBy("path")).cast("long") - 1,
        )
    per = max(target_rows_per_stripe, 1)
    schema = "idx long, path string, rg_lo int, rg_hi int"
    n_parts = max(1, spark.sparkContext.defaultParallelism * 2)

    def plan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # pure metadata arithmetic — deliberately no pyarrow.parquet
        # import, no filesystem access: poisoning/nonexistent paths in
        # tests prove planning never touches a file
        for b in batches:
            idxs, paths, los, his = [], [], [], []
            for fidx, path, rg_rows in zip(
                b.column("fidx").to_pylist(),
                b.column("path").to_pylist(),
                b.column("rg_rows").to_pylist(),
            ):
                if fidx >= 1 << 26:
                    raise ValueError(
                        f"fidx {fidx} exceeds the 2^26 unit id space"
                    )
                for idx, lo, hi in _pack_units(
                    fidx, len(rg_rows), rg_rows.__getitem__, per
                ):
                    idxs.append(idx)
                    paths.append(path)
                    los.append(lo)
                    his.append(hi)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(idxs, pa.int64()),
                    pa.array(paths, pa.string()),
                    pa.array(los, pa.int32()),
                    pa.array(his, pa.int32()),
                ],
                names=["idx", "path", "rg_lo", "rg_hi"],
            )

    return (
        manifest_df.select("fidx", "path", "rg_rows")
        .repartition(n_parts, "fidx")
        .mapInArrow(plan, schema)
    )


def _encode_units_factory(
    out_dir: str, per: int, columns: list[str] | None, **stripe_kw
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    """Build the mapInArrow function over scan-unit rows [idx, path,
    rg_lo, rg_hi]: each worker streams its units' row groups with pyarrow
    and cuts stripes with :func:`_cut_stripes`'s 2*per rule (a unit
    packed to ~per rows encodes as ONE full stripe, no runt), and the task
    commits its footers as one manifest file (:mod:`.manifest`).
    ``stripe_kw`` goes to :func:`write_stripe`."""

    def encode_units(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from .. import runtime

        runtime.init_worker()
        for b in batches:
            for uidx, path, rg_lo, rg_hi in zip(
                b.column("idx").to_pylist(),
                b.column("path").to_pylist(),
                b.column("rg_lo").to_pylist(),
                b.column("rg_hi").to_pylist(),
            ):
                rbs = pq.ParquetFile(path).iter_batches(
                    batch_size=1 << 16,
                    row_groups=range(rg_lo, rg_hi),
                    columns=columns,
                    use_threads=False,  # 1 task = 1 core (see init_worker)
                )
                for table, sid in _cut_stripes(rbs, per, uidx):
                    yield write_stripe(table, sid, out_dir, **stripe_kw)

    return manifest.committing(encode_units, out_dir)


def run_encode_paths(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    *,
    codec: str = "zstd",
    target_rows_per_stripe: int = 100_000,
    sort_within: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    fsst: bool | None = None,
    row_index_stride: int | None = ROW_INDEX_STRIDE,
    fingerprint: str = "",
    resume: bool = True,
    n_partitions: int | None = None,
    columns: list[str] | None = None,
) -> dict:
    """Direct-scan encode: distribute parquet SCAN UNITS (file + row-group
    range) to workers; each worker reads its ranges with pyarrow
    (streamed row-group-at-a-time) and encodes stripes incrementally to
    stripe files.

    This removes the JVM from the data path entirely — no JVM parquet
    scan, no JVM->Python Arrow transfer: Spark only schedules.  At
    cluster scale this is the workers-read-from-object-store shape: an
    Iceberg scan task IS (file, row-group/offset range), so the planned
    task list slots straight in.  Splitting below file granularity
    matters because parallelism is unit-granular — a 15-file input on 32
    cores would otherwise cap at 15 tasks no matter how large the files.

    Units are built from parquet FOOTER METADATA ONLY (row-group row
    counts; no data pages touched): contiguous row groups of one file are
    greedily packed to ~``target_rows_per_stripe`` rows per unit.  On an
    Iceberg table the manifest carries these counts, so unit planning
    needs no file reads at all.  Stripe ids are (unit index, local
    chunk) — deterministic for a fixed input snapshot + stripe target, so
    resume skips the units whose footers are committed; a dir written
    with another ``fingerprint`` or ``target_rows_per_stripe`` raises
    ``ValueError``.
    """
    import os

    if os.path.isfile(input_dir):
        files = [input_dir]
    else:
        files = sorted(
            os.path.join(input_dir, f)
            for f in os.listdir(input_dir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    if not files:
        raise ValueError(f"no parquet files under {input_dir}")
    per = max(target_rows_per_stripe, 1)
    if len(files) > 64:
        units_df, n_units = _plan_units(spark, files, per), None
        balanced = False
    else:
        # driver-side plan: interleave the unit rows round-robin across
        # the Arrow LocalTableScan's contiguous slices (the paths decode
        # trick) so the encode is a SINGLE STAGE — no count() job, no
        # repartition exchange, no Python stage ahead of the encode;
        # units of one file spread across min(units, cores) tasks
        rows = _plan_units_rows(files, per)
        n_parts = max(
            1, min(spark.sparkContext.defaultParallelism, len(rows))
        )
        units_df = part_mod.local_frame(
            spark, part_mod.round_robin(rows, n_parts),
            "idx long, path string, rg_lo int, rg_hi int",
        )
        n_units = len(rows)
        balanced = True
    res = run_encode_units(
        spark, units_df, out_dir,
        codec=codec, target_rows_per_stripe=target_rows_per_stripe,
        sort_within=sort_within, bloom_columns=bloom_columns, fsst=fsst,
        row_index_stride=row_index_stride, fingerprint=fingerprint,
        resume=resume, n_partitions=n_partitions, columns=columns,
        n_units=n_units, balanced=balanced,
    )
    res["n_files"] = len(files)
    return res


def run_encode_units(
    spark: SparkSession,
    units_df: DataFrame,
    out_dir: str,
    *,
    codec: str = "zstd",
    target_rows_per_stripe: int = 100_000,
    sort_within: list[str] | None = None,
    bloom_columns: list[str] | None = None,
    fsst: bool | None = None,
    row_index_stride: int | None = ROW_INDEX_STRIDE,
    fingerprint: str = "",
    resume: bool = True,
    n_partitions: int | None = None,
    columns: list[str] | None = None,
    n_units: int | None = None,
    balanced: bool = False,
) -> dict:
    """Encode a pre-planned scan-unit DataFrame [idx long, path string,
    rg_lo int, rg_hi int] — the Iceberg slot-in point: an Iceberg scan
    produces exactly this shape ((file, row-group/offset range) tasks
    from manifest metadata), so a manifest-driven caller builds the
    units DataFrame from `table.newScan().planTasks()` (or the
    `snapshot.manifests` tables in Spark SQL) and hands it here without
    any filesystem listing or footer reads.  ``idx`` must be unique and
    deterministic for resume (see _plan_units for the fidx*UNIT_SPACE
    convention).  Everything else — streamed row-group reads in workers,
    incremental stripe cuts, stripe-file writes, group-level plan-side resume —
    is shared with run_encode_paths."""
    per = max(target_rows_per_stripe, 1)
    stripe_plan = f"pyscan target_rows_per_stripe={per}"
    skipped = 0
    if resume:
        skipped = _resume_count(spark, out_dir, fingerprint, stripe_plan)
        if skipped:
            # unit-level plan-side resume: a unit's stripes commit
            # atomically with its task, so any committed footer of a
            # unit means the whole unit is done (completed_groups_df);
            # the done ids never reach the driver.
            groups = completed_groups_df(spark, out_dir)
            units_df = units_df.join(
                F.broadcast(groups),
                units_df["idx"] == groups["__sparc_done_group"],
                "left_anti",
            )
            # the anti-join changed the todo count, and the units left
            # sit in the LocalTableScan slices of the tasks that died:
            # only the round-robin exchange spreads them over the cores
            n_units = None
            balanced = False
    encode_units = _encode_units_factory(
        out_dir, per, columns, codec=codec, sort_within=sort_within,
        bloom_columns=bloom_columns, fsst=fsst,
        row_index_stride=row_index_stride, fingerprint=fingerprint,
        stripe_plan=stripe_plan,
    )

    # task fan-out sizing needs the todo-unit count; a caller-supplied
    # n_units (driver-side planning knows it for free) skips the count()
    # job — one whole Spark job of pure fixed cost per encode run,
    # measured ~0.4 s at bench scale.  The unit plan itself never lands
    # on the driver either way.
    n_units_todo = units_df.count() if n_units is None else n_units
    if balanced and not n_partitions:
        # caller guarantees the unit rows are interleaved so that the
        # LocalTableScan's contiguous slices balance (run_encode_paths
        # does this for driver-side plans, same trick as the
        # decode): single stage, NO exchange, no extra job — each task
        # carries ~n_units/cores uniform units, which balances BETTER
        # than 2x-cores round-robin when units don't divide evenly
        # (90 units / 64 tasks: stragglers carry 2x the mean; / 32
        # tasks: 3 vs mean 2.8)
        paths_df = units_df
    else:
        # 2x cores: enough task granularity to hide stragglers behind
        # the round-robin balance, without doubling the per-Python-task
        # fixed cost again (measured ~0.2 core-s/task JVM+protocol even
        # after the worker tuning; 4x cores was ~6 extra core-s per job
        # at 32 lanes)
        parts = n_partitions or max(
            1, min(n_units_todo, spark.sparkContext.defaultParallelism * 2)
        )
        # round-robin, NOT hash-on-idx: stripe ids derive from the unit
        # index (not the partition), so co-location is irrelevant — and
        # hashing ~N units into N partitions idles ~1/e of the cores
        # while stragglers carry 2-3 units (the same balls-in-bins fix
        # as the paths decode)
        paths_df = units_df.repartition(parts)
    manifest.run(paths_df.mapInArrow(encode_units, schema=STREAMS_SCHEMA), out_dir)
    return {
        "n_units": n_units_todo,
        "skipped": skipped,
        "out_dir": out_dir,
    }


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-stripe metrics/lineage as a DataFrame (parsed FOOTER rows)."""
    footers = (
        spark.read.schema(STREAMS_SCHEMA).parquet(out_dir)
        .filter(F.col("kind") == "FOOTER")
        .select("stripe_id", F.col("data").cast("string").alias("footer"))
    )
    parsed = footers.select(
        "stripe_id",
        F.from_json(
            "footer",
            "n_rows long, input_fingerprint string, sorted_by array<string>, "
            "columns array<struct<name:string, arrow_type:string, encoding:string, "
            "codec:string, n_rows:long, n_nulls:long>>",
        ).alias("f"),
        F.length("footer").alias("footer_bytes"),
    )
    return parsed.select(
        "stripe_id",
        F.col("f.n_rows").alias("n_rows"),
        F.col("f.input_fingerprint").alias("input_fingerprint"),
        F.col("f.sorted_by").alias("sorted_by"),
        F.col("f.columns").alias("columns"),
        "footer_bytes",
    )
