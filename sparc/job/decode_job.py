"""The decode job: stripe files + footer manifest → DataFrame.

Every read is planned in the driver by :func:`plan_read`: it pyarrow-reads
the manifest's footers, prunes stripes on their statistics and row groups
on theirs and on the predicate columns' bloom filters (byte-range reads of
those streams only).  The plan is one unit per kept stripe: its footer
blob and its kept row groups.

A read whose kept units decode to little data (:data:`DRIVER_DECODE_BYTES`)
and that has no ``map_fn`` decodes them in the driver and returns them as
an Arrow ``LocalTableScan``: no Python job runs.  Every other read is ONE
``mapInArrow`` stage over the kept units: each task byte-range-slices the
projected columns' streams out of its stripe files and decodes them.  No
task reads a manifest, and a refuted stripe never becomes a task.
"""

from __future__ import annotations

import json
import os
import zlib
from collections.abc import Iterator
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import sarg as sarg_mod
from ..engine import stripe as stripe_mod
from . import manifest
from . import partition as part_mod
from .encode_job import STREAMS_SCHEMA

# The driver decodes a read whose kept units hold at most this many
# pre-codec (``encoded``) stream bytes.  Measured on the pages table (a
# 4-vCPU VM, one 4-lane session, 8 stripes of 4,096 rows, ts-range reads of
# 1 to 14 row groups then ``count()``, medians of 7 per path, interleaved):
# the task path stays at 212-245 ms of wall whatever it keeps, the driver
# path grows from 151 ms at 3.6 MB to 207 ms at 14.5 MB and 226 ms at 21.6 MB.
# Wall crosses near 18 MB and user CPU near 28 MB; the budget sits below.
DRIVER_DECODE_BYTES = 16 << 20
_BLOOM = "BLOOM_FILTER_UTF8"


def _stripe_path(footer: dict, streams_dir: str) -> str:
    """Path of a footer's stripe file.  Footers without one come from the
    removed inline-blob manifest layout (stream bytes in manifest rows),
    which no reader handles any more."""
    rel = footer.get("stripe_file")
    if rel is None:
        raise ValueError(
            f"{streams_dir}: stripe {footer.get('stripe_id')} has no stripe_file "
            "(inline-blob manifest layout, no longer readable); re-encode it"
        )
    return os.path.join(streams_dir, rel)  # an absolute rel wins (compact)


class ReadPlan(NamedTuple):
    """``units``: one ``(footer blob, kept row groups or None for all)``
    per kept stripe.  ``counters``: stripes and row groups seen, refuted
    by stats and by bloom, kept pre-codec bytes, the path a read without
    ``map_fn`` takes (``"driver"`` or ``"task"``) and the planner's own
    seconds (it makes no JVM round trip)."""

    units: list[tuple[bytes, list[int] | None]]
    counters: dict


def _pick_groups(
    footer: dict, predicate: tuple, pred_cols: set, streams_dir: str, n: int, c: dict
) -> list[int] | None:
    """The row groups the statistics keep, then the predicate columns'
    blooms keep (read by byte range only when the statistics keep some)."""
    groups = stripe_mod.pick_row_groups(footer, predicate)
    kept = n if groups is None else len(groups)
    c["rowgroups_refuted_by_stats"] += n - kept
    spans = [s for s in footer["stream_spans"] if s[1] == _BLOOM and s[0] in pred_cols]
    if not (kept and spans):
        return groups
    blooms = {}
    with open(_stripe_path(footer, streams_dir), "rb") as f:
        for cname, kind, off, ln in spans:
            f.seek(off)
            blooms[(cname, kind)] = f.read(ln)
    groups = stripe_mod.pick_row_groups(footer, predicate, streams=blooms)
    c["rowgroups_refuted_by_bloom"] += kept - (n if groups is None else len(groups))
    return groups


def plan_read(
    streams_dir: str,
    predicate: tuple | None = None,
    columns: list[str] | None = None,
    rowgroup_prune: bool = True,
) -> ReadPlan:
    """Plan a read in the calling process, as the reference runs
    ``pickRowGroups`` in its reader (SURVEY.md §2.7): every footer of the
    manifest, stripes pruned on their statistics, then (unless
    ``rowgroup_prune=False``) row groups on theirs and on the blooms of
    ``predicate``'s columns.  ``columns`` (None: all) sizes the kept
    bytes, which choose the path."""
    import time

    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    c = dict.fromkeys((
        "stripes", "stripes_refuted_by_stats", "rowgroups", "rowgroups_refuted_by_stats",
        "rowgroups_refuted_by_bloom", "rowgroups_kept", "kept_bytes",
    ), 0)
    pred_cols = sarg_mod.columns_of(predicate) if predicate is not None else set()
    units = []
    for path in _manifest_paths(streams_dir):
        t = pq.read_table(path, columns=["kind", "data"], use_threads=False)
        for kind, blob in zip(t["kind"].to_pylist(), t["data"].to_pylist()):
            if kind != "FOOTER":
                continue
            footer = json.loads(blob)
            ri = next((m["row_index"] for m in footer["columns"] if m.get("row_index")), None)
            n = len(ri) if ri else 1
            c["stripes"] += 1
            c["rowgroups"] += n
            groups = None
            if predicate is not None:
                if not sarg_mod.keep(predicate, stripe_mod.footer_stats(footer, None)):
                    c["stripes_refuted_by_stats"] += 1
                    continue
                if rowgroup_prune:
                    groups = _pick_groups(footer, predicate, pred_cols, streams_dir, n, c)
                    if groups == []:
                        continue
            k = n if groups is None else len(groups)
            c["rowgroups_kept"] += k
            c["kept_bytes"] += k * sum(
                info["encoded"]
                for m in footer["columns"] if not columns or m["name"] in columns
                for kind, info in m.get("streams", {}).items() if kind != _BLOOM
            ) // n
            units.append((blob, groups))
    c["path"] = "driver" if c["kept_bytes"] <= DRIVER_DECODE_BYTES else "task"
    c["plan_s"] = round(time.perf_counter() - t0, 6)
    return ReadPlan(units, c)


def _decode_unit(
    streams_dir: str, footer: dict, row_groups, columns: list[str] | None, verify_crc: bool
) -> pa.Table:
    """Decode one kept stripe: mmap its file, slice the projected columns'
    stream spans (projection decides which byte ranges are ever touched),
    check their CRCs, decode the kept row groups."""
    import mmap

    with open(_stripe_path(footer, streams_dir), "rb") as f:
        mm = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
    mv = memoryview(mm)
    streams = {
        (cname, kind): mv[off : off + ln]
        for cname, kind, off, ln in footer["stream_spans"]
        if kind != _BLOOM and (not columns or cname in columns)
    }
    if verify_crc:
        for (cname, kind), v in streams.items():
            expect = footer.get("crc32", {}).get(f"{cname}/{kind}")
            if expect is not None and zlib.crc32(v) != expect:
                raise ValueError(f"stripe {footer['stripe_id']}: crc mismatch on {cname}/{kind}")
    if columns:
        footer = dict(footer, columns=[m for m in footer["columns"] if m["name"] in columns])
    return stripe_mod.decode_stripe(streams, footer, row_groups=row_groups)


def _micros(t: pa.Table) -> pa.Table:
    """``t`` with its timestamp columns in microseconds, the one unit
    Spark takes from Arrow (nanoseconds are truncated)."""
    for i, f in enumerate(t.schema):
        if pa.types.is_timestamp(f.type) and f.type.unit != "us":
            us = t.column(i).cast(pa.timestamp("us", f.type.tz), safe=False)
            t = t.set_column(i, f.name, us)
    return t


def _decode_units_factory(
    streams_dir: str, columns: list[str] | None, verify_crc: bool, map_fn=None
):
    """mapInArrow function over a DataFrame of the planner's units
    (``footer binary, row_groups array<int>``)."""

    def decode_units(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .. import runtime

        runtime.init_worker()
        for b in batches:
            units = zip(b.column("footer").to_pylist(), b.column("row_groups").to_pylist())
            for blob, groups in units:
                out = _decode_unit(streams_dir, json.loads(blob), groups, columns, verify_crc)
                if map_fn is None:
                    out = _micros(out)
                else:
                    # compute-near-data: only the transform's (usually
                    # tiny) result crosses the Python->JVM boundary
                    out = map_fn(out)
                    if isinstance(out, pa.RecordBatch):
                        out = pa.Table.from_batches([out])
                # one output batch per stripe: fewer, larger IPC frames cut
                # the Python->JVM return wall (~20% at 3 GiB)
                yield from out.to_batches()

    return decode_units


def _manifest_paths(streams_dir: str) -> list[str]:
    """Manifest part-file paths of a streams dir (sorted for determinism)."""
    if not os.path.isdir(streams_dir):
        raise ValueError(f"streams dir {streams_dir!r} is not a directory")
    return manifest.paths(streams_dir)


def run_decode(
    spark: SparkSession,
    streams_dir: str,
    *,
    columns: list[str] | None = None,
    schema_ddl: str | None = None,
    verify_crc: bool = False,
    n_partitions: int | None = None,
    stripe_filter: tuple | None = None,
    rowgroup_prune: bool = True,
    row_filter: bool = False,
    cast_to: dict[str, str] | None = None,
    reader_schema: str | None = None,
    positional: bool = False,
    case_sensitive: bool = False,
    map_fn=None,
    map_schema: str | None = None,
) -> DataFrame:
    """Decode a streams dir back to a DataFrame of the original schema.

    The read is planned in the driver (:func:`plan_read`).  A read without
    ``map_fn`` whose kept units hold at most :data:`DRIVER_DECODE_BYTES`
    decodes them in the driver and returns an Arrow ``LocalTableScan``;
    every other read is one ``mapInArrow`` stage of at most
    ``n_partitions`` (default: ``defaultParallelism``) tasks over the kept
    units.  Both return the same rows.

    ``map_fn`` (with ``map_schema``, a DDL string describing its output)
    runs a vectorized compute-near-data transform ``pa.Table -> pa.Table``
    on each decoded stripe INSIDE the scan task, so only its result ever
    crosses the Python->JVM boundary — see :func:`run_decode_map`.

    ``stripe_filter`` prunes whole stripes before their stripe file is
    opened — the engine-side analog of the reference's stripe-level
    SearchArgument pruning (SURVEY.md §2.7;
    ``RecordReaderImpl.evaluatePredicateProto``) — and, unless
    ``rowgroup_prune=False``, row groups on their statistics and blooms.
    It accepts either the legacy ``(column, lo, hi)`` range tuple or a
    full composite predicate tree (see ``sparc.engine.sarg``):
    ``("and", ("between", "ts", a, b), ("not", ("is_null", "url")))``.
    Pruning alone returns a superset of matching rows; ``row_filter=True``
    additionally compiles the SAME tree to a Catalyst row filter on the
    decoded output (the reference's three filter levels from one
    SearchArgument — requires every predicate column in the decoded
    schema and literals comparable to the decoded types).

    ``cast_to={column: spark_type_ddl}`` is the per-column conversion
    surface (SURVEY.md §2.8): reader-schema conversions are Catalyst
    ``cast``s applied after decode — the ~35 pairwise ConvertTreeReader
    readers of the reference collapse into Spark's built-in cast matrix.

    ``reader_schema`` (a DDL string) is full schema-evolution mapping
    (``SchemaEvolution.buildConversion`` SchemaEvolution.java:445-573):
    the reader schema is resolved against the file schema by name
    (default; ``case_sensitive`` controls matching) or by position
    (``positional=True``, the ForcePositionalEvolution analog).  Columns
    present in the file but not the reader schema are dropped (and never
    decoded — projection pushdown); reader columns missing from the file
    are null-filled; type differences become Catalyst casts.  Mutually
    exclusive with ``columns``/``cast_to``.
    """
    if reader_schema is not None and (columns or cast_to):
        raise ValueError("reader_schema is mutually exclusive with columns/cast_to")
    if map_fn is not None:
        if map_schema is None:
            raise ValueError("map_fn requires map_schema (output DDL)")
        if cast_to or reader_schema or row_filter:
            raise ValueError(
                "map_fn is mutually exclusive with cast_to/reader_schema/"
                "row_filter (those operate on the decoded DataFrame)"
            )
        schema_ddl = map_schema
    sample = _sample_footer(streams_dir)
    pred = _as_predicate(stripe_filter) if stripe_filter is not None else None
    evolution = None  # [(reader StructField, file column name | None), ...]
    if reader_schema is not None:
        from pyspark.sql.types import StructType

        rfields = list(StructType.fromDDL(reader_schema).fields)
        ffields = file_schema_fields(spark, streams_dir)

        def norm(n: str) -> str:
            return n if case_sensitive else n.lower()

        if positional:
            evolution = [
                (rf, ffields[i][0] if i < len(ffields) else None)
                for i, rf in enumerate(rfields)
            ]
        else:
            fmap = {norm(n): n for n, _ in ffields}
            evolution = [(rf, fmap.get(norm(rf.name))) for rf in rfields]
        # only matched file columns are decoded (schema-mapped projection)
        columns = [fn for _, fn in evolution if fn is not None]
    if schema_ddl is None:
        schema_ddl = _schema_ddl_from_footer(sample, columns)
    plan = plan_read(streams_dir, pred, columns, rowgroup_prune)
    if map_fn is None and plan.counters["path"] == "driver":
        tables = [
            _micros(_decode_unit(streams_dir, json.loads(blob), groups, columns, verify_crc))
            for blob, groups in plan.units
        ]
        # one partition: an aggregate over it needs no exchange
        out = part_mod.local_frame(
            spark, pa.concat_tables(tables, promote_options="permissive") if tables else [],
            schema_ddl,
        ).coalesce(1)
    else:
        # one unit per kept stripe, handed out by a JVM-only Arrow
        # LocalTableScan (partition.local_frame): min(units, n_parts)
        # tasks with contiguous slices and no exchange
        target = n_partitions or spark.sparkContext.defaultParallelism
        n_parts = max(1, min(target, len(plan.units)))
        units_df = part_mod.local_frame(
            spark, plan.units, "footer binary, row_groups array<int>"
        )
        if n_partitions and n_partitions != spark.sparkContext.defaultParallelism:
            # explicit caller override: one (tiny) round-robin exchange
            # honours the requested task count (LocalTableScanExec alone
            # caps at defaultParallelism)
            units_df = units_df.repartition(n_parts)
        fn = _decode_units_factory(streams_dir, columns, verify_crc, map_fn)
        out = units_df.mapInArrow(fn, schema=part_mod.struct_of(schema_ddl))
    if cast_to:
        out = out.select(
            *[
                F.col(f.name).cast(cast_to[f.name]).alias(f.name)
                if f.name in cast_to
                else F.col(f.name)
                for f in out.schema.fields
            ]
        )
    if row_filter and pred is not None:
        out = out.filter(F.expr(sarg_mod.to_sql(pred)))
    if evolution is not None:
        out = out.select(
            *[
                F.col(fn).cast(rf.dataType).alias(rf.name)
                if fn is not None
                else F.lit(None).cast(rf.dataType).alias(rf.name)
                for rf, fn in evolution
            ]
        )
    return out


def run_decode_map(
    spark: SparkSession,
    streams_dir: str,
    map_fn,
    map_schema: str,
    **kwargs,
) -> DataFrame:
    """Decode and apply a vectorized compute-near-data transform.

    ``map_fn(table: pa.Table) -> pa.Table | pa.RecordBatch`` runs on each
    decoded stripe INSIDE the scan task, after projection / stripe- and
    row-group pruning and before anything crosses the Python->JVM
    boundary; ``map_schema`` is the DDL of its output.  Only the
    transform's result ships back to Spark — for a per-stripe aggregate
    that is one row per stripe instead of the decoded corpus, which at
    10^12-document scale is the difference between moving kilobytes and
    re-moving the table.  This is the reader-side twin of the writer's
    vectorized encode path: the same role ORC's reader-side
    RowFilter/SearchArgument callbacks play (RecordReaderImpl row-level
    filtering), generalized to any Arrow computation.

    Accepts every :func:`run_decode` keyword (columns, stripe_filter,
    rowgroup_prune, ...) except the DataFrame-side post-processing ones
    (cast_to / reader_schema / row_filter), which are meaningless once
    the output schema is the transform's.

    Example — corpus byte count without materializing the corpus::

        def octets(t):
            n = sum(
                pa.compute.sum(pa.compute.binary_length(t[c])).as_py() or 0
                for c in t.column_names
            )
            return pa.table({"octets": pa.array([n], pa.int64())})

        run_decode_map(spark, d, octets, "octets long").agg(F.sum("octets"))
    """
    return run_decode(spark, streams_dir, map_fn=map_fn, map_schema=map_schema, **kwargs)


def file_schema_fields(spark: SparkSession, streams_dir: str) -> list[tuple[str, str]]:
    """[(column name, spark DDL type), ...] in file order, from one footer
    (planner-scale metadata read, like the reference's file-tail parse)."""
    return [(c["name"], _ddl_type(c)) for c in _sample_footer(streams_dir)["columns"]]


def _as_predicate(stripe_filter) -> tuple:
    """Accept a sarg tree or the legacy (column, lo, hi) range tuple."""
    ops = {"and", "or", "not", "=", "<", "<=", ">", ">=", "in", "between", "is_null"}
    if stripe_filter and stripe_filter[0] in ops:
        return tuple(stripe_filter)
    col, lo, hi = stripe_filter
    return sarg_mod.from_range(col, lo, hi)


def footers_df(spark: SparkSession, streams_dir: str) -> DataFrame:
    """The per-stripe metadata table: (stripe_id, footer JSON string).

    This is the engine's stripe directory (what ``ReaderImpl`` reads from
    the file tail) as a first-class DataFrame, for queries over the
    metadata itself (:func:`stripe_stats_df`); reads are planned from
    the same rows by :func:`plan_read`, without Spark.  The static
    manifest schema means no inference job: plan construction stays lazy."""
    return (
        spark.read.schema(STREAMS_SCHEMA).parquet(streams_dir)
        .filter(F.col("kind") == "FOOTER")
        .select("stripe_id", F.col("data").cast("string").alias("footer"))
    )


def _stripe_ids_df(spark: SparkSession, plan: ReadPlan) -> DataFrame:
    ids = [(json.loads(blob)["stripe_id"],) for blob, _ in plan.units]
    return part_mod.local_frame(spark, ids, "stripe_id long")


def prune_stripes_df(
    spark: SparkSession, streams_dir: str, predicate: tuple
) -> DataFrame:
    """Stripe ids that may contain rows matching ``predicate`` (a
    ``sparc.engine.sarg`` tree), as a DataFrame: the stripes
    :func:`plan_read` keeps on stripe statistics alone (tri-state:
    stripes whose stats cannot refute the predicate are kept)."""
    return _stripe_ids_df(spark, plan_read(streams_dir, predicate, rowgroup_prune=False))


def prune_stripes_bloom_df(
    spark: SparkSession, streams_dir: str, column: str, value
) -> DataFrame:
    """Stripe ids that *might* contain ``value`` in ``column``: the stripes
    :func:`plan_read` keeps for ``column = value`` on statistics and the
    per-row-group bloom filters (a byte-range read of just the bloom
    span).  A stripe without a readable bloom stream is refuted by its
    statistics only."""
    return _stripe_ids_df(spark, plan_read(streams_dir, ("=", column, value)))


def stripe_stats_df(spark: SparkSession, streams_dir: str) -> DataFrame:
    """Exploded per-(stripe, column) statistics as a DataFrame:
    (stripe_id, column, kind, min, max, n_nulls, n_values) — min/max as
    strings (the JSON representation; numeric consumers cast)."""
    footers = footers_df(spark, streams_dir)
    cols = F.from_json(
        "footer",
        "columns array<struct<name:string, n_nulls:long, "
        "stats:struct<kind:string, n_values:long, n_nulls:long, "
        "min:string, max:string>>>",
    ).getField("columns")
    exploded = footers.select("stripe_id", F.explode(cols).alias("c"))
    return exploded.select(
        "stripe_id",
        F.col("c.name").alias("column"),
        F.col("c.stats.kind").alias("kind"),
        F.col("c.stats.min").alias("min"),
        F.col("c.stats.max").alias("max"),
        F.coalesce(F.col("c.stats.n_nulls"), F.col("c.n_nulls")).alias("n_nulls"),
        F.col("c.stats.n_values").alias("n_values"),
    )


# -- list-returning wrappers (tests / small-scale callers) -------------------


def prune_stripes(
    spark: SparkSession, streams_dir: str, column: str, lo=None, hi=None
) -> list[int]:
    """Stripe ids whose [min, max] for ``column`` intersects [lo, hi]
    (driver-side list wrapper over :func:`prune_stripes_df`)."""
    df = prune_stripes_df(spark, streams_dir, sarg_mod.from_range(column, lo, hi))
    return sorted(r[0] for r in df.collect())


def prune_stripes_bloom(
    spark: SparkSession, streams_dir: str, column: str, value
) -> list[int]:
    """List wrapper over :func:`prune_stripes_bloom_df`."""
    df = prune_stripes_bloom_df(spark, streams_dir, column, value)
    return sorted(r[0] for r in df.collect())


def stripe_column_stats(spark: SparkSession, streams_dir: str) -> list[dict]:
    """List-of-dicts wrapper over :func:`stripe_stats_df`."""
    return [r.asDict() for r in stripe_stats_df(spark, streams_dir).collect()]


_ARROW_TO_DDL = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "long",
    "float": "float", "double": "double", "bool": "boolean",
    "string": "string", "large_string": "string",
    "binary": "binary", "large_binary": "binary", "date32[day]": "date",
}


def _ddl_type(col_meta: dict) -> str:
    t = col_meta["arrow_type"]
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith("decimal"):
        return f"decimal({col_meta['precision']},{col_meta['scale']})"
    if t in _ARROW_TO_DDL:
        return _ARROW_TO_DDL[t]
    if t.startswith(("list<", "large_list<")):
        return f"array<{_ddl_type(col_meta['child'])}>"
    if t.startswith("map<"):
        kv = col_meta["child"]["children"]  # struct<key, value> children
        return f"map<{_ddl_type(kv[0])}, {_ddl_type(kv[1])}>"
    if t.startswith("struct<"):
        fields = ", ".join(
            f"`{c['field_name']}`: {_ddl_type(c)}" for c in col_meta["children"]
        )
        return f"struct<{fields}>"
    raise NotImplementedError(t)


def _sample_footer(streams_dir: str) -> dict:
    """One parsed FOOTER row, pyarrow-read from the first manifest part
    that has one (planner-scale metadata: schema inference reads only
    this).  Uncached: a dir rewritten with another schema is seen at once,
    and the read costs well under a millisecond."""
    import pyarrow.parquet as pq

    for p in _manifest_paths(streams_dir):
        t = pq.read_table(p, columns=["kind", "data"], use_threads=False)
        kinds = t["kind"].to_pylist()
        if "FOOTER" in kinds:
            footer = json.loads(t["data"][kinds.index("FOOTER")].as_py())
            _stripe_path(footer, streams_dir)  # refuse inline-blob manifests
            return footer
    raise ValueError(f"no FOOTER rows in {streams_dir}")


def _schema_ddl_from_footer(footer: dict, columns: list[str] | None = None) -> str:
    parts = []
    for c in footer["columns"]:
        if columns and c["name"] not in columns:
            continue
        parts.append(f"`{c['name']}` {_ddl_type(c)}")
    return ", ".join(parts)


def infer_schema_ddl(
    spark: SparkSession, streams_dir: str, columns: list[str] | None = None
) -> str:
    """Read one FOOTER row and derive the Spark DDL schema."""
    return _schema_ddl_from_footer(_sample_footer(streams_dir), columns)
