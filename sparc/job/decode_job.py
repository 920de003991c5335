"""The distributed decode job: stripe files + footer manifest → DataFrame.

Inverse of encode_job.  A SINGLE Spark stage over the manifest-file list:
each task pyarrow-reads its manifest files (one FOOTER row per stripe),
prunes stripes/row groups against the predicate, byte-range-fetches the
surviving stream spans from the stripe files, and decodes inside
``mapInArrow``.  No JVM parquet scan, no shuffle, no stage barrier.
Selected-column decode ("projection pushdown" over our own format) only
fetches the needed streams: span selection at the mmap.
"""

from __future__ import annotations

import json
import os
import zlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import sarg as sarg_mod
from ..engine import stripe as stripe_mod
from . import manifest
from . import partition as part_mod
from .encode_job import STREAMS_SCHEMA


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


def _decode_paths_factory(
    columns: list[str] | None,
    verify_crc: bool,
    streams_dir: str,
    predicate: tuple | None = None,
    stripe_predicate: tuple | None = None,
    map_fn=None,
):
    """mapInArrow function over a DataFrame of manifest-file units
    (path, shard, n_shards): each task pyarrow-reads its manifest files —
    footer rows only, the stream bytes stay in stripe files — and decodes
    the stripes they commit.  One Spark stage, no JVM parquet scan, no
    shuffle: a two-stage scan+repartition shape alone measured ~0.6 s per
    decode with a noop UDF, more than the reference reader's entire warm
    read of 3 GiB."""
    need_cols = set(columns) if columns else None
    # bloom streams only for predicate columns (row-group pruning probes
    # them, including predicate columns outside the projection)
    pred_cols = sarg_mod.columns_of(predicate) if predicate is not None else set()

    def decode_footer(footer: dict) -> Iterator[pa.RecordBatch]:
        sid = footer["stripe_id"]
        if stripe_predicate is not None:
            # stripe-level stats pruning IN the scan task: same tri-state
            # evaluation as prune_stripes_df, refuted stripes never open
            # their stripe file
            col_stats = stripe_mod.footer_stats(footer, None)
            if not sarg_mod.keep(stripe_predicate, col_stats):
                return
        # mmap the stripe file and slice the needed spans — projection and
        # predicate decide which byte ranges are ever touched (the IO
        # planner's selective stream fetch, as true byte-range reads)
        import mmap

        with open(_stripe_path(footer, streams_dir), "rb") as f:
            mm = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        mv = memoryview(mm)
        streams: dict[tuple[str, str], memoryview] = {}
        for cname, kind, off, ln in footer["stream_spans"]:
            if kind == "BLOOM_FILTER_UTF8":
                if cname not in pred_cols:
                    continue
            elif need_cols is not None and cname not in need_cols:
                continue
            streams[(cname, kind)] = mv[off : off + ln]
        if verify_crc:
            for (c, k), v in streams.items():
                expect = footer.get("crc32", {}).get(f"{c}/{k}")
                if expect is not None and zlib.crc32(v) != expect:
                    raise ValueError(f"stripe {sid}: crc mismatch on {c}/{k}")
        # row-group pruning over the FULL footer (the predicate may
        # reference columns outside the projection) — the engine's
        # pickRowGroups analog; only surviving groups are decompressed
        row_groups = (
            stripe_mod.pick_row_groups(footer, predicate, streams=streams)
            if predicate is not None
            else None
        )
        if row_groups == []:
            return  # every group refuted: stripe contributes nothing
        if columns:
            footer = dict(footer)
            footer["columns"] = [c for c in footer["columns"] if c["name"] in columns]
        out = stripe_mod.decode_stripe(streams, footer, row_groups=row_groups)
        if map_fn is not None:
            # compute-near-data: the caller's vectorized transform runs
            # HERE, on the decoded Arrow table, before anything crosses
            # the Python->JVM boundary — only its (usually tiny) result
            # ships back.  At 100 TB this is the shape that matters: the
            # decoded corpus never moves.
            out = map_fn(out)
            if isinstance(out, pa.RecordBatch):
                out = pa.Table.from_batches([out])
        # one output batch per stripe: the decode already holds the whole
        # stripe resident (the writer's memory budget bounds stripe
        # size), and fewer/larger IPC frames measurably cut the
        # Python->JVM return-transfer wall (~20% at 3 GiB)
        yield from out.to_batches()

    def decode_paths(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from .. import runtime

        runtime.init_worker()
        for b in batches:
            for path, shard, n_shards in zip(
                b.column("path").to_pylist(),
                b.column("shard").to_pylist(),
                b.column("n_shards").to_pylist(),
            ):
                tbl = pq.read_table(path, columns=["kind", "data"], use_threads=False)
                footers = [
                    blob
                    for kind, blob in zip(tbl["kind"].to_pylist(), tbl["data"].to_pylist())
                    if kind == "FOOTER"
                ]
                # sub-manifest shard: this task decodes every n_shards-th
                # footer (stripe).  Re-reading a small footer-only manifest
                # n_shards times costs ~ms; leaving cores idle because
                # manifests < cores costs a full extra stripe-decode of
                # wall (measured 20 manifests / 32 stripes / 32 cores:
                # worst task carried 2 stripes).
                for blob in footers[shard::n_shards]:
                    yield from decode_footer(json.loads(blob))

    return decode_paths


def _manifest_paths(streams_dir: str) -> list[str]:
    """Manifest part-file paths of a streams dir (sorted for determinism).
    Planner-scale metadata: one file per completed encode task, NOT one
    per stripe — at Iceberg scale this list comes from the table manifest
    instead of a directory listing."""
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

    ``map_fn`` (with ``map_schema``, a DDL string describing its output)
    runs a vectorized compute-near-data transform ``pa.Table -> pa.Table``
    on each decoded stripe INSIDE the scan task, so only its result ever
    crosses the Python->JVM boundary — see :func:`run_decode_map`.

    ``stripe_filter`` prunes whole stripes before their stripe file is
    opened — the engine-side analog of the reference's stripe-level
    SearchArgument pruning (SURVEY.md §2.7;
    ``RecordReaderImpl.evaluatePredicateProto``).  It accepts either the
    legacy ``(column, lo, hi)`` range tuple or a full composite predicate
    tree (see ``sparc.engine.sarg``):
    ``("and", ("between", "ts", a, b), ("not", ("is_null", "url")))``.
    Evaluation runs inside the scan task (tri-state stats check on each
    footer) — no driver-side collect anywhere on the read path.  Pruning
    alone returns a superset of matching rows; ``row_filter=True``
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
    # ONE self-contained footer row per stripe (blobs live in stripe
    # files), so the decode is a single stage over the manifest-file list
    # — no JVM parquet scan, no repartition shuffle, no stage barrier.
    # Round-robin interleave of the sorted path list balances tasks
    # (manifest files ~ uniform stripes/task); the LocalTableScan slices
    # it contiguously.
    paths = _manifest_paths(streams_dir)
    # no max(cores, 8) floor here: LocalTableScanExec caps parallelism at
    # defaultParallelism, so a higher floor can only be honored by adding
    # an exchange — and the single-stage shape is worth more than extra
    # sub-core tasks on a <8-core host (each exchange measured ~0.6 s of
    # pure orchestration).  Callers that want more tasks pass
    # n_partitions explicitly and pay the one metadata-only exchange
    # below.
    target = n_partitions or spark.sparkContext.defaultParallelism
    # one scan unit per (manifest, shard): when manifests are few, shard
    # BELOW manifest granularity — each shard decodes every n_shards-th
    # footer (stripe) of its manifest, so task count tracks cores instead
    # of the encoder's task count.  Aim for >=2 units per task slot: with
    # units ~= tasks, the +-1-unit remainder makes some tasks carry 2x the
    # work (45 units on 32 cores: 13 straggler tasks, measured ~15% of the
    # decode wall at 3 GiB); at >=2x the same remainder costs <=1/2 a
    # unit.  When manifests already exceed 2x target, n_shards=1 and unit
    # count scales with the data — the 100 TB shape.
    n_shards = max(1, -(-(2 * target) // max(len(paths), 1)))
    units = [(p, s, n_shards) for p in paths for s in range(n_shards)]
    n_parts = max(1, min(target, len(units)))
    fn = _decode_paths_factory(
        columns, verify_crc, streams_dir,
        predicate=pred if rowgroup_prune else None,
        stripe_predicate=pred, map_fn=map_fn,
    )
    # JVM-only unit distribution via an Arrow LocalTableScan
    # (partition.local_frame).  createDataFrame on the Python list would
    # plan as Scan ExistingRDD over a Python RDD, so every decode task
    # would first run a hidden Python stage in a second worker pool.  The
    # LocalTableScan runs min(units, defaultParallelism) tasks with
    # near-even contiguous slices and NO exchange, keeping the decode a
    # single stage; the interleaved ordering gives round-robin unit
    # placement under contiguous slicing (manifest diversity per task,
    # shards of one manifest spread across tasks).
    paths_df = part_mod.local_frame(
        spark, part_mod.round_robin(units, n_parts),
        "path string, shard int, n_shards int",
    )
    if n_partitions and n_partitions != spark.sparkContext.defaultParallelism:
        # explicit caller override: worth one (tiny, metadata-only)
        # round-robin exchange to honor the requested task count
        # (LocalTableScanExec alone caps at defaultParallelism)
        paths_df = paths_df.repartition(n_parts)
    out = paths_df.mapInArrow(fn, schema=schema_ddl)
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
        out = out.filter(sarg_mod.to_spark_column(pred))
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
    the file tail) as a first-class DataFrame — every planning operation
    (stats pruning, bloom probing, schema inference, resume) joins
    against it instead of collecting footers to the driver.  The static
    manifest schema means no inference job: plan construction stays lazy."""
    return (
        spark.read.schema(STREAMS_SCHEMA).parquet(streams_dir)
        .filter(F.col("kind") == "FOOTER")
        .select("stripe_id", F.col("data").cast("string").alias("footer"))
    )


def prune_stripes_df(
    spark: SparkSession, streams_dir: str, predicate: tuple
) -> DataFrame:
    """Stripe ids that may contain rows matching ``predicate`` (a
    ``sparc.engine.sarg`` tree), as a DataFrame — evaluated in executors
    over the footer rows (tri-state: stripes whose stats cannot refute
    the predicate are kept)."""
    footers = footers_df(spark, streams_dir)

    def eval_part(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            keeps = []
            # one JSON parse + tree walk per stripe: planner-scale metadata
            # work, mirroring the reference's per-stripe footer evaluation
            for blob in pdf["footer"]:
                footer = json.loads(blob)
                col_stats = stripe_mod.footer_stats(footer, None)
                keeps.append(sarg_mod.keep(predicate, col_stats))
            yield pdf.loc[keeps, ["stripe_id"]]

    return footers.mapInPandas(eval_part, "stripe_id long")


def prune_stripes_bloom_df(
    spark: SparkSession, streams_dir: str, column: str, value
) -> DataFrame:
    """Stripe ids that *might* contain ``value`` in ``column``, probed
    against the per-stripe bloom streams IN EXECUTORS (bloom blobs never
    reach the driver): a byte-range read of just the bloom span per
    footer.  Stripes without a readable bloom stream are kept."""

    def probe(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from ..engine import bloom as bloom_mod, stripe as stripe_mod

        for pdf in pdfs:
            miss = []
            for blob in pdf["footer"]:
                footer = json.loads(blob)
                span = next(
                    (
                        (off, ln)
                        for c, k, off, ln in footer["stream_spans"]
                        if c == column and k == "BLOOM_FILTER_UTF8"
                    ),
                    None,
                )
                if span is None:
                    miss.append(False)  # no bloom: cannot skip
                    continue
                with open(_stripe_path(footer, streams_dir), "rb") as f:
                    f.seek(span[0])
                    blob_bytes = f.read(span[1])
                (meta,) = [c for c in footer["columns"] if c["name"] == column]
                # one filter per row group; an unindexed stripe holds one
                n_groups = len(meta.get("row_index") or ()) or 1
                miss.append(not bloom_mod.might_contain_any(
                    blob_bytes, stripe_mod._parse_type(meta), value, n_groups
                ))
            yield pdf.loc[miss, ["stripe_id"]]

    footers = footers_df(spark, streams_dir)
    misses = footers.mapInPandas(probe, "stripe_id long")
    return footers.select("stripe_id").join(F.broadcast(misses), "stripe_id", "left_anti")


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
