"""Stripe assignment for the DataFrame encode path (SURVEY.md §3.4),
and the one way the engine builds a small driver-side DataFrame.

stripe_id = xxhash64(key) % n_stripes: uniform and content-addressed — a
row's stripe depends only on its key and the stripe count, so resume and
runs at two cluster sizes produce identical stripe assignments.  The
stripe count comes from :func:`pick_stripe_count`.
"""

from __future__ import annotations

import functools
import math
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

STRIPE_COL = "_sparc_stripe"


def with_hash_stripes(df: DataFrame, key: str, n_stripes: int) -> DataFrame:
    return df.withColumn(
        STRIPE_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_stripes)).cast("long")
    )


def pick_stripe_count(total_rows: int, total_bytes: int,
                      target_bytes: int = 128 << 20,
                      target_rows: int = 500_000) -> int:
    """Stripe count from a size estimate: bounded by bytes AND rows."""
    by_bytes = math.ceil(total_bytes / target_bytes) if total_bytes else 1
    by_rows = math.ceil(total_rows / target_rows) if total_rows else 1
    return max(1, by_bytes, by_rows)


@functools.lru_cache(maxsize=64)
def struct_of(ddl: str) -> StructType:
    """``ddl`` parsed once per process: each parse is a JVM round trip."""
    return StructType.fromDDL(ddl)


def local_frame(
    spark: SparkSession, rows: Sequence[tuple] | pa.Table, ddl: str
) -> DataFrame:
    """A driver-side DataFrame of ``rows`` (tuples in ``ddl`` column
    order, or an Arrow table with ``ddl``'s columns in order), planned as
    a JVM-only ``LocalTableScan``.

    ``spark.createDataFrame(list, ddl)`` plans as ``Scan ExistingRDD``
    over a Python RDD instead: every task of every job that reads it
    first runs a second Python worker whose only work is to re-serialize
    the rows, and it runs ``defaultParallelism`` tasks even for fewer
    rows, the extra ones empty.  An Arrow table becomes a LocalRelation:
    no Python stage, and ``min(len(rows), defaultParallelism)`` tasks
    that each take a contiguous slice of the rows.

    A table's timestamps are taken as UTC instants, as ``mapInArrow``
    takes them: ``createDataFrame`` alone would read a zone-less one as
    wall-clock time in the session time zone."""
    struct = struct_of(ddl)
    schema = to_arrow_schema(struct)
    if isinstance(rows, pa.Table):
        cols = [c.cast(f.type) for c, f in zip(rows.columns, schema)]
    else:
        cols = [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(schema)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=schema), struct)


def round_robin(rows: Sequence[tuple], n_parts: int) -> list[tuple]:
    """``rows`` reordered so that :func:`local_frame`'s contiguous slices
    over ``n_parts`` tasks deal them out round-robin: slice j holds rows
    j, j + n_parts, ... when ``n_parts`` divides ``len(rows)``.  Otherwise
    a slice can straddle two neighbouring residue classes, but every
    slice still holds the floor or the ceiling of len(rows) / n_parts."""
    return [r for j in range(n_parts) for r in rows[j::n_parts]]
