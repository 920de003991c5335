"""Stripe assignment for the DataFrame encode path (SURVEY.md §3.4).

stripe_id = xxhash64(key) % n_stripes: uniform and content-addressed — a
row's stripe depends only on its key and the stripe count, so resume and
runs at two cluster sizes produce identical stripe assignments.  The
stripe count comes from :func:`pick_stripe_count`.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

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
