"""Structured Streaming ingest: encode arriving pages incrementally.

The reference has no streaming surface (SURVEY.md §2.10) — this is part
of the beyond-the-reference pipeline layer: a production crawl lands
pages continuously, and the encode job should absorb them without
re-encoding history.

Design: ``readStream`` on the landing directory -> ``foreachBatch``.
Each micro-batch runs the SAME batch encode job (stripe assignment,
kernels, metrics) with batch-scoped stripe ids, so:

- effectively-once per micro-batch: Spark's streaming checkpoint tracks
  which input files were consumed (no input replayed across committed
  batches), and within a batch a stripe becomes visible only when its
  FOOTER row commits (the task's manifest file is renamed into place
  after its stripe files' renames).  foreachBatch
  itself is at-least-once on failure, so ``encode_batch`` anti-joins the
  batch's planned stripes against already-committed FOOTERs for the same
  batch id before encoding — a retried batch re-encodes only the stripes
  whose commit did not land, and never appends duplicates of those that
  did;
- the streams dir stays decodable at any time — decode/pruning/compact
  work on it unchanged.

Stripe ids are namespaced per batch: stripe_id = batch_id * STRIPE_SPACE
+ local_id, so ids never collide across micro-batches and lineage records
which batch produced which stripe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..job import encode_job, manifest

STRIPE_SPACE = 1 << 20  # max stripes per micro-batch


def make_encode_batch(
    spark: SparkSession,
    out_dir: str,
    *,
    key: str = "url",
    target_rows_per_stripe: int = 100_000,
    codec: str = "zstd",
    bloom_columns: list[str] | None = None,
):
    """The foreachBatch function, exposed so tests can drive the exact
    closure the stream runs (e.g. replaying a batch id to exercise the
    at-least-once guard)."""

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        n_stripes = max(1, n // target_rows_per_stripe)
        from pyspark.sql import functions as F

        from ..job import partition as part_mod

        staged = part_mod.with_hash_stripes(batch_df, key, n_stripes)
        staged = staged.withColumn(
            part_mod.STRIPE_COL,
            (F.col(part_mod.STRIPE_COL) + F.lit(batch_id * STRIPE_SPACE)).cast("long"),
        )
        # at-least-once guard: a retried batch skips stripes whose FOOTER
        # already committed under this batch's id namespace — plan-side
        # anti-join, no driver-collected isin literal
        lo, hi = batch_id * STRIPE_SPACE, (batch_id + 1) * STRIPE_SPACE
        done_df = encode_job.completed_stripes_df(spark, out_dir)
        if done_df is not None:
            done_df = done_df.filter(
                (F.col(part_mod.STRIPE_COL) >= lo) & (F.col(part_mod.STRIPE_COL) < hi)
            )
            staged = staged.join(done_df, part_mod.STRIPE_COL, "left_anti")
        fn = encode_job._encode_partition_factory(
            out_dir, codec, None, f"stream-batch-{batch_id}", bloom_columns
        )
        manifest.run(
            staged.repartition(n_stripes, F.col(part_mod.STRIPE_COL)).mapInArrow(
                fn, schema=encode_job.STREAMS_SCHEMA
            ),
            out_dir,
        )

    return encode_batch


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    schema_ddl: str = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ),
    key: str = "url",
    target_rows_per_stripe: int = 100_000,
    codec: str = "zstd",
    bloom_columns: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    trigger_once: bool = False,
):
    """Start the streaming encode; returns the StreamingQuery."""
    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    encode_batch = make_encode_batch(
        spark, out_dir, key=key, target_rows_per_stripe=target_rows_per_stripe,
        codec=codec, bloom_columns=bloom_columns,
    )
    writer = (
        stream.writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
