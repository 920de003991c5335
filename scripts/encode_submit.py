"""spark-submit entry point for the encode job.

Usage:
    spark-submit --py-files sparc.zip scripts/encode_submit.py \
        --input <parquet-or-table> --output <streams-dir> \
        [--strategy hash|pyscan] [--stripes N] [--codec zstd] \
        [--bloom col1,col2] [--sort col1,col2] [--no-resume]

``--strategy`` picks the input shape: ``hash`` reads ``--input`` as a
DataFrame (a parquet path or a table name) and hashes ``--key`` into
``--stripes`` stripes; ``pyscan`` reads ``--input`` as parquet files
whose row groups workers scan directly, ``--rows-per-stripe`` each.

The job is resumable: re-running with the same output dir anti-joins
planned stripes against committed FOOTER checkpoints and encodes only
the remainder (per-partition lineage lives in the footers).  A dir
written from another input fingerprint or stripe plan is refused.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or table name")
    ap.add_argument("--output", required=True, help="streams table output dir")
    ap.add_argument("--strategy", default="hash",
                    choices=["hash", "pyscan"])
    ap.add_argument("--stripes", type=int, default=None)
    ap.add_argument("--codec", default="zstd")
    ap.add_argument("--key", default="url")
    ap.add_argument("--bloom", default="", help="comma-separated bloom columns")
    ap.add_argument("--sort", default="",
                    help="comma-separated in-stripe sort columns ('' disables)")
    ap.add_argument("--rows-per-stripe", type=int, default=100_000)
    ap.add_argument("--row-index-stride", type=int, default=10_000,
                    help="row-group index stride (0 disables; multiple of 8)")
    ap.add_argument("--fingerprint", default="", help="input snapshot id for lineage")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from sparc.job import encode_job

    spark = SparkSession.builder.appName("sparc-encode").getOrCreate()
    if args.strategy == "pyscan":
        # direct-scan: workers pyarrow-read row-group units; JVM only
        # schedules
        summary = encode_job.run_encode_paths(
            spark, args.input, args.output,
            codec=args.codec,
            sort_within=[c for c in args.sort.split(",") if c] or None,
            bloom_columns=[c for c in args.bloom.split(",") if c] or None,
            fingerprint=args.fingerprint,
            resume=not args.no_resume,
            target_rows_per_stripe=args.rows_per_stripe,
            row_index_stride=args.row_index_stride or None,
        )
        print(summary)
        spark.stop()
        return
    df = (
        spark.read.parquet(args.input)
        if "/" in args.input
        else spark.read.table(args.input)
    )
    summary = encode_job.run_encode(
        df,
        args.output,
        key=args.key,
        n_stripes=args.stripes,
        codec=args.codec,
        sort_within=[c for c in args.sort.split(",") if c] or None,
        bloom_columns=[c for c in args.bloom.split(",") if c] or None,
        fingerprint=args.fingerprint,
        resume=not args.no_resume,
        target_rows_per_stripe=args.rows_per_stripe,
        row_index_stride=args.row_index_stride or None,
    )
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
