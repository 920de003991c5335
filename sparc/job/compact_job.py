"""Stripe compaction: merge footer manifests without decode/re-encode.

The engine-side analog of the reference's ``WriterImpl.appendStripe``
(``org/apache/orc/impl/WriterImpl.java:854-904``): pre-encoded stripe
bytes stay where they are; only the stripe directory (here: the footer
manifest) is rewritten.  Use cases: merging the outputs of several
partial encode jobs, or re-binning many small manifest files into fewer
large ones.

Everything is a metadata-level DataFrame transform — no kernel runs, no
Python touches the stream bytes.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F


def _patch_footers(src_abs: str, offset: int):
    """Rewrite footer JSON for a renumbered source: shift the embedded
    stripe_id and absolutize stripe paths so the compacted manifest keeps
    pointing at the (unmoved) stripe files — appendStripe semantics with
    literally zero data bytes touched."""

    def patch(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            out = []
            for b in pdf["data"]:
                footer = json.loads(bytes(b))
                footer["stripe_id"] += offset
                # an already-absolute path (a compacted source) stays as is
                footer["stripe_file"] = os.path.join(src_abs, footer["stripe_file"])
                out.append(json.dumps(footer).encode())
            yield pdf.assign(data=out)

    return patch


def compact(
    spark: SparkSession,
    src_dirs: list[str],
    out_dir: str,
    *,
    n_output_files: int | None = None,
) -> dict:
    """Concatenate several footer manifests into one, renumbering stripe
    ids to stay disjoint (source order is preserved: ids of source k are
    offset by the total stripe count of sources 0..k-1)."""
    from .encode_job import STREAMS_SCHEMA

    offset = 0
    parts: list[DataFrame] = []
    counts: list[int] = []
    for d in src_dirs:
        df = spark.read.schema(STREAMS_SCHEMA).parquet(d).filter(F.col("kind") == "FOOTER")
        n = df.agg(F.max("stripe_id")).collect()[0][0]
        n = int(n) + 1 if n is not None else 0
        parts.append(
            df.withColumn("stripe_id", (F.col("stripe_id") + F.lit(offset)).cast("long"))
            .mapInPandas(_patch_footers(os.path.abspath(d), offset), STREAMS_SCHEMA)
        )
        counts.append(n)
        offset += n
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    if n_output_files:
        out = out.repartition(n_output_files, "stripe_id")
    out.write.mode("overwrite").option("compression", "uncompressed").parquet(out_dir)
    return {"n_stripes": offset, "sources": dict(zip(src_dirs, counts))}
