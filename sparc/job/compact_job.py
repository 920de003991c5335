"""Stripe compaction: merge footer manifests without decode/re-encode.

The engine-side analog of the reference's ``WriterImpl.appendStripe``
(``org/apache/orc/impl/WriterImpl.java:854-904``): pre-encoded stripe
bytes stay where they are; only the stripe directory (here: the footer
manifest) is rewritten.  Use cases: merging the outputs of several
partial encode jobs, or re-binning many small manifest files into fewer
large ones.

No kernel runs and no Python touches the stream bytes: each task patches
its footer rows and commits them as one manifest file (:mod:`.manifest`).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import manifest


def _patch_footers(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Rewrite footer JSON for a renumbered source: set the embedded
    stripe_id to the row's (shifted) one and absolutize the stripe path
    against the row's ``src`` dir, so the compacted manifest keeps pointing
    at the (unmoved) stripe files — appendStripe semantics with literally
    zero data bytes touched."""
    for b in batches:
        data = []
        for sid, src, blob in zip(
            b.column("stripe_id").to_pylist(),
            b.column("src").to_pylist(),
            b.column("data").to_pylist(),
        ):
            footer = json.loads(blob)
            footer["stripe_id"] = sid
            # an already-absolute path (a compacted source) stays as is
            footer["stripe_file"] = os.path.join(src, footer["stripe_file"])
            data.append(json.dumps(footer).encode())
        yield pa.RecordBatch.from_arrays(
            [
                b.column("stripe_id"),
                pa.array([""] * len(data), pa.string()),
                pa.array(["FOOTER"] * len(data), pa.string()),
                pa.array(data, pa.large_binary()),
            ],
            schema=manifest.PA_SCHEMA,
        )


def compact(
    spark: SparkSession,
    src_dirs: list[str],
    out_dir: str,
    *,
    n_output_files: int | None = None,
) -> dict:
    """Concatenate several footer manifests into one, renumbering stripe
    ids to stay disjoint (source order is preserved: ids of source k are
    offset by the total stripe count of sources 0..k-1).

    ``out_dir``'s manifest files are replaced; it may not be a source."""
    from .encode_job import STREAMS_SCHEMA

    if os.path.abspath(out_dir) in {os.path.abspath(d) for d in src_dirs}:
        raise ValueError(f"cannot compact {out_dir} into itself")
    offset = 0
    parts: list[DataFrame] = []
    counts: list[int] = []
    for d in src_dirs:
        df = spark.read.schema(STREAMS_SCHEMA).parquet(d).filter(F.col("kind") == "FOOTER")
        n = df.agg(F.max("stripe_id")).collect()[0][0]
        n = int(n) + 1 if n is not None else 0
        parts.append(
            df.select(
                (F.col("stripe_id") + F.lit(offset)).cast("long").alias("stripe_id"),
                F.lit(os.path.abspath(d)).alias("src"),
                "data",
            )
        )
        counts.append(n)
        offset += n
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    if n_output_files:
        out = out.repartition(n_output_files, "stripe_id")
    for p in manifest.paths(out_dir):
        os.remove(p)
    manifest.run(
        out.mapInArrow(manifest.committing(_patch_footers, out_dir), STREAMS_SCHEMA),
        out_dir,
    )
    return {"n_stripes": offset, "sources": dict(zip(src_dirs, counts))}
