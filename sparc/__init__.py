"""sparc — a from-scratch PySpark-native columnar lightweight-compression engine.

Reproduces the capability set of the reference (olegz/orc, i.e. Apache ORC's
writer/reader stack — see SURVEY.md) re-expressed Spark-first:

- ``sparc.kernels``  — pure-numpy encode/decode kernels (RLEv2, byte-RLE,
  bitfield, bit-packing, dictionary, FSST, block compression).
- ``sparc.engine``   — stripe encode/decode over Arrow batches, column
  statistics, per-column codec auto-selection.
- ``sparc.job``      — the distributed Spark jobs: hash-partitioned
  DataFrame encode or worker-side parquet scan encode, ``mapInArrow``
  decode, checkpoint/resume.
- ``sparc.ops``      — large-scale training-data pipeline operators
  (dedup, similarity search, text analysis, multimodal plumbing).
- ``sparc.fixtures`` — deterministic synthetic web-page table generator.

Design stance (SURVEY.md §7): semantics-equal, structure-different.  The
reference's incremental row-at-a-time Java (tree of stateful stream writers,
red-black-tree dictionaries) is replaced by batch-functional numpy kernels:
each stripe is encoded by a pure function
``arrow.RecordBatch -> (streams, metrics)`` inside ``mapInArrow``.
"""

__version__ = "0.1.0"
