"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every operator surface of the engine (SURVEY.md §2)
plus the training-data pipeline ops; ``oracle_sql()`` carries the DuckDB-
runnable ANSI mirror for each SQL-expressible query.  Engine-internal
operators (actual encode/decode round-trips, codec metrics) run the real
kernels inside ``mapInArrow`` and are checked as rows-only where no SQL
equivalent exists (the round-trip checks DO have constant-form oracles:
mismatches must equal zero).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

TS_BASE = 1_420_070_400  # 2015-01-01 UTC, the reference's timestamp epoch


def _micros(col: str):
    """Microseconds since epoch, timezone-free (works on TIMESTAMP_NTZ,
    which is how Spark 4 reads parquet timestamps; mirrors DuckDB's
    epoch_us over the same naive values)."""
    return F.expr(f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# engine-internal queries (run the real kernels inside mapInArrow)
# ---------------------------------------------------------------------------


def _count_mismatches(a: DataFrame, b: DataFrame) -> int:
    """Rows failing multiset equality between ``a`` and ``b``.

    Fast path: compare row counts + an order-independent sum of per-row
    xxhash64 (one narrow aggregate per side instead of four wide
    exceptAll shuffles).  Only on disagreement does the exact exceptAll
    count run — so the happy path is cheap and the failure path is
    precise."""
    def sig(df: DataFrame):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: no ANSI long-overflow, exact
            F.sum(
                F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    if sig(a) == sig(b):
        return 0
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def _roundtrip_mismatches(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Encode+decode every partition through the stripe engine; count rows
    that fail bit-identical reconstruction (must be 0)."""
    import pyarrow as pa

    df = _t(spark, sf_dir, table)

    def rt(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from sparc.engine import stripe as stripe_mod

        got = list(batches)
        if not got:
            return
        t = pa.Table.from_batches(got)
        streams, footer = stripe_mod.encode_stripe(t)
        out = stripe_mod.decode_stripe(streams, footer)
        yield from out.to_batches(max_chunksize=10_000)

    decoded = df.mapInArrow(rt, schema=df.schema)
    n_mismatch = _count_mismatches(df, decoded)
    n_rows = df.count()
    return spark.createDataFrame(
        [(n_rows, n_mismatch)], "n_rows long, n_mismatch long"
    )


def _encode_metrics(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Per-column encoding decisions + sizes from the real encoder."""
    import pyarrow as pa

    df = _t(spark, sf_dir, table)

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from sparc.engine import stripe as stripe_mod

        got = list(batches)
        if not got:
            return
        t = pa.Table.from_batches(got)
        _, footer = stripe_mod.encode_stripe(t)
        rows = []
        for c in footer["columns"]:
            enc_b = sum(s["encoded"] for s in c["streams"].values())
            comp_b = sum(s["compressed"] for s in c["streams"].values())
            rows.append((c["name"], c["encoding"], c["n_rows"], enc_b, comp_b))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([r[0] for r in rows], pa.string()),
                pa.array([r[1] for r in rows], pa.string()),
                pa.array([r[2] for r in rows], pa.int64()),
                pa.array([r[3] for r in rows], pa.int64()),
                pa.array([r[4] for r in rows], pa.int64()),
            ],
            names=["column", "encoding", "n_rows", "encoded_bytes", "compressed_bytes"],
        )

    per_part = df.coalesce(4).mapInArrow(
        enc,
        "column string, encoding string, n_rows long, encoded_bytes long, compressed_bytes long",
    )
    return (
        per_part.groupBy("column")
        .agg(
            F.max("encoding").alias("encoding"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
            F.sum("compressed_bytes").alias("compressed_bytes"),
        )
        .orderBy("column")
    )


# ---------------------------------------------------------------------------
# SQL-mirrorable engine-semantics queries
# ---------------------------------------------------------------------------


def _stats_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.min(_micros("l_shipdate")).alias("min_ship_us"),
        F.max(_micros("l_shipdate")).alias("max_ship_us"),
        F.countDistinct("l_returnflag").alias("rf_distinct"),
    )


_STATS_LINEITEM_SQL = """
SELECT CAST(count(*) AS BIGINT) AS cnt,
       round(min(l_quantity), 2) AS min_qty,
       round(max(l_quantity), 2) AS max_qty,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       min(epoch_us(l_shipdate)) AS min_ship_us,
       max(epoch_us(l_shipdate)) AS max_ship_us,
       CAST(count(DISTINCT l_returnflag) AS BIGINT) AS rf_distinct
FROM lineitem
"""


def _stripe_stats_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.pmod(F.col("event_id"), F.lit(8)).cast("long").alias("stripe_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(_micros("ts")).alias("min_ts_us"),
            F.max(_micros("ts")).alias("max_ts_us"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.sum(F.col("value").isNull().cast("long")).alias("value_nulls"),
        )
        .orderBy("stripe_id")
    )


_STRIPE_STATS_EVENTS_SQL = """
SELECT CAST(event_id % 8 AS BIGINT) AS stripe_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(epoch_us(ts)) AS min_ts_us,
       max(epoch_us(ts)) AS max_ts_us,
       round(sum(value), 2) AS sum_value,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls
FROM events GROUP BY 1 ORDER BY 1
"""


def _dict_lang_codes(spark, sf_dir):
    # sorted-dictionary contract: code = rank of value in byte-sorted
    # uniques.  Ranks come from the per-lang DISTINCT set (dictionary-
    # sized, so the window sorts ~30 rows) broadcast-joined back — a
    # global Window.orderBy over the full table would funnel every row
    # through one task, the classic scale-killer at 100x
    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy("lang")
    codes = (
        docs.select("lang").distinct()
        .select("lang", (F.dense_rank().over(w) - 1).cast("long").alias("code"))
    )
    return docs.select("doc_id", "lang").join(F.broadcast(codes), "lang").select(
        "doc_id", "lang", "code"
    )


_DICT_LANG_CODES_SQL = """
SELECT doc_id, lang, CAST(DENSE_RANK() OVER (ORDER BY lang) - 1 AS BIGINT) AS code
FROM documents
"""


def _dict_decision(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    parts = []
    for col in ["lang", "source", "text"]:
        parts.append(
            docs.agg(
                F.lit(col).alias("column"),
                F.countDistinct(col).alias("n_distinct"),
                F.count(col).alias("n_nonnull"),
            ).withColumn(
                "decision",
                F.when(
                    F.col("n_distinct").cast("double") / F.col("n_nonnull") <= 0.8,
                    F.lit("DICT"),
                ).otherwise(F.lit("DIRECT")),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("column")


_DICT_DECISION_SQL = """
WITH d AS (
  SELECT 'lang' AS "column", CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct,
         CAST(count(lang) AS BIGINT) AS n_nonnull FROM documents
  UNION ALL
  SELECT 'source', CAST(count(DISTINCT source) AS BIGINT), CAST(count(source) AS BIGINT) FROM documents
  UNION ALL
  SELECT 'text', CAST(count(DISTINCT text) AS BIGINT), CAST(count(text) AS BIGINT) FROM documents
)
SELECT "column", n_distinct, n_nonnull,
       CASE WHEN CAST(n_distinct AS DOUBLE) / n_nonnull <= 0.8 THEN 'DICT' ELSE 'DIRECT' END AS decision
FROM d ORDER BY "column"
"""


def _rle_runs_orders(spark, sf_dir):
    # Global-order run count WITHOUT a global Window.orderBy (which
    # funnels the whole table through one task — the classic scale-killer
    # at 100x).  repartitionByRange keeps the global key order ACROSS
    # partitions, so: count run starts with a partition-local window
    # (parallel), then subtract the partition seams whose adjacent
    # statuses match, using a boundary table of one row per partition.
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    nparts = max(o.sparkSession.sparkContext.defaultParallelism, 8)
    parts = o.repartitionByRange(nparts, "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    wp = Window.partitionBy("pid").orderBy("o_orderkey")
    local = parts.select(
        "pid",
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.lag("o_orderstatus").over(wp).isNull()
            | (F.col("o_orderstatus") != F.lag("o_orderstatus").over(wp)),
            1,
        )
        .otherwise(0)
        .alias("run_start"),
    )
    per_part = local.groupBy("pid").agg(
        F.sum("run_start").alias("runs"),
        F.count(F.lit(1)).alias("rows"),
        F.min_by("o_orderstatus", "o_orderkey").alias("first_status"),
        F.max_by("o_orderstatus", "o_orderkey").alias("last_status"),
        F.min("o_orderkey").alias("min_key"),
    )
    # boundary table: nparts rows — a window over it is trivially cheap
    wb = Window.orderBy("min_key")
    seams = per_part.select(
        "runs",
        "rows",
        F.when(
            F.lag("last_status").over(wb) == F.col("first_status"), 1
        )
        .otherwise(0)
        .alias("seam_merge"),
    )
    return seams.agg(
        (F.sum("runs") - F.sum("seam_merge")).cast("long").alias("n_runs"),
        F.sum("rows").cast("long").alias("n_rows"),
    )


_RLE_RUNS_ORDERS_SQL = """
WITH r AS (
  SELECT CASE WHEN LAG(o_orderstatus) OVER (ORDER BY o_orderkey) IS NULL
              OR o_orderstatus != LAG(o_orderstatus) OVER (ORDER BY o_orderkey)
         THEN 1 ELSE 0 END AS run_start
  FROM orders)
SELECT CAST(sum(run_start) AS BIGINT) AS n_runs, CAST(count(*) AS BIGINT) AS n_rows FROM r
"""


_NANOS_PACK_CASE = (
    "CASE WHEN {n} = 0 THEN 0 "
    + " ".join(
        "WHEN {{n}} % {p} = 0 THEN ({{n}} {div} {p}) * 8 + {z}".format(
            p=10**z, z=z - 1, div="{div}"
        )
        for z in range(7, 1, -1)
    )
    + " ELSE {n} * 8 END"
)


def _timestamp_split_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        (_micros("ts") / F.lit(1000000)).cast("long").alias("abs_s"),
        ((_micros("ts") % 1000000) * 1000).alias("nanos"),
    )
    pack = _NANOS_PACK_CASE.format(n="nanos", div="div")
    return base.select(
        "event_id",
        (F.col("abs_s") - TS_BASE).alias("seconds"),
        F.expr(pack).cast("long").alias("nanos_packed"),
    )


_TIMESTAMP_SPLIT_SQL = f"""
WITH b AS (
  SELECT event_id,
         epoch_us(ts) // 1000000 AS abs_s,
         (epoch_us(ts) % 1000000) * 1000 AS nanos
  FROM events)
SELECT event_id,
       CAST(abs_s - {TS_BASE} AS BIGINT) AS seconds,
       CAST({_NANOS_PACK_CASE.format(n="nanos", div="//")} AS BIGINT) AS nanos_packed
FROM b
"""


def _length_stream_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    mn = docs.agg(F.min(F.length("text")).alias("mn"))
    return (
        docs.crossJoin(F.broadcast(mn))
        .select(
            "doc_id",
            F.length("text").cast("long").alias("len"),
            (F.length("text") - F.col("mn")).cast("long").alias("len_for"),
        )
    )


_LENGTH_STREAM_SQL = """
SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
       CAST(length(text) - (SELECT min(length(text)) FROM documents) AS BIGINT) AS len_for
FROM documents
"""


# ---------------------------------------------------------------------------
# pipeline ops
# ---------------------------------------------------------------------------


def _text_profile(spark, sf_dir):
    from sparc.ops import text as text_ops

    return text_ops.text_profile(_t(spark, sf_dir, "documents"))


def _text_profile_sql():
    from sparc.ops import text as text_ops

    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_measured,
       CAST({text_ops.token_count_sql()} AS BIGINT) AS n_tokens,
       {text_ops.punct_ratio_sql()} AS punct_ratio,
       {text_ops.stopword_hits_sql()} AS stopword_hits,
       {text_ops.quality_score_sql()} AS quality,
       {text_ops.lang_id_sql()} AS lang_guess,
       {text_ops.fingerprint_sql()} AS fingerprint
FROM documents
"""


def _dedup_exact(spark, sf_dir):
    from sparc.ops import dedup

    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


_DEDUP_EXACT_SQL = """
SELECT CAST(min(doc_id) AS BIGINT) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY text HAVING count(*) > 1
"""


def _ngram_jaccard(spark, sf_dir):
    from sparc.ops import dedup

    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    return dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, n=3, max_shingles=128, stop_shingle_df=10**9
    )


_NGRAM_JACCARD_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id AS id, substring(text, CAST(i AS INT), 3) AS g
  FROM documents, range(1, 129) t(i)
  WHERE length(text) >= 3 AND i <= least(length(text) - 2, 128)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b,
       round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5
"""


def _minhash_candidates(spark, sf_dir):
    from sparc.ops import dedup

    return dedup.minhash_lsh_candidates(_t(spark, sf_dir, "documents"), k=16, bands=4)


def _simhash(spark, sf_dir):
    from sparc.ops import dedup

    return dedup.simhash(_t(spark, sf_dir, "documents"))


def _simsearch_topk(spark, sf_dir):
    from sparc.ops import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


_SIMSEARCH_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, corpus_id,
         list_dot_product(cv, qv) / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) AS sim
  FROM c CROSS JOIN q WHERE corpus_id != query_id),
ranked AS (
  SELECT query_id, corpus_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS rnk
  FROM scored)
SELECT query_id, corpus_id, CAST(rnk AS BIGINT) AS rank, round(sim, 4) AS sim
FROM ranked WHERE rnk <= 5
"""


def _lsh_topk(spark, sf_dir):
    from sparc.ops import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, queries, k=5)


def _ann_recall_gate(spark, sf_dir, ann_fn):
    """Shared recall@5 gate for approximate ANN operators: join the
    operator's top-k against the exact cosine top-k on the same query
    set and report the constant-form contract "recall >= 0.8"."""
    from sparc.ops import similarity

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, q, k=5).select("query_id", "corpus_id")
    ann = ann_fn(emb, q).select("query_id", "corpus_id")
    hits = exact.join(ann, ["query_id", "corpus_id"]).count()
    total = exact.count()
    recall = hits / max(total, 1)
    return spark.createDataFrame(
        [(5, total // 5, bool(recall >= 0.8))],
        "k long, n_queries long, recall_ge_080 boolean",
    )


def _lsh_recall(spark, sf_dir):
    """Measured recall@5 of the banded hyperplane LSH — the checkable
    quantity for an approximate operator.  16 bands x 4 planes gives
    recall 0.90 on this corpus (deterministic: plane literals are
    seeded)."""
    from sparc.ops import similarity

    return _ann_recall_gate(
        spark, sf_dir,
        lambda emb, q: similarity.lsh_topk(
            emb, q, k=5, n_bands=16, planes_per_band=4
        ),
    )


_LSH_RECALL_SQL = (
    "SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries, "
    "CAST(TRUE AS BOOLEAN) AS recall_ge_080"
)


def _ivf_recall(spark, sf_dir):
    """Measured recall@5 of IVF in its APPROXIMATE mode (nprobe <
    nlist, i.e. real list-skipping) — complements ``ivf_topk`` which
    value-checks the machinery at nprobe == nlist.  The synthetic
    corpus is near-uniform (the hardest case for a coarse quantizer);
    probing 6 of 8 lists measures 0.92 at sf0.001 and sf0.01."""
    from sparc.ops import similarity

    return _ann_recall_gate(
        spark, sf_dir,
        lambda emb, q: similarity.ivf_topk(
            emb, q, k=5, nlist=8, nprobe=6, iters=2
        ),
    )


_IVF_RECALL_SQL = (
    "SELECT CAST(5 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_queries, "
    "CAST(TRUE AS BOOLEAN) AS recall_ge_080"
)


def _ivf_topk(spark, sf_dir):
    """IVF ANN (k-means coarse quantizer + inverted-list probe).  Run
    with nprobe == nlist, where IVF is provably exact — so the same
    brute-force SQL oracle value-checks the whole IVF pipeline
    (assignment argmin, probe ranking, rescoring)."""
    from sparc.ops import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, k=5, nlist=8, nprobe=8, iters=2)


def _embedding_dups(spark, sf_dir):
    """Flagship banded-LSH near-dup surface.  The synthetic embeddings
    are i.i.d. unit vectors (max pairwise cosine ~0.51), so to make the
    row-count signal non-trivial the query plants deterministic
    near-duplicates: every 10th vector gets a perturbed twin
    (x_i + 0.05*sin(7*vec_id + i), cosine 0.958-0.974 vs its source),
    and the advertised 0.95 threshold must recover exactly those planted
    pairs through the banded LSH + exact-rescore pipeline."""
    from sparc.ops import similarity

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x + F.lit(0.05) * F.sin(F.col("vec_id") * 7 + i),
        ).alias("embedding"),
    )
    aug = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionAll(planted)
    return similarity.embedding_cosine_dups(
        aug, threshold=0.95
    ).orderBy("id_a", "id_b")


def _embedding_dups_exact(spark, sf_dir):
    """The embedding near-dup pipeline run where it is provably
    exhaustive (1 band x 0 planes -> a single bucket -> every pair is a
    candidate), at a threshold where the synthetic corpus actually has
    pairs — so a brute-force SQL oracle value-checks the whole pipeline
    (banded self-join, cross-band dedup, rescoring, thresholding); the
    banded approximation itself is recall-gated by lsh_recall."""
    from sparc.ops import similarity

    return similarity.embedding_cosine_dups(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.45, n_bands=1, planes_per_band=0,
    ).orderBy("id_a", "id_b")


_EMBEDDING_DUPS_EXACT_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(sim, 4) AS sim FROM p WHERE sim >= 0.45
ORDER BY id_a, id_b
"""


_REDACT_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
_REDACT_TO = "X" * 26 + "x" * 26 + "9" * 10


def _mask_redact(spark, sf_dir):
    from sparc.ops import mask

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return mask.apply_masks(docs, {"lang": "redact", "source": "redact"})


_MASK_REDACT_SQL = f"""
SELECT doc_id,
       translate(lang, '{_REDACT_FROM}', '{_REDACT_TO}') AS lang,
       translate(source, '{_REDACT_FROM}', '{_REDACT_TO}') AS source
FROM documents
"""


def _mask_sha256(spark, sf_dir):
    from sparc.ops import mask

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return mask.apply_masks(docs, {"text": "sha256"})


_MASK_SHA256_SQL = """
SELECT doc_id, sha256(text) AS text FROM documents
"""


def _char_varchar_documents(spark, sf_dir):
    """Write-time CHAR(8)/VARCHAR(12) enforcement (CharTreeWriter /
    VarcharTreeWriter semantics) before encode."""
    from sparc.ops import mask

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return mask.apply_char_types(
        docs, {"lang": ("char", 8), "source": ("varchar", 12)}
    )


_CHAR_VARCHAR_SQL = """
SELECT doc_id,
       rpad(substring(lang, 1, 8), 8, ' ') AS lang,
       substring(source, 1, 12) AS source
FROM documents
"""


def _prune_decode_documents(spark, sf_dir):
    """End-to-end three-level filtering with a VALUE oracle: encode the
    documents table into stripes (direct stripe-file writes + footer
    manifest), then decode with one sarg tree driving
    stripe pruning, row-group pruning, and the compiled Catalyst row
    filter.  The decoded result must be exactly the matching rows — a
    stronger check than the stripe-count surface in
    stripe_prune_documents."""
    import tempfile

    from sparc.job import decode_job, encode_job

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="sparc_pdx_") + "/streams"
    encode_job.run_encode(
        docs, out, key="doc_id", n_stripes=4,
        resume=False,
    )
    pred = ("and", ("between", "doc_id", 100, 199), ("not", ("is_null", "lang")))
    dec = decode_job.run_decode(
        spark, out, columns=["doc_id", "lang", "n_chars"],
        stripe_filter=pred, row_filter=True,
    )
    return dec.select("doc_id", "lang", "n_chars").orderBy("doc_id")


_PRUNE_DECODE_DOCUMENTS_SQL = """
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id BETWEEN 100 AND 199 AND lang IS NOT NULL
ORDER BY doc_id
"""


def _neardata_agg_documents(spark, sf_dir):
    """Compute-near-data decode (run_decode_map): encode documents into
    stripes, decode every stripe and run a vectorized per-lang
    aggregate INSIDE the scan task — only per-stripe partials cross the
    Python->JVM boundary, never the decoded corpus.  Full SQL value
    oracle (per-lang text byte totals and counts)."""
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc

    from sparc.job import decode_job, encode_job

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="sparc_nd_") + "/streams"
    encode_job.run_encode(
        docs, out, key="doc_id", n_stripes=4,
        resume=False,
    )

    def per_lang(t: pa.Table) -> pa.Table:
        keep = pc.is_valid(t["lang"])
        lang = t["lang"].filter(keep)
        text = pc.cast(t["text"].filter(keep), pa.large_binary())
        g = pa.table(
            {"lang": lang, "b": pc.binary_length(text)}
        ).group_by("lang").aggregate([("b", "sum"), ("b", "count")])
        return pa.table(
            {
                "lang": g["lang"],
                "tb": pc.cast(g["b_sum"], pa.int64()),
                "cnt": pc.cast(g["b_count"], pa.int64()),
            }
        )

    partials = decode_job.run_decode_map(
        spark, out, per_lang, "lang string, tb long, cnt long",
        columns=["lang", "text"],
    )
    return (
        partials.groupBy("lang")
        .agg(F.sum("tb").alias("text_bytes"), F.sum("cnt").alias("n_texts"))
        .orderBy("lang")
    )


_NEARDATA_AGG_DOCUMENTS_SQL = """
SELECT lang,
       CAST(sum(strlen(text)) AS BIGINT) AS text_bytes,
       CAST(count(text) AS BIGINT) AS n_texts
FROM documents
WHERE lang IS NOT NULL
GROUP BY lang
ORDER BY lang
"""


def _stripe_prune_documents(spark, sf_dir):
    """Engine-internal: encode documents into stripes with stats+bloom,
    then count stripes kept by a stats range probe and a bloom point
    probe (both prune without touching data streams)."""
    import tempfile

    from pyspark.sql import functions as F2

    from sparc.job import decode_job, encode_job

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="sparc_prune_") + "/streams"
    encode_job.run_encode(
        docs, out, key="doc_id", n_stripes=4,
        resume=False, bloom_columns=["lang"],
    )
    total = len(encode_job.completed_stripes(spark, out))
    probe_lang = docs.orderBy("doc_id").first()["lang"]
    kept_stats = len(decode_job.prune_stripes(spark, out, "doc_id", lo=0, hi=10))
    kept_bloom = len(decode_job.prune_stripes_bloom(spark, out, "lang", probe_lang))
    kept_bloom_absent = len(
        decode_job.prune_stripes_bloom(spark, out, "lang", "zz-not-a-lang")
    )
    # composite SearchArgument tree (AND/OR/NOT + IN/BETWEEN) evaluated
    # distributively over the footer metadata
    kept_composite = decode_job.prune_stripes_df(
        spark,
        out,
        (
            "and",
            ("between", "doc_id", 0, 10),
            ("not", ("is_null", "lang")),
            ("or", ("in", "lang", ["zz-nope"]), (">=", "doc_id", 0)),
        ),
    ).count()
    kept_impossible = decode_job.prune_stripes_df(
        spark, out, ("and", ("<", "doc_id", 0), (">", "doc_id", 10**9))
    ).count()
    return spark.createDataFrame(
        [(total, kept_stats, kept_bloom, kept_bloom_absent, kept_composite,
          kept_impossible)],
        "n_stripes long, kept_stats long, kept_bloom long, kept_bloom_absent long, "
        "kept_composite long, kept_impossible long",
    )


def _roundtrip_structs(spark, sf_dir):
    """Nested-type round-trip (struct, struct-of-struct, list) through the
    real stripe engine; mismatches must be zero."""
    import pyarrow as pa

    docs = _t(spark, sf_dir, "documents")
    nested = docs.select(
        "doc_id",
        F.struct(
            F.col("lang").alias("lang"), F.length("text").alias("n")
        ).alias("meta"),
        F.struct(
            F.struct(F.col("source").alias("src")).alias("inner"),
            F.pmod(F.col("doc_id"), F.lit(5)).cast("long").alias("k"),
        ).alias("deep"),
        F.split(F.col("lang"), "-").alias("parts"),
    )

    def rt(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from sparc.engine import stripe as stripe_mod

        got = list(batches)
        if not got:
            return
        t = pa.Table.from_batches(got)
        streams, footer = stripe_mod.encode_stripe(t)
        out = stripe_mod.decode_stripe(streams, footer)
        yield from out.to_batches(max_chunksize=10_000)

    decoded = nested.mapInArrow(rt, schema=nested.schema)
    n_mismatch = _count_mismatches(nested, decoded)
    return spark.createDataFrame(
        [(nested.count(), n_mismatch)], "n_rows long, n_mismatch long"
    )


_ROUNDTRIP_STRUCTS_SQL = (
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch "
    "FROM documents"
)


def _rowgroup_prune_events(spark, sf_dir):
    """Row-group index end-to-end: encode events sorted by event_id with a
    1k stride, decode through a narrow composite predicate, and report
    the match count plus whether intra-stripe pruning actually reduced
    the decoded row count (the read-amplification contract)."""
    import tempfile

    from sparc.job import decode_job, encode_job

    ev = _t(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="sparc_rg_") + "/streams"
    # stride 104 (multiple of 8, PRESENT byte alignment) so even the
    # sf0.001 fixture yields several row groups per stripe
    encode_job.run_encode(
        ev, out, key="event_id", n_stripes=2,
        sort_within=["event_id"], resume=False, row_index_stride=104,
    )
    total = ev.count()
    pred = ("and", ("between", "event_id", 100, 299), ("not", ("is_null", "event_id")))
    decoded = decode_job.run_decode(spark, out, stripe_filter=pred)
    n_decoded = decoded.count()
    n_match = decoded.filter(F.col("event_id").between(100, 299)).count()
    return spark.createDataFrame(
        [(total, n_match, bool(n_decoded < total))],
        "n_rows long, n_match long, pruned boolean",
    )


def _rowgroup_prune_sql(sf: str = "") -> str:
    return (
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(sum(CASE WHEN event_id BETWEEN 100 AND 299 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_match, CAST(1 AS BOOLEAN) AS pruned FROM events"
    )


def _roundtrip_decimal(spark, sf_dir):
    """Decimal columns through the real stripe engine — decimal64
    (unscaled int64 + RLEv2) AND the unbounded > 18-digit path
    (zigzag-varint 128-bit mantissa + RLE scale, sparc.kernels.bigdec);
    mismatches must be zero."""
    import pyarrow as pa

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,4)").alias("price"),
        F.when(F.col("l_linenumber") % 7 == 0, None)
        .otherwise(F.col("l_discount"))
        .cast("decimal(6,4)")
        .alias("disc"),
        # unbounded path: force > 2^64 unscaled magnitudes so the high
        # word is genuinely exercised, nulls included
        (F.col("l_extendedprice").cast("decimal(20,2)") * F.lit(10**16).cast("decimal(17,0)"))
        .cast("decimal(38,10)")
        .alias("big"),
        F.when(F.col("l_linenumber") % 5 == 0, None)
        .otherwise(-F.col("l_extendedprice"))
        .cast("decimal(25,12)")
        .alias("bigneg"),
    )

    def rt(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from sparc.engine import stripe as stripe_mod

        got = list(batches)
        if not got:
            return
        t = pa.Table.from_batches(got)
        streams, footer = stripe_mod.encode_stripe(t)
        out = stripe_mod.decode_stripe(streams, footer)
        yield from out.to_batches(max_chunksize=10_000)

    decoded = li.mapInArrow(rt, schema=li.schema)
    n_mismatch = _count_mismatches(li, decoded)
    return spark.createDataFrame(
        [(li.count(), n_mismatch)], "n_rows long, n_mismatch long"
    )


_ROUNDTRIP_DECIMAL_SQL = (
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch "
    "FROM lineitem"
)


def _orc_crossread_gate(spark, src: DataFrame) -> DataFrame:
    """Shared reference cross-read gate: each partition writes a REAL
    ORC file with the engine's own kernels (sparc.engine.orcfile —
    hand-built protobuf tail), then the reference reader itself
    (Spark's bundled orc-core Java reader) reads the files back;
    mismatches must be zero.  Local-mode note: executors and driver
    share a filesystem, so a tempdir sink is valid here."""
    import os
    import tempfile

    import pyarrow as pa

    out_dir = tempfile.mkdtemp(prefix="sparc_orcx_")

    def write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from sparc.engine import orcfile

        got = list(batches)
        if not got:
            return
        t = pa.Table.from_batches(got)
        pid = TaskContext.get().partitionId()
        orcfile.write_orc(t, os.path.join(out_dir, f"part-{pid:05d}.orc"))
        yield pa.RecordBatch.from_arrays(
            [pa.array([t.num_rows], pa.int64())], names=["n"]
        )

    n_written = (
        src.repartition(2).mapInArrow(write, "n long").agg(F.sum("n")).collect()[0][0]
    )
    back = spark.read.orc(out_dir).select(*src.columns)
    n_mismatch = _count_mismatches(src, back)
    return spark.createDataFrame(
        [(int(n_written), int(n_mismatch))], "n_rows long, n_mismatch long"
    )


def _orc_crossread_documents(spark, sf_dir):
    """RLEv2 / sorted-dictionary / PRESENT-bitfield cross-read over the
    documents table."""
    return _orc_crossread_gate(spark, _t(spark, sf_dir, "documents"))


_ORC_CROSSREAD_SQL = (
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch "
    "FROM documents"
)


def _orc_seek_crossread(spark, sf_dir):
    """Consumer-side seek parity (RecordReaderImpl.seekToRowEntry analog,
    RecordReaderImpl.java): the reference Java writer writes an indexed
    ORC file from the documents table; our kernels seek into interior row
    groups via the file's own ROW_INDEX positions and must reproduce the
    full read's slices exactly."""
    import glob
    import tempfile

    import pyarrow as pa

    from sparc.engine import orcread

    docs = _t(spark, sf_dir, "documents").orderBy("doc_id").coalesce(1)
    d = tempfile.mkdtemp(prefix="sparc_seek_") + "/orc"
    docs.write.mode("overwrite").option("compression", "zlib").option(
        "orc.row.index.stride", "1000"
    ).orc(d)
    path = glob.glob(d + "/*.orc")[0]
    full = orcread.read_orc(path)
    stride = 1000
    n_groups = (full.num_rows + stride - 1) // stride
    sel = sorted({1, n_groups // 2, n_groups - 1} & set(range(n_groups)))
    got = orcread.read_orc_row_groups(path, sel)
    exp = pa.concat_tables(
        [full.slice(g * stride, stride) for g in sel]
    )
    mism = 0 if got.equals(exp) else 1
    return spark.createDataFrame(
        [(full.num_rows, int(got.num_rows == exp.num_rows and not mism))],
        "n_rows long, seek_ok long",
    )


_ORC_SEEK_SQL = (
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(1 AS BIGINT) AS seek_ok "
    "FROM documents"
)


def _orc_stripe_prune_crossread(spark, sf_dir):
    """Stripe-level statistics pruning through the ORC Metadata section
    (round 4): our writer emits per-stripe StripeStatistics, our
    consumer refutes whole stripes from the tail before touching any
    stripe bytes (sargApp.pickStripes analog one level above
    pickRowGroups), then row-group-prunes and decodes the survivors.
    Value-exact oracle: the returned rows ARE the filter's rows, so
    DuckDB checks the whole prune+decode path end-to-end — a stripe
    wrongly refuted would lose rows, a decode drift would change them."""
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc

    from sparc.engine import orcfile, orcread

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).orderBy("doc_id")
    t = pa.Table.from_batches(docs._collect_as_arrow())
    n = t.num_rows
    path = tempfile.mkdtemp(prefix="sparc_sprune_") + "/docs.orc"
    orcfile.write_orc(
        t, path, rows_per_stripe=max(n // 5, 8), row_index_stride=104,
        compression="ZLIB",
    )
    ids = t.column("doc_id")
    lo = ids[n * 2 // 5].as_py()
    hi = ids[min(n * 2 // 5 + max(n // 50, 5), n - 1)].as_py()
    got, total_g, kept_g = orcread.read_orc_filtered(
        path, ("between", "doc_id", lo, hi)
    )
    if n >= 40 and kept_g >= total_g:
        raise AssertionError(
            f"stripe/rowgroup pruning never engaged: kept {kept_g}/{total_g}"
        )
    # residual row-level filter on the surviving groups' rows
    mask = pc.and_(
        pc.greater_equal(got.column("doc_id"), lo),
        pc.less_equal(got.column("doc_id"), hi),
    )
    exact = got.filter(mask).sort_by("doc_id")
    return spark.createDataFrame(
        exact.to_pandas(), "doc_id long, lang string, n_chars long"
    )


def _orc_stripe_prune_sql(sf_dir_rows_hint: None = None) -> str:
    # mirrors the positional lo/hi pick above: doc_ids are the sorted
    # distinct ids, lo at index floor(n*2/5), hi at index
    # min(floor(n*2/5) + max(n//50, 5), n-1)
    return (
        "WITH ordered AS (SELECT doc_id FROM documents ORDER BY doc_id), "
        "n AS (SELECT count(*) AS c FROM documents), "
        "bounds AS (SELECT "
        " (SELECT doc_id FROM ordered LIMIT 1 OFFSET (SELECT (c*2)//5 FROM n)) AS lo, "
        " (SELECT doc_id FROM ordered LIMIT 1 OFFSET (SELECT "
        "   CASE WHEN (c*2)//5 + greatest(c//50, 5) > c-1 THEN c-1 "
        "        ELSE (c*2)//5 + greatest(c//50, 5) END FROM n)) AS hi) "
        "SELECT d.doc_id AS doc_id, d.lang AS lang, d.n_chars AS n_chars "
        "FROM documents d, bounds b WHERE d.doc_id BETWEEN b.lo AND b.hi "
        "ORDER BY d.doc_id"
    )


def _prep_pipeline_documents(spark, sf_dir):
    """Composite training-data prep step — the realistic chain a corpus
    pass runs: quality filter (JVM expression score) -> exact dedup
    (map-side sha2 digests, min-id keeper) -> per-language doc/token
    stats.  Full SQL oracle: every stage is SQL-expressible, so DuckDB
    value-checks the whole pipeline end-to-end."""
    from sparc.ops import dedup as dedup_ops
    from sparc.ops import text as text_ops

    docs = _t(spark, sf_dir, "documents")
    kept = docs.filter(text_ops.quality_score_col(F.col("text")) >= 0.5)
    uniq = dedup_ops.dedup_exact(kept)
    return (
        uniq.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(text_ops.token_count_col(F.col("text"))).cast("long").alias(
                "n_tokens"
            ),
        )
        .orderBy("lang")
    )


def _prep_pipeline_sql():
    from sparc.ops import text as text_ops

    q = text_ops.quality_score_sql("text")
    tok = text_ops.token_count_sql("text")
    return f"""
WITH kept AS (SELECT * FROM documents WHERE ({q}) >= 0.5),
keepers AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY sha256(text)),
uniq AS (SELECT kept.* FROM kept JOIN keepers USING (doc_id))
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum({tok}) AS BIGINT) AS n_tokens
FROM uniq GROUP BY lang ORDER BY lang
"""


def _orc_nested_crossread(spark, sf_dir):
    """Nested + unbounded-decimal cross-read gate: partitions write REAL
    ORC files carrying an array<float> column, a struct column and a
    decimal(38,10) column whose mantissas exceed 64 bits, through the
    engine's pre-order type-tree writer (sparc.engine.orcfile —
    List/Struct/DecimalTreeWriter semantics, bigdec varint mantissas);
    the reference Java reader reads them back; mismatches must be 0."""
    src = (
        _t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "embedding",
            F.struct(
                F.col("label").alias("label"),
                (F.col("vec_id") % 7).alias("bucket"),
            ).alias("meta"),
            # mantissa = vec_id * 1.23e20 at scale 10 — always > 2^63,
            # so every row takes the unbounded-mantissa path
            (
                F.col("vec_id").cast("decimal(28,10)")
                * F.lit("12345678901.0123456789").cast("decimal(28,10)")
            ).cast("decimal(38,10)").alias("amount"),
        )
    )
    return _orc_crossread_gate(spark, src)


_ORC_NESTED_CROSSREAD_SQL = (
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch "
    "FROM embeddings"
)


def _schema_evolution_documents(spark, sf_dir):
    """Reader-schema mapping end-to-end: encode documents, decode with a
    reader schema that reorders, widens (n_chars long->double), drops
    (text/source) and adds (quality double, null-filled) columns."""
    import tempfile

    from sparc.job import decode_job, encode_job

    docs = _t(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="sparc_evo_") + "/streams"
    encode_job.run_encode(
        docs, out, key="doc_id", n_stripes=2, resume=False
    )
    return decode_job.run_decode(
        spark, out,
        reader_schema="lang string, doc_id long, n_chars double, quality double",
    )


_SCHEMA_EVOLUTION_SQL = """
SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS n_chars,
       CAST(NULL AS DOUBLE) AS quality
FROM documents
"""


def _compact_roundtrip(spark, sf_dir):
    """appendStripe analog end-to-end (WriterImpl.appendStripe,
    org/apache/orc/impl/WriterImpl.java:854-904): encode two disjoint
    halves of documents into separate manifests, compact them into one
    (stripe-id renumber + footer rewrite only — no data bytes move, no
    kernel runs), decode the compacted manifest and count rows failing
    bit-identical reconstruction against the source table."""
    import tempfile

    from sparc.job import compact_job, decode_job, encode_job

    docs = _t(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="sparc_cmp_")
    a, b, out = f"{base}/a", f"{base}/b", f"{base}/all"
    encode_job.run_encode(
        docs.filter(F.col("doc_id") % 2 == 0), a,
        key="doc_id", n_stripes=2, resume=False,
    )
    encode_job.run_encode(
        docs.filter(F.col("doc_id") % 2 == 1), b,
        key="doc_id", n_stripes=2, resume=False,
    )
    info = compact_job.compact(spark, [a, b], out)
    decoded = decode_job.run_decode(spark, out)
    n_mismatch = _count_mismatches(docs, decoded)
    return spark.createDataFrame(
        [(docs.count(), n_mismatch, int(info["n_stripes"]))],
        "n_rows long, n_mismatch long, n_stripes long",
    )


_COMPACT_ROUNDTRIP_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(4 AS BIGINT) AS n_stripes
FROM documents
"""


def _multimodal_features(spark, sf_dir):
    """Scalar metadata surface of the multimodal plumbing (value-checked);
    the array<float> feature column lives in extract_features and is
    exercised by multimodal_feature_fp below + pytest."""
    from sparc.ops import multimodal

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return multimodal.extract_metadata(docs, id_col="doc_id", payload_col="payload")


_MULTIMODAL_SQL = """
WITH p AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
  FROM documents)
SELECT doc_id AS id,
       CAST(nb AS BIGINT) AS n_bytes,
       lower(substring(hx, 1, LEAST(nb, 8) * 2)) AS header,
       CAST(CASE WHEN nb = 0 THEN 0
            ELSE 64 + CAST(('0x' || substring(hx, 1, 2)) AS INT) % 64 END AS INT)
         AS fake_width,
       CAST(CASE WHEN nb = 0 THEN 0
            ELSE 64 + CAST(('0x' || substring(hx, 2 * nb - 1, 2)) AS INT) % 64 END AS INT)
         AS fake_height
FROM p
"""


def _multimodal_feature_fp(spark, sf_dir):
    """Full feature path (stubbed decode → 8-dim vector) distributed via
    mapInArrow; emits the deterministic int64 fingerprint per doc."""
    from sparc.ops import multimodal

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    feats = multimodal.extract_features(docs, id_col="doc_id", payload_col="payload")
    return feats.select("id", "feat_fp")


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: real encoder metrics over sf0.001 documents."""
    return _encode_metrics(spark, "/root/testdata/sf0.001", "documents")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # engine semantics, SQL-mirrored
        "stats_lineitem": _stats_lineitem,
        "stripe_stats_events": _stripe_stats_events,
        "dict_lang_codes": _dict_lang_codes,
        "dict_decision": _dict_decision,
        "rle_runs_orders": _rle_runs_orders,
        "timestamp_split_events": _timestamp_split_events,
        "length_stream_documents": _length_stream_documents,
        # engine internals (real kernels in mapInArrow)
        "roundtrip_documents": lambda s, d: _roundtrip_mismatches(s, d, "documents"),
        "roundtrip_events": lambda s, d: _roundtrip_mismatches(s, d, "events"),
        "roundtrip_lineitem": lambda s, d: _roundtrip_mismatches(s, d, "lineitem"),
        "roundtrip_embeddings": lambda s, d: _roundtrip_mismatches(s, d, "embeddings"),
        "roundtrip_structs": _roundtrip_structs,
        "roundtrip_decimal": _roundtrip_decimal,
        "rowgroup_prune_events": _rowgroup_prune_events,
        "schema_evolution_documents": _schema_evolution_documents,
        "compact_roundtrip": _compact_roundtrip,
        "orc_crossread_documents": _orc_crossread_documents,
        "orc_nested_crossread": _orc_nested_crossread,
        "orc_seek_crossread": _orc_seek_crossread,
        "orc_stripe_prune_crossread": _orc_stripe_prune_crossread,
        "encode_metrics_documents": lambda s, d: _encode_metrics(s, d, "documents"),
        # training-data pipeline ops
        "text_profile": _text_profile,
        "prep_pipeline_documents": _prep_pipeline_documents,
        "dedup_exact": _dedup_exact,
        "ngram_jaccard_pairs": _ngram_jaccard,
        "minhash_lsh_candidates": _minhash_candidates,
        "simhash": _simhash,
        "simsearch_topk": _simsearch_topk,
        "lsh_topk": _lsh_topk,
        "lsh_recall": _lsh_recall,
        "ivf_topk": _ivf_topk,
        "ivf_recall": _ivf_recall,
        "embedding_dups": _embedding_dups,
        "embedding_dups_exact": _embedding_dups_exact,
        "multimodal_features": _multimodal_features,
        "multimodal_feature_fp": _multimodal_feature_fp,
        # masking + pruning surfaces
        "mask_redact": _mask_redact,
        "mask_sha256": _mask_sha256,
        "char_varchar_documents": _char_varchar_documents,
        "stripe_prune_documents": _stripe_prune_documents,
        "prune_decode_documents": _prune_decode_documents,
        "neardata_agg_documents": _neardata_agg_documents,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "stats_lineitem": _STATS_LINEITEM_SQL,
        "stripe_stats_events": _STRIPE_STATS_EVENTS_SQL,
        "dict_lang_codes": _DICT_LANG_CODES_SQL,
        "dict_decision": _DICT_DECISION_SQL,
        "rle_runs_orders": _RLE_RUNS_ORDERS_SQL,
        "timestamp_split_events": _TIMESTAMP_SPLIT_SQL,
        "length_stream_documents": _LENGTH_STREAM_SQL,
        "roundtrip_documents": "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch FROM documents",
        "roundtrip_events": "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch FROM events",
        "roundtrip_lineitem": "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch FROM lineitem",
        "roundtrip_embeddings": "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch FROM embeddings",
        "compact_roundtrip": _COMPACT_ROUNDTRIP_SQL,
        "roundtrip_structs": _ROUNDTRIP_STRUCTS_SQL,
        "roundtrip_decimal": _ROUNDTRIP_DECIMAL_SQL,
        "rowgroup_prune_events": _rowgroup_prune_sql(),
        "schema_evolution_documents": _SCHEMA_EVOLUTION_SQL,
        "orc_crossread_documents": _ORC_CROSSREAD_SQL,
        "orc_seek_crossread": _ORC_SEEK_SQL,
        "orc_stripe_prune_crossread": _orc_stripe_prune_sql(),
        "orc_nested_crossread": _ORC_NESTED_CROSSREAD_SQL,
        "text_profile": _text_profile_sql(),
        "prep_pipeline_documents": _prep_pipeline_sql(),
        "dedup_exact": _DEDUP_EXACT_SQL,
        "ngram_jaccard_pairs": _NGRAM_JACCARD_SQL,
        "simsearch_topk": _SIMSEARCH_SQL,
        "lsh_recall": _LSH_RECALL_SQL,
        "embedding_dups_exact": _EMBEDDING_DUPS_EXACT_SQL,
        "prune_decode_documents": _PRUNE_DECODE_DOCUMENTS_SQL,
        "neardata_agg_documents": _NEARDATA_AGG_DOCUMENTS_SQL,
        "ivf_topk": _SIMSEARCH_SQL,  # nprobe==nlist: IVF is exact
        "ivf_recall": _IVF_RECALL_SQL,
        "mask_redact": _MASK_REDACT_SQL,
        "mask_sha256": _MASK_SHA256_SQL,
        "char_varchar_documents": _CHAR_VARCHAR_SQL,
        "multimodal_features": _MULTIMODAL_SQL,
        # rows-only (non-SQL-expressible: xxhash64-based or by-design approximate):
        # encode_metrics_documents, minhash_lsh_candidates, simhash, lsh_topk,
        # embedding_dups, multimodal_feature_fp, stripe_prune_documents
    }
