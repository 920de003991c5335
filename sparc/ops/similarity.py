"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline.  Dot products are
  JVM-side ``aggregate(zip_with(...))`` — no Python in the plan.  The
  query side is broadcast; the corpus side streams, so the plan scales
  linearly with corpus size (no shuffle of the corpus at all).
- banded hyperplane LSH ANN: the 100TB path — B independent band tables
  of P sign-bit planes each; a pair is a candidate if it collides in ANY
  band, so per-band buckets stay small (the self-join inside a bucket is
  bounded, never ~(N/buckets)^2 over one giant table) while recall for
  high-similarity pairs stays near 1 (1-(1-p^P)^B).  Degenerate hot
  buckets are dropped by a population cap (skew guard).  Hyperplanes are
  deterministic literals (seeded numpy), embedded in the plan, so two
  runs (or two cluster sizes) see identical buckets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..job.partition import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query (query side broadcast)."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("sim", _dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv"))))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "corpus_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("sim", round_to).alias("sim"),
        )
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def lsh_bucket_col(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id from deterministic hyperplane literals."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(_dot(vec_col, plane) > 0, F.lit(2**i)).otherwise(0)
    return bucket.cast("long")


def _banded_buckets(
    df: DataFrame, id_alias: str, vec_alias: str, dim: int,
    n_bands: int, planes_per_band: int, seed: int,
) -> DataFrame:
    """(id, vector, band, bucket) with one row per band — the banded
    multi-table hyperplane LSH structure (same shape as the MinHash band
    join): a pair is a candidate if it shares a bucket in ANY band, so
    per-band buckets can stay small (2^planes_per_band per band) without
    tanking recall.  Planes are deterministic literals: two runs (or two
    cluster sizes) see identical buckets."""
    frames = []
    for b in range(n_bands):
        planes = hyperplanes(dim, planes_per_band, seed + 1000 * b)
        frames.append(
            df.select(
                id_alias,
                vec_alias,
                F.lit(b).alias("band"),
                lsh_bucket_col(F.col(vec_alias), planes).alias("bucket"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 4,
    planes_per_band: int = 4,
    seed: int = 42,
    round_to: int = 4,
) -> DataFrame:
    """ANN top-k: banded hyperplane LSH candidate join + exact rescoring.

    The corpus streams through a broadcast join against the (small) query
    side's per-band buckets — no corpus shuffle; candidate dedup happens
    on (query_id, corpus_id) before scoring so each pair is scored once
    regardless of how many bands it collides in."""
    dim = int(corpus.select(F.size(F.col(vec_col)).alias("d")).first()["d"])
    c = _banded_buckets(
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        ),
        "corpus_id", "cv", dim, n_bands, planes_per_band, seed,
    )
    q = _banded_buckets(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        ),
        "query_id", "qv", dim, n_bands, planes_per_band, seed,
    )
    cand = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .groupBy("query_id", "corpus_id")
        .agg(F.first("cv").alias("cv"), F.first("qv").alias("qv"))
    )
    scored = cand.withColumn(
        "sim", _dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", F.col("rank").cast("long").alias("rank"),
                F.round("sim", round_to).alias("sim"))
    )


def _sq_norm(v):
    return F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer.

    Assignment is an argmin over ``nlist`` literal-centroid distance
    expressions (no corpus blow-up); the update is a
    posexplode->groupBy(cluster, dim) mean — a shuffle of n*dim scalars,
    bounded at scale by ``sample_mod`` (train on the deterministic
    1/sample_mod xxhash64 sample, the standard IVF practice).  Returns
    nlist x dim centroid literals, reproducible across runs and cluster
    sizes."""
    v = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if sample_mod > 1:
        v = v.filter(F.pmod(F.xxhash64("id"), F.lit(sample_mod)) == 0)
    dim = int(v.select(F.size("v").alias("d")).first()["d"])
    # deterministic init: the nlist sample vectors with smallest salted hash
    init = (
        v.withColumn("h", F.xxhash64("id", F.lit(seed)))
        .orderBy("h")
        .limit(nlist)
        .select("v")
        .collect()
    )
    centroids = [list(r["v"]) for r in init]
    for _ in range(iters):
        assigned = v.withColumn(
            "cluster", _nearest_centroid_col(F.col("v"), centroids)
        )
        rows = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty clusters keep position
        for r in rows:
            new[r["cluster"]][r["pos"]] = r["m"]
        centroids = new
    return [[round(float(x), 6) for x in c] for c in centroids]


def _nearest_centroid_col(vec_col, centroids: list[list[float]]):
    """argmin_c ( |c|^2 - 2 c.v ) as a pure-JVM expression (|v|^2 is
    constant across candidates)."""
    dists = []
    for c in centroids:
        lit = F.array(*[F.lit(float(x)) for x in c])
        sq = float(sum(x * x for x in c))
        dists.append(F.lit(sq) - 2.0 * _dot(vec_col, lit))
    d = F.array(*dists)
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    round_to: int = 4,
) -> DataFrame:
    """IVF ANN top-k: coarse-quantize the corpus into ``nlist`` inverted
    lists, probe each query's ``nprobe`` nearest lists, rescore exactly.

    The corpus side is a single argmin expression (one pass, no
    blow-up); the query side (small, broadcastable) ranks centroids via
    a cross join with the nlist-row centroid table.  Recall grows with
    nprobe/nlist; nprobe == nlist degenerates to exact search."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, nlist=nlist, iters=iters, id_col=id_col, vec_col=vec_col,
            sample_mod=sample_mod, seed=seed,
        )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cluster", _nearest_centroid_col(F.col("cv"), centroids))
    spark = corpus.sparkSession
    cent_df = local_frame(
        spark, list(enumerate(centroids)), "cluster int, cvec array<double>"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    qd = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "cdist", _sq_norm(F.col("cvec")) - 2.0 * _dot(F.col("qv"), F.col("cvec"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("cluster"))
    probes = (
        qd.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "qv", "cluster")
    )
    scored = (
        c.join(F.broadcast(probes), "cluster")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn(
            "sim", _dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv")))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", F.col("rank").cast("long").alias("rank"),
                F.round("sim", round_to).alias("sim"))
    )


def embedding_cosine_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 4,
    planes_per_band: int = 4,
    seed: int = 42,
    bucket_cap: int = 10_000,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded LSH + exact cosine.

    Self-join happens only within a (band, bucket); per-band buckets are
    small by construction and ``bucket_cap`` drops degenerate buckets
    (e.g. a zero-vector pile-up) before they go quadratic — the same
    skew guard as the stop-shingle filter in ngram_jaccard_pairs.  Pairs
    are deduped across bands before the exact rescoring."""
    dim = int(df.select(F.size(F.col(vec_col)).alias("d")).first()["d"])
    v = _banded_buckets(
        df.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        ),
        "id", "v", dim, n_bands, planes_per_band, seed,
    )
    hot = (
        v.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > bucket_cap)
    )
    v = v.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.first("a.v").alias("va"), F.first("b.v").alias("vb"))
    )
    return (
        cand.withColumn(
            "sim", _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 4).alias("sim"))
    )
