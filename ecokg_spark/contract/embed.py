"""Embedding / similarity rows: cosine and ANN top-k, quantization, k-means, centroids, topic cards."""

from __future__ import annotations

from ecokg_spark.functions.text import normalize_ws
from ecokg_spark.operators.similarity import brute_force_topk, lsh_topk
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ecokg_spark.contract._shared import (
    _HEX15,
    _NORM_SQL,
    _sql_kmeans_assign,
    _sql_kmeans_update,
    t,
)


def q_group_centroids(spark, sf):
    """Per-label embedding centroids (operators/embed.py
    group_centroids): decimal-staged per-dimension sums make the mean
    exact on any engine and any accumulation order — the k-means-update
    / class-mean primitive over the embeddings table. Emitted as scalar
    (label, n_vectors, dim, value) rows, one per centroid component."""
    from ecokg_spark.operators.embed import group_centroids

    e = t(spark, sf, "embeddings")
    return group_centroids(e, "embedding", "label").select(
        "label", "n_vectors", F.posexplode("centroid").alias("dim", "value"))


SQL_GROUP_CENTROIDS = """
WITH dims AS (
  SELECT label, u.d AS dim,
         CAST(CAST(u.v AS VARCHAR) AS DECIMAL(38,18)) AS v
  FROM (
    SELECT label,
           unnest(list_transform(range(len(embedding)),
                  i -> struct_pack(d := i, v := embedding[i + 1]))) AS u
    FROM embeddings)
),
per_dim AS (
  SELECT label, dim,
         CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m,
         COUNT(*) AS n
  FROM dims GROUP BY label, dim
)
SELECT label, CAST(MAX(n) OVER (PARTITION BY label) AS BIGINT) AS n_vectors,
       CAST(dim AS INT) AS dim, m AS value
FROM per_dim
"""


def q_cosine_topk(spark, sf):
    """Exact brute-force cosine top-10 for 3 query vectors."""
    e = t(spark, sf, "embeddings")
    qs = e.where(F.col("vec_id").isin(0, 1, 2))
    return brute_force_topk(e, qs, k=10).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank")
    )


SQL_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0,1,2)),
sims AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
             AS cos
  FROM embeddings c CROSS JOIN q
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM sims
) WHERE rank <= 10
"""


def q_ann_ivf_topk(spark, sf):
    """IVF inverted-list ANN run in its exhaustive configuration
    (n_probe == n_centroids probes every list): the result must equal the
    exact cosine top-k, so the brute-force SQL oracle checks the whole
    train -> assign -> probe -> re-rank machinery end to end. Production
    configs use n_probe << n_centroids (recall asserted in pytest)."""
    from ecokg_spark.operators.similarity import ivf_topk

    e = t(spark, sf, "embeddings")
    qs = e.where(F.col("vec_id").isin(0, 1, 2))
    return ivf_topk(e, qs, k=10, n_centroids=16, n_probe=16).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank")
    )


def q_ann_lsh_topk(spark, sf):
    """RP-LSH top-k run in its exhaustive configuration (planes=0 -> one
    bucket, every row a candidate): the result must equal the exact cosine
    top-k, so the brute-force SQL oracle checks the whole bucket -> join ->
    dedup -> re-rank machinery end to end (same degeneration trick as
    ann_ivf_topk). Production configs use planes>0; their recall floor is
    pytest-asserted vs brute force (tests/test_similarity.py)."""
    e = t(spark, sf, "embeddings")
    qs = e.where(F.col("vec_id").isin(0, 1, 2))
    return lsh_topk(e, qs, k=10, planes=0, tables=1).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank")
    )


def _hashed_embed_sql(dims: int) -> str:
    """Hashed-BoW oracle: md5-bucket histogram -> L2 normalize, with the
    sum-of-squares written as a left-chained expression so float
    accumulation order matches Spark's F.aggregate fold exactly."""
    cases = ", ".join(
        f"SUM(CASE WHEN bkt = {k} THEN c ELSE 0.0 END)" for k in range(dims))
    sumsq = "0.0"
    for k in range(1, dims + 1):
        sumsq = f"({sumsq} + dv[{k}] * dv[{k}])"
    zeros = ", ".join("0.0" for _ in range(dims))
    return f"""
WITH tk AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL.format(c='text')}, ' ')) AS t
  FROM documents
),
tk2 AS (SELECT doc_id, t FROM tk WHERE t <> ''),
b AS (
  SELECT doc_id,
         CAST({_HEX15.format(h='md5(t)')} % {dims} AS INT) AS bkt
  FROM tk2
),
c AS (SELECT doc_id, bkt, CAST(COUNT(*) AS DOUBLE) AS c
      FROM b GROUP BY doc_id, bkt),
v AS (SELECT doc_id, list_value({cases}) AS dv FROM c GROUP BY doc_id),
nv AS (
  SELECT doc_id,
         CASE WHEN sqrt({sumsq}) > 0
              THEN list_transform(dv, x -> x / sqrt({sumsq}))
              ELSE dv END AS embedding
  FROM v
)
SELECT d.doc_id,
       coalesce(nv.embedding, [{zeros}]) AS embedding
FROM documents d LEFT JOIN nv USING (doc_id)
"""


SQL_HASHED_EMBED = f"""
SELECT doc_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
       unnest(embedding) AS value
FROM ({_hashed_embed_sql(16)})
"""


def q_hashed_embed(spark, sf):
    """Model-free hashed bag-of-words embeddings (operators/embed.py) in
    the PORTABLE md5-bucket configuration: the oracle recomputes the
    16-dim unit vectors verbatim (bucket spec, index-ordered norm fold and
    all). Production uses the same plan with xxhash64 buckets. Emitted as
    scalar (doc_id, dim, value) rows, one per vector component."""
    from ecokg_spark.operators.embed import hashed_bow_embed

    d = t(spark, sf, "documents").select("doc_id", "text")
    e = hashed_bow_embed(d, "text", "doc_id", dims=16, portable=True)
    return e.select("doc_id", F.posexplode("embedding").alias("dim", "value"))


def q_kmeans(spark, sf):
    """Deterministic Lloyd k-means (operators/embed.py kmeans_lloyd,
    k=4, 2 rounds): md5-order seeds, strict-left-fold distances rounded
    to 9 dp before the argmin, decimal-staged exact centroid means; the
    oracle unrolls both rounds (seeds -> assign -> exact mean -> assign)
    with list_reduce as the same left fold."""
    from ecokg_spark.operators.embed import kmeans_lloyd

    e = t(spark, sf, "embeddings")
    return kmeans_lloyd(e, k=4, iterations=2).select(
        "vec_id", "cluster", "dist")


SQL_KMEANS = f"""
WITH seeds AS (
  SELECT rn - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
  FROM (
    SELECT embedding,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) AS rn
    FROM embeddings)
  WHERE rn <= 4),
{_sql_kmeans_assign('seeds', 'a1')[1:]},
{_sql_kmeans_update('a1', 'c1', 'seeds')[1:]},
{_sql_kmeans_assign('c1', 'a2')[1:]},
{_sql_kmeans_update('a2', 'c2', 'c1')[1:]},
{_sql_kmeans_assign('c2', 'a3')[1:]}
SELECT vec_id, CAST(cluster AS INT) AS cluster, dist FROM a3
"""


def q_int8_quantize(spark, sf):
    """Symmetric int8 embedding quantization (operators/embed.py
    int8_quantize): floor(x + 0.5) tie convention so both engines
    produce identical integers (ROUND would split HALF_UP/HALF_EVEN on
    exact midpoints). Emitted as scalar (vec_id, scale, dim, value) rows,
    one per quantized component."""
    from ecokg_spark.operators.embed import int8_quantize

    e = t(spark, sf, "embeddings")
    return int8_quantize(e).select(
        "vec_id", "scale", F.posexplode("qvec").alias("dim", "value"))


SQL_INT8_QUANTIZE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                       y -> abs(y)), 'max') AS m
  FROM embeddings),
q AS (
  SELECT vec_id,
         ROUND(m / 127.0, 6) AS scale,
         CASE WHEN m > 0
              THEN list_transform(x, y -> CAST(floor(127.0 * y / m + 0.5)
                                               AS INT))
              ELSE list_transform(x, y -> CAST(0 AS INT)) END AS qvec
  FROM v)
SELECT vec_id, scale, CAST(generate_subscripts(qvec, 1) - 1 AS INT) AS dim,
       unnest(qvec) AS value
FROM q
"""


def q_int8_topk(spark, sf):
    """Integer-exact retrieval over int8-quantized embeddings
    (operators/similarity.py int8_topk): BIGINT dot products need no
    rounding discipline at all — the ranking is bit-stable by
    construction. Queries = the three lowest vec_ids."""
    from ecokg_spark.operators.similarity import int8_topk

    e = t(spark, sf, "embeddings")
    return int8_topk(e, e.where(F.col("vec_id") < 3), k=5)


SQL_INT8_TOPK = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                       y -> abs(y)), 'max') AS m
  FROM embeddings),
q AS (
  SELECT vec_id,
         CASE WHEN m > 0
              THEN list_transform(x, y -> CAST(floor(127.0 * y / m + 0.5)
                                               AS BIGINT))
              ELSE list_transform(x, y -> CAST(0 AS BIGINT)) END AS qv
  FROM v),
d AS (
  SELECT a.vec_id AS query_id, b.vec_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(len(a.qv)),
                            i -> a.qv[i+1] * b.qv[i+1])),
           (acc, y) -> acc + y) AS dot
  FROM q a JOIN q b ON a.vec_id < 3 AND b.vec_id <> a.vec_id),
r AS (
  SELECT query_id, vec_id, dot,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot DESC, vec_id ASC) AS rank
  FROM d)
SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


def q_cluster_topics(spark, sf):
    """Deep composition — topic cards without a model: portable hashed
    bag-of-words embeddings -> one Lloyd round of deterministic k-means
    -> top-5 tokens per cluster by count. Every stage is individually
    certified (hashed_embed / kmeans / vocab machinery); the oracle
    replays the ENTIRE chain (hashed-BoW CTE, kmeans seed/assign/update
    CTEs, token top-k) in one query."""
    from ecokg_spark.functions.text import normalize_ws
    from ecokg_spark.operators.embed import hashed_bow_embed, kmeans_lloyd

    d = t(spark, sf, "documents").select("doc_id", "text")
    emb = hashed_bow_embed(d, "text", "doc_id", dims=16, portable=True)
    assigned = kmeans_lloyd(
        emb, vec_col="embedding", id_col="doc_id", k=4, iterations=1
    ).select("doc_id", "cluster")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(normalize_ws(F.col("text"))), " "))
         .alias("token"),
    ).where(F.col("token") != "")
    counts = (
        toks.join(assigned, "doc_id")
        .groupBy("cluster", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(F.col("cluster").cast("int").alias("cluster"),
                "token", "n", F.col("rank").cast("int").alias("rank"))
    )


SQL_CLUSTER_TOPICS = f"""
WITH he AS ({_hashed_embed_sql(16)}),
u AS (SELECT doc_id AS vec_id, embedding FROM he),
seeds AS (
  SELECT rn - 1 AS cid, embedding AS cent
  FROM (
    SELECT embedding,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) AS rn
    FROM u)
  WHERE rn <= 4),
{_sql_kmeans_assign('seeds', 'a1', 'u')[1:]},
{_sql_kmeans_update('a1', 'c1', 'seeds')[1:]},
{_sql_kmeans_assign('c1', 'a2', 'u')[1:]},
tk AS (
  SELECT doc_id,
         unnest(string_split(lower({_NORM_SQL.format(c='text')}), ' ')) AS t
  FROM documents),
tk2 AS (SELECT doc_id, t FROM tk WHERE t <> ''),
cnt AS (
  SELECT a2.cluster, tk2.t AS token, CAST(COUNT(*) AS BIGINT) AS n
  FROM tk2 JOIN a2 ON a2.vec_id = tk2.doc_id
  GROUP BY 1, 2),
r AS (
  SELECT cluster, token, n,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY n DESC, token ASC) AS rank
  FROM cnt)
SELECT CAST(cluster AS INT) AS cluster, token, n, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""
