"""Embedding-column quality assurance: norm distribution stats and
label-centroid separation — the checks you run on an embedding table
before trusting it for ANN / near-dup / clustering work.

Cross-engine determinism discipline: float sums over a GROUP are
order-dependent (Spark and DuckDB may reduce in different orders), so
every per-row float is first scaled to integer units (1e-4 norms,
1e-6 vector components) — integer sums are exact and associative, and
the final division/rounding is then the same double on both engines.
Per-ARRAY arithmetic (dot products, distances) keeps the array's
fixed element order on both engines and needs no such scaling.

Scale shapes: both queries are one scan of the embeddings table plus
label-sized (≤ |labels|·dim) aggregates; the pairwise centroid stage
runs on |labels|² rows, never on vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.similarity import _norm
from ..sources.catalog import load_table
from .analytics import query

@query(
    "embedding_norm_stats",
    """
    WITH n AS (
      SELECT label,
             cast(round(sqrt(list_sum(list_transform(embedding,
                        x -> x::DOUBLE * x::DOUBLE))) * 10000, 0) AS BIGINT)
                 AS norm_e4
      FROM embeddings)
    SELECT cast(label AS BIGINT) AS label,
           cast(count(*) AS BIGINT) AS n_vecs,
           round(sum(norm_e4) / (count(*) * 10000.0), 4) AS avg_norm,
           round(min(norm_e4) / 10000.0, 4) AS min_norm,
           round(max(norm_e4) / 10000.0, 4) AS max_norm
    FROM n GROUP BY 1
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm distribution of the embedding column — the
    first sanity check on any embedding ingest (collapsed or exploded
    norms mean a broken encoder or a bad cast).  Norms are quantized
    to 1e-4 integer units before the grouped sum so the aggregate is
    order-independent (see module docstring)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        F.col("label").cast("long").alias("label"),
        F.round(_norm(F.col("embedding")) * 10000, 0)
        .cast("long")
        .alias("norm_e4"),
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(
            F.sum("norm_e4") / (F.count(F.lit(1)) * 10000.0), 4
        ).alias("avg_norm"),
        F.round(F.min("norm_e4") / 10000.0, 4).alias("min_norm"),
        F.round(F.max("norm_e4") / 10000.0, 4).alias("max_norm"),
    )


@query(
    "label_centroid_distances",
    """
    WITH comp AS (
      SELECT label, i AS pos,
             cast(round(embedding[i]::DOUBLE * 1000000, 0) AS BIGINT) AS e6
      FROM embeddings,
           (SELECT unnest(generate_series(1, 64)) AS i)),
    cent AS (
      SELECT label, pos, sum(e6) / (count(*) * 1000000.0) AS c
      FROM comp GROUP BY 1, 2),
    vecs AS (
      SELECT label, list(c ORDER BY pos) AS vec FROM cent GROUP BY 1)
    SELECT cast(a.label AS BIGINT) AS label_a,
           cast(b.label AS BIGINT) AS label_b,
           round(sqrt(list_sum(list_transform(range(1, 65),
                 i -> (a.vec[i] - b.vec[i]) * (a.vec[i] - b.vec[i])))), 4)
               AS centroid_dist
    FROM vecs a JOIN vecs b ON a.label < b.label
    """,
)
def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean distance between every pair of label centroids — the
    class-separation view (is this embedding space clusterable?), and
    exactly the relational centroid computation an IVF trainer runs at
    scale: explode to (label, pos, component), aggregate per cell,
    rebuild ordered vectors, then work on the |labels|-sized table.
    Components quantize to 1e-6 integer units pre-sum (order-proof);
    the distance reduction runs in fixed array order on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        "pos",
        F.round(F.col("v").cast("double") * 1000000, 0)
        .cast("long")
        .alias("e6"),
    )
    cent = comp.groupBy("label", "pos").agg(
        (F.sum("e6") / (F.count(F.lit(1)) * 1000000.0)).alias("c")
    )
    vecs = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.getField("c"),
        ).alias("vec")
    )
    a = vecs.select(
        F.col("label").alias("label_a"), F.col("vec").alias("va")
    )
    b = vecs.select(
        F.col("label").alias("label_b"), F.col("vec").alias("vb")
    )
    pairs = a.crossJoin(b).filter(F.col("label_a") < F.col("label_b"))
    sq = F.zip_with(
        F.col("va"), F.col("vb"), lambda x, y: (x - y) * (x - y)
    )
    dist = F.sqrt(
        F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)
    )
    return pairs.select(
        "label_a", "label_b", F.round(dist, 4).alias("centroid_dist")
    )


@query(
    "embedding_covariance",
    """
    WITH comp AS (
      SELECT vec_id, i,
             cast(round(embedding[i]::DOUBLE * 1000000, 0) AS BIGINT) AS e6
      FROM embeddings, (SELECT unnest(generate_series(1, 8)) AS i)),
    p AS (
      SELECT a.i AS i, b.i AS j,
             count(*) AS n,
             sum(a.e6 * b.e6) AS sxy,
             sum(a.e6) AS sx,
             sum(b.e6) AS sy
      FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2)
    SELECT cast(i AS BIGINT) AS i, cast(j AS BIGINT) AS j,
           round(sxy / n / 1e12 - (sx / n / 1e6) * (sy / n / 1e6), 6)
               AS cov
    FROM p
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the first 8 embedding dimensions —
    the whitening/PCA-prep statistic (and the anisotropy check run
    before trusting cosine geometry).  Components quantize to 1e-6
    integer units first, so every grouped sum is exact integer
    arithmetic and the final doubles match DuckDB bit-for-bit (module
    discipline).  The i<=j self-join is the oracle-reproducible form;
    at corpus scale the same statistic folds as ONE pass of per-vector
    outer products (dim²-sized aggregate state, no join) — the
    relational form is kept because the oracle must replay it."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        F.posexplode(
            F.slice(F.col("embedding").cast("array<double>"), 1, 8)
        ).alias("pos0", "x"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("i"),
        F.round(F.col("x") * 1e6, 0).cast("long").alias("e6"),
    )
    a, b = comp.alias("a"), comp.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.i") <= F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a.e6") * F.col("b.e6")).alias("sxy"),
            F.sum(F.col("a.e6")).alias("sx"),
            F.sum(F.col("b.e6")).alias("sy"),
        )
    )
    return p.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        F.round(
            F.col("sxy") / F.col("n") / 1e12
            - (F.col("sx") / F.col("n") / 1e6)
            * (F.col("sy") / F.col("n") / 1e6),
            6,
        ).alias("cov"),
    )
