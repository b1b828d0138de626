"""Oracle-gated queries for the similarity-search operators
(llm/similarity.py): brute-force / LSH / multi-probe / IVF ANN, the
two-table retrieval join, embedding near-dup, and the quantization
ladder (int8, 1-bit sign, retrieve-then-rerank) with recall audits.

The quantization-ladder oracles embed the registered SQL of the
queries they audit (``ORACLE[...]``), so every audit's exact side is
BY CONSTRUCTION the same definition its gate certifies — which is why
those entries live in this module, below the definitions they embed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import similarity
from .analytics import ORACLE, query
from .llm_shared import (
    _QUERY_IDS,
    _bucket_sql,
    _cos_sql,
    _emb,
)


@query(
    "ann_topk",
    f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
        WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    p AS (
        SELECT q.q_id, e.vec_id, {_cos_sql('e.embedding', 'q.q_vec')} AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.q_id
    ),
    r AS (
        SELECT q_id, vec_id, cosine,
               cast(row_number() OVER (
                   PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
        FROM p
    )
    SELECT q_id, vec_id, cosine, rn FROM r WHERE rn <= 5
    """,
)
def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(_emb(spark, sf_dir), _QUERY_IDS, k=5)


@query(
    "ann_topk_lsh",
    f"""
    WITH b AS (
        SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_vec, bucket FROM b
        WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    p AS (
        SELECT q.q_id, b.vec_id, {_cos_sql('b.embedding', 'q.q_vec')} AS cosine
        FROM b JOIN q ON b.bucket = q.bucket
        WHERE b.vec_id <> q.q_id
    ),
    r AS (
        SELECT q_id, vec_id, cosine,
               cast(row_number() OVER (
                   PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
        FROM p
    )
    SELECT q_id, vec_id, cosine, rn FROM r WHERE rn <= 5
    """,
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_lsh(_emb(spark, sf_dir), _QUERY_IDS, k=5)


@query(
    "ann_join_topk",
    f"""
    WITH b AS (
        SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_vec, bucket FROM b
        WHERE vec_id % 40 = 0
    ),
    c AS (SELECT * FROM b WHERE vec_id % 40 <> 0),
    p AS (
        SELECT q.q_id, c.vec_id, {_cos_sql('c.embedding', 'q.q_vec')} AS cosine
        FROM c JOIN q ON c.bucket = q.bucket
    ),
    r AS (
        SELECT q_id, vec_id, cosine,
               cast(row_number() OVER (
                   PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
        FROM p
    )
    SELECT q_id, vec_id, cosine, rn FROM r WHERE rn <= 5
    """,
)
def ann_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table ANN retrieval (llm/similarity.py:ann_join): the query
    TABLE (vec_id % 40 == 0) joins a disjoint corpus table through the
    LSH bucket index — the batch-serving shape where both sides are
    DataFrames, not an id list.  The oracle replays the same split,
    buckets, and tie rules."""
    emb = _emb(spark, sf_dir)
    return similarity.ann_join(
        emb.filter(F.col("vec_id") % 40 == 0),
        emb.filter(F.col("vec_id") % 40 != 0),
        k=5,
    )


_IVF_CELLS = 8
_IVF_PROBE = 2


@query(
    "ann_topk_ivf",
    f"""
    WITH dims AS (
        SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS x
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx
    ),
    cents AS (
        SELECT (vec_id % {_IVF_CELLS}) AS cell, dim, round(avg(x), 4) AS c
        FROM dims GROUP BY 1, 2
    ),
    d2 AS (
        SELECT d.vec_id, ct.cell,
               round(sum((d.x - ct.c) * (d.x - ct.c)), 4) AS d2
        FROM dims d JOIN cents ct ON d.dim = ct.dim
        GROUP BY 1, 2
    ),
    rc AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM d2
    ),
    assigned AS (SELECT vec_id, cell FROM rc WHERE rn = 1),
    probes AS (
        SELECT vec_id AS q_id, cell FROM rc
        WHERE vec_id IN (0, 1, 2, 3, 4) AND rn <= {_IVF_PROBE}
    ),
    pairs AS (
        SELECT p.q_id, a.vec_id,
               {_cos_sql('e.embedding', 'qe.embedding')} AS cosine
        FROM probes p
        JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN embeddings qe ON qe.vec_id = p.q_id
    ),
    r AS (
        SELECT q_id, vec_id, cosine,
               cast(row_number() OVER (
                   PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
        FROM pairs
    )
    SELECT q_id, vec_id, cosine, rn FROM r WHERE rn <= 5
    """,
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (hash-seeded deterministic centroids) under oracle
    proof — same probe/assign join shape as the learned-KMeans
    ivf_topk, which stays unit-gated (llm/similarity.py docstrings)."""
    return similarity.ivf_topk_hashseed(
        _emb(spark, sf_dir),
        _QUERY_IDS,
        k=5,
        n_centroids=_IVF_CELLS,
        n_probe=_IVF_PROBE,
    )


def _ivf_centroid_values() -> str:
    from ..llm.ivf_fixture import IVF_CENTROIDS

    return ",\n            ".join(
        f"({cell}, {dim}, {c})"
        for cell, row in enumerate(IVF_CENTROIDS)
        for dim, c in enumerate(row)
    )


@query(
    "ann_topk_ivf_learned",
    f"""
    WITH cents AS (
        SELECT cell, dim, c::DOUBLE AS c FROM (VALUES
            {_ivf_centroid_values()}
        ) AS t(cell, dim, c)
    ),
    dims AS (
        SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS x
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx
    ),
    d2 AS (
        SELECT d.vec_id, ct.cell,
               round(sum((d.x - ct.c) * (d.x - ct.c)), 4) AS d2
        FROM dims d JOIN cents ct ON d.dim = ct.dim
        GROUP BY 1, 2
    ),
    rc AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM d2
    ),
    assigned AS (SELECT vec_id, cell FROM rc WHERE rn = 1),
    probes AS (
        SELECT vec_id AS q_id, cell FROM rc
        WHERE vec_id IN (0, 1, 2, 3, 4) AND rn <= {_IVF_PROBE}
    ),
    pairs AS (
        SELECT p.q_id, a.vec_id,
               {_cos_sql('e.embedding', 'qe.embedding')} AS cosine
        FROM probes p
        JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN embeddings qe ON qe.vec_id = p.q_id
    ),
    r AS (
        SELECT q_id, vec_id, cosine,
               cast(row_number() OVER (
                   PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
        FROM pairs
    )
    SELECT q_id, vec_id, cosine, rn FROM r WHERE rn <= 5
    """,
)
def ann_topk_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN serving against the PINNED learned centroid index
    (llm/ivf_fixture.py — trained once offline by seeded KMeans on the
    sf0.01 corpus, exactly how production IVF freezes its coarse
    quantizer). Gates ivf_topk's relational assign/probe/score core
    with learned centroids; the in-situ KMeans training path of the
    same function remains unit-gated."""
    from ..llm.ivf_fixture import IVF_CENTROIDS

    return similarity.ivf_topk(
        _emb(spark, sf_dir),
        _QUERY_IDS,
        k=5,
        n_probe=_IVF_PROBE,
        centroids=IVF_CENTROIDS,
    )


@query(
    "embedding_near_dup",
    f"""
    WITH b AS (
        SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    p AS (
        SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
               {_cos_sql('a.embedding', 'c.embedding')} AS cosine
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.45
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup(_emb(spark, sf_dir), threshold=0.45)


@query(
    "embedding_star_guard",
    f"""
    WITH b AS (
        SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    stats AS (
        SELECT bucket, count(*) AS m, min(vec_id) AS rep,
               arg_min(embedding, vec_id) AS rep_vec
        FROM b GROUP BY bucket
    ),
    mk AS (
        SELECT b.vec_id, b.embedding, b.bucket, s.m, s.rep, s.rep_vec
        FROM b JOIN stats s ON b.bucket = s.bucket
    ),
    p AS (
        SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
               {_cos_sql('a.embedding', 'c.embedding')} AS cosine
        FROM mk a JOIN mk c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        WHERE a.m <= 4
        UNION ALL
        SELECT rep AS vec_a, vec_id AS vec_b,
               {_cos_sql('rep_vec', 'embedding')} AS cosine
        FROM mk WHERE m > 4 AND vec_id <> rep
    )
    SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.45
    """,
)
def embedding_star_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The giant-bucket star guard on the embedding-space dedup
    (llm/similarity.py:embedding_near_dup(max_bucket_size=...)) with a
    cap the sf0.01 bucket distribution EXCEEDS (4 < max observed 11):
    oversized hyperplane buckets reduce to (bucket-min, member) star
    edges, cosine computed exactly per emitted pair; the DuckDB oracle
    mirrors the thinning with the same arg_min representative."""
    return similarity.embedding_near_dup(
        _emb(spark, sf_dir), threshold=0.45, max_bucket_size=4
    )


_PROBE_MASKS = "[" + ", ".join(
    str(m) for m in [0] + [1 << p for p in range(similarity.N_PLANES)]
) + "]"


@query(
    "ann_topk_lsh_multiprobe",
    f"""
    WITH b AS (
        SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_vec, bucket FROM b
        WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    probes AS (
        SELECT q_id, q_vec, xor(bucket, m) AS bucket
        FROM q, unnest({_PROBE_MASKS}::BIGINT[]) AS t(m)
    ),
    p AS (
        SELECT pr.q_id, b.vec_id,
               {_cos_sql('b.embedding', 'pr.q_vec')} AS cosine
        FROM b JOIN probes pr ON b.bucket = pr.bucket
        WHERE b.vec_id <> pr.q_id
    ),
    r AS (
        SELECT q_id, vec_id, cosine,
               cast(row_number() OVER (
                   PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT)
                   AS rn
        FROM p
    )
    SELECT q_id, vec_id, cosine, rn FROM r WHERE rn <= 5
    """,
)
def ann_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (hamming-1 probe set): the recall lever on
    the bucketed path — candidates x(n_planes+1), corpus untouched."""
    return similarity.cosine_topk_lsh_multiprobe(
        _emb(spark, sf_dir), _QUERY_IDS, k=5
    )


_I8_DOT = (
    "list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"
)


@query(
    "int8_ann_recall",
    f"""
    WITH m AS (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding,
                                              x -> abs(x::DOUBLE))),
                      1e-30) AS ma
      FROM embeddings),
    qz AS (
      SELECT vec_id,
             list_transform(embedding,
                 x -> cast(floor(x::DOUBLE * 127.0 / ma + 0.5) AS BIGINT))
                 AS qv
      FROM m),
    q AS (SELECT vec_id AS q_id, qv AS q_vec FROM qz
          WHERE vec_id IN (0, 1, 2, 3, 4)),
    p AS (
      SELECT q.q_id, z.vec_id,
             round({_I8_DOT.format(a="z.qv", b="q.q_vec")}
                   / sqrt({_I8_DOT.format(a="z.qv", b="z.qv")}::DOUBLE
                          * {_I8_DOT.format(a="q.q_vec", b="q.q_vec")}::DOUBLE),
                   4) AS cosine
      FROM qz z CROSS JOIN q WHERE z.vec_id <> q.q_id),
    r AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM p),
    approx AS (SELECT q_id, vec_id FROM r WHERE rn <= 5),
    exact AS (SELECT q_id, vec_id FROM ({ORACLE["ann_topk"]})),
    base AS (SELECT q_id, cast(count(*) AS BIGINT) AS k FROM exact
             GROUP BY 1),
    hits AS (SELECT e.q_id, cast(count(*) AS BIGINT) AS n_overlap
             FROM exact e JOIN approx a
               ON e.q_id = a.q_id AND e.vec_id = a.vec_id
             GROUP BY 1)
    SELECT base.q_id, k,
           cast(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap
    FROM base LEFT JOIN hits ON base.q_id = hits.q_id
    """,
)
def int8_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of brute-force ANN on symmetric-max-abs int8-quantized
    vectors against the certified exact float path — the accuracy
    audit that licenses serving quantized (4× less memory traffic per
    vector).  Quantization uses ⌊x+½⌋ (round() flips between Spark's
    half-up and DuckDB's half-even at exact halves), the per-vector
    scale cancels inside cosine, and the quantized dot products are
    exact integer arithmetic — so the whole evaluation is
    cross-engine bit-deterministic.  The oracle embeds the registered
    `ann_topk` SQL as its exact side."""
    return similarity.int8_recall_at_k(_emb(spark, sf_dir), _QUERY_IDS, k=5)


# sign-bit packing: bit 63 cannot be built with 1<<63 in DuckDB (left-
# shift overflow check); its two's-complement weight is BIGINT MIN, and
# summing DISJOINT bit weights equals OR — so the pack is a list_sum of
# per-bit weights with the i=64 term spelled as (-max-1).
_SIGN_PACK = """
    list_sum(list_transform(range(1, 65), i ->
      CASE WHEN {v}[i] >= 0 THEN
        CASE WHEN i = 64 THEN (-9223372036854775807 - 1)
             ELSE 1::BIGINT << (i - 1) END
      ELSE 0::BIGINT END))::BIGINT
"""


@query(
    "sign_bit_ann_recall",
    f"""
    WITH b AS (
      SELECT vec_id, {_SIGN_PACK.format(v="embedding")} AS bits
      FROM embeddings),
    q AS (SELECT vec_id AS q_id, bits AS q_bits FROM b
          WHERE vec_id IN (0, 1, 2, 3, 4)),
    p AS (
      SELECT q.q_id, b.vec_id,
             cast(bit_count(xor(b.bits, q.q_bits)) AS BIGINT) AS hamming
      FROM b CROSS JOIN q WHERE b.vec_id <> q.q_id),
    r AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY hamming, vec_id) AS rn
      FROM p),
    approx AS (SELECT q_id, vec_id FROM r WHERE rn <= 5),
    exact AS (SELECT q_id, vec_id FROM ({ORACLE["ann_topk"]})),
    base AS (SELECT q_id, cast(count(*) AS BIGINT) AS k FROM exact
             GROUP BY 1),
    hits AS (SELECT e.q_id, cast(count(*) AS BIGINT) AS n_overlap
             FROM exact e JOIN approx a
               ON e.q_id = a.q_id AND e.vec_id = a.vec_id
             GROUP BY 1)
    SELECT base.q_id, k,
           cast(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap
    FROM base LEFT JOIN hits ON base.q_id = hits.q_id
    """,
)
def sign_bit_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the 1-bit (sign) hamming retriever against the
    certified exact path — the 64×-compression extreme of the
    quantization ladder (`int8_ann_recall` is the 4× rung).  The
    sign-bit pack, xor, and popcount are exact integer arithmetic in
    both engines, so the whole audit is bit-deterministic; production
    use is as stage one of retrieve-then-rerank, and this number is
    the stage-one recall budget."""
    return similarity.sign_bit_recall_at_k(
        _emb(spark, sf_dir), _QUERY_IDS, k=5
    )


@query(
    "rerank_ann_recall",
    f"""
    WITH b AS (
      SELECT vec_id, {_SIGN_PACK.format(v="embedding")} AS bits
      FROM embeddings),
    q AS (SELECT vec_id AS q_id, bits AS q_bits FROM b
          WHERE vec_id IN (0, 1, 2, 3, 4)),
    h AS (
      SELECT q.q_id, b.vec_id,
             row_number() OVER (PARTITION BY q.q_id
                ORDER BY bit_count(xor(b.bits, q.q_bits)), b.vec_id) AS rn
      FROM b CROSS JOIN q WHERE b.vec_id <> q.q_id),
    cands AS (SELECT q_id, vec_id FROM h WHERE rn <= 50),
    qv AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
           WHERE vec_id IN (0, 1, 2, 3, 4)),
    scored AS (
      SELECT c.q_id, c.vec_id,
             {_cos_sql('e.embedding', 'qv.q_vec')} AS cosine
      FROM cands c JOIN embeddings e ON e.vec_id = c.vec_id
                   JOIN qv ON qv.q_id = c.q_id),
    rr AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored),
    approx AS (SELECT q_id, vec_id FROM rr WHERE rn <= 5),
    exact AS (SELECT q_id, vec_id FROM ({ORACLE["ann_topk"]})),
    base AS (SELECT q_id, cast(count(*) AS BIGINT) AS k FROM exact
             GROUP BY 1),
    hits AS (SELECT e.q_id, cast(count(*) AS BIGINT) AS n_overlap
             FROM exact e JOIN approx a
               ON e.q_id = a.q_id AND e.vec_id = a.vec_id
             GROUP BY 1)
    SELECT base.q_id, k,
           cast(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap
    FROM base LEFT JOIN hits ON base.q_id = hits.q_id
    """,
)
def rerank_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of retrieve-then-rerank: 1-bit hamming stage-1 top-50,
    exact-cosine rerank of just those candidates — the production ANN
    serving shape, where the float metric touches 50 vectors per query
    instead of the corpus.  Completes the quantization story: raw
    1-bit recall (`sign_bit_ann_recall`) is the floor, this is what a
    50-candidate rerank budget buys back."""
    return similarity.rerank_recall_at_k(
        _emb(spark, sf_dir), _QUERY_IDS, k=5, stage1_k=50
    )


@query(
    "quantization_ladder_summary",
    f"""
    WITH i8 AS (SELECT 'int8' AS method, q_id, k, n_overlap
                FROM ({ORACLE["int8_ann_recall"]})),
    s1 AS (SELECT '1bit' AS method, q_id, k, n_overlap
           FROM ({ORACLE["sign_bit_ann_recall"]})),
    rr AS (SELECT '1bit+rerank50' AS method, q_id, k, n_overlap
           FROM ({ORACLE["rerank_ann_recall"]})),
    u AS (SELECT * FROM i8 UNION ALL SELECT * FROM s1
          UNION ALL SELECT * FROM rr)
    SELECT method,
           cast(count(*) AS BIGINT) AS n_queries,
           cast(sum(n_overlap) AS BIGINT) AS total_overlap,
           round(sum(n_overlap) * 1.0 / sum(k), 4) AS recall_at_5
    FROM u GROUP BY 1
    """,
)
def quantization_ladder_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole compression-accuracy trade in three rows: recall@5 of
    int8 (4× compression), raw 1-bit (64×), and 1-bit with a
    50-candidate exact rerank — each line a certified query whose SQL
    the oracle embeds, aggregated to the number a serving-tier design
    review actually reads."""
    emb = _emb(spark, sf_dir)

    def tag(df, name):
        return df.select(
            F.lit(name).alias("method"), "q_id", "k", "n_overlap"
        )

    u = (
        tag(similarity.int8_recall_at_k(emb, _QUERY_IDS, k=5), "int8")
        .unionAll(
            tag(
                similarity.sign_bit_recall_at_k(emb, _QUERY_IDS, k=5),
                "1bit",
            )
        )
        .unionAll(
            tag(
                similarity.rerank_recall_at_k(
                    emb, _QUERY_IDS, k=5, stage1_k=50
                ),
                "1bit+rerank50",
            )
        )
    )
    return u.groupBy("method").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_overlap").cast("long").alias("total_overlap"),
        F.round(
            F.sum("n_overlap") * 1.0 / F.sum("k"), 4
        ).alias("recall_at_5"),
    )


def _lloyd_ctes(n_clusters: int | str, n_iter: int) -> str:
    """Unrolled Lloyd's-k-means CTE chain (dims -> c0 -> a0 -> c1 ->
    ... -> a{n_iter}), mirroring ``similarity.kmeans_lloyd`` round for
    round — the same whole-loop-unroll oracle discipline as
    ``copurchase_pagerank`` and ``bpe_train_merges``. The final CTE
    ``a{n_iter}`` is the assignment table. ``n_clusters`` may be a SQL
    expression string (e.g. the auto-k scalar subquery ``_K_SQL``) —
    only the hash-seeded init uses it."""
    parts = [
        """dims AS (
        SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS x
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx
    )""",
        f"""c0 AS (
        SELECT cast(vec_id % ({n_clusters}) AS INT) AS cell, dim,
               round(avg(x), 4) AS c
        FROM dims GROUP BY 1, 2
    )""",
    ]
    for r in range(n_iter + 1):
        parts.append(f"""d{r} AS (
        SELECT d.vec_id, ct.cell,
               round(sum((d.x - ct.c) * (d.x - ct.c)), 4) AS d2
        FROM dims d JOIN c{r} ct ON d.dim = ct.dim
        GROUP BY 1, 2
    )""")
        parts.append(f"""a{r} AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell) AS rn
            FROM d{r}
        ) WHERE rn = 1
    )""")
        if r < n_iter:
            parts.append(f"""c{r + 1} AS (
        SELECT a.cell, d.dim, round(avg(d.x), 4) AS c
        FROM dims d JOIN a{r} a ON a.vec_id = d.vec_id
        GROUP BY 1, 2
    )""")
    return ",\n    ".join(parts)


#: Auto-k as SQL: k = ceil(n / 64), the same scalar kmeans_lloyd
#: derives when n_clusters=None — at the sf0.01 gate substrate
#: (500 vectors) this is exactly the k=8 the pair was certified at,
#: while at 10x/100x rows k grows with n so the within-cluster
#: pairwise term in semantic dedup stays linear (19.9x-at-10x fix).
_K_SQL = "SELECT greatest(1, cast(ceil(count(*) / 64.0) AS INT)) FROM embeddings"


def _twolevel_oracle_sql(n_iter: int = 2) -> str:
    """Unrolled TWO-LEVEL Lloyd oracle (similarity.kmeans_multilevel,
    levels=2):
    the auto-k scalar CTEs (kt = ceil(n/64), k1 = ceil(sqrt(kt)),
    k2 = ceil(kt/k1) — bit-equal to the Python derivation for every
    integer kt below ~25M, far past any DuckDB-replayable corpus),
    the coarse k1-chain via ``_lloyd_ctes``, then the fine chain with
    every CTE keyed on (coarse, ...): the fine candidate join is ON
    (coarse, dim), mirroring Spark's per-cell centroid scoping
    operand for operand. Written and parity-tested in round 8
    (tests/test_scale_ops.py::test_kmeans_twolevel_matches_duckdb_oracle);
    registered as the ``kmeans_twolevel`` driver pair in round 9."""
    parts = [
        "kk AS (SELECT greatest(1, cast(ceil(count(*) / 64.0) AS INT)) AS kt"
        " FROM embeddings)",
        """kv AS (
        SELECT kt,
               greatest(1, cast(ceil(sqrt(kt)) AS INT)) AS k1,
               greatest(1, cast(ceil(
                   kt * 1.0 / greatest(1, cast(ceil(sqrt(kt)) AS INT))
               ) AS INT)) AS k2
        FROM kk
    )""",
        _lloyd_ctes("SELECT k1 FROM kv", n_iter),
        """dc AS (
        SELECT d.vec_id, a.cell AS coarse, d.dim, d.x
        FROM dims d JOIN a{n} a ON a.vec_id = d.vec_id
    )""".format(n=n_iter),
        """fc0 AS (
        SELECT coarse, cast(vec_id % (SELECT k2 FROM kv) AS INT) AS sub,
               dim, round(avg(x), 4) AS c
        FROM dc GROUP BY 1, 2, 3
    )""",
    ]
    for r in range(n_iter + 1):
        parts.append(f"""fd{r} AS (
        SELECT d.vec_id, d.coarse, ct.sub,
               round(sum((d.x - ct.c) * (d.x - ct.c)), 4) AS d2
        FROM dc d JOIN fc{r} ct ON d.coarse = ct.coarse AND d.dim = ct.dim
        GROUP BY 1, 2, 3
    )""")
        parts.append(f"""fa{r} AS (
        SELECT vec_id, coarse, sub FROM (
            SELECT vec_id, coarse, sub,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, sub) AS rn
            FROM fd{r}
        ) WHERE rn = 1
    )""")
        if r < n_iter:
            parts.append(f"""fc{r + 1} AS (
        SELECT d.coarse, a.sub, d.dim, round(avg(d.x), 4) AS c
        FROM dc d JOIN fa{r} a ON a.vec_id = d.vec_id
        GROUP BY 1, 2, 3
    )""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT f.vec_id,
           cast(f.coarse AS BIGINT) * (SELECT k2 FROM kv) + f.sub AS cell
    FROM fa{n_iter} f
    """


@query(
    "kmeans_assignments",
    f"""
    WITH {_lloyd_ctes(_K_SQL, 2)}
    SELECT vec_id, cast(cell AS BIGINT) AS cell FROM a2
    """,
)
def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (llm/similarity.py:kmeans_lloyd):
    hash-seeded mean init, 2 update rounds, 4dp-rounded distances with
    cell-id tie breaks, auto-k = ceil(n/64) on BOTH engines (k=8 at
    the sf0.01 gate substrate). The DuckDB oracle unrolls every round
    — init centroids, assign, re-mean, assign, re-mean, final assign —
    so a regression anywhere in the loop (init, k derivation,
    distance, tie break, update) breaks the hash on the full 500-row
    assignment table.  ``twolevel_crossover=None`` PINS the flat plan
    this oracle unrolls — without it, auto-k delegates to the
    two-level hierarchy above ~10k vectors and this gate would
    spuriously fail on any larger substrate (the two-level algorithm
    has its own pair)."""
    asg = similarity.kmeans_lloyd(
        _emb(spark, sf_dir), n_clusters=None, n_iter=2,
        twolevel_crossover=None,
    )
    return asg.select("vec_id", F.col("cell").cast("long").alias("cell"))


@query(
    "semantic_dedup_decisions",
    f"""
    WITH {_lloyd_ctes(_K_SQL, 2)},
    p AS (
        SELECT x.vec_id AS vec_b
        FROM a2 x JOIN a2 y ON x.cell = y.cell AND y.vec_id < x.vec_id
        JOIN embeddings eb ON eb.vec_id = x.vec_id
        JOIN embeddings ea ON ea.vec_id = y.vec_id
        WHERE {_cos_sql('ea.embedding', 'eb.embedding')} >= 0.45
    ),
    dropped AS (SELECT DISTINCT vec_b AS vec_id FROM p)
    SELECT a2.vec_id, cast(a2.cell AS BIGINT) AS cell,
           a2.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
    FROM a2
    """,
)
def semantic_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (llm/similarity.py:semantic_dedup): k-means-cluster the
    embedding space, then drop every vector with a smaller-id
    near-identical neighbor (cosine >= 0.45 — a threshold the sf0.01
    substrate provably crosses: 6 of 500 vectors drop) in the SAME
    cluster. Full decision table hashed; the oracle replays the
    unrolled k-means (auto-k = ceil(n/64), k=8 on this substrate) AND
    the within-cluster min-id drop rule.  ``twolevel_crossover=None``
    pins the FLAT clustering this oracle unrolls (the two-level
    composition has its own pair, ``semantic_dedup_twolevel``)."""
    dec = similarity.semantic_dedup(
        _emb(spark, sf_dir), n_clusters=None, n_iter=2, threshold=0.45,
        twolevel_crossover=None,
    )
    return dec.select(
        "vec_id", F.col("cell").cast("long").alias("cell"), "kept"
    )


def _semantic_twolevel_oracle_sql(threshold: float = 0.45) -> str:
    """Oracle for SemDeDup composed on TWO-LEVEL assignments — the
    operator's 100 TB form (semantic_dedup(assignments=
    kmeans_multilevel(..., levels=2))): the unrolled two-level closure feeds the
    same within-cluster smaller-id drop rule the flat
    ``semantic_dedup_decisions`` pair certifies. Parity-unit-verified
    in round 8 (tests/test_scale_ops.py); registered as the
    ``semantic_dedup_twolevel`` driver pair in round 9."""
    return f"""
    WITH tl AS (SELECT * FROM ({_twolevel_oracle_sql(2)})),
    p AS (
        SELECT x.vec_id AS vec_b
        FROM tl x JOIN tl y ON x.cell = y.cell AND y.vec_id < x.vec_id
        JOIN embeddings eb ON eb.vec_id = x.vec_id
        JOIN embeddings ea ON ea.vec_id = y.vec_id
        WHERE {_cos_sql('ea.embedding', 'eb.embedding')} >= {threshold}
    ),
    dropped AS (SELECT DISTINCT vec_b AS vec_id FROM p)
    SELECT tl.vec_id, cast(tl.cell AS BIGINT) AS cell,
           tl.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
    FROM tl
    """


def _online_kmeans_oracle_sql(k: int = 8, n_batches: int = 3) -> str:
    """Unrolled ONLINE-k-means oracle (streaming/embeddings.py:
    _ingest_batch replayed over ``n_batches`` arrival waves split by
    vec_id % n_batches): wave 0 seeds cells with the shared hash init
    (cell = vec_id % k, 4dp per-dim means, member counts); every later
    wave is one nearest-centroid assignment against the CURRENT state
    (4dp distances, cell tie-break) followed by the count-weighted
    running-mean update round((c*n + sum x)/(n + m), 4), untouched
    cells carried verbatim.  Three waves put the weighted-update
    arithmetic itself inside the hash (wave 2 assigns against
    wave-1-updated centroids)."""
    parts = [
        """dims AS (
        SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS x
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx
    )""",
    ]
    for b in range(n_batches):
        parts.append(
            f"d{b} AS (SELECT * FROM dims WHERE vec_id % {n_batches} = {b})"
        )
    parts.append(f"""s0 AS (
        SELECT cast(vec_id % {k} AS INT) AS cell, dim,
               round(avg(x), 4) AS c, count(*)::BIGINT AS n
        FROM d0 GROUP BY 1, 2
    )""")
    parts.append(
        f"a0 AS (SELECT DISTINCT vec_id, cast(vec_id % {k} AS INT) AS cell"
        " FROM d0)"
    )
    for b in range(1, n_batches):
        parts.append(f"""dd{b} AS (
        SELECT d.vec_id, s.cell,
               round(sum((d.x - s.c) * (d.x - s.c)), 4) AS d2
        FROM d{b} d JOIN s{b - 1} s ON d.dim = s.dim
        GROUP BY 1, 2
    )""")
        parts.append(f"""a{b} AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell) AS rn
            FROM dd{b}
        ) WHERE rn = 1
    )""")
        if b < n_batches - 1:
            parts.append(f"""up{b} AS (
        SELECT a.cell, d.dim, sum(d.x) AS s, count(*)::BIGINT AS m
        FROM d{b} d JOIN a{b} a ON a.vec_id = d.vec_id
        GROUP BY 1, 2
    )""")
            parts.append(f"""s{b} AS (
        SELECT p.cell, p.dim,
               CASE WHEN u.m IS NOT NULL
                    THEN round((p.c * p.n + u.s) / (p.n + u.m), 4)
                    ELSE p.c END AS c,
               (p.n + coalesce(u.m, 0))::BIGINT AS n
        FROM s{b - 1} p LEFT JOIN up{b} u
          ON u.cell = p.cell AND u.dim = p.dim
    )""")
    ctes = ",\n    ".join(parts)
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, cast({b} AS INT) AS batch, cell FROM a{b}"
        for b in range(n_batches)
    )
    return f"""
    WITH {ctes}
    {selects}
    """


@query("online_kmeans_assignments", _online_kmeans_oracle_sql(8, 3))
def online_kmeans_assignments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online/mini-batch k-means over a vector STREAM — the live-IVF-
    index maintenance path (streaming/embeddings.py): seed on wave 0,
    then per wave route vectors to their nearest current centroid and
    nudge the centroids by the count-weighted running mean, with
    assignments FROZEN at arrival time.  Oracle-gated on the exact
    ``_ingest_batch`` path the streaming sink executes, replayed over
    3 arrival waves (vec_id % 3) so the weighted-update arithmetic is
    itself inside the hash — the full (vec_id, batch, cell) decision
    table is compared."""
    from ..streaming.embeddings import online_kmeans_decisions

    return online_kmeans_decisions(_emb(spark, sf_dir), k=8, n_batches=3)


@query("kmeans_twolevel", _twolevel_oracle_sql(2))
def kmeans_twolevel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style two-level k-means (llm/similarity.py:kmeans_multilevel
    at levels=2)
    — the clustering SCALE path (O(n*sqrt(k)) candidate rows vs flat
    auto-k's O(n*k); measured 22x faster at n=200k, diverging as n^1.5
    vs n²). Auto-k two-level: kt = ceil(n/64), coarse k1 = ceil(
    sqrt(kt)), fine k2 = ceil(kt/k1) sub-clusters WITHIN each coarse
    cell. The DuckDB oracle unrolls both Lloyd chains — coarse init/
    assign/update rounds, then the fine chain with every CTE keyed on
    (coarse, ...) — so a regression anywhere in either loop or in the
    composite-id arithmetic breaks the hash on the full assignment
    table."""
    asg = similarity.kmeans_multilevel(_emb(spark, sf_dir), n_iter=2, levels=2)
    return asg.select("vec_id", F.col("cell").cast("long").alias("cell"))


@query("semantic_dedup_twolevel", _semantic_twolevel_oracle_sql(0.45))
def semantic_dedup_twolevel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup composed on two-level assignments — the operator's
    actual 100 TB form (semantic_dedup(assignments=kmeans_multilevel(
    ..., levels=2))): clustering via the O(n*sqrt(k)) hierarchy, then the same
    within-cluster smaller-id drop rule the flat pair certifies
    (threshold 0.45; the drop path provably fires on this substrate).
    Full decision table hashed against the unrolled two-level closure
    + drop-rule oracle."""
    emb = _emb(spark, sf_dir)
    asg = similarity.kmeans_multilevel(emb, n_iter=2, levels=2)
    dec = similarity.semantic_dedup(emb, threshold=0.45, assignments=asg)
    return dec.select(
        "vec_id", F.col("cell").cast("long").alias("cell"), "kept"
    )
