"""Sketch/heuristic evaluation queries: precision/recall of the
MinHash and SimHash near-dup paths against the exact n-gram-Jaccard
ground truth, the Jaccard mass histogram, the one-row dedup funnel,
vocabulary coverage, and the lang-ID confusion matrix.

These oracles embed the registered SQL of the gates they evaluate
(``ORACLE[...]``), so the eval's ground-truth / candidate definitions
are BY CONSTRUCTION the same ones the individual gates certify —
which is why this module imports ``llm_dedup_gates`` explicitly: the
embedded entries must be registered before this module's f-strings
evaluate, regardless of who imports what first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import dedup
from ..llm.text import lang_id
from . import llm_dedup_gates  # noqa: F401  (registers the embedded oracles)
from .analytics import ORACLE, query
from .llm_shared import (
    _JACCARD_PAIRS,
    _LANG_CASE,
    _LANG_SCORES_SQL,
    _NG_CTE,
    _docs,
)


@query(
    "langid_confusion",
    f"""
    WITH t AS (
        SELECT lang,
               list_distinct(list_filter(string_split(text, ' '),
                                         x -> x != '')) AS dw
        FROM documents
    ),
    s AS (SELECT lang, {_LANG_SCORES_SQL} FROM t)
    SELECT lang AS lang_label, {_LANG_CASE} AS lang_pred,
           cast(count(*) AS BIGINT) AS n_docs,
           round(count(*) / sum(count(*)) OVER (PARTITION BY lang), 4)
               AS row_share
    FROM s GROUP BY 1, 2
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-vs-predicted language confusion matrix with row-share —
    the evaluation query you run before trusting the lang-ID heuristic
    as a corpus filter.  One pass over documents (the same lexicon
    argmax as ``text_quality``), then a |langs|² aggregate; the
    row-normalizing window runs over that tiny matrix, not documents."""
    d = _docs(spark, sf_dir)
    counts = d.select(
        F.col("lang").alias("lang_label"),
        lang_id(F.col("text")).alias("lang_pred"),
    ).groupBy("lang_label", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("lang_label")
    return counts.select(
        "lang_label",
        "lang_pred",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias(
            "row_share"
        ),
    )


# Embed the two registered pair queries as derived tables (a DuckDB
# subquery may carry its own WITH), so the eval oracle is BY
# CONSTRUCTION the same ground truth / candidate definitions the
# individual gates certify.
@query(
    "minhash_recall_eval",
    f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({ORACLE["ngram_jaccard_dedup"]})),
    m AS (SELECT doc_a, doc_b FROM ({ORACLE["minhash_near_dup"]})),
    j AS (
      SELECT e.doc_a IS NOT NULL AS in_e, m.doc_a IS NOT NULL AS in_m
      FROM e FULL OUTER JOIN m
        ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b)
    SELECT cast(count(CASE WHEN in_e THEN 1 END) AS BIGINT) AS n_exact,
           cast(count(CASE WHEN in_m THEN 1 END) AS BIGINT) AS n_minhash,
           cast(count(CASE WHEN in_e AND in_m THEN 1 END) AS BIGINT) AS tp,
           cast(count(CASE WHEN in_m AND NOT in_e THEN 1 END) AS BIGINT)
               AS fp,
           cast(count(CASE WHEN in_e AND NOT in_m THEN 1 END) AS BIGINT)
               AS fn,
           round(count(CASE WHEN in_e AND in_m THEN 1 END)
                 / nullif(count(CASE WHEN in_m THEN 1 END), 0), 4)
               AS precision,
           round(count(CASE WHEN in_e AND in_m THEN 1 END)
                 / nullif(count(CASE WHEN in_e THEN 1 END), 0), 4)
               AS recall
    FROM j
    """,
)
def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH near-dup path measured
    against the exact n-gram-Jaccard ground truth at the same
    threshold — the evaluation you run before trusting the sketch as
    the 100 TB substitute for the exact join.  Both pair sets are the
    very DataFrames the individual gates certify; the comparison is a
    full outer join on the (small) pair lists, so the eval costs the
    two pair computations plus a pair-table-sized join, and the oracle
    embeds the SAME two certified SQL definitions as derived tables."""
    docs = _docs(spark, sf_dir)
    # One shared posting: both detectors tokenize/shingle the same
    # corpus, so build the inverted index once and thread it through —
    # halves the tokenize/shingle/md5 work of the eval. count()
    # materializes the cache BEFORE the two branch pipelines run
    # (concurrent stages racing an unfilled cache each compute the
    # partitions themselves — Spark does not coordinate in-flight
    # cache fills). At local[32]/sf0.1 the duplicated work hides in
    # idle cores (interleaved A/B: timing parity within noise); the
    # saving is real where cores are the budget — i.e. at cluster
    # scale, where this eval runs over a corpus, not a sketch.
    posting = dedup._posting(docs, "text").persist()
    posting.count()
    e = dedup.ngram_jaccard_pairs(
        docs, threshold=0.8, _posting_df=posting
    ).select("doc_a", "doc_b", F.lit(True).alias("in_e"))
    m = dedup.minhash_near_dup(
        docs, threshold=0.8, _posting_df=posting
    ).select("doc_a", "doc_b", F.lit(True).alias("in_m"))
    j = e.join(m, ["doc_a", "doc_b"], "full_outer")
    tp = F.count(F.when(F.col("in_e") & F.col("in_m"), 1))
    n_e = F.count(F.when(F.col("in_e"), 1))
    n_m = F.count(F.when(F.col("in_m"), 1))
    return j.agg(
        n_e.cast("long").alias("n_exact"),
        n_m.cast("long").alias("n_minhash"),
        tp.cast("long").alias("tp"),
        F.count(F.when(F.col("in_m") & F.col("in_e").isNull(), 1))
        .cast("long")
        .alias("fp"),
        F.count(F.when(F.col("in_e") & F.col("in_m").isNull(), 1))
        .cast("long")
        .alias("fn"),
        F.round(tp / F.nullif(n_m, F.lit(0)), 4).alias("precision"),
        F.round(tp / F.nullif(n_e, F.lit(0)), 4).alias("recall"),
    )


@query(
    "jaccard_histogram",
    f"""
    WITH {_NG_CTE}, {_JACCARD_PAIRS}
    SELECT floor(jaccard * 10) / 10 AS bucket,
           cast(count(*) AS BIGINT) AS n_pairs
    FROM jacc WHERE jaccard >= 0.3
    GROUP BY 1
    """,
)
def jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-mass histogram of near-dup candidate pairs (0.1-wide
    buckets above 0.3) — the threshold-tuning view: where the pair
    mass sits tells you what a 0.8 cutoff keeps vs drops.  Runs on the
    inverted-index pair table (the oracle's all-pairs form is the
    naive-by-design ground truth); the histogram is a tiny aggregate
    over pairs."""
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)
    return pairs.groupBy(
        (F.floor(F.col("jaccard") * 10) / 10).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@query(
    "dedup_funnel_summary",
    f"""
    WITH eg AS (SELECT * FROM ({ORACLE["exact_dedup"]})),
    nc AS (SELECT * FROM ({ORACLE["near_dup_clusters"]})),
    removed AS (SELECT doc_id FROM nc WHERE doc_id <> cluster_id),
    keep AS (SELECT keeper_doc_id AS doc_id FROM eg)
    SELECT (SELECT cast(count(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT cast(count(*) AS BIGINT) FROM keep) AS n_unique_content,
           (SELECT cast(count(*) AS BIGINT) FROM nc) AS n_clustered_docs,
           (SELECT cast(count(DISTINCT cluster_id) AS BIGINT) FROM nc)
               AS n_clusters,
           (SELECT cast(count(*) AS BIGINT) FROM removed) AS n_near_removed,
           (SELECT cast(count(*) AS BIGINT) FROM keep
            WHERE doc_id NOT IN (SELECT doc_id FROM removed)) AS n_final
    """,
)
def dedup_funnel_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation funnel in one row: corpus size → exact-dedup
    survivors → near-dup clustering → final kept set (exact keepers
    minus non-keeper cluster members).  Composes the SAME certified
    building blocks (`exact_dedup`, `near_dup_clusters`), and the
    oracle embeds their registered SQL as derived tables, so the
    funnel arithmetic can never drift from the per-stage gates.
    Cluster keeper = cluster_id (the min-label convention
    ``dup_clusters`` guarantees), so no extra argmax pass is needed."""
    d = _docs(spark, sf_dir)
    groups = dedup.exact_dedup_groups(d).persist()
    clusters = dedup.dup_clusters(
        dedup.ngram_jaccard_pairs(d, threshold=0.8)
    ).persist()
    keep = groups.select(F.col("keeper_doc_id").alias("doc_id"))
    removed = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    # The funnel scalars come from three sequential driver actions and
    # are inlined as one literal row (the ``pagerank_integer`` /
    # ``copurchase_triangles`` discipline): a crossJoin of one-row
    # aggregates put BroadcastNestedLoopJoins in the plan and raced
    # every subtree against unfilled caches in one action.  groups and
    # clusters fill their caches on first use and are read after.
    # Every doc lands in exactly one content group, so n_docs is the
    # groups' copy sum; each cluster keeps exactly one doc (doc_id ==
    # cluster_id, the min-label convention), so the near-dup removals
    # are n_clustered - n_clusters.
    g = groups.agg(
        F.sum("n_copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_keep"),
    ).collect()[0]
    c = clusters.agg(
        F.count(F.lit(1)).alias("n_clustered"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    ).collect()[0]
    n_final = keep.join(removed, "doc_id", "left_anti").count()
    groups.unpersist()
    clusters.unpersist()
    return spark.range(1).select(
        F.lit(g["n_docs"] or 0).cast("long").alias("n_docs"),
        F.lit(g["n_keep"]).cast("long").alias("n_unique_content"),
        F.lit(c["n_clustered"]).cast("long").alias("n_clustered_docs"),
        F.lit(c["n_clusters"]).cast("long").alias("n_clusters"),
        F.lit(c["n_clustered"] - c["n_clusters"]).cast("long").alias("n_near_removed"),
        F.lit(n_final).cast("long").alias("n_final"),
    )


@query(
    "simhash_recall_eval",
    f"""
    WITH e AS (SELECT doc_a, doc_b FROM ({ORACLE["ngram_jaccard_dedup"]})),
    s AS (SELECT doc_a, doc_b FROM ({ORACLE["simhash_dedup"]})),
    j AS (
      SELECT e.doc_a IS NOT NULL AS in_e, s.doc_a IS NOT NULL AS in_s
      FROM e FULL OUTER JOIN s
        ON e.doc_a = s.doc_a AND e.doc_b = s.doc_b)
    SELECT cast(count(CASE WHEN in_e THEN 1 END) AS BIGINT) AS n_exact,
           cast(count(CASE WHEN in_s THEN 1 END) AS BIGINT) AS n_simhash,
           cast(count(CASE WHEN in_e AND in_s THEN 1 END) AS BIGINT) AS tp,
           round(count(CASE WHEN in_e AND in_s THEN 1 END)
                 / nullif(count(CASE WHEN in_s THEN 1 END), 0), 4)
               AS precision,
           round(count(CASE WHEN in_e AND in_s THEN 1 END)
                 / nullif(count(CASE WHEN in_e THEN 1 END), 0), 4)
               AS recall
    FROM j
    """,
)
def simhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-distance pairs scored against the exact
    n-gram-Jaccard ground truth — the companion of
    ``minhash_recall_eval`` for the OTHER sketch family.  Unlike the
    MinHash path (whose candidates are jaccard-verified, so precision
    is 1 by construction), SimHash admits pairs by hamming distance
    alone: both false positives and false negatives are possible, and
    this eval is how you pick between the sketches for a corpus.
    Oracle embeds the same two certified SQL definitions."""
    docs = _docs(spark, sf_dir)
    # Shared posting, same reason as minhash_recall_eval (incl. the
    # eager fill — see the cache-race note there).
    posting = dedup._posting(docs, "text").persist()
    posting.count()
    e = dedup.ngram_jaccard_pairs(
        docs, threshold=0.8, _posting_df=posting
    ).select("doc_a", "doc_b", F.lit(True).alias("in_e"))
    s = dedup.simhash_near_dup(
        docs, max_distance=3, _posting_df=posting
    ).select("doc_a", "doc_b", F.lit(True).alias("in_s"))
    j = e.join(s, ["doc_a", "doc_b"], "full_outer")
    tp = F.count(F.when(F.col("in_e") & F.col("in_s"), 1))
    n_e = F.count(F.when(F.col("in_e"), 1))
    n_s = F.count(F.when(F.col("in_s"), 1))
    return j.agg(
        n_e.cast("long").alias("n_exact"),
        n_s.cast("long").alias("n_simhash"),
        tp.cast("long").alias("tp"),
        F.round(tp / F.nullif(n_s, F.lit(0)), 4).alias("precision"),
        F.round(tp / F.nullif(n_e, F.lit(0)), 4).alias("recall"),
    )


@query(
    "vocab_coverage",
    """
    WITH words AS (
      SELECT word, cast(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> ''
      GROUP BY 1),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, word) AS rnk,
             sum(freq) OVER () AS total
      FROM words),
    cum AS (
      SELECT rnk, total,
             sum(freq) OVER (ORDER BY rnk) AS cum_freq
      FROM ranked)
    SELECT cast(n AS BIGINT) AS vocab_size,
           round(max(CASE WHEN rnk <= n THEN cum_freq END)
                 * 100.0 / max(total), 2) AS coverage_pct
    FROM cum CROSS JOIN (SELECT unnest([10, 20, 50]) AS n)
    GROUP BY 1
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of a frequency-truncated vocabulary at
    sizes 10/20/50 — the tokenizer-design curve (what does capping the
    vocab cost in <unk> rate?).  One corpus pass builds the frequency
    table; ranking and the cumulative curve run over the
    vocabulary-sized aggregate, and the three coverage points read off
    one cumulative window with a deterministic (freq desc, word)
    total order."""
    docs = _docs(spark, sf_dir)
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    from pyspark.sql import Window as _W

    ranked = words.select(
        "freq",
        F.row_number()
        .over(_W.orderBy(F.desc("freq"), F.col("word")))
        .alias("rnk"),
    )
    total = words.agg(F.sum("freq").alias("total"))
    cum = ranked.select(
        "rnk",
        F.sum("freq").over(_W.orderBy("rnk")).alias("cum_freq"),
    ).crossJoin(F.broadcast(total))
    sizes = F.explode(F.array(F.lit(10), F.lit(20), F.lit(50))).alias("n")
    return (
        cum.select("rnk", "cum_freq", "total", sizes)
        .groupBy(F.col("n").cast("long").alias("vocab_size"))
        .agg(
            F.round(
                F.max(F.when(F.col("rnk") <= F.col("n"), F.col("cum_freq")))
                * 100.0
                / F.max("total"),
                2,
            ).alias("coverage_pct")
        )
    )
