"""Unit invariants for the sketch-evaluation queries
(plans/llm_evals.py: minhash_recall_eval, jaccard_histogram)."""

from __future__ import annotations

from spotify_streaming_etl_pipeline_spark.plans import (
    llm_ann_gates,
    llm_dedup_gates,
    llm_evals,
)


def test_minhash_recall_eval_confusion_identity(spark, sf_dir):
    r = llm_evals.minhash_recall_eval(spark, sf_dir).collect()[0]
    assert r.tp + r.fn == r.n_exact
    assert r.tp + r.fp == r.n_minhash
    if r.n_minhash:
        assert 0.0 <= r.precision <= 1.0
    if r.n_exact:
        assert 0.0 <= r.recall <= 1.0
    # banded LSH verified by exact jaccard: candidates are a SUBSET of
    # truth-space pairs, so precision is 1 whenever any pair is found
    if r.n_minhash:
        assert r.fp == 0 and r.precision == 1.0


def test_jaccard_histogram_buckets_and_mass(spark, sf_dir):
    rows = llm_evals.jaccard_histogram(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.3 <= r.bucket <= 1.0
        assert r.n_pairs > 0
    high_mass = sum(r.n_pairs for r in rows if r.bucket >= 0.8)
    n_dedup = llm_dedup_gates.ngram_jaccard_dedup(spark, sf_dir).count()
    assert high_mass == n_dedup


def test_simhash_recall_eval_confusion_bounds(spark, sf_dir):
    r = llm_evals.simhash_recall_eval(spark, sf_dir).collect()[0]
    assert r.tp <= min(r.n_exact, r.n_simhash)
    if r.n_simhash:
        assert 0.0 <= r.precision <= 1.0
    if r.n_exact:
        assert 0.0 <= r.recall <= 1.0


def test_vocab_coverage_monotone(spark, sf_dir):
    rows = sorted(
        llm_evals.vocab_coverage(spark, sf_dir).collect(),
        key=lambda r: r.vocab_size,
    )
    assert [r.vocab_size for r in rows] == [10, 20, 50]
    pcts = [r.coverage_pct for r in rows]
    assert pcts == sorted(pcts)  # bigger vocab never covers less
    assert 0 < pcts[0] <= pcts[-1] <= 100.0


def test_int8_quantization_and_recall(spark, sf_dir):
    from pyspark.sql import functions as F

    from spotify_streaming_etl_pipeline_spark.llm import similarity
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qz = emb.select(
        similarity.quantize_int8(F.col("embedding")).alias("qv")
    )
    bounds = qz.select(
        F.array_max("qv").alias("hi"), F.array_min("qv").alias("lo")
    ).agg(F.max("hi").alias("hi"), F.min("lo").alias("lo")).collect()[0]
    assert -127 <= bounds.lo and bounds.hi <= 127
    assert bounds.hi == 127  # max-abs element always hits full scale

    rows = similarity.int8_recall_at_k(emb, [0, 1, 2, 3, 4], k=5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.k == 5 and 0 <= r.n_overlap <= 5
    # int8 at 64 dims barely moves cosine: recall should be high
    assert sum(r.n_overlap for r in rows) >= 20  # ≥ 0.8 average recall


def test_quantize_int8_zero_vector_stays_in_ranking(spark):
    """An all-zero embedding must quantize to the all-zero qv (not a
    NULL array from the 0/0 scale), so the row never silently drops
    from the int8 path while the exact path still ranks it."""
    from pyspark.sql import functions as F

    from spotify_streaming_etl_pipeline_spark.llm import similarity

    df = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [1.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r.qv
        for r in df.select(
            "vec_id", similarity.quantize_int8(F.col("embedding")).alias("qv")
        ).collect()
    }
    assert out[1] == [0] * 64  # defined, not NULL-poisoned
    assert out[2] == [127] * 64


def test_sign_bit_packing_and_recall(spark, sf_dir):
    from pyspark.sql import functions as F

    from spotify_streaming_etl_pipeline_spark.llm import similarity
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table

    # constructed: all-positive → all 64 bits set (-1); all-negative → 0
    df = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [-1.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    bits = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id", similarity.sign_bits64("embedding").alias("b")
        ).collect()
    }
    assert bits == {1: -1, 2: 0}  # two's complement all-ones vs none

    emb = load_table(spark, sf_dir, "embeddings")
    rows = similarity.sign_bit_recall_at_k(emb, [0, 1, 2, 3, 4], k=5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.k == 5 and 0 <= r.n_overlap <= 5


def test_rerank_recall_dominates_raw_sign_bit(spark, sf_dir):
    from spotify_streaming_etl_pipeline_spark.llm import similarity
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    raw = {
        r.q_id: r.n_overlap
        for r in similarity.sign_bit_recall_at_k(emb, qids, k=5).collect()
    }
    rer = {
        r.q_id: r.n_overlap
        for r in similarity.rerank_recall_at_k(
            emb, qids, k=5, stage1_k=50
        ).collect()
    }
    # a 50-candidate exact rerank can only add true neighbors the raw
    # top-5 cut off — per-query recall never drops
    for q in qids:
        assert rer[q] >= raw[q], (q, raw[q], rer[q])
    assert sum(rer.values()) >= sum(raw.values())


def test_rerank_recall_measures_exact_top_k_on_vec_col(spark, sf_dir):
    """``vec_col`` names the vectors of the exact top-k too: on a frame
    whose vectors live only in column ``e``, the call returns the rows
    the default-column call returns on the original frame."""
    from spotify_streaming_etl_pipeline_spark.llm import similarity
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    default = similarity.rerank_recall_at_k(emb, qids, k=5).collect()
    renamed = similarity.rerank_recall_at_k(
        emb.withColumnRenamed("embedding", "e"), qids, k=5, vec_col="e"
    ).collect()
    assert sorted(map(tuple, renamed)) == sorted(map(tuple, default))


def test_quantization_ladder_ordering(spark, sf_dir):
    rows = {
        r.method: r.recall_at_5
        for r in llm_ann_gates.quantization_ladder_summary(
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"int8", "1bit", "1bit+rerank50"}
    # the rerank tier never loses to raw 1-bit (prefix containment),
    # and int8 at 64 dims should beat raw 1-bit
    assert rows["1bit+rerank50"] >= rows["1bit"]
    assert rows["int8"] >= rows["1bit"]
