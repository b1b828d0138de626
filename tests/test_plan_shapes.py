"""Physical-plan regression pins: the scale properties the engine
claims (broadcast star joins, pushed-down filters, pruned scans, no
row-at-a-time Python, cached posting tables) asserted on the actual
executed plans — so a refactor that silently degrades a plan fails CI,
not a 100 TB run.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


def test_star_join_broadcasts_all_dims(spark, sf_dir, queries):
    plan = _plan(queries["star_join"](spark, sf_dir))
    # Five dim joins (supplier, nation x2, customer-side chain) must all
    # be broadcast; the fact side must never sort-merge on a dim key.
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_no_row_python_udfs_anywhere(spark, sf_dir, queries):
    """BatchEvalPython = row-at-a-time Python UDF (the slow path the
    package bans). Arrow-batched plans (mapInPandas) are allowed only
    in the media queries, where Python IS the decoder."""
    media_queries = {"multimodal_features", "wav_audio_features",
                     "g711_audio_features", "flac_audio_features",
                     "mp3_stream_summary", "mp3_audio_features",
                     "aac_stream_summary", "ogg_stream_summary",
                     "resized_image_features",
                     "bmp_image_features", "png_image_features",
                     "gif_image_features", "jpeg_image_features",
                     "webp_image_features",
                     "video_frame_summary", "mkv_frame_summary",
                     # WARC blob synth + parse are the per-blob codec
                     # path — Arrow-batched by design, like the codecs
                     "warc_records", "crawl_corpus", "webgraph_ranks",
                     # perceptual fingerprints decode real media bytes
                     # (synth + decode + resample are per-blob codecs)
                     "image_ahash_table", "image_ahash_pairs",
                     "audio_fingerprint_table", "audio_fingerprint_pairs",
                     "video_near_dup",
                     # PDF synth + text extraction are per-blob codecs
                     "pdf_text_extract", "warc_pdf_text"}
    for name, fn in queries.items():
        plan = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} uses a row Python UDF"
        if name not in media_queries:
            assert "ArrowEvalPython" not in plan, f"{name} leaves the JVM"
            assert "MapInPandas" not in plan, f"{name} leaves the JVM"


def test_pattern_filter_pushes_predicates_to_scan(spark, sf_dir, queries):
    q = _optimized(queries["pattern_filter"](spark, sf_dir))
    assert "PushedFilters: [" in q
    # the LIKE prefix/contains predicates must reach the parquet reader
    assert "StringStartsWith" in q or "StringContains" in q


def test_yearly_agg_scan_is_pruned(spark, sf_dir, queries):
    import re

    plan = _plan(queries["yearly_agg"](spark, sf_dir))
    # lineitem scan must read only the 6 columns the measures need
    scans = re.findall(r"FileScan parquet \[(l_[^\]]*)\]", plan)
    assert scans, "no lineitem FileScan found"
    cols = scans[0].count(",") + 1
    assert cols <= 6, f"lineitem scan reads {cols} columns; expected <= 6"


def test_monthly_agg_shuffles_on_integer_keys_only(spark, sf_dir, queries):
    plan = _plan(queries["monthly_agg"](spark, sf_dir))
    # month_start (a formatted string) is derived post-agg; no exchange
    # should hash-partition on a date_format expression.
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "date_format" not in line


def test_minhash_posting_is_cached_once(spark, sf_dir, queries):
    plan = _plan(queries["minhash_lsh_dedup"](spark, sf_dir))
    # Both self-join sides must read the band table computed once (the
    # band_candidates checkpoint) instead of recomputing the
    # tokenize->md5->signature pipeline per side.
    assert "Scan ExistingRDD" in plan
    assert "md5" not in plan


def test_minhash_verify_path_is_array_free(spark, sf_dir, queries):
    """The exact-Jaccard verification of minhash_near_dup must run as
    posting-table joins (row-shaped 16-byte hashes), never collect_list
    gram arrays riding the candidate join (degrades for long docs)."""
    plan = _plan(queries["minhash_near_dup"](spark, sf_dir))
    assert "collect_list" not in plan
    assert "ObjectHashAggregate" not in plan


def test_doc_freq_cap_is_bucket_fold(spark, sf_dir, queries):
    """The df cap must apply through the posting_buckets fold (one
    collect_list aggregation with a size filter, pairs from a
    within-row explode) — no self-join of the posting table and no
    separate hot-key anti-join pass (the r7 explode rewrite; the old
    cap_doc_freq broadcast-anti-join form is kept only for callers
    that need a thinned posting TABLE back)."""
    plan = _plan(queries["ngram_jaccard_capped"](spark, sf_dir))
    assert "collect_list" in plan  # the bucket fold
    assert "LeftAnti" not in plan  # no second cap pass
    assert "CartesianProduct" not in plan


def test_dedup_queries_have_no_cartesian(spark, sf_dir, queries):
    for name in ("ngram_jaccard_dedup", "minhash_lsh_dedup", "simhash_dedup",
                 "embedding_near_dup", "ann_topk_lsh", "ann_join_topk",
                 "copurchase_pagerank", "embedding_covariance"):
        plan = _plan(queries[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name} degenerates to cartesian"


def test_star_guards_are_window_marked_not_broadcast(spark, sf_dir, queries):
    """The giant-bucket guards must stay in their measured shape: ONE
    Window over the bucket keys (no broadcast hot-set job, no driver
    probe, no collect_list membership arrays) and no cartesian fallback
    on the thinned self-join."""
    for name in ("minhash_star_guard", "simhash_star_guard",
                 "incremental_star_guard", "embedding_star_guard"):
        plan = _plan(queries[name](spark, sf_dir))
        assert "Window" in plan, f"{name} lost its _bucket_marked window"
        assert "CartesianProduct" not in plan, f"{name} degenerates to cartesian"
        assert "collect_list" not in plan, f"{name} materializes bucket arrays"


def test_incremental_near_dup_unguarded_plan_is_classic(spark, sf_dir, queries):
    """The r7 guard refactor (incremental_band_candidates +
    _bucket_marked) must cost NOTHING when max_bucket_size=None — the
    registered unguarded query keeps the pre-guard plan: no Window
    (guard bookkeeping), no collect_list arrays, no cartesian, and the
    candidate stage is a plain shuffled equi-join on (band, key).
    (The shingle stage's lead() window is part of the classic plan.)
    A/B-verified round 8: the executed plan is string-identical
    (normalized expr ids) to the round-6 build's."""
    plan = _plan(queries["incremental_near_dup"](spark, sf_dir))
    assert "windowspecdefinition(band" not in plan  # no guard window
    assert "collect_list" not in plan
    assert "CartesianProduct" not in plan


def test_docs_scan_fans_out(spark, sf_dir, queries):
    """The documents scan is a single split; the rebalance must spread
    the heavy hash stages across the cluster."""
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table

    df = load_table(spark, sf_dir, "documents")
    assert (
        df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        or df.rdd.getNumPartitions() >= 8
    )


def test_repetition_signals_is_join_free(spark, sf_dir, queries):
    """Both repetition metrics come from ONE tagged explode and two
    partially-aggregated shuffles — no per-doc stats join (the class of
    corpus-sized broadcast that OOMed the sf10 funnel, PLANS.md) and no
    window over the gram stream."""
    plan = _plan(queries["repetition_signals"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Generate") == 1
    assert plan.count("Window") == 0
    assert plan.count("Exchange hashpartitioning") == 2


def test_sequence_packing_avoids_global_data_window(spark, sf_dir, queries):
    """The corpus-wide prefix sum must run as per-bucket windows
    (hash-partitioned on bucket); the only single-partition stage
    allowed is the n_buckets-row bucket-offset window."""
    plan = _plan(queries["sequence_packing"](spark, sf_dir))
    assert "hashpartitioning(bucket" in plan
    assert plan.count("SinglePartition") <= 1


def test_rollup_is_single_expand_single_shuffle(spark, sf_dir, queries):
    """All three grouping sets (year+month, year, grand total) must
    come from ONE Expand over one scan — never a rescan per level."""
    plan = _plan(queries["rollup_agg"](spark, sf_dir))
    assert plan.count("Expand") == 1
    assert plan.count("FileScan parquet") == 1


def test_pivot_has_no_distinct_values_job(spark, sf_dir, queries):
    """pivot with an explicit value list is one shuffle of conditional
    aggregates; a values-discovery pass would show a second aggregate
    over event_type alone."""
    plan = _plan(queries["event_type_pivot"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_split_and_chunking_are_shuffle_free(spark, sf_dir, queries):
    """dataset_split and document_chunks are narrow-only pipelines: no
    semantic shuffle (hash/range repartitioning) anywhere — the
    property that makes them free at 100 TB. (The loader's round-robin
    fan-out of an under-split scan is allowed: it's scan parallelism,
    not data movement the operator demanded.)"""
    for name in ("dataset_split", "document_chunks"):
        plan = _plan(queries[name](spark, sf_dir))
        assert "Exchange hashpartitioning" not in plan, f"{name} shuffles"
        assert "Exchange rangepartitioning" not in plan, f"{name} sorts globally"


def test_source_quota_sample_single_shuffle(spark, sf_dir, queries):
    """Quota sampling is one hash partitioning on source + a window —
    exactly one Exchange, no sort-merge join, no broadcast of the big
    side."""
    plan = _plan(queries["source_quota_sample"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_cube_is_single_expand_single_shuffle(spark, sf_dir, queries):
    """All four grouping sets of the corpus cube come from ONE Expand
    feeding ONE aggregation shuffle — never four rescans."""
    plan = _plan(queries["corpus_stats_cube"](spark, sf_dir))
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_outlink_edges_is_narrow(spark, sf_dir, queries):
    """Edge extraction is projection + explode over the page scan —
    no semantic shuffle, no join, no Python anywhere (pure codegen
    regex; the loader's round-robin scan fan-out is allowed)."""
    plan = _plan(queries["outlink_edges"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_crawl_corpus_has_no_shuffle(spark, sf_dir, queries):
    """The crawl first mile is narrow end to end: blob synth + parse
    (Arrow batches) then filters/projections only — one scan of the
    blob column, no semantic shuffle (hash/range) anywhere."""
    plan = _plan(queries["crawl_corpus"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_grouped_lloyd_join_strategy_switch(spark):
    """The Lloyd kernel at a hierarchical-k-means refinement level
    (grouped on ``grp``): below the centroid bound the candidate join
    must broadcast (dims un-shuffled); above it the shuffle_hash hint
    must produce a ShuffledHashJoin, never a SortMergeJoin — the
    documented 10M-centroid memory-boundary fix."""
    from pyspark.sql import functions as F

    from spotify_streaming_etl_pipeline_spark.llm import similarity
    from tests.fixtures import frame

    emb = frame(
        spark,
        [(i, [float(i % 7), float(i % 3)] + [0.0] * 6) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    dc = similarity._exploded(emb).withColumn("grp", F.lit(0))
    bc = _plan(similarity._lloyd(dc, 2, 1, ("grp",), broadcast=True))
    assert "BroadcastHashJoin" in bc
    sh = _plan(similarity._lloyd(dc, 2, 1, ("grp",), broadcast=False))
    assert "ShuffledHashJoin" in sh
    assert "SortMergeJoin" not in sh


def test_corpus_diff_shuffles_hashes_not_text(spark, sf_dir, queries):
    """The snapshot-diff join must move (id, hash) rows only — the text
    column is reduced to a 48-bit hash before any Exchange."""
    plan = _plan(queries["corpus_diff"](spark, sf_dir))
    import re

    for exch in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in exch
    # text appears only below the hash projection, never as a join output
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_bloom_probe_broadcasts_bits_and_skips_posting_windows(
    spark, sf_dir, queries
):
    """The bloom bit table must BROADCAST (bounded by m, never by the
    benchmark suite), and gram assembly must be narrow — no window
    exchange from a posting build anywhere in the plan."""
    plan = _plan(queries["bloom_decontam"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_robots_rules_broadcast(spark, sf_dir, queries):
    """Rules are host-bounded — the decision join must broadcast them
    — and the per-URL winner must be a partial aggregate, never a
    window sort over the URL table (the parser's per-HOST line window
    is fine: it scales with robots bytes, not the corpus)."""
    plan = _plan(queries["robots_decisions"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan
    assert "windowspecdefinition(_host" not in plan
    assert "SortMergeJoin" not in plan


def test_line_dedup_shuffles_hashes_not_text(spark, sf_dir, queries):
    """The keeper aggregation must partially aggregate BEFORE its
    exchange (map-side combine on the md5 halves) and never
    sort-merge; line text stays out of the shuffled keeper key."""
    plan = _plan(queries["line_dedup_decisions"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_verbatim_spans_guard_precedes_fold(spark, sf_dir, queries):
    """The span extractor's pairing is a within-row double explode of
    the hot-capped posting; the ONLY join in the plan is the hot-hash
    anti-join, and the guard must be a plain COUNT aggregate applied
    BEFORE the collect_list fold — a size() filter after the fold
    would materialize every boilerplate posting array in one
    aggregation buffer (executor OOM at 100 TB).  The anti-join is
    shuffle-hash (sortless, h-partitioned so the fold reuses the
    exchange), never sort-merge or cartesian."""
    plan = _plan(queries["verbatim_spans"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the posting explode
    assert "LeftAnti" in plan  # the pre-fold hot-hash guard
    assert "partial_count" in plan  # ...fed by a partial count agg
    # and the fold's output is never cap-filtered post hoc (the
    # optimizer's own `size(ps) > 0` explode guard is fine)
    import re as _re

    assert not _re.search(r"size\(ps[^\n]*1000", plan)


def test_unigram_edges_broadcast(spark, sf_dir, queries):
    """Viterbi candidate edges come from ONE broadcast join of word
    substrings against the piece-cost table (explicitly hinted — the
    piece table shrinks every EM round).  The only other join is the
    words -> segmentation reassembly, keyed on the word — a
    vocabulary-keyed shuffle that is the CORRECT plan (the distinct
    -word side has no static size bound), so exactly one non-broadcast
    join is allowed and a cartesian never is."""
    plan = _plan(queries["unigram_tokens"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_occurrence_removal_guard_and_exchange_reuse(spark, sf_dir, queries):
    """The linear verbatim-removal form: the hot-hash guard is a
    pre-window COUNT aggregate + shuffle-hash anti-join (never
    sort-merge for the probe side, no cartesian), and the canonical
    -occurrence window rides the same h-partitioning."""
    plan = _plan(queries["verbatim_occurrence_removal"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "partial_count" in plan
    assert "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
