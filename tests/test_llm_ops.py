"""Unit tests for the LLM-data-pipeline operators (llm/*) — edge cases
the end-to-end oracle parity test doesn't isolate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_streaming_etl_pipeline_spark.llm import dedup, mp3, multimodal, similarity
from spotify_streaming_etl_pipeline_spark.llm.text import (
    doc_fingerprint,
    lang_id,
    portable_hash48,
    token_count_ws,
    word_ngrams,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "src0"),
        (1, "the quick brown fox jumps over the lazy cat", "src0"),  # near-dup of 0
        (2, "completely different words entirely here now", "src1"),
        (3, "the quick brown fox jumps over the lazy dog", "src1"),  # exact dup of 0
        (4, "tiny", "src1"),  # < 3 words -> no ngrams
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string, source: string")


def test_portable_hash48_matches_duckdb(spark):
    import duckdb

    val = spark.range(1).select(portable_hash48(F.lit("hello")).alias("h")).first()["h"]
    ref = duckdb.sql(
        "SELECT ('0x' || substring(md5('hello'), 1, 12))::BIGINT"
    ).fetchone()[0]
    assert val == ref


def test_word_ngrams_short_doc_is_empty(spark, docs):
    out = {
        r["doc_id"]: r["ng"]
        for r in docs.select("doc_id", word_ngrams(F.col("text")).alias("ng")).collect()
    }
    assert out[4] == []
    assert "the|quick|brown" in out[0]
    # 9 words -> 7 trigrams, "the" repeats but trigrams are distinct
    assert len(out[0]) == 7


def test_positional_ngrams_order_duplicates_and_nulls(spark):
    """The r13 zipped-slice gram builder: positional order kept,
    duplicates kept, short docs empty, NULL text empty, repeated
    separators collapsed by the tokenizer."""
    from spotify_streaming_etl_pipeline_spark.llm.text import positional_ngrams

    rows = [
        (0, "a b a b a"),          # overlapping duplicate grams
        (1, "x y"),                # shorter than n -> empty
        (2, ""),                   # empty text -> empty
        (3, None),                 # NULL text -> empty (old contract)
        (4, "a  b   c d"),         # multi-space: empty tokens dropped
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", positional_ngrams(F.col("text"), 3).alias("g")
        ).collect()
    }
    assert out[0] == ["a|b|a", "b|a|b", "a|b|a"]
    assert out[1] == [] and out[2] == [] and out[3] == []
    assert out[4] == ["a|b|c", "b|c|d"]


def test_pair_jaccard_supplied_sizes_match_derived(spark, docs):
    """The r13 sizes threading: pair_jaccard with precomputed per-doc
    gram counts — including a SUPERSET table covering docs outside the
    pair set — must equal the self-derived form row for row."""
    posting = dedup._posting(docs, "text")
    pairs = spark.createDataFrame(
        [(0, 3), (0, 1), (1, 2)], "doc_a: long, doc_b: long"
    )
    base = sorted(
        map(tuple, dedup.pair_jaccard(posting, pairs).collect())
    )
    sizes = posting.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    threaded = sorted(
        map(
            tuple,
            dedup.pair_jaccard(
                posting, pairs, _sizes_df=sizes, _sizes_b_df=sizes
            ).collect(),
        )
    )
    assert threaded == base


def test_exact_dedup_groups(spark, docs):
    groups = dedup.exact_dedup_groups(docs).collect()
    by_n = sorted(g["n_copies"] for g in groups)
    assert by_n == [1, 1, 1, 2]  # docs 0 and 3 collapse
    dup = [g for g in groups if g["n_copies"] == 2][0]
    assert dup["keeper_doc_id"] == 0


def test_ngram_jaccard_finds_near_dup_pair(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 3) in got  # exact dup -> jaccard 1.0
    assert (0, 1) in got and (1, 3) in got  # one-word change
    assert all(a < b for a, b in got)


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short document fully quoted inside a long one: containment 1.0
    while Jaccard ~ |A|/|B| — the dup class the overlap coefficient
    exists for."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(0, short), (1, filler + " " + short)], "doc_id: long, text: string"
    )
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.containment_pairs(df, threshold=0.9).collect()
    }
    assert cont[(0, 1)] == 1.0  # every shingle of 0 appears in 1
    jacc = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jacc == []  # symmetric similarity never sees the pair


def test_minhash_candidates_superset_of_verified(spark, docs):
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    verified = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_near_dup(docs, threshold=0.9).collect()
    }
    assert verified <= cands
    assert (0, 3) in verified  # exact dup must survive any threshold


def test_lsh_giant_bucket_star_guard(spark):
    """A planted oversized LSH bucket (20 identical docs; every band
    collides) must emit star edges to the bucket-min doc — m-1
    candidates, not m(m-1)/2 — while preserving connectivity so
    dup_clusters yields the identical single component, and a cap the
    bucket doesn't exceed must be a byte-identical no-op."""
    clone = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [(100 + i, clone) for i in range(20)] + [
        (200, "one entirely unrelated document about gardening tools"),
        (201, "another separate text concerning maritime navigation law"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(df, max_bucket_size=8).collect()
    }
    star = {(100, 100 + i) for i in range(1, 20)}
    assert capped & star == star  # rep connected to every member
    clone_pairs = {p for p in capped if p[0] >= 100 and p[1] <= 119}
    assert clone_pairs == star  # bounded: 19 edges, not 190

    full = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(df, max_bucket_size=None).collect()
    }
    assert len({p for p in full if p[0] >= 100 and p[1] <= 119}) == 190
    unfired = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(df, max_bucket_size=512).collect()
    }
    assert unfired == full  # cap above every bucket -> byte-identical

    # Verified pairs under the cap still cluster all 20 clones together.
    verified = dedup.minhash_near_dup(df, threshold=0.9, max_bucket_size=8)
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(verified).collect()
    }
    assert {clusters[100 + i] for i in range(20)} == {100}
    assert 200 not in clusters and 201 not in clusters


def test_simhash_giant_bucket_star_guard(spark):
    """Identical docs collide in EVERY simhash chunk; the cap must
    reduce the bucket to star edges with exact hamming values, and a
    non-firing cap must be a no-op."""
    clone = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [(100 + i, clone) for i in range(20)] + [
        (200, "one entirely unrelated document about gardening tools"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    capped = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_dup(df, max_bucket_size=8).collect()
    }
    star = {(100, 100 + i) for i in range(1, 20)}
    clone_pairs = {p for p in capped if p[0] >= 100}
    assert clone_pairs == star  # 19 star edges, not 190
    assert all(capped[p] == 0 for p in star)  # hamming still exact
    full = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_near_dup(df, max_bucket_size=None).collect()
    }
    assert len({p for p in full if p[0] >= 100}) == 190
    unfired = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_near_dup(df, max_bucket_size=512).collect()
    }
    assert unfired == full  # cap above every bucket -> byte-identical


def test_incremental_hot_corpus_bucket_thins_to_rep(spark):
    """A batch doc colliding with an oversized corpus bucket must be
    reported as a duplicate of the bucket representative only — one
    pair, same admission verdict — while non-colliding batch docs are
    untouched."""
    clone = "alpha bravo charlie delta echo foxtrot golf hotel india"
    corpus = spark.createDataFrame(
        [(100 + i, clone) for i in range(20)]
        + [(200, "one entirely unrelated document about gardening tools")],
        "doc_id: long, text: string",
    )
    batch = spark.createDataFrame(
        [(500, clone), (501, "fresh novel content nobody has seen before")],
        "doc_id: long, text: string",
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_incremental(
            batch, corpus, threshold=0.9, max_bucket_size=8
        ).collect()
    }
    assert capped == {(100, 500)}  # rep only; 501 admitted clean
    full = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_incremental(
            batch, corpus, threshold=0.9, max_bucket_size=None
        ).collect()
    }
    assert full == {(100 + i, 500) for i in range(20)}


def test_simhash_identical_docs_distance_zero(spark, docs):
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_fingerprints(docs).collect()
    }
    assert fps[0] == fps[3]
    assert 4 not in fps  # short doc has no features -> excluded
    pairs = dedup.simhash_near_dup(docs, max_distance=3).collect()
    assert any(r["doc_a"] == 0 and r["doc_b"] == 3 and r["hamming"] == 0 for r in pairs)


def test_simhash_banding_is_exhaustive(spark, docs):
    """Banded join must equal brute force for distance <= t (pigeonhole)."""
    fps = dedup.simhash_fingerprints(docs).collect()
    brute = set()
    for i, a in enumerate(fps):
        for b in fps[i + 1 :]:
            x, y = (a, b) if a["doc_id"] < b["doc_id"] else (b, a)
            if bin(x["simhash"] ^ y["simhash"]).count("1") <= 3:
                brute.add((x["doc_id"], y["doc_id"]))
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_near_dup(docs, max_distance=3).collect()
    }
    assert banded == brute


def test_cosine_topk_self_excluded_and_ranked(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = similarity.cosine_topk(emb, [0], k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 2, 3]  # by descending cosine
    assert out[0]["rn"] == 1 and out[0]["cosine"] > 0.99
    assert all(r["q_id"] == 0 for r in out)


def test_embedding_giant_bucket_star_guard(spark):
    """20 identical embeddings share one hyperplane bucket; the cap
    must reduce it to 19 star edges (cosine exact, 1.0 to the rep)
    while a non-firing cap stays byte-identical to unguarded."""
    base = [float((i * 7) % 13 - 6) for i in range(64)]
    other = [float((i * 11) % 17 - 8) for i in range(64)]
    rows = [(100 + i, base) for i in range(20)] + [(200, other)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    capped = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.embedding_near_dup(
            emb, threshold=0.9, max_bucket_size=8
        ).collect()
    }
    star = {(100, 100 + i) for i in range(1, 20)}
    assert {p for p in capped if p[0] >= 100 and p[1] <= 119} == star
    assert all(capped[p] == 1.0 for p in star)
    full = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup(emb, threshold=0.9).collect()
    }
    assert len({p for p in full if p[0] >= 100 and p[1] <= 119}) == 190
    unfired = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup(
            emb, threshold=0.9, max_bucket_size=512
        ).collect()
    }
    assert unfired == full


def test_lsh_bucket_deterministic(spark):
    emb = spark.createDataFrame(
        [(0, [float(i) for i in range(64)])], "vec_id: long, embedding: array<float>"
    )
    b1 = emb.select(similarity.bucket_col(F.col("embedding")).alias("b")).first()["b"]
    b2 = emb.select(similarity.bucket_col(F.col("embedding")).alias("b")).first()["b"]
    assert b1 == b2
    assert 0 <= b1 < (1 << similarity.N_PLANES)


def test_multimodal_feature_extraction_batch_shape(spark, docs):
    media = multimodal.attach_blob(docs)
    assert [f.name for f in media.schema.fields] == ["doc_id", "blob", "meta", "source"]
    feats = multimodal.extract_blob_features(media)
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert rows[0]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert rows[0]["first_byte"] == ord("t")
    assert rows[0]["content_md5"] == rows[3]["content_md5"]
    assert rows[0]["content_md5"] != rows[2]["content_md5"]


def test_sample_frames_unknown_container_refuses():
    """A sampler must never fabricate pseudo-frames from byte slices:
    unknown containers raise instead of returning fake frames."""
    with pytest.raises(NotImplementedError, match="demux"):
        multimodal.sample_frames(bytes(range(256)) * 40)


def test_lang_id_prefers_lexicon_overlap(spark):
    rows = [(0, "the cat is in the house"), (1, "el gato es que en la casa"), (2, "xyzzy qwerty")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r["l"] for r in df.select("doc_id", lang_id(F.col("text")).alias("l")).collect()}
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "und"


def test_fingerprint_short_text_falls_back(spark):
    df = spark.createDataFrame([(0, "short")], "doc_id: long, text: string")
    fp = df.select(doc_fingerprint(F.col("text")).alias("f")).first()["f"]
    ref = df.select(portable_hash48(F.lit("short")).alias("f")).first()["f"]
    assert fp == ref


def test_token_count_ignores_double_spaces(spark):
    df = spark.createDataFrame([(0, "a  b c")], "doc_id: long, text: string")
    assert df.select(token_count_ws(F.col("text")).alias("n")).first()["n"] == 3


def test_quality_filter_keeps_upper_quantile(spark):
    from spotify_streaming_etl_pipeline_spark.llm.curation import (
        quality_cutoff,
        quality_filter,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "doc_id: long, score: double"
    )
    cut = quality_cutoff(df, "score", 0.25)
    kept = quality_filter(df, "score", 0.25)
    assert kept.count() == sum(1 for i in range(1, 101) if i >= cut)
    assert kept.agg({"score": "min"}).collect()[0][0] >= cut


def test_winnowing_guarantee_and_mod_p_miss(spark):
    """Two docs sharing a >= window + w - 1 = 23-char passage MUST
    share a winnowed fingerprint (the Schleimer-Wilkerson-Aiken
    guarantee); mod-p selection has no such bound and can miss the
    same passage entirely. Also: winnowed fingerprints are a subset
    of the doc's substring hashes and deterministic."""
    from spotify_streaming_etl_pipeline_spark.llm.overlap import (
        selected_fingerprints,
        winnowed_fingerprints,
        winnowed_overlap_pairs,
    )
    from spotify_streaming_etl_pipeline_spark.llm.text import window_hashes

    shared = "this exact passage is copied verbatim everywhere"
    rows = [
        (0, "lead-in words before " + shared + " and then a tail"),
        (1, shared + " with a different continuation entirely"),
        (2, "no overlap with anything else in this tiny corpus"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    win = {
        (r["doc_id"], r["h"]) for r in winnowed_fingerprints(df).collect()
    }
    h0 = {h for d, h in win if d == 0}
    h1 = {h for d, h in win if d == 1}
    h2 = {h for d, h in win if d == 2}
    assert h0 & h1  # the guarantee
    assert not (h0 & h2) and not (h1 & h2)
    all_h0 = {r["h"] for r in window_hashes(df.filter("doc_id = 0")).collect()}
    assert h0 <= all_h0  # selection subset, never fabricated hashes
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in winnowed_overlap_pairs(df, min_shared=1).collect()
    }
    assert pairs == {(0, 1)}
    # determinism
    assert win == {
        (r["doc_id"], r["h"]) for r in winnowed_fingerprints(df).collect()
    }
    # density comparison is the point of winnowing: mod-64 selection
    # on the same corpus may or may not pick anything from the shared
    # passage — it only has EXPECTED density, no per-window guarantee.
    sel = selected_fingerprints(df)
    assert sel.count() <= len(win) * 8  # sanity: both are thin


def test_html_to_text_traps(spark):
    """Tags inside script bodies must not resurrect; comments,
    entities, and nbsp decode; plain text passes through."""
    from spotify_streaming_etl_pipeline_spark.llm.text import html_to_text

    rows = [
        (0, "<script>if(a<b){x='<p>evil</p>'}</script><p>kept &amp; well</p>"),
        (1, "<!-- <h1>commented out</h1> --><div>one&nbsp;two</div>"),
        (2, "no markup at all"),
        (3, "<STYLE media='x'>.a{content:'<b>'}</STYLE>bare"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, html: string")
    got = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id", html_to_text(F.col("html")).alias("t")
        ).collect()
    }
    assert got[0] == "kept & well"
    assert got[1] == "one two"
    assert got[2] == "no markup at all"
    assert got[3] == "bare"


def test_canonical_url_variants_collapse(spark):
    from spotify_streaming_etl_pipeline_spark.llm.text import canonical_url

    urls = [
        "https://www.Example.COM/a/b?x=1&a=2",
        "HTTPS://WWW.example.com:443/a/b?a=2&x=1#section",
        "https://www.example.com/a/b?utm_source=tw&x=1&a=2",
        "https://www.example.com/a/b/?x=1&a=2&utm_campaign=z",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url: string")
    got = {r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()}
    assert got == {"https://www.example.com/a/b?a=2&x=1"}  # params sorted
    # case-sensitive paths and meaningful params survive; scheme-less
    # strings pass through (minus fragment/tracking), never mangled
    more = [
        ("https://h.io/CaseSensitive/Path?Q=Vv", "https://h.io/CaseSensitive/Path?Q=Vv"),
        ("http://example.com:80/", "http://example.com"),
        ("example.com/x?gclid=1#f", "example.com/x"),
        # boundary anchoring: names merely ENDING in a tracked name and
        # values CONTAINING one are not tracking params — keep them
        ("https://h.io/p?xgclid=7&b=2", "https://h.io/p?b=2&xgclid=7"),
        ("https://h.io/p?aref_src=k", "https://h.io/p?aref_src=k"),
        ("https://h.io/p?q=utm_x=1&b=2", "https://h.io/p?b=2&q=utm_x=1"),
        # back-to-back tracking params all strip (each sees its own
        # ?/& anchor; the leftover delimiter runs tidy away)
        ("https://h.io/p?utm_a=1&utm_b=2&c=3", "https://h.io/p?c=3"),
        ("https://h.io/p?a=1&utm_b=2&utm_c=3&d=4", "https://h.io/p?a=1&d=4"),
        ("https://h.io/p?utm_a=1&utm_b=2", "https://h.io/p"),
    ]
    dm = spark.createDataFrame(more, "url: string, want: string")
    for r in dm.select(canonical_url(F.col("url")).alias("c"), "want").collect():
        assert r["c"] == r["want"]


def test_mix_sources_rates_and_determinism(spark):
    from spotify_streaming_etl_pipeline_spark.llm.curation import mix_sources

    rows = [(i, "a" if i % 2 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    out1 = mix_sources(df, {"a": 30, "b": 100})
    out2 = mix_sources(df, {"a": 30, "b": 100})
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    assert ids1 == sorted(r["doc_id"] for r in out2.collect())  # deterministic
    a_rate = out1.filter("source = 'a'").count() / 1000
    assert 0.2 < a_rate < 0.4  # ~30% +- hash noise
    assert out1.filter("source = 'b'").count() == 1000  # 100% kept


def test_temperature_mix_flattens_toward_small_sources(spark):
    """alpha=1 preserves natural proportions (everything kept when T =
    total); alpha=0.5 down-samples the dominant source while the small
    source caps at 100%; the hash keep-set is deterministic."""
    from spotify_streaming_etl_pipeline_spark.llm.curation import temperature_mix

    rows = [(i, "big" if i % 10 else "small") for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    natural = temperature_mix(df, alpha=1.0)
    assert natural.count() == 5000  # T*w_i/n_i == 1 for every source

    mixed = temperature_mix(df, alpha=0.5)
    n_small = mixed.filter("source = 'small'").count()
    n_big = mixed.filter("source = 'big'").count()
    assert n_small == 500  # small source capped at 100%
    # expected big rate: T*w_big/n_big = (sqrt(4500)+sqrt(500))-normed
    import math

    w_big = math.sqrt(4500) / (math.sqrt(4500) + math.sqrt(500))
    exp_big = 5000 * w_big / 4500
    assert abs(n_big / 4500 - exp_big) < 0.05  # ~84% +- hash noise
    again = sorted(r["doc_id"] for r in temperature_mix(df, alpha=0.5).collect())
    assert again == sorted(r["doc_id"] for r in mixed.collect())


def test_resize_image_nearest_neighbor_exact():
    """Real resize: decode -> floor-index NN resample -> PNG re-encode.
    On a horizontal-gradient source the resampled pixels are an exact
    arithmetic function of the index map sx = x*sw//tw."""
    sw, sh = 10, 6
    src = bytes((x + 2 * y) % 256 for y in range(sh) for x in range(sw))
    blob = multimodal.encode_png(sw, sh, 1, src)
    out = multimodal.decode_png(multimodal.resize_image(blob, 4, 3))
    assert (out["width"], out["height"], out["channels"]) == (4, 3, 1)
    want = bytes(
        ((x * sw) // 4 + 2 * ((y * sh) // 3)) % 256
        for y in range(3)
        for x in range(4)
    )
    assert out["pixels"] == want
    # upscale replicates (every source pixel appears >= once)
    up = multimodal.decode_png(multimodal.resize_image(blob, 20, 6))
    assert up["width"] == 20 and set(up["pixels"]) <= set(src)
    # channel count preserved: RGB stays RGB
    rgb = bytes(v for v in range(30) for _ in range(3))
    blob3 = multimodal.encode_png(10, 3, 3, rgb)
    out3 = multimodal.decode_png(multimodal.resize_image(blob3, 5, 3))
    assert out3["channels"] == 3 and out3["width"] == 5
    with pytest.raises(ValueError):
        multimodal.resize_image(b"not an image", 4, 4)
    with pytest.raises(ValueError):
        multimodal.resize_image(blob, 0, 4)


def test_resize_blobs_real_thumbnails(spark):
    """resize_blobs is a REAL decode->NN-resample->PNG stage now: PNG,
    BMP, GIF, and JPEG corpora all come out as decodable (width,
    height) PNG thumbnails with the source's channel count; poison
    blobs null out (dead-letter contract)."""
    docs = spark.createDataFrame([(0,), (1,)], "doc_id: long")
    for synth, ch in [
        (multimodal.synth_png_corpus, 1),
        (multimodal.synth_bmp_corpus, None),
        (multimodal.synth_gif_corpus, None),
        # jpeg corpus cycles modes by doc_id % 4: doc 0 grayscale
        # baseline, doc 1 color 4:2:0
        (multimodal.synth_jpeg_corpus, {0: 1, 1: 3}),
    ]:
        media = synth(docs)
        out = multimodal.resize_blobs(media, width=5, height=4).collect()
        assert len(out) == 2
        for r in out:
            img = multimodal.decode_png(bytes(r["blob"]))
            assert (img["width"], img["height"]) == (5, 4)
            if isinstance(ch, dict):
                assert img["channels"] == ch[r["doc_id"]]
            elif ch is not None:
                assert img["channels"] == ch
    poisoned = spark.createDataFrame(
        [(9, bytearray(b"\x89PNGbroken")), (10, bytearray(b"junk"))],
        "doc_id: long, blob: binary",
    )
    got = {r["doc_id"]: r["blob"] for r in
           multimodal.resize_blobs(poisoned, width=3, height=3).collect()}
    assert got[9] is None and got[10] is None


def test_repetition_stats_detects_boilerplate(spark):
    from spotify_streaming_etl_pipeline_spark.llm.decontam import repetition_stats

    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),  # one distinct bigram
            (1, "all words here are fully unique"),
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert out[0]["n_grams"] == 5 and out[0]["n_distinct"] == 1
    assert out[0]["dup_ratio"] == 0.8
    assert out[1]["dup_ratio"] == 0.0


def test_repetition_table_char_fractions_hand_computed(spark):
    from spotify_streaming_etl_pipeline_spark.llm.text import repetition_table

    df = spark.createDataFrame(
        [
            # words [a b a b a b], nc=11: top 2-gram "a b" x3 (len 3)
            # -> 9/11; 3-grams "a b a" x2 + "b a b" x2 (len 5 each)
            # -> 20/11 (>1 by overlap accounting, documented)
            (0, "a b a b a b"),
            # no repetition, nc=5: 2-gram tie ("x y","y z" both x1)
            # breaks to the lexicographically smaller "x y" -> 3/5
            (1, "x y z"),
            (2, "solo"),  # < 2 words -> drops out
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in repetition_table(df).collect()}
    assert set(out) == {0, 1}
    assert out[0]["top2_gram"] == "a b" and out[0]["top2_count"] == 3
    assert out[0]["top2_char_frac"] == round(9 / 11, 4)
    assert out[0]["dup3_char_frac"] == round(20 / 11, 4)
    assert out[1]["top2_gram"] == "x y" and out[1]["top2_count"] == 1
    assert out[1]["top2_char_frac"] == 0.6
    assert out[1]["dup3_char_frac"] == 0.0


def test_contamination_check_flags_overlap(spark):
    from spotify_streaming_etl_pipeline_spark.llm.decontam import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id: long, text: string",
    )
    corpus = spark.createDataFrame(
        [
            (0, "intro text the quick brown fox jumps over the lazy dog tonight outro"),
            (1, "completely unrelated content with different words entirely"),
        ],
        "doc_id: long, text: string",
    )
    hits = contamination_check(corpus, bench, min_hits=5).collect()
    assert len(hits) == 1
    assert hits[0]["doc_id"] == 0 and hits[0]["bench_id"] == 100
    assert hits[0]["n_hits"] >= 5


def test_normalize_text_canonicalizes(spark):
    from spotify_streaming_etl_pipeline_spark.llm.text import normalize_text

    df = spark.createDataFrame(
        [(0, "  Hello,   WORLD!! 123  "), (1, "hello world 123")],
        "doc_id: long, text: string",
    )
    out = [r["n"] for r in df.select(normalize_text(F.col("text")).alias("n")).collect()]
    assert out[0] == out[1] == "hello world 123"


def test_mask_pii_patterns(spark):
    from spotify_streaming_etl_pipeline_spark.llm.text import mask_pii

    df = spark.createDataFrame(
        [(0, "contact john.doe+x@example.co.uk or https://a.b/c?d=1 id 1234567 ok 123")],
        "doc_id: long, text: string",
    )
    out = df.select(mask_pii(F.col("text")).alias("m")).first()["m"]
    assert out == "contact <EMAIL> or <URL> id <NUM> ok 123"


def test_dup_clusters_components(spark):
    from spotify_streaming_etl_pipeline_spark.llm.dedup import dup_clusters

    # two components: {1,2,3} via a chain (diameter > 1) and {10, 11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a: long, doc_b: long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dup_clusters_paths_agree(spark):
    """The driver union-find (small-edge-set path) and the distributed
    min-label propagation loop must produce identical components."""
    from spotify_streaming_etl_pipeline_spark.llm.dedup import dup_clusters

    # chain, triangle-with-tail, singleton pair, and a cross-merge
    edges = [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9), (9, 20),
             (30, 31), (5, 40), (40, 2)]
    pairs = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    local = {(r["doc_id"], r["cluster_id"])
             for r in dup_clusters(pairs, distributed=False).collect()}
    dist = {(r["doc_id"], r["cluster_id"])
            for r in dup_clusters(pairs, distributed=True).collect()}
    assert local == dist
    assert {(1, 1), (4, 1), (40, 1), (20, 7), (31, 30)} <= local


def test_vocab_stats_counts(spark):
    from spotify_streaming_etl_pipeline_spark.llm.text import vocab_stats

    df = spark.createDataFrame(
        [(0, "a b a"), (1, "a c")], "doc_id: long, text: string"
    )
    rows = {r["token"]: r for r in vocab_stats(df).collect()}
    assert rows["a"]["doc_freq"] == 2 and rows["a"]["term_freq"] == 3
    assert rows["a"]["idf"] == 0.0  # appears in every doc
    assert rows["b"]["doc_freq"] == 1 and rows["c"]["term_freq"] == 1


def test_doc_freq_cap_bounds_boilerplate_pairs(spark):
    """Skew guard: a corpus where every doc shares one boilerplate
    sentence is quadratic for the uncapped inverted-index join; the
    df cap must remove those hot shingles so candidate-pair volume is
    bounded (here: zero, since the unique content never co-occurs)."""
    boiler = "this document is provided as is without any warranty"
    rows = [
        (i, f"{boiler} unique{i} content{i} words{i} here{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.0, max_doc_freq=None)
    assert uncapped.count() == 40 * 39 // 2  # every pair co-occurs
    capped = dedup.ngram_jaccard_pairs(df, threshold=0.0, max_doc_freq=5)
    assert capped.count() == 0  # hot shingles gone; unique ones never shared
    # A genuine near-dup cluster (df <= cap) still comes through intact.
    rows.append((100, f"{boiler} unique7 content7 words7 here7 extra"))
    df2 = spark.createDataFrame(rows, "doc_id: long, text: string")
    kept = dedup.ngram_jaccard_pairs(df2, threshold=0.5, max_doc_freq=5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in kept} == {(7, 100)}


def test_pair_jaccard_matches_set_arithmetic(spark, docs):
    """pair_jaccard (posting-join verify) must equal the textbook
    |A∩B| / |A∪B| on explicitly requested pairs, and drop zero-overlap
    pairs (jaccard 0 can never pass a positive threshold)."""
    posting = dedup._posting(docs, "text")
    pairs = spark.createDataFrame(
        [(0, 3), (0, 1), (0, 2)], "doc_a: long, doc_b: long"
    )
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.pair_jaccard(posting, pairs).collect()}
    assert got[(0, 3)] == 1.0  # exact dup
    assert got[(0, 1)] == 0.75  # 7 trigrams each, 6 shared: 6/8
    assert (0, 2) not in got  # disjoint shingles -> dropped


def test_minhash_incremental_reports_cross_pairs_only(spark):
    """Batch-vs-corpus dedup must report (corpus, new) duplicates and
    stay silent on corpus-internal and batch-internal duplicates."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # corpus-internal dup
            (3, "completely different content lives here now"),
        ],
        "doc_id: long, text: string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # dups corpus 1,2
            (11, "unrelated brand new document text entirely"),
            (12, "unrelated brand new document text entirely"),  # batch-internal dup
        ],
        "doc_id: long, text: string",
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_incremental(new, corpus, threshold=0.9).collect()
    }
    assert got == {(1, 10), (2, 10)}


def test_vocab_encode_roundtrip(spark):
    """Frequency-ranked vocab ids and deterministic sequence encode:
    most frequent token gets id 1; documents decode back exactly."""
    from spotify_streaming_etl_pipeline_spark.llm.text import (
        encode_with_vocab,
        vocab_ids,
    )

    df = spark.createDataFrame(
        [(0, "b a b c b a"), (1, "a c")], "doc_id: long, text: string"
    )
    vocab = {r["token"]: r["id"] for r in vocab_ids(df).collect()}
    # a and b tie at tf 3 -> token order breaks the tie; c trails at tf 2
    assert vocab == {"a": 1, "b": 2, "c": 3}
    ids = {r["doc_id"]: r["ids"] for r in encode_with_vocab(df).collect()}
    inv = {v: k for k, v in vocab.items()}
    decoded0 = " ".join(inv[int(i)] for i in ids[0].split(","))
    assert decoded0 == "b a b c b a"
    decoded1 = " ".join(inv[int(i)] for i in ids[1].split(","))
    assert decoded1 == "a c"


# --- real PNG decode (pure stdlib) ------------------------------------------


def _encode_png(width, height, pixels, channels=3, filter_type=0):
    """Minimal in-test PNG writer (zlib + struct) so decode_png is
    exercised on REAL PNG byte strings, per scanline filter type."""
    import struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = bytearray(stride)
    for row in range(height):
        cur = bytearray(pixels[row * stride : (row + 1) * stride])
        raw.append(filter_type)
        if filter_type == 0:
            raw += cur
        elif filter_type == 1:  # Sub
            raw += bytes(
                (cur[x] - (cur[x - channels] if x >= channels else 0)) & 255
                for x in range(stride)
            )
        elif filter_type == 2:  # Up
            raw += bytes((cur[x] - prev[x]) & 255 for x in range(stride))
        elif filter_type == 3:  # Average
            raw += bytes(
                (
                    cur[x]
                    - (((cur[x - channels] if x >= channels else 0) + prev[x]) >> 1)
                )
                & 255
                for x in range(stride)
            )
        elif filter_type == 4:  # Paeth
            out = bytearray()
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out.append((cur[x] - pred) & 255)
            raw += out
        prev = cur
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_decode_png_roundtrip_all_filters(filter_type):
    w, h, ch = 5, 4, 3
    pixels = bytes((x * 37 + 11) % 256 for x in range(w * h * ch))
    blob = _encode_png(w, h, pixels, channels=ch, filter_type=filter_type)
    img = multimodal.decode_png(blob)
    assert (img["width"], img["height"], img["channels"]) == (w, h, ch)
    assert img["pixels"] == pixels


def test_decode_png_gray_and_rgba():
    gray = bytes(range(16))
    img = multimodal.decode_png(_encode_png(4, 4, gray, channels=1, filter_type=2))
    assert img["channels"] == 1 and img["pixels"] == gray
    rgba = bytes((x * 7) % 256 for x in range(2 * 2 * 4))
    img = multimodal.decode_png(_encode_png(2, 2, rgba, channels=4, filter_type=4))
    assert img["channels"] == 4 and img["pixels"] == rgba


def test_decode_png_rejects_garbage():
    with pytest.raises(ValueError, match="signature"):
        multimodal.decode_png(b"not a png at all")


def test_decode_png_adam7_interlace_roundtrip():
    """Adam7: seven independently-filtered pass sub-images scattered
    on the (x0, y0, dx, dy) grid — including 1-wide/1-tall edge images
    where several passes are empty and contribute no bytes."""
    import random

    rng = random.Random(17)
    for _ in range(25):
        w, h = rng.randrange(1, 18), rng.randrange(1, 14)
        ch = rng.choice([1, 2, 3, 4])
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        out = multimodal.decode_png(
            multimodal.encode_png(w, h, ch, px, interlace=True)
        )
        assert (out["width"], out["height"], out["channels"]) == (w, h, ch)
        assert out["pixels"] == px
    # interlaced and plain encodings of one image decode identically
    px = bytes((x * 11) % 256 for x in range(9 * 7 * 3))
    plain = multimodal.decode_png(multimodal.encode_png(9, 7, 3, px))
    inter = multimodal.decode_png(
        multimodal.encode_png(9, 7, 3, px, interlace=True)
    )
    assert plain == inter
    # truncated interlaced data raises, never fabricates pixels
    blob = multimodal.encode_png(9, 7, 3, px, interlace=True)
    import struct as _struct
    import zlib as _zlib

    # shrink the inflated stream by one pass worth of bytes
    i = blob.find(b"IDAT") - 4
    ln = _struct.unpack(">I", blob[i : i + 4])[0]
    raw = _zlib.decompress(blob[i + 8 : i + 8 + ln])
    short = _zlib.compress(raw[:-10])
    rebuilt = (
        blob[:i]
        + _struct.pack(">I", len(short))
        + b"IDAT"
        + short
        + _struct.pack(">I", _zlib.crc32(b"IDAT" + short) & 0xFFFFFFFF)
        + blob[i + 12 + ln :]
    )
    with pytest.raises(ValueError):
        multimodal.decode_png(rebuilt)


# --- real BMP decode (pure stdlib) ------------------------------------------


def _encode_bmp(width, height, rgb_pixels, bpp=24, top_down=False, palette=None):
    """Minimal in-test BMP writer (struct) so decode_bmp is exercised
    on REAL BMP byte strings: BI_RGB, 4-byte row padding, bottom-up
    unless top_down, 24-bit BGR or 8-bit paletted."""
    import struct

    if bpp == 24:
        row_bytes = width * 3
        pal_bytes = b""
    else:
        row_bytes = width
        pal_bytes = b"".join(
            bytes((b, g, r, 0)) for r, g, b in palette
        )
    stride = (row_bytes + 3) & ~3
    data = bytearray()
    rows = range(height) if top_down else range(height - 1, -1, -1)
    for r in rows:
        if bpp == 24:
            row = bytearray()
            for x in range(width):
                off = (r * width + x) * 3
                rr, gg, bb = rgb_pixels[off : off + 3]
                row += bytes((bb, gg, rr))  # RGB -> stored BGR
        else:
            row = bytearray(rgb_pixels[r * width : (r + 1) * width])
        data += row + b"\x00" * (stride - row_bytes)
    data_off = 14 + 40 + len(pal_bytes)
    h_field = height if top_down is False else -height
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, h_field, 1, bpp, 0,
        len(data), 2835, 2835, len(palette or []), 0,
    )
    hdr = struct.pack("<2sIHHI", b"BM", data_off + len(data), 0, 0, data_off)
    return hdr + info + pal_bytes + bytes(data)


def test_decode_bmp_24bit_roundtrip_with_padding():
    # width 3 -> row_bytes 9 -> stride 12: padding path exercised
    w, h = 3, 2
    pixels = bytes((x * 29 + 5) % 256 for x in range(w * h * 3))
    img = multimodal.decode_bmp(_encode_bmp(w, h, pixels))
    assert (img["width"], img["height"], img["channels"]) == (w, h, 3)
    assert img["pixels"] == pixels


def test_decode_bmp_top_down_matches_bottom_up():
    w, h = 2, 3
    pixels = bytes((x * 13 + 1) % 256 for x in range(w * h * 3))
    up = multimodal.decode_bmp(_encode_bmp(w, h, pixels, top_down=False))
    down = multimodal.decode_bmp(_encode_bmp(w, h, pixels, top_down=True))
    assert up["pixels"] == down["pixels"] == pixels


def test_decode_bmp_8bit_gray_palette():
    w, h = 5, 2
    idx = bytes((x * 17) % 256 for x in range(w * h))
    pal = [(i, i, i) for i in range(256)]  # grayscale palette -> channels=1
    img = multimodal.decode_bmp(_encode_bmp(w, h, idx, bpp=8, palette=pal))
    assert img["channels"] == 1
    assert img["pixels"] == idx  # identity gray palette preserves indices


def test_decode_bmp_8bit_color_palette():
    w, h = 2, 2
    idx = bytes([0, 1, 2, 3])
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)] + [(0, 0, 0)] * 252
    img = multimodal.decode_bmp(_encode_bmp(w, h, idx, bpp=8, palette=pal))
    assert img["channels"] == 3
    assert img["pixels"] == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])


def test_decode_bmp_rejects_garbage_and_compressed():
    with pytest.raises(ValueError, match="signature"):
        multimodal.decode_bmp(b"not a bmp")
    import struct

    blob = bytearray(_encode_bmp(2, 2, bytes(12)))
    blob[30:34] = struct.pack("<I", 1)  # BI_RLE8
    with pytest.raises(NotImplementedError, match="compression"):
        multimodal.decode_bmp(bytes(blob))


# --- real GIF decode (pure stdlib) ------------------------------------------


def _encode_gif(width, height, indices, palette, interlaced=False, local=False):
    """Minimal in-test GIF writer: literal-code LZW (no dictionary
    reuse, but width growth and CLEAR emission follow the standard in
    lockstep with any conforming decoder), LSB-first bit packing,
    255-byte sub-blocks, optional interlace row order and local
    palette placement."""
    import struct

    n_colors = len(palette)
    min_code = max(2, (n_colors - 1).bit_length())
    clear, end = 1 << min_code, (1 << min_code) + 1

    rows = [indices[r * width : (r + 1) * width] for r in range(height)]
    if interlaced:
        order = []
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order += list(range(start, height, step))
        rows = [rows[r] for r in order]
    stream = b"".join(rows)

    bits = bytearray()
    acc = nbits = 0

    def emit(code, w):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            bits.append(acc & 255)
            acc >>= 8
            nbits -= 8

    width_bits = min_code + 1
    table_size = clear + 2
    emit(clear, width_bits)
    first = True
    for v in stream:
        emit(v, width_bits)
        if first:
            first = False
        else:
            table_size += 1
            if table_size == (1 << width_bits):
                if width_bits < 12:
                    width_bits += 1
                else:
                    emit(clear, width_bits)
                    width_bits = min_code + 1
                    table_size = clear + 2
                    first = True
    emit(end, width_bits)
    if nbits:
        bits.append(acc & 255)

    pal_bytes = b"".join(bytes(c) for c in palette)
    pal_bytes += b"\x00" * (3 * ((1 << min_code) - n_colors))
    pal_field = (min_code - 1) & 7

    out = bytearray(b"GIF89a")
    if local:
        out += struct.pack("<HHBBB", width, height, 0x00, 0, 0)
    else:
        out += struct.pack("<HHBBB", width, height, 0x80 | pal_field, 0, 0)
        out += pal_bytes
    # a comment extension, to exercise the skip path
    out += b"\x21\xfe\x05hello\x00"
    ipacked = (0x80 | pal_field if local else 0) | (0x40 if interlaced else 0)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, ipacked)
    if local:
        out += pal_bytes
    out += bytes((min_code,))
    data = bytes(bits)
    for off in range(0, len(data), 255):
        chunk = data[off : off + 255]
        out += bytes((len(chunk),)) + chunk
    out += b"\x00\x3b"
    return bytes(out)


_GIF_PAL4 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 8, 7)]


def test_decode_gif_color_roundtrip():
    w, h = 5, 4
    idx = bytes((x * 7) % 4 for x in range(w * h))
    img = multimodal.decode_gif(_encode_gif(w, h, idx, _GIF_PAL4))
    assert (img["width"], img["height"], img["channels"]) == (w, h, 3)
    want = b"".join(bytes(_GIF_PAL4[v]) for v in idx)
    assert img["pixels"] == want


def test_decode_gif_gray_interlaced_and_local_palette():
    w, h = 4, 9  # 9 rows exercises all four interlace passes
    pal = [(i * 16, i * 16, i * 16) for i in range(16)]
    idx = bytes((x * 5) % 16 for x in range(w * h))
    for local in (False, True):
        blob = _encode_gif(w, h, idx, pal, interlaced=True, local=local)
        img = multimodal.decode_gif(blob)
        assert img["channels"] == 1
        assert img["pixels"] == bytes(pal[v][0] for v in idx)


def test_decode_gif_wide_codes():
    # 200-color palette -> min_code 8, 9-bit codes; enough pixels to
    # cross a width-growth boundary inside the LZW stream
    pal = [(i, (i * 3) % 256, (i * 7) % 256) for i in range(200)]
    w, h = 40, 20
    idx = bytes((x * 13) % 200 for x in range(w * h))
    img = multimodal.decode_gif(_encode_gif(w, h, idx, pal))
    assert img["channels"] == 3
    assert img["pixels"] == b"".join(bytes(pal[v]) for v in idx)


def test_decode_gif_rejects_garbage():
    with pytest.raises(ValueError, match="signature"):
        multimodal.decode_gif(b"definitely not a gif")


# --- real WAV decode (pure stdlib) ------------------------------------------


def _encode_wav(samples, rate=8000, channels=1, bits=16, pad_chunk=False):
    """Minimal in-test RIFF/WAVE writer (struct): fmt + data chunks,
    optional odd-sized extra chunk to exercise word-aligned walking."""
    import struct

    if bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
    else:
        data = bytes(s + 128 for s in samples)
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if pad_chunk:  # 5-byte LIST chunk: pads to 6, must not desync
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_16bit_stereo_roundtrip():
    samples = [100, -100, 2000, -2000, 32767, -32768]  # 3 stereo frames
    w = multimodal.decode_wav(
        _encode_wav(samples, rate=44100, channels=2, pad_chunk=True)
    )
    assert (w["sample_rate"], w["channels"], w["bits"]) == (44100, 2, 16)
    assert w["n_samples"] == 3
    assert w["samples"] == samples


def test_decode_wav_8bit_mono_is_centered():
    samples = [0, 10, -10, 127, -128]
    w = multimodal.decode_wav(_encode_wav(samples, bits=8))
    assert (w["channels"], w["bits"], w["n_samples"]) == (1, 8, 5)
    assert w["samples"] == samples  # offset-128 removed on decode


def test_decode_wav_rejects_garbage_and_compressed():
    import struct

    with pytest.raises(ValueError, match="signature"):
        multimodal.decode_wav(b"not audio at all")
    blob = bytearray(_encode_wav([0, 0]))
    blob[20:22] = struct.pack("<H", 85)  # mp3-in-RIFF format tag
    with pytest.raises(NotImplementedError, match="PCM"):
        multimodal.decode_wav(bytes(blob))


def _encode_wav_raw(fmt_tag: int, channels: int, rate: int,
                    block_align: int, bits: int, data: bytes) -> bytes:
    import struct

    fmt = struct.pack(
        "<HHIIHH", fmt_tag, channels, rate, rate * block_align,
        block_align, bits,
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_g711_known_values():
    """Spec anchor bytes: mu-law 0xFF and 0x7F are +/-0, mu-law 0x00
    is the most negative value (-32124); A-law 0xD5 is +8 and 0x55 is
    -8 (A-law has no true zero; transmitted sign bit 1 = positive),
    A-law 0x2A is the most negative, 0xAA the most positive."""
    w = multimodal.decode_wav(
        _encode_wav_raw(7, 1, 8000, 1, 8, bytes([0xFF, 0x7F, 0x00, 0x80]))
    )
    assert w["samples"] == [0, 0, -32124, 32124]
    a = multimodal.decode_wav(
        _encode_wav_raw(6, 1, 8000, 1, 8, bytes([0xD5, 0x55, 0x2A, 0xAA]))
    )
    assert a["samples"] == [8, -8, -32256, 32256]


def test_ima_adpcm_hand_vector_and_tables():
    """One hand-computed block (pred 100, index 0, nibbles 1 then 8:
    step 7 -> diff 1 up, then diff 0 down) plus the step-table
    invariants that a self-consistent round-trip could never check:
    89 entries, 7 -> 32767, strictly increasing at the spec's ~1.1x
    geometric rate."""
    import struct

    data = struct.pack("<hBB", 100, 0, 0) + bytes([0x81])
    w = multimodal.decode_wav(_encode_wav_raw(0x11, 1, 8000, 5, 4, data))
    assert w["samples"] == [100, 101, 101]
    t = multimodal._IMA_STEPS
    assert len(t) == 89 and t[0] == 7 and t[-1] == 32767
    assert all(b > a for a, b in zip(t, t[1:]))
    assert all(1.05 <= b / a <= 1.16 for a, b in zip(t, t[1:]))
    assert multimodal._IMA_INDEX == [-1, -1, -1, -1, 2, 4, 6, 8]


def test_ima_adpcm_tracks_a_ramp():
    """Encode a slow ramp with a reference IMA encoder (mirrors the
    spec's encode loop against the same tables) and assert the decoder
    reconstructs it within the codec's step-size error envelope."""
    import struct

    src = [int(20 * i) for i in range(197)]  # slow ramp, 1 block
    pred, index = src[0], 0
    nibbles = []
    for x in src[1:]:
        step = multimodal._IMA_STEPS[index]
        diff = x - pred
        nib = 8 if diff < 0 else 0
        diff = abs(diff)
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        # decoder-mirror reconstruction to keep predictors in lockstep
        d = step >> 3
        if nib & 1:
            d += step >> 2
        if nib & 2:
            d += step >> 1
        if nib & 4:
            d += step
        pred = pred - d if nib & 8 else pred + d
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + multimodal._IMA_INDEX[nib & 7]))
        nibbles.append(nib)
    body = bytes(
        nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
    )
    block = struct.pack("<hBB", src[0], 0, 0) + body
    w = multimodal.decode_wav(
        _encode_wav_raw(0x11, 1, 8000, len(block), 4, block)
    )
    assert len(w["samples"]) == len(src)
    err = max(abs(a - b) for a, b in zip(w["samples"], src))
    assert err <= 3 * max(multimodal._IMA_STEPS[:12])  # tight envelope


def test_adpcm_stereo_decodes_word_interleaved():
    """Stereo IMA ADPCM: one 4-byte header per channel, then the
    nibble stream interleaves in 4-byte words (8 samples ch0, 8
    ch1, ...).  Nibble 0 at index 0 leaves predictors unchanged
    (step 7 >> 3 == 0), so the decode is exactly the header
    predictors, channel-interleaved."""
    import struct

    data = (
        struct.pack("<hBB", 100, 0, 0)
        + struct.pack("<hBB", -50, 0, 0)
        + b"\x00" * 8
    )
    w = multimodal.decode_wav(_encode_wav_raw(0x11, 2, 8000, 16, 4, data))
    assert w["channels"] == 2 and w["n_samples"] == 9
    assert w["samples"] == [100, -50] + [100, -50] * 8


def test_adpcm_stereo_channels_track_independently():
    """Feed ch0 rising nibbles and ch1 falling ones: the per-channel
    predictor/index state must not cross-contaminate."""
    import struct

    up, down = 0x44, 0xCC  # nib 4: +step; nib 12: -step
    data = (
        struct.pack("<hBB", 0, 8, 0)
        + struct.pack("<hBB", 0, 8, 0)
        + bytes([up] * 4 + [down] * 4)
    )
    w = multimodal.decode_wav(_encode_wav_raw(0x11, 2, 8000, 16, 4, data))
    ch0 = w["samples"][0::2]
    ch1 = w["samples"][1::2]
    assert ch0[0] == 0 and ch1[0] == 0
    assert all(b > a for a, b in zip(ch0, ch0[1:]))  # rising
    assert all(b < a for a, b in zip(ch1, ch1[1:]))  # falling
    # mirrored nibbles from the same start -> mirrored samples
    assert ch1[1:] == [-v for v in ch0[1:]]


def _mp3_frame(br_idx: int, rate_idx: int, version: int = 3) -> bytes:
    h = (0x7FF << 21) | (version << 19) | (1 << 17) | (br_idx << 12) | (rate_idx << 10)
    br = (mp3._BITRATES if version == 3 else mp3._BITRATES_LSF)[br_idx]
    step = 144 if version == 3 else 72
    flen = step * br * 1000 // mp3._RATES[version][rate_idx]
    return h.to_bytes(4, "big") + b"\x00" * (flen - 4)


def test_mp3_truncated_final_frame_raises_in_both_walks():
    """The header audit and the decoder share one frame walk: a final
    frame cut short raises ValueError in both (the row dead-letters),
    never a count that includes the partial frame."""
    blob = _mp3_frame(8, 0) * 3 + _mp3_frame(8, 0)[:100]
    with pytest.raises(ValueError, match="truncated final mp3 frame"):
        multimodal.mp3_stream_info(blob)
    with pytest.raises(ValueError, match="truncated final mp3 frame"):
        mp3.decode_mp3(blob)
    assert multimodal.mp3_stream_info(_mp3_frame(8, 0) * 3)["n_frames"] == 3


def test_mp3_stream_info_cbr_and_vbr():
    cbr = _mp3_frame(8, 0) * 4  # 4x 112kbps @ 44100
    m = multimodal.mp3_stream_info(cbr)
    assert (m["n_frames"], m["sample_rate"], m["bitrate_kbps"], m["vbr"]) == (
        4, 44100, 112, False)
    assert m["duration_ms"] == 4 * 1152 * 1000 // 44100
    vbr = _mp3_frame(8, 1) + _mp3_frame(9, 1) + _mp3_frame(8, 1)
    m2 = multimodal.mp3_stream_info(vbr)
    assert m2["vbr"] is True and m2["bitrate_kbps"] == round((112 + 128 + 112) / 3)


def test_mp3_stream_info_id3_prefix_and_refusals():
    tag = b"X" * 200
    ss = bytes([(200 >> 21) & 0x7F, (200 >> 14) & 0x7F,
                (200 >> 7) & 0x7F, 200 & 0x7F])
    blob = b"ID3\x03\x00\x00" + ss + tag + _mp3_frame(8, 0)
    assert multimodal.mp3_stream_info(blob)["n_frames"] == 1
    with pytest.raises(ValueError):
        multimodal.mp3_stream_info(b"definitely not mpeg audio")
    desync = _mp3_frame(8, 0) + b"\x00\x01\x02\x03"
    with pytest.raises(ValueError, match="sync"):
        multimodal.mp3_stream_info(desync)
    layer2 = bytearray(_mp3_frame(8, 0))
    layer2[1] = (layer2[1] & ~0x06) | 0x04  # layer bits -> Layer II
    with pytest.raises(NotImplementedError, match="Layer III"):
        multimodal.mp3_stream_info(bytes(layer2))


def test_mp3_stream_info_trailing_tags():
    """The ubiquitous end-of-stream tags — 128-byte ID3v1 'TAG' and
    APE ('APETAGEX') trailers — end the walk cleanly instead of
    raising 'lost sync'; a leading TAG with zero frames still fails."""
    id3v1 = b"TAG" + b"\x00" * 125
    m = multimodal.mp3_stream_info(_mp3_frame(8, 0) * 3 + id3v1)
    assert m["n_frames"] == 3
    ape = b"APETAGEX" + b"\x00" * 24
    m2 = multimodal.mp3_stream_info(_mp3_frame(8, 0) * 2 + ape)
    assert m2["n_frames"] == 2
    with pytest.raises(ValueError):
        multimodal.mp3_stream_info(id3v1)


def test_mp3_stream_info_mpeg2_and_25():
    """MPEG-2 (22.05/24/16 kHz) and MPEG-2.5 (11.025/12/8 kHz) Layer
    III: 576 samples per frame, 72*bitrate/rate stepping, the
    low-bitrate table."""
    m2 = multimodal.mp3_stream_info(_mp3_frame(9, 1, version=2) * 5)
    assert (m2["n_frames"], m2["sample_rate"], m2["bitrate_kbps"]) == (
        5, 24000, 80)  # V2 idx 9 = 80 kbps
    assert m2["duration_ms"] == 5 * 576 * 1000 // 24000
    m25 = multimodal.mp3_stream_info(_mp3_frame(5, 2, version=0) * 3)
    assert (m25["n_frames"], m25["sample_rate"], m25["bitrate_kbps"]) == (
        3, 8000, 40)  # V2.5 idx 5 = 40 kbps, rate idx 2 = 8000
    # mixed versions mid-stream are a corrupt-stream error
    with pytest.raises(ValueError, match="mid-stream"):
        multimodal.mp3_stream_info(
            _mp3_frame(8, 0) + _mp3_frame(9, 1, version=2)
        )


def test_wav_features_mapinpandas(spark):
    """Real audio decode through the Arrow-batched Spark plumbing:
    exact integer RMS for a constant-amplitude square wave, and a
    poison blob yields nulls, not a task failure."""
    square = [300, -300] * 400  # RMS exactly 300, one second at 800 Hz
    rows = [
        (1, bytearray(_encode_wav(square, rate=800))),
        (2, bytearray(b"poison bytes")),
    ]
    media = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {r["doc_id"]: r for r in multimodal.wav_features(media).collect()}
    assert out[1]["rms"] == 300
    assert out[1]["duration_ms"] == 1000
    assert out[1]["sample_rate"] == 800 and out[1]["n_samples"] == 800
    assert out[2]["rms"] is None and out[2]["sample_rate"] is None


# --- real JPEG header parse (pure stdlib) -----------------------------------


def _encode_jpeg_header(w, h, ncomp=3, progressive=False, restarts=False):
    """Minimal in-test JPEG marker stream: SOI, APP0, an optional DRI +
    RST marker (standalone, no length), then SOF0/SOF2 — enough of a
    real header for dimension parsing (no scan data)."""
    import struct

    out = b"\xff\xd8"  # SOI
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    if restarts:
        out += b"\xff\xdd" + struct.pack(">HH", 4, 8)  # DRI
        out += b"\xff\xd0"  # standalone RST0
    sof = b"\xff\xc2" if progressive else b"\xff\xc0"
    body = struct.pack(">BHHB", 8, h, w, ncomp) + b"\x01\x11\x00" * ncomp
    return out + sof + struct.pack(">H", 2 + len(body)) + body


def test_jpeg_dimensions_baseline_and_progressive():
    d = multimodal.jpeg_dimensions(_encode_jpeg_header(640, 480))
    assert (d["width"], d["height"], d["channels"]) == (640, 480, 3)
    assert d["progressive"] is False
    d = multimodal.jpeg_dimensions(
        _encode_jpeg_header(31, 17, ncomp=1, progressive=True, restarts=True)
    )
    assert (d["width"], d["height"], d["channels"]) == (31, 17, 1)
    assert d["progressive"] is True


def test_jpeg_dimensions_rejects_garbage():
    with pytest.raises(ValueError, match="SOI"):
        multimodal.jpeg_dimensions(b"GIF89a nope")
    with pytest.raises(ValueError, match="no SOF"):
        multimodal.jpeg_dimensions(b"\xff\xd8\xff\xd9")  # SOI then EOI


# --- real AVI frame sampling (pure stdlib) ----------------------------------


def _encode_avi(frames, rec_group=False):
    """Minimal in-test AVI writer: RIFF/AVI with a dummy hdrl LIST and
    a movi LIST of 00dc frame chunks (odd sizes pad to word
    boundaries); rec_group nests frames one level deeper inside a
    'rec ' LIST, which real muxers emit for interleaved streams."""
    import struct

    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def list_chunk(subtype, body):
        return chunk(b"LIST", subtype + body)

    movi_body = b"".join(chunk(b"00dc", f) for f in frames)
    if rec_group:
        movi_body = list_chunk(b"rec ", movi_body)
    payload = (
        list_chunk(b"hdrl", chunk(b"avih", b"\x00" * 56))
        + list_chunk(b"movi", movi_body)
    )
    return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"AVI " + payload


def test_avi_frames_roundtrip_with_odd_sizes():
    frames = [b"frame-one", b"f2", b"an-odd-length-frame!!", b"xyz"]
    got = multimodal.avi_frames(_encode_avi(frames))
    assert got == frames


def test_avi_frames_sampling_and_rec_lists():
    frames = [bytes([i]) * (i + 1) for i in range(10)]
    blob = _encode_avi(frames, rec_group=True)
    assert multimodal.avi_frames(blob, every=3, max_frames=3) == frames[::3][:3]
    # sample_frames dispatches the real container walk for AVI bytes
    assert multimodal.sample_frames(blob, max_frames=4) == frames[:4]


def test_avi_frames_rejects_garbage():
    with pytest.raises(ValueError, match="signature"):
        multimodal.avi_frames(b"RIFFxxxxWAVE")  # a WAV is not an AVI


def _ebml_size(n: int) -> bytes:
    for ln in range(1, 9):
        if n < (1 << (7 * ln)) - 1:
            return (n | (1 << (7 * ln))).to_bytes(ln, "big")
    raise ValueError


def _ebml(eid: bytes, body: bytes) -> bytes:
    return eid + _ebml_size(len(body)) + body


def _encode_mkv(blocks: bytes, unknown_size: bool = False) -> bytes:
    header = _ebml(multimodal._EBML_SIG, _ebml(b"\x42\x86", b"\x01"))
    cluster = _ebml(b"\x1f\x43\xb6\x75", _ebml(b"\xe7", b"\x00") + blocks)
    if unknown_size:
        return header + b"\x18\x53\x80\x67" + b"\xff" + cluster
    return header + _ebml(b"\x18\x53\x80\x67", cluster)


def test_mkv_frames_keyframe_selection():
    """SimpleBlock keyframes (flag 0x80) and BlockGroups WITHOUT a
    ReferenceBlock are kept; delta SimpleBlocks and referenced
    BlockGroups are skipped — the Matroska keyness rules."""
    f0, f1, f2 = b"frame-zero", b"group-key-frame", b"frame-two!"
    blocks = (
        _ebml(b"\xa3", b"\x81\x00\x00\x80" + f0)
        + _ebml(b"\xa3", b"\x81\x00\x00\x00" + b"DELTA-SB")
        + _ebml(b"\xa0", _ebml(b"\xa1", b"\x81\x00\x00\x00" + f1))
        + _ebml(
            b"\xa0",
            _ebml(b"\xa1", b"\x81\x00\x00\x00" + b"DELTA-BG")
            + _ebml(b"\xfb", b"\x81"),
        )
        + _ebml(b"\xa3", b"\x81\x00\x00\x80" + f2)
    )
    got = multimodal.mkv_frames(_encode_mkv(blocks))
    assert got == [f0, f1, f2]
    assert multimodal.mkv_frames(_encode_mkv(blocks), every=2) == [f0, f2]
    assert multimodal.sample_frames(_encode_mkv(blocks), max_frames=2) == [f0, f1]


def test_mkv_frames_unknown_size_segment_and_refusals():
    f0 = b"streamed-frame"
    blocks = _ebml(b"\xa3", b"\x81\x00\x00\x80" + f0)
    assert multimodal.mkv_frames(_encode_mkv(blocks, unknown_size=True)) == [f0]
    with pytest.raises(ValueError):
        multimodal.mkv_frames(b"not ebml at all")
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(b"unknowncontainerbytes")


def test_mkv_laced_blocks_all_three_modes():
    """Xiph (255-continued sizes, incl. one frame > 255 bytes), EBML
    (vint first size + signed-vint deltas), and fixed (equal split)
    lacing all recover the exact frame payloads; the keyframe flag
    applies to every lace in the block."""
    f0, f1, f2 = b"A" * 300, b"BB", b"CCCC"  # Xiph: 300 = 255 + 45
    xiph = _ebml(
        b"\xa3",
        b"\x81\x00\x00" + bytes([0x80 | 0x02, 2])
        + b"\xff" + bytes([45]) + bytes([2])
        + f0 + f1 + f2,
    )
    assert multimodal.mkv_frames(_encode_mkv(xiph)) == [f0, f1, f2]
    # EBML lacing: sizes 10, 12, remainder; deltas stored +63
    g0, g1, g2 = b"x" * 10, b"y" * 12, b"z" * 7
    ebml = _ebml(
        b"\xa3",
        b"\x81\x00\x00" + bytes([0x80 | 0x06, 2])
        + bytes([0x80 | 10]) + bytes([0x80 | (2 + 63)])
        + g0 + g1 + g2,
    )
    assert multimodal.mkv_frames(_encode_mkv(ebml)) == [g0, g1, g2]
    # fixed lacing: three equal 6-byte frames
    h0, h1, h2 = b"111111", b"222222", b"333333"
    fixed = _ebml(
        b"\xa3",
        b"\x81\x00\x00" + bytes([0x80 | 0x04, 2]) + h0 + h1 + h2,
    )
    assert multimodal.mkv_frames(_encode_mkv(fixed)) == [h0, h1, h2]
    # a DELTA laced block (no keyframe flag) contributes nothing
    delta = _ebml(
        b"\xa3",
        b"\x81\x00\x00" + bytes([0x04, 2]) + h0 + h1 + h2,
    )
    assert multimodal.mkv_frames(_encode_mkv(delta)) == []


def test_mkv_laced_corrupt_blocks_raise():
    # fixed lacing whose payload does not divide by the lace count
    bad_fixed = _ebml(
        b"\xa3", b"\x81\x00\x00" + bytes([0x80 | 0x04, 2]) + b"1234567"
    )
    with pytest.raises(ValueError, match="divisible"):
        multimodal.mkv_frames(_encode_mkv(bad_fixed))
    # Xiph sizes that overrun the block
    bad_xiph = _ebml(
        b"\xa3", b"\x81\x00\x00" + bytes([0x80 | 0x02, 1, 200]) + b"short"
    )
    with pytest.raises(ValueError, match="overrun"):
        multimodal.mkv_frames(_encode_mkv(bad_xiph))


def test_decode_image_dispatches_bmp():
    pixels = bytes(range(12))
    img = multimodal.decode_image(_encode_bmp(2, 2, pixels))
    assert img["pixels"] == pixels


def test_png_features_mapinpandas(spark):
    """Real decode through the Arrow-batched Spark plumbing: PNG blobs
    produce (w, h, channels, mean); a poison blob yields nulls, not a
    task failure."""
    solid = bytes([100]) * (3 * 2 * 3)  # 3x2 RGB, every byte 100
    grad = bytes(range(48))  # 4x4 gray
    rows = [
        (0, bytearray(_encode_png(3, 2, solid, channels=3, filter_type=1))),
        (1, bytearray(_encode_png(4, 12, grad, channels=1, filter_type=3))),
        (2, bytearray(b"JUNKJUNKJUNK")),
    ]
    media = spark.createDataFrame(rows, "doc_id: long, blob: binary")
    out = {r["doc_id"]: r for r in multimodal.png_features(media).collect()}
    assert (out[0]["width"], out[0]["height"], out[0]["channels"]) == (3, 2, 3)
    assert out[0]["mean_pixel"] == 100
    assert (out[1]["width"], out[1]["height"], out[1]["channels"]) == (4, 12, 1)
    assert out[1]["mean_pixel"] == sum(grad) // len(grad)
    assert out[2]["width"] is None and out[2]["mean_pixel"] is None


def test_decode_image_contract():
    """decode_image: the one raster dispatcher, the in-repo codecs
    only, every format under the {"width","height","channels",
    "pixels"} contract; an unknown signature is a ValueError."""
    png = _encode_png(2, 2, bytes(12), channels=3)
    decoded = multimodal.decode_image(png)
    assert decoded["width"] == 2
    # JPEG bytes route to the real decoder, so fake marker soup is a
    # corrupt-stream ValueError, not a missing-codec refusal...
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0 fake jpeg bytes")
    # ...and a REAL baseline jpeg decodes to pixels.
    from spotify_streaming_etl_pipeline_spark.llm.jpeg import encode_jpeg

    img = [[77] * 8 for _ in range(8)]
    out = multimodal.decode_image(encode_jpeg([img]))
    assert out["width"] == 8 and set(out["pixels"]) == {77}
    with pytest.raises(ValueError, match="unrecognized raster signature"):
        multimodal.decode_image(b"II*\x00 a tiff, say")


# --- split / quota / chunking -----------------------------------------------


def test_dataset_split_stable_under_corpus_growth(spark, docs):
    """A document's split assignment must not change when the corpus
    grows — the defining advantage over randomSplit."""
    from spotify_streaming_etl_pipeline_spark.llm.curation import dataset_split

    small = dataset_split(docs.filter(F.col("doc_id") < 3))
    full = dataset_split(docs)
    small_map = {r["doc_id"]: r["split"] for r in small.collect()}
    full_map = {r["doc_id"]: r["split"] for r in full.collect()}
    for doc_id, split in small_map.items():
        assert full_map[doc_id] == split
    assert set(full_map.values()) <= {"train", "val", "test"}


def test_dataset_split_proportions(spark, sf_dir):
    from spotify_streaming_etl_pipeline_spark.llm.curation import dataset_split
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table

    d = dataset_split(load_table(spark, sf_dir, "documents").select("doc_id"))
    counts = {r["split"]: r["n"] for r in d.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    # 90/5/5 within generous tolerance for a hash draw
    assert counts.get("train", 0) / total > 0.8
    assert 0 < counts.get("val", 0) / total < 0.15
    assert 0 < counts.get("test", 0) / total < 0.15


def test_source_quota_sample_caps_and_is_deterministic(spark, docs):
    from spotify_streaming_etl_pipeline_spark.llm.curation import source_quota_sample

    out1 = source_quota_sample(docs, quota=2)
    out2 = source_quota_sample(docs, quota=2)
    rows1 = sorted((r["doc_id"], r["source"]) for r in out1.collect())
    rows2 = sorted((r["doc_id"], r["source"]) for r in out2.collect())
    assert rows1 == rows2  # deterministic
    per_src = {}
    for _d, s in rows1:
        per_src[s] = per_src.get(s, 0) + 1
    assert all(n <= 2 for n in per_src.values())
    assert per_src["src1"] == 2  # src1 has 3 docs -> capped


def test_chunk_documents_covers_every_token_with_overlap(spark):
    from spotify_streaming_etl_pipeline_spark.llm.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame([(1, text), (2, "only three words"), (3, " ")],
                               "doc_id: long, text: string")
    out = chunk_documents(df, chunk_size=16, stride=12)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"]) for r in out.collect())
    )
    by_doc = {}
    for doc, cid, n, txt in rows:
        by_doc.setdefault(doc, []).append((cid, n, txt.split(" ")))
    # doc 1: 40 tokens -> starts 0,12,24 (24+16=40 reaches the end)
    assert [c for c, _n, _t in by_doc[1]] == [0, 1, 2]
    covered = set()
    for cid, n, toks in by_doc[1]:
        assert toks == [f"w{i}" for i in range(cid * 12, min(cid * 12 + 16, 40))]
        assert n == len(toks)
        covered.update(toks)
    assert covered == {f"w{i}" for i in range(40)}  # every token in >= 1 chunk
    # consecutive chunks share exactly chunk_size - stride tokens
    assert set(by_doc[1][0][2]) & set(by_doc[1][1][2]) == {f"w{i}" for i in range(12, 16)}
    # short doc -> single whole-doc chunk; whitespace-only doc -> no rows
    assert by_doc[2] == [(0, 3, ["only", "three", "words"])]
    assert 3 not in by_doc


def test_corpus_diff_classification(spark):
    from spotify_streaming_etl_pipeline_spark.llm.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will be removed")],
        "doc_id: long, text: string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}  # unchanged 1 omitted


def test_substring_overlap_finds_planted_copy(spark):
    from spotify_streaming_etl_pipeline_spark.llm.overlap import (
        substring_overlap_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, "intro text before " + shared),
            (2, shared + " plus an entirely different ending here"),
            (3, "no copied passage in this document at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    got = substring_overlap_pairs(docs, min_shared=1).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_substring_overlap_df_cap_drops_boilerplate(spark):
    from spotify_streaming_etl_pipeline_spark.llm.overlap import (
        substring_overlap_pairs,
    )

    # long, VARIED footer (~1.2k chars) so the 1/64 selection almost
    # surely picks several of its substrings in every document
    boiler = " ".join(
        f"boilerplate clause number {j} of the standard footer" for j in range(24)
    )
    docs = spark.createDataFrame(
        [(i, f"unique body {i} " * 3 + boiler) for i in range(6)],
        "doc_id long, text string",
    )
    # every pair shares only the boilerplate; cap at df<=2 kills it
    assert substring_overlap_pairs(docs, min_shared=1, max_doc_freq=2).count() == 0
    assert substring_overlap_pairs(docs, min_shared=1, max_doc_freq=None).count() > 0


def test_weighted_sample_rates_scale_with_weight(spark):
    from pyspark.sql import functions as F

    from spotify_streaming_etl_pipeline_spark.llm.curation import weighted_sample

    rows = [(i, 10) for i in range(1000)] + [(i, 90) for i in range(1000, 2000)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    kept = weighted_sample(df, F.col("w")).groupBy("w").count().collect()
    by_w = {r["w"]: r["count"] for r in kept}
    assert 50 < by_w[10] < 200      # ~10%
    assert 800 < by_w[90] < 970     # ~90%
    # deterministic: same call, same survivors
    a = sorted(r["doc_id"] for r in weighted_sample(df, F.col("w")).collect())
    b = sorted(r["doc_id"] for r in weighted_sample(df, F.col("w")).collect())
    assert a == b


def test_multiprobe_recall_at_least_single_bucket(spark, sf_dir):
    """Hamming-1 probing must recover at least as many of the EXACT
    top-5 neighbors as single-bucket LSH, for every query."""
    from spotify_streaming_etl_pipeline_spark.llm import similarity
    from spotify_streaming_etl_pipeline_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["q_id"], set()).add(r["vec_id"])
        return out

    exact = topsets(similarity.cosine_topk(emb, qids, k=5))
    single = topsets(similarity.cosine_topk_lsh(emb, qids, k=5))
    multi = topsets(similarity.cosine_topk_lsh_multiprobe(emb, qids, k=5))
    for q in exact:
        r_single = len(exact[q] & single.get(q, set()))
        r_multi = len(exact[q] & multi.get(q, set()))
        assert r_multi >= r_single, (q, r_single, r_multi)


def test_decode_wav_poison_fmt_dead_letters_not_crashes(spark):
    """ADVICE r5: a RIFF/WAVE blob with block_align=0 or a short fmt
    chunk must raise ValueError (dead-letter), never ZeroDivisionError
    or struct.error — and wav_features must null it out, not fail."""
    import struct

    good = _encode_wav([0, 0])
    zero_align = bytearray(good)
    zero_align[32:34] = struct.pack("<H", 0)  # block_align := 0
    with pytest.raises(ValueError, match="block_align"):
        multimodal.decode_wav(bytes(zero_align))

    short_fmt = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 4) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_wav(short_fmt)

    media = spark.createDataFrame(
        [(1, bytearray(zero_align)), (2, bytearray(short_fmt)),
         (3, bytearray(good))],
        "doc_id long, blob binary",
    )
    out = {r["doc_id"]: r for r in multimodal.wav_features(media).collect()}
    assert out[1]["rms"] is None and out[2]["rms"] is None
    assert out[3]["n_samples"] == 2


def test_jpeg_dimensions_tolerates_fill_bytes():
    """0xFF fill bytes before a marker are legal; the walk must not
    treat the padding as a length-bearing segment."""
    import struct

    blob = _encode_jpeg_header(640, 480)
    # inject 3 fill bytes before the SOF marker (last segment)
    sof_at = blob.rindex(b"\xff\xc0")
    padded = blob[:sof_at] + b"\xff\xff\xff" + blob[sof_at:]
    d = multimodal.jpeg_dimensions(padded)
    assert (d["width"], d["height"]) == (640, 480)
    # trailing fill bytes with no SOF: clean ValueError, not a desync
    with pytest.raises(ValueError, match="no SOF"):
        multimodal.jpeg_dimensions(b"\xff\xd8" + b"\xff" * 8)


def _pack_lzw_codes(codes, width):
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 255)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 255)
    return bytes(out)


def _pack_lzw_growing(n_codes, tail_code=None, min_code=8):
    """Emit `n_codes` repetitions of code 5 at the decoder's CURRENT
    width (mirroring its table growth, capped at 4096), then optionally
    one tail code."""
    clear = 1 << min_code
    table_len = clear + 2
    width = min_code + 1
    acc = nbits = 0
    out = bytearray()

    def emit(c):
        nonlocal acc, nbits
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 255)
            acc >>= 8
            nbits -= 8

    for i in range(n_codes):
        emit(5)
        if i > 0 and table_len < 4096:  # decoder appends after 2nd code
            table_len += 1
        if table_len == (1 << width) and width < 12:
            width += 1
    if tail_code is not None:
        emit(tail_code)
    if nbits:
        out.append(acc & 255)
    return bytes(out), table_len


def test_gif_lzw_table_caps_at_4096_and_bounds_checks():
    """ADVICE r5: the LZW code table must stop growing at 2^12
    (deferred-clear), and an out-of-range code — including as the
    FIRST code — must raise ValueError, not IndexError."""
    # first code out of range: prev is None path
    with pytest.raises(ValueError, match="corrupt"):
        multimodal._gif_lzw_decode(_pack_lzw_codes([300], 9), 8)
    # out-of-range code with prev set (beyond KwKwK): ValueError
    with pytest.raises(ValueError, match="corrupt"):
        multimodal._gif_lzw_decode(_pack_lzw_codes([5, 300], 9), 8)
    # drive the table to the 4096 cap (min_code 8 -> 258 initial
    # entries + 3838 appends) and well past it: decoding must stay
    # correct with the table frozen (codes are 12-bit, so entries
    # >=4096 are unreachable anyway — growing the table past the cap
    # is pure memory waste on hostile CLEAR-free streams).
    data, table_len = _pack_lzw_growing(4000)
    assert table_len == 4096
    out = multimodal._gif_lzw_decode(data, 8)
    assert out == bytes([5]) * 4000


# --- real mp4 (ISO-BMFF) keyframe sampling (pure stdlib) ---------------------


def _encode_mp4(frames, chunk_sizes=None, sync=None, co64=False,
                audio_distractor=True):
    """Minimal in-test ISO-BMFF writer: ftyp + mdat of concatenated
    sample payloads + moov/trak/mdia/{hdlr,minf/stbl} with real
    stsz/stsc/stco(co64)/stss tables pointing at absolute offsets."""
    import struct

    def box(t, body):
        return struct.pack(">I", 8 + len(body)) + t + body

    def full(t, body):
        return box(t, b"\x00" * 4 + body)

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    payload = b"".join(frames)
    mdat = box(b"mdat", payload)
    mdat_body_off = len(ftyp) + 8

    n = len(frames)
    chunk_sizes = chunk_sizes or [1] * n
    assert sum(chunk_sizes) == n
    # absolute chunk offsets: cumulative sample sizes
    sizes = [len(f) for f in frames]
    chunk_offs, s = [], 0
    for c in chunk_sizes:
        chunk_offs.append(mdat_body_off + sum(sizes[:s]))
        s += c
    # compress chunk_sizes into stsc runs
    runs = []
    for i, c in enumerate(chunk_sizes):
        if not runs or runs[-1][1] != c:
            runs.append((i + 1, c))

    stsz = full(b"stsz", struct.pack(">II", 0, n)
                + struct.pack(f">{n}I", *sizes))
    stsc = full(b"stsc", struct.pack(">I", len(runs))
                + b"".join(struct.pack(">III", fc, pc, 1) for fc, pc in runs))
    if co64:
        stco = full(b"co64", struct.pack(">I", len(chunk_offs))
                    + struct.pack(f">{len(chunk_offs)}Q", *chunk_offs))
    else:
        stco = full(b"stco", struct.pack(">I", len(chunk_offs))
                    + struct.pack(f">{len(chunk_offs)}I", *chunk_offs))
    stbl_children = stsz + stsc + stco
    if sync is not None:
        stbl_children += full(b"stss", struct.pack(">I", len(sync))
                              + struct.pack(f">{len(sync)}I", *sync))

    def trak(handler, stbl_body):
        hdlr = full(b"hdlr", b"\x00" * 4 + handler + b"\x00" * 12 + b"\x00")
        minf = box(b"minf", box(b"stbl", stbl_body))
        return box(b"trak", box(b"mdia", hdlr + minf))

    traks = b""
    if audio_distractor:  # a non-video track the walker must skip
        traks += trak(b"soun", full(b"stsz", struct.pack(">II", 4, 0)))
    traks += trak(b"vide", stbl_children)
    moov = box(b"moov", traks)
    return ftyp + mdat + moov


_MP4_FRAMES = [bytes([i]) * (20 + 7 * i) for i in range(6)]


def test_mp4_frames_keyframes_via_stss():
    blob = _encode_mp4(_MP4_FRAMES, chunk_sizes=[2, 2, 2], sync=[1, 3, 6])
    got = multimodal.mp4_frames(blob)
    assert got == [_MP4_FRAMES[0], _MP4_FRAMES[2], _MP4_FRAMES[5]]


def test_mp4_frames_no_stss_means_all_sync_and_sampling():
    # irregular chunking (2 then 1-per-chunk) exercises stsc run expansion
    blob = _encode_mp4(_MP4_FRAMES, chunk_sizes=[2, 1, 1, 1, 1])
    assert multimodal.mp4_frames(blob) == _MP4_FRAMES
    assert multimodal.mp4_frames(blob, every=2) == _MP4_FRAMES[::2]
    assert multimodal.mp4_frames(blob, max_frames=2) == _MP4_FRAMES[:2]
    # sample_frames dispatches ISO-BMFF bytes to the mp4 walk
    assert multimodal.sample_frames(blob, max_frames=3) == _MP4_FRAMES[:3]


def test_mp4_frames_co64_offsets():
    blob = _encode_mp4(_MP4_FRAMES, sync=[2, 4], co64=True)
    assert multimodal.mp4_frames(blob) == [_MP4_FRAMES[1], _MP4_FRAMES[3]]


def test_mp4_frames_rejects_garbage():
    with pytest.raises(ValueError, match="ftyp"):
        multimodal.mp4_frames(b"RIFF1234AVI blah")
    # ftyp but no moov
    import struct

    lone = struct.pack(">I", 16) + b"ftyp" + b"isomisom"
    with pytest.raises(ValueError, match="moov"):
        multimodal.mp4_frames(lone)
    # stss referencing a sample beyond stsz: corrupt, not IndexError
    blob = _encode_mp4(_MP4_FRAMES, sync=[99])
    with pytest.raises(ValueError, match="stss"):
        multimodal.mp4_frames(blob)


def test_gif_lzw_encode_decode_roundtrip_across_clear_reset():
    """The synth-corpus LZW encoder must mirror the decoder's width
    tracking exactly — including the CLEAR reset at the 12-bit cap,
    which the tiny oracle images never reach. 5000 varied pixels grow
    the table past 4096 and force at least one mid-stream CLEAR."""
    idx = bytes((i * 31) % 256 for i in range(5000))
    data = multimodal._gif_lzw_encode(idx, 8)
    assert multimodal._gif_lzw_decode(data, 8) == idx


def test_synth_video_corpus_both_containers(spark):
    """Even docs produce real AVIs, odd docs real mp4s; both demux to
    the same deterministic frame payloads."""
    docs = spark.createDataFrame([(2,), (3,)], "doc_id long")
    blobs = {
        r["doc_id"]: bytes(r["blob"])
        for r in multimodal.synth_video_corpus(docs).collect()
    }
    assert blobs[2][:4] == b"RIFF" and blobs[3][4:8] == b"ftyp"
    for i in (2, 3):
        frames = multimodal.sample_frames(blobs[i])
        assert frames == [
            bytes([(i + j) % 256]) * (10 + j) for j in range(3 + i % 6)
        ]


def test_poison_blobs_dead_letter_across_all_feature_stages(spark):
    """Review findings r6: corrupt-but-signature-valid blobs must null
    out in EVERY feature stage, never kill the task — corrupt IDAT
    (zlib.error), truncated GIF headers (struct.error), palette-out-
    of-range LZW output (IndexError), hostile mp4 sample tables
    (giant n_samples / short stsz), truncated JPEG SOF."""
    import struct as st

    # PNG: valid signature + IHDR, garbage IDAT
    import zlib as zl

    def chunk(t, d):
        return st.pack(">I", len(d)) + t + d + st.pack(">I", zl.crc32(t + d))

    bad_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", st.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", b"not deflate data")
        + chunk(b"IEND", b"")
    )
    short_ihdr = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", b"\x00\x00")
    media = spark.createDataFrame(
        [(1, bytearray(bad_png)), (2, bytearray(short_ihdr))],
        "doc_id long, blob binary",
    )
    out = {r["doc_id"]: r for r in multimodal.png_features(media).collect()}
    assert out[1]["width"] is None and out[2]["width"] is None

    # GIF: truncated header and a blob cut off mid-color-table
    import pytest as _pytest

    bad_gif1 = b"GIF89a\x01\x00"
    pal4 = _encode_gif(2, 1, bytes([0, 1]), _GIF_PAL4[:4])
    cut_gct = bytes(_encode_gif(2, 1, bytes([0, 1]), _GIF_PAL4[:4])[:14])
    media = spark.createDataFrame(
        [(1, bytearray(bad_gif1)), (2, bytearray(pal4)),
         (3, bytearray(cut_gct))],
        "doc_id long, blob binary",
    )
    out = {r["doc_id"]: r for r in multimodal.gif_features(media).collect()}
    assert out[1]["width"] is None  # truncated header dead-letters
    assert out[2]["width"] == 2  # the valid one still decodes
    assert out[3]["width"] is None  # cut color table dead-letters
    with _pytest.raises(ValueError, match="color table"):
        multimodal.decode_gif(cut_gct)

    # mp4: hostile n_samples and short stsz -> ValueError, bounded alloc
    def box(t, b):
        return st.pack(">I", 8 + len(b)) + t + b

    def full(t, b):
        return box(t, b"\x00" * 4 + b)

    hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00")
    stsz_giant = full(b"stsz", st.pack(">II", 4, 0xFFFFFFFF))
    stsz_short = full(b"stsz", st.pack(">II", 0, 100))  # declares 100, has 0
    stsc = full(b"stsc", st.pack(">I", 1) + st.pack(">III", 1, 1, 1))
    stco = full(b"stco", st.pack(">I", 0))
    for stsz in (stsz_giant, stsz_short):
        moov = box(
            b"moov",
            box(b"trak", box(b"mdia", hdlr + box(b"minf", box(b"stbl", stsz + stsc + stco)))),
        )
        blob = box(b"ftyp", b"isomisom") + moov
        with _pytest.raises(ValueError):
            multimodal.mp4_frames(blob)
    # ...and through the feature stage they null out
    media = spark.createDataFrame(
        [(1, bytearray(box(b"ftyp", b"isomisom") + moov))],
        "doc_id long, blob binary",
    )
    out = multimodal.video_frame_features(media).collect()[0]
    assert out["n_frames"] is None

    # JPEG: truncated SOF segment -> ValueError, not struct.error
    trunc_sof = b"\xff\xd8\xff\xc0" + st.pack(">H", 8) + b"\x08\x00"
    with _pytest.raises(ValueError, match="truncated"):
        multimodal.jpeg_dimensions(trunc_sof)


def test_corpus_diff_null_text_is_presence_not_status(spark):
    """Review finding r6: NULL text must not masquerade as a missing
    document — presence comes from the join side, not hash nullity."""
    from spotify_streaming_etl_pipeline_spark.llm.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "now present"), (2, None), (4, "added")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert out[1] == "changed"   # NULL -> text IS a change
    assert 2 not in out          # NULL -> NULL is unchanged
    assert out[3] == "removed"
    assert out[4] == "added"


def test_quality_filter_empty_and_all_null_scores(spark):
    from spotify_streaming_etl_pipeline_spark.llm.curation import (
        quality_cutoff,
        quality_filter,
    )

    empty = spark.createDataFrame([], "doc_id long, quality_score double")
    assert quality_cutoff(empty) is None
    assert quality_filter(empty).count() == 0
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, quality_score double"
    )
    assert quality_filter(nulls).count() == 0


def test_repetition_stats_covers_short_docs(spark):
    from spotify_streaming_etl_pipeline_spark.llm.decontam import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "a a a a")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert set(out) == {1, 2, 3}  # every doc gets a row
    assert out[1]["n_grams"] == 0 and out[1]["dup_ratio"] is None
    assert out[2]["n_grams"] == 0
    assert out[3]["n_grams"] == 3 and out[3]["n_distinct"] == 1
    assert abs(out[3]["dup_ratio"] - 0.6667) < 1e-9


def test_fingerprint_table_keeps_null_text_docs(spark):
    """Review finding r6: NULL-text docs must keep their row (NULL
    fingerprint, like doc_fingerprint), not vanish from the table."""
    from spotify_streaming_etl_pipeline_spark.llm.text import (
        fingerprint_table,
    )

    df = spark.createDataFrame(
        [(1, "a long enough document for real window hashing here"),
         (2, None), (3, "tiny")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fingerprint"] for r in fingerprint_table(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2] is None and out[1] is not None and out[3] is not None


def test_cluster_aware_split_keeps_near_dups_together(spark, docs):
    """Doc 3 is an exact dup of doc 0: a per-doc split can separate
    them (leakage), the cluster-aware split must not — and untouched
    docs keep their plain dataset_split assignment."""
    from spotify_streaming_etl_pipeline_spark.llm import dedup
    from spotify_streaming_etl_pipeline_spark.llm.curation import (
        cluster_aware_split,
        dataset_split,
    )

    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.99)
    clusters = dedup.dup_clusters(pairs)
    out = {r["doc_id"]: r["split"] for r in
           cluster_aware_split(docs, clusters).collect()}
    assert len(out) == 5
    assert out[0] == out[3]  # the exact-dup pair can never straddle
    plain = {r["doc_id"]: r["split"] for r in dataset_split(docs).collect()}
    clustered = {r["doc_id"] for r in clusters.collect()}
    for d in set(out) - clustered:
        assert out[d] == plain[d]


def test_cluster_aware_split_column_hygiene(spark, docs):
    """Only (doc_id, cluster_id) is consumed from the cluster table:
    extra columns there must not leak into the output, and a
    pre-existing cluster_id column on the input passes through."""
    from pyspark.sql import functions as F

    from spotify_streaming_etl_pipeline_spark.llm import dedup
    from spotify_streaming_etl_pipeline_spark.llm.curation import (
        cluster_aware_split,
    )

    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.99)
    clusters = dedup.dup_clusters(pairs).withColumn("extra", F.lit("junk"))
    tagged = docs.withColumn("cluster_id", F.lit(7))
    out = cluster_aware_split(tagged, clusters)
    assert "extra" not in out.columns
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["cluster_id"] == 7 for r in rows)
    # Same split decisions as the untagged/clean-cluster call.
    clean = {r["doc_id"]: r["split"] for r in
             cluster_aware_split(docs, dedup.dup_clusters(pairs)).collect()}
    assert {r["doc_id"]: r["split"] for r in rows} == clean


def test_cluster_aware_split_matches_oracle(spark, sf_dir):
    """Full oracle parity for the leakage-safe split on the real
    documents substrate (r9 registration candidate; see
    plans/llm_corpus_gates.py:_leakage_safe_split_sql)."""
    from spotify_streaming_etl_pipeline_spark.llm.curation import (
        cluster_aware_split,
    )
    from spotify_streaming_etl_pipeline_spark.plans.llm_corpus_gates import (
        _leakage_safe_split_sql,
    )
    from spotify_streaming_etl_pipeline_spark.plans.llm_shared import _docs
    from tests.oracle_utils import compare, duckdb_con

    d = _docs(spark, sf_dir).select("doc_id", "text")
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.8)
    clusters = dedup.dup_clusters(pairs)
    got = cluster_aware_split(d, clusters).select("doc_id", "split")
    want = duckdb_con(sf_dir).execute(_leakage_safe_split_sql()).fetchdf()
    assert not compare(got, want)
