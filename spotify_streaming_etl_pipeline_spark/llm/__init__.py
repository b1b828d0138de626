"""LLM-training-data pipeline operators over ``documents`` / ``embeddings``.

These are the large-scale data-curation primitives a 100 TB training
pipeline needs, expressed Spark-first (native column expressions and
joins — no Python in the hot path except the clearly-marked multimodal
decode stubs):

    text.py        -- tokenization, n-grams, language-ID, quality scores,
                      token counting, document fingerprinting
    dedup.py       -- exact (hash groupBy), canonical, n-gram Jaccard,
                      MinHash+LSH and SimHash over one banded kernel
                      (band_candidates / hamming_band_pairs, which the
                      media fingerprint near-dups share)
    similarity.py  -- cosine top-k: brute-force baseline + LSH-bucketed
                      scale path over array<float> embeddings
    multimodal.py  -- opaque binary columns with typed metadata; decode /
                      feature-extraction plumbing via mapInPandas (real
                      decode stubbed — image/audio libs absent here)

Determinism contract: every hash used by a correctness-gated operator is
the *portable* 48-bit md5-prefix hash (``text.portable_hash48``), which
DuckDB computes identically — so dedup/LSH outputs are exactly
reproducible by the oracle SQL. The scale path would swap in xxhash64
(seeded via concat) with identical structure; only the hash constants
change.
"""
