"""Document deduplication: exact, canonical, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale posture (the point of each design):

- **exact / canonical**: one hash projection + one groupBy on the
  48-bit hash — the shuffle carries hashes, never document text.
- **n-gram Jaccard** (`ngram_jaccard_pairs`): exact-recall blocking via
  an inverted index (explode shingle hashes, equi-join on shingle) —
  any pair with Jaccard > 0 shares a shingle, so no candidate is ever
  missed. Pairwise work is proportional to shared-shingle co-occurrence,
  not |docs|²; this is the *baseline* — at extreme scale you cap
  shingle document-frequency or move to MinHash below.
- **MinHash+LSH** (`minhash_lsh_candidates`): k-hash signature per doc,
  banded into b band-keys; candidates = equi-join on (band, key). The
  only pairwise computation happens inside LSH buckets. Fully
  deterministic here (portable hash), so the oracle reproduces it
  exactly.
- **SimHash** (`simhash_near_dup`): 48-bit fingerprint; banding into
  (t+1) bit ranges guarantees *exact recall* for hamming distance <= t
  by pigeonhole, so the banded plan provably equals the brute-force
  oracle.
- **One banded kernel** for both, and for the media fingerprints
  (`multimodal.ahash_near_dup`): `band_candidates` is the package's
  only (band, key) self-join with its giant-bucket star guard;
  `hamming_band_pairs` slices a fingerprint into t+1 bit-range bands,
  calls it, and verifies candidates by popcount (the banded
  candidate-then-verify shape).

Physical-plan discipline (this is where the 100 TB throughput lives):
heavy per-shingle work (md5, signature arithmetic, sign votes) runs in
*relational* projections/aggregations over an exploded posting table —
whole-stage-codegen'd, map-side-combined — NOT inside array
higher-order-function lambdas, which Spark evaluates interpreted,
re-evaluating subexpressions per element (no codegen, no CSE). The
HOF form of MinHash measured ~16 interpreted md5s per shingle; the
posting form runs ONE codegen'd md5 per shingle and derives all k
hash functions as linear combinations of its two 48-bit halves
(h_i = (b1 + i*b2) mod 2^48 — the standard one-hash MinHash scheme).

Reference parity note: the reference's only dedup is exact-key
set-difference for entity discovery (reference
scripts/etl/extractor.py:227-252) — covered by operators/writer.py.
This module is the additive LLM-curation family.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

NGRAM_N = 3
MASK48 = (1 << 48) - 1


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct
    content with the keeper (min doc_id) and duplicate count."""
    return (
        df.select("doc_id", F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def canonical_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonicalized exact dedup: hash of the sorted distinct token
    set, catching reordered/bag-of-words duplicates exactly."""
    canon = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.split(F.col(text_col), " ")))
    )
    return (
        df.select("doc_id", F.md5(canon).alias("canon_hash"))
        .groupBy("canon_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _posting(df: DataFrame, text_col: str, n: int = NGRAM_N) -> DataFrame:
    """Inverted-index posting table (doc_id, h1, h2): one row per
    distinct shingle, hashed by ONE codegen'd md5 split into two
    48-bit halves (h1 = portable_hash48; h2 seeds the MinHash linear
    combinations). Downstream joins/aggs shuffle 16-byte rows, never
    shingle strings.

    Shingles are assembled relationally as an n-way ZIP of shifted
    array slices — arrays_zip(slice(toks, 1, L), ..., slice(toks, n,
    L)) with L = size - (n-1).  Every slice has exactly L elements, so
    the zip never null-pads and each element is a complete n-gram.
    Per-doc dedup happens NARROWLY, in the array domain: the gram
    strings are array_distinct'ed BEFORE the explode (all of a doc's
    shingles live in one row, so "distinct per doc" needs no shuffle —
    the DuckDB oracle's ``list_distinct`` has the same semantics), and
    md5 runs once per DISTINCT gram, post-explode, in whole-stage
    codegen.  This replaces the earlier repartition(doc_id) +
    dropDuplicates form: that shuffled the full posting (corpus-scale
    bytes) to dedup rows the producing row already contained.  r12
    interleaved medians at sf0.1: posting build 0.67s -> 0.29s;
    bucket fold -0.28s; signatures/near-dup ties; exceptAll parity 0
    diff rows.  Consumers that aggregate by doc_id now pay a
    partial-agg exchange on 16-byte rows — map-side combine over
    already per-doc-distinct hashes, the correct 100 TB trade."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    length = F.greatest(F.lit(0), F.size("t") - (n - 1))
    arr = F.arrays_zip(*[F.slice(F.col("t"), j + 1, length) for j in range(n)])
    gstr = F.transform(
        arr, lambda s: F.concat_ws("|", *[s[str(j)] for j in range(n)])
    )
    return (
        df.select("doc_id", toks.alias("t"))
        .select("doc_id", F.explode(F.array_distinct(gstr)).alias("_g"))
        .select("doc_id", F.md5("_g").alias("_md5"))
        .select(
            "doc_id",
            F.conv(F.substring("_md5", 1, 12), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring("_md5", 13, 12), 16, 10).cast("long").alias("h2"),
        )
    )


def cap_doc_freq(posting: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_doc_freq``
    from the posting table — the skew guard for inverted-index joins.

    A hot shingle ("the quick", boilerplate headers) appearing in D
    docs contributes D² co-occurrence rows to a posting self-join; one
    such key at corpus scale is a straggler that never finishes. The
    cap removes stop-shingles from the similarity space entirely (both
    the shared counts and the per-doc sizes), so Jaccard becomes
    "Jaccard over informative shingles" — the standard stop-shingle
    semantics, mirrored exactly by the DuckDB oracle
    (plans/llm_dedup_gates.py:ngram_jaccard_capped).

    Plan shape: the hot-key set (df > cap) is tiny by construction, so
    it broadcasts and the filter is a broadcast anti-join — the full
    posting is never shuffled to apply the cap; the df aggregation
    itself is a map-side-combined count on 8-byte keys."""
    hot = (
        posting.groupBy("h1")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("h1")
    )
    return posting.join(F.broadcast(hot), "h1", "left_anti")


def posting_buckets(posting: DataFrame, max_doc_freq: int) -> DataFrame:
    """(h1, docs): the inverted index folded to one row per shingle
    hash with its posting LIST (``collect_list`` — multiplicity kept,
    so downstream counts are row-exact vs the join form even under
    48-bit collisions), the df cap applied as a free
    ``size(docs) <= cap`` filter on the exact count.  ONE shuffle
    replaces the df-count aggregation + broadcast anti-join +
    double-exchange self-join of the ``cap_doc_freq`` + equi-join
    plan; pairs and capped per-doc sizes both derive from this table
    narrowly (see ``bucket_shared_counts``).  Array bound: ``cap``
    ids per row by construction — the guard IS the memory bound."""
    return (
        posting.groupBy("h1")
        .agg(F.collect_list("doc_id").alias("docs"))
        .filter(F.size("docs") <= max_doc_freq)
    )


def bucket_shared_counts(buckets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_shared) co-occurrence counts from a
    ``posting_buckets`` table: within-row double explode (narrow,
    ≤ cap² rows per bucket) + one map-side-combined pair count — the
    join-free form of the posting self-join, same rewrite as
    ``plans.quality.basket_pairs``."""
    return (
        buckets.select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def pair_jaccard(
    posting: DataFrame,
    pairs: DataFrame,
    posting_b: DataFrame | None = None,
    _sizes_df: DataFrame | None = None,
    _sizes_b_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for an explicit (doc_a, doc_b) pair set,
    computed as posting-table joins restricted to those pairs — rows of
    16-byte hashes in the shuffle, never per-doc gram *arrays* (the
    collect_list form degrades for book-length docs: one array per doc
    rides every candidate join row).

    Pairs with zero shared shingles drop out of the inner join; they
    have Jaccard 0 and can never pass a positive threshold.

    Two-sided form: when ``posting_b`` is given, ``doc_a`` ids resolve
    against ``posting`` and ``doc_b`` ids against ``posting_b``. Use
    this whenever the two pair sides come from different tables — a
    union would double-count the gram size of any doc_id present on
    both sides and corrupt its Jaccard.

    The per-doc SIZES joins are hinted ``shuffle_hash``: sizes tables
    grow with the corpus (one row per doc), so the planner's broadcast
    choice — taken because a two-long-column agg output looks tiny —
    is a plan that dies at scale: the driver builds a corpus-sized
    HashedRelation (measured: OOM at sf10/500k docs inside a warm
    bench session even with a 16 GiB driver). Shuffle-hash keeps the
    build per-partition, and the sizes agg's hash(doc_id) partitioning
    already matches the join key, so only the (small) pair side moves.

    ``_sizes_df`` / ``_sizes_b_df`` supply precomputed per-doc gram
    counts (doc_id, n_grams) for the ``posting`` / ``posting_b`` side —
    callers composing several detectors over the same posting (the
    admission path builds the batch sizes once and threads them into
    BOTH verifies) pass them so the aggregation isn't repeated per
    detector.  A sizes table may cover MORE docs than the pair set
    touches (the joins are inner on the pair's ids), so a whole-batch
    table serves a survivor-sliced verify unchanged.  One-sided calls
    derive both sides from ONE subtree, so the planner's exchange
    reuse collapses the duplicate aggregation the two-alias form paid."""
    posting_b = posting if posting_b is None else posting_b
    pa = posting.select(F.col("doc_id").alias("doc_a"), "h1")
    pb = posting_b.select(F.col("doc_id").alias("doc_b"), "h1")
    shared = (
        pairs.join(pa, "doc_a")
        .join(pb, ["doc_b", "h1"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes_a = (
        _sizes_df
        if _sizes_df is not None
        else posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    )
    if _sizes_b_df is not None:
        sizes_b = _sizes_b_df
    elif posting_b is posting:
        sizes_b = sizes_a
    else:
        sizes_b = posting_b.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams")
        )
    sa = sizes_a.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes_b.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    return (
        shared.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")), 4
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = NGRAM_N,
    text_col: str = "text",
    max_doc_freq: int | None = 1000,
    _posting_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (doc_a < doc_b, j >= t).

    Inverted-index plan: equi-join the posting table with itself on the
    shingle hash, count co-occurrences per pair, then
    jaccard = shared / (|A| + |B| - shared). Exact recall over the
    retained shingle space: j >= t > 0 implies at least one shared
    shingle.

    ``max_doc_freq`` (the skew guard, see ``cap_doc_freq``) bounds the
    worst join key: co-occurrence work per shingle is at most cap²,
    making total work O(Σ df_i²) with every term bounded — instead of
    quadratic in the hottest key's document frequency. None disables
    the cap (exact classic Jaccard).

    Plan forms: capped, the inverted index folds to ``posting_buckets``
    (bounded arrays) and pairs come join-free from a within-row double
    explode; sizes derive from the same bucket table, so the cap
    decides shingle membership once for counts and denominators alike.
    Uncapped, the classic posting self-join remains — an unbounded
    ``collect_list`` would trade the join's graceful skew degradation
    for an OOM-able array, the same contract as
    ``plans.quality.copurchase_edges(max_items=None)``."""
    # The posting feeds three consumers (sizes + both join sides);
    # persist so tokenize/shingle/md5 runs once, not per consumer.
    # (~16 bytes/shingle — at lake scale this is a materialized
    # intermediate table, same idea.) Callers composing several
    # detectors over the same corpus pass an already-persisted posting
    # via ``_posting_df`` so the build isn't repeated per detector.
    posting = (
        _posting_df
        if _posting_df is not None
        else _posting(df, text_col, n).persist()
    )
    if max_doc_freq is not None:
        buckets = posting_buckets(posting, max_doc_freq).persist()
        sizes = (
            buckets.select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"))
        )
        shared = bucket_shared_counts(buckets)
    else:
        sizes = posting.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams")
        )
        a = posting.select(F.col("doc_id").alias("doc_a"), "h1")
        b = posting.select(F.col("doc_id").alias("doc_b"), "h1")
        shared = (
            a.join(b, "h1")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    return (
        # shuffle_hash, not broadcast: sizes grow with the corpus
        # (see pair_jaccard's sizes-join note)
        shared.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = NGRAM_N,
    text_col: str = "text",
    max_doc_freq: int | None = None,
    _posting_df: DataFrame | None = None,
) -> DataFrame:
    """Containment (overlap-coefficient) near-dup pairs:
    c = |A∩B| / min(|A|, |B|), doc_a < doc_b, c >= threshold.

    The asymmetric companion to Jaccard: a short document fully quoted
    inside a long one (prefix/suffix dups, boilerplate-wrapped
    articles, chunk-of-a-book) has containment ~1 while its Jaccard is
    ~|A|/|B| — far below any symmetric threshold. Training-data dedup
    runs BOTH: Jaccard for same-size near-copies, containment for
    subset copies.

    Identical plan shape to ``ngram_jaccard_pairs`` (same inverted
    index, same equi-join on the shingle hash, same partial-aggregated
    co-occurrence count); only the final scalar formula differs, so
    every scale property (16-byte shuffle rows, df-cap compatibility,
    O(Σ df²) bound) carries over. ``c >= t > 0`` implies >= 1 shared
    shingle, so the inner join loses no qualifying pair.

    ``max_doc_freq`` is the same stop-shingle cap as the Jaccard
    form (see ``cap_doc_freq``); it matters MORE here — containment's
    min() denominator means one hot boilerplate shingle shared by a
    short header doc and everything else scores high where Jaccard's
    union dilutes it. Capped, the plan is the join-free
    ``posting_buckets`` fold; uncapped, the classic self-join."""
    posting = (
        _posting_df
        if _posting_df is not None
        else _posting(df, text_col, n).persist()
    )
    if max_doc_freq is not None:
        buckets = posting_buckets(posting, max_doc_freq).persist()
        sizes = (
            buckets.select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"))
        )
        shared = bucket_shared_counts(buckets)
    else:
        sizes = posting.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams")
        )
        a = posting.select(F.col("doc_id").alias("doc_a"), "h1")
        b = posting.select(F.col("doc_id").alias("doc_b"), "h1")
        shared = (
            a.join(b, "h1")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    return (
        # shuffle_hash, not broadcast: sizes grow with the corpus
        # (see pair_jaccard's sizes-join note)
        shared.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.least("na", "nb"), 4),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


# --- MinHash + LSH -----------------------------------------------------------

MINHASH_K = 16  # signature length
LSH_ROWS = 4  # rows per band -> bands = K / ROWS = 4
# Recommended max_bucket_size for the star-edge guards below: buckets
# above it emit star edges to the bucket-min doc instead of all pairs.
# 512 is far above any bucket the tested scales produce (max observed:
# 4 at sf0.1) and far below where m(m-1)/2 becomes a straggler
# (512 -> 131k pairs/bucket). The batch query functions default to
# max_bucket_size=None — the guard costs a window sort (~0.5 s/query
# at sf0.1, measured) and clean corpora don't need it — while the
# always-on ingestion path (streaming/admission.py) opts in with this
# value: at ingest time nobody has audited the batch, which is exactly
# when the 10⁶-copy boilerplate bucket shows up.
LSH_MAX_BUCKET = 512


def _bucket_marked(
    bucketed: DataFrame,
    keys: list[str],
    *payload: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Annotate every row of a bucketed table with its bucket size
    ``m``, bucket-min id ``rep``, and (``rep_<col>``) the
    representative's payload columns — the shared substrate of the
    giant-bucket star guards, as a WINDOW over the bucket keys rather
    than an aggregate + join-back or a driver probe: one shuffle, no
    broadcast job, no eager action, no membership arrays (the
    formulations measured and rejected at sf0.1: broadcast hot-set
    ~2.6 s/call and probe-then-branch ~2.4 s/call vs window ~1.5 s vs
    unguarded ~1.2 s — the window's shuffle by the bucket keys is
    exactly the partitioning the downstream pair join needs, so its
    marginal cost is a per-partition sort, a constant that shrinks
    relative to real work at scale)."""
    w = Window.partitionBy(*keys)
    rep = F.min(F.struct(id_col, *payload)).over(w)
    cols = {"m": F.count(F.lit(1)).over(w), "rep": rep[id_col]}
    for p in payload:
        cols[f"rep_{p}"] = rep[p]
    return bucketed.withColumns(cols)


def _pair_cols(id_col: str) -> tuple[str, str]:
    """Pair-table column names over ``id_col``: doc_id -> (doc_a,
    doc_b), fp -> (fp_a, fp_b)."""
    stem = id_col.removesuffix("_id")
    return f"{stem}_a", f"{stem}_b"


def band_candidates(
    bands: DataFrame, max_bucket_size: int | None, id_col: str = "doc_id"
) -> DataFrame:
    """(<id>_a < <id>_b): distinct pairs of ids sharing >= 1 (band,
    key) bucket of a banded index ``(id_col, band, key)`` — the
    package's one bucket self-join, shared by MinHash-LSH, SimHash and
    the media fingerprints (``hamming_band_pairs``).

    ``max_bucket_size`` is the giant-bucket star guard, and its
    semantics deliberately DIFFER from the hot-key exclusion of
    ``cap_doc_freq`` / ``plans.quality.cap_basket_size``: a hot
    shingle or basket carries no pairwise signal, but a hot bucket
    (10⁶ mirror copies of one page) is exactly where the duplicates
    are — dropping it would un-dedup the worst offenders. Instead,
    buckets larger than the cap emit STAR edges (bucket-min id ->
    every other member): m-1 candidates instead of m(m-1)/2,
    connectivity within the bucket exactly preserved, so downstream
    clustering (``dup_clusters``) yields identical components. What is
    lost is only the non-representative pairwise candidates inside
    oversized buckets — callers that report verified PAIRS (not
    clusters) get a connectivity-preserving subset there. At a sane
    cap (>= 64) every such bucket is boilerplate-degenerate and its
    members near-identical, so cluster-level recall is unaffected
    (the planted-bucket units pin this); None disables the guard.

    Plan shape: the (id, band, key) table is
    ``localCheckpoint(eager=False)``-ed, so both join sides and the
    star branch read it once (the self-join breaks exchange reuse, so
    without it the upstream signature/fingerprint pipeline runs per
    side). The checkpoint is not lazy under AQE: taking it runs every
    shuffle-map stage below it, so this function runs Spark jobs
    while the frame is built (``minhash_lsh_dedup`` at sf0.01: 3);
    only the checkpoint's final result stage waits for an action. With the guard on,
    ``_bucket_marked`` windows the checkpoint by (band, key), the
    partitioning the self-join needs anyway, so the guard's marginal
    cost is a per-partition sort."""
    a, b = _pair_cols(id_col)
    bands = bands.select(id_col, "band", "key").localCheckpoint(eager=False)
    if max_bucket_size is not None:
        bands = _bucket_marked(bands, ["band", "key"], id_col=id_col)
    small = bands if max_bucket_size is None else bands.filter(
        F.col("m") <= max_bucket_size
    )
    pairs = (
        small.select(F.col(id_col).alias(a), "band", "key")
        .join(small.select(F.col(id_col).alias(b), "band", "key"), ["band", "key"])
        .filter(F.col(a) < F.col(b))
        .select(a, b)
    )
    if max_bucket_size is not None:
        stars = bands.filter(
            (F.col("m") > max_bucket_size) & (F.col(id_col) != F.col("rep"))
        )
        pairs = pairs.unionByName(
            stars.select(F.col("rep").alias(a), F.col(id_col).alias(b))
        )
    return pairs.distinct()


def _bit_range(word, lo: int, width: int) -> Column:
    """Fingerprint bits [lo, lo + width) as one long, crossing a word
    boundary where needed; ``word(i)`` is the i-th 64-bit word."""
    w0, off = divmod(lo, 64)
    col = F.shiftrightunsigned(word(w0), off)
    got = 64 - off
    if got >= width:
        return col if width == 64 else col.bitwiseAND(F.lit((1 << width) - 1))
    high = word(w0 + 1).bitwiseAND(F.lit((1 << (width - got)) - 1))
    return col.bitwiseAND(F.lit((1 << got) - 1)).bitwiseOR(F.shiftleft(high, got))


def hamming_band_pairs(
    fps: DataFrame,
    id_col: str,
    total_bits: int,
    max_hamming: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """(<id>_a, <id>_b, hamming): pairs of ``fps`` rows whose
    fingerprint ``fp`` (one long, or a struct of long words) differs
    in <= max_hamming of its ``total_bits`` bits.

    Banded candidate-then-verify: the fingerprint is bit-sliced into
    ``max_hamming + 1`` keys (leftover bits join the last band), so by
    pigeonhole any pair within the threshold agrees on >= 1 whole band
    and ``band_candidates`` has EXACT recall; candidates then keep the
    pairs whose popcount of the word-wise xor is <= max_hamming.
    Slicing into t+1 bands makes each key as wide as the threshold
    allows. With the star guard firing, a pair confined to oversized
    buckets is reported only through the bucket representative
    (hamming still exact per emitted pair). Each band row carries its
    fingerprint inside the bucket id (``struct(id, fp)``, ordered by
    id), so the verify needs no join back to ``fps``."""
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    nb = max_hamming + 1
    if nb > total_bits:
        raise ValueError(
            "pigeonhole slicing needs max_hamming + 1 <= total fingerprint bits"
        )
    width, extra = divmod(total_bits, nb)
    # band keys are equality-join keys, so a full 64-bit key is fine
    # (sign bit included); only a > 64-bit band cannot fit a long
    if width + extra > 64:
        raise ValueError(
            "a band key would exceed 64 bits; raise max_hamming or "
            "shorten the fingerprint (t=0 on wide fingerprints is "
            "exact dedup — group by the fingerprint instead)"
        )
    fp_type = fps.schema["fp"].dataType
    names = fp_type.fieldNames() if isinstance(fp_type, StructType) else [None]

    def word(fp: str, i: int) -> Column:
        return F.col(fp) if names[i] is None else F.col(fp)[names[i]]

    fp_word = functools.partial(word, "fp")
    # t+1 bit ranges of `width` bits; leftover bits join the last one
    keys = [_bit_range(fp_word, j * width, width) for j in range(max_hamming)]
    keys.append(_bit_range(fp_word, max_hamming * width, width + extra))
    node = F.struct(F.col(id_col).alias("id"), F.col("fp").alias("fp"))
    bands = fps.select(
        node.alias("node"), F.posexplode(F.array(*keys)).alias("band", "key")
    )
    hamming = functools.reduce(
        operator.add,
        [
            F.bit_count(word("node_a.fp", i).bitwiseXOR(word("node_b.fp", i)))
            for i in range(len(names))
        ],
    ).cast("long")
    a, b = _pair_cols(id_col)
    return (
        band_candidates(bands, max_bucket_size, "node")
        .select(
            F.col("node_a.id").alias(a),
            F.col("node_b.id").alias(b),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_signatures(
    df: DataFrame,
    k: int = MINHASH_K,
    n: int = NGRAM_N,
    text_col: str = "text",
    _posting_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): h_i(g) = (b1(g) + i*b2(g)) mod 2^48,
    minimized per doc in ONE partial-aggregating groupBy over the
    posting table. (i*b2 <= 15*2^48 < 2^53, no 64-bit overflow; the
    same arithmetic is exact in the DuckDB oracle.)"""
    posting = _posting_df if _posting_df is not None else _posting(df, text_col, n)
    return posting.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("h1") + F.lit(i) * F.col("h2")).bitwiseAND(F.lit(MASK48))
            ).alias(f"mh_{i}")
            for i in range(k)
        ]
    )


def minhash_band_table(
    df: DataFrame,
    k: int = MINHASH_K,
    rows_per_band: int = LSH_ROWS,
    n: int = NGRAM_N,
    text_col: str = "text",
    _posting_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, key): the LSH band index — b rows per doc, key =
    the band's signature slice. This IS the materialized dedup index
    of a production corpus: persist/write it once, then any new batch
    joins against it (``minhash_incremental``) without touching the
    corpus text again."""
    sig = minhash_signatures(df, k, n, text_col, _posting_df=_posting_df)
    n_bands = k // rows_per_band
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh_{band * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def minhash_lsh_candidates(
    df: DataFrame,
    k: int = MINHASH_K,
    rows_per_band: int = LSH_ROWS,
    n: int = NGRAM_N,
    text_col: str = "text",
    max_bucket_size: int | None = None,
    _posting_df: DataFrame | None = None,
    _bands_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a, doc_b): docs sharing >= 1 LSH
    band.

    Plan: signature aggregation -> explode b band keys
    (``minhash_band_table``) -> ``band_candidates``, the (band, key)
    self-join with its giant-bucket star guard (``max_bucket_size``;
    see there). The band join carries (doc_id, band, key-string) —
    independent of document size. Deterministic given the portable
    hash."""
    bands = (
        _bands_df
        if _bands_df is not None
        else minhash_band_table(
            df, k, rows_per_band, n, text_col, _posting_df=_posting_df
        )
    )
    return band_candidates(bands, max_bucket_size)


def minhash_near_dup(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    max_bucket_size: int | None = None,
    _posting_df: DataFrame | None = None,
    _bands_df: DataFrame | None = None,
    _sizes_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact n-gram Jaccard:
    the production near-dup query. Pairwise verification touches ONLY
    candidate pairs (the whole point of bucketing), and runs as
    posting-table joins restricted to those pairs (``pair_jaccard``) —
    row-shaped 16-byte hashes in the shuffle, no per-doc gram arrays
    (the earlier collect_list/array_intersect form put one array per
    doc on every candidate row, degrading for book-length docs).

    ``max_bucket_size`` passes through to the candidate stage's
    giant-bucket star-edge guard (see ``band_candidates``);
    with star thinning active, verified pairs inside an oversized
    bucket are those scoring >= threshold AGAINST THE REPRESENTATIVE,
    which at a sane cap keeps ``dup_clusters`` components identical."""
    posting = (
        _posting_df
        if _posting_df is not None
        else _posting(df, text_col, NGRAM_N).persist()
    )
    cands = minhash_lsh_candidates(
        df,
        text_col=text_col,
        max_bucket_size=max_bucket_size,
        _posting_df=posting,
        _bands_df=_bands_df,
    )
    return pair_jaccard(posting, cands, _sizes_df=_sizes_df).filter(
        F.col("jaccard") >= threshold
    )


def minhash_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    max_bucket_size: int | None = None,
    _corpus_posting_df: DataFrame | None = None,
    _new_posting_df: DataFrame | None = None,
    _new_bands_df: DataFrame | None = None,
    _new_sizes_df: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup: which NEW documents duplicate the existing
    corpus — the admission check a growing training set runs per batch.
    (doc_a = corpus id, doc_b = new id, jaccard >= threshold.)

    The batch's band table joins the corpus band index directly; there
    is NO corpus self-join, so per-batch cost scales with batch size ×
    bucket collision rate, not corpus². In production the corpus band
    index and posting table are materialized once (they are plain
    DataFrames — write them as tables) and only the batch side is
    computed fresh; corpus-internal duplicates are intentionally not
    re-reported. Callers that already hold posting tables (or can split
    one shared build, as the registered query does) pass them via the
    underscore params and skip the tokenize/shingle work here.

    doc_ids need not be disjoint between the two sides: sizes are
    computed per side (two-sided pair_jaccard), so a re-ingested id
    gets a correct Jaccard against the corpus copy, and the identity
    pair (x, x) is excluded — same-key re-ingest is the idempotent
    writer's concern (operators/writer.py), not near-dup detection.

    ``max_bucket_size`` guards the hot-CORPUS-bucket pathology: a
    boilerplate bucket holding 10⁶ corpus docs emits 10⁶ candidate
    rows for EVERY colliding batch doc. Corpus buckets above the cap
    are thinned to their bucket-min representative before the join, so
    a colliding new doc is reported as a duplicate OF THE
    REPRESENTATIVE (one verified pair) rather than of every member —
    the admission decision ("is this batch doc already in the
    corpus?") is unchanged, only the enumerated corpus matches are.
    The batch side is never thinned: every new doc keeps its own
    verdict, and its per-bucket cost is already capped by the guard.
    Guard substrate: ``_bucket_marked`` — a window over the corpus
    band index whose (band, key) shuffle is the partitioning the
    corpus-vs-batch join needs anyway, so thinning is near free;
    results are byte-identical whenever no corpus bucket exceeds the
    cap (the filter keeps every row of non-oversized buckets)."""
    corpus_posting = (
        _corpus_posting_df
        if _corpus_posting_df is not None
        else _posting(corpus, text_col, NGRAM_N).persist()
    )
    new_posting = (
        _new_posting_df
        if _new_posting_df is not None
        else _posting(new_docs, text_col, NGRAM_N).persist()
    )
    corpus_bands = minhash_band_table(
        corpus, text_col=text_col, _posting_df=corpus_posting
    )
    new_bands = (
        _new_bands_df
        if _new_bands_df is not None
        else minhash_band_table(
            new_docs, text_col=text_col, _posting_df=new_posting
        )
    )
    cands = incremental_band_candidates(
        corpus_bands, new_bands, max_bucket_size=max_bucket_size
    )
    return pair_jaccard(
        corpus_posting, cands, posting_b=new_posting, _sizes_b_df=_new_sizes_df
    ).filter(F.col("jaccard") >= threshold)


def incremental_band_candidates(
    corpus_bands: DataFrame,
    new_bands: DataFrame,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(doc_a = corpus id, doc_b = new id): candidate pairs from a
    corpus band INDEX joined by a batch band table — the join stage
    shared by ``minhash_incremental`` (bands computed in-flight) and
    ``dedup_index.check_batch_against_index`` (bands loaded from the
    materialized index). ``max_bucket_size`` applies the window-marked
    hot-corpus-bucket thinning (see ``_bucket_marked``); its (band,
    key) shuffle is the partitioning the join needs anyway."""
    if max_bucket_size is not None:
        corpus_bands = (
            _bucket_marked(corpus_bands, ["band", "key"])
            .filter(
                (F.col("m") <= max_bucket_size)
                | (F.col("doc_id") == F.col("rep"))
            )
            .select("doc_id", "band", "key")
        )
    return (
        corpus_bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
        .join(
            new_bands.select(F.col("doc_id").alias("doc_b"), "band", "key"),
            ["band", "key"],
        )
        .select("doc_a", "doc_b")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 48


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    _posting_df: DataFrame | None = None,
) -> DataFrame:
    """48-bit SimHash over word-3-gram features (unigram features would
    collide for any docs sharing a vocabulary; shingles encode order).

    Relational form: explode features -> 48 conditional-sum aggregates
    (one per bit, map-side partial) -> fingerprint assembled from the
    sign columns. One shuffle, all codegen — no per-element lambda
    loops."""
    posting = _posting_df if _posting_df is not None else _posting(df, text_col, NGRAM_N)
    votes = posting.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h1"), j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"s_{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fingerprint = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        fingerprint = fingerprint + F.when(
            F.col(f"s_{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", fingerprint.alias("simhash"))


def simhash_near_dup(
    df: DataFrame,
    max_distance: int = 3,
    text_col: str = "text",
    max_bucket_size: int | None = None,
    _posting_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, hamming) with SimHash hamming
    distance <= max_distance: the 48-bit fingerprints through
    ``hamming_band_pairs`` — (max_distance + 1) bit-sliced bands
    (4 x 12 bits at the default t=3), so by pigeonhole the banded
    plan equals the brute-force oracle at equi-join cost.

    ``max_bucket_size`` is the ``band_candidates`` star guard (10⁶
    boilerplate copies collide in EVERY band): band buckets above the
    cap emit star edges to the bucket-min doc, hamming still exact
    per emitted pair. The brute-force guarantee then holds for every
    pair that shares at least one NON-oversized bucket."""
    fps = simhash_fingerprints(df, text_col, _posting_df=_posting_df)
    return hamming_band_pairs(
        fps.select("doc_id", F.col("simhash").alias("fp")),
        "doc_id",
        SIMHASH_BITS,
        max_distance,
        max_bucket_size,
    )


# --- dup-cluster assembly (connected components) ----------------------------


def dup_clusters(
    pairs: DataFrame,
    max_iter: int = 30,
    collect_max_edges: int = 100_000,
    distributed: bool | None = None,
) -> DataFrame:
    """(doc_id, cluster_id): connected components of a near-dup pair
    graph, cluster_id = min doc_id in the component. This is the final
    step of corpus dedup — pairs from any detector (Jaccard, MinHash,
    SimHash, embedding) become keeper groups: keep ``doc_id ==
    cluster_id``, drop the rest.

    Size switch (same pattern as the enrichment path): the near-dup
    edge set is tiny relative to the corpus by construction — near-dup
    *pairs*, not documents — so when it fits comfortably on the driver
    (``collect_max_edges``) a local union-find replaces the iterative
    job (identical output, measured 12 s -> pair-detection cost alone
    at sf0.1: each distributed round pays join + shuffle + checkpoint
    overhead that dwarfs the actual work on a small graph). Past the
    threshold — or with ``distributed=True`` — the min-label
    propagation loop below runs; it is the 100 TB path and stays
    covered by a forced-path equivalence test.

    Iterative min-label propagation as a DataFrame loop: each round
    every node takes the min of its own label and its neighbors'
    labels. Converges in O(component diameter) rounds — tiny for dup
    clusters, which are near-cliques. Labels decrease monotonically, so
    the (cheap, scalar) sum-of-labels fixed point detects convergence
    without a change-count join.

    Round shape: the undirected edge set carries a self-loop per node,
    so one join (edge.v = label.node) + one min-groupBy on u computes
    min(own, neighbors) in a single pass — no second "keep own label"
    left join. The edge table is hash-partitioned on the probe key and
    persisted once, so every round's join reuses its layout and only
    the (much smaller) label side shuffles; at lake scale this is the
    standard large/small-star CC workload shape.

    Each round's label table is ``localCheckpoint``-ed, not persisted:
    checkpointing truncates lineage, so round N's plan starts from
    round N-1's materialized rows instead of replaying every earlier
    round (persist alone does NOT give this — unpersisting a prior
    round's labels makes Spark's cache manager recompile the dependent
    cache entries and silently drop their buffers, re-running the whole
    upstream pair-detection per round; measured 40s -> 8s at sf0.1).
    Iterative truncation is also the scale posture: lineage otherwise
    grows linearly with rounds and replays on any partition loss. On a
    multi-executor cluster prefer ``df.checkpoint()`` (reliable,
    HDFS-backed) over the executor-local variant.
    """
    # The undirected pair table is what the size switch counts and the
    # driver path collects — half the rows of the symmetric form, and
    # the expensive pair detection still runs exactly once (the count
    # materializes the persist, the collect reads cache).  (r12 A/Bs
    # measured and REJECTED two single-action variants: take(bound+1)
    # pays CollectLimit's 3-5-job incremental scale-up ladder, and
    # dropping the persist makes the collect re-execute the verify
    # joins above the last exchange — both slower than
    # count-then-collect.)  Union-find is direction-agnostic, so the
    # driver path never needs the symmetric expansion at all.
    und = pairs.select(
        F.col("doc_a").cast("long").alias("u"), F.col("doc_b").cast("long").alias("v")
    ).persist()
    if distributed is None:
        distributed = und.count() > collect_max_edges
    if not distributed:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in und.collect():
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # Union by min id so every root IS the component min.
                lo, hi = min(ru, rv), max(ru, rv)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        und.unpersist()
        return pairs.sparkSession.createDataFrame(
            rows, "doc_id: long, cluster_id: long"
        )
    # Symmetric expansion via explode(array(...)), NOT a self-union:
    # a union's two branches each carry the whole upstream
    # pair-detection plan, and only the exchanges below them get
    # deduplicated (ReuseExchange) — the join/filter/agg chain above
    # the last shuffle still executes twice per materialization. The
    # explode form scans the (cached) pair table exactly once and
    # emits both edge directions per row. Persisted because nodes and
    # edges both consume it.
    sym = (
        und.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .persist()
    )
    nodes = sym.select("u").distinct()
    edges = (
        sym.unionByName(nodes.select("u", F.col("u").alias("v")))
        .distinct()
        .repartition("v")
        .persist()
    )
    labels = nodes.select(
        F.col("u").alias("node"), F.col("u").alias("lbl")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(max_iter):
        labels = (
            edges.join(labels, edges.v == F.col("node"))
            .groupBy("u")
            .agg(F.min("lbl").alias("lbl"))
            .select(F.col("u").alias("node"), "lbl")
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # labels is lineage-truncated, so dropping the inputs cannot
    # invalidate it (the returned plan reads the checkpointed rows).
    edges.unpersist()
    sym.unpersist()
    und.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
