"""Text-analysis column expressions for training-data curation.

All pure native expressions (whole-stage codegen, no UDFs): suitable
for a 100 TB documents table — each operator is a projection or a
single aggregation, shuffling only grouped outputs.

Portability: ``portable_hash48`` is the determinism anchor shared with
the DuckDB oracle (md5 is bit-identical across engines; 12 hex chars =
48 bits fits a BIGINT in both). The production-scale variant would be
``xxhash64`` — same plan shape, cheaper hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language function-word lexicons for the n-gram/stopword
# language-ID heuristic. Deterministic scoring: overlap count of the
# document's token set with each lexicon; argmax with fixed tie order.
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "und", "das", "ist", "ich", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "zh": ["de5", "shi4", "le5", "wo3", "bu4", "zai4", "you3", "he2", "ren2", "ta1"],
}

STOPWORDS = LANG_LEXICONS["en"]


def portable_hash48(c: Column) -> Column:
    """48-bit integer hash both Spark and DuckDB compute identically:
    first 12 hex chars of md5, base-16 -> base-10. DuckDB equivalent:
    ``('0x' || substring(md5(x), 1, 12))::BIGINT``."""
    return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long")


def tokens(text: Column) -> Column:
    """SINGLE-SPACE tokenization as an array column (empty strings
    out) — the corpus contract this engine and every DuckDB oracle
    share (``string_split(text, ' ')``).  Real-world text with tabs/
    newlines wants a ``\\s+`` regex split; change it HERE and in every
    oracle together, or token counts, shingles, postings, and vocab
    tables silently disagree across the registry."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def positional_ngrams(text: Column, n: int = 3, sep: str = "|") -> Column:
    """ALL word n-grams in positional order (duplicates kept) — the
    occurrence stream repetition metrics count over; empty array for
    docs with < n words.

    Built as an n-way ZIP of shifted array slices (the ``_posting``
    shingle construction): every slice has exactly L = size - (n-1)
    elements, so the zip never null-pads and each element is a
    complete n-gram in positional order.  L clamps to 0 for short
    docs, making the empty-array guard free.  This replaces the
    sequence() + per-index element_at form: element_at re-walks the
    array per lambda step interpreted, where the slices are one
    straight copy each (r13 interleaved A/B on repetition_table at
    sf0.1 in OPTIMIZATION_r13.md)."""
    w = tokens(text)
    length = F.greatest(F.lit(0), F.size(w) - (n - 1))
    arr = F.arrays_zip(*[F.slice(w, j + 1, length) for j in range(n)])
    grams = F.transform(
        arr, lambda s: F.concat_ws(sep, *[s[str(j)] for j in range(n)])
    )
    # NULL text propagates NULL through the slices; the old form
    # returned an empty array there — keep that contract.
    return F.coalesce(grams, F.array().cast("array<string>"))


def word_ngrams(text: Column, n: int = 3, sep: str = "|") -> Column:
    """Distinct word n-gram shingles; empty array for docs with < n
    words (guards Spark's sequence() which would step backwards)."""
    return F.array_distinct(positional_ngrams(text, n, sep))


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text)).cast("long")


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token estimate: greedy <=4-char lowercase chunks plus
    any non-space symbol runs — a deterministic stand-in for a real
    subword tokenizer (same regex runs in the DuckDB oracle)."""
    return F.regexp_count(text, F.lit("[a-z]{1,4}|[^a-z ]")).cast("long")


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language overlap score of the token set with each lexicon."""
    toks = F.array_distinct(tokens(text))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in lex])))
        .cast("long")
        .alias(f"score_{lang}")
        for lang, lex in LANG_LEXICONS.items()
    }


def lang_id(text: Column) -> Column:
    """Predicted language: argmax lexicon overlap, ties broken by the
    fixed lexicon order (en, es, de, fr, zh), 'und' when all zero."""
    scores = lang_scores(text)
    langs = list(LANG_LEXICONS)
    best = F.greatest(*[scores[lang] for lang in langs])
    out = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties -> apply last
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


def quality_metrics(text: Column) -> dict[str, Column]:
    """Deterministic quality-scoring features (length, word shape,
    stopword density, symbol density) + a composite [0,1] score."""
    toks = tokens(text)
    n_toks = F.size(toks).cast("long")
    n_chars = F.length(text).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    ).cast("long")
    # Symbols = anything outside lowercase+space (regexp_replace in the
    # oracle needs the 'g' flag; Spark replaces globally by default).
    n_sym = (n_chars - F.length(F.regexp_replace(text, "[^a-z ]", ""))).cast("long")
    avg_len = F.round((n_chars - (n_toks - 1)) / F.nullif(n_toks, F.lit(0)), 3)
    stop_ratio = F.round(n_stop / F.nullif(n_toks, F.lit(0)), 3)
    sym_ratio = F.round(n_sym / F.nullif(n_chars, F.lit(0)), 3)
    score = F.round(
        F.least(n_toks / F.lit(64.0), F.lit(1.0)) * 0.5
        + (1 - F.coalesce(sym_ratio, F.lit(0.0))) * 0.3
        + F.least(F.coalesce(stop_ratio, F.lit(0.0)) * 4, F.lit(1.0)) * 0.2,
        3,
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_toks,
        "n_stopwords": n_stop,
        "avg_token_len": avg_len,
        "stopword_ratio": stop_ratio,
        "symbol_ratio": sym_ratio,
        "quality_score": score,
    }


def normalize_text(text: Column) -> Column:
    """Canonical text normalization for dedup/matching: lowercase,
    strip everything outside [a-z0-9 ], collapse whitespace runs, trim.
    Pure codegen expressions; the DuckDB oracle mirrors it (remember
    the 'g' flag — DuckDB regexp_replace is first-match by default,
    Spark's is global)."""
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    collapsed = F.regexp_replace(stripped, " +", " ")
    return F.trim(collapsed)


#: PII-ish patterns masked by ``mask_pii`` (order matters: emails
#: before bare digit runs so the local part isn't half-masked).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\d{6,}", "<NUM>"),
]


def mask_pii(text: Column) -> Column:
    """Mask emails, URLs, and long digit runs — the redaction pass a
    training pipeline runs before tokenization. Chained global
    regexp_replace, all codegen; the DuckDB oracle uses the same
    patterns with the 'g' flag."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


#: HTML entities decoded by ``html_to_text`` (ordered: &amp; last so
#: double-escaped entities don't decode twice).
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_to_text(html: Column, block_newlines: bool = False) -> Column:
    """HTML -> text extraction as pure codegen expressions — the first
    stage of every web-crawl corpus: drop script/style/noscript blocks
    wholesale (their content is never prose), drop comments, replace
    every remaining tag with a space (so '<p>a</p><p>b' keeps a word
    boundary), decode the common entities, collapse whitespace, trim.

    ``block_newlines=True`` keeps BLOCK boundaries as newlines
    (<br>, </p>, </div>, </li>, </h1..6>, </tr>, </blockquote> ->
    '\\n') so the line-level operators (llm/lines.py — C4/RefinedWeb
    line dedup and rules) see the document's real line structure;
    the default collapses to one line, the certified
    ``html_text_extract`` behavior.

    This is the regex tier of HTML cleaning — boilerplate REMOVAL
    (nav/footer link soup) belongs to the quality-scoring stage
    downstream (`quality_metrics`: link-ish density shows up as
    punct/stopword ratios); a DOM-accurate extractor is a library
    swap inside a mapInPandas batch, same plumbing. Patterns are RE2-
    compatible, so the DuckDB oracle runs the identical chain ('g'
    flag on every replace)."""
    out = F.regexp_replace(
        html, r"(?is)<(script|style|noscript)[^>]*>.*?</\1>", " "
    )
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    if block_newlines:
        out = F.regexp_replace(
            out, r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/blockquote)[^>]*>", "\n"
        )
    out = F.regexp_replace(out, r"<[^>]+>", " ")
    for ent, rep in HTML_ENTITIES:
        out = F.regexp_replace(out, ent, rep)
    if block_newlines:
        out = F.regexp_replace(out, r"[^\S\n]+", " ")
        out = F.regexp_replace(out, r" ?\n ?", "\n")
        out = F.regexp_replace(out, r"\n+", "\n")
        # trim() strips spaces only — take the edge newlines too
        return F.regexp_replace(F.trim(out), r"^\n+|\n+$", "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


#: Query parameters stripped by ``canonical_url`` (tracking noise that
#: makes byte-identical pages look distinct).
TRACKING_PARAMS = r"(utm_[a-z]+|gclid|fbclid|msclkid|ref_src)"


def canonical_url(url: Column) -> Column:
    """Canonical URL form for web-corpus dedup/grouping: drop the
    fragment, lowercase scheme+host, drop default ports (:80/:443),
    strip tracking query parameters (``TRACKING_PARAMS``), tidy the
    leftover ?/& punctuation, drop a trailing path slash, and SORT the
    remaining query parameters (?b=2&a=1 == ?a=1&b=2 — parameter order
    is presentation, not identity). Pure codegen expressions; paths
    and meaningful query values keep their case. The tracking strip is
    anchored to a ?/& boundary, so parameter names that merely END in
    a tracked name (xgclid=) and values containing one (q=utm_x%3D1
    decoded) survive untouched. Idempotent by construction
    (property-pinned)."""
    u = F.regexp_replace(url, r"#.*$", "")
    prefix = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)", 1)
    rest = F.substring(u, F.length(prefix) + 1, F.lit(1_000_000))
    prefix = F.lower(prefix)
    prefix = F.regexp_replace(prefix, r":(443|80)$", "")
    # Anchor the tracking-param strip to a ?/& boundary and re-emit
    # the delimiter — an unanchored pattern would mangle parameters
    # whose NAME merely ends in a tracked name ("xgclid=") or whose
    # VALUE contains one ("q=utm_x=1"). The delimiter stays in the
    # output (not consumed by &?) so back-to-back tracking params each
    # still see their own anchor; the leftover ?&/&& runs are tidied
    # below.
    rest = F.regexp_replace(rest, rf"(?i)([?&]){TRACKING_PARAMS}=[^&#]*", "$1")
    rest = F.regexp_replace(rest, r"&&+", "&")
    rest = F.regexp_replace(rest, r"\?&", "?")
    rest = F.regexp_replace(rest, r"[?&]+$", "")
    rest = F.regexp_replace(rest, r"/(\?|$)", "$1")
    path = F.regexp_replace(rest, r"\?.*$", "")
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    sorted_query = F.array_join(
        F.array_sort(F.split(query, "&")), "&"
    )
    rest = F.when(
        query == "", path
    ).otherwise(F.concat(path, F.lit("?"), sorted_query))
    return F.concat(prefix, rest)


def doc_fingerprint(text: Column, window: int = 16) -> Column:
    """Rolling-window document fingerprint: min portable hash over all
    ``window``-char substrings (winnowing global minimum). Near-identical
    docs collide; a fingerprint equi-join finds candidate dup groups
    with a plain shuffle — no pairwise comparison.

    Column form for composability; prefer ``fingerprint_table`` for
    whole-table runs (relational plan, codegen'd md5 instead of
    per-element interpreted lambdas)."""
    shingles = F.transform(
        F.sequence(F.lit(1), F.length(text) - (window - 1)),
        lambda i: F.substring(text, i, window),
    )
    hashed = F.transform(shingles, portable_hash48)
    return F.when(F.length(text) >= window, F.array_min(hashed)).otherwise(
        portable_hash48(text)
    )


def window_hashes(
    df: DataFrame,
    text_col: str = "text",
    window: int = 16,
    with_pos: bool = False,
) -> DataFrame:
    """(doc_id, h) — or (doc_id, i, h) with ``with_pos`` — the 48-bit
    hash of EVERY ``window``-char sliding substring, one row per
    offset: the shared substrate of the min-hash fingerprint (below),
    mod-p overlap selection, and winnowing (llm/overlap.py, which
    needs the positions). Docs shorter than ``window`` produce no
    rows. All relational: explode offsets, substring, md5 —
    whole-stage codegen end to end."""
    c = F.col(text_col)
    exploded = df.filter(F.length(c) >= window).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length(c) - (window - 1))).alias("i"),
        c.alias("_t"),
    )
    h = portable_hash48(F.substring(F.col("_t"), F.col("i"), window)).alias("h")
    if with_pos:
        return exploded.select("doc_id", "i", h)
    return exploded.select("doc_id", h)


def fingerprint_table(
    df: DataFrame, text_col: str = "text", window: int = 16
) -> DataFrame:
    """(doc_id, fingerprint) for a whole table: min window-hash per doc
    in one partial-aggregating groupBy. Same values as
    ``doc_fingerprint``; ~2x faster because md5 is not evaluated by the
    interpreted HOF path."""
    c = F.col(text_col)
    long_docs = (
        window_hashes(df, text_col, window)
        .groupBy("doc_id")
        .agg(F.min("h").alias("fingerprint"))
    )
    # NULL text rides the short branch (NULL length fails BOTH length
    # predicates, which would silently drop the doc): it keeps its row
    # with a NULL fingerprint, exactly like doc_fingerprint.
    short_docs = df.filter((F.length(c) < window) | c.isNull()).select(
        "doc_id", portable_hash48(c).alias("fingerprint")
    )
    return long_docs.unionByName(short_docs)


def repetition_table(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 3,
) -> DataFrame:
    """Gopher-style (Rae et al. 2021, table A1) repetition signals per
    document, the standard excessive-repetition filter for web-crawl
    training corpora. Complements ``decontam.repetition_stats`` (a
    distinct/total gram ratio): these are the CHAR-COVERAGE metrics —
    how much of the text the repetition actually occupies:

    - ``top{top_n}_char_frac``: characters covered by the single most
      frequent word ``top_n``-gram (count x space-joined gram length,
      over the text's char length). Ties break (count desc, gram asc)
      identically on both engines.
    - ``dup{dup_n}_char_frac``: characters covered by ALL occurrences
      of ``dup_n``-grams that appear more than once. Overlapping
      occurrences are each counted in full (documented simplification
      of Gopher's span union — same monotone signal, exactly
      SQL-expressible), so the fraction can exceed 1 on degenerate
      repetition, which is precisely when the filter should fire.

    Plan: one projection builds both positional gram arrays, a single
    explode tags each occurrence with its n, then two hash aggregations
    keyed on the doc — partial aggregation does the per-partition
    combine, no joins, no windows, nothing corpus-sized on the driver.
    Docs with fewer than ``top_n`` words have no gram stream and drop
    out (the oracle applies the same guard).
    """
    c = F.col(text_col)
    tag = lambda arr, n: F.transform(  # noqa: E731
        arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))
    )
    base = df.select(
        "doc_id",
        F.length(c).cast("long").alias("n_chars"),
        F.explode(
            F.concat(
                tag(positional_ngrams(c, top_n, sep=" "), top_n),
                tag(positional_ngrams(c, dup_n, sep=" "), dup_n),
            )
        ).alias("s"),
    ).select("doc_id", "n_chars", "s.n", "s.gram")
    counts = base.groupBy("doc_id", "n_chars", "n", "gram").agg(
        F.count("*").alias("c")
    )
    agg = counts.groupBy("doc_id", "n_chars").agg(
        F.min(
            F.when(
                F.col("n") == top_n,
                F.struct((-F.col("c")).alias("negc"), F.col("gram").alias("gram")),
            )
        ).alias("top"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("n") == dup_n) & (F.col("c") >= 2),
                    F.col("c") * F.length("gram"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("dup_chars"),
    )
    return agg.select(
        "doc_id",
        F.col("top.gram").alias(f"top{top_n}_gram"),
        (-F.col("top.negc")).cast("long").alias(f"top{top_n}_count"),
        F.round(
            (-F.col("top.negc")) * F.length("top.gram") / F.col("n_chars"), 4
        ).alias(f"top{top_n}_char_frac"),
        F.round(F.col("dup_chars") / F.col("n_chars"), 4).alias(
            f"dup{dup_n}_char_frac"
        ),
    )


def vocab_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, doc_freq, term_freq, idf): corpus vocabulary table — the
    input to tokenizer training / tf-idf weighting. One explode, one
    partial-aggregated groupBy keyed on the token; the scalar corpus
    size joins in as a broadcast literal, so shuffle volume is the
    vocabulary, not the corpus.
    """
    n_docs = df.select(F.countDistinct("doc_id").alias("n")).alias("nd")
    tok = df.select("doc_id", F.explode(tokens(F.col(text_col))).alias("token"))
    stats = tok.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("doc_freq"),
        F.count(F.lit(1)).cast("long").alias("term_freq"),
    )
    return stats.crossJoin(F.broadcast(n_docs)).select(
        "token",
        "doc_freq",
        "term_freq",
        F.round(F.log(F.col("n") / F.col("doc_freq")), 4).alias("idf"),
    )


def bigram_pmi_table(
    df: DataFrame, text_col: str = "text", min_count: int = 10
) -> DataFrame:
    """(w1, w2, n_pair, pmi): adjacent-bigram pointwise mutual
    information — the collocation table behind tokenizer-merge seeding
    and phrase mining. pmi = ln( p(w1,w2) / (p(w1) p(w2)) ) with
    bigram and unigram probabilities over their own totals.

    Plan: the bigram stream is a 2-way zip of shifted token-array
    slices exploded in place (the r12 ``dedup._posting`` rewrite: no
    per-doc window, no shuffle, no sort — each slice has exactly
    size-1 elements so the zip never null-pads and the emitted pairs
    are byte-identical to the earlier posexplode + lead form); counts
    are map-side-combined groupBys keyed on words; the two scalar
    totals ride in as a broadcast single row.  Shuffle volume is
    vocabulary-sized, never corpus-sized."""
    words = df.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("w1")
    )
    length = F.greatest(F.lit(0), F.size("t") - 1)
    bigrams = (
        df.select("doc_id", tokens(F.col(text_col)).alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("t"), 1, length),
                    F.slice(F.col("t"), 2, length),
                )
            ).alias("g"),
        )
        .select(
            "doc_id",
            F.col("g")["0"].alias("w1"),
            F.col("g")["1"].alias("w2"),
        )
    )
    # No persist here on purpose: the repeated consumers (ua/ub, the
    # totals row) are IDENTICAL aggregate subtrees modulo aliases, so
    # Spark's ReuseExchange deduplicates them in the physical plan —
    # measured: adding persist() cost ~0.6 s of cache-write overhead
    # at sf0.1 for zero recompute saved (unlike the self-joins through
    # a BroadcastExchange in dedup.py, where reuse cannot fire).
    bc = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )
    uc = words.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("n_w"))
    totals = (
        bc.agg(F.sum("n_pair").cast("double").alias("n_bi"))
        .crossJoin(uc.agg(F.sum("n_w").alias("n_uni")))
    )
    ua = uc.select(F.col("w1"), F.col("n_w").alias("n_a"))
    ub = uc.select(F.col("w1").alias("w2"), F.col("n_w").alias("n_b"))
    return (
        bc.filter(F.col("n_pair") >= min_count)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pair",
            # `+ 0.0` after the round: a tiny negative PMI rounds to
            # -0.0, and IEEE `-0.0 + 0.0 = +0.0` normalizes the sign
            # bit so the value hash matches engines that emit +0.0.
            (
                F.round(
                    F.log(
                        (F.col("n_pair") / F.col("n_bi"))
                        / (
                            (F.col("n_a") / F.col("n_uni"))
                            * (F.col("n_b") / F.col("n_uni"))
                        )
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


def vocab_ids(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, id): dense corpus vocabulary ids, rank-ordered by
    (term_freq DESC, token) so frequent tokens get small ids — the
    deterministic assignment a tokenizer build emits. The ranking
    window is global but runs over the VOCABULARY (bounded: ~1M rows
    for a web corpus), not the corpus; at larger vocab sizes the same
    two-level rank trick as llm/packing.py applies."""
    from pyspark.sql import Window

    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    vc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    return vc.select(
        "token", F.row_number().over(w).cast("long").alias("id")
    )


def encode_with_vocab(
    df: DataFrame,
    vocab: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, ids): each document as its token-id sequence (comma
    string — the portable render of an id array) — the encode step
    between curation and packing. Plan: posexplode positions -> one
    broadcast join against the vocab (dim-sized by definition) ->
    per-doc reassembly via sort_array over (pos, id) structs, which is
    deterministic where a bare collect_list order is not."""
    vocab = vocab if vocab is not None else vocab_ids(df, text_col)
    pe = df.select(
        "doc_id", F.posexplode(tokens(F.col(text_col))).alias("pos", "token")
    )
    joined = pe.join(F.broadcast(vocab), "token")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("pos", "id")).alias("_pi"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sort_array(F.col("_pi")), lambda x: x["id"].cast("string")
                ),
                ",",
            ).alias("ids"),
        )
    )


def chunk_documents(
    df,
    chunk_size: int = 16,
    stride: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Sliding-window chunking with overlap (``chunk_size - stride``
    tokens shared between consecutive chunks) — the context-window
    preparation step for training and retrieval corpora.

    Chunk i covers tokens [i*stride, i*stride + chunk_size); the last
    window starts at the smallest multiple of stride that reaches the
    end, so every token lands in >= 1 chunk and no chunk is fully
    contained in its predecessor. Entirely narrow operations (split /
    sequence / explode / slice) — no shuffle, embarrassingly parallel,
    output size a fixed ~(1/stride) multiple of the token count. The
    100 TB form is this exact plan."""
    n = F.size(F.col("w"))
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.floor((n - chunk_size + stride - 1) / F.lit(stride)).cast("long") + 1
    )
    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("w"))
        .filter(F.size("w") > 0)
        .withColumn("chunk_id", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)))
    )
    chunk = F.slice(F.col("w"), F.col("chunk_id") * stride + 1, chunk_size)
    return base.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
