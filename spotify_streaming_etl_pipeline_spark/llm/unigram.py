"""Unigram-LM (SentencePiece-style) tokenizer training — the
Kudo 2018 family beside BPE (llm/bpe.py), Spark-first.

The real structure of unigram training, hard-EM (Viterbi-EM) variant:

1. ONE corpus pass collapses text to the word-frequency table — the
   same reason BPE scales: every later step iterates the VOCABULARY
   (distinct words), not the corpus.
2. Seed vocabulary: every word substring up to ``max_piece_len``
   chars, count-weighted (``seed_vocab``); single characters are
   always reachable so Viterbi never dead-ends.
3. Piece scores: cost(piece) = round(scale * ln(T / cnt)) as an
   INTEGER (``piece_costs``) — the quantized-weights discipline the
   classifier family uses (llm/classify.py), so the DP below is
   exact integer arithmetic and cross-engine reproducible; float
   enters only through one ln per piece.
4. E-step (``viterbi_segment``): per distinct word, the min-cost
   segmentation under the unigram model — a NATIVE-expression DP, no
   Python UDFs: candidate edges come from one broadcast join of word
   substrings against the piece table, collapse to a per-word array,
   and one ``F.aggregate`` fold computes best[i] = min over edges
   ending at i of best[start] + cost (ties: lexicographic struct
   min on (cost, start, len) — deterministic).  A second fold walks
   the backpointers to emit the piece sequence.
5. M-step (``hard_em_round``): re-count pieces from the Viterbi
   segmentations (count-weighted); pieces with zero usage drop out —
   the pruning that shrinks the seed vocabulary toward the real
   tokenizer, exactly SentencePiece's prune phase in hard-EM form.
6. ``unigram_train`` composes seed -> (costs -> segment -> recount)
   x rounds with per-round ``localCheckpoint`` (the lineage
   discipline of ``bpe_train``); ``unigram_encode`` is the serving
   half: segment the distinct words of a corpus once, then reassemble
   per document.

Scale posture: every aggregation is vocabulary-sized after the first
corpus collapse; the piece table broadcasts (bounded by
``max_piece_len`` x corpus alphabet growth and shrinking each round);
per-word DP state is O(|word| * max_piece_len) inside one row.  No
shuffle ever carries corpus text beyond the initial word count.

Reference parity note: the reference pipeline has no tokenizer
surface (BASELINE.md); this module is part of the additive
LLM-curation family, sharing conventions with llm/bpe.py (word_freq)
and llm/classify.py (integer-quantized scores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import word_freq

def seed_vocab(
    docs: DataFrame,
    max_piece_len: int = 2,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """(piece, cnt): count-weighted occurrences of every word
    substring up to ``max_piece_len`` chars.  Single characters are
    exempt from ``min_count`` so segmentation always has a fallback
    path (SentencePiece's required-character rule)."""
    wf = word_freq(docs, text_col)
    pieces = (
        wf.select(
            "cnt",
            "word",
            F.explode(
                F.sequence(F.lit(1), F.least(F.length("word"), F.lit(max_piece_len)))
            ).alias("l"),
        )
        .select(
            "cnt",
            "word",
            "l",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - F.col("l") + 1)
            ).alias("i"),
        )
        .select(
            F.substring(F.col("word"), F.col("i"), F.col("l")).alias("piece"),
            "cnt",
        )
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return pieces.filter(
        (F.length("piece") == 1) | (F.col("cnt") >= min_count)
    )


def piece_costs(vocab: DataFrame, scale: int = 1000) -> DataFrame:
    """(piece, cnt, cost): integer-quantized unigram cost
    round(scale * ln(T / cnt)), T the vocabulary's total count.  The
    1-row total attaches by broadcast crossJoin (the repo's standard
    scalar-aggregate attach); all downstream DP is exact integer
    arithmetic on ``cost``."""
    total = vocab.agg(F.sum("cnt").cast("double").alias("_t"))
    return vocab.crossJoin(F.broadcast(total)).select(
        "piece",
        "cnt",
        F.round(F.lit(float(scale)) * F.log(F.col("_t") / F.col("cnt")))
        .cast("long")
        .alias("cost"),
    )


def _segment_words(
    words: DataFrame, costs: DataFrame, max_piece_len: int
) -> DataFrame:
    """(word, pieces array<string>): min-cost segmentation of each
    distinct word under integer piece costs.  Edges from a broadcast
    join; DP and backpointer walk are two native folds."""
    cand = (
        words.select("word")
        .distinct()
        .select(
            "word",
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.length("word"), F.lit(max_piece_len))
                )
            ).alias("l"),
        )
        .select(
            "word",
            "l",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - F.col("l") + 1)
            ).alias("i"),
        )
        .select(
            "word",
            F.substring(F.col("word"), F.col("i"), F.col("l")).alias("piece"),
            (F.col("i") - 1).alias("start0"),
            (F.col("i") + F.col("l") - 1).alias("end"),
        )
    )
    edges = (
        cand.join(F.broadcast(costs.select("piece", "cost")), "piece")
        .groupBy("word")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("end").cast("int").alias("end"),
                    F.col("start0").cast("int").alias("start0"),
                    F.col("cost").alias("cost"),
                    F.length("piece").cast("int").alias("plen"),
                )
            ).alias("edges")
        )
    )
    n = F.length("word")
    big = F.lit(1 << 60).cast("long")
    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("cost"),
            F.lit(-1).cast("int").alias("bstart"),
            F.lit(0).cast("int").alias("plen"),
        )
    )
    # best[i] = min over edges ending at i of best[start] + edge cost;
    # struct min (cost, bstart, plen) makes ties deterministic
    dp = F.aggregate(
        F.sequence(F.lit(1), n),
        init,
        lambda acc, i: F.concat(
            acc,
            F.array(
                F.coalesce(
                    F.array_min(
                        F.transform(
                            F.filter(F.col("edges"), lambda e: e["end"] == i),
                            lambda e: F.struct(
                                (
                                    F.element_at(acc, e["start0"] + 1)["cost"]
                                    + e["cost"]
                                ).alias("cost"),
                                e["start0"].alias("bstart"),
                                e["plen"].alias("plen"),
                            ),
                        )
                    ),
                    F.struct(
                        big.alias("cost"),
                        F.lit(-1).cast("int").alias("bstart"),
                        F.lit(0).cast("int").alias("plen"),
                    ),
                )
            ),
        ),
    )
    with_dp = edges.withColumn("dp", dp)
    # walk backpointers from position n; each step prepends one piece
    # (at most n steps; no-op once pos reaches 0)
    walk = F.aggregate(
        F.sequence(F.lit(1), n),
        F.struct(
            n.cast("int").alias("pos"),
            F.array().cast("array<string>").alias("toks"),
        ),
        lambda st, _: F.when(
            st["pos"] > 0,
            F.struct(
                F.element_at(F.col("dp"), st["pos"] + 1)["bstart"].alias(
                    "pos"
                ),
                F.concat(
                    F.array(
                        F.substring(
                            F.col("word"),
                            F.element_at(F.col("dp"), st["pos"] + 1)["bstart"]
                            + 1,
                            F.element_at(F.col("dp"), st["pos"] + 1)["plen"],
                        )
                    ),
                    st["toks"],
                ).alias("toks"),
            ),
        ).otherwise(st),
    )
    # a word with a character no piece covers dead-ends (pos never
    # reaches 0): NULL pieces, the dead-letter convention — encode
    # keeps the word as one NULL token instead of silently dropping
    return with_dp.withColumn("_w", walk).select(
        "word",
        F.when(F.col("_w")["pos"] == 0, F.col("_w")["toks"]).alias(
            "pieces"
        ),
    )


def hard_em_round(
    wf: DataFrame, costs: DataFrame, max_piece_len: int
) -> DataFrame:
    """One Viterbi-EM round: segment every distinct word under the
    current costs, re-count pieces weighted by word frequency.
    Pieces no segmentation uses vanish — SentencePiece's pruning in
    hard-EM form."""
    seg = _segment_words(wf.select("word"), costs, max_piece_len)
    return (
        wf.join(seg, "word")
        .select("cnt", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def unigram_train(
    docs: DataFrame,
    rounds: int = 1,
    max_piece_len: int = 2,
    min_count: int = 1,
    text_col: str = "text",
    scale: int = 1000,
) -> DataFrame:
    """Learn a unigram-LM piece vocabulary: seed from substring
    counts, then ``rounds`` of cost-requantize -> Viterbi-segment ->
    re-count.  Returns (piece, cnt), the trained piece table (feed it
    to ``piece_costs`` + ``unigram_encode`` for serving).  Per-round
    ``localCheckpoint`` truncates lineage exactly like bpe_train."""
    wf = word_freq(docs, text_col).localCheckpoint(eager=False)
    vocab = seed_vocab(docs, max_piece_len, min_count, text_col)
    for _ in range(rounds):
        costs = piece_costs(vocab, scale)
        # Lazy: the consumer's first action (or the next round's cost
        # derivation) materializes it — lineage truncates there all
        # the same, without one eager job per round.
        vocab = hard_em_round(wf, costs, max_piece_len).localCheckpoint(
            eager=False
        )
    return vocab


def unigram_encode(
    docs: DataFrame,
    costs: DataFrame,
    max_piece_len: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, tokens array<string>): Viterbi-tokenize a corpus with
    a trained piece-cost table — the serving half.  Distinct words
    segment ONCE (vocabulary-sized DP, broadcast piece table); the
    corpus-sized work is one join back to (doc, position) and the
    per-doc reassembly, the ``encode_with_merges`` shape."""
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    ).filter(F.col("word") != "")
    seg = _segment_words(words.select("word"), costs, max_piece_len)
    # LEFT join: a word with no matching piece at all has no seg row
    # (its edge list is empty) — it must still surface as NULL
    return (
        words.join(seg, "word", "left")
        .select(
            "doc_id",
            "pos",
            F.posexplode_outer("pieces").alias("i", "tok"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "i", "tok"))
            ).alias("st")
        )
        .select(
            "doc_id",
            F.transform(F.col("st"), lambda s: s["tok"]).alias("tokens"),
        )
    )
