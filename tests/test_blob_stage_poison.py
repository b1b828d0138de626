"""The one poison policy, stage by stage: every feature stage that runs
through ``llm/multimodal.py:_blob_stage`` gets one valid blob from its
own synth corpus plus four poison blobs — empty bytes, 64 seeded random
bytes, and two single-byte mutations of real ``synth_jpeg_corpus``
blobs (doc 3 byte 85 -> 0x00 names an undefined Huffman table; doc 5
byte 112 -> 0x7f overflows the DC predictor).  Each stage must keep one
row per input, NULL every feature column of a poison row, and give the
valid row the values it gets when decoded alone.  The many-row stages
(``_blob_rows``: ``video_fingerprint``, ``warc_record_table``,
``pdf_record_table``) must give the valid blob exactly the rows it
gives alone and a poison blob no row at all.

All nineteen stages, each fed by its own corpus, run as ONE Spark job:
each stage's output is folded to ``(stage, doc_id, to_json(features))``
and the branches unioned (``to_json`` drops NULL fields, so an all-NULL
row reads ``{}``)."""

from __future__ import annotations

import random
from collections import Counter
from functools import reduce

import pandas as pd
from pyspark.sql import functions as F

from spotify_streaming_etl_pipeline_spark.llm import multimodal as mm
from spotify_streaming_etl_pipeline_spark.llm import warc

#: stage name -> (stage, the synth corpus its valid blob comes from)
STAGES = {
    "resize_blobs": (mm.resize_blobs, mm.synth_gradient_png_corpus),
    "png_features": (mm.png_features, mm.synth_png_corpus),
    "jpeg_features": (mm.jpeg_features, mm.synth_jpeg_corpus),
    "wav_features": (mm.wav_features, mm.synth_wav_corpus),
    "bmp_features": (mm.bmp_features, mm.synth_bmp_corpus),
    "gif_features": (mm.gif_features, mm.synth_gif_corpus),
    "pdf_text_features": (mm.pdf_text_features, mm.synth_pdf_corpus),
    "webp_features": (mm.webp_features, mm.synth_webp_corpus),
    "flac_features": (mm.flac_features, mm.synth_flac_corpus),
    "mp3_features": (mm.mp3_features, mm.synth_mp3_corpus),
    "ogg_features": (mm.ogg_features, mm.synth_ogg_corpus),
    "aac_features": (mm.aac_features, mm.synth_aac_corpus),
    "mp3_audio_features": (mm.mp3_audio_features, mm.synth_mp3_l3_corpus),
    "video_frame_features": (mm.video_frame_features, mm.synth_video_corpus),
    "image_ahash": (mm.image_ahash, mm.synth_pattern_png_corpus),
    "audio_fingerprint": (mm.audio_fingerprint, mm.synth_tone_audio_corpus),
}

#: many-row stages (one output row per frame / archive record)
ROW_STAGES = {
    "video_fingerprint": (mm.video_fingerprint, mm.synth_video_corpus),
    "warc_record_table": (
        warc.warc_record_table,
        lambda d: warc.attach_warc_blob(d.withColumn("text", F.lit("t"))),
    ),
    "pdf_record_table": (warc.pdf_record_table, warc.attach_mixed_warc_blob),
}

VALID_DOC = 1


def _frame(spark, **cols):
    # from pandas, not a row list: a row list goes through a Python RDD
    # and costs every branch below an extra Python worker round trip
    schema = "doc_id long, blob binary" if "blob" in cols else "doc_id long"
    return spark.createDataFrame(pd.DataFrame(cols), schema)


def _poison_blobs(spark) -> list[bytes]:
    docs = _frame(spark, doc_id=[3, 5])
    jpegs = {
        r["doc_id"]: bytearray(r["blob"])
        for r in mm.synth_jpeg_corpus(docs).collect()
    }
    jpegs[3][85] = 0x00
    jpegs[5][112] = 0x7F
    rng = random.Random(64)
    return [
        b"",
        bytes(rng.randrange(256) for _ in range(64)),
        bytes(jpegs[3]),
        bytes(jpegs[5]),
    ]


def test_every_blob_stage_dead_letters_poison(spark):
    docs = _frame(spark, doc_id=[VALID_DOC])
    poison = _poison_blobs(spark)
    poison_ids = [11 + k for k in range(len(poison))]
    poison_frame = _frame(spark, doc_id=poison_ids, blob=poison)

    # Two Arrow batches per stage, both fed by the stage's own corpus:
    # doc 0 is the valid blob alone, doc 10 the same blob in one batch
    # (coalesce(1)) with every poison blob.
    branches = []
    for name, (stage, synth) in {**STAGES, **ROW_STAGES}.items():
        corpus = synth(docs)
        alone = corpus.select(F.lit(0).cast("long").alias("doc_id"), "blob")
        mixed = corpus.select(
            F.lit(10).cast("long").alias("doc_id"), "blob"
        ).unionByName(poison_frame).coalesce(1)
        out = stage(alone.unionByName(mixed))
        feats = [c for c in out.columns if c != "doc_id"]
        branches.append(
            out.select(
                F.lit(name).alias("stage"),
                "doc_id",
                F.to_json(F.struct(*feats)).alias("v"),
            )
        )
    got: dict[str, dict[int, list[str]]] = {}
    for r in reduce(lambda a, b: a.unionByName(b), branches).collect():
        got.setdefault(r["stage"], {}).setdefault(r["doc_id"], []).append(
            r["v"]
        )

    for name in STAGES:
        rows = got[name]
        assert sorted(rows) == [0, 10] + poison_ids, name
        assert all(len(v) == 1 for v in rows.values()), name
        assert rows[0] != ["{}"], f"{name} nulls its own corpus"
        assert rows[10] == rows[0], f"{name} valid row moved among poison"
        for k in poison_ids:
            assert rows[k] == ["{}"], (name, k, rows[k])

    for name in ROW_STAGES:
        rows = got[name]
        assert sorted(rows) == [0, 10], (name, sorted(rows))
        assert Counter(rows[10]) == Counter(rows[0]), name
