"""The banded near-dup kernel (llm/dedup.py: ``band_candidates`` +
``hamming_band_pairs``) against a pure-Python brute force over small
planted fingerprint tables: one-word (48-bit) and two-word (128-bit)
fingerprints, thresholds 0/3/4.  With the star guard off the banded
plan must equal every pair within the threshold (pigeonhole recall);
with a cap that fires it must equal the small-bucket pairs plus the
bucket-min star edges, verified."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from spotify_streaming_etl_pipeline_spark.llm import dedup
from spotify_streaming_etl_pipeline_spark.schemas import local_frame

CAP = 4


def _planted(bits: int, seed: int) -> dict[int, int]:
    """id -> unsigned fingerprint: a 6-copy clone group (every band
    bucket of it exceeds CAP), variants 1-5 bits off the clone, a
    second family 2-4 bits off its base, and random strangers."""
    rng = random.Random(seed)

    def flip(fp: int, k: int) -> int:
        for b in rng.sample(range(bits), k):
            fp ^= 1 << b
        return fp

    clone, other = rng.getrandbits(bits), rng.getrandbits(bits)
    fps = [clone] * 6 + [flip(clone, k) for k in (1, 2, 3, 4, 5)]
    fps += [other] + [flip(other, k) for k in (2, 3, 4)]
    fps += [rng.getrandbits(bits) for _ in range(5)]
    return dict(enumerate(fps))


def _frame(spark, fps: dict[int, int], bits: int):
    if bits <= 64:
        schema = StructType(
            [StructField("doc_id", LongType()), StructField("fp", LongType())]
        )
        return local_frame(spark, list(fps.items()), schema)

    def signed(w: int) -> int:
        return w - (1 << 64) if w >> 63 else w

    words = StructType([StructField("w0", LongType()), StructField("w1", LongType())])
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("fp", words)]
    )
    rows = [
        (i, {"w0": signed(fp & (2**64 - 1)), "w1": signed(fp >> 64)})
        for i, fp in fps.items()
    ]
    return local_frame(spark, rows, schema)


def _ham(x: int, y: int) -> int:
    return bin(x ^ y).count("1")


def _guarded_pairs(buckets: dict, cap: int | None) -> set[tuple[int, int]]:
    """Brute-force band join: all pairs inside buckets of size <= cap,
    (bucket-min, member) star edges inside larger ones."""
    out = set()
    for members in buckets.values():
        ids = sorted(members)
        if cap is None or len(ids) <= cap:
            out |= set(itertools.combinations(ids, 2))
        else:
            out |= {(ids[0], m) for m in ids[1:]}
    return out


def _expected(fps: dict[int, int], bits: int, t: int, cap: int | None):
    width, extra = divmod(bits, t + 1)
    buckets: dict = {}
    for i, fp in fps.items():
        for j in range(t + 1):
            w = width + (extra if j == t else 0)
            key = (fp >> (j * width)) & ((1 << w) - 1)
            buckets.setdefault((j, key), []).append(i)
    return {
        (a, b, _ham(fps[a], fps[b]))
        for a, b in _guarded_pairs(buckets, cap)
        if _ham(fps[a], fps[b]) <= t
    }


@pytest.mark.parametrize("bits", [48, 128])
def test_hamming_band_pairs_match_brute_force(spark, bits):
    fps = _planted(bits, seed=bits)
    df = _frame(spark, fps, bits)
    for t in (0, 3, 4):
        if bits // (t + 1) > 64:
            with pytest.raises(ValueError, match="64 bits"):
                dedup.hamming_band_pairs(df, "doc_id", bits, t, None)
            continue
        brute = {
            (a, b, _ham(fps[a], fps[b]))
            for a, b in itertools.combinations(sorted(fps), 2)
            if _ham(fps[a], fps[b]) <= t
        }
        for cap in (None, CAP):
            got = {
                (r.doc_a, r.doc_b, r.hamming)
                for r in dedup.hamming_band_pairs(
                    df, "doc_id", bits, t, cap
                ).collect()
            }
            if cap is None:
                assert got == brute, (bits, t)
            else:
                assert got == _expected(fps, bits, t, cap), (bits, t)
                # the clone group's buckets exceed the cap: star edges
                # to id 0, not all 15 clone pairs
                clones = {(a, b) for a, b, _ in got if b < 6}
                assert clones == {(0, m) for m in range(1, 6)}


def test_band_candidates_match_brute_force(spark):
    # band 0: one 10-member bucket; band 1: a 5-member bucket over the
    # cap and two 3-member buckets under it; band 2: a singleton
    rows = [(i, 0, "hot") for i in range(10)]
    rows += [(i, 1, f"k{i % 3}") for i in range(10)]
    rows += [(10, 1, "k0"), (11, 2, "solo")]
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("band", LongType()),
            StructField("key", StringType()),
        ]
    )
    bands = local_frame(spark, rows, schema)
    buckets: dict = {}
    for i, band, key in rows:
        buckets.setdefault((band, key), []).append(i)
    for cap in (None, CAP):
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup.band_candidates(bands, cap).collect()
        }
        assert got == _guarded_pairs(buckets, cap), cap
