"""The benchmark's workloads: what one user does, in a closed loop.

``etl_daily``  first load (backfill) of a multi-year export into an
               empty warehouse, then a daily increment.
``dashboard``  the export loaded in set-up, then a seeded mix of
               dashboard calls, each checked against DuckDB.

Every op's output is checked; a failed check counts as a failed op.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb

from etlbench import fakeapi
from etlbench.gen import Generator, Truth
from etlbench.oracle import Oracle, as_rows

# Puts the backfill's track set (~1.2k URIs) on the executor-side
# rest_enrichment scan; its artists (~0.7k), episodes and shows and every
# daily set (~150 URIs) stay on the driver loop.
ETL_COLLECT_MAX = 1000
INCREMENTS = 1
WARMUP_ROUNDS = (2, 4)  # min, max dashboard warm-up rounds
MEASURED_ROUNDS = 8
QUERY_VARIANTS = 4  # filtered calls per dashboard panel


@dataclass
class Ctx:
    spark: object
    seed: int
    run_dir: str
    session_s: float
    tracer: object | None = None


@dataclass
class Outcome:
    """What a workload measured and checked."""

    setup_s: float = 0.0
    samples: dict[str, list[float]] = field(default_factory=dict)
    values: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    # traced runs only
    known_uris: dict[str, set] = field(default_factory=dict)
    measured_ops: set[str] = field(default_factory=set)

    def check(self, op: str, problems: list[str]) -> None:
        """Count one attempted op; any problem fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(f"{op}: {p}" for p in problems)

    def sample(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)


def _timed(ctx: Ctx, op: str, fn):
    """Run ``fn`` as op ``op``; returns (result, wall seconds)."""
    span = ctx.tracer.span(op, "op", op=op) if ctx.tracer else nullcontext()
    with span:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def _write(path: str, body: bytes) -> None:
    """Land a file atomically: write aside, then rename into place."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
    with open(tmp, "wb") as f:
        f.write(body)
    os.rename(tmp, path)


def _bytes_under(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


def _count(path: str) -> int:
    """Rows of the parquet table at ``path`` (0 when it does not exist)."""
    if not os.path.isdir(path):
        return 0
    with duckdb.connect() as con:
        return con.execute(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]


def check_run(res, exp, warehouse: str) -> list[str]:
    """Compare one ``pipeline.run`` result and the warehouse it left
    with the generator's truth."""
    problems = []
    if res.n_history_rows != exp.n_history_rows:
        problems.append(f"history rows {res.n_history_rows} != {exp.n_history_rows}")
    if res.n_fact_rows != exp.n_fact_rows:
        problems.append(f"fact rows appended {res.n_fact_rows} != {exp.n_fact_rows}")
    dead = Counter((entity, reason) for _uri, entity, reason in res.dead_letters)
    if dead != exp.dead_letters:
        problems.append(f"dead letters {dict(dead)} != {dict(exp.dead_letters)}")
    for dim, want in exp.dim_rows.items():
        got = _count(f"{warehouse}/dim_{dim}")
        if got != want:
            problems.append(f"dim_{dim} rows {got} != {want}")
    return problems


def check_years(warehouse: str, truth: Truth) -> list[str]:
    """Per-year seconds played over both fact tables."""
    with duckdb.connect() as con:
        got = dict(con.execute(
            "SELECT date_fk // 10000, sum(sec_played) FROM ("
            f"SELECT date_fk, sec_played FROM read_parquet('{warehouse}/fact_tracks/**/*.parquet')"
            " UNION ALL SELECT date_fk, sec_played FROM "
            f"read_parquet('{warehouse}/fact_podcasts/**/*.parquet')) GROUP BY 1").fetchall())
    want = {y: s for y, s in truth.sec_by_year.items() if s}
    return [] if got == want else [f"sec_played by year {got} != {want}"]


def _known(truth: Truth) -> set:
    return truth.tracks | truth.artists | truth.episodes | truth.shows


def _load(ctx: Ctx, out: Outcome, op: str, files, truth: Truth, raw: str, wh: str,
          **kw):
    """Drop ``files`` into ``raw``, run the pipeline as op ``op``, check it."""
    from spotify_streaming_etl_pipeline_spark import pipeline

    for name, body in files:
        _write(os.path.join(raw, name), body)
    if ctx.tracer:
        out.known_uris[op] = _known(truth)
    res, secs = _timed(ctx, op, lambda: pipeline.run(
        ctx.spark, raw, wh, fetchers=fakeapi.FETCHERS, **kw))
    out.check(op, check_run(res, truth.load([b for _, b in files]), wh))
    return res, secs


def etl_daily(ctx: Ctx, out: Outcome) -> None:
    gen, truth = Generator(ctx.seed), Truth()
    raw, wh = os.path.join(ctx.run_dir, "raw"), os.path.join(ctx.run_dir, "warehouse")
    os.makedirs(raw)
    export = gen.backfill()
    out.setup_s = ctx.session_s
    out.measured_ops.add("backfill")
    _, secs = _load(ctx, out, "backfill", export, truth, raw, wh,
                    enrich_collect_max=ETL_COLLECT_MAX)
    out.sample("backfill_s", secs)
    for day in range(INCREMENTS):
        op = f"increment{day}"
        out.measured_ops.add(op)
        _, secs = _load(ctx, out, op, [gen.daily(day)], truth, raw, wh,
                        enrich_collect_max=ETL_COLLECT_MAX)
        out.sample("increment_s", secs)
    # One no-op rerun, traced runs only: its ~15 s does not fit the untraced
    # runs' budget, and one sample of it is too unsteady to gate on.
    if ctx.tracer:
        _load(ctx, out, "noop", [], truth, raw, wh, enrich_collect_max=ETL_COLLECT_MAX)
    out.values["warehouse_bytes_per_play"] = _bytes_under(wh) / truth.plays
    out.check("years", check_years(wh, truth))


# -- dashboard ------------------------------------------------------------------


def _query_pool(oracle: Oracle, rng: random.Random) -> dict[str, list]:
    """Per query kind, ``QUERY_VARIANTS`` calls with filters drawn from
    values present in the warehouse."""
    periods = oracle.periods()
    years = sorted({y for y, _ in periods})
    albums = oracle.top_album_pairs(40)

    def pick(seq):
        return seq[rng.randrange(len(seq))]

    return {
        "track_year": [("chart", "track", pick(years), None) for _ in range(QUERY_VARIANTS)],
        "track_month": [("chart", "track", *pick(periods)) for _ in range(QUERY_VARIANTS)],
        "album_all": [("chart", "album", None, None)],
        "album_year": [("chart", "album", pick(years), None) for _ in range(QUERY_VARIANTS)],
        "artist_month": [("chart", "artist", *pick(periods)) for _ in range(QUERY_VARIANTS)],
        "artist_all": [("chart", "artist", None, None)],
        "agg_year": [("agg", "year")],
        "agg_month": [("agg", "month")],
        "agg_all_time": [("agg", "all_time")],
        "album_stats": [("album_stats", *pick(albums)) for _ in range(QUERY_VARIANTS)],
    }


def _expected(oracle: Oracle, q: tuple) -> list[tuple]:
    if q[0] == "chart":
        return oracle.chart(q[1], q[2], q[3])
    if q[0] == "agg":
        return oracle.aggregated(q[1])
    return oracle.album_stats(q[1], q[2])


def _call(res, q: tuple):
    from spotify_streaming_etl_pipeline_spark.plans import marts

    fact, dim_track, dim_artist = res.facts["tracks"], res.dims["track"], res.dims["artist"]
    if q[0] == "chart":
        return marts.get_chart_data(q[1], fact, dim_track, dim_artist, year=q[2], month=q[3])
    if q[0] == "agg":
        return marts.get_aggregated_data(q[1], fact)
    return marts.album_stats(fact, dim_track, q[1], q[2]).toPandas()


def dashboard(ctx: Ctx, out: Outcome) -> None:
    gen, truth = Generator(ctx.seed), Truth()
    raw, wh = os.path.join(ctx.run_dir, "raw"), os.path.join(ctx.run_dir, "warehouse")
    os.makedirs(raw)
    export = gen.backfill()
    res, secs = _load(ctx, out, "backfill", export, truth, raw, wh)
    out.sample("backfill_s", secs)
    out.values["warehouse_bytes_per_play"] = _bytes_under(wh) / truth.plays
    setup = ctx.session_s + secs

    rng = random.Random(ctx.seed)
    oracle = Oracle(wh)
    try:
        pool = _query_pool(oracle, rng)
        expected = {q: _expected(oracle, q) for qs in pool.values() for q in qs}
    finally:
        oracle.close()

    def one_round(tag: str, n_round: int, record: bool) -> list[float]:
        kinds = sorted(pool)
        rng.shuffle(kinds)
        lat = []
        for kind in kinds:
            q = pool[kind][rng.randrange(len(pool[kind]))]
            op = f"{tag}{n_round}:{kind}"
            pdf, secs = _timed(ctx, f"query:{op}" if record else op, lambda: _call(res, q))
            lat.append(secs)
            if record:
                out.measured_ops.add(f"query:{op}")
                got, want = as_rows(pdf), expected[q]
                out.check(op, [] if got == want else [f"{q}: {got[:3]} != {want[:3]}"])
                out.sample("query_s", secs)
        return lat

    # Warm-up until the per-round median stops falling (set-up time).
    t0, prev = time.perf_counter(), None
    for n in range(WARMUP_ROUNDS[1]):
        med = statistics.median(one_round("warmup", n, record=False))
        if n + 1 >= WARMUP_ROUNDS[0] and prev is not None and med > 0.97 * prev:
            break
        prev = med
    out.setup_s = setup + time.perf_counter() - t0

    # MEASURED_ROUNDS whole rounds (every panel once), so every run's
    # sample has the same make-up.
    for n in range(MEASURED_ROUNDS):
        one_round("round", n, record=True)


WORKLOADS = {"etl_daily": etl_daily, "dashboard": dashboard}
