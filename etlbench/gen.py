"""Seeded, single-process load generator for the listening-ETL benchmark.

It writes what a user would hand the engine: a multi-year streaming-
history export (one JSON array per year) and then one small JSON file
per day.  Track popularity is Zipf-shaped and recency-biased, a share
of each day's plays are first-seen tracks, ~5% of plays are podcast
episodes, and every daily file carries a few late rows: exact copies of
plays already loaded, which predate the warehouse cutoff and must not
load again.

``Truth`` is an independent pure-Python model of what ``pipeline.run``
must do with those files (delta cutoff, dead letters from
``fakeapi.failure``, dim growth, per-year seconds); the benchmark
checks the engine's outputs against it.

The same seed gives byte-identical files: ``self_check`` (run by
``python3 etlbench/run.py --selftest``) checks that.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import json
import random
import string
from collections import Counter
from dataclasses import dataclass, field

from etlbench import fakeapi

MSK = dt.timedelta(hours=3)  # Europe/Moscow has had no DST since 2014
REASONS_START = ["trackdone", "clickrow", "fwdbtn", "backbtn", "playbtn", "appload", "remote"]
REASONS_END = ["trackdone", "endplay", "fwdbtn", "backbtn", "logout", "remote", "unexpected-exit"]
PLATFORMS = ["android", "ios", "web_player", "windows", "osx"]
COUNTRIES = ["RU", "DE", "US", "GB", "FR", "NL"]
_B62 = string.digits + string.ascii_letters


# Input sizes: FIRST_YEAR .. FIRST_YEAR + YEARS - 1 hold BACKFILL_PLAYS
# plays; daily files follow from the next Jan 1.
BACKFILL_PLAYS = 10_000
YEARS = 3
FIRST_YEAR = 2021
BACKFILL_NEW_SHARE = 0.12
DAILY_PLAYS = 150
DAILY_NEW_SHARE = 0.10
LATE_ROWS = 3
PODCAST_SHARE = 0.05
EPISODE_NEW_SHARE = 0.3
ZIPF_S = 0.8
POOL_MAX = 50_000


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


class Generator:
    """Makes the export and the daily files, in order, from one seed."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.tracks: list[str] = []
        self.episodes: list[str] = []
        self.loaded_track_rows: list[dict] = []
        acc, total = [], 0.0
        for r in range(POOL_MAX):
            w = 1.0 / (r + 1) ** ZIPF_S
            total += w
            acc.append(total)
        self._cum = acc
        self.start = dt.datetime(FIRST_YEAR, 1, 1)
        self.end = dt.datetime(FIRST_YEAR + YEARS, 1, 1)

    def _uri(self, kind: str) -> str:
        n = self.rng.getrandbits(128)
        chars = []
        for _ in range(22):
            n, d = divmod(n, 62)
            chars.append(_B62[d])
        return f"spotify:{kind}:{''.join(chars)}"

    def _pick(self, pool: list[str], new_share: float, kind: str) -> str:
        if not pool or self.rng.random() < new_share:
            pool.append(self._uri(kind))
            return pool[-1]
        # Zipf over recency rank: rank 0 is the latest first-seen item.
        n = min(len(pool), len(self._cum))
        rank = bisect.bisect_left(self._cum, self.rng.random() * self._cum[n - 1])
        return pool[len(pool) - 1 - rank]

    def _row(self, ts: dt.datetime, new_share: float) -> dict:
        rng = self.rng
        row = {
            "ts": _ts(ts),
            "platform": rng.choice(PLATFORMS),
            "ms_played": 0,
            "conn_country": rng.choice(COUNTRIES),
            "ip_addr": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
            "master_metadata_track_name": None,
            "master_metadata_album_artist_name": None,
            "master_metadata_album_album_name": None,
            "spotify_track_uri": None,
            "episode_name": None,
            "episode_show_name": None,
            "spotify_episode_uri": None,
            "reason_start": rng.choice(REASONS_START),
            "reason_end": rng.choice(REASONS_END),
            "shuffle": rng.random() < 0.3,
            "skipped": rng.random() < 0.1,
            "offline": False,
            "offline_timestamp": None,
            "incognito_mode": False,
        }
        if rng.random() < 0.05:
            row["offline"] = True
            row["offline_timestamp"] = int(ts.timestamp()) - rng.randrange(86_400)
        if rng.random() < PODCAST_SHARE:
            uri = self._pick(self.episodes, EPISODE_NEW_SHARE, "episode")
            ep = fakeapi.episode_payload(uri)
            row.update(
                spotify_episode_uri=uri,
                episode_name=f"Episode {uri[-6:]}",
                episode_show_name=ep["show"]["name"],
                ms_played=rng.randrange(1_000, ep["duration_ms"]),
            )
            return row
        uri = self._pick(self.tracks, new_share, "track")
        tr = fakeapi.track_payload(uri)
        dur = tr["duration_ms"]
        row.update(
            spotify_track_uri=uri,
            master_metadata_track_name=tr["name"],
            master_metadata_album_artist_name=tr["artists"][0]["name"],
            master_metadata_album_album_name=tr["album"]["name"],
            ms_played=dur if rng.random() < 0.5 else rng.randrange(500, dur),
        )
        return row

    def _times(self, lo: dt.datetime, hi: dt.datetime, n: int) -> list[dt.datetime]:
        span = int((hi - lo).total_seconds())
        return [lo + dt.timedelta(seconds=s) for s in sorted(self.rng.sample(range(span), n))]

    def backfill(self) -> list[tuple[str, bytes]]:
        """The export: one ``(file name, JSON bytes)`` per year."""
        rows = [self._row(t, BACKFILL_NEW_SHARE)
                for t in self._times(self.start, self.end, BACKFILL_PLAYS)]
        self._remember(rows)
        files = []
        for y in range(FIRST_YEAR, FIRST_YEAR + YEARS):
            year_rows = [r for r in rows if r["ts"].startswith(str(y))]
            files.append((f"Streaming_History_Audio_{y}.json", json.dumps(year_rows).encode()))
        return files

    def daily(self, day: int) -> tuple[str, bytes]:
        """Day ``day`` (0-based) after the export: new plays plus
        ``LATE_ROWS`` copies of plays loaded earlier."""
        lo = self.end + dt.timedelta(days=day)
        rows = [self._row(t, DAILY_NEW_SHARE)
                for t in self._times(lo, lo + dt.timedelta(days=1), DAILY_PLAYS)]
        late = [dict(r) for r in self.rng.sample(self.loaded_track_rows, LATE_ROWS)]
        self._remember(rows)
        body = rows + late
        self.rng.shuffle(body)
        return f"Streaming_History_Audio_{lo:%Y-%m-%d}.json", json.dumps(body).encode()

    def _remember(self, rows: list[dict]) -> None:
        self.loaded_track_rows.extend(r for r in rows if r["spotify_track_uri"])


@dataclass
class Expected:
    """What one ``pipeline.run`` over the raw directory must report."""

    n_history_rows: int
    n_fact_rows: dict[str, int]
    dead_letters: Counter
    dim_rows: dict[str, int]


@dataclass
class Truth:
    """Pure-Python model of the incremental load, fed the same files."""

    cutoff: str = "1900-01-01T00:00:00Z"
    tracks: set = field(default_factory=set)
    artists: set = field(default_factory=set)
    episodes: set = field(default_factory=set)
    shows: set = field(default_factory=set)
    reasons: set = field(default_factory=set)
    sec_by_year: Counter = field(default_factory=Counter)
    plays: int = 0

    def load(self, files: list[bytes]) -> Expected:
        """Apply one run over ``files`` (the newly dropped ones; older
        files hold nothing past the cutoff)."""
        rows = [r for body in files for r in json.loads(body) if r["ts"] > self.cutoff]
        dead: Counter = Counter()
        track_uris = {r["spotify_track_uri"] for r in rows if r["spotify_track_uri"]}
        artist_uris = set()
        for u in track_uris:
            reason = fakeapi.failure(u)
            if reason:
                dead[("track", reason)] += 1
                continue
            self.tracks.add(u)
            artist_uris.update(a["uri"] for a in fakeapi.track_payload(u)["artists"])
        episode_uris = {r["spotify_episode_uri"] for r in rows if r["spotify_episode_uri"]}
        show_uris = set()
        for u in episode_uris:
            reason = fakeapi.failure(u)
            if reason:
                dead[("episode", reason)] += 1
                continue
            self.episodes.add(u)
            show_uris.add(fakeapi.episode_payload(u)["show"]["uri"])
        for entity, uris, known in (("artist", artist_uris, self.artists),
                                    ("podcast", show_uris, self.shows)):
            for u in uris:
                reason = fakeapi.failure(u)
                if reason:
                    dead[(entity, reason)] += 1
                else:
                    known.add(u)
        for r in rows:
            self.reasons.add(("start", r["reason_start"]))
            self.reasons.add(("end", r["reason_end"]))
            msk = dt.datetime.strptime(r["ts"], "%Y-%m-%dT%H:%M:%SZ") + MSK
            self.sec_by_year[msk.year] += r["ms_played"] // 1000
        if rows:
            self.cutoff = max(r["ts"] for r in rows)
        self.plays += len(rows)
        n_tracks = sum(1 for r in rows if r["spotify_track_uri"])
        return Expected(
            n_history_rows=len(rows),
            n_fact_rows={"tracks": n_tracks,
                         "podcasts": sum(1 for r in rows if r["spotify_episode_uri"])},
            dead_letters=dead,
            dim_rows={
                "track": len(self.tracks),
                "artist": len(self.artists),
                "episode": len(self.episodes) + 1,  # + the id-0 sentinel
                "podcast": len(self.shows) + 1,
                "reason": len(self.reasons),
            },
        )


def digest(seed: int) -> str:
    """SHA-256 over the export and three daily files made for ``seed``."""
    g = Generator(seed)
    h = hashlib.sha256()
    for name, body in g.backfill() + [g.daily(d) for d in range(3)]:
        h.update(name.encode())
        h.update(body)
    return h.hexdigest()


def self_check() -> None:
    """Same seed → byte-identical inputs; another seed → other inputs."""
    a, b, c = digest(7), digest(7), digest(8)
    if a != b:
        raise SystemExit(f"generator is not deterministic: {a} != {b}")
    if a == c:
        raise SystemExit("two seeds gave identical inputs")
    print(f"generator self-check ok: seed 7 -> {a[:16]}")

