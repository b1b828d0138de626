"""Offline stand-in for the Spotify Web API, importable as "module:attr".

Every envelope is derived from the URI alone (a keyed hash), so the
driver-side loop, the executor-side ``rest_enrichment`` scan and the
load generator's truth computation all see the same answers.  A fixed
share of URIs answers ``null`` and another share raises HTTP 400, so
dead letters occur; nothing sleeps.

Pass the fetchers to ``pipeline.run`` as strings, e.g.
``{"track": "etlbench.fakeapi:fetch_tracks", ...}`` (see ``FETCHERS``);
the repository root must be on ``PYTHONPATH`` of the Python workers.

When ``ETLBENCH_FETCH_LOG`` names a directory (traced runs only), each
process that imports this module also records every call of
``fetch_in_batches`` it makes: see ``_install_fetch_log``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from spotify_streaming_etl_pipeline_spark.sources.enrichment import ApiError

# Per-mille buckets of the URI hash: [0, NULL_PER_MILLE) answer null,
# the next BAD_REQUEST_PER_MILLE raise HTTP 400.
NULL_PER_MILLE = 3
BAD_REQUEST_PER_MILLE = 2
N_ALBUMS = 4000
N_ARTISTS = 1500
N_SHOWS = 60

FETCHERS = {
    "track": "etlbench.fakeapi:fetch_tracks",
    "artist": "etlbench.fakeapi:fetch_artists",
    "episode": "etlbench.fakeapi:fetch_episodes",
    "podcast": "etlbench.fakeapi:fetch_shows",
}


def _h(text: str) -> int:
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def failure(uri: str) -> str | None:
    """The dead-letter reason ``fetch_in_batches`` records for ``uri``,
    or None when the API answers it."""
    bucket = _h("fail:" + uri) % 1000
    if bucket < NULL_PER_MILLE:
        return "API returned null"
    if bucket < NULL_PER_MILLE + BAD_REQUEST_PER_MILLE:
        return "Invalid URI"
    return None


def _release(h: int) -> tuple[str, str]:
    year = 1970 + h % 55
    kind = (h >> 8) % 4
    if kind == 0:
        return str(year), "year"
    if kind == 1:
        return f"{year}-{1 + (h >> 12) % 12:02d}", "month"
    return f"{year}-{1 + (h >> 12) % 12:02d}-{1 + (h >> 16) % 28:02d}", "day"


def artist_uri(n: int) -> str:
    return f"spotify:artist:ar{n:05d}"


def show_uri(n: int) -> str:
    return f"spotify:show:sh{n:03d}"


def track_payload(uri: str) -> dict:
    h = _h(uri)
    album = h % N_ALBUMS
    lead = _h(f"album:{album}") % N_ARTISTS
    artists = [{"name": f"Artist {lead:05d}", "uri": artist_uri(lead)}]
    if (h >> 20) % 5 == 0:  # one track in five has a featured artist
        feat = (h >> 24) % N_ARTISTS
        artists.append({"name": f"Artist {feat:05d}", "uri": artist_uri(feat)})
    date, precision = _release(_h(f"rel:{album}"))
    return {
        "uri": uri,
        "name": f"Track {uri.rsplit(':', 1)[-1]}",
        "duration_ms": 90_000 + (h >> 32) % 300_000,
        "album": {
            "name": f"Album {album:04d}",
            "id": f"al{album:04d}",
            "album_type": ("album", "single", "compilation")[album % 3],
            "release_date": date,
            "release_date_precision": precision,
            "images": [{"url": f"http://img/al{album:04d}"}],
        },
        "artists": artists,
    }


def artist_payload(uri: str) -> dict:
    n = uri.rsplit(":", 1)[-1]
    return {"uri": uri, "name": f"Artist {n[2:]}", "images": [{"url": f"http://img/{n}"}]}


def episode_payload(uri: str) -> dict:
    h = _h(uri)
    date, precision = _release(h >> 16)
    return {
        "uri": uri,
        "duration_ms": 600_000 + h % 3_000_000,
        "release_date": date,
        "release_date_precision": precision,
        "show": {"name": f"Show {h % N_SHOWS:03d}", "uri": show_uri(h % N_SHOWS)},
    }


def show_payload(uri: str) -> dict:
    n = uri.rsplit(":", 1)[-1]
    return {"uri": uri, "name": f"Show {n[2:]}", "description": "offline", "images": []}


def _fetch(key: str, payload, batch: list[str]) -> dict:
    if any(failure(u) == "Invalid URI" for u in batch):
        raise ApiError(400)
    return {key: [None if failure(u) else payload(u) for u in batch]}


def fetch_tracks(batch: list[str]) -> dict:
    return _fetch("tracks", track_payload, batch)


def fetch_artists(batch: list[str]) -> dict:
    return _fetch("artists", artist_payload, batch)


def fetch_episodes(batch: list[str]) -> dict:
    return _fetch("episodes", episode_payload, batch)


def fetch_shows(batch: list[str]) -> dict:
    return _fetch("shows", show_payload, batch)


def _install_fetch_log(log_dir: str) -> None:
    """Wrap ``fetch_in_batches`` where the executor-side scan looks it
    up (``sources.restsource``) so a traced run sees fetch time, URI
    counts and dead letters from inside the Python workers.  Each
    process appends one JSON line per call to its own file."""
    from spotify_streaming_etl_pipeline_spark.sources import restsource

    inner = restsource.fetch_in_batches
    if getattr(inner, "_etlbench_logged", False):
        return
    path = os.path.join(log_dir, f"fetch-{os.getpid()}.jsonl")

    def logged(uris, fetch, entity_type, **kw):
        t0 = time.time()
        out = inner(uris, fetch, entity_type, **kw)
        rec = {"t0": t0, "t1": time.time(), "entity": entity_type,
               "uris": list(uris), "failures": len(out.failures)}
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        return out

    logged._etlbench_logged = True
    restsource.fetch_in_batches = logged


if os.environ.get("ETLBENCH_FETCH_LOG"):
    _install_fetch_log(os.environ["ETLBENCH_FETCH_LOG"])
