"""DuckDB answers for the dashboard calls, over the warehouse parquet.

DuckDB computes the groups with exact integer sums; Python then applies
the marts layer's rounding (half-up, as Spark rounds a double through
its shortest decimal form), ordering and limit.  One rounding is not
decidable from the data alone: ``estimated_streams`` rounds a double
sum of one-decimal percentages, so at an exact ``.5`` the engine may
land on either side; there the oracle accepts both neighbours.
"""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

import duckdb


class Either:
    """An expected cell that may take one of two values."""

    def __init__(self, *values):
        self.values = values

    def __eq__(self, other):
        return other in self.values

    def __repr__(self):
        return f"Either{self.values}"


def _half_up(num: int, den: int, places: int) -> float:
    q = Decimal(10) ** -places
    return float((Decimal(num) / Decimal(den)).quantize(q, rounding=ROUND_HALF_UP))


def _estimated(pct_tenths: int | None):
    """round(sum(percent_played) / 100, 0), from the exact sum in tenths."""
    if pct_tenths is None:
        return None
    lo, rem = divmod(pct_tenths, 1000)
    if rem == 500:
        return Either(float(lo), float(lo + 1))
    return float(lo + (rem > 500))


class Oracle:
    def __init__(self, warehouse: str):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW fact AS SELECT * FROM read_parquet("
            f"'{warehouse}/fact_tracks/*/*.parquet', hive_partitioning = true)")
        for dim in ("track", "artist"):
            self.con.execute(f"CREATE VIEW dim_{dim} AS SELECT * FROM "
                             f"read_parquet('{warehouse}/dim_{dim}/*.parquet')")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    # -- filter values that exist in the data --------------------------------

    def periods(self) -> list[tuple[int, int]]:
        return self.rows("SELECT DISTINCT date_fk // 10000, date_fk // 100 % 100 FROM fact "
                         "ORDER BY 1, 2")

    def top_album_pairs(self, n: int) -> list[tuple[str, str]]:
        return self.rows(
            "SELECT t.album_name, t.artist_name FROM fact f JOIN dim_track t "
            "ON f.track_fk = t.track_id GROUP BY 1, 2 ORDER BY count(*) DESC, 1 LIMIT ?", [n])

    # -- the dashboard calls -------------------------------------------------

    @staticmethod
    def _period(year, month) -> tuple[str, list]:
        if year is None:
            return "TRUE", []
        if month is None:
            return "f.date_fk // 10000 = ?", [year]
        return "f.date_fk // 10000 = ? AND f.date_fk // 100 % 100 = ?", [year, month]

    _MEASURES = ("sum(f.sec_played), count(*), "
                 "sum(CAST(round(f.percent_played * 10) AS BIGINT)), "
                 "count(*) FILTER (WHERE f.percent_played = 100.0)")

    def chart(self, item_type: str, year=None, month=None, limit: int = 100) -> list[tuple]:
        where, params = self._period(year, month)
        if item_type == "artist":
            sql = (f"SELECT a.artist_name, {self._MEASURES}, max(a.cover_art_url) FROM fact f "
                   f"JOIN dim_artist a ON f.artist_fk = a.artist_id WHERE {where} GROUP BY 1")
            keys = 1
        else:
            name = "t.track_title" if item_type == "track" else "t.album_name"
            sql = (f"SELECT {name}, t.artist_name, {self._MEASURES}, max(t.cover_art_url) "
                   f"FROM fact f JOIN dim_track t ON f.track_fk = t.track_id "
                   f"WHERE {where} GROUP BY 1, 2")
            keys = 2
        out = []
        for r in self.rows(sql, params):
            sec, n, pct, full, cover = r[keys:]
            row = (*r[:keys], _half_up(sec, 3600, 1), n, _estimated(pct))
            if item_type != "album":
                row += (full,)
            out.append(row + (cover,))
        out.sort(key=lambda r: (-r[keys], r[0]))
        return out[:limit]

    def aggregated(self, grain: str) -> list[tuple]:
        measures = ("sum(f.sec_played), count(*), count(*) FILTER (WHERE f.sec_played > 10), "
                    "sum(CAST(round(f.percent_played * 10) AS BIGINT)), "
                    "count(DISTINCT f.track_fk), count(DISTINCT f.artist_fk)")
        if grain == "all_time":
            sec, n, non_skip, pct, tracks, artists = self.rows(f"SELECT {measures} FROM fact f")[0]
            return [(_half_up(sec, 86400, 1), n, non_skip, _estimated(pct), tracks, artists)]
        if grain == "year":
            rows = self.rows(f"SELECT f.date_fk // 10000 AS y, {measures} FROM fact f "
                             "GROUP BY 1 ORDER BY 1 DESC")
            return [(y, _half_up(sec, 3600, 1), n, ns, _estimated(p), t, a)
                    for y, sec, n, ns, p, t, a in rows]
        rows = self.rows(f"SELECT f.date_fk // 10000 AS y, f.date_fk // 100 % 100 AS m, "
                         f"{measures} FROM fact f GROUP BY 1, 2 ORDER BY 1 DESC, 2 DESC")
        return [(y, m, _half_up(sec, 3600, 1), n, ns, _estimated(p), t, a,
                 dt.date(y, m, 1).isoformat())
                for y, m, sec, n, ns, p, t, a in rows]

    def album_stats(self, album: str, artist: str) -> list[tuple]:
        rows = self.rows(
            "SELECT t.track_title, sum(f.sec_played), "
            "sum(CAST(round(f.percent_played * 10) AS BIGINT)) FROM fact f "
            "JOIN dim_track t ON f.track_fk = t.track_id "
            "WHERE t.album_name = ? AND t.artist_name = ? GROUP BY 1", [album, artist])
        out = [(title, _half_up(sec, 60, 1), _estimated(pct)) for title, sec, pct in rows]
        out.sort(key=lambda r: (-r[1], r[0]))
        return out


def as_rows(pdf) -> list[tuple]:
    """A ``toPandas()`` result as plain Python tuples (dates as ISO
    strings, missing values as None)."""
    out = []
    for rec in pdf.itertuples(index=False, name=None):
        row = []
        for v in rec:
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, (dt.date, dt.datetime)):
                v = v.isoformat()
            elif isinstance(v, float) and v != v:
                v = None
            row.append(v)
        out.append(tuple(row))
    return out
