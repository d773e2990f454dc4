"""Independent correctness checks.

Batch results are checked against DuckDB SQL over the same files,
following the repository's oracle rules: timestamps compare as epoch
seconds, integer division instead of casts of doubles, and floats with a
relative tolerance instead of engine-specific rounding. Stream results are
checked against the same reference query evaluated in batch over exactly
the files the stream consumed (see ``stream.py``).
"""

from __future__ import annotations

import math

import duckdb

from gen import DAY_START

REL_TOL = 1e-9


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def diff(got: list[dict], want: list[dict], key: tuple[str, ...]) -> int:
    """Number of keys whose rows differ (missing, extra, duplicated or
    unequal in any column of ``want``)."""
    g: dict = {}
    bad = 0
    for r in got:
        k = tuple(r.get(c) for c in key)
        if k in g:
            bad += 1
        g[k] = r
    for w in want:
        k = tuple(w[c] for c in key)
        r = g.pop(k, None)
        if r is None or any(not values_equal(r.get(c), v) for c, v in w.items()):
            bad += 1
    return bad + len(g)


class BatchOracle:
    """DuckDB twins of Q1, Q2 and the nearest-5 lookup over the feed files."""

    def __init__(self, feeds: dict, begin_epoch: int, end_epoch: int):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        j = "format='newline_delimited'"
        self.con.execute(
            f"""CREATE TABLE planes AS SELECT * FROM read_json('{feeds["plane_arrival"]["path"]}', {j},
                columns={{icao24: 'VARCHAR', callsign: 'VARCHAR', lastSeen: 'INTEGER'}})"""
        )
        self.con.execute(
            f"""CREATE TABLE sched AS SELECT * FROM read_json('{feeds["bus_airport"]["path"]}', {j},
                columns={{bus: 'INTEGER', heure: 'VARCHAR', passages: 'VARCHAR[]'}})"""
        )
        self.con.execute(
            f"""CREATE TABLE affluence AS SELECT * FROM read_json('{feeds["bus_affluence"]["path"]}', {j},
                columns={{numLigne: 'VARCHAR', stop: 'VARCHAR', heure: 'VARCHAR', passage: 'VARCHAR'}})"""
        )
        self.con.execute(
            f"""CREATE TABLE stations AS SELECT name, position.lon AS lon, position.lat AS lat
                FROM read_json('{feeds["bike_station"]["path"]}', {j},
                columns={{name: 'VARCHAR', position: 'STRUCT(lon DOUBLE, lat DOUBLE)'}})"""
        )
        self.begin, self.end = begin_epoch, end_epoch
        self._q1 = None
        self._q2: dict = {}

    def _rows(self, sql: str, params=None) -> list[dict]:
        cur = self.con.execute(sql, params or [])
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def q1(self) -> list[dict]:
        if self._q1 is None:
            hour = "(((CAST(replace(heure, 'h', '') AS INTEGER) % 24) + 24) % 24)"
            minute = "TRY_CAST(regexp_replace(passage, '[^0-9]', '', 'g') AS INTEGER)"
            self._q1 = self._rows(
                f"""
                WITH p AS (
                  SELECT icao24, callsign, CAST(lastSeen AS BIGINT) AS arr FROM planes
                  WHERE lastSeen BETWEEN {self.begin} AND {self.end}),
                s AS (SELECT bus, heure, unnest(passages) AS passage FROM sched),
                b AS (
                  SELECT DISTINCT bus, CAST({DAY_START} + 3600 * {hour} + 60 * {minute} AS BIGINT) AS bt
                  FROM s WHERE {minute} IS NOT NULL),
                m AS (
                  SELECT p.icao24, p.callsign, p.arr, min(b.bt) AS bt
                  FROM p JOIN b ON b.bt > p.arr GROUP BY ALL)
                SELECT m.icao24, m.callsign, m.arr, b.bus, m.bt, (m.bt - m.arr) // 60 AS wait
                FROM m JOIN b USING (bt)
                """
            )
        return self._q1

    def q2(self, stop: str | None) -> list[dict]:
        if stop not in self._q2:
            where = "WHERE stop = ?" if stop is not None else ""
            self._q2[stop] = self._rows(
                f"""SELECT printf('%02d:00', ((CAST(replace(heure, 'h', '') AS INTEGER) % 24) + 24) % 24) AS hour,
                           count(*) AS bus_count
                    FROM affluence {where} GROUP BY 1 ORDER BY 1""",
                [stop] if stop is not None else None,
            )
        return self._q2[stop]

    def knn(self, lon: float, lat: float, k: int = 5, radius_km: float = 10.0) -> list[dict]:
        rows = self._rows(
            """
            WITH d AS (
              SELECT name, 2 * 6371.0088 * asin(sqrt(
                  pow(sin((radians(?) - radians(lat)) / 2), 2)
                  + cos(radians(lat)) * cos(radians(?)) * pow(sin((radians(?) - radians(lon)) / 2), 2)
                )) AS dist FROM stations)
            SELECT name, dist FROM d WHERE dist <= ? ORDER BY dist, name LIMIT ?
            """,
            [lat, lat, lon, radius_km, k],
        )
        return [{"rank": i, **r} for i, r in enumerate(rows)]


def normalize_q1(rows: list[dict]) -> tuple[list[dict], int]:
    """Spark Q1 rows → oracle shape, plus the count of rows whose display
    columns disagree with their own values."""
    out, bad = [], 0
    for r in rows:
        arr = _epoch(r["arrival_time"])
        bt = _epoch(r["bus_time"])
        out.append({"icao24": r["icao24"], "callsign": r["callsign"], "arr": arr, "bus": r["bus"], "bt": bt, "wait": r["wait_minutes"]})
        h, m = divmod((arr - DAY_START) % 86_400 // 60, 60)
        if r["wait_display"] != f"{r['wait_minutes']}m" or r["arrival_display"] != f"{h}h{m:02d}m":
            bad += 1
    return out, bad


def _epoch(ts) -> int | None:
    return None if ts is None else int(ts.timestamp())
