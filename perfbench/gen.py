"""Seeded feed generator for the six transit feed shapes.

Every file is a Kafka-shaped message file: one JSON message ``value`` per
line, exactly what a consumer reads from the topic. The program under test
only ever sees these files. The same seed always gives byte-identical
files (a private ``random.Random(seed)`` and fixed JSON formatting).

The reference producers' dirt is reproduced on purpose:

- bus schedules: suffixed minutes (``"30d"``, ``"52v"``), ``24h``/``25h``
  after-midnight hours, non-numeric passages;
- planes: trailing-space callsigns, null candidate counts, arrivals
  outside the service-day range;
- bus positions: ``"proche"`` waits, ``tempsReel == "false"`` rows, other
  lines on the same topic, rows delivered one file late;
- bike stations: null, ``"N/A"`` and non-numeric counts, capacity
  discrepancies, out-of-order ``last_update`` values;
- wind: duplicate ``entry_id`` re-sends (exact copies), null and
  non-numeric speeds, out-of-order and late readings.

Late rows are never later than their query's watermark delay relative to
every row delivered before them, so no watermark drop depends on where
micro-batch boundaries fall (see ``stream_files``).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Scale model (README.md, "Inputs")
# ---------------------------------------------------------------------------
# Every feed carries SCALE times the traffic of the reference deployment, at
# the reference's own cadence. The reference serves one city at toy scale
# (BASELINE.md, "Working data scale" and "Ingest cadence"): one bus line of
# ~44 stops polled every 60 s, the 5 nearest bike stations polled every
# 30 s, one day of arrivals at one airport, one stop's affluence, one wind
# sensor. The ROADMAP asks for heavy traffic from millions of users; 100
# such networks on one deployment is a metropolitan region, at which the
# batch queries and the streams are compute-bound on 4 cores (README.md
# gives the measured dominant costs).
SCALE = 100

# Reference quantities, each with its basis.
STOPS_PER_LINE = 44  # BASELINE.md: ~44 stops per line (Q3)
BUS_PERIOD_S = 60  # BASELINE.md: bus positions every 60 s
BIKE_STATIONS_REF = 5  # BASELINE.md / FIXTURES.md 5: the 5 nearest stations
BIKE_PERIOD_S = 30  # BASELINE.md: bike stations every 30 s
# Not given by the reference: a regional airport such as LFRS lands on the
# order of 100 flights a day.
ARRIVALS_PER_DAY_REF = 100
# FIXTURES.md 3, golden shape "06:00 -> 3, 07:00 -> 6": 3 to 6 passages per
# stop and hour, over the service hours 4h..25h.
PASSAGES_PER_STOP_HOUR = (3, 6)
SERVICE_HOURS = range(4, 26)
# Not given by the reference (one ThingSpeak channel, FIXTURES.md 6): a
# channel accepts one update per 15 s at most, the rate assumed here.
WIND_PERIOD_S = 15

# Service day of the batch feeds (UTC) and its epoch range.
SERVICE_DATE = "2025-03-17"
DAY_START = int(dt.datetime(2025, 3, 17, tzinfo=dt.timezone.utc).timestamp())
DAY_END = DAY_START + 86_400 - 1

# Nantes bounding box (the reference's API centre is (-1.5457, 47.2154)).
LON_RANGE = (-1.70, -1.40)
LAT_RANGE = (47.12, 47.32)

C6_STOPS = [f"C6{i:02d}" for i in range(STOPS_PER_LINE)]
AFFLUENCE_LINES = ["C6", "23", "42", "86", "C1", "C2"]
SUFFIXES = ["", "", "", "d", "v"]


@dataclass(frozen=True)
class BatchSizes:
    """One service day of a deployment SCALE times the reference's."""

    planes: int = ARRIVALS_PER_DAY_REF * SCALE
    affluence_stops: int = SCALE  # the reference asks about one stop
    stations: int = BIKE_STATIONS_REF * SCALE


@dataclass(frozen=True)
class StreamSizes:
    """Per-minute shape of the three live feeds. One file per feed holds
    one minute of event time: one bus poll, two bike polls, and every wind
    reading of that minute."""

    bus_lines: int = SCALE  # the reference polls one line (C6) onto the topic
    bike_stations: int = BIKE_STATIONS_REF * SCALE
    wind_sensors: int = SCALE  # the reference reads one channel


AFFLUENCE_STOPS = [f"ST{i // 2:02d}{1 + i % 2}" for i in range(BatchSizes().affluence_stops)]
FILE_S = 60  # event time covered by one stream file of any feed
BIKE_JITTER_S = 25  # last_update lags its poll by up to this
STREAM_T0 = dt.datetime(2025, 3, 25, 13, 0, 0, tzinfo=dt.timezone.utc)


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=True)


def _write_lines(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _minute(rng: random.Random, parity: int) -> str:
    m = rng.randrange(parity, 60, 2)
    return f"{m:02d}" if rng.random() < 0.5 else str(m)


# ---------------------------------------------------------------------------
# Batch feeds (one service day)
# ---------------------------------------------------------------------------
def write_batch_feeds(out_dir: str, seed: int, sizes: BatchSizes = BatchSizes()) -> dict:
    """Write the four batch feeds of one service day into ``out_dir``.

    Returns ``{feed: {"path", "rows", "bytes"}}``.
    """
    rng = random.Random(f"batch-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    out = {}

    # bus_airport: bus 38 departs on even minutes, bus 98 on odd ones, so no
    # two buses ever share a departure time and the as-of match is unique.
    lines = []
    for bus, parity in ((38, 0), (98, 1)):
        for hour in SERVICE_HOURS:
            passages = [
                _minute(rng, parity) + rng.choice(SUFFIXES)
                for _ in range(rng.randint(2, 6))
            ]
            if rng.random() < 0.15:
                passages.append(rng.choice(["--", "x", ""]))
            lines.append(_dumps({"bus": bus, "heure": f"{hour}h", "passages": passages}))
    out["bus_airport"] = _feed(out_dir, "bus_airport", lines)

    # plane_arrival: unique icao24 per row; 3 % land outside the day.
    lines = []
    for i in range(sizes.planes):
        icao = f"{(i * 2_654_435_761) % (1 << 24):06x}"
        last = DAY_START + rng.randrange(0, 86_400)
        if rng.random() < 0.03:
            last += rng.choice((-1, 1)) * 86_400
        callsign = rng.choice(["AFR", "EZY", "SAMU", "TVF", "VLG"]) + str(rng.randrange(1, 9999))
        callsign = callsign.ljust(8) if rng.random() < 0.7 else callsign
        lines.append(
            _dumps(
                {
                    "icao24": icao,
                    "firstSeen": last - rng.randrange(1_800, 12_000),
                    "estDepartureAirport": rng.choice(["LFPG", "LFPO", "LFLL", None]),
                    "lastSeen": last,
                    "estArrivalAirport": "LFRS",
                    "callsign": callsign,
                    "estDepartureAirportHorizDistance": rng.randrange(0, 9000),
                    "estDepartureAirportVertDistance": rng.randrange(0, 500),
                    "estArrivalAirportHorizDistance": rng.randrange(0, 9000),
                    "estArrivalAirportVertDistance": rng.randrange(0, 500),
                    "departureAirportCandidatesCount": None if rng.random() < 0.1 else rng.randrange(0, 3),
                    "arrivalAirportCandidatesCount": rng.randrange(0, 3),
                }
            )
        )
    out["plane_arrival"] = _feed(out_dir, "plane_arrival", lines)

    # bus_affluence: one row per passage (one row = one bus), 3 to 6 per
    # stop and service hour, each on one of the 2 or 3 lines serving it.
    lines = []
    for stop in AFFLUENCE_STOPS[: sizes.affluence_stops]:
        serving = rng.sample(AFFLUENCE_LINES, rng.randint(2, 3))
        for hour in SERVICE_HOURS:
            for _ in range(rng.randint(*PASSAGES_PER_STOP_HOUR)):
                passage = f"{rng.randrange(60):02d}" + rng.choice(SUFFIXES)
                lines.append(_dumps({"numLigne": rng.choice(serving), "stop": stop, "heure": f"{hour}h", "passage": passage}))
    out["bus_affluence"] = _feed(out_dir, "bus_affluence", lines)

    # bike station reference list for the nearest-5 lookup: distinct names
    # and positions (a k-NN over repeated snapshots would return one
    # station five times).
    lines = [_dumps(_station(rng, i, "2025-03-17T12:00:00+01:00")) for i in range(sizes.stations)]
    out["bike_station"] = _feed(out_dir, "bike_station", lines)
    return out


def _feed(out_dir: str, name: str, lines: list[str]) -> dict:
    path = os.path.join(out_dir, f"{name}.json")
    return {"path": path, "rows": len(lines), "bytes": _write_lines(path, lines)}


def _station(rng: random.Random, i: int, last_update: str) -> dict:
    total = rng.randrange(10, 40)
    bikes = rng.randrange(0, total + 1)
    stands = total - bikes
    if rng.random() < 0.1:
        stands = max(0, stands - rng.randrange(1, 4))  # discrepancy path
    bikes_s = str(bikes)
    r = rng.random()
    if r < 0.04:
        bikes_s = None
    elif r < 0.06:
        bikes_s = "N/A"
    return {
        "name": f"Station {i:05d}",
        "number": f"{i:03d}",
        "address": f"{i % 200 + 1} rue {['Crebillon', 'Kervegan', 'Fosse', 'Scribe'][i % 4]}",
        "position": {
            "lon": round(rng.uniform(*LON_RANGE), 6),
            "lat": round(rng.uniform(*LAT_RANGE), 6),
        },
        "available_bikes": bikes_s,
        "available_bike_stands": str(stands),
        "bike_stands": total,
        "last_update": last_update,
    }


def knn_centers(seed: int, n: int) -> list[tuple[float, float]]:
    """The analyst's lookup points, one per nearest-5 request."""
    rng = random.Random(f"knn-{seed}")
    return [
        (round(rng.uniform(*LON_RANGE), 5), round(rng.uniform(*LAT_RANGE), 5))
        for _ in range(n)
    ]


def q2_stops(seed: int, n: int, sizes: BatchSizes = BatchSizes()) -> list[str]:
    """The stops the analyst asks Q2 about, one per request."""
    rng = random.Random(f"q2-{seed}")
    return [rng.choice(AFFLUENCE_STOPS[: sizes.affluence_stops]) for _ in range(n)]


# ---------------------------------------------------------------------------
# Stream feeds (message files, staged for an inbox)
# ---------------------------------------------------------------------------
STREAM_FEEDS = ("bus_position", "bike_stations", "wind")


def _iso(t: dt.datetime, fmt: str) -> str:
    if fmt == "naive":
        return t.strftime("%Y-%m-%dT%H:%M:%S")
    if fmt == "z":
        return t.strftime("%Y-%m-%dT%H:%M:%SZ")
    return (t + dt.timedelta(hours=1)).strftime("%Y-%m-%dT%H:%M:%S") + "+01:00"


def stream_files(seed: int, n_files: int, sizes: StreamSizes = StreamSizes()):
    """Yield ``(feed, index, lines)`` for ``n_files`` one-minute files per
    feed.

    Files of one feed are meant to be delivered in index order. Lateness
    guarantees (so drops never depend on micro-batch boundaries):

    - bus_position: a delayed direction of C6 lands in the next file, one
      poll behind that file's rows and never behind an earlier file's; the
      Q3 watermark is 1 minute.
    - bike_stations: ``last_update`` lags its poll by < 25 s while polls
      are 30 s apart; the Q4 watermark is 10 s, so no row is ever older
      than the newest earlier row minus 10 s.
    - wind: a delayed reading lands in the next file, at most 2 × 60 s
      behind that file's newest row; the wind watermark is 5 minutes.
    """
    rng = random.Random(f"stream-{seed}")
    # Rows of the other lines on the topic, split around their wait, their
    # real-time flag and their timestamp (rendered once, filled per poll).
    other_rows = [
        tuple(_bus_row(sens, "\0", "\0", f"L{n:02d}S{i:02d}", f"L{n:02d}", "\0").split("\0"))
        for n in range(1, sizes.bus_lines)
        for sens in (1, 2)
        for i in range(STOPS_PER_LINE)
    ]
    wind_id = 1_000_000
    wind_per_file = sizes.wind_sensors * FILE_S // WIND_PERIOD_S
    carry_bus: list[str] = []
    carry_wind: list[str] = []
    for k in range(n_files):
        # --- bus positions: one poll of every line, all rows at created_at ---
        t = _iso(STREAM_T0 + dt.timedelta(seconds=BUS_PERIOD_S * k), "naive")
        lines = list(carry_bus)
        carry_bus = []
        c6 = {}
        for sens in (1, 2):
            c6[sens] = []
            for stop in C6_STOPS:
                w = rng.randrange(0, 15)
                c6[sens].append(_bus_row(sens, "proche" if w == 0 else f"{w}mn", "true", stop, "C6", t))
            if rng.random() < 0.3:
                c6[sens].append(_bus_row(sens, "2mn", "false", rng.choice(C6_STOPS), "C6", t))
        if k + 1 < n_files and rng.random() < 0.25:
            carry_bus = c6.pop(2)  # delivered one file late
        for rows in c6.values():
            lines.extend(rows)
        for head, mid, tail, end in other_rows:
            reel = "true" if rng.random() < 0.9 else "false"
            lines.append(f"{head}{rng.randrange(1, 20)}mn{mid}{reel}{tail}{t}{end}")
        yield "bus_position", k, lines

        # --- bike stations: one message (an array of stations) per poll ---
        lines = []
        for s in range(FILE_S // BIKE_PERIOD_S):
            poll = STREAM_T0 + dt.timedelta(seconds=FILE_S * k + BIKE_PERIOD_S * s)
            stamps = [_iso(poll - dt.timedelta(seconds=lag), "offset") for lag in range(BIKE_JITTER_S)]
            msg = [_station(rng, i, stamps[rng.randrange(0, BIKE_JITTER_S)]) for i in range(sizes.bike_stations)]
            rng.shuffle(msg)
            lines.append(_dumps(msg))
        yield "bike_stations", k, lines

        # --- wind readings: every sensor every WIND_PERIOD_S ---
        base = STREAM_T0 + dt.timedelta(seconds=FILE_S * k)
        lines = list(carry_wind)
        carry_wind = []
        fresh = []
        for j in range(wind_per_file):
            wind_id += 1
            ts = base + dt.timedelta(seconds=j * FILE_S // wind_per_file)
            r = rng.random()
            speed = f"{rng.uniform(0, 25):.1f}"
            if r < 0.03:
                speed = None
            elif r < 0.05:
                speed = rng.choice(["abc", "", "--"])
            msg = _dumps({"created_at": _iso(ts, "z"), "entry_id": wind_id, "wind_speed": speed})
            fresh.append(msg)
            if rng.random() < 0.05:
                fresh.append(msg)  # re-sent in the same file
            elif rng.random() < 0.03 and k + 1 < n_files:
                carry_wind.append(msg)  # re-sent one file later
        # Out-of-order within the file, and a few readings delivered late.
        rng.shuffle(fresh)
        if k + 1 < n_files:
            n_late = len(fresh) // 50
            carry_wind.extend(fresh[:n_late])
            fresh = fresh[n_late:]
        lines.extend(fresh)
        yield "wind", k, lines


def _bus_row(sens, temps, reel, stop, line, created_at: str) -> str:
    # The layout of _dumps, formatted directly: a scaled minute of bus
    # positions is ~9 000 rows.
    terminus = "Chantiers Navals" if sens == 1 else "Gare SNCF"
    return (
        f'{{"sens":{sens},"terminus":"{terminus}","infotrafic":false,"temps":"{temps}",'
        f'"tempsReel":"{reel}","stop":"{stop}","numLigne":"{line}","created_at":"{created_at}"}}'
    )


def write_stream_files(stage_dir: str, seed: int, n_files: int, sizes: StreamSizes = StreamSizes()) -> dict:
    """Write ``n_files`` message files per feed into ``stage_dir/<feed>/``.

    Returns ``{feed: [{"name", "path", "rows", "bytes"}, ...]}`` in
    delivery order.
    """
    out: dict[str, list[dict]] = {f: [] for f in STREAM_FEEDS}
    for feed in STREAM_FEEDS:
        os.makedirs(os.path.join(stage_dir, feed), exist_ok=True)
    for feed, k, lines in stream_files(seed, n_files, sizes):
        name = f"{feed}-{k:06d}.json"
        path = os.path.join(stage_dir, feed, name)
        out[feed].append({"name": name, "path": path, "rows": len(lines), "bytes": _write_lines(path, lines)})
    return out
