"""The reference's four declared queries + wind pipeline on
FIXTURES.md-shaped fixtures, with hand-computed expected results
(the reference repo has no tests — SURVEY §5 — so these pin intended
semantics, including the §2.11 bug fixes)."""

from __future__ import annotations

import pytest

from tests.q3_oracle import detect_positions
from ue_big_data_project_spark.queries import reference as R

STOPS = ["AAAA", "BBBB", "CCCC", "DDDD"]


@pytest.fixture(scope="module")
def plane_df(spark):
    rows = [
        # icao24, firstSeen, dep, lastSeen (arrival), arr, callsign
        ("ab1", 1000, "LFPG", 1_742_200_000, "LFRS", "AF1"),
        ("ab2", 1000, "LFPG", 1_742_203_600, "LFRS", "AF2"),
        ("out", 1000, "LFPG", 1_742_900_000, "LFRS", "AF3"),  # outside range
    ]
    return spark.createDataFrame(
        [(i, f, d, l, a, c, 0, 0, 0, 0, 0, 0) for i, f, d, l, a, c in rows],
        "icao24 string, firstSeen int, estDepartureAirport string, "
        "lastSeen int, estArrivalAirport string, callsign string, "
        "estDepartureAirportHorizDistance int, estDepartureAirportVertDistance int, "
        "estArrivalAirportHorizDistance int, estArrivalAirportVertDistance int, "
        "departureAirportCandidatesCount int, arrivalAirportCandidatesCount int",
    )


@pytest.fixture(scope="module")
def bus_df(spark):
    # 1742200000 = 2025-03-17 08:26:40 UTC
    return spark.createDataFrame(
        [
            (38, "8h", ["10", "30d", "50"]),
            (98, "9h", ["05v", "45"]),
            (38, "25h", ["15"]),  # after-midnight encoding → 01:15
        ],
        "bus int, heure string, passages array<string>",
    )


def test_q1_plane_bus_wait(spark, plane_df, bus_df):
    out = {
        r["icao24"]: (r["bus"], r["wait_minutes"], r["wait_display"])
        for r in R.q1_plane_bus_wait(
            plane_df,
            bus_df,
            begin_epoch=1_742_166_015,
            end_epoch=1_742_252_385,
            service_date="2025-03-17",
        ).collect()
    }
    # ab1 arrives 08:26:40 UTC → next bus 08:30 (bus 38, "30d") → 3 min
    assert out["ab1"] == (38, 3, "3m")
    # ab2 arrives 09:26:40 → next bus 09:45 (bus 98, "45") → 18 min
    assert out["ab2"] == (98, 18, "18m")
    assert "out" not in out  # epoch-range filter (parameterized, §2.11.5)


def test_values_are_bound_not_spliced(spark, plane_df, bus_df):
    """French stop names carry apostrophes; Q2 binds them as parameters.
    A service date that is not an ISO date never reaches the SQL text."""
    rows = [
        ("23", "Pont de l'Arche", "6h", "01"),
        ("23", "Pont de l'Arche", "6h", "22"),
        ("23", "Pont de l'Arche", "25h", "40"),
        ("23", "Pont de l''Arche", "7h", "05"),
        ("23", "Gare", "6h", "09"),
    ]
    df = spark.createDataFrame(
        rows, "numLigne string, stop string, heure string, passage string"
    )
    want: dict[str, int] = {}
    for _, stop, heure, _ in rows:
        if stop == "Pont de l'Arche":
            hour = f"{int(heure[:-1]) % 24:02d}:00"
            want[hour] = want.get(hour, 0) + 1
    got = {
        r["hour"]: r["bus_count"]
        for r in R.q2_affluence_per_hour(df, stop="Pont de l'Arche").collect()
    }
    assert got == want == {"06:00": 2, "01:00": 1}
    with pytest.raises(ValueError):
        R.q1_plane_bus_wait(
            plane_df, bus_df, 1_742_166_015, 1_742_252_385, "2025-03-17' OR '1"
        )


def test_cached_inputs_stay_cached(spark):
    """``spark.sql`` drops the temp view it registers for each DataFrame
    argument, and dropping a view uncaches a DataFrame with the same
    plan; Q2 and ``asof_join`` must leave a cached input cached."""
    from ue_big_data_project_spark.operators.asof import asof_join

    aff = spark.createDataFrame(
        [("23", "CRQU4", "6h", "01")],
        "numLigne string, stop string, heure string, passage string",
    )
    left = spark.sql("SELECT 1L AS id, TIMESTAMP'2025-03-17 08:00' AS lts")
    right = spark.sql("SELECT TIMESTAMP'2025-03-17 08:30' AS rts")
    inputs = [df.cache() for df in (aff, left, right)]
    try:
        assert R.q2_affluence_per_hour(aff, stop="CRQU4").count() == 1
        assert asof_join(left, right, "lts", "rts", ["id"]).count() == 1
        assert all(df.storageLevel.useMemory for df in inputs)
    finally:
        for df in inputs:
            df.unpersist()


def test_q2_affluence_counts_rows_not_chars(spark):
    df = spark.createDataFrame(
        [
            ("23", "CRQU4", "6h", "01"),
            ("23", "CRQU4", "6h", "22"),  # "22" must count once, not twice
            ("23", "CRQU4", "7h", "15v"),
            ("23", "CRQU4", "25h", "40"),  # → 01:00
            ("12", "OTHER", "6h", "09"),  # other stop filtered out
        ],
        "numLigne string, stop string, heure string, passage string",
    )
    got = {
        r["hour"]: r["bus_count"]
        for r in R.q2_affluence_per_hour(df, stop="CRQU4", line="23").collect()
    }
    assert got == {"06:00": 2, "07:00": 1, "01:00": 1}


@pytest.fixture(scope="module")
def positions_df(spark):
    base = "2025-03-25T14:05:{:02d}"
    rows = []
    # Direction 1: bus AT BBBB (0 min); another approaching DDDD:
    # CCCC=5, DDDD=2 → between CCCC|DDDD.
    for stop, temps in [
        ("AAAA", "7mn"),
        ("BBBB", "proche"),
        ("CCCC", "5mn"),
        ("DDDD", "2mn"),
    ]:
        rows.append((1, "Term", False, temps, "true", stop, "C6", base.format(1)))
    # Direction 2 (reversed order DDDD..AAAA): bus between CCCC|BBBB.
    for stop, temps in [
        ("DDDD", "9mn"),
        ("CCCC", "6mn"),
        ("BBBB", "3mn"),
        ("AAAA", "8mn"),
    ]:
        rows.append((2, "Term", False, temps, "true", stop, "C6", base.format(2)))
    # Non-realtime row must be ignored.
    rows.append((1, "Term", False, "1mn", "false", "AAAA", "C6", base.format(3)))
    return spark.createDataFrame(
        rows,
        "sens int, terminus string, infotrafic boolean, temps string, "
        "tempsReel string, stop string, numLigne string, created_at string",
    )


def _native(rows):
    """Each row's ``positions`` by (sens, window start)."""
    return {
        (r["sens"], r["window"]["start"]): [
            (p["location"], p["status"]) for p in r["positions"]
        ]
        for r in rows
    }


def _walked(rows):
    """Each row's positions as the reference walk reads its own ``stops``."""
    return {
        (r["sens"], r["window"]["start"]): detect_positions(
            r["stops"], r["sens"], STOPS
        )
        for r in rows
    }


@pytest.mark.parametrize("reference_walk", [False, True])
def test_q3_positions_native_and_udf(spark, positions_df, reference_walk):
    out = R.q3_bus_positions(positions_df, STOPS, line="C6").collect()
    walk = _walked if reference_walk else _native
    by_sens = {sens: set(ps) for (sens, _), ps in walk(out).items()}
    # AT BBBB; CCCC(5) > DDDD(2) > 0 → between CCCC|DDDD.
    assert by_sens[1] == {("BBBB", True), ("CCCC|DDDD", False)}
    # Reversed walk DDDD→AAAA: DDDD(9)>CCCC(6) → DDDD|CCCC;
    # CCCC(6)>BBBB(3) → CCCC|BBBB; BBBB(3) < AAAA(8) → no.
    assert by_sens[2] == {("DDDD|CCCC", False), ("CCCC|BBBB", False)}


def test_q3_native_equals_udf(spark, positions_df):
    rows = R.q3_bus_positions(positions_df, STOPS).collect()
    assert _native(rows) == _walked(rows)


def test_q4_bike_occupancy(spark):
    df = spark.createDataFrame(
        [
            ("Lieu Unique", "042", "Quai", "7", "13", 20, "2025-03-25T14:04:58+01:00"),
            ("Lieu Unique", "042", "Quai", "9", "11", 20, "2025-03-25T14:05:28+01:00"),
            # discrepancy: 5 + 10 != 20 → 5 '?'
            ("Gare", "001", "Rue", "5", "10", 20, "2025-03-25T14:04:10+01:00"),
            # null count → [No data]
            ("Moisson", "002", "Av", None, "4", 10, "2025-03-25T14:04:20+01:00"),
        ],
        "name string, number string, address string, available_bikes string, "
        "available_bike_stands string, bike_stands int, last_update string",
    )
    rows = R.q4_bike_occupancy(df, window="10 minutes").collect()
    bars = {r["station"]: r["bar"] for r in rows}
    assert bars["Lieu Unique"] == "#" * 8 + "-" * 12  # avgs 8 & 12, no gap
    assert bars["Gare"] == "#" * 5 + "-" * 10 + "?" * 5
    assert bars["Moisson"] == "[No data]"
    # ordered by window_start then station (O1)
    assert [r["station"] for r in rows] == sorted(bars)


def test_dirty_time_fields_become_nulls_not_errors(
    spark, plane_df, bus_df, positions_df
):
    """One unreadable time value next to good rows in each of Q1-Q4.

    Under ANSI mode (Spark 4's default) a plain cast or ``to_timestamp``
    raises on such a value; the reference ran with ANSI off and got a
    null. Each query must run, the good rows' results must not change,
    and Q2 must report missing and malformed hours in the NULL hour."""

    def q1(buses):
        return sorted(
            R.q1_plane_bus_wait(
                plane_df,
                buses,
                begin_epoch=1_742_166_015,
                end_epoch=1_742_252_385,
                service_date="2025-03-17",
            ).collect()
        )

    # Read leniently, 7h + 87 min would be 08:27, ab1's next bus.
    dirty_buses = bus_df.union(
        spark.createDataFrame(
            [(38, "zzh", ["10"]), (98, "7h", ["87"])],
            "bus int, heure string, passages array<string>",
        )
    )
    assert q1(dirty_buses) == q1(bus_df)

    affluence = spark.createDataFrame(
        [
            ("23", "CRQU4", "6h", "01"),
            ("23", "CRQU4", "25h", "40"),
            ("23", "CRQU4", "xh", "05"),
            ("23", "CRQU4", None, "07"),
        ],
        "numLigne string, stop string, heure string, passage string",
    )
    got = {
        r["hour"]: r["bus_count"]
        for r in R.q2_affluence_per_hour(affluence, stop="CRQU4").collect()
    }
    assert got == {"06:00": 1, "01:00": 1, None: 2}

    dirty_positions = positions_df.union(
        spark.createDataFrame(
            [(1, "Term", False, "4mn", "true", "AAAA", "C6", "not-a-time")],
            positions_df.schema,
        )
    )
    assert _native(
        R.q3_bus_positions(dirty_positions, STOPS, line="C6").collect()
    ) == _native(R.q3_bus_positions(positions_df, STOPS, line="C6").collect())

    schema = (
        "name string, number string, address string, available_bikes string, "
        "available_bike_stands string, bike_stands int, last_update string"
    )
    good = [
        ("Gare", "001", "Rue", "5", "10", 20, "2025-03-25T14:04:10+01:00"),
        ("Quai", "002", "Av", "3", "7", 10, "2025-03-25T14:04:20+01:00"),
    ]
    bad = [("Gare", "001", "Rue", "20", "0", 20, "garbage")]
    assert R.q4_bike_occupancy(
        spark.createDataFrame(good + bad, schema)
    ).collect() == R.q4_bike_occupancy(spark.createDataFrame(good, schema)).collect()


def test_nearest_points_matches_python_haversine(spark):
    """``geo.nearest_points`` in the benchmark's call shape (k=5 within
    10 km, ties broken by name) against a plain-Python haversine walk."""
    import math

    from ue_big_data_project_spark.functions import EARTH_RADIUS_KM
    from ue_big_data_project_spark.operators import geo

    lon0, lat0 = -1.5536, 47.2173  # Nantes centre

    def km(lon, lat):
        p1, p2 = math.radians(lat0), math.radians(lat)
        a = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2)
            * math.sin(math.radians(lon - lon0) / 2) ** 2
        )
        return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))

    # One degree of latitude is ~111.2 km, so 0.0899° is ~10.0 km.
    rows = [
        ("far", lon0, lat0 + 0.0905),  # just outside 10 km
        ("edge", lon0, lat0 + 0.0895),  # just inside
        ("tie-b", lon0 + 0.01, lat0),  # two stations at one spot
        ("tie-a", lon0 + 0.01, lat0),
        ("near", lon0, lat0 + 0.001),
        ("out", lon0 + 1.0, lat0),
    ]
    df = spark.createDataFrame(
        [(n, (lon, lat)) for n, lon, lat in rows],
        "name string, position struct<lon:double,lat:double>",
    )
    got = [
        (r["name"], r["distance_km"])
        for r in geo.nearest_points(
            df, "position.lon", "position.lat", lon0, lat0,
            k=5, radius_km=10.0, tie_breaker="name",
        ).collect()
    ]
    walk = sorted(
        (km(lon, lat), n) for n, lon, lat in rows if km(lon, lat) <= 10.0
    )[:5]
    assert km(lon0, lat0 + 0.0905) > 10.0 > km(lon0, lat0 + 0.0895)
    # Four stations lie within 10 km, so without the radius "far" would
    # fill the fifth place.
    assert [n for n, _ in got] == [n for _, n in walk]
    assert [n for n, _ in got] == ["near", "tie-a", "tie-b", "edge"]
    for (_, d), (e, _) in zip(got, walk):
        assert d == pytest.approx(e, rel=1e-12)


def test_wind_pipeline_dedup_and_average(spark):
    df = spark.createDataFrame(
        [
            ("2025-01-25T16:00:12Z", 1, "3.0"),
            ("2025-01-25T16:01:12Z", 1, "3.0"),  # duplicate entry_id
            ("2025-01-25T16:02:12Z", 2, "5.0"),
            ("2025-01-25T16:03:12Z", 3, "bad"),  # null after cast → dropped
            ("2025-01-25T16:07:12Z", 4, "7.0"),  # next 5-min window
        ],
        "created_at string, entry_id int, wind_speed string",
    )
    rows = R.wind_rolling_average(df).collect()
    got = {r["window_start"].isoformat(): r["avg_wind_speed"] for r in rows}
    assert got == {"2025-01-25T16:00:00": 4.0, "2025-01-25T16:05:00": 7.0}


def test_events_ewma_matches_python_recurrence(spark):
    """The native array-fold EWMA equals the textbook per-key loop."""
    import datetime as dt

    from ue_big_data_project_spark.queries.events import events_ewma

    # Drive through a temp parquet dir shaped like the testdata so the
    # query's load_tables path is exercised end-to-end.
    import tempfile, os, shutil

    tmp = tempfile.mkdtemp(prefix="ewma_")
    try:
        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(minutes=i), i % 3, "click", float(v), "{}")
            for i, v in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90])
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).write.parquet(os.path.join(tmp, "events.parquet"))
        got = {
            r.user_id: (r.n_events, r.ewma_value)
            for r in events_ewma(spark, tmp).collect()
        }
        expect = {}
        for u in range(3):
            vals = [float(v) for i, v in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90]) if i % 3 == u]
            acc = vals[0]
            for x in vals[1:]:
                acc = 0.3 * x + 0.7 * acc
            expect[u] = (len(vals), acc)
        for u, (n, e) in expect.items():
            assert got[u][0] == n
            assert abs(got[u][1] - e) < 1e-6, u
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_events_ewma_over_threshold_key_raises(spark):
    """The bounded-per-key contract is ENFORCED (round-4 verdict task
    5): a key whose history exceeds max_per_key fails loudly instead of
    silently materializing an unbounded row."""
    import datetime as dt
    import os
    import shutil
    import tempfile

    import pytest

    from ue_big_data_project_spark.queries.events import events_ewma

    tmp = tempfile.mkdtemp(prefix="ewma_guard_")
    try:
        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(minutes=i), i % 2, "click", float(i), "{}")
            for i in range(12)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).write.parquet(os.path.join(tmp, "events.parquet"))
        # 6 events per key: fine at the default threshold...
        assert events_ewma(spark, tmp).count() == 2
        # ...and a loud failure BEFORE the fold materializes anything
        # when the per-key bound is exceeded (the guard is a cheap
        # counting pre-pass, so it raises at query-build time).
        with pytest.raises(ValueError, match="bounded-per-key contract"):
            events_ewma(spark, tmp, max_per_key=5)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
