"""``batch_transit``: one analyst, closed loop, over one service day.

The analyst issues Q1 (plane → next bus wait), Q2 for a stop, Q2 for all
stops, Q2 for another stop and the nearest-5-stations lookup, one after
another, each time reading the feed files afresh. Latency runs from query submit until the
result is on the driver (Arrow).
"""

from __future__ import annotations

import hashlib
import statistics
import time

import pyarrow as pa

import gen
import oracle
import sparkstats
from tracing import Tracer

from ue_big_data_project_spark import schemas, sources
from ue_big_data_project_spark.observability import executed_scan_metrics
from ue_big_data_project_spark.operators import geo
from ue_big_data_project_spark.queries import reference

# One round of the analyst.
OPS = ("q1", "q2_stop", "q2_all", "q2_stop", "knn")
OP_FEEDS = {
    "q1": ("plane_arrival", "bus_airport"),
    "q2_stop": ("bus_affluence",),
    "q2_all": ("bus_affluence",),
    "knn": ("bike_station",),
}
FEED_SCHEMA = {
    "plane_arrival": ("plane_arrival", schemas.PLANE_ARRIVAL),
    "bus_airport": ("bus_airport", schemas.BUS_AIRPORT),
    "bus_affluence": ("bus_affluence", schemas.BUS_AFFLUENCE),
    "bike_station": ("bike_station", schemas.BIKE_STATION),
}
MAX_REQUESTS = 4000
SETTLE_S = 6.0


class BatchTransit:
    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.tracer = tracer
        self.feeds = gen.write_batch_feeds(work, seed)
        self.stops = gen.q2_stops(seed, MAX_REQUESTS)
        self.centers = gen.knn_centers(seed, MAX_REQUESTS)
        self.q1_tables: dict[str, pa.Table] = {}  # digest → one sorted Q1 result

    def rows_generated(self) -> int:
        return sum(f["rows"] for f in self.feeds.values())

    # -- calls into the program, one span per layer call ------------------
    def _read(self, spark, feed: str):
        name, schema = FEED_SCHEMA[feed]
        with self.tracer.span("sources.json_file"):
            df = sources.json_file(spark, self.feeds[feed]["path"], schema)
        with self.tracer.span("schemas.apply_casts"):
            return schemas.apply_casts(df, name)

    def build(self, spark, op: str, i: int):
        t = self.tracer
        if op == "q1":
            planes, buses = self._read(spark, "plane_arrival"), self._read(spark, "bus_airport")
            with t.span("queries.q1_plane_bus_wait"):
                df = reference.q1_plane_bus_wait(planes, buses, gen.DAY_START, gen.DAY_END, gen.SERVICE_DATE)
                df._jdf.queryExecution().analyzed()
        elif op in ("q2_stop", "q2_all"):
            aff = self._read(spark, "bus_affluence")
            with t.span("queries.q2_affluence_per_hour"):
                df = reference.q2_affluence_per_hour(aff, stop=self.stops[i] if op == "q2_stop" else None)
                df._jdf.queryExecution().analyzed()
        else:
            st = self._read(spark, "bike_station")
            lon, lat = self.centers[i]
            with t.span("operators.geo.nearest_points"):
                df = geo.nearest_points(st, "position.lon", "position.lat", lon, lat, k=5, radius_km=10.0, tie_breaker="name")
                df._jdf.queryExecution().analyzed()
        return df

    def request(self, spark, op: str, i: int):
        with self.tracer.span(f"request.{op}", request_id=f"{op}-{i}"):
            t0 = time.perf_counter()
            df = self.build(spark, op, i)
            with self.tracer.span("action.collect"):
                tbl = df.toArrow()
            latency = time.perf_counter() - t0
        self.tracer.count(f"{op}.rows_out", tbl.num_rows)
        return df, tbl, latency

    # -- phases -----------------------------------------------------------
    def warm(self, spark) -> None:
        for op in OPS:
            self.request(spark, op, 0)

    def measure(self, spark, seconds: float) -> dict:
        """Closed loop for ``seconds``. In a traced run every other cycle of
        the four operations is traced, so tracing overhead is measured by
        interleaving, in the same process and the same minute."""
        traced = self.tracer.enabled
        # Untimed settling: the JIT keeps compiling the planning, scan,
        # parse and join paths well past the warm pass.
        self.tracer.enabled = False
        t_settle = time.perf_counter() + SETTLE_S
        while time.perf_counter() < t_settle:
            for op in OPS:
                self.request(spark, op, 0)
        done: list[dict] = []
        failed = 0
        plan_totals: list[dict] = []
        join_pairs: list[int] = []
        t_end = time.perf_counter() + seconds
        cycle = 0
        while time.perf_counter() < t_end and len(done) < MAX_REQUESTS:
            self.tracer.enabled = traced and cycle % 2 == 1
            for op in OPS:
                if time.perf_counter() >= t_end:
                    break
                i = len(done) + 1
                try:
                    df, tbl, latency = self.request(spark, op, i)
                except Exception as exc:  # keep the loop alive, count the failure
                    print(f"request {op}-{i} failed: {exc!r}")
                    failed += 1
                    continue
                rows_in = sum(self.feeds[f]["rows"] for f in OP_FEEDS[op])
                done.append({"op": op, "i": i, "latency": latency, "rows_in": rows_in, "rows_out": tbl.num_rows, "result": self._keep(op, tbl), "traced": self.tracer.enabled, "cycle": cycle})
                if self.tracer.enabled:
                    nodes = sparkstats.plan_nodes(df._jdf.queryExecution().executedPlan())
                    plan_totals.append(sparkstats.shuffle_totals(nodes))
                    if op == "q1":
                        join_pairs.append(sum(m.get("numOutputRows", 0) for n, m in nodes if "Join" in n))
            cycle += 1
        self.tracer.enabled = traced
        elapsed = seconds + max(0.0, time.perf_counter() - t_end)
        return {"done": done, "failed": failed, "elapsed": elapsed, "plan_totals": plan_totals, "join_pairs": join_pairs}

    def _keep(self, op: str, tbl: pa.Table):
        """What the check needs of a result: Q1's (~10 000 rows, the same
        every time) as a digest of its sorted table, the others' (a few
        rows) as rows. Result tables are not held across the window."""
        if op != "q1":
            return tbl.to_pylist()
        tbl = tbl.sort_by([("icao24", "ascending"), ("arrival_time", "ascending")]).combine_chunks()
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        digest = hashlib.sha1(sink.getvalue()).hexdigest()
        self.q1_tables.setdefault(digest, tbl)
        return digest

    def check(self, spark, res: dict) -> int:
        """Oracle mismatches among completed requests."""
        want = oracle.BatchOracle(self.feeds, gen.DAY_START, gen.DAY_END)
        q1_bad = {}
        for digest, tbl in self.q1_tables.items():
            got, display_bad = oracle.normalize_q1(tbl.to_pylist())
            q1_bad[digest] = oracle.diff(got, want.q1(), ("icao24", "callsign", "arr")) + display_bad
        bad = 0
        for r in res["done"]:
            op, i, rows = r["op"], r["i"], r["result"]
            if op == "q1":
                n = q1_bad[rows]
            elif op in ("q2_stop", "q2_all"):
                want_q2 = want.q2(self.stops[i] if op == "q2_stop" else None)
                n = oracle.diff(rows, want_q2, ("hour",)) + (0 if [x["hour"] for x in rows] == [w["hour"] for w in want_q2] else 1)
            else:
                lon, lat = self.centers[i]
                got = [{"rank": k, "name": x["name"], "dist": x["distance_km"]} for k, x in enumerate(rows)]
                n = oracle.diff(got, want.knn(lon, lat), ("rank",))
            if n:
                print(f"oracle mismatch: {op}-{i}: {n} keys")
                bad += 1
        return bad

    def source_pass(self, spark, feeds) -> dict:
        """Source-only pass: json_file, apply_casts, then execute the plan
        with no sink (rows never reach the driver)."""
        out = {"s": 0.0, "rows": 0, "bytes": 0}
        for feed in feeds:
            t0 = time.perf_counter()
            m = executed_scan_metrics(self._read(spark, feed))
            out["s"] += time.perf_counter() - t0
            out["rows"] += m.get("numOutputRows", 0)
            out["bytes"] += m.get("filesSize", self.feeds[feed]["bytes"])
        return out

    def metrics(self, spark, res: dict, bad: int) -> dict:
        done = res["done"]
        timed = [r for r in done if not r["traced"]] or done
        lat = [r["latency"] for r in timed]
        q = statistics.quantiles(lat, n=10) if len(lat) > 1 else lat * 9
        attempted = len(done) + res["failed"]
        m = {
            # Q1 is one request in five, so the median falls well inside the
            # light requests wherever the window cut the last round off.
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": q[8],
            "rows_per_s": sum(r["rows_in"] for r in done) / res["elapsed"],
            "attempted": attempted,
            "failed": res["failed"] + bad,
        }
        if not self.tracer.enabled:
            return m

        def traced_median(op):
            xs = [r["latency"] for r in done if r["op"] == op and r["traced"]]
            return statistics.median(xs) if xs else 0.0

        scan = self.source_pass(spark, FEED_SCHEMA)
        q1_scan = self.source_pass(spark, OP_FEEDS["q1"])
        q1_rows = statistics.median([r["rows_out"] for r in done if r["op"] == "q1"] or [0])
        pairs = statistics.median(res["join_pairs"] or [0])
        builds = [s["end"] - s["start"] for s in self.tracer.spans if s["name"].startswith(("queries.", "operators.")) and "end" in s]
        n_plans = max(1, len(res["plan_totals"]))
        shuffle = {k: sum(p[k] for p in res["plan_totals"]) / n_plans for k in ("bytes_written", "write_s", "fetch_wait_s", "partitions")}
        cycles = {}
        for r in done:
            c = cycles.setdefault(r["cycle"], [r["traced"], 0.0, 0])
            c[1] += r["latency"]
            c[2] += 1
        full = [(tr, s) for tr, s, n in cycles.values() if n == len(OPS)]
        on = [s for tr, s in full if tr]
        off = [s for tr, s in full if not tr]
        m.update(
            {
                "sources.scan_s": scan["s"],
                "sources.rows_read": scan["rows"],
                "sources.bytes_read": scan["bytes"],
                "queries.plan_build_s": statistics.median(builds) if builds else 0.0,
                "asof.self_s": max(0.0, traced_median("q1") - q1_scan["s"]),
                "asof.pairs_joined": pairs,
                "asof.useful_ratio": q1_rows / pairs if pairs else 0.0,
                "geo.knn_s": traced_median("knn"),
                "shuffle.bytes_written": shuffle["bytes_written"],
                "shuffle.write_s": shuffle["write_s"],
                "shuffle.fetch_wait_s": shuffle["fetch_wait_s"],
                "shuffle.partitions": shuffle["partitions"],
                "trace.overhead_ratio": (statistics.median(on) / statistics.median(off) - 1) if on and off else 0.0,
            }
        )
        return m
