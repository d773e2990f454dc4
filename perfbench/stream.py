"""``stream_backfill``: the three reference streams drain a backlog.

Three concurrent queries read Kafka-shaped message files (one JSON value
per line) from file-stream inboxes, parse them with
``streaming.parse_json_value`` and land results in
``streaming.foreach_batch`` sinks:

- Q3 bus positions, update mode;
- Q4 bike-station occupancy, complete mode;
- wind dedup + 5-minute average, append mode.

A closed loop: the whole backlog is staged before the queries start and
drained with a fixed number of files per trigger, as fast as they can.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import threading
import time

import gen
import oracle
import sparkstats
from tracing import Tracer

from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from ue_big_data_project_spark import schemas, sources, streaming
from ue_big_data_project_spark.observability import executed_scan_metrics
from ue_big_data_project_spark.queries import reference

TEXT = T.StructType([T.StructField("value", T.StringType())])

# One file is one minute of a feed (gen.FILE_S). The backlog is an outage
# of BACKFILL_FILES minutes, drained FILES_PER_TRIGGER minutes per
# micro-batch (README.md, "Inputs", gives the basis of both).
FILES_PER_TRIGGER = 2
BACKFILL_FILES = 64
FIRST_BATCH_TIMEOUT_S = 60.0
SETTLE_S = 4.0
# Input records per message: a bike message is an array of stations.
RECORDS_PER_ROW = {"bus_position": 1, "bike_stations": gen.StreamSizes().bike_stations, "wind": 1}


def _q3(df):
    return reference.q3_bus_positions(df, gen.C6_STOPS, line="C6")


PIPELINES = {
    # feed: (message schema, reference query, output mode)
    "bus_position": (schemas.BUS_POSITION, _q3, "update"),
    "bike_stations": (schemas.BIKE_STATIONS_MESSAGE, reference.q4_bike_occupancy, "complete"),
    "wind": (schemas.WIND, reference.wind_rolling_average, "append"),
}


def _epoch(ts):
    return None if ts is None else ts.timestamp()


def _normalize(feed: str, rows: list[dict]) -> list[dict]:
    if feed == "bus_position":
        return [
            {
                "start": _epoch(r["window"]["start"]),
                "sens": r["sens"],
                "stops": sorted((s["stop"], s["minutes"]) for s in r["stops"]),
                "positions": [(p["location"], p["status"]) for p in r["positions"]],
            }
            for r in rows
        ]
    return [{**r, "window_start": _epoch(r["window_start"]), "window_end": _epoch(r["window_end"])} for r in rows]


KEYS = {"bus_position": ("start", "sens"), "bike_stations": ("window_start", "station"), "wind": ("window_start",)}


class Sink:
    """foreachBatch callback: each batch's result lands on the driver as
    an Arrow table. Tables are kept as they arrive; ``result`` applies the
    output mode when the run is checked, outside the measured window."""

    def __init__(self, feed: str, mode: str, ckpt_root: str, tracer: Tracer):
        self.feed, self.mode, self.ckpt_root, self.tracer = feed, mode, ckpt_root, tracer
        self.tables: list = []  # (batch id, Arrow table)
        self.cb_end: dict[int, float] = {}  # batch id → end of the callback
        self.plan_totals: list[dict] = []
        self.query = None  # set once the query has started

    def __call__(self, batch_df, batch_id: int) -> None:
        with self.tracer.span("sink.callback", request_id=f"{self.feed}-{batch_id}"):
            with self.tracer.span("action.collect"):
                tbl = batch_df.toArrow()
            if self.mode == "complete":
                self.tables.clear()  # a complete-mode batch replaces the result
            self.tables.append((batch_id, tbl))
        self.cb_end[batch_id] = time.time()
        if self.tracer.enabled and self.query is not None:
            # The batch's incremental plan, whose metrics the collect filled.
            nodes = sparkstats.plan_nodes(self.query._jsq.streamingQuery().lastExecution().executedPlan())
            self.plan_totals.append(sparkstats.shuffle_totals(nodes))

    def result(self, last_batch: int) -> list[dict]:
        """Result rows as of batch ``last_batch``."""
        rows: dict = {}
        appended: list[dict] = []
        for b, tbl in self.tables:
            if b > last_batch:
                continue
            batch = _normalize(self.feed, tbl.to_pylist())
            if self.mode == "append":
                appended.extend(batch)
            else:
                rows.update({tuple(r[k] for k in KEYS[self.feed]): r for r in batch})
        return appended if self.mode == "append" else list(rows.values())


class Progress(StreamingQueryListener):
    def __init__(self):
        self.events: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.setdefault(p["name"] or p["id"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def of(self, name: str) -> list[dict]:
        with self._lock:
            return list(self.events.get(name, []))


def _log_lines(path: str) -> list[str]:
    with open(path) as f:
        return [ln for ln in f.read().splitlines()[1:] if ln.strip()]


def _source_log(ckpt: str) -> dict[str, int]:
    """File path (basename) → source log offset, from the checkpoint."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        for ln in _log_lines(p):
            e = json.loads(ln)
            out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _offsets_log(ckpt: str) -> dict[int, tuple[int, int]]:
    """Batch id → (end source log offset, batch watermark ms)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(p)
        if not name.isdigit():
            continue
        lines = _log_lines(p)
        meta, off = json.loads(lines[0]), json.loads(lines[1]) if len(lines) > 1 and lines[1] != "-" else None
        out[int(name)] = (off["logOffset"] if off else -1, meta.get("batchWatermarkMs", 0))
    return out


class StreamWorkload:
    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.files = gen.write_stream_files(os.path.join(work, "stage"), seed, BACKFILL_FILES)
        self.inbox = {f: os.path.join(work, "inbox", f) for f in PIPELINES}

    def rows_generated(self) -> int:
        return sum(x["rows"] * RECORDS_PER_ROW[feed] for feed, fs in self.files.items() for x in fs)

    # -- set-up -----------------------------------------------------------
    def warm(self, spark) -> None:
        """Evaluate the three reference queries in batch on the first
        staged file of each feed (warms parsing and code generation)."""
        for feed, (schema, query, _) in PIPELINES.items():
            raw = spark.read.text(self.files[feed][0]["path"])
            query(streaming.parse_json_value(raw, schema)).toArrow()

    # -- run --------------------------------------------------------------
    def _start(self, spark) -> dict:
        sinks = {}
        for feed, (schema, query, mode) in PIPELINES.items():
            # The query checkpoints into <ckpt_root>/<random id>/.
            ckpt_root = os.path.join(self.work, "ckpt", feed)
            spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt_root)
            raw = streaming.file_stream(spark, self.inbox[feed], TEXT, fmt="text", max_files_per_trigger=FILES_PER_TRIGGER)
            with self.tracer.span("streaming.parse_json_value"):
                parsed = streaming.parse_json_value(raw, schema)
            with self.tracer.span(f"queries.{feed}"):
                result = query(parsed)
            sink = Sink(feed, mode, ckpt_root, self.tracer)
            with self.tracer.span("streaming.foreach_batch"):
                sink.query = streaming.foreach_batch(result, sink, mode=mode)
            sinks[feed] = sink
        return sinks

    def _deliver_all(self) -> None:
        """Stage the whole backlog with strictly increasing mtimes."""
        base = time.time() - 10
        for feed, files in self.files.items():
            os.makedirs(self.inbox[feed], exist_ok=True)
            for k, f in enumerate(files):
                dst = os.path.join(self.inbox[feed], f["name"])
                os.rename(f["path"], dst)
                os.utime(dst, (base + k * 0.01, base + k * 0.01))

    def measure(self, spark, seconds: float) -> dict:
        listener = Progress()
        spark.streams.addListener(listener)
        backlog = []
        sinks: dict[str, Sink] = {}
        try:
            self._deliver_all()
            sinks.update(self._start(spark))
            # Every query finishes its first (cold) batch: state stores
            # created, code generated. The window opens SETTLE_S later, as
            # the next batches still run slower while the JIT compiles the
            # state-store and commit paths.
            deadline = time.time() + FIRST_BATCH_TIMEOUT_S
            while not all(listener.of(s.query.id) for s in sinks.values()):
                self._raise_failed(sinks)
                if time.time() > deadline:
                    raise TimeoutError("no first micro-batch within the timeout")
                time.sleep(0.05)
            t_settle = time.time() + SETTLE_S
            while time.time() < t_settle:
                self._raise_failed(sinks)
                time.sleep(0.25)
            t0 = time.time()
            t_win = t0 + seconds
            while time.time() < t_win:
                self._raise_failed(sinks)
                backlog.append(self._backlog(sinks, listener))
                time.sleep(0.25)
            backlog.append(self._backlog(sinks, listener))
        finally:
            for s in sinks.values():
                s.query.stop()
            spark.streams.removeListener(listener)
        return {"t0": t0, "t1": t_win, "sinks": sinks, "events": {f: listener.of(s.query.id) for f, s in sinks.items()}, "backlog": backlog}

    @staticmethod
    def _raise_failed(sinks) -> None:
        for s in sinks.values():
            exc = s.query.exception()
            if exc is not None:
                raise RuntimeError(f"stream {s.feed} failed: {exc}")

    def _backlog(self, sinks, listener) -> int:
        """Files not yet committed, of the feed drained furthest."""
        left = []
        for feed, s in sinks.items():
            committed = sum(e["numInputRows"] for e in listener.of(s.query.id))
            acc = done = 0
            for f in self.files[feed]:
                acc += f["rows"]
                if acc > committed:
                    break
                done += 1
            left.append(len(self.files[feed]) - done)
        return min(left)

    # -- results ----------------------------------------------------------
    def check(self, spark, res: dict) -> dict:
        """Per feed: consumed files and oracle mismatches."""
        out = {"files_attempted": 0, "bad_keys": 0, "delivered": {}}
        for feed, sink in res["sinks"].items():
            ckpt = glob.glob(os.path.join(sink.ckpt_root, "*"))[0]
            src = _source_log(ckpt)
            offs = _offsets_log(ckpt)
            done_batches = sorted(b for b in sink.cb_end if b in offs)
            last = done_batches[-1] if done_batches else -1
            last_off, watermark_ms = offs[last] if done_batches else (-1, 0)
            delivered = [f for f in self.files[feed] if src.get(f["name"], 1 << 62) <= last_off]
            out["files_attempted"] += len(delivered)
            out["delivered"][feed] = [os.path.join(self.inbox[feed], f["name"]) for f in delivered]
            out["bad_keys"] += self._oracle(spark, feed, sink.result(last), out["delivered"][feed], watermark_ms)
        return out

    def _oracle(self, spark, feed, got, paths, watermark_ms) -> int:
        schema, query, mode = PIPELINES[feed]
        want = _normalize(feed, query(streaming.parse_json_value(spark.read.text(paths), schema)).toArrow().to_pylist()) if paths else []
        if mode == "append":
            # Emitted windows are final; windows still open at the last
            # batch's watermark may or may not have been emitted yet.
            wm = watermark_ms / 1e3
            emitted = {r["window_start"] for r in got}
            want = [w for w in want if w["window_end"] < wm or (w["window_end"] <= wm and w["window_start"] in emitted)]
        bad = oracle.diff(got, want, KEYS[feed])
        if bad:
            print(f"oracle mismatch: {feed}: {bad} keys")
        return bad

    def metrics(self, spark, res: dict, chk: dict) -> dict:
        t0, t1 = res["t0"], res["t1"]
        events = res["events"]
        # Closed loop: a staged file's wait is its place in the backlog, so
        # latency here is the micro-batch time once it is picked up. The
        # three queries' batch times differ; p50 is the mean of their
        # medians, so it does not move with how many batches each finished.
        lat = {
            f: [e["durationMs"]["triggerExecution"] / 1e3 for e in evs if e["numInputRows"] > 0 and t0 < _end_s(e) <= t1] or [float("inf")]
            for f, evs in events.items()
        }
        m = {
            "latency_p50_s": statistics.mean(statistics.median(x) for x in lat.values()),
            "latency_p90_s": _p90([x for xs in lat.values() for x in xs]),
            "rows_per_s": sum(self._rate(evs, t0, t1) * RECORDS_PER_ROW[f] for f, evs in events.items()),
            "attempted": max(1, chk["files_attempted"]),
            "failed": chk["bad_keys"],
        }
        if not self.tracer.enabled:
            return m
        m.update(self._layer_metrics(res))
        m.update(self._source_pass(spark, chk["delivered"]))
        builds = [s["end"] - s["start"] for s in self.tracer.spans if s["name"].startswith("queries.") and "end" in s]
        m["queries.plan_build_s"] = statistics.median(builds) if builds else 0.0
        return m

    def _source_pass(self, spark, delivered: dict) -> dict:
        """Source-only pass over the consumed files: json_file, apply_casts,
        then execute the plan with no sink."""
        out = {"sources.scan_s": 0.0, "sources.rows_read": 0, "sources.bytes_read": 0}
        for feed, paths in delivered.items():
            if not paths:
                continue
            schema = schemas.BIKE_STATION if feed == "bike_stations" else PIPELINES[feed][0]
            t0 = time.perf_counter()
            df = schemas.apply_casts(sources.json_file(spark, paths, schema), "bike_station" if feed == "bike_stations" else feed)
            sm = executed_scan_metrics(df)
            out["sources.scan_s"] += time.perf_counter() - t0
            out["sources.rows_read"] += sm.get("numOutputRows", 0)
            out["sources.bytes_read"] += sm.get("filesSize", 0)
        return out

    @staticmethod
    def _rate(evs: list[dict], t0: float, t1: float) -> float:
        """Rows per second of one query over the batches that ended inside
        the window, timed from the end of the last batch before it."""
        ends = sorted((_end_s(e), e["numInputRows"]) for e in evs)
        before = [t for t, _ in ends if t <= t0]
        inside = [(t, n) for t, n in ends if t0 < t <= t1]
        if not inside:
            return 0.0
        start = before[-1] if before else t0
        return sum(n for _, n in inside) / max(1e-9, inside[-1][0] - start)

    def _layer_metrics(self, res: dict) -> dict:
        evs = [e for es in res["events"].values() for e in es]
        data = [e for e in evs if e["numInputRows"] > 0]

        def p50(key):
            return statistics.median([e["durationMs"].get(key, 0) for e in data]) if data else 0.0

        last_state = [es[-1].get("stateOperators", []) for es in res["events"].values() if es]
        ops = [op for st in last_state for op in st]
        rows_in = sum(e["numInputRows"] * RECORDS_PER_ROW[f] for f, es in res["events"].items() for e in es)
        state_commit = [sum(op.get("commitTimeMs", 0) for op in e.get("stateOperators", [])) for e in data]
        wind_ops = [op for e in res["events"].get("wind", []) for op in e.get("stateOperators", []) if op.get("operatorName") == "dedupe"]
        kept = sum(op.get("numRowsUpdated", 0) for op in wind_ops)
        dropped = sum(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in wind_ops)
        plan_totals = [pt for s in res["sinks"].values() for pt in s.plan_totals]
        n_plans = max(1, len(plan_totals))
        return {
            "streaming.batches": len(evs),
            "streaming.rows_per_batch_p50": statistics.median([e["numInputRows"] for e in data]) if data else 0,
            "streaming.trigger_ms_p50": p50("triggerExecution"),
            "streaming.trigger_ms_p90": _p90([e["durationMs"].get("triggerExecution", 0) for e in data]),
            "streaming.latest_offset_ms_p50": p50("latestOffset"),
            "streaming.query_planning_ms_p50": p50("queryPlanning"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.wal_commit_ms_p50": p50("walCommit"),
            "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
            "streaming.state_rows_per_input_row": sum(op.get("numRowsTotal", 0) for op in ops) / max(1, rows_in),
            "streaming.state_memory_bytes": sum(op.get("memoryUsedBytes", 0) for op in ops),
            "streaming.state_commit_ms_p50": statistics.median(state_commit) if state_commit else 0.0,
            "streaming.state_partitions": sum(op.get("numShufflePartitions", 0) for op in ops),
            "streaming.rows_dropped_by_watermark": sum(op.get("numRowsDroppedByWatermark", 0) for e in evs for op in e.get("stateOperators", [])),
            "streaming.dedup_useful_ratio": kept / (kept + dropped) if kept + dropped else 0.0,
            "streaming.backlog_files_left": min(res["backlog"]),
            "shuffle.bytes_written": sum(x["bytes_written"] for x in plan_totals) / n_plans,
            "shuffle.write_s": sum(x["write_s"] for x in plan_totals) / n_plans,
            "shuffle.fetch_wait_s": sum(x["fetch_wait_s"] for x in plan_totals) / n_plans,
            "shuffle.partitions": sum(x["partitions"] for x in plan_totals) / n_plans,
            "trace.overhead_ratio": self.tracer.bookkeeping_s / max(1e-9, res["t1"] - res["t0"]),
        }


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10)[8]


def _end_s(e: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start + trigger duration."""
    start = dt.datetime.strptime(e["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return start.timestamp() + e["durationMs"].get("triggerExecution", 0) / 1e3
