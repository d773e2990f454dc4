"""Self-tests of the benchmark itself (no Spark needed, a few seconds).

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py

- the generator is deterministic per seed;
- the oracles reject a deliberately corrupted result;
- every metric the benchmark prints is declared in ``BENCHMARK.json``,
  and the file keeps to the benchmark contract;
- span self times subtract exactly the time covered by children;
- outside a checkout of the program, the benchmark fails fast.
"""

from __future__ import annotations

import datetime as dt
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from tracing import Tracer  # noqa: E402

SMALL = gen.BatchSizes(planes=300, affluence_stops=8, stations=200)
SMALL_STREAM = gen.StreamSizes(bus_lines=3, bike_stations=20, wind_sensors=30)


def _scratch() -> str:
    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    return tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench_run"))


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generator_is_deterministic_per_seed():
    d = _scratch()
    try:
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            gen.write_batch_feeds(os.path.join(d, name, "batch"), seed, SMALL)
            gen.write_stream_files(os.path.join(d, name, "stream"), seed, 4, SMALL_STREAM)
        assert _same_tree(os.path.join(d, "a"), os.path.join(d, "b"))
        assert not _same_tree(os.path.join(d, "a"), os.path.join(d, "c"))
        assert gen.knn_centers(7, 5) == gen.knn_centers(7, 5) != gen.knn_centers(8, 5)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_generator_keeps_the_reference_dirt():
    d = _scratch()
    try:
        feeds = gen.write_batch_feeds(d, 3, SMALL)
        text = {k: open(v["path"]).read() for k, v in feeds.items()}
        assert re.search(r'"\d+[dv]"', text["bus_airport"]) and '"25h"' in text["bus_airport"]
        assert re.search(r'"callsign":"\w+ +"', text["plane_arrival"])
        assert '"available_bikes":null' in text["bike_station"] and '"N/A"' in text["bike_station"]
        stream = gen.write_stream_files(d, 3, 6, SMALL_STREAM)
        bus = "".join(open(f["path"]).read() for f in stream["bus_position"])
        assert '"proche"' in bus and '"tempsReel":"false"' in bus
        wind = [json.loads(ln) for f in stream["wind"] for ln in open(f["path"])]
        ids = [w["entry_id"] for w in wind]
        assert len(ids) > len(set(ids)), "duplicate entry_ids"
        assert any(w["wind_speed"] is None for w in wind) and any(w["wind_speed"] == "abc" for w in wind)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_late_rows_stay_within_the_watermarks():
    """No row is older than the newest row of every earlier file minus its
    query's watermark delay, so drops never depend on batch boundaries."""
    limits = {"bus_position": 60, "bike_stations": 10, "wind": 300}
    newest: dict[str, float] = {}
    for feed, _, lines in gen.stream_files(5, 12, SMALL_STREAM):
        times = []
        for ln in lines:
            msg = json.loads(ln)
            for rec in msg if isinstance(msg, list) else [msg]:
                ts = rec.get("last_update") or rec["created_at"]
                t = dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
                times.append(t.replace(tzinfo=t.tzinfo or dt.timezone.utc).timestamp())
        if feed in newest:
            assert min(times) > newest[feed] - limits[feed] + 5, feed
        newest[feed] = max(newest.get(feed, 0), max(times))


def test_oracle_rejects_a_corrupted_result():
    d = _scratch()
    try:
        feeds = gen.write_batch_feeds(d, 11, SMALL)
        o = oracle.BatchOracle(feeds, gen.DAY_START, gen.DAY_END)
        want = o.q1()
        assert want, "Q1 oracle returned nothing"
        # Spark-shaped rows built from the oracle pass both checks ...
        utc = dt.timezone.utc
        spark_rows = [
            {
                "icao24": w["icao24"], "callsign": w["callsign"], "bus": w["bus"],
                "arrival_time": dt.datetime.fromtimestamp(w["arr"], utc),
                "bus_time": dt.datetime.fromtimestamp(w["bt"], utc),
                "wait_minutes": w["wait"], "wait_display": f"{w['wait']}m",
                "arrival_display": dt.datetime.fromtimestamp(w["arr"], utc).strftime("%-Hh%Mm"),
            }
            for w in want
        ]
        got, display_bad = oracle.normalize_q1(spark_rows)
        assert display_bad == 0 and oracle.diff(got, want, ("icao24", "callsign", "arr")) == 0
        # ... and one wrong wait, one wrong display or one lost row does not.
        bad = [dict(r) for r in got]
        bad[0]["wait"] += 1
        assert oracle.diff(bad, want, ("icao24", "callsign", "arr")) == 1
        spark_rows[1]["wait_display"] = "0m" if spark_rows[1]["wait_minutes"] else "1m"
        assert oracle.normalize_q1(spark_rows)[1] == 1
        assert oracle.diff(got[1:], want, ("icao24", "callsign", "arr")) == 1

        q2 = o.q2(None)
        corrupted = [dict(r) for r in q2]
        corrupted[-1]["bus_count"] += 1
        assert oracle.diff(q2, q2, ("hour",)) == 0 and oracle.diff(corrupted, q2, ("hour",)) == 1
        knn = o.knn(-1.55, 47.21)
        far = [dict(r) for r in knn]
        far[0]["dist"] *= 1 + 1e-6
        assert oracle.diff(far, knn, ("rank",)) == 1
        # Floats agree within the tolerance, and a duplicate key is a mismatch.
        near = [dict(r) for r in knn]
        near[0]["dist"] *= 1 + 1e-12
        assert oracle.diff(near, knn, ("rank",)) == 0
        assert oracle.diff(knn + knn[:1], knn, ("rank",)) == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_printed_metrics_are_declared():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for mode in ("end_to_end", "per_layer"):
        declared = {m["name"] for m in spec[mode]}
        out = run.select_metrics({n: 1.0 for n in declared}, mode, ROOT)
        assert set(out) == declared and all(v["unit"] for v in out.values())
    try:
        run.select_metrics({"latency_p50_s": 1.0, "not_declared": 2.0}, "end_to_end", ROOT)
    except KeyError:
        pass
    else:
        raise AssertionError("an undeclared metric was printed")


def test_benchmark_json_keeps_the_contract():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [w["name"] for w in spec["workloads"]] + [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names)) and all(name_re.match(n) for n in names)
    assert 2 <= len(spec["workloads"]) <= 8 and all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]) for k in ("end_to_end", "per_layer") for m in spec[k])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 1 <= spec["run_seconds"] <= 60 and set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS)


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("request.x", request_id="r1"):
        with t.span("sources.read"):
            time.sleep(0.02)
        with t.span("action.collect"):
            time.sleep(0.03)
    s = {x["name"]: x for x in t.spans}
    assert s["sources.read"]["parent"] == s["request.x"]["id"] and s["action.collect"]["request_id"] == "r1"
    st = t.self_times()
    total = s["request.x"]["end"] - s["request.x"]["start"]
    assert abs(sum(st.values()) - total) < 1e-9 and st["request"] < 0.01 and st["action"] >= 0.03
    off = Tracer(False)
    with off.span("request.y"):
        pass
    assert off.spans == []


def test_fails_outside_a_checkout():
    d = _scratch()
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "batch_transit", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=60,
        )
        assert p.returncode != 0 and p.stdout.strip() == ""
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_orphaned_grandchildren_are_reaped():
    """A process started by a child that has exited (a worker of an exited
    JVM) is adopted and ended before the benchmark exits."""
    script = (
        "import os, subprocess, procs\n"
        "procs.adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'], capture_output=True, text=True).stdout\n"
        "procs.reap_children()\n"
        "print(out.strip(), os.path.exists(f'/proc/{out.strip()}'))\n"
    )
    p = subprocess.run([sys.executable, "-c", script], cwd=HERE, capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    pid, alive = p.stdout.split()
    assert alive == "False", f"orphan {pid} still running"


if __name__ == "__main__":
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok   {name}")
            except Exception as exc:  # report every test, then fail
                failed += 1
                print(f"FAIL {name}: {exc!r}")
    sys.exit(1 if failed else 0)
