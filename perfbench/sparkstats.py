"""Runtime probes read from outside the program: executed-plan SQL
metrics, JVM GC time and peak resident memory."""

from __future__ import annotations

import os
import resource


def plan_nodes(jplan) -> list[tuple[str, dict[str, int]]]:
    """Flatten an executed physical plan (AQE final plans and query stages
    included) into ``[(node name, {metric: value})]``."""
    out: list[tuple[str, dict[str, int]]] = []
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((node.nodeName(), metrics))
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return out


def shuffle_totals(nodes: list[tuple[str, dict[str, int]]]) -> dict[str, float]:
    """Shuffle bytes, write time (s), fetch wait (s) and partitions read.

    Partitions read are taken from the AQE shuffle read when one sits on
    top of an exchange (after coalescing), else from the exchange.
    """
    out = {"bytes_written": 0.0, "write_s": 0.0, "fetch_wait_s": 0.0, "partitions": 0.0}
    exchanges = aqe_reads = 0.0
    for name, m in nodes:
        out["bytes_written"] += m.get("shuffleBytesWritten", 0)
        out["write_s"] += m.get("shuffleWriteTime", 0) / 1e9  # ns
        out["fetch_wait_s"] += m.get("fetchWaitTime", 0) / 1e3  # ms
        if name.startswith("Exchange") and "shuffleBytesWritten" in m:
            exchanges += m.get("numPartitions", 0)
        elif name.startswith("AQEShuffleRead"):
            aqe_reads += m.get("numPartitions", 0)
    out["partitions"] = aqe_reads or exchanges
    return out


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def reset_peak_rss(jvm_pid_: int) -> None:
    """Restart the peak-RSS count of this Python driver and of the JVM
    from their current RSS (Linux ``clear_refs``)."""
    for pid in ("self", jvm_pid_):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(jvm_pid_: int) -> float:
    """Peak RSS of this Python driver plus the JVM, in MiB."""
    py_kb = _vm_hwm_kb("self") or resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _vm_hwm_kb(jvm_pid_)) / 1024.0


def machine() -> dict:
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
    except OSError:
        pass
    return {"cpus": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1)}
