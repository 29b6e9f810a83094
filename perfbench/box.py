"""Process-tree memory and box weather.

`peak_rss_by_process` reads VmHWM (peak resident set) of this process
and every descendant still alive: the Spark JVM started by PySpark and
the Python worker daemon with its workers. Read it before the session
stops; their sum is the `peak_rss_mb` metric.

`weather` is recorded with every run but is not a metric: core count,
versions, and a fixed-work calibration probe (a JVM range aggregation
and a pure-Python loop) whose time moves with load on the box, not with
the code under test.
"""

from __future__ import annotations

import os
import platform
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _vm_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_by_process() -> list[tuple[str, float]]:
    """(command name, peak RSS in MB) for this process and its descendants."""
    out = []
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out.append((name, _vm_kb(pid, "VmHWM") / 1024.0))
    return out


def weather(spark) -> dict:
    import pyspark

    t0 = time.perf_counter()
    spark.range(20_000_000).selectExpr("sum(id * 3 + 1) AS s").collect()
    spin_jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * 3 + 1
    spin_py = time.perf_counter() - t0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "calib_jvm_s": round(spin_jvm, 4),
        "calib_py_s": round(spin_py, 4),
        "loadavg_1m": os.getloadavg()[0],
    }
