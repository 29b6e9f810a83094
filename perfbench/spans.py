"""Spans, counters and Spark status for the traced run.

`Tracer` records a span (name, start, end, parent, operation id)
around each call the benchmark makes into the library, keeps the
spans in memory and writes them out once, at exit. With tracing off
every method is a no-op, so the untraced run times the bare calls.

`SparkOps` runs each operation under its own job group and, after it
finishes, reads the group's jobs from `statusTracker` and each stage's
last attempt from the status store (`statusStore().lastStageAttempt`):
jobs, stages, tasks, failed tasks, executor run time, shuffle bytes,
spill bytes and input rows.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

STAGE_FIELDS = {
    # StageData accessor → metric suffix
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "inputRecords": "input_rows",
}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time one call. The span's parent is the innermost open span."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def durations(self, name: str) -> list[float]:
        """Seconds of every closed span called `name`, in start order."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def write(self, path: str, extra: dict) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts), **extra}, f)


class SparkOps:
    """Per-operation job groups and the Spark work each group launched."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._n = 0

    @contextlib.contextmanager
    def op(self, label: str):
        """Run the body as one operation: its own job group (traced run
        only) and op id on every span opened inside it. Yields a dict the
        Spark totals are written into when the body ends."""
        self._n += 1
        op_id = f"{label}-{self._n}"
        totals: dict = {}
        if not self.tracer.enabled:
            yield totals
            return
        self.tracer.op_id = op_id
        self.sc.setJobGroup(op_id, label, interruptOnCancel=False)
        try:
            yield totals
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.op_id = None
            totals.update(self.group_totals(op_id))

    def group_totals(self, group: str) -> dict:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, **{v: 0 for v in STAGE_FIELDS.values()}}
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    data = store.lastStageAttempt(int(sid))
                except Exception:  # py4j error: stage skipped, never attempted
                    continue
                out["stages"] += 1
                for acc, key in STAGE_FIELDS.items():
                    out[key] += int(getattr(data, acc)())
        return out


def spark_means(totals: list[dict], hits: int) -> dict:
    """Per-operation means of the Spark totals, plus input rows read per
    result row returned."""
    n = max(1, len(totals))

    def mean(key: str) -> float:
        return sum(t.get(key, 0) for t in totals) / n

    return {
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.failed_tasks": mean("failed_tasks"),
        "spark.executor_run_s": mean("executor_run_ms") / 1000.0,
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
        "spark.input_rows_per_hit": sum(t.get("input_rows", 0) for t in totals) / max(1, hits),
    }


class ModelsProbe:
    """Wraps `models.encode_query` from outside the library: while
    `active`, each call is a span and a count (traced run only)."""

    def __init__(self, tracer: Tracer):
        from neural_search_spark import models

        self.active = False
        inner = models.encode_query

        def encode_query(*a, **kw):
            if not (self.active and tracer.enabled):
                return inner(*a, **kw)
            tracer.count("models.encode_query_calls")
            with tracer.span("models.encode_query"):
                return inner(*a, **kw)

        models.encode_query = encode_query
