"""Per-layer census for the traced benchmark run.

Three sources, none of which changes the program:

- ``Spans``: wrappers installed around public entry points — the
  ``operators.cdc`` counter builders, ``CounterRegistry.inc_*`` and
  ``render``, and the two Spark actions the service loop issues
  (``DataFrame.collect``, ``DataFrameWriter.parquet``). A collect is
  attributed to the ``operators.cdc`` function that built the collected
  DataFrame, because jobs launched inside ``foreachBatch`` all report
  the same Py4J call site. Spans stay in memory until the run ends.
- ``spark_census``: per-batch jobs, stages, tasks, task time, input and
  shuffle bytes from the Spark UI's REST API, with each job assigned to
  the micro-batch whose trigger window contains its submission.
- the ``durationMs`` phases of ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from datetime import datetime, timezone
from statistics import median


class Spans:
    """In-memory spans: (name, start_s, end_s, parent name or None)."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float, str | None]] = []
        self.rows: list[tuple[str, float, int]] = []  # (collect span, start, rows)
        self._stack = threading.local()
        self._tags: dict[int, tuple[object, str]] = {}
        self._undo: list[tuple[object, str, object]] = []

    def _timed(self, name: str, fn, *args, **kwargs):
        stack = getattr(self._stack, "names", None)
        if stack is None:
            stack = self._stack.names = []
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.items.append((name, t0, time.time(), parent))
            stack.pop()

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        from pyspark.sql import DataFrameWriter

        from flink_kafka_filter_transform_spark.operators import cdc
        from flink_kafka_filter_transform_spark.streaming.metrics import CounterRegistry

        for fn_name in ("inbound_counts", "outbound_counts"):
            orig = getattr(cdc, fn_name)

            def builder(df, _orig=orig, _name=f"cdc.{fn_name}"):
                out = _orig(df)
                # keep the DataFrame alive so its id is never reused
                self._tags[id(out)] = (out, _name)
                return out

            self._patch(cdc, fn_name, builder)

        # the session's concrete DataFrame class may override collect
        frame_cls = next(c for c in type(spark.range(0)).__mro__ if "collect" in c.__dict__)
        orig_collect = frame_cls.collect

        def collect(df):
            tag = self._tags.pop(id(df), (None, "spark.collect"))[1]
            t0 = time.time()
            rows = self._timed(tag, orig_collect, df)
            self.rows.append((tag, t0, len(rows)))
            return rows

        self._patch(frame_cls, "collect", collect)

        orig_parquet = DataFrameWriter.parquet

        def parquet(writer, *a, **kw):
            return self._timed("sink.write", orig_parquet, writer, *a, **kw)

        self._patch(DataFrameWriter, "parquet", parquet)

        for meth in ("inc_cdc_event", "inc_transform", "render"):
            orig = CounterRegistry.__dict__[meth]

            def wrapped(reg, *a, _orig=orig, _name=f"metrics.{meth}", **kw):
                return self._timed(_name, _orig, reg, *a, **kw)

            self._patch(CounterRegistry, meth, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self._tags.clear()

    def in_window(self, name: str, start: float, end: float) -> list[float]:
        """Durations (ms) of spans called ``name`` starting in [start, end]."""
        return [
            (t1 - t0) * 1000 for n, t0, t1, _ in self.items if n == name and start <= t0 <= end
        ]

    def rows_in_window(self, name: str, start: float, end: float) -> int:
        """Rows returned by collects called ``name`` starting in [start, end]."""
        return sum(n for tag, t0, n in self.rows if tag == name and start <= t0 <= end)

    def to_json(self) -> list[dict]:
        return [
            {"name": n, "start": t0, "end": t1, "parent": p} for n, t0, t1, p in self.items
        ]


def _rest(sc, path: str):
    base = sc.uiWebUrl
    if base is None:
        raise RuntimeError("the Spark UI is disabled; the census needs its REST API")
    port = base.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def _ts(text: str) -> float:
    return (
        datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def spark_census(sc, windows: dict[int, tuple[float, float]]) -> dict[int, dict]:
    """Per-batch Spark work for the batches in ``windows``
    (batch id -> (trigger start, trigger end), epoch seconds)."""
    jobs = _rest(sc, "jobs")
    stages = {
        s["stageId"]: s for s in _rest(sc, "stages") if s.get("status") == "COMPLETE"
    }
    out = {
        b: {"jobs": 0, "stages": 0, "tasks": 0, "input_scans": 0, "task_ms": 0,
            "input_bytes": 0, "shuffle_write_bytes": 0, "job_spans": [], "_sids": set()}
        for b in windows
    }
    for job in jobs:
        if "completionTime" not in job:
            continue
        t0, t1 = _ts(job["submissionTime"]), _ts(job["completionTime"])
        batch = next(
            (b for b, (w0, w1) in windows.items() if w0 - 0.002 <= t0 <= w1 + 0.002), None
        )
        if batch is None:
            continue
        row = out[batch]
        row["jobs"] += 1
        row["tasks"] += job.get("numCompletedTasks", 0)
        row["job_spans"].append((t0, t1))
        # stages absent from ``stages`` were skipped (output reused)
        row["_sids"].update(sid for sid in job["stageIds"] if sid in stages)
    for row in out.values():
        for sid in row.pop("_sids"):
            st = stages[sid]
            row["stages"] += 1
            row["task_ms"] += st.get("executorRunTime", 0)
            row["input_bytes"] += st.get("inputBytes", 0)
            row["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            row["input_scans"] += 1 if st.get("inputRecords", 0) > 0 else 0
    return out


def covered_ms(spans: list[tuple[float, float]], start: float, end: float) -> float:
    """Milliseconds of [start, end] covered by the union of ``spans``."""
    total, cursor = 0.0, start
    for t0, t1 in sorted(spans):
        t0, t1 = max(t0, cursor), min(t1, end)
        if t1 > t0:
            total += t1 - t0
            cursor = t1
    return total * 1000


def med(values, default=0.0) -> float:
    values = list(values)
    return float(median(values)) if values else default
