#!/usr/bin/env python3
"""CDC service benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--cores 4]

Run from the repository root. The benchmark generates a seeded Debezium
stream as parquet files (``gen.py``), drains it through the program's
public streaming entry points — ``streaming.pipeline.metered_cdc_sink``
(the reference's service loop) or ``scd2_incremental_sink`` (the
versioned-state face) — on a ``local[cores]`` session built by
``session.get_session``, and checks every output against an
independent reference (``check.py``).

It prints one ``name value unit`` line per metric, then, as the last
line, one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` puts the end-to-end metrics in it; ``--trace 1`` turns
spans and the Spark census on and puts the per-layer metrics in it
instead. Any mismatch with the reference exits 1; a run that cannot
start or finish exits 2 without a result line. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from datetime import datetime
from pathlib import Path
from statistics import mean, median

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import check
import gen
from pct import percentile

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"
PACKAGE = "flink_kafka_filter_transform_spark"

SETUP_REPS = 5  # sessions set up per run; setup_s is their median
# a run that has not drained by then fails: staging and the set-ups,
# plus a multiple of the requested run length for the drain
DEADLINE_BASE_S = 80
DEADLINE_PER_RUN_S = 5


@dataclass(frozen=True)
class Workload:
    sink: str  # "router" (metered_cdc_sink) or "scd2" (scd2_incremental_sink)
    spec: gen.Spec
    nominal_msgs_per_s: int  # sizes the measured backlog: seconds x this
    warm_files: int  # files 0..warm_files-1 warm the JVM and are not measured


# Every workload is a closed loop: a pre-staged backlog drained one
# file per micro-batch (maxFilesPerTrigger=1), the next batch starting
# as soon as the previous one commits.
WORKLOADS = {
    # 2.5k small messages per batch: per-batch fixed cost dominates.
    # The nominal rate is above the drained one: 20 measured
    # batches keep cpu_ms_per_msg steady where 10 did not
    "backlog_small_batches": Workload(
        "router", gen.Spec(2_500, 24, 1_000, 100_000, 100), 5_000, 12
    ),
    # 2k changes per batch over ~5k entities: every batch splices
    # into existing SCD2 history
    "changelog_scd2_state": Workload(
        "scd2", gen.Spec(2_000, 60, 20, 50, 100), 1_700, 6
    ),
    # 25k messages with row images of hundreds of bytes per batch:
    # per-message parse, route and write cost dominates. Run by hand
    # (with --cores 1 for the single-threaded baseline point); it is
    # not in BENCHMARK.json, see README.md
    "backlog_large_batches": Workload(
        "router", gen.Spec(25_000, 300, 1_000, 100_000, 1_000), 13_000, 3
    ),
}
UNGATED = ("backlog_large_batches",)

# Gated metrics, in the result line with --trace 0.
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_msg": "ms",
}
# Printed for every run but not gated: wall-clock figures that follow
# the shared host's speed from minute to minute (see README.md), 0 by
# construction (failed_share), or short of samples (batch_ms_p90
# prints n/a below 100 measured batches).
REPORTED = {
    "msgs_per_s": "1/s",
    "setup_wall_s": "s",
    "batch_ms_p50": "ms",
    "batch_ms_p90": "ms",
    "freshness_ms_p50": "ms",
    "freshness_ms_p90": "ms",
    "peak_rss_mb": "MB",
    "failed_share": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.first_batch_s": "s",
    "sources.rows_per_batch": "count",
    "sources.latest_offset_ms_mean": "ms",
    "sources.get_batch_ms_mean": "ms",
    "pipeline.query_planning_ms_mean": "ms",
    "pipeline.wal_commit_ms_mean": "ms",
    "pipeline.commit_offsets_ms_mean": "ms",
    "pipeline.add_batch_ms_p50": "ms",
    "pipeline.fixed_ms_p50": "ms",
    "pipeline.jobs_per_batch": "count",
    "pipeline.stages_per_batch": "count",
    "pipeline.tasks_per_batch": "count",
    "pipeline.input_scans_per_batch": "count",
    "pipeline.task_ms_per_batch": "ms",
    "pipeline.driver_gap_ms_p50": "ms",
    "cdc.msgs_in": "count",
    "cdc.malformed": "count",
    "cdc.deletes_dropped": "count",
    "cdc.unrouted_dropped": "count",
    "cdc.forwarded": "count",
    "cdc.forward_ratio": "ratio",
    "cdc.inbound_counts_ms_p50": "ms",
    "cdc.outbound_counts_ms_p50": "ms",
    "cdc.counter_rows_per_batch": "count",
    "cdc.shuffle_write_bytes_per_batch": "bytes",
    "cdc.ablation.scan_ms": "ms",
    "cdc.ablation.parse_ms": "ms",
    "cdc.ablation.route_ms": "ms",
    "sink.write_ms_p50": "ms",
    "sink.files_per_batch": "count",
    "sink.bytes_per_batch": "bytes",
    "metrics.inc_calls_per_batch": "count",
    "metrics.inc_ms_per_batch": "ms",
    "metrics.series": "count",
    "metrics.render_ms_p50": "ms",
    "metrics.scrape_ms_p50": "ms",
    "state.versions_published": "count",
    "state.rows": "count",
    "state.bytes": "bytes",
    "state.changelog_bytes": "bytes",
    "trace.msgs_per_s": "1/s",
}


class RunFailed(Exception):
    """The run could not produce a result."""


def spark_schema():
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("msg_id", LongType()),
            StructField("topic", StringType()),
            StructField("key", StringType()),
            StructField("ts", TimestampType()),
            StructField("value", StringType()),
        ]
    )


def _progress(p) -> dict:
    return json.loads(p.json) if hasattr(p, "json") else dict(p)


def _executed(progress) -> list[dict]:
    """Progress of batches that ran, one per batch id, in order."""
    by_id = {}
    for p in map(_progress, progress):
        if "addBatch" in p.get("durationMs", {}):
            by_id[p["batchId"]] = p
    return [by_id[b] for b in sorted(by_id)]


def _start_s(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _commit_s(p: dict) -> float:
    return _start_s(p) + p["durationMs"]["triggerExecution"] / 1000


def _tail(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile, or None when too few samples lie beyond it."""
    try:
        return percentile(values, q)
    except ValueError:
        return None


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid`` (all its threads)
    and of its children that have exited (the JVM launcher's)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(f) for f in fields[11:15]) / _CLK_TCK


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _source_log(ckpt: Path) -> dict[str, int]:
    """file name -> batch id, from the file source's checkpoint log."""
    out = {}
    log = ckpt / "sources" / "0"
    if not log.is_dir():
        return out
    for f in log.iterdir():
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _router_output(out: Path):
    """The routed rows the metered sink wrote under ``out``."""
    # explicit listing: dataset discovery skips "_"-prefixed
    # directories such as the sink's _batch_id=N partitions
    return pads.dataset(
        [str(f) for f in sorted(out.glob("_batch_id=*/*.parquet"))],
        format="parquet",
        partitioning=pads.partitioning(flavor="hive"),
        partition_base_dir=str(out),
    ).to_table()


@dataclass
class Drain:
    """One streaming query drained over a staged backlog."""

    ckpt: Path
    out: Path
    batches: list[dict]  # progress of every batch that ran
    file_batch: dict[str, int]  # file name -> batch id that read it
    warm_batch: int  # last batch that read a warm-up file

    @property
    def measured(self) -> list[dict]:
        return [p for p in self.batches if p["batchId"] > self.warm_batch]

    @property
    def windows(self) -> dict[int, tuple[float, float]]:
        """batch id -> (trigger start, commit), epoch seconds."""
        return {p["batchId"]: (_start_s(p), _commit_s(p)) for p in self.measured}


class Run:
    def __init__(self, name: str, seed: int, seconds: int, trace: bool, cores: int, work: Path):
        self.wl = WORKLOADS[name]
        self.seed, self.seconds, self.trace, self.cores = seed, seconds, trace, cores
        self.work = work
        self.deadline_s = DEADLINE_BASE_S + DEADLINE_PER_RUN_S * seconds
        self.deadline = time.time() + self.deadline_s
        self.exp = check.Expected()
        self.spark = None
        self.registry = None
        self.cpu_marks: dict[int, float] = {}  # batch id -> cpu_s() at its commit
        self.spans_json: list[dict] = []

    @property
    def main_src(self) -> Path:
        return self.work / "src"

    @property
    def all_files(self) -> set[str]:
        return {gen.file_name(k) for k in range(self.n_files)}

    def stage(self) -> None:
        """Write file 0 into every set-up's source directory and the
        whole backlog into the measured drain's; build the expected
        outputs from the same tables."""
        spec = self.wl.spec
        measured = math.ceil(self.seconds * self.wl.nominal_msgs_per_s / spec.msgs_per_file)
        self.n_files = self.wl.warm_files + measured
        router = check.Router(gen.RULES)
        # modification times in file order, oldest first: the file
        # source takes the oldest file first, so batch order = file order
        base = time.time_ns() - (self.n_files + 1) * 10_000_000
        setup_srcs = [self.work / f"setup{rep}" for rep in range(SETUP_REPS)]
        for d in [*setup_srcs, self.main_src]:
            d.mkdir()
        for k in range(self.n_files):
            t = gen.generate_file(spec, self.seed, k)
            for d in [*setup_srcs, self.main_src] if k == 0 else [self.main_src]:
                path = d / gen.file_name(k)
                gen.write_file(t, str(path))
                os.utime(path, ns=(base + k * 10_000_000,) * 2)
            self.exp.add(t, router)

    def session(self):
        from flink_kafka_filter_transform_spark.session import get_session

        return get_session(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )

    def start_query(self, src: Path, tag: str):
        """Start the workload's sink over the files in ``src``; return
        the query and its checkpoint and output directories."""
        from flink_kafka_filter_transform_spark.operators import cdc
        from flink_kafka_filter_transform_spark.streaming import metrics as mx
        from flink_kafka_filter_transform_spark.streaming import pipeline as sp

        stream = (
            self.spark.readStream.schema(spark_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        ckpt, out = self.work / f"ckpt-{tag}", self.work / f"out-{tag}"
        self.cpu_marks = {}
        if self.wl.sink == "router":
            self.registry = mx.CounterRegistry()
            writer = sp.metered_cdc_sink(stream, gen.RULES, self.registry, str(out), str(ckpt))
        else:
            writer = sp.scd2_incremental_sink(cdc.parse_envelope(stream), str(out), str(ckpt))
        return writer.start(), ckpt, out

    def wait_files(self, q, ckpt: Path, names: set[str]) -> list[dict]:
        """Poll until every file in ``names`` has been read by a
        committed batch; return the progress of every batch that ran.

        Files, not ``numInputRows``: a foreachBatch body that scans its
        batch three times reports three times the rows."""
        seen = None
        while True:
            err = q.exception()
            if err is not None:
                raise RunFailed(f"query failed: {err}")
            last = q.lastProgress
            bid = None if last is None else _progress(last)["batchId"]
            if bid != seen:
                seen = bid
                self.cpu_marks.setdefault(bid, self.cpu_s())
                done = _executed(q.recentProgress)
                log = _source_log(ckpt)
                if done and names <= log.keys() and max(log[n] for n in names) <= done[-1]["batchId"]:
                    return done
            if time.time() > self.deadline:
                raise RunFailed(f"{len(names)} files not drained within {self.deadline_s} s")
            # each poll costs the JVM CPU that cpu_ms_per_msg counts;
            # the metrics read progress timestamps, not this loop's
            time.sleep(0.1)

    def cpu_s(self, main_thread: bool = False) -> float:
        """CPU seconds the service has used so far: this process and
        its JVM, less this thread unless ``main_thread`` (it sets the
        session up, then only polls the query)."""
        from pyspark import SparkContext

        t = os.times()
        own = t.user + t.system - (0 if main_thread else time.thread_time())
        proc = getattr(SparkContext._gateway, "proc", None)
        return own + (0 if proc is None else _proc_cpu_s(proc.pid))

    def drain(self, q, ckpt: Path, out: Path) -> Drain:
        """Wait for ``q`` to read the whole backlog, then stop it."""
        batches = self.wait_files(q, ckpt, self.all_files)
        q.stop()
        file_batch = _source_log(ckpt)
        warm = max(file_batch[gen.file_name(k)] for k in range(self.wl.warm_files))
        d = Drain(ckpt, out, batches, file_batch, warm)
        if not d.measured:
            raise RunFailed("no batch after the warm-up")
        return d

    def execute(self) -> dict:
        self.stage()
        setups, walls, starts, firsts = [], [], [], []
        for rep in range(SETUP_REPS):
            if rep:
                self.spark.stop()
            c0, t0 = self.cpu_s(main_thread=True), time.time()
            self.spark = self.session()
            t_up = time.time()
            q, ckpt, _ = self.start_query(self.work / f"setup{rep}", f"setup{rep}")
            warm = self.wait_files(q, ckpt, {gen.file_name(0)})[0]
            setups.append(self.cpu_s(main_thread=True) - c0)
            q.stop()
            walls.append(_commit_s(warm) - t0)
            starts.append(t_up - t0)
            firsts.append(_commit_s(warm) - t_up)
        print(f"setup reps, CPU s: {[round(x, 3) for x in setups]}")
        print(f"setup reps, wall s: {[round(x, 3) for x in walls]}")
        spans = None
        if self.trace:
            import census

            spans = census.Spans()
            spans.install(self.spark)
        main = self.drain(*self.start_query(self.main_src, "main"))
        if spans is not None:
            spans.uninstall()
        commit = {p["batchId"]: _commit_s(p) for p in main.batches}
        # CPU from the commit of the last warm-up batch to the end
        marks = self.cpu_marks
        b0, b1 = min(b for b in marks if b >= main.warm_batch), max(marks)
        cpu_ms_per_msg = (marks[b1] - marks[b0]) * 1000 / ((b1 - b0) * self.wl.spec.msgs_per_file)
        mismatches, fresh = self.verify(main, commit)
        failed = sum(mismatches.values())
        durations = [p["durationMs"]["triggerExecution"] for p in main.measured]
        e2e = {"setup_s": median(setups), "cpu_ms_per_msg": cpu_ms_per_msg}
        # one file per batch, so each batch carries msgs_per_file messages
        drain_s = commit[main.measured[-1]["batchId"]] - commit[main.warm_batch]
        reported = {
            "msgs_per_s": len(main.measured) * self.wl.spec.msgs_per_file / drain_s,
            "setup_wall_s": median(walls),
            "batch_ms_p50": median(durations),
            "batch_ms_p90": _tail(durations, 90),
            "freshness_ms_p50": percentile(fresh, 50),
            "freshness_ms_p90": percentile(fresh, 90),
            "peak_rss_mb": self.peak_rss_mb(),
            "failed_share": failed / self.exp.offered,
        }
        result = {
            "correct": failed == 0,
            "attempted": self.exp.offered,
            "failed": failed,
            "mismatches": mismatches,
            "batches": len(main.measured),
            "delivered": len(fresh),
            "end_to_end": e2e,
            "reported": reported,
        }
        if self.trace:
            result["per_layer"] = self.layers(spans, main, reported["msgs_per_s"], starts, firsts)
        return result

    def verify(self, main: Drain, commit: dict[int, float]) -> tuple[dict, list[float]]:
        """Mismatches against the reference, and the freshness (ms) of
        every message delivered after the warm-up: the time from the
        start of the measured drain, when the whole backlog was due, to
        the commit of the batch that delivered it."""
        if self.wl.sink == "router":
            out = _router_output(main.out)
            mismatches = check.compare_router(
                self.exp, out, dict(self.registry.cdc_event), dict(self.registry.transform)
            )
            batch = out.column("_batch_id").to_numpy().astype(np.int64)
        else:
            version = int((main.out / "_LATEST").read_text().strip())
            published = pq.read_table(str(main.out / f"scd2_v{version}"))
            mismatches = {"state_rows": check.compare_scd2(self.exp, published)}
            files = np.array([c[5] for c in self.exp.changes]) // self.wl.spec.msgs_per_file
            batch = np.array([main.file_batch[gen.file_name(int(f))] for f in files])
        due = commit[main.warm_batch]
        delivered = [commit[int(b)] for b in batch[batch > main.warm_batch]]
        return mismatches, [(c - due) * 1000 for c in delivered]

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus its JVM."""
        from pyspark import SparkContext

        kb = _vm_hwm_kb("self")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            kb += _vm_hwm_kb(proc.pid)
        return kb / 1024

    # -- traced run --------------------------------------------------------
    def layers(self, spans, main: Drain, msgs_per_s, starts, firsts) -> dict:
        """Per-layer metrics of the measured drain ``main``. A layer the
        workload does not run reads 0."""
        import census

        med = census.med
        windows = main.windows
        per_batch = census.spark_census(self.spark.sparkContext, windows)
        dm = [p["durationMs"] for p in main.measured]

        m = dict.fromkeys(PER_LAYER, 0.0)
        m["session.start_s"] = median(starts)
        m["session.first_batch_s"] = median(firsts)
        m["sources.rows_per_batch"] = self.wl.spec.msgs_per_file
        # the bookkeeping phases read a few whole milliseconds: a mean
        # keeps their digits where a median would repeat one reading
        m["sources.latest_offset_ms_mean"] = mean(d.get("latestOffset", 0) for d in dm)
        m["sources.get_batch_ms_mean"] = mean(d.get("getBatch", 0) for d in dm)
        m["pipeline.query_planning_ms_mean"] = mean(d.get("queryPlanning", 0) for d in dm)
        m["pipeline.wal_commit_ms_mean"] = mean(d.get("walCommit", 0) for d in dm)
        m["pipeline.commit_offsets_ms_mean"] = mean(d.get("commitOffsets", 0) for d in dm)
        m["pipeline.add_batch_ms_p50"] = med(d["addBatch"] for d in dm)
        m["pipeline.fixed_ms_p50"] = med(d["triggerExecution"] - d["addBatch"] for d in dm)
        for key in ("jobs", "stages", "tasks", "input_scans"):
            m[f"pipeline.{key}_per_batch"] = med(r[key] for r in per_batch.values())
        m["pipeline.task_ms_per_batch"] = mean(r["task_ms"] for r in per_batch.values())
        m["pipeline.driver_gap_ms_p50"] = med(
            (w1 - w0) * 1000 - census.covered_ms(per_batch[b]["job_spans"], w0, w1)
            for b, (w0, w1) in windows.items()
        )
        m["sink.write_ms_p50"] = med(sum(spans.in_window("sink.write", *w)) for w in windows.values())
        m["trace.msgs_per_s"] = msgs_per_s
        m.update(self.ablation())
        if self.wl.sink == "router":
            m.update(self.router_layers(spans, main, per_batch))
        else:
            m.update(self.state_layers(main.out))
        self.spans_json = spans.to_json()
        return m

    def router_layers(self, spans, main: Drain, per_batch: dict) -> dict:
        import urllib.request

        import census
        from flink_kafka_filter_transform_spark.streaming import metrics as mx

        med = census.med
        reg = self.registry
        windows = main.windows
        msgs_in = sum(reg.cdc_event.values())
        malformed = sum(v for (_, _, _, op), v in reg.cdc_event.items() if op == "")
        deletes = sum(v for (_, _, _, op), v in reg.cdc_event.items() if op == "d")
        forwarded = sum(reg.transform.values())

        def spent(*names):
            return [sum(sum(spans.in_window(n, *w)) for n in names) for w in windows.values()]

        def counted(fn):
            return [fn(*w) for w in windows.values()]

        inc_names = ("metrics.inc_cdc_event", "metrics.inc_transform")
        files, sizes = [], []
        for b in windows:
            part = list((main.out / f"_batch_id={b}").glob("*.parquet"))
            files.append(len(part))
            sizes.append(sum(f.stat().st_size for f in part))
        renders = []
        for _ in range(20):
            t0 = time.perf_counter()
            reg.render()
            renders.append((time.perf_counter() - t0) * 1000)
        server = mx.serve(reg, port=0, host="127.0.0.1")
        scrapes = []
        try:
            url = f"http://127.0.0.1:{server.server_address[1]}/metrics"
            for _ in range(20):
                t0 = time.perf_counter()
                with urllib.request.urlopen(url, timeout=10) as resp:
                    resp.read()
                scrapes.append((time.perf_counter() - t0) * 1000)
        finally:
            server.shutdown()
            server.server_close()
        return {
            "cdc.msgs_in": msgs_in,
            "cdc.malformed": malformed,
            "cdc.deletes_dropped": deletes,
            "cdc.unrouted_dropped": msgs_in - malformed - deletes - forwarded,
            "cdc.forwarded": forwarded,
            "cdc.forward_ratio": forwarded / msgs_in,
            "cdc.inbound_counts_ms_p50": med(spent("cdc.inbound_counts")),
            "cdc.outbound_counts_ms_p50": med(spent("cdc.outbound_counts")),
            "cdc.counter_rows_per_batch": med(
                counted(
                    lambda *w: spans.rows_in_window("cdc.inbound_counts", *w)
                    + spans.rows_in_window("cdc.outbound_counts", *w)
                )
            ),
            "cdc.shuffle_write_bytes_per_batch": med(
                r["shuffle_write_bytes"] for r in per_batch.values()
            ),
            "metrics.inc_calls_per_batch": med(
                counted(lambda *w: sum(len(spans.in_window(n, *w)) for n in inc_names))
            ),
            "metrics.inc_ms_per_batch": med(spent(*inc_names)),
            "metrics.series": len(reg.cdc_event) + len(reg.transform),
            "metrics.render_ms_p50": med(renders),
            "metrics.scrape_ms_p50": med(scrapes),
            "sink.files_per_batch": med(files),
            "sink.bytes_per_batch": med(sizes),
        }

    def state_layers(self, state_dir: Path) -> dict:
        versions = [d for d in state_dir.glob("scd2_v*") if (d / "_SUCCESS").exists()]
        latest = int((state_dir / "_LATEST").read_text().strip())
        final = state_dir / f"scd2_v{latest}"
        return {
            "state.versions_published": len(versions),
            "state.rows": pq.read_table(str(final)).num_rows,
            "state.bytes": _dir_bytes(final),
            "state.changelog_bytes": _dir_bytes(state_dir / "changes"),
        }

    def ablation(self) -> dict:
        """Scan, +parse and +route cost of the first three measured
        files, written to Spark's no-op sink through the public
        operators (median of three)."""
        from flink_kafka_filter_transform_spark.operators import cdc

        first = self.wl.warm_files
        paths = [str(self.main_src / gen.file_name(k)) for k in range(first, min(first + 3, self.n_files))]
        df = self.spark.read.schema(spark_schema()).parquet(*paths)
        parsed = cdc.parse_envelope(df)
        variants = {
            "cdc.ablation.scan_ms": df,
            "cdc.ablation.parse_ms": parsed,
            "cdc.ablation.route_ms": cdc.project_outgoing(
                cdc.drop_unrouted(cdc.route_when_chain(cdc.filter_deletes(parsed), gen.RULES))
            ),
        }
        out = {}
        for name, frame in variants.items():
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                frame.write.format("noop").mode("overwrite").save()
                times.append((time.perf_counter() - t0) * 1000)
            out[name] = median(times)
        return out

    def close(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _save(kind: str, name: str, seed: int, payload: dict) -> Path:
    d = WORK_ROOT / kind
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{name}-s{seed}.json"
    path.write_text(json.dumps(payload, indent=1))
    return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = WORK_ROOT / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM (launcher and driver) keeps its temp files in the work
    # directory and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.cores, work)
    try:
        res = run.execute()
    except Exception:  # boundary: report and fail without a result line
        traceback.print_exc()
        return 2
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)

    for name, value in res["end_to_end"].items():
        print(f"{name} {value:.6g} {END_TO_END[name]}")
    for name, value in res["reported"].items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{name} {shown} {REPORTED[name]}  (reported, not gated)")
    print(f"samples: {res['batches']} measured batches, {res['delivered']} delivered messages")
    print(f"mismatches {res['mismatches']}")
    if args.trace:
        metrics, units = res["per_layer"], PER_LAYER
        for name, value in metrics.items():
            print(f"{name} {value:.6g} {units[name]}")
        untraced = WORK_ROOT / "results" / f"{args.workload}-s{args.seed}.json"
        overhead = None
        if untraced.exists():
            base = json.loads(untraced.read_text())["msgs_per_s"]
            overhead = 1 - res["reported"]["msgs_per_s"] / base
        path = _save(
            "traces",
            args.workload,
            args.seed,
            {"per_layer": metrics, "tracing_overhead": overhead, "spans": run.spans_json},
        )
        print(f"trace written to {path.relative_to(ROOT)}; tracing overhead {overhead}")
    else:
        metrics, units = res["end_to_end"], END_TO_END
        _save("results", args.workload, args.seed, {**metrics, **res["reported"]})
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
