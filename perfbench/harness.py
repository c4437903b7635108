"""Run scaffolding shared by the workloads: the session under test,
spans, streaming-progress readers, statistics and memory sampling.

Nothing here runs at import; ``Run`` owns every resource a workload
opens and releases it in ``close``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark import SparkContext

from big_data_streaming_dashboard_spark.session import cpu_count, get_spark

STATE_DIR = ".perfbench"


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    batch: Any


class Tracer:
    """In-memory spans: name, start, end, parent and the trigger's batch
    id (or the refresh cycle number). Written out once, at exit."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        # foreachBatch callbacks of concurrent queries run on their own
        # threads, so each thread keeps its own parent chain
        self._local = threading.local()

    def add(self, name: str, start: float, end: float, batch: Any, parent: int | None = None) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent, batch))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, batch: Any = None):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self.add(name, time.time(), 0.0, batch, stack[-1] if stack else None)
        sp = self.spans[sid]
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1000.0 for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__, default=str) + "\n")


class NullTracer(Tracer):
    """Tracing off: spans cost one call and record nothing."""

    _null = contextlib.nullcontext()

    def span(self, name: str, batch: Any = None):  # type: ignore[override]
        return self._null

    def add(self, name, start, end, batch, parent=None) -> int:
        return -1


# --- streaming progress ----------------------------------------------------


def _epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC with millisecond precision."""
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


@dataclass
class Trigger:
    batch_id: int
    start: float
    rows: int
    duration: dict[str, float]
    state_ops: list[dict]

    @property
    def total_ms(self) -> float:
        return float(self.duration.get("triggerExecution", 0.0))

    @property
    def end(self) -> float:
        return self.start + self.total_ms / 1000.0


def data_triggers(query) -> list[Trigger]:
    """Triggers of ``query`` that carried input rows, in batch order.
    ``recentProgress`` keeps the last 100 progress updates
    (spark.sql.streaming.numRecentProgressUpdates); runs stay below."""
    out = []
    for p in query.recentProgress:
        if p["numInputRows"] > 0:
            out.append(
                Trigger(
                    p["batchId"],
                    _epoch(p["timestamp"]),
                    int(p["numInputRows"]),
                    dict(p["durationMs"]),
                    [dict(o) for o in p["stateOperators"]],
                )
            )
    return sorted(out, key=lambda t: t.batch_id)


def trigger_spans(tracer: Tracer, triggers: list[Trigger], prefix: str) -> None:
    """Spark-reported trigger phases as spans under one trigger span.
    The phases are durations only, so they are laid end to end from the
    trigger start in Spark's execution order."""
    for t in triggers:
        root = tracer.add(f"{prefix}.trigger", t.start, t.end, t.batch_id)
        at = t.start
        for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            ms = t.duration.get(phase)
            if ms is not None:
                tracer.add(f"{prefix}.{phase}", at, at + ms / 1000.0, t.batch_id, root)
                at += ms / 1000.0


def pipeline_layer(triggers: list[Trigger]) -> dict[str, float]:
    """Per-trigger medians of the streaming.pipeline layer; state size at
    the last trigger; late rows summed over the run."""
    if not triggers:
        return {}
    last = triggers[-1].state_ops
    return {
        "sources.offset_ms_p50": median(
            [t.duration.get("latestOffset", 0) + t.duration.get("getBatch", 0) for t in triggers]
        ),
        "pipeline.addbatch_ms_p50": median([t.duration.get("addBatch", 0) for t in triggers]),
        "pipeline.overhead_ms_p50": median(
            [t.total_ms - t.duration.get("addBatch", 0) for t in triggers]
        ),
        "pipeline.state_commit_ms_p50": median(
            [sum(o.get("commitTimeMs", 0) for o in t.state_ops) for t in triggers]
        ),
        "pipeline.state_update_ms_p50": median(
            [sum(o.get("allUpdatesTimeMs", 0) for o in t.state_ops) for t in triggers]
        ),
        "pipeline.state_rows": float(sum(o.get("numRowsTotal", 0) for o in last)),
        "pipeline.state_mem_mb": sum(o.get("memoryUsedBytes", 0) for o in last) / 2**20,
        "pipeline.late_dropped": float(
            sum(o.get("numRowsDroppedByWatermark", 0) for t in triggers for o in t.state_ops)
        ),
    }


def query_jobs(spark, query) -> int:
    """Spark jobs run under the query's job group (every trigger and its
    foreachBatch writes)."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))


# --- the run ---------------------------------------------------------------

# every per-layer metric with its unit, in BENCHMARK.json order; a traced
# run reports 0 for a layer its workload does not call
LAYER_METRICS = {
    "sources.offset_ms_p50": "ms",
    "sources.backlog_files_max": "count",
    "operators.validate_ms_per_100k": "ms",
    "pipeline.addbatch_ms_p50": "ms",
    "pipeline.overhead_ms_p50": "ms",
    "pipeline.state_commit_ms_p50": "ms",
    "pipeline.state_update_ms_p50": "ms",
    "pipeline.jobs_per_trigger": "count",
    "pipeline.state_rows": "count",
    "pipeline.state_mem_mb": "MB",
    "pipeline.late_dropped": "count",
    "sinks.route_ms_p50": "ms",
    "serving.snapshot_ms_p50": "ms",
    "serving.driver_rows": "count",
    "push.broadcast_ms_p50": "ms",
    "push.client_lag_ms_p50": "ms",
    "push.delivered_ratio": "ratio",
    "stateful.trigger_ms_p50": "ms",
    "stateful.emit_ratio": "ratio",
    "plans.build_ms_per_cycle": "ms",
    **{f"plans.exec_ms.{v}": "ms" for v in (
        "rolling_stats",
        "grid_cluster",
        "recent_points",
        "alerts_cooldown",
        "route_counts",
        "temporal_batch_annotate",
        "level_filter_high",
        "geojson_features",
        "severity_ws_counts",
    )},
    "tables.silver_materialize_s": "s",
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "replay.batch_ms_p50": "ms",
    "replay.local1_throughput_rps": "1/s",
    "live.freshness_ms_p50": "ms",
    "live.alert_freshness_ms_p50": "ms",
    "live.gen_late_ms_max": "ms",
    "gold.refresh_ms_p50": "ms",
    "trace.latency_overhead_ms": "ms",
    "trace.throughput_overhead_rps": "1/s",
    "trace.spans": "count",
}


@dataclass
class Run:
    """One benchmark process: its temp root, the session and the tally
    of attempted and failed units."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    t_process: float
    root: str = ""
    spark: Any = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    tracer: Tracer = field(default_factory=NullTracer)

    def __post_init__(self) -> None:
        # fresh source/checkpoint/scratch directories for every run:
        # a reused checkpoint resumes at its last batch and reads nothing
        self.root = os.path.abspath(
            os.path.join(STATE_DIR, f"tmp-{os.getpid()}-{time.time_ns()}")
        )
        os.makedirs(self.root)
        if self.trace:
            self.tracer = Tracer()

    def note(self, what: str) -> None:
        """Timeline line on stderr: seconds since process start."""
        print(f"perfbench: {time.time() - self.t_process:7.2f}s {what}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def check(self, ok: bool, what: str) -> bool:
        """One correctness unit: counts as attempted, and as failed when
        ``ok`` is false."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def start_session(self, cpus: int | None = None) -> Any:
        """Start the session under test (``session.get_spark``) with all
        of Spark's scratch space inside the run's temp root."""
        local = self.path("spark-local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        t = time.time()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cpus=cpus or cpu_count(),
            extra_conf={
                # sized for a shared small box, not the 16g default
                "spark.driver.memory": "3g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms3g -Djava.io.tmpdir={local} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if cpus is None:
            self.layer["session.start_s"] = time.time() - t
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            try:
                with open(f"/proc/{proc.pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024.0

    def close(self) -> None:
        """Stop the session, end the JVM and wait for it, and remove the
        temp root."""
        try:
            for q in self.spark.streams.active if self.spark is not None else []:
                q.stop()
        finally:
            self.stop_session()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw is not None else None
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                # the JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            shutil.rmtree(self.root, ignore_errors=True)
