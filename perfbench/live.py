"""live_500: open-loop live serving at 500 rec/s to two WebSocket clients.

A generator thread drops one 2,000-reading bronze file every 4 s on a
fixed schedule, whether or not the program keeps up. Two queries read
the directory:

(a) ``silver_stream(bounded_state=True)`` into one foreachBatch that
    calls ``route_foreach_batch`` (noop writers), then
    ``DashboardState.foreach_batch``, then ``ws.ws_foreach_batch`` into
    a ``WebSocketBroadcaster``;
(b) valid silver -> ``alert_candidates`` -> ``exact_cooldown_stream``
    -> the same broadcaster.

Two stdlib WebSocket clients record when each file's first point frame
and first alert frame arrive. Freshness is that time minus the time
the file was due, so a stall also delays every file queued behind it.
"""

from __future__ import annotations

import base64
import os
import socket
import struct
import threading
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from big_data_streaming_dashboard_spark.operators import alert_candidates
from big_data_streaming_dashboard_spark.sources import stream_parquet_bronze
from big_data_streaming_dashboard_spark.streaming import ws
from big_data_streaming_dashboard_spark.streaming.pipeline import silver_stream
from big_data_streaming_dashboard_spark.streaming.serving import DashboardState
from big_data_streaming_dashboard_spark.streaming.sinks import route_foreach_batch
from big_data_streaming_dashboard_spark.streaming.stateful import exact_cooldown_stream
from harness import Run, data_triggers, median, pipeline_layer, query_jobs, trigger_spans
from replay import RouteCounter

# 500 rec/s as one 4,000-row file every 8 s: per file the serving
# query runs a data batch and then a no-data (state eviction) batch,
# together 4-8 s on 4 cores, so the 2,000-row/4 s cadence overloads it
ROWS_PER_FILE = 4000
PERIOD_S = 8.0
TIMED_FILES = 3
CLIENTS = 2
T0 = 1_700_000_000
WARM_SEED_OFFSET = 7919
WARM_FILES = 2
# first file index of each phase
WARM_FIRST, MEASURED_FIRST = 900, 0
DELIVERY_TIMEOUT_S = 40.0


def build_files(seed: int, n_files: int, first: int, t0: int) -> list[list[gen.Record]]:
    """Files ``first`` .. ``first + n_files - 1`` of ROWS_PER_FILE rows;
    the index is also the event-id block, so every phase's frames are
    told apart. A file's readings are stamped around its due time on
    the schedule's clock (t0 + PERIOD_S per file) with disorder inside
    the watermark; ~1% are >= 1,000 CPM, pinned to the file's last
    second, and one more sits at a site no other file uses, so every
    file raises an alert."""
    rng = np.random.default_rng(seed)
    sensors = gen.Sensors(rng)
    files = []
    for k in range(first, first + n_files):
        t = t0 + int(PERIOD_S) * (k - first)
        recs = gen.make_file(
            rng, sensors, k, ROWS_PER_FILE - 1, t, int(PERIOD_S), t * 1000,
            dirt_share=0.03, dup_share=0.02, late_share=0.0, critical_share=0.01,
            critical_at=t + int(PERIOD_S) - 1,
        )
        fresh = gen.Record(
            k * gen.ID_STRIDE + ROWS_PER_FILE - 1, gen.timestamp_text(t + 3),
            f"{-85 + 0.01 * k:.2f}", "170.00", "1500.00", "cpm", t * 1000, t + 3,
        )
        files.append(recs[: ROWS_PER_FILE - 1] + [fresh])
    return files


class CountingHub(ws.WebSocketBroadcaster):
    """A ``WebSocketBroadcaster`` that also records the payloads it
    enqueues and, per file, when its first point broadcast returned."""

    def __init__(self) -> None:
        super().__init__(max_queue_frames=256)
        self.lock = threading.Lock()
        self.enqueued = 0
        self.enqueued_at: dict[int, float] = {}

    def broadcast(self, payloads: list[str]) -> None:
        n_clients = self.n_clients
        super().broadcast(payloads)
        now = time.time()
        with self.lock:
            self.enqueued += len(payloads) * n_clients
            if payloads and '"alert_message"' not in payloads[0]:
                self.enqueued_at.setdefault(_event_id(payloads[0]) // gen.ID_STRIDE, now)


def _event_id(msg: str) -> int:
    i = msg.index('"event_id":') + len('"event_id":')
    j = i
    while j < len(msg) and msg[j].isdigit():
        j += 1
    return int(msg[i:j])


class Client(threading.Thread):
    """Minimal RFC 6455 client: reads server text frames and records
    the first arrival of each file's point and alert frames."""

    def __init__(self, host: str, port: int) -> None:
        super().__init__(daemon=True)
        self.sock = socket.create_connection((host, port), timeout=60)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (
                f"GET /ws HTTP/1.1\r\nHost: {host}:{port}\r\nUpgrade: websocket\r\n"
                f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise ConnectionError("handshake closed")
            buf += chunk
        head, rest = buf.split(b"\r\n\r\n", 1)
        if b" 101 " not in head.split(b"\r\n", 1)[0]:
            raise ConnectionError(head[:80])
        self.rest = rest  # bytes read past the handshake
        self.sock.settimeout(None)
        self.rfile = self.sock.makefile("rb")
        self.lock = threading.Lock()
        self.frames = 0
        self.points_at: dict[int, float] = {}
        self.alerts_at: dict[int, float] = {}
        self.alert_ids: list[int] = []
        self.error: BaseException | None = None

    def _read(self, n: int) -> bytes:
        out = b""
        if self.rest:
            out, self.rest = self.rest[:n], self.rest[n:]
        if len(out) < n:
            more = self.rfile.read(n - len(out))
            if len(more) < n - len(out):
                raise EOFError
            out += more
        return out

    def run(self) -> None:
        try:
            while True:
                h = self._read(2)
                n = h[1] & 0x7F
                if n == 126:
                    n = struct.unpack("!H", self._read(2))[0]
                elif n == 127:
                    n = struct.unpack("!Q", self._read(8))[0]
                msg = self._read(n).decode()
                now = time.time()
                if '"event_id"' not in msg:
                    continue  # heartbeat
                eid = _event_id(msg)
                with self.lock:
                    self.frames += 1
                    if '"alert_message"' in msg:
                        self.alert_ids.append(eid)
                        self.alerts_at.setdefault(eid // gen.ID_STRIDE, now)
                    else:
                        self.points_at.setdefault(eid // gen.ID_STRIDE, now)
        except (EOFError, OSError):
            pass
        except Exception as e:  # surfaced by the delivery check
            self.error = e

    def close(self) -> None:
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.join(timeout=10)
        self.rfile.close()
        self.sock.close()


class Phase:
    """Both queries over one fresh source directory: closed-loop warm-up
    files from another seed, then the seed's files open loop."""

    def __init__(self, run: Run, hub, clients: list[Client], tag: str) -> None:
        self.run, self.hub, self.clients = run, hub, clients
        self.src = run.path(f"live-{tag}")
        os.makedirs(self.src)
        self.written = 0
        self.files: list[list[gen.Record]] = []
        self.indices: list[int] = []
        self.state = DashboardState()
        self.driver_rows: list[int] = []
        self.routes = RouteCounter(run)
        tracer = run.tracer
        route_fn = route_foreach_batch(self.routes)
        push_fn = ws.ws_foreach_batch(hub)

        def serve(batch, epoch_id):
            with tracer.span("live.batch", epoch_id):
                with tracer.span("sinks.route_foreach_batch", epoch_id):
                    route_fn(batch, epoch_id)
                before = len(self.state.recent)
                with tracer.span("serving.snapshot", epoch_id):
                    self.state.foreach_batch(batch, epoch_id)
                self.driver_rows.append(before + len(self.state.recent))
                with tracer.span("push.broadcast", epoch_id):
                    push_fn(batch, epoch_id)

        def alerts(batch, epoch_id):
            with tracer.span("stateful.alerts_push", epoch_id):
                push_fn(batch, epoch_id)

        spark = run.spark
        silver_a = silver_stream(stream_parquet_bronze(spark, self.src), bounded_state=True)
        self.qa = (
            silver_a.writeStream.foreachBatch(serve)
            .option("checkpointLocation", self.src + "-ck-a")
            .start()
        )
        silver_b = silver_stream(stream_parquet_bronze(spark, self.src), bounded_state=True)
        cand = alert_candidates(silver_b.filter(F.col("status") == "valid"))
        self.qb = (
            exact_cooldown_stream(cand)
            .writeStream.foreachBatch(alerts)
            .option("checkpointLocation", self.src + "-ck-b")
            .start()
        )

    def write(self, k: int, recs: list[gen.Record]) -> None:
        gen.write_parquet(recs, os.path.join(self.src, f"part-{k:04d}.parquet"))
        self.files.append(recs)
        self.indices.append(k)
        self.written += 1

    def delivered(self, k: int) -> bool:
        for c in self.clients:
            with c.lock:
                if k not in c.points_at or k not in c.alerts_at:
                    return False
        return True

    def wait_delivered(self, ks, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if all(self.delivered(k) for k in ks):
                return True
            if self.failed_query() is not None:
                return False
            time.sleep(0.02)
        return False

    def failed_query(self):
        for q in (self.qa, self.qb):
            if not q.isActive:
                return q.exception() or RuntimeError(f"query {q.name} stopped")
        return None

    def backlog(self) -> int:
        return self.written - sum(1 for p in self.qa.recentProgress if p["numInputRows"] > 0)

    def stop(self) -> None:
        for q in (self.qa, self.qb):
            q.stop()


def measured_phase(run: Run, hub, clients, warm_first: int, first: int, n_timed: int, tag: str) -> dict:
    """Warm-up files are fed closed loop (each waits for delivery) and
    are not timed; then ``n_timed`` files are dropped every 4 s."""
    warm = build_files(run.seed + WARM_SEED_OFFSET, WARM_FILES, warm_first, T0)
    timed = build_files(run.seed, n_timed, first, T0 + int(PERIOD_S) * WARM_FILES)
    ph = Phase(run, hub, clients, tag)
    try:
        for k, recs in enumerate(warm, warm_first):
            ph.write(k, recs)
            if not ph.wait_delivered([k], 120):
                raise RuntimeError(f"warm-up file {k} not delivered: {ph.failed_query()!r}")
        n_warm_trig = (len(data_triggers(ph.qa)), len(data_triggers(ph.qb)))
        due = {}
        gen_late, backlog = [], []
        t_first = time.time() + 0.05
        for i, recs in enumerate(timed):
            k = first + i
            due[k] = t_first + i * PERIOD_S
            time.sleep(max(0.0, due[k] - time.time()))
            ph.write(k, recs)
            gen_late.append((time.time() - due[k]) * 1000.0)
            backlog.append(ph.backlog())
        ph.wait_delivered(list(due), DELIVERY_TIMEOUT_S)
        err = ph.failed_query()
    finally:
        ph.stop()
    trig_a = data_triggers(ph.qa)
    trig_b = data_triggers(ph.qb)
    return {
        "phase": ph,
        "due": due,
        "t_first": t_first,
        "gen_late": gen_late,
        "backlog": backlog,
        "error": err,
        "trig_a": trig_a[n_warm_trig[0]:],
        "trig_b": trig_b[n_warm_trig[1]:],
        "jobs": query_jobs(run.spark, ph.qa) + query_jobs(run.spark, ph.qb),
        "n_trig": len(trig_a) + len(trig_b),
    }


def e2e_of(res: dict, clients: list[Client]) -> tuple[dict[str, float], list[float], list[float]]:
    """Freshness per (file, client); throughput = rows of the timed
    files over the time from the first due time to the last delivery."""
    fresh, alert_fresh = [], []
    last = res["t_first"]
    for k, due in res["due"].items():
        for c in clients:
            with c.lock:
                if k in c.points_at:
                    fresh.append((c.points_at[k] - due) * 1000.0)
                    last = max(last, c.points_at[k])
                if k in c.alerts_at:
                    alert_fresh.append((c.alerts_at[k] - due) * 1000.0)
    rows = ROWS_PER_FILE * len(res["due"])
    return (
        {"throughput_rps": rows / max(last - res["t_first"], 1e-9), "latency_ms_p50": median(fresh)},
        fresh,
        alert_fresh,
    )


def check_phase(run: Run, res: dict, clients: list[Client], tag: str) -> None:
    ph = res["phase"]
    run.check(res["error"] is None, f"{tag}: stream thread failed: {res['error']!r}")
    for c in clients:
        run.check(c.error is None, f"{tag}: client failed: {c.error!r}")
    for k in res["due"]:
        run.check(ph.delivered(k), f"{tag}: file {k} not delivered to every client")
    run.check(max(res["backlog"]) <= 2, f"{tag}: source backlog grew to {max(res['backlog'])} files")
    want = gen.expected_alerts(ph.files)
    mine = set(ph.indices)
    for i, c in enumerate(clients):
        with c.lock:
            got = sorted(e for e in c.alert_ids if e // gen.ID_STRIDE in mine)
        run.check(got == want, f"{tag}: client {i} got {len(got)} alerts, cooldown oracle {len(want)}")
    led = gen.bounded_ledger(ph.files)
    routed = ph.routes.counts
    run.check(
        all(routed[r] == led[r] for r in ("normal", "critical", "dirty")),
        f"{tag}: routes {routed} != ledger {led}",
    )
    n = sum(len(f) for f in ph.files)
    run.check(sum(routed.values()) + led["duplicates"] == n, f"{tag}: rows routed + duplicates != {n} generated")
    keep = min(led["valid_unique"], ph.state.cfg.retention_points)
    run.check(
        len(ph.state.recent) == keep and ph.state.stats.get("total_points") == keep,
        f"{tag}: snapshot holds {len(ph.state.recent)} points, want {keep}",
    )


def probe(run: Run) -> None:
    """Traced live-serving probe: two clients, both queries, warm-up
    files closed loop, then TIMED_FILES files open loop. Sets the
    serving-path per-layer metrics and runs every live check."""
    hub = CountingHub()
    host, port = hub.start()
    clients = []
    try:
        clients = [Client(host, port) for _ in range(CLIENTS)]
        for c in clients:
            c.start()
        deadline = time.time() + 10
        while hub.n_clients < CLIENTS and time.time() < deadline:
            time.sleep(0.01)
        res = measured_phase(run, hub, clients, WARM_FIRST, MEASURED_FIRST, TIMED_FILES, "live")
        check_phase(run, res, clients, "live")
        _, fresh, alert_fresh = e2e_of(res, clients)
        run.attempted += len(res["due"]) * CLIENTS
        run.failed += len(res["due"]) * CLIENTS - len(fresh)
        run.note(
            f"live probe: freshness ms {[round(x) for x in fresh]} alerts {[round(x) for x in alert_fresh]} "
            f"backlog {res['backlog']}"
        )
        layer_of(run, res, hub, clients, fresh, alert_fresh)
    finally:
        for c in clients:
            c.close()
        hub.stop()


def layer_of(run: Run, res: dict, hub, clients, fresh, alert_fresh) -> None:
    trig_a, trig_b = res["trig_a"], res["trig_b"]
    trigger_spans(run.tracer, trig_a, "pipeline")
    trigger_spans(run.tracer, trig_b, "stateful")
    layer = pipeline_layer(trig_a)
    layer["pipeline.jobs_per_trigger"] = res["jobs"] / max(res["n_trig"], 1)
    run.layer.update(layer)
    run.layer["sources.backlog_files_max"] = float(max(res["backlog"]))
    run.layer["sinks.route_ms_p50"] = median(run.tracer.durations_ms("sinks.route_foreach_batch"))
    run.layer["serving.snapshot_ms_p50"] = median(run.tracer.durations_ms("serving.snapshot"))
    run.layer["serving.driver_rows"] = median(res["phase"].driver_rows)
    run.layer["push.broadcast_ms_p50"] = median(run.tracer.durations_ms("push.broadcast"))
    lag = []
    for k in res["due"]:
        for c in clients:
            with c.lock, hub.lock:
                if k in c.points_at and k in hub.enqueued_at:
                    lag.append((c.points_at[k] - hub.enqueued_at[k]) * 1000.0)
    run.layer["push.client_lag_ms_p50"] = median(lag)
    run.layer["push.delivered_ratio"] = sum(c.frames for c in clients) / max(hub.enqueued, 1)
    run.layer["stateful.trigger_ms_p50"] = median([t.total_ms for t in trig_b])
    files = res["phase"].files
    run.layer["stateful.emit_ratio"] = len(gen.expected_alerts(files)) / max(len(gen.alert_candidates(files)), 1)
    run.layer["live.freshness_ms_p50"] = median(fresh)
    run.layer["live.alert_freshness_ms_p50"] = median(alert_fresh)
    run.layer["live.gen_late_ms_max"] = max(res["gen_late"])
