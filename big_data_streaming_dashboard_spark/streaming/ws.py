"""WebSocket push serving: the reference backend's `/ws` broadcast
(backend/main.py:53-106) as a foreachBatch sink.

The reference serves `/ws` and broadcasts each Kafka record as a JSON
text message with a `data_priority` tag (backend/main.py:90-99). This
module is that last hop: a stdlib RFC 6455 hub -- no websocket library
in the container, and none is needed for a server->client broadcast --
plus the foreachBatch sink that feeds it.

- handshake: HTTP/1.1 101 with Sec-WebSocket-Accept =
  base64(sha1(Sec-WebSocket-Key + GUID))  (RFC 6455 section 4.2.2)
- data: FIN text frames (opcode 0x1), server->client frames unmasked
  (section 5.1), 7/16/64-bit payload-length encoding (section 5.2)

The broadcast loop is write-only like the reference's (`send_text` in
a loop; disconnects are discovered as write failures and the client
is dropped -- backend/main.py:65-71). Client ping/close frames are
therefore not parsed; a stalled or closed peer is reclaimed by the
write failure or the idle timeout. `/health` returns the S14 gauge
{status, connected_clients} (backend/main.py:112-114).

Scale note: everything upstream is Spark; the per-batch collect()
ships only the routed/alert serving stream and is capped at the W8
retention size (ws_foreach_batch.max_rows_per_batch -- a catch-up
batch after downtime would otherwise be an unbounded driver
materialization). Per-client queues are bounded drop-oldest, so one
stalled browser can't hold the hub's memory.
"""

from __future__ import annotations

import base64
import hashlib
import json
import queue
import struct
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .serving import priority_tag

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def websocket_accept_key(key: str) -> str:
    """RFC 6455 section 4.2.2 handshake digest."""
    return base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()
    ).decode()


def text_frame(payload: bytes) -> bytes:
    """One FIN text frame, unmasked (server->client, RFC 6455 5.1/5.2)."""
    n = len(payload)
    if n < 126:
        header = struct.pack("!BB", 0x81, n)
    elif n < 1 << 16:
        header = struct.pack("!BBH", 0x81, 126, n)
    else:
        header = struct.pack("!BBQ", 0x81, 127, n)
    return header + payload


def _offer(q: queue.Queue, item: Any) -> int:
    """Enqueue without blocking, evicting the oldest entries until the
    item fits; returns how many were evicted. A stalled client's queue
    is full and never drains (its handler is wedged in a socket
    write), so a blocking put would wedge the hub, and a blocking
    shutdown sentinel would deadlock stop()."""
    evicted = 0
    while True:
        try:
            q.put_nowait(item)
            return evicted
        except queue.Full:
            try:
                q.get_nowait()
                evicted += 1
            except queue.Empty:
                pass


class WebSocketBroadcaster:
    """Stdlib `/ws` hub: GET /ws upgrades and streams JSON text frames,
    GET /health returns the S14 gauge, each client owns a bounded
    drop-oldest queue, and fan-out iterates a snapshot of the client
    list so disconnects never stall the loop (the reference's
    copy-on-iterate)."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        max_queue_frames: int = 256,
        client_idle_timeout: float = 60.0,
    ) -> None:
        # A stalled client holds at most max_queue_frames of backlog:
        # newer frames evict the oldest (a live dashboard wants the
        # newest state, same reason W8 keeps the newest 2000);
        # dropped_frames counts evictions. client_idle_timeout evicts a
        # client whose queue stays empty that long -- with pipeline
        # heartbeats flowing, an empty queue means the hub stopped
        # serving this client.
        self._clients: dict[int, queue.Queue] = {}
        self._lock = threading.Lock()
        self._next_id = 0
        self._max_queue_frames = max_queue_frames
        self._client_idle_timeout = client_idle_timeout
        self.dropped_frames = 0
        hub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args: Any) -> None:
                pass

            def do_GET(self) -> None:
                if self.path == "/health":
                    body = json.dumps(hub.health()).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                if self.path != "/ws":
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                key = self.headers.get("Sec-WebSocket-Key")
                upgrade = (self.headers.get("Upgrade") or "").lower()
                if not key or upgrade != "websocket":
                    self.send_response(400)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                self.send_response(101, "Switching Protocols")
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept", websocket_accept_key(key))
                self.end_headers()

                q: queue.Queue = queue.Queue(maxsize=hub._max_queue_frames)
                with hub._lock:
                    cid = hub._next_id
                    hub._next_id += 1
                    hub._clients[cid] = q
                try:
                    while True:
                        try:
                            frame = q.get(timeout=hub._client_idle_timeout)
                        except queue.Empty:
                            break  # idle past heartbeat cadence -> evict
                        if frame is None:
                            break
                        self.wfile.write(frame)
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass
                finally:
                    with hub._lock:
                        hub._clients.pop(cid, None)
                    self.close_connection = True

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    def start(self) -> tuple[str, int]:
        self._thread.start()
        host, port = self._server.server_address[:2]
        return str(host), int(port)

    @property
    def n_clients(self) -> int:
        with self._lock:
            return len(self._clients)

    def health(self) -> dict[str, Any]:
        # S14 shape (backend/main.py:112-114)
        return {"status": "healthy", "connected_clients": self.n_clients}

    def broadcast(self, payloads: list[str]) -> None:
        if not payloads:
            return
        frames = b"".join(text_frame(p.encode()) for p in payloads)
        with self._lock:
            targets = list(self._clients.values())
        for q in targets:
            self.dropped_frames += _offer(q, frames)

    def heartbeat(self) -> None:
        """The keep-alive message clients drop (F7, useWebsocket.js:42-44)."""
        self.broadcast([json.dumps({"type": "heartbeat"})])

    def stop(self) -> None:
        with self._lock:
            targets = list(self._clients.values())
            self._clients.clear()
        for q in targets:
            _offer(q, None)
        self._server.shutdown()
        self._server.server_close()


def ws_foreach_batch(hub: WebSocketBroadcaster, max_rows_per_batch: int = 2000):
    """S12 sink: each micro-batch of the serving stream is serialized
    to one JSON object per record (`data_priority` tagged like
    backend/main.py:92-97 when the batch carries a `critical` column)
    and fanned out to every connected client.

    The driver-side materialization is CAPPED at max_rows_per_batch
    (default = W8's 2000-point retention): a steady-state trigger
    batch is far smaller, but a catch-up batch after downtime is
    unbounded, and an unbounded collect() is a driver OOM. The cap
    keeps the NEWEST rows by event time (TakeOrderedAndProject --
    per-partition heaps, no global sort), matching what a live
    dashboard can display anyway; older catch-up rows are superseded
    state, same semantics as recent_points. Pair with
    maxOffsetsPerTrigger / maxFilesPerTrigger on the source to bound
    the batch before it reaches the sink.
    """

    def fn(batch: DataFrame, epoch_id: int) -> None:
        df = priority_tag(batch) if "critical" in batch.columns else batch
        order = [F.col(c).desc() for c in ("timestamp", "event_id") if c in df.columns]
        if order:
            df = df.orderBy(*order)
        rows = (
            df.limit(max_rows_per_batch)
            .select(F.to_json(F.struct(*df.columns)).alias("j"))
            .collect()
        )
        hub.broadcast([r["j"] for r in rows])

    return fn
