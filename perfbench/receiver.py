"""Localhost HTTP receiver: the sink target ``sinks.http_sink`` PUTs to.

It serves at most ``workers`` connections at once on a fixed pool of
``workers`` threads; further connections wait in the listen backlog. Each
body must parse as a JSON array, otherwise the request gets a 400. The
receiver keeps the parsed bodies per URL path until ``take`` hands them
over, and counts requests, bytes, non-2xx answers, repeated idempotency
keys (retries) and the time its handlers were busy.
"""

from __future__ import annotations

import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.0"

    def log_message(self, *args) -> None:  # keep stderr for the benchmark
        pass

    def do_PUT(self) -> None:
        self.server.owner._handle(self)

    do_POST = do_PUT


class _PoolServer(HTTPServer):
    def __init__(self, owner: "Receiver", workers: int):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.owner = owner
        self.pool = ThreadPoolExecutor(workers, thread_name_prefix="receiver")
        self.slots = threading.BoundedSemaphore(workers)

    def process_request(self, request, client_address) -> None:
        # accept no further connection until a worker is free
        self.slots.acquire()
        self.pool.submit(self._serve, request, client_address)

    def _serve(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)
            self.slots.release()


class Receiver:
    """Start with ``start()``; stop with ``close()``."""

    def __init__(self, workers: int):
        self._server = _PoolServer(self, workers)
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="receiver-accept", daemon=True
        )
        self._lock = threading.Lock()
        self._bodies: dict[str, list[list]] = {}
        self._keys: set[str] = set()
        self.requests = 0
        self.bytes = 0
        self.non_2xx = 0
        self.retries = 0
        self.busy_s = 0.0
        # planted fault: answer 200 but lose the n-th body from now on
        self._drop_at: int | None = None

    @property
    def url(self) -> str:
        host, port = self._server.server_address
        return f"http://{host}:{port}"

    def start(self) -> "Receiver":
        self._thread.start()
        return self

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._server.pool.shutdown(wait=True)
        self._thread.join(timeout=10)

    def counters(self) -> tuple[int, int, int, float, int]:
        """(requests, bytes, retries, busy seconds, non-2xx) so far."""
        with self._lock:
            return (self.requests, self.bytes, self.retries, self.busy_s,
                    self.non_2xx)

    def drop_body(self, nth: int) -> None:
        with self._lock:
            self._drop_at = self.requests + nth

    def take(self) -> dict[str, list[list]]:
        """Bodies received since the last call, per URL path."""
        with self._lock:
            out, self._bodies = self._bodies, {}
        return out

    def _handle(self, h: BaseHTTPRequestHandler) -> None:
        t0 = time.perf_counter()
        raw = h.rfile.read(int(h.headers.get("Content-Length") or 0))
        try:
            body = json.loads(raw)
            status = 200 if isinstance(body, list) else 400
        except ValueError:
            body, status = None, 400
        key = h.headers.get("Idempotency-Key") or ""
        with self._lock:
            self.requests += 1
            self.bytes += len(raw)
            if key in self._keys:
                self.retries += 1
            self._keys.add(key)
            if status != 200:
                self.non_2xx += 1
            elif self.requests != self._drop_at:
                self._bodies.setdefault(h.path, []).append(body)
        h.send_response(status)
        h.send_header("Content-Length", "0")
        h.end_headers()
        with self._lock:
            self.busy_s += time.perf_counter() - t0
