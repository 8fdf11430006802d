"""Local stand-in for the Copernicus band endpoint, with counters.

Serves the three URL shapes ``plans.acquisition.HttpBandSource`` and
``sources.http_bands`` use:

- ``GET /token`` returns ``{"access_token": ...}``;
- ``GET /band/<product>/<band>`` answers 302 to ``/data/<product>/<band>``,
  as the real ``Products(..)/Nodes(..)/$value`` chain redirects to object
  storage, or 503 when the product is in the seeded failure set;
- ``GET /data/<product>/<band>`` returns the GeoTIFF bytes, which are
  encoded once by the caller before the server starts.

At most ``max_connections`` requests are served at once; further
requests wait. ``peak_connections`` counts requests that have arrived and
not finished, including waiting ones, so a client that opens more than
the quota shows up in it.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


@dataclass
class ServerCounters:
    token_requests: int = 0
    band_requests: int = 0  # /band/... (one per band fetch attempt)
    data_requests: int = 0  # /data/... after the redirect
    bytes_sent: int = 0
    http_errors: int = 0  # every 4xx/5xx response
    injected_503: int = 0
    busy_s: float = 0.0  # summed handler wall time
    peak_connections: int = 0

    def minus(self, other: "ServerCounters") -> "ServerCounters":
        """Counter deltas between two snapshots (peak is kept as is)."""
        out = ServerCounters(
            **{k: getattr(self, k) - getattr(other, k) for k in self.__dataclass_fields__}
        )
        out.peak_connections = self.peak_connections
        return out


class BandServer:
    """Threaded HTTP band server on 127.0.0.1 with an ephemeral port."""

    def __init__(
        self,
        payloads: dict[tuple[str, str], bytes],
        fail_products: frozenset[str] = frozenset(),
        max_connections: int = 4,
    ):
        self.payloads = payloads
        self.fail_products = fail_products
        self._slots = threading.BoundedSemaphore(max_connections)
        self._lock = threading.Lock()
        self._active = 0
        self._issued = 0
        self._c = ServerCounters()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> str:
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_GET(self):
                server._handle(self)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self._httpd.server_address[1]}"

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._thread.join(timeout=10)
            self._httpd = None

    def __enter__(self) -> "BandServer":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._httpd.server_address[1]}"

    def counters(self) -> ServerCounters:
        with self._lock:
            return ServerCounters(**vars(self._c))

    # -- request handling --------------------------------------------------
    def _handle(self, h: BaseHTTPRequestHandler) -> None:
        with self._lock:
            self._active += 1
            self._c.peak_connections = max(self._c.peak_connections, self._active)
        try:
            with self._slots:
                t0 = time.perf_counter()
                status, headers, body, kind = self._route(h)
                h.send_response(status)
                for k, v in headers.items():
                    h.send_header(k, v)
                h.send_header("Content-Length", str(len(body)))
                h.end_headers()
                h.wfile.write(body)
                dt = time.perf_counter() - t0
        finally:
            with self._lock:
                self._active -= 1
        with self._lock:
            c = self._c
            c.busy_s += dt
            c.bytes_sent += len(body)
            if kind:
                setattr(c, kind, getattr(c, kind) + 1)
            if status >= 400:
                c.http_errors += 1
            if status == 503:
                c.injected_503 += 1

    def _route(self, h: BaseHTTPRequestHandler) -> tuple[int, dict, bytes, str | None]:
        path = h.path
        if path == "/token":
            with self._lock:
                self._issued += 1
                tok = f"tok-{self._issued}"
            return 200, {}, json.dumps({"access_token": tok}).encode(), "token_requests"
        parts = path.strip("/").split("/")
        if len(parts) != 3 or parts[0] not in ("band", "data"):
            return 404, {}, b"", None
        kind, pid, band = parts
        if kind == "band":
            if pid in self.fail_products:
                return 503, {}, b"", "band_requests"
            return 302, {"Location": f"/data/{pid}/{band}"}, b"", "band_requests"
        if not h.headers.get("Authorization", "").startswith("Bearer tok-"):
            return 401, {}, b"", "data_requests"
        body = self.payloads.get((pid, band))
        if body is None:
            return 404, {}, b"", "data_requests"
        return 200, {"Content-Type": "image/tiff"}, body, "data_requests"
