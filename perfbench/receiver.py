"""Stdlib HTTP webhook receiver that runs in the benchmark process."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class Receiver:
    """Accepts POSTed JSON receipt documents and keeps every one."""

    def __init__(self) -> None:
        self.docs: list[dict] = []
        self._lock = threading.Lock()
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 - stdlib hook name
                body = self.rfile.read(int(self.headers["Content-Length"]))
                with receiver._lock:
                    receiver.docs.append(json.loads(body))
                self.send_response(200)
                self.end_headers()

            def log_message(self, *args) -> None:
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}/receipts"

    def __enter__(self) -> Receiver:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=30)

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.docs)
