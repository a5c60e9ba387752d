"""Loopback GHArchive stand-in: serves ``/<hour key>.json.gz`` from
memory, 404 for hours the archive lacks, at most ``k`` requests at a
time, and counts what it served."""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from gen import Archive


class ArchiveServer:
    def __init__(self, archive: Archive, max_conns: int):
        self.archive = archive
        self._slots = threading.BoundedSemaphore(max_conns)
        self._lock = threading.Lock()
        self.requests = self.bytes = self.not_found = self.lines = 0
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - http.server API
                with outer._slots:
                    key = self.path.lstrip("/").removesuffix(".json.gz")
                    body = outer.archive.files.get(key)
                    with outer._lock:
                        outer.requests += 1
                        if body is None:
                            outer.not_found += 1
                        else:
                            outer.bytes += len(body)
                            outer.lines += outer.archive.lines[key]
                    if body is None:
                        self.send_error(404)
                        return
                    self.send_response(200)
                    self.send_header("Content-Type", "application/gzip")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)

            def log_message(self, *args):
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="archive-server"
        )

    @property
    def base_url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def counters(self) -> dict[str, int]:
        with self._lock:
            return {"requests": self.requests, "bytes": self.bytes,
                    "not_found": self.not_found, "lines": self.lines}

    def start(self) -> ArchiveServer:
        self._thread.start()
        return self

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)
