"""In-process capture sink standing in for a ClickHouse HTTP server.

A stdlib threaded HTTP server that answers every POST with 200: DDL
statements (SQL in the body) and ``INSERT ... FORMAT JSONEachRow``
bodies (the statement in the ``query`` URL parameter). Per table it
counts rows, posts and body bytes, and it accumulates the time spent
reading bodies. Bodies are kept so that ``verify`` can check a load
against the generator's expectations after the timed region.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from gen import DIGEST_MASK, DIGEST_COLUMNS, MUTATION_TABLES, Expected, row_digest

_INSERT_RE = re.compile(r"INSERT INTO `([^`]+)`")
EVENT_ID = "MUTATION_EVENT_ID"


def _count_rows(body: bytes) -> int:
    return body.count(b"\n") + (0 if not body or body.endswith(b"\n") else 1)


class CaptureSink:
    """Start with ``CaptureSink()``; stop with ``close()``."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.reset()
        sink = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                t0 = time.perf_counter()
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                elapsed = time.perf_counter() - t0
                query = parse_qs(urlparse(self.path).query).get("query", [""])[0]
                m = _INSERT_RE.match(query)
                sink._record(m.group(1) if m else None, body, elapsed)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}"

    def reset(self) -> None:
        with self._lock:
            self.ddl_posts = 0
            self.server_s = 0.0
            self.rows: dict[str, int] = defaultdict(int)
            self.posts: dict[str, int] = defaultdict(int)
            self.bytes: dict[str, int] = defaultdict(int)
            self.bodies: dict[str, list[bytes]] = defaultdict(list)

    def _record(self, table: str | None, body: bytes, elapsed: float) -> None:
        with self._lock:
            self.server_s += elapsed
            if table is None:
                self.ddl_posts += 1
                return
            self.rows[table] += _count_rows(body)
            self.posts[table] += 1
            self.bytes[table] += len(body)
            self.bodies[table].append(body)

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=30)

    def verify(self, exp: Expected) -> list[str]:
        """Mismatches between what landed and ``exp`` (empty = correct):
        row counts of every table, the CNA digests, and dense unique
        ``MUTATION_EVENT_ID`` values in both mutation tables."""
        problems = []
        for table, want in exp.rows.items():
            if self.rows.get(table, 0) != want:
                problems.append(
                    f"{table}: landed {self.rows.get(table, 0)} rows,"
                    f" expected {want}"
                )
        for table, cols in DIGEST_COLUMNS.items():
            got = 0
            for row in self._json_rows(table):
                got += row_digest([row[c] for c in cols])
            if got & DIGEST_MASK != exp.digests[table]:
                problems.append(f"{table}: digest mismatch")
        for table in MUTATION_TABLES:
            ids = sorted(row[EVENT_ID] for row in self._json_rows(table))
            if ids != list(range(len(ids))):
                problems.append(f"{table}: {EVENT_ID} not dense and unique")
        return problems

    def _json_rows(self, table: str):
        for body in self.bodies.get(table, ()):
            for line in body.splitlines():
                if line:
                    yield json.loads(line)
