"""In-process mock of the PostgREST and Storage endpoints the ETL sinks
talk to (``io.rest_sink.upsert_rest`` and ``upload_to_storage``).

The request handler parses nothing: it reads the body, keeps a
reference to it, bumps counters and answers (with faults armed it also
takes the body's CRC). Everything that looks inside a body (row counts,
duplicates, JSON parsing) happens in :meth:`MockPostgrest.end_pass`,
after the pass has been timed.

It speaks HTTP/1.1 with keep-alive, so a client that reuses connections
shows up as fewer ``connections`` than ``requests``.

Fault injection: chunks are keyed by a digest of their bytes. Once
:meth:`arm_faults` has been given the chunks seen in an unfaulted pass,
the chunks whose seeded rank is lowest in their table answer 503 on
their first attempt in every pass, so each pass injects the same exact
number of faults into the same tables and the sink's retries are an
exact count. The seed moves faults between chunks of a table, never
between tables, so it does not change which op pays the retry.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
import zlib
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    mock: MockPostgrest  # set on the per-server subclass

    def setup(self):
        super().setup()
        self.mock._count_connection()

    def do_POST(self):
        t0 = time.perf_counter()
        length = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(length)
        code = self.mock._record(self.path, body)
        self.send_response(code)
        self.send_header("Content-Length", "0")
        self.end_headers()
        self.mock._add_busy(time.perf_counter() - t0)

    def log_message(self, *args):
        pass


class MockPostgrest:
    """Serve ``/rest/v1/<table>`` and ``/storage/v1/object/<bucket>/<path>``
    on localhost in a daemon thread. Use as a context manager."""

    def __init__(self, fault_seed: int = 0, fault_share: float = 0.0):
        handler = type("Handler", (_Handler,), {"mock": self})
        self._server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._lock = threading.Lock()
        self.fault_seed = fault_seed
        self.fault_share = fault_share
        self._fault_digests: frozenset[int] = frozenset()
        self._reset()

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def __enter__(self) -> MockPostgrest:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    # -- request path (constant work per request) -------------------------

    def _reset(self) -> None:
        self._requests: list[tuple[str, bytes, int]] = []
        self._connections = 0
        self._busy_s = 0.0
        self._faulted: set[int] = set()

    def _count_connection(self) -> None:
        with self._lock:
            self._connections += 1

    def _add_busy(self, dt: float) -> None:
        with self._lock:
            self._busy_s += dt

    def _record(self, path: str, body: bytes) -> int:
        code = 201
        if path.startswith("/rest/") and self._fault_digests:
            digest = zlib.crc32(body)
            with self._lock:
                if digest in self._fault_digests and digest not in self._faulted:
                    self._faulted.add(digest)
                    code = 503
        with self._lock:
            self._requests.append((path, body, code))
        return code

    # -- between passes ---------------------------------------------------

    def begin_pass(self) -> None:
        with self._lock:
            self._reset()

    def arm_faults(self, chunks: dict[str, list[int]]) -> int:
        """Fault ``fault_share`` of each table's chunks (``{table:
        [digest, ...]}``, rounded, and at least one in the table with the
        most chunks) on their first attempt in each later pass. Returns
        the number of faulted chunks."""
        if not self.fault_share or not chunks:
            return 0

        def rank(d: int) -> bytes:
            return hashlib.blake2b(f"{self.fault_seed}:{d}".encode(), digest_size=8).digest()

        largest = max(chunks, key=lambda t: len(chunks[t]))
        faulted: set[int] = set()
        for table, digests in chunks.items():
            k = round(len(digests) * self.fault_share) or int(table == largest)
            faulted.update(sorted(set(digests), key=rank)[:k])
        self._fault_digests = frozenset(faulted)
        return len(faulted)

    def end_pass(self) -> dict:
        """Take this pass's requests and summarize them. Parses every
        accepted REST body, so call it outside the timed region."""
        with self._lock:
            requests, connections, busy = self._requests, self._connections, self._busy_s
            self._reset()
        rest_rows: dict[str, Counter] = {}
        storage: dict[str, bytes] = {}
        chunks: dict[str, list[int]] = {}
        rejected: set[int] = set()
        n_rest = rest_bytes = n_storage = 0
        for path, body, code in requests:
            if path.startswith("/rest/v1/"):
                n_rest += 1
                rest_bytes += len(body)
                digest = zlib.crc32(body)
                if code >= 400:
                    rejected.add(digest)
                    continue
                table = path[len("/rest/v1/") :]
                chunks.setdefault(table, []).append(digest)
                rows = rest_rows.setdefault(table, Counter())
                for row in json.loads(body):
                    rows[json.dumps(row, sort_keys=True, ensure_ascii=False)] += 1
            elif path.startswith("/storage/v1/object/"):
                n_storage += 1
                key = path.split("?", 1)[0].rsplit("/", 1)[-1]
                storage[key.removesuffix(".csv")] = body
        accepted = {d for digests in chunks.values() for d in digests}
        received = sum(sum(c.values()) for c in rest_rows.values())
        distinct = sum(len(c) for c in rest_rows.values())
        return {
            "tables": {t: {"rows": sum(c.values()), "distinct": len(c)} for t, c in rest_rows.items()},
            "storage": storage,
            "chunks": chunks,
            "requests": n_rest,
            "connections": connections,
            "rows_received": received,
            "duplicate_rows": received - distinct,
            "bytes_received": rest_bytes,
            # requests beyond the first for each distinct chunk
            "retries": n_rest - len(accepted | rejected),
            "failed_chunks": len(rejected - accepted),
            "server_busy_s": busy,
            "storage_requests": n_storage,
            "storage_bytes": sum(len(b) for b in storage.values()),
        }
