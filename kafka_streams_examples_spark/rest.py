"""Interactive-query REST layer (SURVEY §2.7 Q1-Q5 + Q7).

A thin stdlib-only HTTP facade over the StateStore query surface
(serving.py) mirroring the reference's endpoints:

- GET /state/keyvalue/{store}/{key}           -> Q1 point lookup
  (WordCountInteractiveQueriesRestService.java:83-107)
- GET /state/keyvalues/{store}/all            -> Q2 full scan (:122-126)
- GET /state/keyvalues/{store}/range/{a}/{b}  -> Q3 range scan (:137-143)
- GET /state/windowed/{store}/{key}/{a}/{b}   -> Q4 window fetch (:156-172)
- GET /search/{index}/{query}?k=N             -> ad-hoc lexical top-k over
  a registered serving.SearchIndex (persisted BM25 index) — the
  retrieval-family analog of the keyvalue routes (beyond-reference)
- GET /orders/{store}/{key}?timeout=ms        -> Q7 long-poll
  read-your-writes GET (OrdersService.java:148-187): blocks until the key
  materializes in the store or the timeout lapses (404).

Design note: the reference needs host discovery + remote forwarding (Q6)
because state is partitioned across app instances; here every store is a
Spark table, so any instance can answer any key and Q6 is structurally
unnecessary. Every store call reads the state layout again
(serving.DiskStateStore reads the live bucket directories; a point lookup
reads one of them with pyarrow, without Spark), so the long-poll loop sees
buckets swapped in by a streaming upsert (KTableMaterializer) mid-poll —
the reference's outstanding-requests map collapses to polling the
materialized table.

Malformed input is the caller's error: a path too short for its route or
an unknown store is a 404 (a long-poll does not wait for one) and a
non-integer ``k`` or ``timeout`` is a 400. A key or range bound
that does not cast to its column's type (``a`` against a bigint key) matches
nothing, so the route answers 200 with ``[]``, as for a key that is absent.

No third-party web framework: ThreadingHTTPServer + JSON, test-driven the
same way the reference drives its REST service in
WordCountInteractiveQueriesExampleTest.
"""

from __future__ import annotations

import json
import logging
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

log = logging.getLogger(__name__)


def _rows_json(rows) -> bytes:
    return json.dumps([r.asDict() if hasattr(r, "asDict") else dict(r)
                       for r in rows], default=str).encode()


class InteractiveQueryService:
    """Serve registered StateStores over HTTP; port 0 = ephemeral."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 poll_interval: float = 0.1):
        self.stores: dict[str, object] = {}
        self.poll_interval = poll_interval
        svc = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def _send(self, code: int, body: bytes) -> None:
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802 (http.server contract)
                route = None
                try:
                    url = urlparse(self.path)
                    parts = [unquote(p) for p in url.path.strip("/").split("/")]
                    route = "/".join(parts[:2] if parts[0] == "state" else parts[:1])
                    q = parse_qs(url.query)
                    if parts[0] == "state":
                        self._send(*svc._state(parts[1:]))
                    elif parts[0] in ("search", "orders") and len(parts) == 3:
                        arg, default, route = (
                            ("k", "5", svc._search) if parts[0] == "search"
                            else ("timeout", "1000", svc._long_poll))
                        try:
                            n = int(q.get(arg, [default])[0])
                        except ValueError:
                            self._send(400, json.dumps(
                                {"error": f"{arg} must be an int"}).encode())
                            return
                        self._send(*route(parts[1], parts[2], n))
                    else:
                        self._send(404, b'{"error": "no such route"}')
                except Exception as ex:  # surface handler bugs as 500s
                    log.exception("GET route %s failed for path %s",
                                  route, self.path)
                    self._send(500, json.dumps({"error": str(ex)}).encode())

        self.server = ThreadingHTTPServer((host, port), Handler)
        self.port = self.server.server_address[1]
        self._thread = threading.Thread(target=self.server.serve_forever,
                                        daemon=True)

    # -- route implementations ------------------------------------------

    def _state(self, parts: list[str]) -> tuple[int, bytes]:
        if len(parts) < 3:
            return 404, b'{"error": "no such state route"}'
        kind, store_name, arg = parts[:3]
        store = self.stores.get(store_name)
        if store is None:
            return 404, b'{"error": "no such store"}'
        n = len(parts)
        if kind == "keyvalue" and n == 3:                       # Q1
            return 200, _rows_json(store.get(arg))
        if kind == "keyvalues" and arg == "all" and n == 3:     # Q2
            return 200, _rows_json(store.all().collect())
        if kind == "keyvalues" and arg == "range" and n == 5:   # Q3
            return 200, _rows_json(store.range(parts[3], parts[4]).collect())
        if kind == "windowed" and n == 5:                       # Q4
            return 200, _rows_json(
                store.fetch_window(arg, parts[3], parts[4]).collect())
        return 404, b'{"error": "no such state route"}'

    def _search(self, index_name: str, text: str,
                k: int) -> tuple[int, bytes]:
        # GET /search/{index}/{query}?k=N — ad-hoc lexical top-k over a
        # registered serving.SearchIndex (persisted BM25 index); the
        # retrieval-family analog of the keyvalue routes
        idx = self.stores.get(index_name)
        if idx is None or not hasattr(idx, "search"):
            return 404, b'{"error": "no such index"}'
        return 200, _rows_json(idx.search(text, k))

    def _long_poll(self, store_name: str, key: str,
                   timeout_ms: int) -> tuple[int, bytes]:    # Q7
        if store_name not in self.stores:
            return 404, b'{"error": "no such store"}'
        deadline = time.time() + timeout_ms / 1000.0
        while True:
            # re-read each poll: an upsert may register a new store object
            rows = self.stores[store_name].get(key)
            if rows:
                return 200, _rows_json(rows)
            if time.time() >= deadline:
                return 404, b'{"error": "timeout"}'
            time.sleep(self.poll_interval)

    # -- lifecycle ------------------------------------------------------

    def register(self, name: str, store) -> None:
        self.stores[name] = store

    def start(self) -> "InteractiveQueryService":
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
