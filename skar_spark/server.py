"""HTTP query server — serve the JSON query API over an encoded table.

The reference is an HTTP server end-to-end (skar/src/server.rs: POST a
query document, get rows + next_block back). This is its Spark analog:
a thin stdlib `http.server` front over `skar_spark.query.run_query`,
so a client can POST the reference-shaped query JSON and sync with the
`next_cursor` / `archive_height` loop (README.md:200-205 protocol).

Endpoints:

    POST /query     body = query dict (see skar_spark.query)
                    → 200 {"rows": [...], "num_rows", "truncated",
                           "next_cursor", "archive_height"}
                    → 400 {"error": ...} on a malformed query
    GET  /height    → 200 {"archive_height": N}   (archive_height poll)

Queries decode on the driver itself, with no Spark job. The server is
a plain (not threading) `HTTPServer`, so its one serving thread handles
requests one at a time — one driver, one query at a time; the
reference's query concurrency also bounds on a semaphore (server.rs).
`serve(...)` returns the live HTTPServer; call `.shutdown()` to stop
it. For production-scale concurrency run several servers over the same
table directory — all state is on disk.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

from pyspark.sql import SparkSession

from skar_spark.engine.decode import list_part_files
from skar_spark.query import archive_height, run_query


def _make_handler(spark: SparkSession, out_dir: str):

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (stdlib API)
            if self.path.rstrip("/") != "/height":
                self._send(404, {"error": "unknown endpoint"})
                return
            self._send(200, {"archive_height": archive_height(
                list_part_files(out_dir))})

        def do_POST(self):  # noqa: N802 (stdlib API)
            if self.path.rstrip("/") != "/query":
                self._send(404, {"error": "unknown endpoint"})
                return
            try:
                n = int(self.headers.get("Content-Length", "0"))
                query = json.loads(self.rfile.read(n) or b"{}")
                if not isinstance(query, dict):
                    raise ValueError("query body must be a JSON object")
            except (ValueError, json.JSONDecodeError) as e:
                self._send(400, {"error": f"bad query: {e}"})
                return
            try:
                res = run_query(spark, out_dir, query)
            except (ValueError, KeyError, TypeError) as e:
                # query-shape errors (bad timestamp, wrong types) are
                # the CLIENT's fault → 400; anything else is a server-
                # side failure → 500 so syncing clients retry instead
                # of dead-lettering a valid request
                self._send(400, {"error": f"{type(e).__name__}: {e}"})
                return
            except Exception as e:
                self._send(500, {"error": f"{type(e).__name__}: {e}"})
                return
            self._send(200, res)

        def log_message(self, *args):  # quiet: no per-request stderr
            pass

    return Handler


def serve(spark: SparkSession, out_dir: str, host: str = "127.0.0.1",
          port: int = 0) -> HTTPServer:
    """Start the query server on a daemon thread; returns the
    HTTPServer (its bound port is `server.server_address[1]` — port 0
    picks a free one). Call `.shutdown()` to stop."""
    srv = HTTPServer((host, port), _make_handler(spark, out_dir))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
