"""HTTP wire for the serving layer — the reference's three routes on the
Python stdlib only (the container ships no web framework; swapping in
Flask/FastAPI is a 1:1 handler rewrite).

Routes (upstream:app.py parity):

  GET  /<user_id>/ratings/top/<count>   -> [{"item_id":..,"score":..}, ...]
  GET  /<user_id>/ratings/<item_id>     -> [{"item_id":..,"score":..}]
  POST /<user_id>/ratings               -> {"accepted": n}
       body: JSON [[item_id, strength], ...]

``ThreadingHTTPServer`` gives one thread per request — same model as the
reference's CherryPy front end.  A GET runs one Spark job (the user's rows)
and numpy on the driver when the service's generation is a snapshot, the
full distributed plan otherwise; Spark sessions are thread-safe for job
submission, so concurrent GETs become concurrent jobs scheduled FIFO, and
a retrain swaps the generation under them without tearing a read.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .serving import RecommendationService

_TOP = re.compile(r"^/(\d+)/ratings/top/(\d+)$")
_ONE = re.compile(r"^/(\d+)/ratings/(\d+)$")
_POST = re.compile(r"^/(\d+)/ratings$")


def _make_handler(service: RecommendationService):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 (stdlib API)
            # a service-side failure (stopped session, executor error mid
            # collect) must come back as a 500, not a killed socket with a
            # server-side traceback and no status line.  The payload is
            # COMPUTED inside the try and SENT outside it: with _send in
            # the try, a socket death mid-write would route into the
            # except and double-send a second status line onto the same
            # dead connection.
            try:
                code, payload = 404, {"error": f"no route for GET {self.path}"}
                m = _TOP.match(self.path)
                if m:
                    user_id, count = int(m.group(1)), int(m.group(2))
                    code, payload = 200, service.top_ratings(user_id, count)
                else:
                    m = _ONE.match(self.path)
                    if m:
                        user_id, item_id = int(m.group(1)), int(m.group(2))
                        code, payload = 200, service.ratings_for_items(
                            user_id, [item_id]
                        )
            except Exception as e:  # noqa: BLE001 — wire boundary
                code, payload = 500, {"error": f"{type(e).__name__}: {e}"[:500]}
            self._send(code, payload)

        def do_POST(self) -> None:  # noqa: N802 (stdlib API)
            m = _POST.match(self.path)
            if not m:
                self._send(404, {"error": f"no route for POST {self.path}"})
                return
            user_id = int(m.group(1))
            try:
                n = int(self.headers.get("Content-Length", 0))
                pairs = json.loads(self.rfile.read(n) or b"[]")
                # shape-check BEFORE unpacking: a dict body would iterate
                # its keys and a 2-char string key would "unpack" into a
                # bogus (item, strength) pair that 200s silently
                if not isinstance(pairs, list) or not all(
                    isinstance(p, (list, tuple)) and len(p) == 2 for p in pairs
                ):
                    self._send(
                        400, {"error": "body must be [[item_id, strength], ...]"}
                    )
                    return
                rows = [(user_id, int(i), float(s)) for i, s in pairs]
            except (ValueError, TypeError, json.JSONDecodeError) as e:
                self._send(400, {"error": f"bad body: {e}"})
                return
            try:
                accepted = service.add_ratings(rows)
            except Exception as e:  # noqa: BLE001 — wire boundary
                self._send(500, {"error": f"{type(e).__name__}: {e}"[:500]})
                return
            self._send(
                200,
                {
                    "accepted": accepted,
                    "pending_foldin_backlog": service.pending_foldin_backlog,
                },
            )

        def log_message(self, *args) -> None:  # quiet test output
            pass

    return Handler


def serve(service: RecommendationService, host: str = "127.0.0.1", port: int = 0):
    """Start the server on a background thread; returns (server, port).
    port=0 binds an ephemeral port (the test path); call
    ``server.shutdown()`` to stop."""
    srv = ThreadingHTTPServer((host, port), _make_handler(service))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
