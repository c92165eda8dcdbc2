"""Stand-in for the Orion broker that the HTTP sink writes back to, run
as its own process so the Spark driver never serves its own results.

Usage: python3 collector.py
Prints the bound port on its first stdout line, then records every
POST as ``[receipt_epoch_s, path, body]``.  ``GET /stats`` answers
``{"n": <records>}``; ``GET /dump?since=K`` answers the records from
index K on.  The process exits when its stdin closes, so it never
outlives the benchmark that started it.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit


def main() -> None:
    records: list[list] = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 (http.server API)
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            with lock:
                records.append([time.time(), self.path, body.decode()])
            self.send_response(204)
            self.end_headers()

        def do_GET(self):  # noqa: N802
            url = urlsplit(self.path)
            with lock:
                if url.path == "/stats":
                    out = {"n": len(records)}
                else:
                    since = int(parse_qs(url.query).get("since", ["0"])[0])
                    out = records[since:]
            data = json.dumps(out).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    thread = threading.Thread(target=server.serve_forever)
    thread.start()
    print(server.server_port, flush=True)
    sys.stdin.read()
    server.shutdown()
    server.server_close()
    thread.join()


if __name__ == "__main__":
    main()
