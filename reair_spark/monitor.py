"""S10 — the monitoring *serving* endpoint.

Reference parity: the Thrift service (`thrift/src/main/resources/
reair.thrift`: getActiveJobs / getRetiredJobs / getLag / pause /
resume, served by `ReplicationServer.java:515-590`) plus the read-only
web UI (`web-server/.../WebServer.java:97`). The engine's equivalent
is a stdlib HTTP server over the persisted state dir — JSON instead
of Thrift structs, same data:

    GET  /             → human-readable HTML progress page (web UI parity)
    GET  /status        → state.status_snapshot (counts, lag, actives)
    GET  /jobs/active   → in-flight job rows
    GET  /jobs/retired  → terminal job rows
    GET  /lag           → {"lag_seconds": ...}
    POST /pause         → sets paused=true in the checkpoint KV
    POST /resume        → clears it

pause/resume are REAL, not lifecycle stubs: `events.run_incremental`
checks the flag each batch, whatever source it polls (a static events
table or the JDBC audit tail), so pausing through this endpoint stops
a running loop at the next batch boundary — the same semantics the
Thrift service's pause gives the reference's copy workers. The
`--streaming` mode (`streaming.stream_replicate`) does not read the
flag: its position lives in the Structured Streaming checkpoint, not
the state KV, so it is stopped by stopping the query.

Everything reads the JobStore transition log on request (no engine
attachment), so the server can inspect a crashed deployment — the
operator workflow the reference's web UI exists for.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from reair_spark.state import JobStore, KeyValueStore, status_snapshot


def _html_escape(v) -> str:
    return (
        str(v)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def render_status_html(snap: dict) -> str:
    """Render a status snapshot as the human-readable progress page —
    parity with the reference's read-only web UI
    (web-server/.../WebServer.java:97 serving the progress servlet).
    Plain stdlib string assembly: the page is a table over the same
    snapshot the JSON endpoint serves, nothing client-side."""
    counts = "".join(
        f"<tr><td>{_html_escape(k)}</td><td>{v}</td></tr>"
        for k, v in sorted(snap["status_counts"].items())
    )
    jobs = "".join(
        "<tr>" + "".join(
            f"<td>{_html_escape(j[c])}</td>"
            for c in ("job_id", "operation", "status", "db", "table", "src_event_id")
        ) + "</tr>"
        for j in snap["active_jobs"]
    )
    return f"""<!DOCTYPE html>
<html><head><title>reair_spark replication status</title>
<style>body{{font-family:sans-serif;margin:2em}}table{{border-collapse:collapse}}
td,th{{border:1px solid #999;padding:4px 8px}}</style></head><body>
<h1>Replication status</h1>
<p>last_persisted_id: <b>{snap["last_persisted_id"]}</b> &middot;
active jobs: <b>{snap["n_active"]}</b> &middot;
retired jobs: <b>{snap["n_retired"]}</b> &middot;
lag: <b>{snap["lag_seconds"]}s</b></p>
<h2>Job counts by status</h2>
<table><tr><th>status</th><th>count</th></tr>{counts}</table>
<h2>Active jobs</h2>
<table><tr><th>job_id</th><th>operation</th><th>status</th><th>db</th>
<th>table</th><th>src_event_id</th></tr>{jobs}</table>
</body></html>"""


def _job_rows(df, limit: int) -> list[dict]:
    return [
        r.asDict()
        for r in df.orderBy("job_id")
        .limit(limit)
        .select("job_id", "operation", "status", "db", "table", "src_event_id")
        .collect()
    ]


def make_handler(spark: SparkSession, state_dir: str, max_rows: int = 100):
    def store() -> JobStore:
        return JobStore(spark, f"{state_dir}/replication_jobs")

    def kv() -> KeyValueStore:
        return KeyValueStore(f"{state_dir}/key_value.json")

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet: tests/operators poll
            pass

        def _send(self, obj, code: int = 200) -> None:
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:
            try:
                if self.path in ("/", "/index.html"):
                    body = render_status_html(
                        status_snapshot(spark, state_dir, max_rows)
                    ).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html; charset=utf-8")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                elif self.path == "/status":
                    self._send(status_snapshot(spark, state_dir, max_rows))
                elif self.path == "/jobs/active":
                    self._send({"jobs": _job_rows(store().incomplete(), max_rows)})
                elif self.path == "/jobs/retired":
                    self._send({"jobs": _job_rows(store().retired(), max_rows)})
                elif self.path == "/lag":
                    self._send({"lag_seconds": round(store().lag_seconds(), 1)})
                else:
                    self._send({"error": "not found"}, 404)
            except Exception as ex:  # surface, don't kill the server
                self._send({"error": str(ex)}, 500)

        def do_POST(self) -> None:
            try:
                if self.path == "/pause":
                    kv().set("paused", "true")
                    self._send({"paused": True})
                elif self.path == "/resume":
                    kv().set("paused", "false")
                    self._send({"paused": False})
                else:
                    self._send({"error": "not found"}, 404)
            except Exception as ex:
                self._send({"error": str(ex)}, 500)

    return Handler


def serve_monitor(
    spark: SparkSession, state_dir: str, port: int = 0
) -> ThreadingHTTPServer:
    """Start the monitoring server on a daemon thread; port 0 picks a
    free port (read it back from ``server.server_address[1]``).
    Call ``server.shutdown()`` to stop."""
    server = ThreadingHTTPServer(
        ("127.0.0.1", port), make_handler(spark, state_dir)
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
