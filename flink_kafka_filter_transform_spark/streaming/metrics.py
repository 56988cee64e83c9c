"""O12: HTTP observability — /version and /metrics (OpenMetrics text).

Mirrors the reference's axum endpoints (/root/reference/src/main.rs:31-55,
port 9266 per k8s/deploy.yaml:37): GET /version returns the version
string, GET /metrics renders the two counter families

  flink_cdc_event_count{topic,db,table,op}            (inbound, O9)
  flink_kafka_filter_transform_count{topic,op}        (outbound, O10)

as Prometheus/OpenMetrics text. Counters are fed by direct ``inc_*``
calls from the service loop's foreachBatch body
(streaming.pipeline.metered_cdc_sink) — stdlib-only (http.server), no
engine dependency; the registry is a plain dict behind a lock exactly
like the reference's Arc<Mutex<Registry>> (src/main.rs:23).
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

VERSION = "1.0.0"  # mirrors GET /version in the reference
DEFAULT_PORT = 9266


class CounterRegistry:
    """Two monotone counter families keyed by their label tuples."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.cdc_event: dict[tuple[str, str, str, str], int] = {}
        self.transform: dict[tuple[str, str], int] = {}

    def inc_cdc_event(self, topic: str, db: str, table: str, op: str, n: int = 1) -> None:
        with self._lock:
            k = (topic, db, table, op)
            self.cdc_event[k] = self.cdc_event.get(k, 0) + n

    def inc_transform(self, topic: str, op: str, n: int = 1) -> None:
        with self._lock:
            k = (topic, op)
            self.transform[k] = self.transform.get(k, 0) + n

    @staticmethod
    def _esc(label: str) -> str:
        """OpenMetrics label-value escaping: labels come from CDC
        payloads (db/table names), so quotes/backslashes/newlines must
        be escaped or one hostile message breaks the whole scrape."""
        return label.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")

    def render(self) -> str:
        """OpenMetrics text exposition (counter families + # EOF)."""
        e = self._esc
        with self._lock:
            lines = [
                "# TYPE flink_cdc_event_count counter",
                "# HELP flink_cdc_event_count flink cdc event count",
            ]
            for (topic, db, table, op), v in sorted(self.cdc_event.items()):
                lines.append(
                    f'flink_cdc_event_count_total{{topic="{e(topic)}",db="{e(db)}",'
                    f'table="{e(table)}",op="{e(op)}"}} {v}'
                )
            lines += [
                "# TYPE flink_kafka_filter_transform_count counter",
                "# HELP flink_kafka_filter_transform_count transform count",
            ]
            for (topic, op), v in sorted(self.transform.items()):
                lines.append(
                    f'flink_kafka_filter_transform_count_total{{topic="{e(topic)}",op="{e(op)}"}} {v}'
                )
            lines.append("# EOF")
            return "\n".join(lines) + "\n"


def serve(
    registry: CounterRegistry, port: int = DEFAULT_PORT, host: str = ""
) -> ThreadingHTTPServer:
    """Start the observability server on a daemon thread; returns the
    server (call .shutdown() to stop). Routes mirror the reference.

    Binds all interfaces by default — the reference endpoint is scraped
    off-host (k8s pod IP); pass host='127.0.0.1' for loopback-only."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            if self.path == "/version":
                body = VERSION.encode()
                ctype = "text/plain"
            elif self.path == "/metrics":
                body = registry.render().encode()
                ctype = "application/openmetrics-text; version=1.0.0; charset=utf-8"
            else:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args) -> None:  # silence per-request logs
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server

