"""O33 — observability surface.

The reference exports Prometheus counters/gauges + HTTP status endpoints
(`internal/metric/metric.go:15-39`, `internal/http/server.go:36-60`). On
Spark the equivalents are:
  * per-op counters / batch latency → a StreamingQueryListener aggregating
    StreamingQueryProgress (this module)
  * slot activity/lag              → `sources.postgres.slot_status_sql`
  * /status                        → `StreamingQuery.status` + `get_status()`

`CdcMetricsListener` keeps a process-local registry shaped like the
reference's metric families; `prometheus_text()` renders the exposition
format so any scraper-side HTTP shim can serve it.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class CdcMetrics:
    """Counter families mirroring README.md:430-450 of the reference."""

    total_input_rows: int = 0
    ops: dict[str, int] = field(default_factory=dict)  # insert/update/delete totals
    batches: int = 0
    last_batch_duration_ms: float = 0.0
    last_event_time: str | None = None
    confirmed_lsn: int | None = None
    latest_lsn: int | None = None  # transport frontier (slot.go CurrentLSN)
    slot_name: str | None = None
    # latest mirror-maintenance policy report (changelog_stream.
    # run_mirror_maintenance): sizes, per-bucket delta debt, and the
    # rebucket recommendation the policy surfaces but never auto-runs
    mirror: dict | None = None


class CdcMetricsListener(StreamingQueryListener):
    """Attach with spark.streams.addListener(listener). foreachBatch sinks
    additionally call `record_ops(batch_df)` for per-op counts (progress
    events don't see post-source columns)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.metrics = CdcMetrics()
        self._wal_dir: str | None = None
        self._active_queries: set[str] = set()
        self._engine = None

    def attach_wal_dir(self, wal_dir: str, slot_name: str | None = None) -> None:
        """Serve live LSNs from the segment log: each /slot request re-reads
        the transport frontier (segment filenames) and the consumer-ack
        `_confirmed` file — filesystem-cheap, no Spark job, always current
        (the reference polls pg_replication_slots the same way,
        `pq/slot/slot.go:127-148`)."""
        with self._lock:
            self._wal_dir = wal_dir
            if slot_name is not None:
                self.metrics.slot_name = slot_name

    def attach_engine(self, engine) -> None:
        """Export the phases of `engine`'s last `start`
        (`CdcEngine.start_phases`), and time its `gate_to_first_commit`
        phase at the first progress event of the query that start gated."""
        with self._lock:
            self._engine = engine

    # -- listener callbacks -------------------------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        with self._lock:
            self._active_queries.add(str(event.id))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self._lock:
            m = self.metrics
            m.batches += 1
            m.total_input_rows += int(p.numInputRows or 0)
            m.last_batch_duration_ms = float(
                (p.durationMs or {}).get("triggerExecution", 0)
            )
            m.last_event_time = p.timestamp
            eng = self._engine
        gate = eng and eng.gate_opened
        if gate and gate[0] == str(p.id):
            eng.start_phases.setdefault(
                "gate_to_first_commit", time.perf_counter() - gate[1]
            )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self._active_queries.discard(str(event.id))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    # -- sink-side hooks ----------------------------------------------------

    def record_ops(self, batch_df) -> None:
        """Per-op counters (insert/update/delete totals, metric.go)."""
        counts = {r["op"]: r["n"] for r in batch_df.groupBy("op").count().withColumnRenamed("count", "n").collect()}
        with self._lock:
            for op, n in counts.items():
                self.metrics.ops[op] = self.metrics.ops.get(op, 0) + n

    def record_confirmed_lsn(self, lsn: int) -> None:
        with self._lock:
            self.metrics.confirmed_lsn = lsn

    def record_mirror(self, stats: dict) -> None:
        """Mirror maintenance report sink — pass this method as
        `mirror_sink(on_maintenance=...)` / `CdcEngine.start(
        on_maintenance=...)` and the latest policy pass (debt, sizes,
        rebucket recommendation) shows in /status and the exposition."""
        with self._lock:
            self.metrics.mirror = dict(stats)

    def record_frontier(self, lsn: int, slot_name: str | None = None) -> None:
        """Latest transport LSN (the segment-log frontier the slot keeper
        tracks; `pq/slot/slot.go:127-148` CurrentLSN analogue)."""
        with self._lock:
            self.metrics.latest_lsn = lsn
            if slot_name is not None:
                self.metrics.slot_name = slot_name

    # -- exposition ---------------------------------------------------------

    def get_status(self) -> dict:
        with self._lock:
            m = self.metrics
            status = {
                "batches": m.batches,
                "total_input_rows": m.total_input_rows,
                "ops": dict(m.ops),
                "last_batch_duration_ms": m.last_batch_duration_ms,
                "confirmed_lsn": m.confirmed_lsn,
            }
            if m.mirror is not None:
                status["mirror"] = dict(m.mirror)
            return status

    def get_slot(self) -> dict:
        """`/slot` payload (`internal/http/server.go:36-60` serves the slot
        struct of `pq/slot/slot.go:127-148`): confirmed vs latest LSN and the
        retained-WAL estimate (bytes the server must keep until we ack)."""
        with self._lock:
            wal_dir = self._wal_dir
        if wal_dir is not None:
            from .sources import lsn_stream
            from .sources.slot_keeper import _segment_frontier

            frontier = _segment_frontier(wal_dir, -1)
            if frontier >= 0:
                self.record_frontier(frontier)
            acked = lsn_stream.confirmed_lsn(wal_dir)
            if acked is not None:
                self.record_confirmed_lsn(acked)
        with self._lock:
            m = self.metrics
            retained = (
                m.latest_lsn - m.confirmed_lsn
                if m.latest_lsn is not None and m.confirmed_lsn is not None
                else None
            )
            return {
                "slot_name": m.slot_name,
                "confirmed_flush_lsn": m.confirmed_lsn,
                "current_lsn": m.latest_lsn,
                "retained_wal_bytes": retained,
                # live stream state, not a cumulative counter (ADVICE r4):
                # the reference's slot.Info.Active reflects
                # pg_replication_slots per request — here a query is active
                # from onQueryStarted until onQueryTerminated
                "active": len(self._active_queries) > 0,
            }

    def prometheus_text(self) -> str:
        s = self.get_status()
        lines = [
            "# TYPE go_pq_cdc_spark_total_input_rows counter",
            f"go_pq_cdc_spark_total_input_rows {s['total_input_rows']}",
            "# TYPE go_pq_cdc_spark_batches_total counter",
            f"go_pq_cdc_spark_batches_total {s['batches']}",
            "# TYPE go_pq_cdc_spark_process_latency_ms gauge",
            f"go_pq_cdc_spark_process_latency_ms {s['last_batch_duration_ms']}",
        ]
        for op, n in sorted(s["ops"].items()):
            lines.append(f'go_pq_cdc_spark_ops_total{{op="{op}"}} {n}')
        if s["confirmed_lsn"] is not None:
            lines.append(f"go_pq_cdc_spark_confirmed_lsn {s['confirmed_lsn']}")
        mir = s.get("mirror")
        if mir is not None:
            # record_mirror accepts ANY report dict (raw mirror_stats()
            # output lacks rebucket_recommended) — emit each gauge only
            # when its key is present so exposition never raises (r11
            # advisor)
            if "delta_files" in mir:
                lines.append("# TYPE go_pq_cdc_spark_mirror_delta_files gauge")
                lines.append(
                    f"go_pq_cdc_spark_mirror_delta_files {mir['delta_files']}"
                )
            if "rebucket_recommended" in mir:
                lines.append(
                    "# TYPE go_pq_cdc_spark_mirror_rebucket_recommended gauge"
                )
                lines.append(
                    "go_pq_cdc_spark_mirror_rebucket_recommended "
                    f"{int(bool(mir['rebucket_recommended']))}"
                )
        with self._lock:
            eng = self._engine
        phases = dict(eng.start_phases) if eng is not None else {}
        if phases:
            lines.append("# TYPE go_pq_cdc_spark_start_phase_seconds gauge")
            lines += [
                f'go_pq_cdc_spark_start_phase_seconds{{phase="{k}"}} {v:.3f}'
                for k, v in phases.items()
            ]
        slot = self.get_slot()
        if slot["current_lsn"] is not None:
            lines.append(f"go_pq_cdc_spark_current_lsn {slot['current_lsn']}")
        if slot["retained_wal_bytes"] is not None:
            lines.append(
                f"go_pq_cdc_spark_retained_wal_bytes {slot['retained_wal_bytes']}"
            )
        return "\n".join(lines) + "\n"


class StatusServer:
    """O33 HTTP surface (`internal/http/server.go:36-60`): /status JSON,
    /metrics Prometheus text, and /slot (confirmed/current LSN + retained-WAL
    estimate), served from a daemon thread over stdlib http.server — no
    framework dependency on the driver."""

    def __init__(
        self,
        listener: CdcMetricsListener,
        host: str = "127.0.0.1",
        port: int = 0,
        spark=None,
        config=None,
    ):
        """`spark` (optional SparkSession): when given, `stop()` also
        detaches the listener from the session's stream manager — without
        it, repeated start/stop cycles leak listeners that keep receiving
        callbacks (ADVICE r4). `config` (optional EngineConfig) enables
        /debug/config. /debug/threads dumps every Python thread's stack —
        the driver-side analogue of the reference's pprof goroutine
        endpoint (`internal/http/server.go`)."""
        import http.server
        import json as _json

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API)
                if self.path == "/status":
                    body = _json.dumps(outer.listener.get_status()).encode()
                    ctype = "application/json"
                elif self.path == "/metrics":
                    body = outer.listener.prometheus_text().encode()
                    ctype = "text/plain; version=0.0.4"
                elif self.path == "/slot":
                    body = _json.dumps(outer.listener.get_slot()).encode()
                    ctype = "application/json"
                elif self.path == "/debug/threads":
                    body = outer._thread_dump().encode()
                    ctype = "text/plain"
                elif self.path == "/debug/config" and outer._config is not None:
                    import dataclasses

                    body = _json.dumps(
                        dataclasses.asdict(outer._config), default=str
                    ).encode()
                    ctype = "application/json"
                else:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *_args):  # quiet
                pass

        self.listener = listener
        self._spark = spark
        self._config = config
        self._server = http.server.ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread: threading.Thread | None = None

    @staticmethod
    def _thread_dump() -> str:
        """All live Python threads with stacks — pprof-goroutine analogue
        for diagnosing a wedged keeper/pump/heartbeat thread."""
        import sys
        import traceback

        names = {t.ident: t.name for t in threading.enumerate()}
        out = []
        for ident, frame in sys._current_frames().items():
            out.append(f"--- thread {names.get(ident, '?')} ({ident}) ---")
            out.extend(line.rstrip() for line in traceback.format_stack(frame))
        return "\n".join(out) + "\n"

    def start(self) -> "StatusServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="cdc-status-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._spark is not None:
            try:
                self._spark.streams.removeListener(self.listener)
            except Exception:  # already removed / session gone — best effort
                pass
            self._spark = None
