"""Per-microbatch metrics — the reference's prometheus gauges and bulk-indexer
stats (status-service/metrics/metrics.go:23-100,
transactions-consumer/extern/elastic_client.go:64-79) re-expressed as a
StreamingQueryListener that appends one JSON row per progress event.

Metrics land in a newline-JSON file (one writer, driver-side, tiny) that is
itself queryable via spark.read.json — "metrics as a table".
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


class MicrobatchMetricsListener(StreamingQueryListener):
    """Captures per-microbatch progress: rows, duration, sink commit info."""

    def __init__(self, out_path: str):
        self.out_path = out_path
        self._lock = threading.Lock()
        os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)

    def onQueryStarted(self, event):
        self._emit({"event": "started", "query_id": str(event.id), "run_id": str(event.runId)})

    def onQueryProgress(self, event):
        # p.json is the engine's own serialization — robust across versions
        try:
            p = json.loads(event.progress.json)
        except Exception as e:  # never throw inside the async event queue
            self._emit({"event": "progress_parse_error", "error": str(e)})
            return
        self._emit(
            {
                "event": "progress",
                "query_id": p.get("id"),
                "batch_id": p.get("batchId"),
                "timestamp": p.get("timestamp"),
                "num_input_rows": p.get("numInputRows"),
                "input_rows_per_second": p.get("inputRowsPerSecond"),
                "processed_rows_per_second": p.get("processedRowsPerSecond"),
                "duration_ms": p.get("durationMs", {}),
                "observed": p.get("observedMetrics", {}),
            }
        )

    def onQueryTerminated(self, event):
        self._emit(
            {
                "event": "terminated",
                "query_id": str(event.id),
                "exception": str(event.exception) if event.exception else None,
            }
        )

    def onQueryIdle(self, event):
        pass

    def _emit(self, row: dict):
        with self._lock:
            with open(self.out_path, "a") as f:
                f.write(json.dumps(row, default=str) + "\n")
