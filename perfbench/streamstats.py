"""Micro-batch counters from a StreamingQueryListener (traced runs only)."""

from __future__ import annotations

import threading

from pyspark.sql.streaming import StreamingQueryListener

STREAM_KEYS = ("batches", "batch_s", "state_commit_s", "state_rows", "state_bytes")


class StreamStats(StreamingQueryListener):
    """Counts every progress event; keeps each query's last state sizes."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches = 0
        self.batch_s = 0.0
        self.state_commit_s = 0.0
        self._last_state: dict[str, tuple[int, int]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        with self._lock:
            self.batches += 1
            self.batch_s += (p.batchDuration or 0) / 1e3
            self.state_commit_s += sum(op.commitTimeMs or 0 for op in ops) / 1e3
            self._last_state[str(p.runId)] = (
                sum(op.numRowsTotal or 0 for op in ops),
                sum(op.memoryUsedBytes or 0 for op in ops),
            )

    def totals(self) -> dict[str, float]:
        with self._lock:
            return {
                "batches": self.batches,
                "batch_s": self.batch_s,
                "state_commit_s": self.state_commit_s,
                "state_rows": sum(r for r, _ in self._last_state.values()),
                "state_bytes": sum(b for _, b in self._last_state.values()),
            }
