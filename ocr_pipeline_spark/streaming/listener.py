"""Streaming throughput metrics: per-micro-batch rows + docs/sec.

The streaming counterpart of operators.metrics (north rule: docs/sec per
stage): a StreamingQueryListener that logs one JSON line per committed
micro-batch and keeps a running total. The reference polled completion
counts off the filesystem (load_test.py:16-32); here progress is pushed
by the engine's commit protocol.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

__all__ = ["ThroughputListener"]

# Batch records kept, bounding memory for long-lived streams (oldest
# records dropped; totals keep counting).
MAX_BATCHES = 10_000


class ThroughputListener(StreamingQueryListener):
    def __init__(self) -> None:
        """Records every query's progress: listeners are session-global,
        so concurrent streams mix."""
        self.batches: list[dict] = []
        self._total_rows = 0

    # -- listener callbacks -------------------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "stage": "stream",
            "batch_id": p.batchId,
            "rows": int(p.numInputRows),
            "rows_per_sec": round(float(p.processedRowsPerSecond or 0.0), 1),
        }
        self.batches.append(rec)
        self._total_rows += rec["rows"]
        if len(self.batches) > MAX_BATCHES:
            del self.batches[: len(self.batches) - MAX_BATCHES]
        print(json.dumps(rec))

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    # -- driver-side summary -------------------------------------------------
    def total_rows(self) -> int:
        return self._total_rows

    def attach(self, spark: SparkSession) -> "ThroughputListener":
        spark.streams.addListener(self)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)
