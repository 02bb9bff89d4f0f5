"""Streaming observability: progress metrics to a JSONL audit log.

The reference has no monitoring beyond .print() smoke checks; production
streaming needs per-batch telemetry (rows, watermark, state size, lag).
Spark exposes all of it via StreamingQueryListener — this sink appends one
JSON line per completed micro-batch, the input to any metrics shipper.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


# per-operator state-store metrics kept in each record, under Spark's names
_OP_METRICS = ("numRowsTotal", "commitTimeMs", "allUpdatesTimeMs", "memoryUsedBytes")


class ProgressLogListener(StreamingQueryListener):
    """Append one JSONL record per micro-batch: batch id, input rows,
    processed-per-second, watermark, state-store totals, the trigger's
    ``durationMs`` phases (addBatch, queryPlanning, walCommit, ...) and
    each stateful operator's commit/update time and memory."""

    def __init__(self, path: str):
        self.path = path
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators or []
        rec = {
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "processed_rows_per_sec": p.processedRowsPerSecond,
            "watermark": (p.eventTime or {}).get("watermark"),
            # sum across ALL stateful operators (outer joins report two;
            # the second is usually the growth culprit)
            "state_rows": sum(o.numRowsTotal for o in ops) if ops else None,
            "state_rows_dropped_by_watermark": (
                sum(o.numRowsDroppedByWatermark for o in ops) if ops else None
            ),
            # state EVICTION (watermark cleanup) — distinct from the
            # above, which counts late INPUT rows discarded
            "state_rows_removed": (
                sum(o.numRowsRemoved for o in ops) if ops else None
            ),
            "n_state_operators": len(ops),
            "duration_ms": dict(p.durationMs or {}),
            "state_operators": [
                {"operator": o.operatorName,
                 **{m: getattr(o, m) for m in _OP_METRICS}}
                for o in ops
            ],
        }
        with self._lock, open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


def attach_progress_log(spark: SparkSession, path: str) -> ProgressLogListener:
    listener = ProgressLogListener(path)
    spark.streams.addListener(listener)
    return listener


def detach(spark: SparkSession, listener: ProgressLogListener) -> None:
    spark.streams.removeListener(listener)


def query_progress_records(query) -> list[dict]:
    """One dict per completed micro-batch, read SYNCHRONOUSLY from the
    query handle's recentProgress after awaitTermination — unlike the
    listener bus, which delivers on an async thread and can drop or
    defer records past the point a caller wants to assert on them."""
    records = []
    for p in query.recentProgress or []:
        raw = p if isinstance(p, dict) else json.loads(p.json)
        # dict form carries UUID/timestamp objects — normalize to the
        # JSON-serializable shape the audit artifact and asserts expect
        records.append(json.loads(json.dumps(raw, default=str)))
    return records


def dump_progress(query, base: str) -> list[dict]:
    """``query_progress_records`` of a finished query, also written one
    JSON line each to ``base/progress.jsonl`` (the build's audit
    artifact)."""
    records = query_progress_records(query)
    with open(os.path.join(base, "progress.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in records)
    return records


def assert_watermark_eviction(records: list[dict], min_batches: int = 2) -> int:
    """Hard evidence that watermark state eviction actually ran: sums
    ``numRowsRemoved`` over every stateful operator across the run's
    progress records and raises unless it is positive. (NOT
    ``numRowsDroppedByWatermark`` — that counts late INPUT rows
    discarded, which a perfectly-ordered source never produces.) A
    stream-stream join or windowed aggregate whose state only ever
    grows would pass a results-only check at test scale and OOM at
    100 TB — this makes 'state is bounded' a checked property of the
    run, not a code-reading claim."""
    if len(records) < min_batches:
        raise AssertionError(
            f"only {len(records)} progress records "
            f"(need ≥{min_batches} for cross-batch watermark movement)"
        )
    removed = sum(
        op.get("numRowsRemoved") or 0
        for r in records
        for op in r.get("stateOperators") or []
    )
    if removed <= 0:
        raise AssertionError(
            f"no state rows were removed by watermark cleanup across "
            f"{len(records)} batches — join/agg state is not being evicted"
        )
    return removed
