"""Streaming observability: a StreamingQueryListener that records
per-batch progress (rows, durations, state-store size) for every query
on the session.

The listener receives the engine's own per-microbatch progress
events, so input-rate / latency / state-growth monitoring costs nothing
extra and needs no second pass over the stream.  This is the run-side
evidence a production pipeline pages on: rows per batch, batch
duration, and whether state (the watermarked dedup's key store) is
growing without bound.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchProgress:
    query_id: str
    batch_id: int
    num_input_rows: int
    duration_ms: int
    state_rows: int


@dataclass
class ProgressRecorder:
    """Accumulates BatchProgress rows; query from test/ops code."""

    batches: list[BatchProgress] = field(default_factory=list)

    @property
    def total_input_rows(self) -> int:
        return sum(b.num_input_rows for b in self.batches)

    def wait_for_rows(self, expected: int, timeout_s: float = 30.0) -> None:
        """Listener events are delivered asynchronously AFTER the query
        terminates — poll until the accumulated input rows reach the
        expectation (or time out and let the caller's assert report)."""
        deadline = time.time() + timeout_s
        while self.total_input_rows < expected and time.time() < deadline:
            time.sleep(0.1)


class _RecorderListener(StreamingQueryListener):
    def __init__(self, recorder: ProgressRecorder) -> None:
        self._rec = recorder

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        state_rows = sum(op.numRowsTotal for op in p.stateOperators)
        self._rec.batches.append(
            BatchProgress(
                query_id=str(p.id),
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                duration_ms=p.durationMs.get("triggerExecution", 0),
                state_rows=state_rows,
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def attach_progress_recorder(spark) -> tuple[ProgressRecorder, StreamingQueryListener]:
    """Register a progress recorder on the session's stream manager.
    Returns (recorder, listener) — pass the listener to
    ``spark.streams.removeListener`` when done (tests MUST detach, the
    session is shared)."""
    rec = ProgressRecorder()
    listener = _RecorderListener(rec)
    spark.streams.addListener(listener)
    return rec, listener
