"""The reference's STDBucket as a real Spark stateful operator.

The reference accumulates regions in an in-process dict bucket and slices
exactly ``max_batch_size`` per GPU call, carrying the remainder
(message_queue/bucket.py:60-81), with a size-OR-time trigger
(message_process/hybrid.py:16-68) — all hand-rolled asyncio with a
documented race (monitor.py:50-56).

``bucket_batch`` is the same contract on ``applyInPandasWithState``:

- rows for a key accumulate in fault-tolerant state (checkpointed — the
  bucket survives executor loss, which the reference's in-memory dict
  does not);
- every full slice of ``max_batch_size`` items is emitted immediately
  (reason='size'), remainder carried in state — byte-for-byte the
  STDBucket.get_batch semantics;
- a processing-time timeout flushes a lingering remainder
  (reason='timeout') — the wait_time half of the hybrid trigger.

Emission is deterministic given arrival order within a key because items
are sequenced by (arrival micro-batch, intra-batch position).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["bucket_batch", "BUCKET_OUTPUT_SCHEMA", "BUCKET_STATE_SCHEMA"]

BUCKET_OUTPUT_SCHEMA = (
    "key string, batch_seq long, items array<string>, n_items int, "
    "reason string"
)
BUCKET_STATE_SCHEMA = "pending array<string>, seq long"


def bucket_batch(
    df: DataFrame,
    max_batch_size: int = 10,
    wait_timeout_ms: int | None = 10_000,
) -> DataFrame:
    """Group a streaming DataFrame by ``key`` and emit fixed-size ``item``
    batches per key (size-or-time semantics above). Returns a streaming
    DataFrame with BUCKET_OUTPUT_SCHEMA.

    ``wait_timeout_ms=None`` disables the time half (pure size trigger —
    remainders stay in state until more items arrive); with a timeout, a
    long-running query flushes lingering remainders, but an
    availableNow drain will keep scheduling micro-batches until the
    timeout fires, so drain-style jobs should pass None."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.hasTimedOut:
            pending, seq = state.get
            if not pending:
                # second idle timeout with nothing buffered: now safe to
                # drop the state entry entirely (no emission)
                state.remove()
                return
            # flush the remainder but KEEP the state row with the
            # advanced sequence — (key, batch_seq) identities must never
            # repeat for downstream dedup/ordering; the empty entry is
            # removed at the next idle timeout
            state.update(([], seq + 1))
            if wait_timeout_ms is not None:
                state.setTimeoutDuration(wait_timeout_ms)
            yield pd.DataFrame(
                {
                    "key": [k],
                    "batch_seq": [seq],
                    "items": [list(pending)],
                    "n_items": [len(pending)],
                    "reason": ["timeout"],
                }
            )
            return
        pending, seq = state.get if state.exists else ([], 0)
        pending = list(pending)
        for pdf in pdfs:
            pending.extend(pdf["item"].astype(str).tolist())
        out: list[tuple] = []
        while len(pending) >= max_batch_size:
            batch, pending = (
                pending[:max_batch_size],
                pending[max_batch_size:],
            )
            out.append((k, seq, batch, len(batch), "size"))
            seq += 1
        state.update((pending, seq))
        if wait_timeout_ms is not None:
            state.setTimeoutDuration(wait_timeout_ms)
        if out:
            yield pd.DataFrame(
                out,
                columns=["key", "batch_seq", "items", "n_items", "reason"],
            )

    return df.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=BUCKET_OUTPUT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if wait_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
