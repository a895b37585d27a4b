"""Strict per-key count-or-timeout batcher (reference operator K2).

Re-expresses ``process/response/InvoiceResponseBatchProcessor.java:26-316``
+ ``InvoiceResponseTimerManager.java:15-57`` — the reference's most complex
operator — as an ``applyInPandasWithState`` stateful streaming transform:

- per key (``api_type``), arriving rows are buffered in group state;
- a **count flush** emits a batch the moment the buffer reaches
  ``batch_size`` (``InvoiceResponseBatchProcessor.java:130``);
- a **timeout flush** emits whatever is buffered when a processing-time
  timer fires ``timeout_ms`` after the last flush-or-arrival
  (``:159-183``; timer protocol ``InvoiceResponseTimerManager.java:27-41``);
- a **force flush** drains the whole buffer when a record arrives and
  ``now - last_flush ≥ max_wait_ms`` (= 2× timeout, ``:56,229-248``).

The micro-batch jobs in ``streaming/jobs.py`` get timeout-batching for free
from the trigger interval; this operator exists for users who need the
reference's *mid-interval* count cap and max-wait semantics with real
timers.  It is the one place the engine holds per-key mutable state, so the
payload is carried as one serialized-JSON string column — callers serialize
with ``to_json(struct(*cols))`` and parse flushed batches back with
``from_json``, keeping the state schema stable across payload evolutions.

Scale notes: state is one buffer per key (the reference's key domain is the
five api_types, so state is tiny and there is exactly one shuffle, on the
key — same topology as the reference's ``keyBy``).  Unlike the
reference's dedup set (which leaks, ``:29`` — see SURVEY §2.4 K3), state
here is bounded by ``batch_size`` rows per key by construction.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FLUSH_COUNT = "count"
FLUSH_TIMEOUT = "timeout"
FLUSH_FORCE = "force"

#: One output row per flushed batch.
BATCH_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("batch_seq", LongType(), False),
        StructField("item_count", IntegerType(), False),
        StructField("flush_reason", StringType(), False),
        StructField("payloads", ArrayType(StringType()), False),
    ]
)

#: Group state: buffered payloads, last-flush wall-clock ms, next batch seq.
_STATE_SCHEMA = StructType(
    [
        StructField("buffer", ArrayType(StringType()), False),
        StructField("last_flush_ms", LongType(), False),
        StructField("batch_seq", LongType(), False),
    ]
)


def _make_batch_fn(
    batch_size: int,
    timeout_ms: int,
    max_wait_ms: int | None,
):
    def fn(
        key: Tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # Spark's processing-time clock, NOT executor wall-clock: the
        # persisted last_flush_ms may be read back on a DIFFERENT executor
        # whose time.time() is skewed, which would mis-fire (or defer) the
        # max-wait force flush; the timers already run on this clock, so
        # using it keeps one clock for the whole protocol
        now_ms = state.getCurrentProcessingTimeMs()
        if state.exists:
            buffer_t, last_flush, seq = state.get
            buffer = list(buffer_t)
        else:
            buffer, last_flush, seq = [], now_ms, 0

        flushed: list[tuple[str, list[str]]] = []

        if state.hasTimedOut:
            # timer fired `timeout_ms` after the last activity → drain
            # (InvoiceResponseBatchProcessor.java:159-183)
            if buffer:
                flushed.append((FLUSH_TIMEOUT, buffer))
                buffer = []
                last_flush = now_ms
        else:
            for pdf in pdf_iter:
                buffer.extend(pdf["payload"].astype(str).tolist())
            # max-wait force flush, checked on arrival (:229-248)
            if (
                buffer
                and max_wait_ms is not None
                and now_ms - last_flush >= max_wait_ms
            ):
                flushed.append((FLUSH_FORCE, buffer))
                buffer = []
                last_flush = now_ms
            # count flush (:130) — may fire multiple times per micro-batch
            while len(buffer) >= batch_size:
                flushed.append((FLUSH_COUNT, buffer[:batch_size]))
                buffer = buffer[batch_size:]
                last_flush = now_ms

        state.update((buffer, last_flush, seq + len(flushed)))
        if buffer:
            # re-arm: timers are one-shot and cleared on every
            # invocation (InvoiceResponseTimerManager.java:27-57)
            state.setTimeoutDuration(timeout_ms)

        if flushed:
            yield pd.DataFrame(
                {
                    "key": ["_".join(str(k) for k in key)] * len(flushed),
                    "batch_seq": [seq + i for i in range(len(flushed))],
                    "item_count": [len(p) for _, p in flushed],
                    "flush_reason": [r for r, _ in flushed],
                    "payloads": [p for _, p in flushed],
                }
            )

    return fn


def count_or_timeout_batches(
    df: DataFrame,
    key_cols: list[str],
    batch_size: int = 100,
    timeout_ms: int = 3000,
    max_wait_ms: int | None = 6000,
) -> DataFrame:
    """Group a (streaming) DataFrame by ``key_cols`` and emit one row per
    flushed batch, with the count/timeout/max-wait protocol above.

    ``df`` must carry the serialized record in a ``payload`` string
    column; everything else except the keys is ignored.  Output schema is
    :data:`BATCH_OUTPUT_SCHEMA`; ``key`` is the ``_``-joined key values
    (the reference keys on the single ``api_type`` byte,
    ``job/InvoiceResponse.java:98-118``).
    """
    sel = df.select(*key_cols, "payload")
    return sel.groupBy(*key_cols).applyInPandasWithState(
        _make_batch_fn(batch_size, timeout_ms, max_wait_ms),
        outputStructType=BATCH_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
