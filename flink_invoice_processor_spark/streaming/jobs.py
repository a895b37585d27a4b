"""The two reference jobs, composed from the pure operators.

- ``run_invoice_request_job``  ≙ ``job/InvoiceRequest.java:26-161``:
  Kafka packets (+ claimed retry rows) → parse/explode/validate/derive →
  valid rows to the ``async_inv_in`` insert sink, failures to the
  retry-queue sink.
- ``run_invoice_response_job`` ≙ ``job/InvoiceResponse.java:29-166``:
  poll ``async_inv_in``/``async_inv_out`` (+ claimed RESPONSE retry rows)
  → envelope → dedup/validate/batch/assemble → packets to Kafka,
  successes to the transactional log-and-delete sink, failures to the
  retry-queue sink.  Kafka publish happens before the DB transaction for
  each micro-batch, preserving the reference's ordering caveat
  (``InvoiceResponseBatchProcessor.java:205-218`` — at-least-once with
  downstream dedup, not atomic).

The response job has one entry point, the ``run_invoice_response_job``
driver loop.  Each of its cycles is ``response_cycle``: poll both queue
tables past the id high-water marks, build the envelope and hand it to
``respond``, the micro-batch body: claim RESPONSE retries → transform →
process → packet sink → log-and-delete → retry emissions.  The loop
keeps the marks in its ``checkpoint_dir``, as the request job keeps its
Kafka offsets in Spark's.

The request job runs as a Structured Streaming micro-batch loop whose
trigger plays the role of the reference's processing-time timers; the
response loop's poll interval does the same.  The batch envelope's count
cap is enforced inside each micro-batch by ``assign_batch_seq``.  The
strict per-key count-or-timeout batcher (``applyInPandasWithState``)
lives in ``streaming/batcher.py`` for users who need mid-interval
flushes.

Sinks are injected as callables so the same wiring runs against MySQL in
production, SQLite in tests, and a collector in benchmarks.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig, RETRY_JOB_REQUEST, RETRY_JOB_RESPONSE
from ..dbdialect import ConnFactory
from ..operators.request import parse_request_packets, transform_retry_records
from ..operators.response import (
    process_response_batch,
    transform_response_retry_records,
)
from ..sinks.dbapi import (
    write_invoice_records,
    write_log_and_delete,
    write_retry_emissions,
)
from ..sources.dbapi import (
    claim_retry_batch,
    poll_async_inv_in,
    poll_async_inv_out,
)
from .kafka import kafka_request_stream


def request_micro_batch(
    packets_df: DataFrame,
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
) -> None:
    """One micro-batch of the request job: new packets + claimed retry rows
    → insert valid records, enqueue failures.  Usable directly as the body
    of ``foreachBatch``."""
    valid, retry = parse_request_packets(packets_df, cfg)
    # the reap lease revives claims orphaned by an epoch that died
    # between its claim commit and its sink (the replayed epoch
    # cannot re-claim them itself — the flip already committed)
    claimed = claim_retry_batch(
        spark, conn_factory, RETRY_JOB_REQUEST, cfg,
        reap_processing_after_s=cfg.processing_lease_s,
    )
    r_valid, r_retry = transform_retry_records(claimed, cfg)
    write_invoice_records(valid.unionByName(r_valid), conn_factory, cfg)
    write_retry_emissions(retry.unionByName(r_retry), conn_factory, cfg)


def run_invoice_request_job(
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    checkpoint_dir: str,
    source: DataFrame | None = None,
):
    """Start the streaming request job.  ``source`` defaults to the Kafka
    reader; tests inject a file/memory stream with a ``value`` column."""
    stream = source if source is not None else kafka_request_stream(spark, cfg)

    def on_batch(df: DataFrame, epoch_id: int) -> None:
        request_micro_batch(df, spark, cfg, conn_factory)

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{cfg.mysql_batch_interval_ms} milliseconds")
        .start()
    )


def respond(
    spark: SparkSession,
    envelope: DataFrame,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    packet_sink: Callable[[DataFrame], None],
) -> None:
    """The response job's one micro-batch body: claim due RESPONSE retries
    and union the recovered rows into ``envelope``, process, then sink.

    The claim reaps with ``cfg.processing_lease_s``: a prior batch that
    died after its claim committed but before its sinks ran leaves rows
    in PROCESSING, where no later claim can see them; the reap revives
    them once the lease expires.

    The batch runs in one partition.  It is bounded: the polls return at
    most ``mysql.fetch.size`` rows each and the claim at most
    ``retry.mysql.fetch.size``, and the sinks hold it in the driver
    anyway.  One partition satisfies every clustered distribution, so the
    dedup, the ``api_type`` window and the packet ``groupBy`` plan with no
    shuffle.  The retry emissions, which also carry the claim's outcome
    rows, are coalesced too, so each sink runs one single-task job.  The
    dedup then keeps the polled row over a recovered duplicate, where a
    hash shuffle kept whichever it delivered first.
    """
    claimed = claim_retry_batch(
        spark, conn_factory, RETRY_JOB_RESPONSE, cfg,
        reap_processing_after_s=cfg.processing_lease_s,
    )
    recovered, retry_emits = transform_response_retry_records(claimed, cfg)
    batch = envelope.unionByName(recovered).coalesce(1)
    result = process_response_batch(batch, cfg)

    # Step 1: Kafka first, Step 2: DB transaction — the reference's ordering
    # (InvoiceResponseBatchProcessor.java:205-218)
    packet_sink(result.packets)
    write_log_and_delete(result.db_ops, conn_factory, cfg)
    retry = result.retry.unionByName(retry_emits).coalesce(1)
    write_retry_emissions(retry, conn_factory, cfg)


def response_cycle(
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    packet_sink: Callable[[DataFrame], None],
    last_in_id: int = 0,
    last_out_id: int = 0,
) -> tuple[int, int]:
    """One poll-process-sink cycle of the response job; returns the advanced
    (inv_in, inv_out) high-water marks.  The driver loop calls this every
    ``mysql.polling.interval.ms`` (500 ms in the reference); each cycle is
    one "batch envelope" window.
    """
    from ..operators.response import make_response_envelope

    inv_in, last_in_id = poll_async_inv_in(spark, conn_factory, cfg, last_in_id)
    inv_out, last_out_id = poll_async_inv_out(spark, conn_factory, cfg, last_out_id)
    envelope = make_response_envelope(inv_in, inv_out)
    respond(spark, envelope, cfg, conn_factory, packet_sink)
    return last_in_id, last_out_id


#: The driver loop's high-water marks file inside its ``checkpoint_dir``.
MARKS_FILE = "marks.json"


def _load_marks(checkpoint_dir: str) -> tuple[int, int]:
    """The (inv_in, inv_out) marks stored in ``checkpoint_dir``; (0, 0)
    when there are none."""
    try:
        with open(os.path.join(checkpoint_dir, MARKS_FILE)) as f:
            marks = json.load(f)
    except FileNotFoundError:
        return 0, 0
    return marks["last_in_id"], marks["last_out_id"]


def _save_marks(checkpoint_dir: str, last_in: int, last_out: int) -> None:
    """Replace the stored marks atomically: a reader sees the old file or
    the new one, never a torn write."""
    path = os.path.join(checkpoint_dir, MARKS_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"last_in_id": last_in, "last_out_id": last_out}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def run_invoice_response_job(
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    packet_sink: Callable[[DataFrame], None],
    checkpoint_dir: str,
    cycles: int | None = None,
    sleep_s: float | None = None,
) -> None:
    """Driver loop for the response job: poll → process → sink, advancing
    the id high-water marks.  ``cycles=None`` loops forever; tests pass a
    small count.  The loop sleeps ``sleep_s`` (default
    ``mysql.polling.interval.ms``) only after a cycle whose polls found
    no new rows; after one that moved the marks it polls again at once.

    The reference keeps the marks in memory only (``AsyncInvInSource
    .java:19``; its recovery helper at :35-49 is commented out), so a
    restart re-polls the invalid rows that stay queued until their retry
    resolves and enqueues a second CREATE retry row for each.  This loop
    starts from the marks stored in ``checkpoint_dir`` and rewrites them
    after each cycle that moved them, once that cycle's last commit (the
    retry-queue sink) is done.  A crash therefore replays at most the one
    cycle whose marks were not yet written.  Before its log-and-delete
    commit that re-publishes its packets, as the reference's Kafka-first
    order allows; after its retry-queue commit only its invalid rows are
    still queued, and each gets one more CREATE row.
    """
    if sleep_s is None:
        sleep_s = cfg.mysql_polling_interval_ms / 1000.0
    os.makedirs(checkpoint_dir, exist_ok=True)
    last_in, last_out = _load_marks(checkpoint_dir)
    n = 0
    while cycles is None or n < cycles:
        marks = response_cycle(
            spark, cfg, conn_factory, packet_sink, last_in, last_out
        )
        idle = marks == (last_in, last_out)
        if not idle:
            last_in, last_out = marks
            _save_marks(checkpoint_dir, last_in, last_out)
        n += 1
        # a cycle that polled rows may have left a backlog: poll again now
        if idle and (cycles is None or n < cycles):
            time.sleep(sleep_s)
