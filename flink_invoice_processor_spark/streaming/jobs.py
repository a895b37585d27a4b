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

The response job has two entry points, the ``response_cycle`` driver loop
and the ``run_invoice_response_stream_job`` Structured Streaming query.
Both build an envelope and hand it to ``respond``, the one response
micro-batch body: claim RESPONSE retries → transform → process → packet
sink → log-and-delete → retry emissions.

Both jobs run as **micro-batch loops**: the streaming query's trigger (or
the driver loop's poll interval) plays the role of the reference's
processing-time timers; the batch envelope's count cap is enforced inside
each micro-batch by ``assign_batch_seq``.  The strict per-key
count-or-timeout batcher (``applyInPandasWithState``) lives in
``streaming/batcher.py`` for users who need mid-interval flushes.

Sinks are injected as callables so the same wiring runs against MySQL in
production, SQLite in tests, and a collector in benchmarks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

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

#: The stream job's cross-batch dedup horizon, measured from first arrival.
DEDUP_DELAY = "10 minutes"


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
    lease_s: int,
) -> None:
    """The response job's one micro-batch body: claim due RESPONSE retries
    and union the recovered rows into ``envelope``, process, then sink.

    ``lease_s`` is the claim's reap lease: a prior batch that died after
    its claim committed but before its sinks ran leaves rows in
    PROCESSING, where no later claim can see them; the reap revives them
    once the lease expires.
    """
    claimed = claim_retry_batch(
        spark, conn_factory, RETRY_JOB_RESPONSE, cfg,
        reap_processing_after_s=lease_s,
    )
    recovered, retry_emits = transform_response_retry_records(claimed, cfg)
    result = process_response_batch(envelope.unionByName(recovered), cfg)

    # Step 1: Kafka first, Step 2: DB transaction — the reference's ordering
    # (InvoiceResponseBatchProcessor.java:205-218)
    packet_sink(result.packets)
    write_log_and_delete(result.db_ops, conn_factory, cfg)
    write_retry_emissions(result.retry.unionByName(retry_emits), conn_factory, cfg)


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
    respond(spark, envelope, cfg, conn_factory, packet_sink, cfg.processing_lease_s)
    return last_in_id, last_out_id


def run_invoice_response_stream_job(
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    packet_sink: Callable[[DataFrame], None],
    checkpoint_dir: str,
    trigger_ms: int | None = None,
):
    """The response job as ONE Structured Streaming query: both queue
    tables via the ``table_queue`` streaming source (offsets in the
    checkpoint), watermark-bounded cross-batch dedup, then per micro-batch
    the envelope pipeline + Kafka-then-DB sink ordering inside
    ``foreachBatch``.

    The queue reader and the sinks reach one database: the reader is
    built from ``conn_factory.table_queue_options()``, so a
    ``MySQLConnFactory`` deployment polls MySQL, not a SQLite file.  The
    per-batch retry claim inside ``respond`` reaches Spark as an Arrow
    ``LocalRelation`` (``sources.dbapi``), like the driver loop's polls.

    This is the fully-streaming alternative to the ``response_cycle``
    driver loop: same operators, but high-water marks and dedup state are
    durable in the checkpoint, and the trigger interval plays the
    reference's batch-timeout role (``InvoiceResponseBatchProcessor
    .java:56``).  Returns the started ``StreamingQuery``.
    """
    from ..operators.response import make_response_envelope
    from ..sources.stream import TableQueueDataSource
    from .dedup import streaming_dedup

    spark.dataSource.register(TableQueueDataSource)

    def queue_stream(table: str) -> DataFrame:
        return (
            spark.readStream.format("table_queue")
            .options(**conn_factory.table_queue_options())
            .option("table", table)
            .option("fetch_size", str(cfg.mysql_fetch_size))
            .load()
        )

    envelope = make_response_envelope(
        queue_stream("async_inv_in"), queue_stream("async_inv_out")
    )
    # Dedup on ARRIVAL time, not created_date: the two queue tables drain
    # independently, and a backlogged table's rows can carry created_date
    # hours behind the live table's — an event-time watermark would call
    # them "late", silently drop them, and the source offset (already
    # advanced) would never re-read them.  The per-micro-batch timestamp
    # is monotone, so nothing is ever late, state stays bounded by the
    # same delay, and the dedup horizon becomes "within `DEDUP_DELAY` of
    # first ARRIVAL" — which is also closer to the reference's
    # memory-lifetime dedup set than created_date ever was.
    envelope = envelope.withColumn("_arrival_ts", F.current_timestamp())
    deduped = streaming_dedup(envelope, "_arrival_ts", DEDUP_DELAY).drop(
        "_arrival_ts"
    )

    trigger_ms = trigger_ms or cfg.response_batch_timeout_ms
    # the lease must stay comfortably above THIS job's actual trigger
    # beat — a caller-supplied trigger_ms can exceed every cfg interval
    # the config-derived lease knows about, and a lease below one beat
    # would let a concurrent claimer reap live claims mid-epoch
    lease_s = max(cfg.processing_lease_s, 10 * trigger_ms // 1000)

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # claims due RESPONSE retries each batch, like `response_cycle`:
        # without it, retry rows this job enqueues would sit PENDING
        # forever in a stream-only deployment
        respond(batch_df.sparkSession, batch_df, cfg, conn_factory, packet_sink, lease_s)

    return (
        deduped.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .start()
    )


def run_invoice_response_job(
    spark: SparkSession,
    cfg: EngineConfig,
    conn_factory: ConnFactory,
    packet_sink: Callable[[DataFrame], None],
    cycles: int | None = None,
    sleep_s: float | None = None,
) -> None:
    """Driver loop for the response job: poll → process → sink, advancing
    the id high-water marks (the reference keeps them in memory too,
    ``AsyncInvInSource.java:19``; persist externally for restart safety).
    ``cycles=None`` loops forever; tests pass a small count."""
    import time

    if sleep_s is None:
        sleep_s = cfg.mysql_polling_interval_ms / 1000.0
    last_in = last_out = 0
    n = 0
    while cycles is None or n < cycles:
        last_in, last_out = response_cycle(
            spark, cfg, conn_factory, packet_sink, last_in, last_out
        )
        n += 1
        if cycles is None or n < cycles:
            time.sleep(sleep_s)
