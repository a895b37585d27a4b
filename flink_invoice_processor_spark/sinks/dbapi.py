"""Relational sinks over a DBAPI connection factory.

The reference writes MySQL through three sinks; each is rebuilt here as a
function usable standalone (batch) or inside ``foreachBatch`` (streaming):

- W1 batched insert into ``async_inv_in``
  (``job/InvoiceRequest.java:111-157``);
- W3 tag-dispatched retry-queue DML + dead-letter
  (``sink/InvoiceRetrySink.java:26-124``);
- W4 transactional log-and-delete
  (``sink/TransactionalLogAndDeleteSink.java:26-183``).

Portability: SQL is rendered in the dialect the connection factory names
(``conn_factory.dialect``, see :mod:`~..dbdialect`).  The
:data:`~..dbdialect.SQLITE` dialect computes the absolute
``next_retry_time`` in the writer and binds it as a plain timestamp
parameter (SQLite has no ``INTERVAL``); the :data:`~..dbdialect.MYSQL`
dialect emits the reference's exact server-side DML
(``CURRENT_TIMESTAMP + INTERVAL %s SECOND``,
``sink/InvoiceRetrySink.java:33,36``) with ``%s`` parameters, binding the
delay seconds instead.

Delivery semantics: all three writers are idempotent-or-conditioned the
same way the reference is — inserts are append-only logs, UPDATE/DELETE are
conditioned on ``state='PROCESSING'`` (the claim marker), and log-and-delete
deletes by primary key — so micro-batch replay after failure yields the
reference's at-least-once behavior with downstream dedup.

The sinks write from the driver, one transaction per sink call.
:func:`_write` collects the DataFrame once with ``toArrow()`` (a JVM-side
Arrow collect: no Python-worker task, no ``Row`` unpickled per record),
reads its timestamps as naive UTC like every other engine timestamp, lets
the writer map the rows to ``(sql, params-list)`` statements, and runs
them with ``executemany`` in ``mysql.batch.size`` chunks and one commit,
retrying the whole transaction after a rollback.  So a sink call is
written all or nothing, as a batch of the reference's
``TransactionalLogAndDeleteSink`` is, and a call with no rows opens no
connection.  The reference's retry sink opens one transaction *per
record* (``InvoiceRetrySink.java:47-77``) — same observable rows, fewer
round trips.

Why the driver: a ``foreachPartition`` writer made every sink call a Spark
job whose tasks started Python workers to unpickle each row, a fixed cost
that dominated the engine's small micro-batches.  Writing from one Arrow
collect instead cut the request job's CPU per 2,000-invoice op by about
half (perfbench ``request_ingest`` ``op_cpu_p50_s``, median of ten runs on
4 vCPUs: 4.4 to 2.0 CPU s).  Holding a micro-batch in the driver is safe
because every micro-batch a sink receives is bounded: the polls by
``mysql.fetch.size`` per table, the retry claim by
``retry.mysql.fetch.size``, and the Kafka request trigger by
``maxOffsetsPerTrigger`` (``streaming.kafka.kafka_reader_options``).

``conn_factory`` is a :class:`~..dbdialect.ConnFactory`
(``SqliteConnFactory`` here, ``dbdialect.MySQLConnFactory`` for
production).  The sinks call it on the driver.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame

from ..config import EngineConfig, TAG_CREATE, TAG_DELETE, TAG_MAX_RETRY, TAG_UPDATE
from ..dbdialect import SQLITE, ConnFactory, utcnow
from ..schemas import ASYNC_INV_SUCC_LOG_RECORD, INVOICE_MYSQL_RECORD

#: ``(sql, params-list)`` pairs one sink call's transaction runs in order.
Statements = list[tuple[str, list[tuple]]]


@dataclass(frozen=True)
class SqliteConnFactory:
    """SQLite connection factory (tests / local stand-in for the
    reference's MySQL)."""

    dialect = SQLITE

    path: str
    timeout: float = 30.0

    def __call__(self):
        import sqlite3

        return sqlite3.connect(self.path, timeout=self.timeout)


#: Insert column list for async_inv_in — the reference's 18-column INSERT
#: (job/InvoiceRequest.java:111-116).
INVOICE_INSERT_COLUMNS = [f.name for f in INVOICE_MYSQL_RECORD.fields]

SUCC_LOG_COLUMNS = [f.name for f in ASYNC_INV_SUCC_LOG_RECORD.fields]

#: The envelope columns W4 reads; the collect leaves out the rest
#: (``fpt_einvoice_res_json``, ``created_date``, ``updated_date``).
LOG_AND_DELETE_COLUMNS = [
    "record_type", "id", "tax_schema", "api_type", "res_type",
    "fpt_einvoice_res_code", "fpt_einvoice_res_msg", "retry", "group_id",
    "callback_res_code", "callback_res_msg", "sid", "syncid", "gdt_res",
]


def _with_retries(fn: Callable[[], None], conn, max_retries: int) -> None:
    """App-level retry loop with linear backoff and rollback, mirroring
    ``InvoiceRetrySink.java:47-77`` / ``TransactionalLogAndDeleteSink.java
    :40-62`` (sleep ``1000ms * attempt``; raise after max+1 attempts)."""
    attempt = 0
    while True:
        try:
            fn()
            return
        except Exception:
            attempt += 1
            try:
                conn.rollback()
            except Exception:
                pass
            if attempt > max_retries:
                raise
            time.sleep(min(attempt, 5))  # linear backoff, capped for tests


def _collect_rows(df: DataFrame) -> list[dict]:
    """``df``'s rows as dicts, from one Arrow collect on the driver.
    Timestamps come back naive UTC: ``toArrow`` tags them with the UTC
    instant, where ``collect()`` would shift them into the host's zone."""
    table = df.toArrow()
    naive = pa.schema([
        f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ])
    return table.cast(naive).to_pylist()


def _write(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig,
    statements: Callable[[list[dict]], Statements],
) -> None:
    """Run ``statements(rows)`` over all of ``df`` as one transaction:
    ``executemany`` in ``mysql.batch.size`` chunks, one commit,
    rollback-and-retry on error.  Opens no connection when every
    statement has no rows."""
    stmts = [(sql, params) for sql, params in statements(_collect_rows(df)) if params]
    if not stmts:
        return
    batch_size = cfg.mysql_batch_size
    conn = conn_factory()
    try:
        cur = conn.cursor()

        def txn() -> None:
            for sql, params in stmts:
                for i in range(0, len(params), batch_size):
                    cur.executemany(sql, params[i:i + batch_size])
            conn.commit()

        _with_retries(txn, conn, cfg.mysql_max_retries)
    finally:
        conn.close()


def write_invoice_records(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
) -> None:
    """W1: batched insert of INVOICE_MYSQL_RECORD rows into ``async_inv_in``.

    All of ``df``'s rows are inserted in ``mysql.batch.size`` chunks inside
    one transaction (reference batch 2000 / flush 5000 ms / 3 retries,
    ``job/InvoiceRequest.java:144-148``; the flush interval is the
    micro-batch trigger in streaming mode).
    """
    sql = conn_factory.dialect.insert_sql("async_inv_in", INVOICE_INSERT_COLUMNS)
    _write(
        df.select(INVOICE_INSERT_COLUMNS),
        conn_factory,
        cfg or EngineConfig(),
        lambda rows: [(sql, [tuple(r.values()) for r in rows])],
    )


def write_retry_emissions(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    now: datetime | None = None,
) -> None:
    """W3: tag-dispatched retry-queue DML (``sink/InvoiceRetrySink.java``).

    - CREATE    → INSERT queue row, ``next_retry_time = now + delay``
                  (reference computes it in SQL, ``:36``);
    - UPDATE    → conditional UPDATE ``WHERE id=? AND state='PROCESSING'``
                  re-arming the row with backoff (``:33``);
    - DELETE    → conditional DELETE (``:39``);
    - MAX_RETRY → INSERT dead-letter with ``attempt = retry_count - 1``
                  (the reference's off-by-design at ``:119``) + DELETE the
                  queue row in the same transaction (``:115-124``).

    When the factory's dialect is ``server_side_interval`` (MySQL) the
    bound parameter is the delay in seconds and the DB clock defines "now"
    — exactly the reference; otherwise the absolute timestamp
    ``now + delay`` is bound.
    """
    dialect = conn_factory.dialect
    insert_sql = dialect.retry_insert_sql()
    update_sql = dialect.retry_update_sql()
    delete_sql = dialect.retry_delete_sql()
    error_sql = dialect.error_log_insert_sql()
    server_side = dialect.server_side_interval

    def statements(rows: list[dict]) -> Statements:
        base = now or utcnow()
        creates, updates, dead, deletes = [], [], [], []
        for r in rows:
            delay = r["next_retry_delay_s"]
            # a server-side dialect binds the delay, others the absolute time
            when = delay if server_side or delay is None else base + timedelta(seconds=delay)
            if r["tag"] == TAG_CREATE:
                creates.append(
                    (r["sid"], r["syncid"], r["job"], r["payload"], when,
                     r["error_message"], r["error_code"])
                )
            elif r["tag"] == TAG_UPDATE:
                updates.append(
                    (r["error_message"], r["error_code"], when,
                     r["retry_count"], r["queue_id"])
                )
            elif r["tag"] == TAG_DELETE:
                deletes.append((r["queue_id"],))
            elif r["tag"] == TAG_MAX_RETRY:
                dead.append(
                    (r["payload"], r["error_message"], r["error_code"],
                     r["retry_count"] - 1, r["sid"], r["syncid"])
                )
                deletes.append((r["queue_id"],))
        return [
            (insert_sql, creates),
            (update_sql, updates),
            (error_sql, dead),
            (delete_sql, deletes),
        ]

    _write(df, conn_factory, cfg or EngineConfig(), statements)


def write_log_and_delete(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    now: datetime | None = None,
) -> None:
    """W4: transactional success-log + source-row delete
    (``sink/TransactionalLogAndDeleteSink.java:65-115``).

    In ONE transaction per call: insert ``async_inv_succ_log`` rows
    (inv_in keeps its fpt/callback fields and null ``gdt_res``; inv_out the
    mirror image, ``:134-170``; ``created_date`` is the write time,
    ``updated_date`` always NULL, ``:70,125``) and delete the source rows
    by id.  Idempotent under replay because the delete is by primary key.
    """
    dialect = conn_factory.dialect
    insert_sql = dialect.insert_sql("async_inv_succ_log", SUCC_LOG_COLUMNS)
    delete_in_sql = dialect.delete_by_id_sql("async_inv_in")
    delete_out_sql = dialect.delete_by_id_sql("async_inv_out")

    def statements(rows: list[dict]) -> Statements:
        base = now or utcnow()
        logs, del_in, del_out = [], [], []
        for r in rows:
            is_in = r["record_type"] == "inv_in"
            logs.append(
                (
                    r["tax_schema"], r["api_type"], r["res_type"],
                    r["fpt_einvoice_res_code"] if is_in else None,
                    r["fpt_einvoice_res_msg"] if is_in else None,
                    r["retry"], r["group_id"], base, None,
                    r["callback_res_code"] if is_in else None,
                    r["callback_res_msg"] if is_in else None,
                    r["sid"], r["syncid"],
                    None if is_in else r["gdt_res"],
                )
            )
            (del_in if is_in else del_out).append((r["id"],))
        return [(insert_sql, logs), (delete_in_sql, del_in), (delete_out_sql, del_out)]

    _write(df.select(LOG_AND_DELETE_COLUMNS), conn_factory, cfg or EngineConfig(), statements)
