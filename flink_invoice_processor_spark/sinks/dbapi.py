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
``next_retry_time`` executor-side and binds it as a plain timestamp
parameter (SQLite has no ``INTERVAL``); the :data:`~..dbdialect.MYSQL`
dialect emits the reference's exact server-side DML
(``CURRENT_TIMESTAMP + INTERVAL %s SECOND``,
``sink/InvoiceRetrySink.java:33,36``) with ``%s`` parameters, binding the
delay seconds instead.  ``conn_factory`` must be a picklable
:class:`~..dbdialect.ConnFactory` — executors open their own connections
(``SqliteConnFactory`` here, ``dbdialect.MySQLConnFactory`` for
production).

Delivery semantics: all three writers are idempotent-or-conditioned the
same way the reference is — inserts are append-only logs, UPDATE/DELETE are
conditioned on ``state='PROCESSING'`` (the claim marker), and log-and-delete
deletes by primary key — so micro-batch replay after failure yields the
reference's at-least-once behavior with downstream dedup.

One transaction per partition for all three writers: a writer only maps
its rows to ``(sql, params-list)`` statements, and :func:`_write_partitions`
runs them with ``executemany`` in ``mysql.batch.size`` chunks and commits
once, retrying the whole transaction after a rollback.  So a partition is
written all or nothing, as in the reference's
``TransactionalLogAndDeleteSink``; the reference's retry sink opens one
transaction *per record* (``InvoiceRetrySink.java:47-77``) — same
observable rows, fewer round trips.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable, Iterable

from pyspark.sql import DataFrame

from ..config import EngineConfig, TAG_CREATE, TAG_DELETE, TAG_MAX_RETRY, TAG_UPDATE
from ..dbdialect import SQLITE, ConnFactory, utcnow
from ..schemas import ASYNC_INV_SUCC_LOG_RECORD, INVOICE_MYSQL_RECORD

#: ``(sql, params-list)`` pairs one partition's transaction runs in order.
Statements = list[tuple[str, list[tuple]]]


@dataclass(frozen=True)
class SqliteConnFactory:
    """Picklable SQLite connection factory (tests / local stand-in for the
    reference's MySQL).  A class instead of a closure so executors resolve
    it by import, not by value."""

    dialect = SQLITE

    path: str
    timeout: float = 30.0

    def table_queue_options(self) -> dict[str, str]:
        return {"backend": "sqlite", "db_path": self.path}

    def __call__(self):
        import sqlite3

        return sqlite3.connect(self.path, timeout=self.timeout)


#: Insert column list for async_inv_in — the reference's 18-column INSERT
#: (job/InvoiceRequest.java:111-116).
INVOICE_INSERT_COLUMNS = [f.name for f in INVOICE_MYSQL_RECORD.fields]

SUCC_LOG_COLUMNS = [f.name for f in ASYNC_INV_SUCC_LOG_RECORD.fields]


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


def _write_partitions(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig,
    statements: Callable[[Iterable], Statements],
) -> None:
    """Run ``statements(rows)`` for every partition of ``df`` as one
    transaction: ``executemany`` in ``mysql.batch.size`` chunks, one
    commit, rollback-and-retry on error."""
    batch_size = cfg.mysql_batch_size
    max_retries = cfg.mysql_max_retries

    def write_partition(rows: Iterable) -> None:
        stmts = statements(rows)
        conn = conn_factory()
        try:
            cur = conn.cursor()

            def txn() -> None:
                for sql, params in stmts:
                    for i in range(0, len(params), batch_size):
                        cur.executemany(sql, params[i:i + batch_size])
                conn.commit()

            _with_retries(txn, conn, max_retries)
        finally:
            conn.close()

    df.foreachPartition(write_partition)


def write_invoice_records(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    table: str = "async_inv_in",
) -> None:
    """W1: batched insert of INVOICE_MYSQL_RECORD rows.

    Distributed: each partition inserts its rows in ``mysql.batch.size``
    chunks inside one transaction (reference batch 2000 / flush 5000 ms /
    3 retries, ``job/InvoiceRequest.java:144-148``; the flush interval is
    the micro-batch trigger in streaming mode).
    """
    sql = conn_factory.dialect.insert_sql(table, INVOICE_INSERT_COLUMNS)
    _write_partitions(
        df.select(INVOICE_INSERT_COLUMNS),
        conn_factory,
        cfg or EngineConfig(),
        lambda rows: [(sql, [tuple(r) for r in rows])],
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

    def statements(rows: Iterable) -> Statements:
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

    _write_partitions(df, conn_factory, cfg or EngineConfig(), statements)


def write_log_and_delete(
    df: DataFrame,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    now: datetime | None = None,
) -> None:
    """W4: transactional success-log + source-row delete
    (``sink/TransactionalLogAndDeleteSink.java:65-115``).

    Per partition, in ONE transaction: insert ``async_inv_succ_log`` rows
    (inv_in keeps its fpt/callback fields and null ``gdt_res``; inv_out the
    mirror image, ``:134-170``; ``created_date`` is the write time,
    ``updated_date`` always NULL, ``:70,125``) and delete the source rows
    by id.  Idempotent under replay because the delete is by primary key.
    """
    dialect = conn_factory.dialect
    insert_sql = dialect.insert_sql("async_inv_succ_log", SUCC_LOG_COLUMNS)
    delete_in_sql = dialect.delete_by_id_sql("async_inv_in")
    delete_out_sql = dialect.delete_by_id_sql("async_inv_out")

    def statements(rows: Iterable) -> Statements:
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

    _write_partitions(df, conn_factory, cfg or EngineConfig(), statements)
