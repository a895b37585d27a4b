"""Structured-Streaming table-queue source (Python DataSource API).

The reference's hand-rolled polling sources (``source/AsyncInvInSource
.java:51-103``, ``AsyncInvOutSource.java:51-105``) keep an in-memory id
high-water mark and poll ``WHERE <ready-predicate> AND id > ? ORDER BY id
LIMIT fetch``.  This module is the same operator as a first-class Spark 4
**streaming data source**: the high-water mark lives in the stream's
*offset log*, so it survives restarts — the upgrade the reference left
commented out (``AsyncInvInSource.java:35-49``).

Why ``SimpleDataSourceStreamReader``: a queue-table poll is inherently a
single-cursor scan (the reference runs these sources at parallelism 1 —
``application.properties:46``), so the driver-side simple reader is the
honest shape; Spark distributes the fetched batch to executors for the
downstream stages.  Backfilling a huge table is a different problem —
use ``spark.read.jdbc(..., partitionColumn, numPartitions)`` for that.

Exactly-once: ``read`` advances the offset to the max fetched id;
``readBetweenOffsets`` replays ``start < id <= end`` deterministically
(rows are never mutated while ready, and ids are monotone), so a restarted
query re-emits precisely the uncommitted range.

Usage::

    spark.dataSource.register(TableQueueDataSource)
    df = (spark.readStream.format("table_queue")
          .option("db_path", "/path/engine.db")   # sqlite DBAPI file
          .option("table", "async_inv_in")        # or async_inv_out
          .option("fetch_size", "2000")
          .load())

Backends: ``backend=sqlite`` (default; ``db_path`` option — what tests
run on) or ``backend=mysql`` (``host``/``port``/``user``/``password``/
``database`` options via :class:`~..dbdialect.MySQLConnFactory`; the
driver library is import-gated, as no MySQL client is a dependency).
The reader builds its connection factory once
(``SqliteConnFactory`` or ``MySQLConnFactory``); the SQL comes from
``sources.dbapi.fetch_ready_rows`` in that factory's dialect, with the
same offsets either way.  ``factory.table_queue_options()`` returns the
options that rebuild a factory here, which is how the streaming response
job points its reader at the database its sinks write.


VISIBILITY ASSUMPTION (same one the reference makes, AsyncInvInSource
.java:35-49): ids become visible in commit order — one writer, or
auto-committed inserts.  With CONCURRENT writers a transaction holding a
lower id can commit AFTER a poll has advanced the high-water mark past
it, and ``id > ?`` will then skip that row forever.  Deployments with
multi-writer queue tables should poll with a re-read lag window (``id >
hwm - lag``) plus the downstream dedup, or switch the queue key to a
commit-ordered sequence.
"""

from __future__ import annotations

from typing import Iterator, Tuple

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from .dbapi import QUEUE_TABLES, fetch_ready_rows


class TableQueueStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        backend = options.get("backend", "sqlite")
        if backend == "sqlite":
            from ..sinks.dbapi import SqliteConnFactory

            self.conn_factory = SqliteConnFactory(options["db_path"])
        elif backend == "mysql":
            from ..dbdialect import MySQLConnFactory

            self.conn_factory = MySQLConnFactory(
                host=options["host"],
                port=int(options.get("port", "3306")),
                user=options["user"],
                password=options.get("password", ""),
                database=options["database"],
            )
        else:
            raise ValueError(f"unknown backend: {backend!r}")
        self.table = options.get("table", "async_inv_in")
        if self.table not in QUEUE_TABLES:
            raise ValueError(f"unknown queue table: {self.table!r}")
        self.fetch_size = int(options.get("fetch_size", "2000"))

    def initialOffset(self) -> dict:
        return {"last_id": 0}

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        rows = fetch_ready_rows(
            self.conn_factory, self.table, start["last_id"], limit=self.fetch_size
        )
        new_last = max((r[0] for r in rows), default=start["last_id"])
        return iter(rows), {"last_id": new_last}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        # deterministic replay of an uncommitted range after restart
        return iter(
            fetch_ready_rows(
                self.conn_factory, self.table, start["last_id"], end["last_id"]
            )
        )

    def commit(self, end: dict) -> None:
        # ready rows are immutable and removal is downstream's job
        # (transactional log-and-delete sink) — nothing to clean up here
        pass


class TableQueueDataSource(DataSource):
    """``format("table_queue")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "table_queue"

    def schema(self) -> StructType:
        return QUEUE_TABLES[self.options.get("table", "async_inv_in")][0]

    def simpleStreamReader(self, schema: StructType) -> TableQueueStreamReader:
        return TableQueueStreamReader(dict(self.options))
