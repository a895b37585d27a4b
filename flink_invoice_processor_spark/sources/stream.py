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
driver library is import-gated since no MySQL client ships in this
container).  Same SQL, same offsets either way — only ``_connect``
differs.


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

import sqlite3
from typing import Iterator, Tuple

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from .dbapi import QUEUE_TABLES, _coerce


def queue_table_schema(table: str) -> StructType:
    return QUEUE_TABLES[table][0]


class TableQueueStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.backend = options.get("backend", "sqlite")
        if self.backend == "sqlite":
            self.db_path = options["db_path"]
            self._factory = None
            self._param = "?"
        elif self.backend == "mysql":
            from ..dbdialect import MYSQL, MySQLConnFactory

            self._factory = MySQLConnFactory(
                host=options["host"],
                port=int(options.get("port", "3306")),
                user=options["user"],
                password=options.get("password", ""),
                database=options["database"],
            )
            self._param = MYSQL.placeholder
        else:
            raise ValueError(f"unknown backend: {self.backend!r}")
        self.table = options.get("table", "async_inv_in")
        if self.table not in QUEUE_TABLES:
            raise ValueError(f"unknown queue table: {self.table!r}")
        self.schema, self.predicate = QUEUE_TABLES[self.table]
        self.fetch_size = int(options.get("fetch_size", "2000"))
        self.columns = [f.name for f in self.schema.fields]

    def _connect(self):
        if self._factory is not None:
            return self._factory()
        return sqlite3.connect(self.db_path)

    def _rows(self, where: str, params: tuple, limit: int | None) -> list[tuple]:
        sql = (
            f"SELECT {', '.join(self.columns)} FROM {self.table} "
            f"WHERE {self.predicate} AND {where} ORDER BY id ASC"
        )
        if limit is not None:
            sql += f" LIMIT {limit}"
        conn = self._connect()
        try:
            # portable DBAPI cursor protocol — sqlite3's Connection.execute
            # shortcut does not exist on pymysql/mysql-connector connections
            cur = conn.cursor()
            try:
                cur.execute(sql, params)
                rows = cur.fetchall()
            finally:
                cur.close()
        finally:
            conn.close()
        return _coerce(rows, self.schema)

    def initialOffset(self) -> dict:
        return {"last_id": 0}

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        q = self._param
        rows = self._rows(f"id > {q}", (start["last_id"],), self.fetch_size)
        new_last = max((r[0] for r in rows), default=start["last_id"])
        return iter(rows), {"last_id": new_last}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        # deterministic replay of an uncommitted range after restart
        q = self._param
        return iter(
            self._rows(
                f"id > {q} AND id <= {q}",
                (start["last_id"], end["last_id"]),
                None,
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
        return queue_table_schema(self.options.get("table", "async_inv_in"))

    def simpleStreamReader(self, schema: StructType) -> TableQueueStreamReader:
        return TableQueueStreamReader(dict(self.options))
