"""SQL dialects and connection factories for the DBAPI sinks/sources.

The reference speaks MySQL only — its retry DML computes the backoff
timestamp **server-side** (``sink/InvoiceRetrySink.java:33,36``:
``next_retry_time = CURRENT_TIMESTAMP + INTERVAL ? SECOND``) and its
JDBC driver uses qmark parameters.  Tests run on SQLite, but the
production DML must still be the reference's, so each sink and source
asks a :class:`Dialect` to render its SQL:

- :data:`SQLITE` — qmark placeholders, **client-side** backoff (the
  absolute ``next_retry_time`` is computed in the writer and bound as a
  plain timestamp parameter; SQLite has no ``INTERVAL``).
- :data:`MYSQL` — ``format`` (``%s``) placeholders as used by PyMySQL /
  mysql-connector, **server-side** backoff with the reference's exact
  ``CURRENT_TIMESTAMP + INTERVAL %s SECOND`` expression, so clock skew
  between Spark executors and the database never shifts the schedule.

The connection factory names its dialect: every :class:`ConnFactory`
carries a ``dialect`` attribute (``SqliteConnFactory.dialect`` is
:data:`SQLITE`, :attr:`MySQLConnFactory.dialect` is :data:`MYSQL`), and
the sinks and sources read it from the factory they are handed, so the
SQL always matches the backend the connections come from.

Semantics are identical: a row becomes ready ``delay`` seconds from the
write.  The only observable difference is whose clock defines "now", and
the MySQL path deliberately matches the reference (DB clock).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Protocol


@dataclass(frozen=True)
class Dialect:
    """SQL-rendering knobs that differ between DBAPI backends."""

    name: str
    #: DBAPI paramstyle placeholder ("?" for qmark, "%s" for format).
    placeholder: str
    #: True → backoff timestamps are computed in SQL from the DB clock
    #: (``interval_expr``); False → the writer binds an absolute timestamp.
    server_side_interval: bool

    def interval_expr(self) -> str:
        """SQL expression yielding now + <bound seconds> on the DB server.

        Only meaningful when ``server_side_interval``; the reference's
        MySQL spelling (``InvoiceRetrySink.java:33,36``).
        """
        if not self.server_side_interval:
            raise ValueError(f"{self.name} computes intervals client-side")
        return f"CURRENT_TIMESTAMP + INTERVAL {self.placeholder} SECOND"

    # -- retry-queue DML (W3, sink/InvoiceRetrySink.java:33-42) ----------
    def retry_insert_sql(self) -> str:
        q = self.placeholder
        when = self.interval_expr() if self.server_side_interval else q
        return (
            "INSERT INTO invoice_retry (sid, syncid, job, payload, "
            "next_retry_time, error_message, error_code, retry_count, state) "
            f"VALUES ({q}, {q}, {q}, {q}, {when}, {q}, {q}, 0, 'PENDING')"
        )

    def retry_update_sql(self) -> str:
        q = self.placeholder
        when = self.interval_expr() if self.server_side_interval else q
        return (
            f"UPDATE invoice_retry SET error_message = {q}, error_code = {q}, "
            f"next_retry_time = {when}, retry_count = {q}, state = 'PENDING' "
            f"WHERE id = {q} AND state = 'PROCESSING'"
        )

    def retry_delete_sql(self) -> str:
        q = self.placeholder
        return f"DELETE FROM invoice_retry WHERE id = {q} AND state = 'PROCESSING'"

    def error_log_insert_sql(self) -> str:
        q = self.placeholder
        return (
            "INSERT INTO invoice_error_log (payload, error_message, error_code, "
            f"attempt, sid, syncid) VALUES ({q}, {q}, {q}, {q}, {q}, {q})"
        )

    # -- generic helpers --------------------------------------------------
    def insert_sql(self, table: str, columns: list[str]) -> str:
        q = self.placeholder
        return (
            f"INSERT INTO {table} ({', '.join(columns)}) "
            f"VALUES ({', '.join([q] * len(columns))})"
        )

    def delete_by_id_sql(self, table: str) -> str:
        return f"DELETE FROM {table} WHERE id = {self.placeholder}"


SQLITE = Dialect(name="sqlite", placeholder="?", server_side_interval=False)
MYSQL = Dialect(name="mysql", placeholder="%s", server_side_interval=True)

DIALECTS = {d.name: d for d in (SQLITE, MYSQL)}


class ConnFactory(Protocol):
    """Zero-arg callable returning a DBAPI connection, tagged with the
    dialect its connections speak.  The sinks and the polls call it on
    the driver."""

    dialect: Dialect

    def __call__(self) -> Any: ...


def utcnow() -> datetime:
    """The client clock as naive UTC (the clock of client-side dialects)."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


@dataclass(frozen=True)
class MySQLConnFactory:
    """MySQL connection factory (production twin of
    ``SqliteConnFactory``).  Import-gated: neither PyMySQL nor
    mysql-connector ships in this container, so construction succeeds (it
    only stores parameters) and ``__call__`` raises ``ImportError`` with a
    clear message if no driver is installed where it is called.
    """

    dialect = MYSQL

    host: str
    user: str
    password: str = field(repr=False)
    database: str
    port: int = 3306

    def __call__(self):
        try:
            import pymysql  # type: ignore[import-not-found]

            return pymysql.connect(
                host=self.host, port=self.port, user=self.user,
                password=self.password, database=self.database,
                autocommit=False,
            )
        except ImportError:
            pass
        try:
            import mysql.connector  # type: ignore[import-not-found]

            return mysql.connector.connect(
                host=self.host, port=self.port, user=self.user,
                password=self.password, database=self.database,
            )
        except ImportError as e:
            raise ImportError(
                "MySQL backend requires pymysql or mysql-connector-python; "
                "neither is installed"
            ) from e
