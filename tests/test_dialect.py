"""MySQL-dialect parity: the production DML rendered by ``dbdialect.MYSQL``
must be the reference's MySQL SQL verbatim (``sink/InvoiceRetrySink.java:
33-42``, ``source/InvoiceRetrySource.java:48``), and the sinks/sources must
bind the right parameter shapes under each dialect (delay seconds +
DB-clock "now" for MySQL; absolute client timestamps for SQLite)."""

from __future__ import annotations

import json

import pytest

from flink_invoice_processor_spark.config import EngineConfig
from flink_invoice_processor_spark.dbdialect import (
    DIALECTS,
    MYSQL,
    MySQLConnFactory,
    SQLITE,
)
from flink_invoice_processor_spark.sinks.dbapi import collect_rows, write_retry_emissions
from flink_invoice_processor_spark.sources.dbapi import claim_retry_batch

CFG = EngineConfig()

RETRY_EMIT_SCHEMA = (
    "tag string, queue_id long, sid string, syncid string, job string, "
    "payload string, error_message string, error_code string, "
    "retry_count tinyint, state string, next_retry_delay_s long"
)

# The reference's prepared statements, byte-for-byte
# (sink/InvoiceRetrySink.java:33,39,42 — qmark JDBC placeholders).
REF_UPDATE = (
    "UPDATE invoice_retry SET error_message = ?, error_code = ?, "
    "next_retry_time = CURRENT_TIMESTAMP + INTERVAL ? SECOND, "
    "retry_count = ?, state = 'PENDING' "
    "WHERE id = ? AND state = 'PROCESSING'"
)
REF_DELETE = "DELETE FROM invoice_retry WHERE id = ? AND state = 'PROCESSING'"
REF_ERROR_LOG = (
    "INSERT INTO invoice_error_log (payload, error_message, error_code, "
    "attempt, sid, syncid) VALUES (?, ?, ?, ?, ?, ?)"
)


def to_qmark(sql: str) -> str:
    return sql.replace("%s", "?")


def test_mysql_retry_update_matches_reference_verbatim():
    assert to_qmark(MYSQL.retry_update_sql()) == REF_UPDATE


def test_mysql_retry_delete_and_error_log_match_reference():
    assert to_qmark(MYSQL.retry_delete_sql()) == REF_DELETE
    assert to_qmark(MYSQL.error_log_insert_sql()) == REF_ERROR_LOG


def test_mysql_retry_insert_matches_reference_columns_and_interval():
    # InvoiceRetrySink.java:36 — same table, same column list, same
    # server-side interval in the VALUES slot for next_retry_time.  (The
    # reference binds retry_count/state as parameters; ours pins the only
    # values it ever sends, 0 and 'PENDING' — same rows written.)
    sql = MYSQL.retry_insert_sql()
    assert sql.startswith(
        "INSERT INTO invoice_retry (sid, syncid, job, payload, "
        "next_retry_time, error_message, error_code, retry_count, state) "
    )
    assert "CURRENT_TIMESTAMP + INTERVAL %s SECOND" in sql
    assert sql.count("%s") == 7  # 6 value params + 1 interval delay


def test_sqlite_dialect_binds_timestamp_client_side():
    sql = SQLITE.retry_insert_sql()
    assert "INTERVAL" not in sql and "CURRENT_TIMESTAMP" not in sql
    assert sql.count("?") == 7
    with pytest.raises(ValueError):
        SQLITE.interval_expr()


def test_dialect_registry():
    assert set(DIALECTS) == {"sqlite", "mysql"}
    assert DIALECTS["mysql"].placeholder == "%s"
    assert DIALECTS["sqlite"].placeholder == "?"


class RecordingConnFactory:
    """Picklable fake DBAPI backend: every execute/executemany appends
    (sql, params) JSON lines to a shared file, so statements issued inside
    Spark's Python workers are observable from the test process.  It
    names MYSQL as its dialect, like ``MySQLConnFactory``."""

    dialect = MYSQL

    def __init__(self, path: str):
        self.path = path

    def __call__(self):
        factory = self

        class Cursor:
            def execute(self, sql, params=()):
                factory._log(sql, [list(params)])

            def executemany(self, sql, seq):
                factory._log(sql, [list(p) for p in seq])

            def fetchall(self):
                return []

        class Conn:
            def cursor(self):
                return Cursor()

            def commit(self):
                pass

            def rollback(self):
                pass

            def close(self):
                pass

        return Conn()

    def _log(self, sql, param_lists):
        with open(self.path, "a") as f:
            for p in param_lists:
                f.write(json.dumps({"sql": sql, "params": p}, default=str) + "\n")

    def read(self):
        with open(self.path) as f:
            return [json.loads(line) for line in f]


def test_mysql_sink_binds_delay_seconds(spark, tmp_path):
    """Under MYSQL the retry sink must send the reference's server-side DML
    with the *delay in seconds* bound where SQLite binds a timestamp."""
    log = str(tmp_path / "mysql_dml.jsonl")
    emits = spark.createDataFrame(
        [
            ("CREATE", None, "s1", "y1", "SendInvoiceJob", "{}", "boom",
             "JsonParseException", None, None, 10),
            ("UPDATE", 7, "s2", "y2", "SendInvoiceJob", "{}", "boom",
             "JsonParseException", 2, None, 40),
        ],
        RETRY_EMIT_SCHEMA,
    ).coalesce(1)
    write_retry_emissions(collect_rows(emits), RecordingConnFactory(log), CFG)

    stmts = RecordingConnFactory(log).read()
    by_sql = {s["sql"]: s["params"] for s in stmts}
    insert_sql = MYSQL.retry_insert_sql()
    update_sql = MYSQL.retry_update_sql()
    assert insert_sql in by_sql and update_sql in by_sql
    # INSERT params: (sid, syncid, job, payload, delay_s, err_msg, err_code)
    assert by_sql[insert_sql] == [
        "s1", "y1", "SendInvoiceJob", "{}", 10, "boom", "JsonParseException"
    ]
    # UPDATE params: (err_msg, err_code, delay_s, retry_count, queue_id)
    assert by_sql[update_sql] == ["boom", "JsonParseException", 40, 2, 7]


def test_mysql_claim_uses_db_clock(spark, tmp_path):
    """S4 under MYSQL: due predicate is the reference's
    ``next_retry_time <= CURRENT_TIMESTAMP`` with only the job bound."""
    log = str(tmp_path / "mysql_claim.jsonl")
    df = claim_retry_batch(spark, RecordingConnFactory(log), "SendInvoiceJob", CFG)
    assert df.count() == 0
    (stmt,) = RecordingConnFactory(log).read()
    assert "next_retry_time <= CURRENT_TIMESTAMP" in stmt["sql"]
    assert "%s" in stmt["sql"] and "?" not in stmt["sql"]
    assert stmt["params"] == ["SendInvoiceJob"]


def test_mysql_conn_factory_is_import_gated():
    factory = MySQLConnFactory("db.example.internal", "u", "", "invoices")
    with pytest.raises(ImportError, match="pymysql|mysql-connector"):
        factory()


def test_mysql_reap_uses_db_clock(spark, tmp_path):
    """The stale-claim sweep must compare in the SAME clock domain the
    claim stamped: under MYSQL the lease start is CURRENT_TIMESTAMP, so
    the cutoff must be DB-side arithmetic, never a client datetime."""
    log = str(tmp_path / "mysql_reap.jsonl")
    claim_retry_batch(
        spark, RecordingConnFactory(log), "SendInvoiceJob", CFG,
        reap_processing_after_s=60,
    )
    stmts = RecordingConnFactory(log).read()
    reap = [s for s in stmts if "PROCESSING" in s["sql"] and "PENDING" in s["sql"]][0]
    assert "CURRENT_TIMESTAMP - INTERVAL %s SECOND" in reap["sql"]
    assert reap["params"] == ["SendInvoiceJob", 60]


def test_job_path_uses_factory_dialect(spark, tmp_path):
    """The jobs pass no dialect anywhere: every statement the request and
    response micro-batches send must be in the dialect the connection
    factory names (MYSQL here), never SQLite's qmark SQL."""
    from flink_invoice_processor_spark.streaming import jobs

    log = str(tmp_path / "mysql_jobs.jsonl")
    factory = RecordingConnFactory(log)
    packet = json.dumps(
        {"inv_pack": [
            {"api_type": 10, "sid": "S-1", "syncid": "Y-1", "stax": "123"},
            {"api_type": 11, "syncid": "Y-2", "stax": "456"},  # no sid
        ]}
    )
    jobs.request_micro_batch(
        spark.createDataFrame([(packet,)], "value string"), spark, CFG, factory
    )
    jobs.response_cycle(spark, CFG, factory, lambda df: df.collect())

    stmts = factory.read()
    assert [s["sql"] for s in stmts if "?" in s["sql"]] == []
    claims = [s for s in stmts if s["sql"].startswith("SELECT") and "invoice_retry" in s["sql"]]
    assert len(claims) == 2  # one REQUEST claim, one RESPONSE claim
    assert all("next_retry_time <= CURRENT_TIMESTAMP" in s["sql"] for s in claims)
    (create,) = [s for s in stmts if s["sql"].startswith("INSERT INTO invoice_retry")]
    assert create["sql"] == MYSQL.retry_insert_sql()
    assert "CURRENT_TIMESTAMP + INTERVAL %s SECOND" in create["sql"]
    assert create["params"][4] == CFG.app_retry_interval_ms // 1000
