"""Sink/source tests over a SQLite stand-in for the reference's MySQL:
batched insert (W1), retry-queue DML + dead-letter (W3), transactional
log-and-delete (W4), polling sources with high-water mark (S2/S3) and the
claiming retry source (S4)."""

from __future__ import annotations

import json
import os
import sqlite3
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from flink_invoice_processor_spark.config import EngineConfig
from flink_invoice_processor_spark.schemas import (
    ASYNC_INV_IN_RECORD,
    ASYNC_INV_OUT_RECORD,
    INVOICE_RETRY_RECORD,
)
from flink_invoice_processor_spark.sinks.dbapi import (
    SqliteConnFactory,
    write_invoice_records,
    write_log_and_delete,
    write_retry_emissions,
)
from flink_invoice_processor_spark.sources.dbapi import (
    claim_retry_batch,
    poll_async_inv_in,
    poll_async_inv_out,
)

CFG = EngineConfig()

DDL = [
    """CREATE TABLE async_inv_in (
        id INTEGER PRIMARY KEY AUTOINCREMENT, tax_schema TEXT, inv TEXT,
        api_type INTEGER, res_type INTEGER, fpt_einvoice_res_code TEXT,
        fpt_einvoice_res_msg TEXT, fpt_einvoice_res_json TEXT, retry INTEGER,
        state INTEGER, group_id INTEGER, created_date TIMESTAMP,
        updated_date TIMESTAMP, callback_res_code TEXT, callback_res_msg TEXT,
        callback_res_json TEXT, sid TEXT, syncid TEXT, process_kafka TEXT)""",
    """CREATE TABLE async_inv_out (
        id INTEGER PRIMARY KEY AUTOINCREMENT, tax_schema TEXT, gdt_res TEXT,
        sid TEXT, syncid TEXT, retry INTEGER, state INTEGER, group_id INTEGER,
        res_type INTEGER, api_type INTEGER, created_date TIMESTAMP,
        updated_date TIMESTAMP, process_kafka TEXT)""",
    """CREATE TABLE invoice_retry (
        id INTEGER PRIMARY KEY AUTOINCREMENT, sid TEXT, syncid TEXT, job TEXT,
        payload TEXT, error_message TEXT, error_code TEXT, retry_count INTEGER,
        state TEXT, next_retry_time TIMESTAMP, created_at TIMESTAMP,
        updated_at TIMESTAMP)""",
    """CREATE TABLE invoice_error_log (
        id INTEGER PRIMARY KEY AUTOINCREMENT, payload TEXT, error_message TEXT,
        error_code TEXT, attempt INTEGER, sid TEXT, syncid TEXT,
        created_at TIMESTAMP)""",
    """CREATE TABLE async_inv_succ_log (
        id INTEGER PRIMARY KEY AUTOINCREMENT, tax_schema TEXT, api_type INTEGER,
        res_type INTEGER, fpt_einvoice_res_code TEXT, fpt_einvoice_res_msg TEXT,
        retry INTEGER, group_id INTEGER, created_date TIMESTAMP,
        updated_date TIMESTAMP, callback_res_code TEXT, callback_res_msg TEXT,
        sid TEXT, syncid TEXT, gdt_res TEXT)""",
]


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "engine.db")
    conn = sqlite3.connect(path)
    for ddl in DDL:
        conn.execute(ddl)
    conn.commit()
    conn.close()
    return SqliteConnFactory(path)


def q(factory, sql, params=()):
    conn = factory()
    try:
        return conn.execute(sql, params).fetchall()
    finally:
        conn.close()


NOW = datetime(2026, 1, 1, 12, 0, 0)

RETRY_EMIT_SCHEMA = (
    "tag string, queue_id long, sid string, syncid string, job string, "
    "payload string, error_message string, error_code string, "
    "retry_count tinyint, state string, next_retry_delay_s long"
)


def test_write_invoice_records(spark, db):
    from flink_invoice_processor_spark.operators.request import parse_request_packets

    packet = json.dumps(
        {"inv_pack": [
            {"api_type": 10, "sid": "S-1", "syncid": "Y-1", "stax": "123"},
            {"api_type": 11, "sid": "S-2", "syncid": "Y-2", "stax": "456"},
        ]}
    )
    valid, _ = parse_request_packets(spark.createDataFrame([(packet,)], ["value"]), CFG)
    write_invoice_records(valid, db, CFG)
    rows = q(db, "SELECT tax_schema, api_type, res_type, sid, state FROM async_inv_in ORDER BY sid")
    assert rows == [("123", 10, None, "S-1", 0), ("456", 11, None, "S-2", 0)]


class FailOnSecondExecutemany(SqliteConnFactory):
    """SQLite factory whose connections raise on their second
    ``executemany`` — a write that dies mid-partition."""

    def __call__(self):
        conn = super().__call__()
        calls = []

        class Cursor:
            def executemany(self, sql, seq):
                calls.append(sql)
                if len(calls) == 2:
                    raise sqlite3.OperationalError("injected failure")
                return conn.executemany(sql, seq)

        class Conn:
            def cursor(self):
                return Cursor()

            def __getattr__(self, name):
                return getattr(conn, name)

        return Conn()


def test_invoice_insert_is_all_or_nothing_per_partition(spark, db):
    """W1 commits once per partition: a failure after the first
    ``mysql.batch.size`` chunk leaves none of the partition's rows."""
    from flink_invoice_processor_spark.operators.request import parse_request_packets

    packet = json.dumps(
        {"inv_pack": [
            {"api_type": 10, "sid": f"S-{i}", "syncid": f"Y-{i}", "stax": "123"}
            for i in range(5)
        ]}
    )
    cfg = EngineConfig(mysql_batch_size=2, mysql_max_retries=0)
    valid, _ = parse_request_packets(spark.createDataFrame([(packet,)], ["value"]), cfg)
    with pytest.raises(Exception, match="injected failure"):
        write_invoice_records(valid.coalesce(1), FailOnSecondExecutemany(db.path), cfg)
    assert q(db, "SELECT count(*) FROM async_inv_in") == [(0,)]


def test_retry_create_then_claim_lifecycle(spark, db):
    # CREATE: insert a due row and a future row
    emits = spark.createDataFrame(
        [
            ("CREATE", None, "S-1", "Y-1", "REQUEST", "{}", "boom", "Exception", 0, "PENDING", -5),
            ("CREATE", None, "S-2", "Y-2", "REQUEST", "{}", "boom", "Exception", 0, "PENDING", 9999),
            ("CREATE", None, "S-3", "Y-3", "RESPONSE", "{}", "boom", "Exception", 0, "PENDING", -5),
        ],
        RETRY_EMIT_SCHEMA,
    )
    write_retry_emissions(emits, db, CFG, now=NOW)
    assert len(q(db, "SELECT * FROM invoice_retry")) == 3

    # claim only due REQUEST rows
    claimed = claim_retry_batch(spark, db, "REQUEST", CFG, now=NOW)
    rows = claimed.collect()
    assert [r.sid for r in rows] == ["S-1"]
    assert q(db, "SELECT state FROM invoice_retry WHERE sid='S-1'") == [("PROCESSING",)]
    assert q(db, "SELECT state FROM invoice_retry WHERE sid='S-2'") == [("PENDING",)]

    # re-claim finds nothing (at-most-once)
    assert claim_retry_batch(spark, db, "REQUEST", CFG, now=NOW).count() == 0

    qid = rows[0].id
    # UPDATE re-arms the claimed row with backoff
    upd = spark.createDataFrame(
        [("UPDATE", qid, "S-1", "Y-1", "REQUEST", "{}", "new-msg", "Exception", 1, "PENDING", 20)],
        RETRY_EMIT_SCHEMA,
    )
    write_retry_emissions(upd, db, CFG, now=NOW)
    row = q(db, "SELECT state, retry_count, error_message, next_retry_time FROM invoice_retry WHERE id=?", (qid,))[0]
    assert row[0] == "PENDING" and row[1] == 1 and row[2] == "new-msg"
    assert datetime.fromisoformat(row[3]) == NOW + timedelta(seconds=20)

    # claim again later, then DELETE removes it
    later = NOW + timedelta(seconds=60)
    claimed2 = claim_retry_batch(spark, db, "REQUEST", CFG, now=later)
    assert claimed2.count() == 1
    dele = spark.createDataFrame(
        [("DELETE", qid, "S-1", "Y-1", "REQUEST", "{}", None, None, 1, "PENDING", None)],
        RETRY_EMIT_SCHEMA,
    )
    write_retry_emissions(dele, db, CFG, now=later)
    assert q(db, "SELECT count(*) FROM invoice_retry WHERE id=?", (qid,)) == [(0,)]


def test_update_requires_processing_state(spark, db):
    # UPDATE against a row not in PROCESSING is a no-op (claim condition)
    conn = db()
    conn.execute(
        "INSERT INTO invoice_retry (sid, syncid, job, payload, error_message, "
        "error_code, retry_count, state, next_retry_time) "
        "VALUES ('S','Y','REQUEST','{}','m','E',0,'PENDING',?)", (NOW,),
    )
    conn.commit()
    qid = conn.execute("SELECT id FROM invoice_retry").fetchone()[0]
    conn.close()
    upd = spark.createDataFrame(
        [("UPDATE", qid, "S", "Y", "REQUEST", "{}", "changed", "E", 1, "PENDING", 20)],
        RETRY_EMIT_SCHEMA,
    )
    write_retry_emissions(upd, db, CFG, now=NOW)
    assert q(db, "SELECT error_message, retry_count FROM invoice_retry") == [("m", 0)]


def test_max_retry_dead_letters(spark, db):
    conn = db()
    conn.execute(
        "INSERT INTO invoice_retry (sid, syncid, job, payload, error_message, "
        "error_code, retry_count, state, next_retry_time) "
        "VALUES ('S','Y','REQUEST','{\"p\":1}','m','E',4,'PROCESSING',?)", (NOW,),
    )
    conn.commit()
    qid = conn.execute("SELECT id FROM invoice_retry").fetchone()[0]
    conn.close()
    dead = spark.createDataFrame(
        [("MAX_RETRY", qid, "S", "Y", "REQUEST", '{"p":1}', "m", "E", 4, "PENDING", None)],
        RETRY_EMIT_SCHEMA,
    )
    write_retry_emissions(dead, db, CFG, now=NOW)
    # queue row gone, error-log row has attempt = retry_count - 1 (:119)
    assert q(db, "SELECT count(*) FROM invoice_retry") == [(0,)]
    assert q(db, "SELECT payload, attempt, sid FROM invoice_error_log") == [('{"p":1}', 3, "S")]


def test_log_and_delete_transactional(spark, db):
    conn = db()
    conn.execute(
        "INSERT INTO async_inv_in (id, tax_schema, inv, api_type, res_type, "
        "fpt_einvoice_res_code, retry, state, group_id, sid, syncid) "
        "VALUES (7, '123', '{}', 10, 2, '200', 0, 4, 1, 'S-7', 'Y-7')"
    )
    conn.execute(
        "INSERT INTO async_inv_out (id, tax_schema, gdt_res, sid, syncid, retry, "
        "state, group_id, res_type, api_type) "
        "VALUES (9, '456', '{\"g\":1}', 'S-9', 'Y-9', 1, 0, 2, 2, 11)"
    )
    conn.commit()
    conn.close()

    env_schema = (
        "record_type string, id long, api_type tinyint, sid string, syncid string, "
        "tax_schema string, retry tinyint, group_id tinyint, res_type tinyint, "
        "fpt_einvoice_res_code string, fpt_einvoice_res_msg string, "
        "fpt_einvoice_res_json string, callback_res_code string, "
        "callback_res_msg string, gdt_res string, created_date timestamp, "
        "updated_date timestamp"
    )
    ops = spark.createDataFrame(
        [
            ("inv_in", 7, 10, "S-7", "Y-7", "123", 0, 1, 2, "200", None, None, "cb", None, None, None, None),
            ("inv_out", 9, 11, "S-9", "Y-9", "456", 1, 2, 2, None, None, None, None, None, '{"g":1}', None, None),
        ],
        env_schema,
    )
    write_log_and_delete(ops, db, CFG, now=NOW)

    assert q(db, "SELECT count(*) FROM async_inv_in") == [(0,)]
    assert q(db, "SELECT count(*) FROM async_inv_out") == [(0,)]
    logs = q(
        db,
        "SELECT tax_schema, api_type, fpt_einvoice_res_code, callback_res_code, "
        "gdt_res, updated_date FROM async_inv_succ_log ORDER BY tax_schema",
    )
    # inv_in keeps fpt/callback fields with null gdt_res; inv_out the mirror
    assert logs[0] == ("123", 10, "200", "cb", None, None)
    assert logs[1] == ("456", 11, None, None, '{"g":1}', None)


def test_poll_sources_predicate_and_hwm(spark, db):
    conn = db()
    for i, (res_type, state) in enumerate([(2, 4), (2, 4), (1, 4), (2, 0), (None, 4)], start=1):
        conn.execute(
            "INSERT INTO async_inv_in (id, tax_schema, inv, api_type, res_type, retry, "
            "state, group_id, sid, syncid) VALUES (?, 't', '{}', 10, ?, 0, ?, 0, ?, ?)",
            (i, res_type, state, f"S-{i}", f"Y-{i}"),
        )
    conn.execute(
        "INSERT INTO async_inv_out (id, tax_schema, gdt_res, sid, syncid, retry, "
        "state, group_id, res_type, api_type) VALUES (1, 't', '{}', 'SO', 'YO', 0, 0, 0, 2, 10)"
    )
    conn.commit()
    conn.close()

    df, hwm = poll_async_inv_in(spark, db, CFG, last_id=0)
    assert sorted(r.id for r in df.collect()) == [1, 2]  # only res_type=2, state=4
    assert hwm == 2
    df2, hwm2 = poll_async_inv_in(spark, db, CFG, last_id=hwm)
    assert df2.count() == 0 and hwm2 == 2  # high-water mark holds

    dfo, hwmo = poll_async_inv_out(spark, db, CFG, last_id=0)
    assert [r.sid for r in dfo.collect()] == ["SO"] and hwmo == 1


def test_retry_stale_claim_reaper(spark, db):
    emits = spark.createDataFrame(
        [("CREATE", None, "S-9", "Y-9", "REQUEST", "{}", "boom", "Exception",
          0, "PENDING", -120)],
        RETRY_EMIT_SCHEMA,
    )
    write_retry_emissions(emits, db, CFG, now=NOW)
    # a claimer takes the row, then dies before its sink runs
    assert claim_retry_batch(spark, db, "REQUEST", CFG, now=NOW).count() == 1
    # without the reaper the row is stranded in PROCESSING forever
    assert claim_retry_batch(spark, db, "REQUEST", CFG, now=NOW).count() == 0
    # the lease measures from the CLAIM, not the original due time: even
    # though the row was due 120 s before the claim, a sweep right after
    # the claim must NOT steal it back (the claimer may still be working)
    fresh = claim_retry_batch(
        spark, db, "REQUEST", CFG,
        now=NOW + timedelta(seconds=5), reap_processing_after_s=60,
    )
    assert fresh.count() == 0
    # once the lease (60 s from the claim) expires, the sweep flips the
    # row back to PENDING and it is re-claimed in the same call
    again = claim_retry_batch(
        spark, db, "REQUEST", CFG,
        now=NOW + timedelta(seconds=120), reap_processing_after_s=60,
    )
    assert [r.sid for r in again.collect()] == ["S-9"]
    assert q(db, "SELECT state FROM invoice_retry WHERE sid='S-9'") == [
        ("PROCESSING",)
    ]


# -- the sources hand Spark JVM-local relations ---------------------------------


class DatetimeSqliteConnFactory(SqliteConnFactory):
    """SQLite returning ``TIMESTAMP`` columns as ``datetime`` (as a MySQL
    driver does) instead of ISO strings."""

    def __call__(self):
        return sqlite3.connect(
            self.path, timeout=self.timeout, detect_types=sqlite3.PARSE_DECLTYPES
        )


def _seed_sources(factory) -> None:
    """One ready row per queue table with NULL ints, strings and
    timestamps next to microsecond timestamps, plus one due retry row per
    job."""
    conn = factory()
    conn.execute(
        "INSERT INTO async_inv_in (id, tax_schema, inv, api_type, res_type, "
        "fpt_einvoice_res_code, retry, state, group_id, created_date, sid, syncid) "
        "VALUES (7, 't', '{}', 10, 2, NULL, NULL, 4, 1, "
        "'2026-01-01 00:00:00.123456', 'S-7', 'Y-7')"
    )
    conn.execute(
        "INSERT INTO async_inv_out (id, tax_schema, gdt_res, sid, syncid, retry, "
        "state, group_id, res_type, api_type, created_date, updated_date) "
        "VALUES (3, 'o', NULL, 'SO', NULL, 0, 0, NULL, 2, 11, "
        "'2026-01-01 00:00:00.000001', '2026-01-02 03:04:05.654321')"
    )
    for job in ("REQUEST", "RESPONSE"):
        conn.execute(
            "INSERT INTO invoice_retry (sid, syncid, job, payload, error_message, "
            "error_code, retry_count, state, next_retry_time, created_at) "
            "VALUES (?, NULL, ?, '{}', 'boom', NULL, 2, 'PENDING', "
            "'2025-12-31 23:59:59.999999', NULL)",
            (f"S-{job}", job),
        )
    conn.commit()
    conn.close()


def _str_timestamps(df):
    """``df`` with its timestamps cast to strings in the session time zone,
    so expected rows do not depend on the host's."""
    return df.select(
        [
            F.col(f.name).cast("string") if f.dataType.typeName() == "timestamp"
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def test_sources_plan_as_jvm_local_relations(spark, db):
    _seed_sources(db)
    in_df, in_hwm = poll_async_inv_in(spark, db, CFG, last_id=0)
    out_df, out_hwm = poll_async_inv_out(spark, db, CFG, last_id=0)
    claimed = claim_retry_batch(spark, db, "REQUEST", CFG, now=NOW)
    empty = [
        poll_async_inv_in(spark, db, CFG, last_id=in_hwm)[0],
        poll_async_inv_out(spark, db, CFG, last_id=out_hwm)[0],
        claim_retry_batch(spark, db, "REQUEST", CFG, now=NOW),
    ]
    for df, n in [(in_df, 1), (out_df, 1), (claimed, 1)] + [(e, 0) for e in empty]:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
        assert df.count() == n


@pytest.mark.parametrize("factory_cls", [SqliteConnFactory, DatetimeSqliteConnFactory])
def test_polled_values_survive_arrow_build(spark, db, factory_cls):
    factory = factory_cls(db.path)
    _seed_sources(factory)
    if factory_cls is DatetimeSqliteConnFactory:
        raw = factory().execute("SELECT created_date FROM async_inv_in").fetchone()
        assert isinstance(raw[0], datetime)  # the MySQL-driver shape

    in_df, in_hwm = poll_async_inv_in(spark, factory, CFG, last_id=0)
    assert _str_timestamps(in_df).collect() == [(
        7, "t", "{}", 10, 2, None, None, None, None, 4, 1,
        "2026-01-01 00:00:00.123456", None, None, None, None, "S-7", "Y-7", None,
    )]
    out_df, out_hwm = poll_async_inv_out(spark, factory, CFG, last_id=0)
    assert _str_timestamps(out_df).collect() == [(
        3, "o", None, "SO", None, 0, 0, None, 2, 11,
        "2026-01-01 00:00:00.000001", "2026-01-02 03:04:05.654321", None,
    )]
    claimed = claim_retry_batch(spark, factory, "RESPONSE", CFG, now=NOW)
    assert _str_timestamps(claimed).collect() == [(
        2, "S-RESPONSE", None, "RESPONSE", "{}", "boom", None, 2, "PENDING",
        "2025-12-31 23:59:59.999999", None, None,
    )]

    # an empty fetch keeps the full schema, nullability included
    for df, schema in [
        (poll_async_inv_in(spark, factory, CFG, last_id=in_hwm)[0], ASYNC_INV_IN_RECORD),
        (poll_async_inv_out(spark, factory, CFG, last_id=out_hwm)[0], ASYNC_INV_OUT_RECORD),
        (claim_retry_batch(spark, factory, "RESPONSE", CFG, now=NOW), INVOICE_RETRY_RECORD),
    ]:
        assert df.select("*").schema == schema
        assert df.collect() == []


def test_polled_timestamps_ignore_host_time_zone(spark, db):
    """A naive polled timestamp is read in the session time zone (UTC), not
    the host's: on a UTC+7 host ``2026-01-01 00:00:00`` must still
    serialize as midnight UTC in the packets and retry payloads."""
    _seed_sources(db)
    conn = db()
    conn.execute(
        "UPDATE async_inv_in SET created_date = '2026-01-01 00:00:00' WHERE id = 7"
    )
    conn.commit()
    conn.close()
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Ho_Chi_Minh"
    time.tzset()
    try:
        df, _ = poll_async_inv_in(spark, db, CFG, last_id=0)
        (row,) = df.select(F.to_json(F.struct("created_date")).alias("j")).collect()
    finally:
        if saved is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert json.loads(row.j) == {"created_date": "2026-01-01T00:00:00.000Z"}
