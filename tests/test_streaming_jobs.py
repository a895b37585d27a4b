"""End-to-end pipeline test: packets flow through the streaming request job
into the queue tables, the simulated external service responds, and the
response job assembles/routes packets and log-and-deletes — the full
lifecycle of the two reference jobs on a SQLite stand-in.  Both jobs
restart from their checkpoint without replaying committed work."""

from __future__ import annotations

import json
import sqlite3

import pytest

from flink_invoice_processor_spark.config import EngineConfig
from flink_invoice_processor_spark.sinks.dbapi import SqliteConnFactory
from flink_invoice_processor_spark.streaming.jobs import (
    MARKS_FILE,
    response_cycle,
    run_invoice_request_job,
    run_invoice_response_job,
)

from test_sinks_sources import DDL

CFG = EngineConfig()


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


def packet(*elems):
    return json.dumps({"inv_pack": list(elems)})


def test_full_lifecycle(spark, db, tmp_path):
    # --- stage packets as a file stream (stand-in for the Kafka source) ---
    src_dir = tmp_path / "stream-in"
    src_dir.mkdir()
    packets = [
        packet(
            {"api_type": 10, "sid": "S-1", "syncid": "Y-1", "stax": "111"},
            {"api_type": 11, "sid": "S-2", "syncid": "Y-2", "stax": "222"},
            {"api_type": 10, "sid": "S-3", "inv": {"x": 1}},  # no stax → retry
        )
    ]
    (src_dir / "batch0.txt").write_text("\n".join(packets))
    stream = (
        spark.readStream.format("text")
        .schema("value string")
        .load(str(src_dir))
    )

    # --- run the streaming request job to completion -----------------------
    query = run_invoice_request_job(
        spark, CFG, db, str(tmp_path / "ckpt"), source=stream
    )
    query.processAllAvailable()
    query.stop()

    rows = q(db, "SELECT sid, api_type, state, res_type FROM async_inv_in ORDER BY sid")
    assert rows == [("S-1", 10, 0, None), ("S-2", 11, 0, None)]
    assert q(db, "SELECT sid, error_message, state FROM invoice_retry") == [
        ("S-3", "stax is null", "PENDING")
    ]

    # --- simulate the external invoice service writing results -------------
    conn = db()
    conn.execute(
        "UPDATE async_inv_in SET res_type = 2, state = 4, "
        "fpt_einvoice_res_code = '200', fpt_einvoice_res_json = '{\"ok\":1}'"
    )
    conn.execute(
        "INSERT INTO async_inv_out (tax_schema, gdt_res, sid, syncid, retry, "
        "state, group_id, res_type, api_type) "
        "VALUES ('333', '{\"gdt\":2}', 'S-9', 'Y-9', 0, 0, 0, 2, 10)"
    )
    conn.commit()
    conn.close()

    # --- one response cycle: poll → assemble → kafka-equivalent → log+delete
    collected = []

    def packet_sink(packets_df):
        collected.extend(packets_df.collect())

    response_cycle(spark, CFG, db, packet_sink)

    by_topic = {r.topic: json.loads(r.packet_json) for r in collected}
    crt_items = by_topic["mtt.crt.response"]["inv_pack_res"]
    # api_type 10 batch: S-1 (fpt) and S-9 (gdt) — same envelope
    assert {i["sid"] for i in crt_items} == {"S-1", "S-9"}
    fpt = next(i for i in crt_items if i["sid"] == "S-1")
    assert fpt["status"] == "success" and fpt["data"] == {"ok": 1}
    gdt = next(i for i in crt_items if i["sid"] == "S-9")
    assert gdt["res_resource"] == "gdt" and gdt["data"] == {"gdt": 2}
    upd_items = by_topic["mtt.upd.response"]["inv_pack_res"]
    assert [i["sid"] for i in upd_items] == ["S-2"]

    # processed rows moved to the success log, sources emptied
    assert q(db, "SELECT count(*) FROM async_inv_in") == [(0,)]
    assert q(db, "SELECT count(*) FROM async_inv_out") == [(0,)]
    logged = q(db, "SELECT sid, gdt_res FROM async_inv_succ_log ORDER BY sid")
    assert [r[0] for r in logged] == ["S-1", "S-2", "S-9"]
    assert logged[2][1] == '{"gdt":2}'

    # retry row from stage 1 still pending (it belongs to the REQUEST job)
    assert q(db, "SELECT count(*) FROM invoice_retry") == [(1,)]


def test_request_job_replay_safety(spark, db, tmp_path):
    # restarting from the same checkpoint does not re-insert rows
    src_dir = tmp_path / "stream-in"
    src_dir.mkdir()
    (src_dir / "a.txt").write_text(
        packet({"api_type": 10, "sid": "S-1", "syncid": "Y-1", "stax": "1"})
    )
    stream = spark.readStream.format("text").schema("value string").load(str(src_dir))
    ckpt = str(tmp_path / "ckpt")
    query = run_invoice_request_job(spark, CFG, db, ckpt, source=stream)
    query.processAllAvailable()
    query.stop()
    assert q(db, "SELECT count(*) FROM async_inv_in") == [(1,)]

    stream2 = spark.readStream.format("text").schema("value string").load(str(src_dir))
    query2 = run_invoice_request_job(spark, CFG, db, ckpt, source=stream2)
    query2.processAllAvailable()
    query2.stop()
    assert q(db, "SELECT count(*) FROM async_inv_in") == [(1,)]


#: failures wait an hour, so no CREATE row comes due between two runs
HOUR_CFG = EngineConfig(app_retry_interval_ms=3_600_000)


def insert_inv_out(factory, *rows):
    """Ready ``async_inv_out`` rows from ``(sid, gdt_res)`` pairs."""
    conn = factory()
    conn.executemany(
        "INSERT INTO async_inv_out (tax_schema, gdt_res, sid, syncid, retry, "
        "state, group_id, res_type, api_type, created_date) "
        "VALUES ('333', ?, ?, ?, 0, 0, 0, 2, 10, '2026-01-01 00:00:03')",
        [(gdt, sid, f"Y-{sid}") for sid, gdt in rows],
    )
    conn.commit()
    conn.close()


def test_response_job_restart_does_not_reenqueue(spark, db, tmp_path):
    """A restart over the same checkpoint resumes past the polled rows:
    the invalid row that stays queued for its retry is not polled again,
    so it gets one CREATE retry row, not one per run."""
    insert_inv_out(db, ("S-1", '{"gdt":1}'), ("S-N", None))
    ckpt = str(tmp_path / "response-ckpt")
    runs = []
    for _ in range(2):
        packets = []
        run_invoice_response_job(
            spark, HOUR_CFG, db, lambda df: packets.extend(df.collect()),
            ckpt, cycles=1,
        )
        runs.append(packets)

    first, second = runs
    assert [[i["sid"] for i in json.loads(p.packet_json)["inv_pack_res"]]
            for p in first] == [["S-1"]]
    assert second == []
    assert q(db, "SELECT sid FROM async_inv_succ_log") == [("S-1",)]
    assert q(db, "SELECT sid, job, retry_count, state, error_message "
                 "FROM invoice_retry") == [
        ("S-N", "RESPONSE", 0, "PENDING", "gdt_res is null")
    ]


def test_response_job_failed_cycle_keeps_marks(spark, db, tmp_path):
    """A cycle that raises before its last commit leaves the stored marks
    as they were, so the next run polls, publishes and logs its rows."""
    ckpt = tmp_path / "response-ckpt"
    insert_inv_out(db, ("S-1", '{"gdt":1}'))
    run_invoice_response_job(spark, HOUR_CFG, db, lambda df: df.collect(),
                             str(ckpt), cycles=1)
    marks = (ckpt / MARKS_FILE).read_bytes()

    insert_inv_out(db, ("S-2", '{"gdt":2}'))

    def broken_sink(df):
        raise RuntimeError("broker down")

    with pytest.raises(RuntimeError, match="broker down"):
        run_invoice_response_job(spark, HOUR_CFG, db, broken_sink,
                                 str(ckpt), cycles=1)
    assert (ckpt / MARKS_FILE).read_bytes() == marks
    assert q(db, "SELECT sid FROM async_inv_succ_log") == [("S-1",)]

    packets = []
    run_invoice_response_job(spark, HOUR_CFG, db,
                             lambda df: packets.extend(df.collect()),
                             str(ckpt), cycles=1)
    assert [[i["sid"] for i in json.loads(p.packet_json)["inv_pack_res"]]
            for p in packets] == [["S-2"]]
    assert q(db, "SELECT sid FROM async_inv_succ_log ORDER BY sid") == [
        ("S-1",), ("S-2",)
    ]
    assert q(db, "SELECT count(*) FROM async_inv_out") == [(0,)]
    assert (ckpt / MARKS_FILE).read_bytes() != marks
