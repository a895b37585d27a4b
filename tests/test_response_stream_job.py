"""The response job's one micro-batch body, end to end on a SQLite queue:
``response_cycle`` polls both queue tables, claims due RESPONSE retries,
assembles and routes packets, then log-and-deletes and enqueues failures."""

from __future__ import annotations

import json
import sqlite3
import uuid

from flink_invoice_processor_spark.config import EngineConfig
from flink_invoice_processor_spark.sinks.dbapi import SqliteConnFactory
from flink_invoice_processor_spark.streaming.jobs import response_cycle

from test_sinks_sources import DDL


#: failures wait an hour, so the CREATE row the run enqueues never comes due
PARITY_CFG = EngineConfig(app_retry_interval_ms=3_600_000)

_RECOVERING_PAYLOAD = json.dumps({
    "id": 900, "tax_schema": "444", "api_type": 12, "res_type": 2,
    "gdt_res": '{"gdt":4}', "retry": 0, "state": 0, "group_id": 0,
    "sid": "S-R", "syncid": "Y-R",
})


def _seed_queue(db_path: str) -> None:
    """2 valid inv_in rows, 1 valid inv_out row, 1 inv_out row with null
    gdt_res, 1 due RESPONSE retry row whose payload recovers and 1 past
    ``app_max_retries``."""
    conn = sqlite3.connect(db_path)
    for ddl in DDL:
        conn.execute(ddl)
    conn.execute(
        "INSERT INTO async_inv_in (tax_schema, inv, api_type, res_type, "
        "fpt_einvoice_res_code, fpt_einvoice_res_json, retry, state, group_id, "
        "created_date, sid, syncid) VALUES "
        "('111', '{}', 10, 2, '200', '{\"ok\":1}', 0, 4, 0, '2026-01-01 00:00:01', 'S-1', 'Y-1'), "
        "('222', '{}', 11, 2, '200', '{\"ok\":2}', 0, 4, 1, '2026-01-01 00:00:02', 'S-2', 'Y-2')"
    )
    conn.execute(
        "INSERT INTO async_inv_out (tax_schema, gdt_res, sid, syncid, retry, "
        "state, group_id, res_type, api_type, created_date) VALUES "
        "('333', '{\"gdt\":2}', 'S-9', 'Y-9', 0, 0, 0, 2, 10, '2026-01-01 00:00:03'), "
        "('555', NULL, 'S-N', 'Y-N', 0, 0, 0, 2, 11, '2026-01-01 00:00:04')"
    )
    conn.executemany(
        "INSERT INTO invoice_retry (sid, syncid, job, payload, error_message, "
        "error_code, retry_count, state, next_retry_time, created_at) "
        "VALUES (?, ?, 'RESPONSE', ?, 'old', 'Exception', ?, 'PENDING', "
        "'2026-01-01 00:00:00', '2026-01-01 00:00:00')",
        [("S-R", "Y-R", _RECOVERING_PAYLOAD, 1),
         ("S-D", "Y-D", '{"gdt_res": null}', PARITY_CFG.app_max_retries + 1)],
    )
    conn.commit()
    conn.close()


def _end_state(db_path: str, packets) -> dict:
    conn = sqlite3.connect(db_path)
    try:
        return {
            "packets": sorted(
                (p.topic, sorted(i["sid"] for i in json.loads(p.packet_json)["inv_pack_res"]))
                for p in packets
            ),
            "succ_log": sorted(r[0] for r in conn.execute("SELECT sid FROM async_inv_succ_log")),
            "retry": conn.execute(
                "SELECT sid, syncid, job, payload, error_message, error_code, "
                "retry_count, state FROM invoice_retry ORDER BY sid"
            ).fetchall(),
            "error_log": conn.execute(
                "SELECT sid, syncid, payload, error_message, error_code, attempt "
                "FROM invoice_error_log ORDER BY sid"
            ).fetchall(),
        }
    finally:
        conn.close()


def test_response_entry_points_share_one_body(spark, tmp_path):
    """``response_cycle``, the one response body every entry point runs,
    leaves the right packets and queue end state, retry claims included."""
    db = str(tmp_path / "loop.db")
    _seed_queue(db)
    packets = []
    response_cycle(
        spark, PARITY_CFG, SqliteConnFactory(db),
        lambda df: packets.extend(df.collect()),
    )
    state = _end_state(db, packets)

    assert state["packets"] == [
        ("mtt.crt.response", ["S-1", "S-9"]),
        ("mtt.del.response", ["S-R"]),
        ("mtt.upd.response", ["S-2"]),
    ]
    assert state["succ_log"] == ["S-1", "S-2", "S-9", "S-R"]
    assert [(r[0], r[4], r[7]) for r in state["retry"]] == [
        ("S-N", "gdt_res is null", "PENDING")
    ]
    assert [r[0] for r in state["error_log"]] == ["S-D"]


def test_response_cycle_runs_one_single_task_job_per_sink(spark, tmp_path):
    """The micro-batch runs in one partition: the dedup, the api_type
    window and the packet groupBy plan no shuffle, so a cycle runs one
    Spark job per sink action, three in all, and the frame the packet
    sink gets has no Exchange.  The session does no call-site capture."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    db = str(tmp_path / "jobs.db")
    _seed_queue(db)
    plans = []

    def packet_sink(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        df.collect()

    sc = spark.sparkContext
    group = f"response-cycle-{uuid.uuid4()}"
    sc.setJobGroup(group, "response_cycle")
    try:
        response_cycle(spark, PARITY_CFG, SqliteConnFactory(db), packet_sink)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker learns of jobs through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]

    assert len(jobs) == 3
    assert all(tracker.getStageInfo(s).numTasks == 1 for j in jobs for s in j.stageIds)
    assert len(plans) == 1 and "Exchange" not in plans[0], plans


def test_dedup_keeps_the_polled_row_over_a_recovered_duplicate(spark, tmp_path):
    """A recovered retry row with the dedup key of a polled row is dropped
    in favour of the polled one: the one-partition batch holds the polled
    rows first, so the dedup no longer depends on hash-shuffle order."""
    db = str(tmp_path / "dup.db")
    conn = sqlite3.connect(db)
    for ddl in DDL:
        conn.execute(ddl)
    conn.execute(
        "INSERT INTO async_inv_out (tax_schema, gdt_res, sid, syncid, retry, "
        "state, group_id, res_type, api_type, created_date) VALUES "
        "('333', '{\"gdt\":\"polled\"}', 'S-9', 'Y-9', 0, 0, 0, 2, 10, "
        "'2026-01-01 00:00:03')"
    )
    stale = json.dumps({
        "id": 1, "tax_schema": "333", "api_type": 10, "res_type": 2,
        "gdt_res": '{"gdt":"recovered"}', "retry": 0, "state": 0,
        "group_id": 0, "sid": "S-9", "syncid": "Y-9",
    })
    conn.execute(
        "INSERT INTO invoice_retry (sid, syncid, job, payload, error_message, "
        "error_code, retry_count, state, next_retry_time, created_at) "
        "VALUES ('S-9', 'Y-9', 'RESPONSE', ?, 'old', 'Exception', 1, 'PENDING', "
        "'2026-01-01 00:00:00', '2026-01-01 00:00:00')",
        (stale,),
    )
    conn.commit()
    conn.close()
    packets = []
    response_cycle(spark, PARITY_CFG, SqliteConnFactory(db),
                   lambda df: packets.extend(df.collect()))

    items = [i for p in packets for i in json.loads(p.packet_json)["inv_pack_res"]]
    assert [(i["sid"], i["data"]) for i in items] == [("S-9", {"gdt": "polled"})]
    assert _end_state(db, packets)["succ_log"] == ["S-9"]
