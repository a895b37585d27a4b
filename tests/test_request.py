"""Request-side transform tests: FIXTURES.md §1 variants V1-V3, E1-E4,
plus the retry-reprocessing lifecycle (reference
InvoiceRequestTransformer.java:34-136 semantics)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from flink_invoice_processor_spark.config import EngineConfig
from flink_invoice_processor_spark.operators.request import (
    explode_packets,
    parse_request_packets,
    split_request,
    transform_retry_records,
)

CFG = EngineConfig()


def det_uuid():
    return F.lit("det-uuid")  # deterministic stand-in for uuid()


def det_now():
    return F.lit("2026-01-01 00:00:00").cast("timestamp")


def packet(*elems):
    return json.dumps({"inv_pack": list(elems)})


V1 = {"api_type": 10, "sid": "S-1", "syncid": "Y-1", "stax": "0123456789"}
V2 = {"api_type": 11, "inv": {"stax": "111", "sid": "S-2", "syncid": "Y-2"}}
V3 = {
    "api_type": 12,
    "sid": "S-top",
    "syncid": "Y-top",
    "stax": "top-stax",
    "inv": {"stax": "inv-stax", "sid": "S-inv", "syncid": "Y-inv"},
}
E1 = {"api_type": 10, "sid": "S-e1", "inv": {"sid": "x"}}  # no stax anywhere
E2 = {"api_type": 10, "stax": "123"}  # no sid anywhere
E3 = {"sid": "S-e3", "stax": "123"}  # missing api_type
E4 = {"api_type": 14, "sid": "S-e4", "stax": "123"}  # no syncid → uuid


def run(spark, *elems):
    df = spark.createDataFrame([(packet(*elems),)], ["value"])
    return split_request(
        parse_request_packets(df, CFG, uuid_expr=det_uuid(), now_expr=det_now())
    )


def test_v1_top_level_fields(spark):
    valid, retry = run(spark, V1)
    row = valid.collect()[0]
    assert retry.count() == 0
    assert row.tax_schema == "0123456789"
    assert row.sid == "S-1"
    assert row.syncid == "Y-1"
    assert row.api_type == 10
    assert row.state == 0
    assert row.retry == 0
    assert row.group_id == 0
    assert row.res_type is None
    assert json.loads(row.inv) == V1


def test_v2_nested_fields(spark):
    valid, _ = run(spark, V2)
    row = valid.collect()[0]
    assert row.tax_schema == "111"
    assert row.sid == "S-2"
    assert row.syncid == "Y-2"


def test_v3_precedence_top_wins_sid_syncid_inv_wins_stax(spark):
    valid, _ = run(spark, V3)
    row = valid.collect()[0]
    assert row.tax_schema == "inv-stax"  # inv.stax wins when inv exists
    assert row.sid == "S-top"
    assert row.syncid == "Y-top"


def test_e1_missing_stax_under_inv(spark):
    valid, retry = run(spark, E1)
    assert valid.count() == 0
    row = retry.collect()[0]
    assert row.tag == "CREATE"
    assert row.error_message == "stax is null"
    assert row.error_code == "Exception"
    assert row.sid == "S-e1"
    assert row.retry_count == 0
    assert row.state == "PENDING"
    assert row.next_retry_delay_s == CFG.app_retry_interval_ms // 1000
    assert json.loads(row.payload) == E1


def test_e1b_missing_stax_no_inv_is_npe(spark):
    # no inv node and no top-level stax → the reference NPEs (null message)
    valid, retry = run(spark, {"api_type": 10, "sid": "S-x"})
    assert valid.count() == 0
    row = retry.collect()[0]
    assert row.error_code == "NullPointerException"
    assert row.error_message is None


def test_e2_missing_sid(spark):
    _, retry = run(spark, E2)
    row = retry.collect()[0]
    assert row.error_message == "sid is null"


def test_empty_top_sid_shadows_inv_sid(spark):
    # reference :71-79 — has("sid") short-circuits before the empty check
    _, retry = run(
        spark, {"api_type": 10, "sid": "", "inv": {"stax": "1", "sid": "S-inner"}}
    )
    assert retry.collect()[0].error_message == "sid is null"


def test_e3_missing_api_type(spark):
    _, retry = run(spark, E3)
    assert retry.collect()[0].error_message == "api_type is null"


def test_e4_generated_syncid(spark):
    valid, _ = run(spark, E4)
    assert valid.collect()[0].syncid == "det-uuid"


def test_empty_top_syncid_shadows_inv_syncid(spark):
    valid, _ = run(
        spark,
        {"api_type": 10, "sid": "s", "syncid": "", "inv": {"stax": "1", "syncid": "Y-inner"}},
    )
    assert valid.collect()[0].syncid == "det-uuid"


def test_group_id_is_index_mod_5(spark):
    elems = [
        {"api_type": 10, "sid": f"S-{i}", "stax": "1", "syncid": f"Y-{i}"}
        for i in range(12)
    ]
    valid, _ = run(spark, *elems)
    rows = {r.sid: r.group_id for r in valid.collect()}
    for i in range(12):
        assert rows[f"S-{i}"] == i % CFG.group_id_modulus


def test_bad_element_does_not_poison_siblings(spark):
    valid, retry = run(spark, V1, E1, V2)
    assert valid.count() == 2
    assert retry.count() == 1


def test_packet_without_inv_pack_is_skipped(spark):
    df = spark.createDataFrame(
        [("{}",), ('{"inv_pack": 5}',), ("not json",), (packet(V1),)], ["value"]
    )
    assert explode_packets(df).count() == 1


# ---------------------------------------------------------------------------
# Retry re-processing (T5)
# ---------------------------------------------------------------------------

RETRY_COLS = "id long, sid string, syncid string, job string, payload string, " \
    "error_message string, error_code string, retry_count int, state string"


def retry_row(id, payload, count, sid="S-r", syncid="Y-r"):
    return (id, sid, syncid, "REQUEST", json.dumps(payload), "old-msg", "Exception", count, "PROCESSING")


def test_retry_success_emits_delete_and_record(spark):
    df = spark.createDataFrame([retry_row(7, V1, 2)], RETRY_COLS)
    valid, retry = split_request(
        transform_retry_records(df, CFG, uuid_expr=det_uuid(), now_expr=det_now())
    )
    rec = valid.collect()[0]
    assert rec.retry == 2  # attempt count carried onto the record
    assert rec.group_id == 2 % CFG.group_id_modulus  # quirk: index = retry_count
    tagged = retry.collect()[0]
    assert tagged.tag == "DELETE"
    assert tagged.queue_id == 7
    assert tagged.retry_count == 2
    assert tagged.next_retry_delay_s is None


def test_retry_failure_emits_update_with_backoff(spark):
    df = spark.createDataFrame([retry_row(8, E1, 1)], RETRY_COLS)
    valid, retry = split_request(
        transform_retry_records(df, CFG, uuid_expr=det_uuid(), now_expr=det_now())
    )
    assert valid.count() == 0
    row = retry.collect()[0]
    assert row.tag == "UPDATE"
    assert row.retry_count == 2  # incremented
    # backoff = base_s * 2^new_count (reference :128,:132)
    assert row.next_retry_delay_s == (CFG.app_retry_interval_ms // 1000) * 4
    assert row.error_message == "stax is null"


def test_retry_exhausted_dead_letters(spark):
    df = spark.createDataFrame([retry_row(9, V1, CFG.app_max_retries + 1)], RETRY_COLS)
    valid, retry = split_request(
        transform_retry_records(df, CFG, uuid_expr=det_uuid(), now_expr=det_now())
    )
    assert valid.count() == 0
    row = retry.collect()[0]
    assert row.tag == "MAX_RETRY"
    assert row.retry_count == CFG.app_max_retries + 1  # not incremented
    assert row.error_message == "old-msg"  # original error preserved


@pytest.mark.parametrize("count,expected_backoff", [(0, 20), (1, 40), (2, 80), (3, 160)])
def test_backoff_schedule(spark, count, expected_backoff):
    df = spark.createDataFrame([retry_row(1, E2, count)], RETRY_COLS)
    _, retry = split_request(
        transform_retry_records(df, CFG, uuid_expr=det_uuid(), now_expr=det_now())
    )
    assert retry.collect()[0].next_retry_delay_s == expected_backoff


def test_empty_claim_builds_no_derivation(spark, monkeypatch):
    """The steady state claims nothing: an empty claim returns an empty
    frame of the declared output schema, runs no Spark job and builds no
    column derivation; a non-empty claim builds it once."""
    from flink_invoice_processor_spark.operators import request
    from flink_invoice_processor_spark.schemas import INVOICE_RETRY_RECORD
    from flink_invoice_processor_spark.sources.dbapi import local_frame
    from test_streaming_jobs import jobs_run_by

    calls = []
    derive = request._derived_columns
    monkeypatch.setattr(
        request, "_derived_columns",
        lambda *args, **kwargs: calls.append(1) or derive(*args, **kwargs),
    )
    empty = local_frame(spark, [], INVOICE_RETRY_RECORD)
    frames = []
    assert jobs_run_by(spark, lambda: frames.append(transform_retry_records(empty, CFG))) == 0
    assert calls == []
    (out,) = frames
    assert out.schema == request.REQUEST_OUTPUT
    assert out.collect() == []

    df = spark.createDataFrame([retry_row(7, V1, 2)], RETRY_COLS)
    transform_retry_records(df, CFG)
    assert calls == [1]
