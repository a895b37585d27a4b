"""Response-side transform tests: envelope union, dedup, item projection
(status derivation), batch assembly, topic routing, retry shape-sniffing
(reference InvoiceResponseItemFactory / InvoiceResponseBatchProcessor /
InvoiceResponseKafkaRouter semantics)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from flink_invoice_processor_spark.config import EngineConfig
from flink_invoice_processor_spark.operators.response import (
    SUCCESS_MESSAGE,
    ResponseBatchResult,
    dedup_records,
    make_response_envelope,
    process_response_batch,
    transform_response_retry_records,
)

CFG = EngineConfig()

IN_COLS = (
    "id long, tax_schema string, inv string, api_type tinyint, res_type tinyint, "
    "fpt_einvoice_res_code string, fpt_einvoice_res_msg string, "
    "fpt_einvoice_res_json string, retry tinyint, state tinyint, group_id tinyint, "
    "created_date timestamp, updated_date timestamp, callback_res_code string, "
    "callback_res_msg string, callback_res_json string, sid string, syncid string, "
    "process_kafka string"
)
OUT_COLS = (
    "id long, tax_schema string, gdt_res string, sid string, syncid string, "
    "retry tinyint, state tinyint, group_id tinyint, res_type tinyint, "
    "api_type tinyint, created_date timestamp, updated_date timestamp, "
    "process_kafka string"
)


def inv_in_row(id, api_type=10, msg=None, code="200", res_json='{"ok": true}',
               sid=None, syncid=None):
    return (
        id, "123", "{}", api_type, 2, code, msg, res_json, 0, 4, 0,
        None, None, None, None, None, sid or f"S-{id}", syncid or f"Y-{id}", None,
    )


def inv_out_row(id, api_type=10, gdt_res='{"gdt": 1}', sid=None, syncid=None):
    return (
        id, "123", gdt_res, sid or f"S-{id}", syncid or f"Y-{id}",
        0, 0, 0, 2, api_type, None, None, None,
    )


def envelope(spark, in_rows=(), out_rows=()):
    inv_in = spark.createDataFrame(list(in_rows) or [], IN_COLS)
    inv_out = spark.createDataFrame(list(out_rows) or [], OUT_COLS)
    return make_response_envelope(inv_in, inv_out)


def test_envelope_union_discriminator(spark):
    env = envelope(spark, [inv_in_row(1)], [inv_out_row(2)])
    rows = {r.record_type: r for r in env.collect()}
    assert set(rows) == {"inv_in", "inv_out"}
    assert rows["inv_in"].fpt_einvoice_res_code == "200"
    assert rows["inv_out"].gdt_res == '{"gdt": 1}'
    assert rows["inv_in"].gdt_res is None


def test_dedup_by_composite_key(spark):
    env = envelope(
        spark,
        [inv_in_row(1), inv_in_row(1)],          # duplicate redelivery
        [inv_out_row(1, sid="S-1", syncid="Y-1")],  # same ids, other type → kept
    )
    assert dedup_records(env).count() == 2


def test_item_status_success_when_msg_null(spark):
    res = process_response_batch(envelope(spark, [inv_in_row(1, msg=None)]), CFG)
    packet = json.loads(res.packets.collect()[0].packet_json)
    item = packet["inv_pack_res"][0]
    assert item["message"] == SUCCESS_MESSAGE
    assert item["status"] == "success"
    assert item["res_resource"] == "fpt"
    assert item["res_code"] == "200"
    assert item["code"] is None  # explicit null survives serialization
    assert item["data"] == {"ok": True}  # embedded as a nested object


def test_item_status_error_when_msg_present(spark):
    res = process_response_batch(
        envelope(spark, [inv_in_row(1, msg="boom")]), CFG
    )
    item = json.loads(res.packets.collect()[0].packet_json)["inv_pack_res"][0]
    assert item["message"] == "boom"
    assert item["status"] == "error"


def test_inv_out_item_shape(spark):
    res = process_response_batch(envelope(spark, out_rows=[inv_out_row(5)]), CFG)
    item = json.loads(res.packets.collect()[0].packet_json)["inv_pack_res"][0]
    assert item["res_resource"] == "gdt"
    assert item["message"] is None and item["status"] is None
    assert item["sid"] == "S-5" and item["sync_sid"] == "Y-5"


def test_null_gdt_res_goes_to_retry(spark):
    res = process_response_batch(
        envelope(spark, out_rows=[inv_out_row(5, gdt_res=None)]), CFG
    )
    assert res.packets.count() == 0
    assert res.db_ops.count() == 0
    row = res.retry.collect()[0]
    assert row.tag == "CREATE"
    assert row.job == "RESPONSE"
    assert row.error_message == "gdt_res is null"
    # payload is the serialized record with explicit nulls — key presence
    # matters for later shape-sniffing
    assert "gdt_res" in json.loads(row.payload)


def test_unknown_api_type_goes_to_retry(spark):
    res = process_response_batch(envelope(spark, [inv_in_row(1, api_type=99)]), CFG)
    row = res.retry.collect()[0]
    assert row.error_message == "Unknown api_type: 99"


def test_topic_routing(spark):
    rows = [inv_in_row(i, api_type=10 + (i % 5)) for i in range(10)]
    res = process_response_batch(envelope(spark, rows), CFG)
    topics = {r.api_type: r.topic for r in res.packets.collect()}
    assert topics == {
        10: "mtt.crt.response", 11: "mtt.upd.response", 12: "mtt.del.response",
        13: "mtt.rep.response", 14: "mtt.adj.response",
    }


def test_batch_count_cap(spark):
    cfg = EngineConfig(response_batch_size=7)
    rows = [inv_in_row(i) for i in range(20)]
    res = process_response_batch(envelope(spark, rows), cfg)
    packets = res.packets.orderBy("batch_seq").collect()
    assert [p.item_count for p in packets] == [7, 7, 6]
    # items ordered by id within each packet
    first = json.loads(packets[0].packet_json)["inv_pack_res"]
    assert [it["sid"] for it in first] == [f"S-{i}" for i in range(7)]


def test_db_ops_only_successful(spark):
    res = process_response_batch(
        envelope(spark, [inv_in_row(1)], [inv_out_row(2, gdt_res=None)]), CFG
    )
    ops = res.db_ops.collect()
    assert len(ops) == 1 and ops[0].record_type == "inv_in"


# ---------------------------------------------------------------------------
# Response retry re-processing (shape-sniffing, whitelist)
# ---------------------------------------------------------------------------

RETRY_COLS = (
    "id long, sid string, syncid string, job string, payload string, "
    "error_message string, error_code string, retry_count int, state string"
)


def retry_df(spark, payload, count=0):
    return spark.createDataFrame(
        [(1, "S", "Y", "RESPONSE", payload, "old", "Exception", count, "PROCESSING")],
        RETRY_COLS,
    )


def test_sniff_inv_in_by_fpt_key_presence(spark):
    payload = json.dumps({"id": 3, "api_type": 10, "sid": "S", "syncid": "Y",
                          "fpt_einvoice_res_msg": None, "fpt_einvoice_res_code": "200"})
    rec, retry = transform_response_retry_records(retry_df(spark, payload), CFG)
    row = rec.collect()[0]
    assert row.record_type == "inv_in"
    assert retry.collect()[0].tag == "DELETE"


def test_sniff_inv_out_with_null_gdt_fails_validation_not_sniffing(spark):
    # key present, value null → sniffs as inv_out then fails "gdt_res is null"
    payload = json.dumps({"id": 3, "api_type": 10, "sid": "S", "syncid": "Y",
                          "gdt_res": None})
    rec, retry = transform_response_retry_records(retry_df(spark, payload), CFG)
    assert rec.count() == 0
    row = retry.collect()[0]
    assert row.tag == "UPDATE"
    assert row.error_message == "gdt_res is null"
    assert row.retry_count == 1


def test_sniff_unknown_record_type(spark):
    rec, retry = transform_response_retry_records(
        retry_df(spark, '{"api_type": 10, "sid": "S"}'), CFG
    )
    assert retry.collect()[0].error_message == "Unknown record type"


def test_retry_whitelist_rejects_out_of_domain_api_type(spark):
    payload = json.dumps({"id": 3, "api_type": 99, "sid": "S", "syncid": "Y",
                          "gdt_res": "{}"})
    _, retry = transform_response_retry_records(retry_df(spark, payload), CFG)
    assert retry.collect()[0].error_message == "Unknown api_type: 99"


def test_retry_exhaustion_dead_letters(spark):
    payload = json.dumps({"id": 3, "api_type": 10, "gdt_res": "{}"})
    _, retry = transform_response_retry_records(
        retry_df(spark, payload, count=CFG.app_max_retries + 1), CFG
    )
    row = retry.collect()[0]
    assert row.tag == "MAX_RETRY"
    assert row.error_message == "old"


def test_recovered_row_reenters_pipeline(spark):
    payload = json.dumps({"id": 3, "api_type": 11, "sid": "S", "syncid": "Y",
                          "gdt_res": '{"x": 1}'})
    rec, _ = transform_response_retry_records(retry_df(spark, payload), CFG)
    res = process_response_batch(rec, CFG)
    p = res.packets.collect()[0]
    assert p.topic == "mtt.upd.response"
    assert json.loads(p.packet_json)["inv_pack_res"][0]["res_resource"] == "gdt"


def test_empty_claim_builds_no_derivation(spark, monkeypatch):
    """An empty RESPONSE claim returns empty frames of the envelope and
    retry-emission schemas without building the state machine; a
    non-empty claim builds it once."""
    from flink_invoice_processor_spark.operators import response
    from flink_invoice_processor_spark.operators.request import RETRY_EMISSION
    from flink_invoice_processor_spark.schemas import (
        INVOICE_RETRY_RECORD,
        RESPONSE_ENVELOPE,
    )
    from flink_invoice_processor_spark.sources.dbapi import local_frame

    calls = []
    outcome = response.retry_outcome_columns
    monkeypatch.setattr(
        response, "retry_outcome_columns",
        lambda *args, **kwargs: calls.append(1) or outcome(*args, **kwargs),
    )
    rec, retry = transform_response_retry_records(
        local_frame(spark, [], INVOICE_RETRY_RECORD), CFG
    )
    assert calls == []
    assert (rec.schema, retry.schema) == (RESPONSE_ENVELOPE, RETRY_EMISSION)
    assert rec.collect() == [] and retry.collect() == []

    transform_response_retry_records(retry_df(spark, "{}"), CFG)
    assert calls == [1]
