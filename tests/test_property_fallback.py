"""Property-based check of the JSON fallback-path extraction (SURVEY §5.5).

The reference's precedence rules (InvoiceRequestTransformer.java:55-110):

- ``stax``: if the element has an ``inv`` node, ``inv.stax`` is
  authoritative — missing ⇒ "stax is null"; otherwise top-level ``stax`` —
  missing ⇒ NullPointerException with null message (:62-68).
- ``sid``: top level wins *even when empty*; ``inv.sid`` only consulted
  when the top-level key is absent; final null-or-empty ⇒ "sid is null"
  (:71-79).
- ``syncid``: same shadowing; final null-or-empty ⇒ generated UUID (:81-89).
- ``api_type`` required (:92-96); throw order stax → sid → api_type.

Hypothesis generates elements with every placement combination (absent /
empty / value, top level vs under ``inv``); a pure-Python model computes
the expected outcome; all elements of an example run through
``parse_request_packets`` in ONE DataFrame (a Spark job per element would
be unusably slow) and the valid/retry splits are compared as multisets.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from flink_invoice_processor_spark.operators.request import (
    parse_request_packets,
    split_request,
)

# values: absent (None sentinel), empty, plain, unicode, whitespace
_VALUES = st.sampled_from(["", "v1", "tax-22", "Tạo", " ", "x" * 40])
_MAYBE = st.one_of(st.none(), _VALUES)

_ELEMENT = st.fixed_dictionaries(
    {
        "top_sid": _MAYBE,
        "top_syncid": _MAYBE,
        "top_stax": _MAYBE,
        "has_inv": st.booleans(),
        "inv_sid": _MAYBE,
        "inv_syncid": _MAYBE,
        "inv_stax": _MAYBE,
        "api_type": st.one_of(st.none(), st.integers(min_value=10, max_value=14)),
    }
)

GEN = "GENERATED-SYNCID"


def _build(spec: dict) -> dict:
    elem: dict = {}
    if spec["top_sid"] is not None:
        elem["sid"] = spec["top_sid"]
    if spec["top_syncid"] is not None:
        elem["syncid"] = spec["top_syncid"]
    if spec["top_stax"] is not None:
        elem["stax"] = spec["top_stax"]
    if spec["has_inv"]:
        inv: dict = {}
        if spec["inv_sid"] is not None:
            inv["sid"] = spec["inv_sid"]
        if spec["inv_syncid"] is not None:
            inv["syncid"] = spec["inv_syncid"]
        if spec["inv_stax"] is not None:
            inv["stax"] = spec["inv_stax"]
        elem["inv"] = inv
    if spec["api_type"] is not None:
        elem["api_type"] = spec["api_type"]
    return elem


def _expected(spec: dict, pos: int):
    """Pure-Python twin of the reference's throw sequence.  Returns
    ('valid', sid, syncid, tax_schema, api_type, group_id) or
    ('retry', error_code, error_message)."""
    if spec["has_inv"]:
        stax = spec["inv_stax"]
        if stax is None:
            return ("retry", "Exception", "stax is null")
    else:
        stax = spec["top_stax"]
        if stax is None:
            return ("retry", "NullPointerException", None)

    sid = spec["top_sid"] if spec["top_sid"] is not None else (
        spec["inv_sid"] if spec["has_inv"] else None
    )
    if sid is None or sid == "":
        return ("retry", "Exception", "sid is null")

    syncid = spec["top_syncid"] if spec["top_syncid"] is not None else (
        spec["inv_syncid"] if spec["has_inv"] else None
    )
    if syncid is None or syncid == "":
        syncid = GEN

    if spec["api_type"] is None:
        return ("retry", "Exception", "api_type is null")

    return ("valid", sid, syncid, stax, spec["api_type"], pos % 5)


@pytest.mark.usefixtures("spark")
@given(specs=st.lists(_ELEMENT, min_size=1, max_size=40))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fallback_precedence_matches_reference_model(specs, spark):
    packet = json.dumps({"inv_pack": [_build(s) for s in specs]})
    df = spark.createDataFrame([(packet,)], "value string")
    valid, retry = split_request(parse_request_packets(df, uuid_expr=F.lit(GEN)))

    got_valid = sorted(
        (r.sid, r.syncid, r.tax_schema, r.api_type, r.group_id)
        for r in valid.select("sid", "syncid", "tax_schema", "api_type", "group_id").collect()
    )
    got_retry = sorted(
        (r.error_code, r.error_message)
        for r in retry.select("error_code", "error_message").collect()
    )

    model = [_expected(s, i) for i, s in enumerate(specs)]
    want_valid = sorted(
        (m[1], m[2], m[3], m[4], m[5]) for m in model if m[0] == "valid"
    )
    want_retry = sorted((m[1], m[2]) for m in model if m[0] == "retry")

    assert got_valid == want_valid
    assert got_retry == want_retry
