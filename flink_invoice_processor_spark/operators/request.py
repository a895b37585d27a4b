"""Request-side dataflow: packet parse + explode + validate + derive.

Re-expresses the reference's per-element imperative loop
(``process/request/InvoiceRequestTransformer.java:34-136``) as declarative
column expressions: exception-based control flow becomes an ``error_code`` /
``error_message`` column pair and a filter split, so Catalyst can pipeline,
push down, and codegen the whole thing — no Python executes per row.

Parsing strategy (the scale-critical decision): each packet is parsed
**once** into a Spark 4 ``VariantType`` value (``try_parse_json``), the
``inv_pack`` array is exploded as ``array<variant>``, and every field probe
is an O(1) ``try_variant_get`` against the pre-parsed binary — including the
verbatim element round-trip (``to_json(variant)``), which mirrors the
reference re-serializing the Jackson tree (``:91``).  The naive alternative
(``get_json_object`` with a computed ``$.inv_pack[i]`` path) re-parses the
whole packet per element — O(n²) per packet; measured 34 s vs 0.8 s for one
5,000-element packet on local[4].

Semantics preserved (cited to the reference):

- packet walk + per-element failure isolation (``:38-51``): one element's
  failure never poisons its siblings — it becomes a CREATE retry row.
- ``stax`` precedence (``:57-69``): if the element has an ``inv`` node,
  ``inv.stax`` is authoritative (missing ⇒ error "stax is null"); otherwise
  top-level ``stax`` (missing ⇒ the reference NPEs — surfaced here as
  error_code ``NullPointerException`` with a null message, same observable
  retry row).
- ``sid`` precedence (``:71-79``): top level wins *even when empty* (an empty
  top-level sid errors without consulting ``inv.sid``); fallback ``inv.sid``
  only when top level is absent; null-or-empty ⇒ error "sid is null".
- ``syncid`` precedence (``:81-89``): same top-level-wins shadowing; final
  null-or-empty ⇒ generated UUID.
- ``api_type`` required (``:92-96``), error "api_type is null".
- ``group_id = element_index % (group.id.max.value + 1)`` (``:101`` with the
  modulus from ``job/InvoiceRequest.java:43``).
- retry re-processing (``:113-136``): count > max ⇒ MAX_RETRY dead-letter;
  success ⇒ DELETE tag + record with ``retry = retry_count`` and the quirk
  ``group_id = retry_count % modulus`` (retry_count is passed as the element
  index, ``:122``); failure ⇒ UPDATE tag, count+1, backoff
  ``(interval_ms/1000) * 2^new_count`` seconds (``:132``); an unparseable
  payload surfaces as error_code ``JsonParseException`` (Jackson's throw at
  ``:120``).

Known deviation: an explicit JSON ``null`` field (e.g. ``"sid": null``) is
treated as absent, where Jackson's ``has()``/``asText()`` would yield the
literal string ``"null"`` — the Jackson behavior is a bug-shaped quirk not
worth reproducing.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from ..config import (
    EngineConfig,
    RETRY_JOB_REQUEST,
    RETRY_STATE_PENDING,
    TAG_CREATE,
    TAG_DELETE,
    TAG_MAX_RETRY,
    TAG_UPDATE,
)
from ..schemas import INVOICE_MYSQL_RECORD

#: Columns of a retry-queue emission, in the order both functions below emit
#: them (pre-sink; ``next_retry_delay_s`` is a relative delay the sink turns
#: into ``CURRENT_TIMESTAMP + INTERVAL ? SECOND``, InvoiceRetrySink.java:36).
RETRY_EMIT_COLUMNS = [
    "tag", "queue_id", "sid", "syncid", "job", "payload", "error_message",
    "error_code", "retry_count", "state", "next_retry_delay_s",
]


def retry_create_rows(
    df: DataFrame,
    job: str,
    cfg: EngineConfig,
    sid: Column,
    syncid: Column,
    payload: Column,
) -> DataFrame:
    """CREATE retry rows for fresh failures (``_error_message`` /
    ``_error_code`` set): count 0, PENDING, one base interval's delay
    (transform :47, ``InvoiceResponseBatchProcessor.java:194-202``)."""
    cols = {
        "tag": F.lit(TAG_CREATE),
        "queue_id": F.lit(None).cast("long"),
        "sid": sid,
        "syncid": syncid,
        "job": F.lit(job),
        "payload": payload,
        "error_message": F.col("_error_message"),
        "error_code": F.col("_error_code"),
        "retry_count": F.lit(0).cast("byte"),
        "state": F.lit(RETRY_STATE_PENDING),
        "next_retry_delay_s": F.lit(cfg.app_retry_interval_ms // 1000).cast("long"),
    }
    return df.select(*[cols[c].alias(c) for c in RETRY_EMIT_COLUMNS])


def retry_outcome_rows(
    claimed: DataFrame,
    cfg: EngineConfig,
    error_code: Column,
    error_message: Column,
) -> DataFrame:
    """The retry-queue state machine for re-processed claimed rows
    (reference :113-136, ``InvoiceResponseBatchProcessor.java:276-316``):
    count > app.max.retries ⇒ MAX_RETRY; no error ⇒ DELETE; otherwise
    UPDATE with the new error, count + 1 and a ``base_s * 2^new_count``
    backoff (the *incremented* count, reference :128 then :132)."""
    base_s = cfg.app_retry_interval_ms // 1000
    new_count = (F.col("retry_count") + 1).cast("byte")
    tag = (
        F.when(F.col("retry_count") > cfg.app_max_retries, F.lit(TAG_MAX_RETRY))
        .when(error_code.isNull(), F.lit(TAG_DELETE))
        .otherwise(F.lit(TAG_UPDATE))
    )
    update = tag == TAG_UPDATE
    cols = {
        "tag": tag,
        "queue_id": F.col("id"),
        "sid": F.col("sid"),
        "syncid": F.col("syncid"),
        "job": F.col("job"),
        "payload": F.col("payload"),
        "error_message": F.when(update, error_message).otherwise(F.col("error_message")),
        "error_code": F.when(update, error_code).otherwise(F.col("error_code")),
        "retry_count": F.when(update, new_count).otherwise(
            F.col("retry_count").cast("byte")
        ),
        "state": F.lit(RETRY_STATE_PENDING),
        "next_retry_delay_s": F.when(
            update,
            (F.lit(base_s) * F.pow(F.lit(2.0), new_count.cast("double"))).cast("long"),
        ).otherwise(F.lit(None).cast("long")),
    }
    return claimed.select(*[cols[c].alias(c) for c in RETRY_EMIT_COLUMNS])


class RequestSplit(NamedTuple):
    valid: DataFrame   # INVOICE_MYSQL_RECORD rows ready for the JDBC sink
    retry: DataFrame   # RETRY_EMIT_COLUMNS rows for the retry-queue sink


def _vget(elem_v: Column, path: str, dtype: str = "string") -> Column:
    return F.try_variant_get(elem_v, path, dtype)


def _derived_columns(
    elem_v: Column,
    pos: Column,
    cfg: EngineConfig,
    uuid_expr: Column | None = None,
    now_expr: Column | None = None,
) -> dict[str, Column]:
    """Column expressions for one exploded packet element (as variant).

    Returns every INVOICE_MYSQL_RECORD column plus ``_error_message`` /
    ``_error_code`` (null ⇒ the element is valid) and ``_retry_sid`` /
    ``_retry_syncid`` (best-effort ids for the retry row, reference
    ``getSidFromJson``/``getSyncidFromJson`` :139-155).
    """
    if uuid_expr is None:
        uuid_expr = F.expr("uuid()")
    if now_expr is None:
        now_expr = F.current_timestamp()

    has_inv = _vget(elem_v, "$.inv", "variant").isNotNull()
    top_sid = _vget(elem_v, "$.sid")
    inv_sid = _vget(elem_v, "$.inv.sid")
    top_syncid = _vget(elem_v, "$.syncid")
    inv_syncid = _vget(elem_v, "$.inv.syncid")
    top_stax = _vget(elem_v, "$.stax")
    inv_stax = _vget(elem_v, "$.inv.stax")
    api_type_present = _vget(elem_v, "$.api_type", "variant").isNotNull()

    tax_schema = F.when(has_inv, inv_stax).otherwise(top_stax)
    # top level wins even when empty (reference :71-79 — `has("sid")` short-
    # circuits the fallback before the emptiness check)
    sid = F.when(top_sid.isNotNull(), top_sid).when(has_inv, inv_sid)
    syncid_raw = F.when(top_syncid.isNotNull(), top_syncid).when(has_inv, inv_syncid)
    syncid = F.when(
        syncid_raw.isNull() | (syncid_raw == ""), uuid_expr
    ).otherwise(syncid_raw)

    # Sequential-throw order: stax → sid → api_type (first failure wins).
    error_code = (
        F.when(has_inv & inv_stax.isNull(), F.lit("Exception"))
        .when(~has_inv & top_stax.isNull(), F.lit("NullPointerException"))
        .when(sid.isNull() | (sid == ""), F.lit("Exception"))
        .when(~api_type_present, F.lit("Exception"))
    )
    error_message = (
        F.when(has_inv & inv_stax.isNull(), F.lit("stax is null"))
        .when(~has_inv & top_stax.isNull(), F.lit(None).cast("string"))
        .when(sid.isNull() | (sid == ""), F.lit("sid is null"))
        .when(~api_type_present, F.lit("api_type is null"))
    )

    null_str = F.lit(None).cast("string")
    return {
        "tax_schema": tax_schema,
        "inv": F.to_json(elem_v),  # verbatim element round-trip (:91)
        "api_type": _vget(elem_v, "$.api_type", "tinyint"),
        "res_type": F.lit(None).cast("byte"),  # always SQL NULL at insert
                                               # (job/InvoiceRequest.java:125)
        "fpt_einvoice_res_code": null_str,
        "fpt_einvoice_res_msg": null_str,
        "fpt_einvoice_res_json": null_str,
        "retry": F.lit(0).cast("byte"),
        "state": F.lit(0).cast("byte"),
        "group_id": F.pmod(pos, F.lit(cfg.group_id_modulus)).cast("byte"),
        "created_date": now_expr,
        "updated_date": F.lit(None).cast("timestamp"),
        "callback_res_code": null_str,
        "callback_res_msg": null_str,
        "callback_res_json": null_str,
        "sid": sid,
        "syncid": syncid,
        "process_kafka": null_str,
        "_error_message": error_message,
        "_error_code": error_code,
        # best-effort ids for retry rows: no emptiness check (reference
        # getSidFromJson :139-146 returns whatever is there)
        "_retry_sid": F.when(top_sid.isNotNull(), top_sid).when(has_inv, inv_sid),
        "_retry_syncid": F.when(top_syncid.isNotNull(), top_syncid).when(
            has_inv, inv_syncid
        ),
    }


def explode_packets(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Packet JSON → one row per ``inv_pack`` element (reference T2,
    ``InvoiceRequestTransformer.java:34-53``).

    Output columns: ``elem`` (raw element JSON string), ``elem_v`` (the
    element as variant — downstream probes reuse the one parse), ``pos``
    (array index).  Packets whose ``inv_pack`` is missing / not an array
    produce no rows — the reference's ``isArray()`` guard (``:38``)
    silently skips them.
    """
    return (
        df.withColumn(
            "_pack",
            F.try_variant_get(
                F.try_parse_json(F.col(value_col)), "$.inv_pack", "array<variant>"
            ),
        )
        # no explicit null-guard: non-outer posexplode already skips
        # null/empty arrays, and a where(_pack.isNotNull()) here gets pushed
        # below the projection, re-evaluating the variant parse per packet
        # (measured 2.5× slower on the sf0.1 explode)
        .select("*", F.posexplode("_pack").alias("pos", "elem_v"))
        .withColumn("elem", F.to_json(F.col("elem_v")))
        .drop("_pack")
    )


def parse_request_packets(
    df: DataFrame,
    cfg: EngineConfig | None = None,
    value_col: str = "value",
    uuid_expr: Column | None = None,
    now_expr: Column | None = None,
) -> RequestSplit:
    """Full request transform: packets → (valid records, CREATE retry rows).

    ``uuid_expr`` / ``now_expr`` exist so tests and DuckDB oracles can inject
    deterministic expressions in place of ``uuid()`` / ``current_timestamp()``.
    """
    cfg = cfg or EngineConfig()
    exploded = explode_packets(df, value_col)
    cols = _derived_columns(F.col("elem_v"), F.col("pos"), cfg, uuid_expr, now_expr)
    derived = exploded.select("*", *[c.alias(name) for name, c in cols.items()])

    ok = F.col("_error_code").isNull()
    valid = derived.where(ok).select(*[f.name for f in INVOICE_MYSQL_RECORD.fields])
    retry = retry_create_rows(
        derived.where(~ok), RETRY_JOB_REQUEST, cfg,
        sid=F.col("_retry_sid"), syncid=F.col("_retry_syncid"), payload=F.col("elem"),
    )
    return RequestSplit(valid=valid, retry=retry)


def transform_retry_records(
    df: DataFrame,
    cfg: EngineConfig | None = None,
    uuid_expr: Column | None = None,
    now_expr: Column | None = None,
) -> RequestSplit:
    """Re-process claimed retry-queue rows (reference T5,
    ``InvoiceRequestTransformer.java:113-136``).

    Input: claimed ``invoice_retry`` rows (columns ``id sid syncid job payload
    error_message error_code retry_count state``).  Output:

    - ``valid``: records whose payload now parses — with ``retry`` set to the
      attempt count and the reference's quirk ``group_id = retry_count %
      modulus`` (``:122`` passes retry_count as the element index);
    - ``retry``: DELETE rows for those successes (remove from queue), UPDATE
      rows with incremented count + exponential backoff for re-failures, and
      MAX_RETRY rows (count > app.max.retries) for the dead-letter path.
    """
    cfg = cfg or EngineConfig()
    over = F.col("retry_count") > cfg.app_max_retries
    payload_v = F.try_parse_json(F.col("payload"))
    cols = _derived_columns(
        payload_v, F.col("retry_count").cast("int"), cfg, uuid_expr, now_expr
    )
    # Unparseable payload: Jackson's readTree throws before any field check
    # (reference :120) — error_code JsonParseException, all probes void.
    parse_failed = payload_v.isNull() & F.col("payload").isNotNull()
    cols["_error_code"] = F.when(parse_failed, F.lit("JsonParseException")).otherwise(
        cols["_error_code"]
    )
    cols["_error_message"] = F.when(
        parse_failed, F.lit(None).cast("string")
    ).otherwise(cols["_error_message"])
    derived = df.select("*", *[c.alias(f"_d_{name}") for name, c in cols.items()])

    ok = ~over & F.col("_d__error_code").isNull()

    valid = derived.where(ok).select(
        *[
            (
                F.col("retry_count").cast("byte").alias("retry")
                if f.name == "retry"
                else F.col(f"_d_{f.name}").alias(f.name)
            )
            for f in INVOICE_MYSQL_RECORD.fields
        ]
    )

    retry = retry_outcome_rows(
        derived, cfg, F.col("_d__error_code"), F.col("_d__error_message")
    )
    return RequestSplit(valid=valid, retry=retry)
