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

Output shape: both transforms return one tagged frame (``REQUEST_OUTPUT``)
with one row per packet element or claimed retry row and two struct
columns: ``record``, the ``async_inv_in`` row it yields, and
``emission``, the retry-queue row it yields.  A packet element sets
exactly one of them; a claimed row always sets ``emission`` and sets
``record`` too when its payload now passes.  The request job unions the
two frames and collects them once, so one Spark job parses each packet
once for both sinks (a split into two frames would run the parse and
explode again for the second sink).  The struct fields are declared
nullable, children included, because a null struct whose children are
declared non-nullable cannot be collected with ``toArrow`` ("nulls in
input cannot be viewed as non-nullable"); both transforms cast to the
declared schema.  ``split_request`` splits a tagged frame into
``(valid, retry)`` frames for readers that want them apart.

An empty claim, the request job's steady state, returns an empty
``REQUEST_OUTPUT`` frame built as an Arrow ``LocalRelation`` and plans no
derivation at all.

Known deviation: an explicit JSON ``null`` field (e.g. ``"sid": null``) is
treated as absent, where Jackson's ``has()``/``asText()`` would yield the
literal string ``"null"`` — the Jackson behavior is a bug-shaped quirk not
worth reproducing.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F, types as T

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
from ..sources.dbapi import local_frame

#: A retry-queue emission, pre-sink: ``next_retry_delay_s`` is a relative
#: delay the sink turns into ``CURRENT_TIMESTAMP + INTERVAL ? SECOND``
#: (InvoiceRetrySink.java:36).
RETRY_EMISSION = T.StructType([
    T.StructField("tag", T.StringType()),
    T.StructField("queue_id", T.LongType()),
    T.StructField("sid", T.StringType()),
    T.StructField("syncid", T.StringType()),
    T.StructField("job", T.StringType()),
    T.StructField("payload", T.StringType()),
    T.StructField("error_message", T.StringType()),
    T.StructField("error_code", T.StringType()),
    T.StructField("retry_count", T.ByteType()),
    T.StructField("state", T.StringType()),
    T.StructField("next_retry_delay_s", T.LongType()),
])

#: Columns of a retry-queue emission, in the order both builders below
#: emit them.
RETRY_EMIT_COLUMNS = [f.name for f in RETRY_EMISSION.fields]

#: The request transforms' tagged output: one row per packet element or
#: claimed retry row, carrying the ``async_inv_in`` ``record`` it yields
#: and the retry-queue ``emission`` it yields; either may be null.  Every
#: field is declared nullable, the structs' children too: a null struct
#: whose children are not nullable fails ``toArrow`` ("nulls in input
#: cannot be viewed as non-nullable").  Both transforms cast their output
#: to this schema.
REQUEST_OUTPUT = T.StructType([
    T.StructField("record", T.StructType(
        [T.StructField(f.name, f.dataType) for f in INVOICE_MYSQL_RECORD.fields]
    )),
    T.StructField("emission", RETRY_EMISSION),
])


def retry_create_columns(
    job: str,
    cfg: EngineConfig,
    sid: Column,
    syncid: Column,
    payload: Column,
) -> list[Column]:
    """The RETRY_EMIT_COLUMNS of CREATE retry rows for fresh failures
    (``_error_message`` / ``_error_code`` set): count 0, PENDING, one base
    interval's delay (transform :47,
    ``InvoiceResponseBatchProcessor.java:194-202``)."""
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
    return [cols[c].alias(c) for c in RETRY_EMIT_COLUMNS]


def retry_outcome_columns(
    cfg: EngineConfig,
    error_code: Column,
    error_message: Column,
) -> list[Column]:
    """The RETRY_EMIT_COLUMNS of the retry-queue state machine for
    re-processed claimed rows (reference :113-136,
    ``InvoiceResponseBatchProcessor.java:276-316``): count >
    app.max.retries ⇒ MAX_RETRY; no error ⇒ DELETE; otherwise UPDATE with
    the new error, count + 1 and a ``base_s * 2^new_count`` backoff (the
    *incremented* count, reference :128 then :132)."""
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
    return [cols[c].alias(c) for c in RETRY_EMIT_COLUMNS]


class RequestSplit(NamedTuple):
    valid: DataFrame   # INVOICE_MYSQL_RECORD rows for the async_inv_in sink
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


def _tagged(df: DataFrame, record: Column, emission: Column) -> DataFrame:
    """``df`` projected to REQUEST_OUTPUT: the structs cast to the declared
    nullable types."""
    return df.select(
        record.cast(REQUEST_OUTPUT["record"].dataType).alias("record"),
        emission.cast(REQUEST_OUTPUT["emission"].dataType).alias("emission"),
    )


def split_request(tagged: DataFrame) -> RequestSplit:
    """A REQUEST_OUTPUT frame as (valid records, retry emissions), for
    callers that read the two apart (queries, tests)."""
    return RequestSplit(
        valid=tagged.where(F.col("record").isNotNull()).select("record.*"),
        retry=tagged.where(F.col("emission").isNotNull()).select("emission.*"),
    )


def parse_request_packets(
    df: DataFrame,
    cfg: EngineConfig | None = None,
    value_col: str = "value",
    uuid_expr: Column | None = None,
    now_expr: Column | None = None,
) -> DataFrame:
    """Full request transform: packets → one REQUEST_OUTPUT row per
    ``inv_pack`` element, with either its valid ``record`` or its CREATE
    retry ``emission``.

    ``uuid_expr`` / ``now_expr`` exist so tests and DuckDB oracles can inject
    deterministic expressions in place of ``uuid()`` / ``current_timestamp()``.
    """
    cfg = cfg or EngineConfig()
    exploded = explode_packets(df, value_col)
    cols = _derived_columns(F.col("elem_v"), F.col("pos"), cfg, uuid_expr, now_expr)
    derived = exploded.select("elem", *[c.alias(name) for name, c in cols.items()])

    ok = F.col("_error_code").isNull()
    record = F.struct(*[f.name for f in INVOICE_MYSQL_RECORD.fields])
    emission = F.struct(*retry_create_columns(
        RETRY_JOB_REQUEST, cfg,
        sid=F.col("_retry_sid"), syncid=F.col("_retry_syncid"), payload=F.col("elem"),
    ))
    return _tagged(derived, F.when(ok, record), F.when(~ok, emission))


def transform_retry_records(
    df: DataFrame,
    cfg: EngineConfig | None = None,
    uuid_expr: Column | None = None,
    now_expr: Column | None = None,
) -> DataFrame:
    """Re-process claimed retry-queue rows (reference T5,
    ``InvoiceRequestTransformer.java:113-136``).

    Input: claimed ``invoice_retry`` rows (columns ``id sid syncid job payload
    error_message error_code retry_count state``).  Output: one
    REQUEST_OUTPUT row per claimed row:

    - ``record``: set when the payload now parses — with ``retry`` set to
      the attempt count and the reference's quirk ``group_id = retry_count
      % modulus`` (``:122`` passes retry_count as the element index);
    - ``emission``: always set — DELETE for those successes (remove from
      queue), UPDATE with incremented count + exponential backoff for
      re-failures, and MAX_RETRY (count > app.max.retries) for the
      dead-letter path.

    An empty claim, the steady state, returns an empty REQUEST_OUTPUT
    frame without building the derivation: its plan costs hundreds of
    py4j round trips, and the emptiness check of the claim's
    ``LocalRelation`` runs no Spark job.
    """
    if df.isEmpty():
        return local_frame(df.sparkSession, [], REQUEST_OUTPUT)
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
    record = F.struct(
        *[
            (
                F.col("retry_count").cast("byte").alias("retry")
                if f.name == "retry"
                else F.col(f"_d_{f.name}").alias(f.name)
            )
            for f in INVOICE_MYSQL_RECORD.fields
        ]
    )
    emission = F.struct(
        *retry_outcome_columns(cfg, F.col("_d__error_code"), F.col("_d__error_message"))
    )
    return _tagged(derived, F.when(ok, record), emission)
