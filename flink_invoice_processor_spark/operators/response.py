"""Response-side dataflow: envelope union, dedup, item projection, batch
assembly, topic routing, and retry re-processing.

Re-expresses the reference's keyed stateful processor
(``process/response/InvoiceResponseBatchProcessor.java``) and its helpers
(``InvoiceResponseItemFactory.java``, ``InvoiceResponseKafkaRouter.java``,
``InvoiceResponseRecordKeyGenerator.java``) as pure DataFrame transforms.
The count-or-timeout *timing* lives in the response driver loop's poll
interval (``streaming.jobs.run_invoice_response_job``); everything
per-batch is here and batch-testable.

Semantics preserved (cited to the reference):

- heterogeneous union behind ``RecordInterface`` becomes one envelope schema
  with a ``record_type`` discriminator (``job/InvoiceResponse.java:87-92``).
- dedup key ``{InvIn|InvOut}_{id}_{sid}_{syncid}``
  (``InvoiceResponseRecordKeyGenerator.java:9-18``) → ``dropDuplicates`` on
  the four columns.
- item projection (``InvoiceResponseItemFactory.java:25-66``): for inv_in
  rows ``status``/``message`` derive from the *null-ness* of
  ``fpt_einvoice_res_msg`` (null ⇒ "Tạo mới thành công"/"success", else the
  message/"error"), ``res_resource = "fpt"``, ``data`` = parsed
  ``fpt_einvoice_res_json``; for inv_out rows all of message/status/code/
  res_code are null, ``res_resource = "gdt"``, ``data`` = parsed ``gdt_res``
  — null ``gdt_res`` throws "gdt_res is null" (``:59-62``) and an
  unparseable JSON body surfaces as Jackson's parse exception.
- per-record validation failures become CREATE retry rows with
  ``job = RESPONSE`` and a base-interval delay
  (``InvoiceResponseBatchProcessor.java:194-202,222-227``).
- count-capped batches per api_type (``:130``) → deterministic
  ``batch_seq = (row_number - 1) div batch_size`` ordered by
  ``(record_type, id)`` (the reference's buffer order is arrival order —
  nondeterministic across restarts; we pin a deterministic order so results
  are reproducible and oracle-checkable).
- packet assembly + serialize (``InvoiceResponseKafkaRouter.java:36-49``):
  ``inv_pack_res`` array in buffer order, serialized with explicit nulls
  (Jackson serializes null POJO fields; ``to_json`` needs
  ``ignoreNullFields=false``).
- routing by api_type 10-14 to the five response topics (``:52-70``); an
  unknown api_type fails the *whole batch* in the reference (router throws,
  every record of that keyed batch retries, ``InvoiceResponseBatchProcessor
  .java:205-218``) — since batches are keyed by api_type this is per-record
  equivalent: unknown-type records become CREATE retry rows with
  "Unknown api_type: N".
- retry payload shape-sniffing (``:306-316``): Jackson's ``node.has(...)``
  is *key presence*, and response retry payloads are serialized POJOs where
  null-valued keys are present — an inv_out payload with null ``gdt_res``
  must sniff as inv_out and then fail "gdt_res is null", not "Unknown
  record type".  Variant/`get_json_object` probes can't see null-valued
  keys, so sniffing uses ``json_object_keys``.
- retry whitelist (``:285``): api_type ∉ {10..14} ⇒ "Unknown api_type: N".

Scale notes: three transforms here need rows clustered by key: the dedup
(``DEDUP_KEY_COLS``), the per-api_type ``batch_seq`` window (5 hot keys)
and the packet ``groupBy("api_type", "batch_seq")``.  Over a
multi-partition input each plans a shuffle.  The transforms stay general;
the caller picks the partitioning.  The response job
(``streaming.jobs.respond``) hands them a micro-batch bounded by the polls'
``mysql.fetch.size`` and the claim's ``retry.mysql.fetch.size``, coalesced
to one partition, which satisfies every clustered distribution, so none of
the three shuffles.  A caller with an unbounded input keeps the shuffles;
AQE's partition coalescing and skew handling then cover the window's
skew.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..config import API_TYPES, EngineConfig, RETRY_JOB_RESPONSE
from ..schemas import RESPONSE_ENVELOPE, RETRY_PAYLOAD_SUPERSET
from ..sources.dbapi import local_frame
from .request import RETRY_EMISSION, retry_create_columns, retry_outcome_columns

#: Vietnamese success message, verbatim from the reference
#: (InvoiceResponseItemFactory.java:32).
SUCCESS_MESSAGE = "Tạo mới thành công"

#: The reference's composite dedup key columns
#: (InvoiceResponseRecordKeyGenerator.java:9-18).
DEDUP_KEY_COLS = ["record_type", "id", "sid", "syncid"]

RECORD_TYPE_INV_IN = "inv_in"
RECORD_TYPE_INV_OUT = "inv_out"


class ResponseBatchResult(NamedTuple):
    packets: DataFrame  # one row per assembled packet: api_type, batch_seq,
                        # topic, packet_json, item_count
    db_ops: DataFrame   # successful envelope rows → transactional sink
    retry: DataFrame    # RETRY_EMIT_COLUMNS rows → retry-queue sink


def make_response_envelope(inv_in: DataFrame, inv_out: DataFrame) -> DataFrame:
    """Union the two polled tables into the envelope schema (reference U3,
    ``job/InvoiceResponse.java:87-92``)."""
    env_cols = [f.name for f in RESPONSE_ENVELOPE.fields]
    in_env = inv_in.withColumn("record_type", F.lit(RECORD_TYPE_INV_IN))
    out_env = inv_out.withColumn("record_type", F.lit(RECORD_TYPE_INV_OUT))
    missing_in = [c for c in env_cols if c not in in_env.columns]
    missing_out = [c for c in env_cols if c not in out_env.columns]
    for c in missing_in:
        in_env = in_env.withColumn(c, F.lit(None))
    for c in missing_out:
        out_env = out_env.withColumn(c, F.lit(None))
    return in_env.select(env_cols).unionByName(out_env.select(env_cols))


def dedup_records(df: DataFrame) -> DataFrame:
    """Reference K3: skip records whose composite key was already seen
    (``InvoiceResponseBatchProcessor.java:110-121``) with an exact
    ``dropDuplicates`` inside one micro-batch.  No state spans batches
    (the reference's Set grows forever — a leak not copied): the polls'
    high-water marks never re-read a polled row, log-and-delete removes
    processed rows, and the claim hides in-flight retry rows."""
    return df.dropDuplicates(DEDUP_KEY_COLS)


def build_response_items(df: DataFrame) -> DataFrame:
    """Reference T7: item projection + per-record validation
    (``InvoiceResponseItemFactory.java:25-66``).

    Adds an ``item`` struct column plus ``_error_message``/``_error_code``
    (null ⇒ valid).  Validation failures mirror the factory's throws:
    null ``gdt_res`` ⇒ Exception("gdt_res is null"); unparseable
    ``fpt_einvoice_res_json``/``gdt_res`` ⇒ JsonProcessingException.
    Unknown api_type is also flagged here (router-level throw in the
    reference, per-record equivalent — see module docstring).
    """
    is_in = F.col("record_type") == RECORD_TYPE_INV_IN
    res_json_v = F.try_parse_json(F.col("fpt_einvoice_res_json"))
    gdt_v = F.try_parse_json(F.col("gdt_res"))

    in_bad_json = (
        F.col("fpt_einvoice_res_json").isNotNull() & res_json_v.isNull()
    )
    out_null_gdt = F.col("gdt_res").isNull()
    out_bad_json = F.col("gdt_res").isNotNull() & gdt_v.isNull()
    unknown_api = ~F.col("api_type").isin(list(API_TYPES)) | F.col("api_type").isNull()

    error_code = (
        F.when(is_in & in_bad_json, F.lit("JsonProcessingException"))
        .when(~is_in & out_null_gdt, F.lit("Exception"))
        .when(~is_in & out_bad_json, F.lit("JsonProcessingException"))
        .when(unknown_api, F.lit("Exception"))
    )
    error_message = (
        F.when(is_in & in_bad_json, F.lit(None).cast("string"))
        .when(~is_in & out_null_gdt, F.lit("gdt_res is null"))
        .when(~is_in & out_bad_json, F.lit(None).cast("string"))
        .when(unknown_api, F.concat(F.lit("Unknown api_type: "), F.col("api_type")))
    )

    null_s = F.lit(None).cast("string")
    item = F.struct(
        F.col("sid").alias("sid"),
        F.col("syncid").alias("sync_sid"),
        F.when(is_in & F.col("fpt_einvoice_res_msg").isNull(), F.lit(SUCCESS_MESSAGE))
        .when(is_in, F.col("fpt_einvoice_res_msg"))
        .otherwise(null_s)
        .alias("message"),
        F.when(is_in & F.col("fpt_einvoice_res_msg").isNull(), F.lit("success"))
        .when(is_in, F.lit("error"))
        .otherwise(null_s)
        .alias("status"),
        null_s.alias("code"),
        F.when(is_in, F.col("fpt_einvoice_res_code")).otherwise(null_s).alias(
            "res_code"
        ),
        F.when(is_in, F.lit("fpt")).otherwise(F.lit("gdt")).alias("res_resource"),
        # keep the parsed tree as a variant so to_json embeds it as a nested
        # object, exactly as the reference serializes the JsonNode inline
        # (readTree at :43/:60, re-serialized inside the packet)
        F.when(is_in, res_json_v).otherwise(gdt_v).alias("data"),
    )
    return df.withColumn("item", item).withColumn(
        "_error_message", error_message
    ).withColumn("_error_code", error_code)


def assign_batch_seq(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Reference K2's count cap (``:130``), batch form: deterministic
    ``batch_seq`` per api_type so no envelope exceeds
    ``response.batch.size`` items."""
    w = Window.partitionBy("api_type").orderBy("record_type", "id")
    rn = F.row_number().over(w)
    return df.withColumn("_rn", rn).withColumn(
        "batch_seq", ((F.col("_rn") - 1) / F.lit(cfg.response_batch_size)).cast("long")
    )


def topic_for_api_type(cfg: EngineConfig) -> Column:
    """Reference K5: api_type → response topic (InvoiceResponseKafkaRouter
    .java:52-70 + application.properties topic keys)."""
    mapping = F.create_map(
        *[x for t, topic in cfg.response_topics.items() for x in (F.lit(t), F.lit(topic))]
    )
    return mapping[F.col("api_type")]


def assemble_packets(items_df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Reference K4: per (api_type, batch_seq) collect items in buffer order
    and serialize one packet JSON (``InvoiceResponseKafkaRouter.java:36-49``).

    ``to_json`` keeps explicit nulls to match Jackson's POJO serialization.
    """
    ordered_item = F.struct(F.col("_rn").alias("o"), F.col("item").alias("it"))
    return (
        items_df.groupBy("api_type", "batch_seq")
        .agg(
            F.array_sort(
                F.collect_list(ordered_item),
                # explicit comparator on the order key: default struct ordering
                # can't compare the variant `data` field
                lambda a, b: F.when(a["o"] < b["o"], F.lit(-1))
                .when(a["o"] > b["o"], F.lit(1))
                .otherwise(F.lit(0)),
            ).alias("_ordered")
        )
        .select(
            "api_type",
            "batch_seq",
            F.to_json(
                F.struct(
                    F.transform(F.col("_ordered"), lambda x: x["it"]).alias(
                        "inv_pack_res"
                    )
                ),
                {"ignoreNullFields": "false"},
            ).alias("packet_json"),
            F.size("_ordered").alias("item_count"),
        )
        .withColumn("topic", topic_for_api_type(cfg))
    )


def _validation_retry_rows(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """CREATE retry rows for records failing item validation
    (``InvoiceResponseBatchProcessor.java:194-202``): payload is the record
    serialized as JSON with explicit nulls (Jackson POJO serialization at
    ``:264``), job RESPONSE, base-interval delay."""
    in_payload_cols = [
        "id", "tax_schema", "inv", "api_type", "res_type",
        "fpt_einvoice_res_code", "fpt_einvoice_res_msg", "fpt_einvoice_res_json",
        "retry", "state", "group_id", "created_date", "updated_date",
        "callback_res_code", "callback_res_msg", "sid", "syncid", "process_kafka",
    ]
    out_payload_cols = [
        "id", "tax_schema", "gdt_res", "sid", "syncid", "retry", "state",
        "group_id", "res_type", "api_type", "created_date", "updated_date",
        "process_kafka",
    ]

    def payload_struct(cols: list[str]) -> Column:
        return F.to_json(
            F.struct(*[F.col(c) for c in cols if c in df.columns]),
            {"ignoreNullFields": "false"},
        )

    payload = F.when(
        F.col("record_type") == RECORD_TYPE_INV_IN, payload_struct(in_payload_cols)
    ).otherwise(payload_struct(out_payload_cols))

    return df.select(*retry_create_columns(
        RETRY_JOB_RESPONSE, cfg,
        sid=F.col("sid"), syncid=F.col("syncid"), payload=payload,
    ))


def process_response_batch(
    envelope: DataFrame, cfg: EngineConfig | None = None
) -> ResponseBatchResult:
    """The full per-batch response pipeline: dedup → validate/project →
    count-capped batch assembly → packet serialization + topic routing,
    with failed records peeled off as retry rows and successful rows
    emitted for the transactional log-and-delete sink
    (``InvoiceResponseBatchProcessor.java:185-220``)."""
    cfg = cfg or EngineConfig()
    deduped = dedup_records(envelope)
    validated = build_response_items(deduped)

    ok = F.col("_error_code").isNull()
    good = validated.where(ok)
    bad = validated.where(~ok)

    batched = assign_batch_seq(good, cfg)
    packets = assemble_packets(batched, cfg)
    db_ops = good.select(*[f.name for f in RESPONSE_ENVELOPE.fields])
    retry = _validation_retry_rows(bad, cfg)
    return ResponseBatchResult(packets=packets, db_ops=db_ops, retry=retry)


class ResponseRetrySplit(NamedTuple):
    recovered: DataFrame  # envelope rows to re-enter process_response_batch
    retry: DataFrame      # tagged retry emissions (DELETE/UPDATE/MAX_RETRY)


def transform_response_retry_records(
    df: DataFrame, cfg: EngineConfig | None = None
) -> ResponseRetrySplit:
    """Reference ``processRetryRecordInternal`` (``:276-316``).

    Input: claimed ``invoice_retry`` rows with ``job = RESPONSE``.  The
    payload is shape-sniffed by *key presence* (``json_object_keys``; see
    module docstring for why null-valued keys must count), whitelisted on
    api_type, then re-validated through the item factory; success re-enters
    the normal pipeline (caller unions ``recovered`` into the envelope) and
    DELETEs the queue row, failure UPDATEs with exponential backoff,
    exhaustion dead-letters via MAX_RETRY.

    An empty claim, the steady state, returns empty ``RESPONSE_ENVELOPE``
    and ``RETRY_EMISSION`` frames without building the derivation, as
    ``operators.request.transform_retry_records`` does.
    """
    if df.isEmpty():
        spark = df.sparkSession
        return ResponseRetrySplit(
            recovered=local_frame(spark, [], RESPONSE_ENVELOPE),
            retry=local_frame(spark, [], RETRY_EMISSION),
        )
    cfg = cfg or EngineConfig()
    over = F.col("retry_count") > cfg.app_max_retries
    keys = F.json_object_keys(F.col("payload"))
    parse_ok = keys.isNotNull()
    has_fpt = (
        F.array_contains(keys, "fpt_einvoice_res_code")
        | F.array_contains(keys, "fpt_einvoice_res_msg")
        | F.array_contains(keys, "fpt_einvoice_res_json")
    )
    has_gdt = F.array_contains(keys, "gdt_res")

    parsed = F.from_json(F.col("payload"), RETRY_PAYLOAD_SUPERSET)
    record_type = (
        F.when(parse_ok & has_fpt, F.lit(RECORD_TYPE_INV_IN))
        .when(parse_ok & has_gdt, F.lit(RECORD_TYPE_INV_OUT))
    )

    api_type = parsed["api_type"]
    unknown_type = record_type.isNull()
    bad_api = ~api_type.isin(list(API_TYPES)) | api_type.isNull()

    # inv_out validation (gdt_res null / unparseable); inv_in res_json parse
    gdt = parsed["gdt_res"]
    res_json = parsed["fpt_einvoice_res_json"]
    out_null_gdt = (record_type == RECORD_TYPE_INV_OUT) & gdt.isNull()
    out_bad_json = (
        (record_type == RECORD_TYPE_INV_OUT)
        & gdt.isNotNull()
        & F.try_parse_json(gdt).isNull()
    )
    in_bad_json = (
        (record_type == RECORD_TYPE_INV_IN)
        & res_json.isNotNull()
        & F.try_parse_json(res_json).isNull()
    )

    # sequential failure order: parse → sniff → whitelist → item factory
    error_code = (
        F.when(~parse_ok, F.lit("JsonParseException"))
        .when(unknown_type, F.lit("Exception"))
        .when(bad_api, F.lit("Exception"))
        .when(out_null_gdt, F.lit("Exception"))
        .when(out_bad_json | in_bad_json, F.lit("JsonProcessingException"))
    )
    error_message = (
        F.when(~parse_ok, F.lit(None).cast("string"))
        .when(unknown_type, F.lit("Unknown record type"))
        .when(bad_api, F.concat(F.lit("Unknown api_type: "), F.coalesce(api_type.cast("string"), F.lit("null"))))
        .when(out_null_gdt, F.lit("gdt_res is null"))
        .when(out_bad_json | in_bad_json, F.lit(None).cast("string"))
    )

    derived = df.select(
        "*",
        record_type.alias("_rt"),
        error_code.alias("_ec"),
        error_message.alias("_em"),
        parsed.alias("_p"),
    )

    ok = ~over & F.col("_ec").isNull()

    env_cols = []
    for f in RESPONSE_ENVELOPE.fields:
        if f.name == "record_type":
            env_cols.append(F.col("_rt").alias("record_type"))
        else:
            env_cols.append(F.col("_p")[f.name].cast(f.dataType).alias(f.name))
    recovered = derived.where(ok).select(env_cols)

    retry = derived.select(*retry_outcome_columns(cfg, F.col("_ec"), F.col("_em")))
    return ResponseRetrySplit(recovered=recovered, retry=retry)
