"""Record schemas — single source of truth.

Each StructType mirrors a reference POJO (the reference declares schemas as
public-field POJOs; cited per shape).  Differences from the reference are
deliberate scale decisions:

- table PKs are ``LongType`` (reference uses ``int`` — too small at 100 TB).
- heterogeneous streams are one *envelope* schema with a ``record_type``
  discriminator instead of an upcast-to-Object union
  (reference ``job/InvoiceRequest.java:80-85`` + ``instanceof`` dispatch).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Request side
# ---------------------------------------------------------------------------

#: Row shape written to ``async_inv_in`` by the request job.
#: Reference: model/request/InvoiceMysqlRecord.java:4-23 (field list) and the
#: 18-column INSERT at job/InvoiceRequest.java:111-116.
INVOICE_MYSQL_RECORD = T.StructType(
    [
        T.StructField("tax_schema", T.StringType(), False),
        T.StructField("inv", T.StringType(), False),  # serialized invoice JSON
        T.StructField("api_type", T.ByteType(), False),
        T.StructField("res_type", T.ByteType(), True),  # always NULL at insert
        T.StructField("fpt_einvoice_res_code", T.StringType(), True),
        T.StructField("fpt_einvoice_res_msg", T.StringType(), True),
        T.StructField("fpt_einvoice_res_json", T.StringType(), True),
        T.StructField("retry", T.ByteType(), False),
        T.StructField("state", T.ByteType(), False),  # 0 at insert
        T.StructField("group_id", T.ByteType(), False),
        T.StructField("created_date", T.TimestampType(), False),
        T.StructField("updated_date", T.TimestampType(), True),
        T.StructField("callback_res_code", T.StringType(), True),
        T.StructField("callback_res_msg", T.StringType(), True),
        T.StructField("callback_res_json", T.StringType(), True),
        T.StructField("sid", T.StringType(), False),
        T.StructField("syncid", T.StringType(), False),
        T.StructField("process_kafka", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Response side
# ---------------------------------------------------------------------------

#: Polled row from ``async_inv_in`` (external invoice-service results).
#: Reference: model/response/AsyncInvInRecord.java:3-39 and the SELECT at
#: source/AsyncInvInSource.java:66-79.  All payload fields nullable — we
#: read whatever the table holds.
ASYNC_INV_IN_RECORD = T.StructType(
    [T.StructField("id", T.LongType(), False)]
    + [T.StructField(f.name, f.dataType, True) for f in INVOICE_MYSQL_RECORD.fields]
)

#: Polled row from ``async_inv_out`` (tax-authority results).
#: Reference: model/response/AsyncInvOutRecord.java and the SELECT at
#: source/AsyncInvOutSource.java:66-78.
ASYNC_INV_OUT_RECORD = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("tax_schema", T.StringType(), True),
        T.StructField("gdt_res", T.StringType(), True),  # NULL ⇒ error path
        T.StructField("sid", T.StringType(), True),
        T.StructField("syncid", T.StringType(), True),
        T.StructField("retry", T.ByteType(), True),
        T.StructField("state", T.ByteType(), True),
        T.StructField("group_id", T.ByteType(), True),
        T.StructField("res_type", T.ByteType(), True),
        T.StructField("api_type", T.ByteType(), True),
        T.StructField("created_date", T.TimestampType(), True),
        T.StructField("updated_date", T.TimestampType(), True),
        T.StructField("process_kafka", T.StringType(), True),
    ]
)

#: Heterogeneous response stream envelope replacing the reference's
#: ``RecordInterface``/Object union (model/response/RecordInterface.java:3-7,
#: job/InvoiceResponse.java:87-92).  ``record_type`` ∈ {'inv_in','inv_out'}.
RESPONSE_ENVELOPE = T.StructType(
    [
        T.StructField("record_type", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("api_type", T.ByteType(), True),
        T.StructField("sid", T.StringType(), True),
        T.StructField("syncid", T.StringType(), True),
        T.StructField("tax_schema", T.StringType(), True),
        T.StructField("retry", T.ByteType(), True),
        T.StructField("group_id", T.ByteType(), True),
        T.StructField("res_type", T.ByteType(), True),
        # inv_in payload fields (NULL for inv_out rows)
        T.StructField("fpt_einvoice_res_code", T.StringType(), True),
        T.StructField("fpt_einvoice_res_msg", T.StringType(), True),
        T.StructField("fpt_einvoice_res_json", T.StringType(), True),
        T.StructField("callback_res_code", T.StringType(), True),
        T.StructField("callback_res_msg", T.StringType(), True),
        # inv_out payload field (NULL for inv_in rows)
        T.StructField("gdt_res", T.StringType(), True),
        T.StructField("created_date", T.TimestampType(), True),
        T.StructField("updated_date", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Retry subsystem
# ---------------------------------------------------------------------------

#: Durable delay-queue row.
#: Reference: model/retry/InvoiceRetryRecord.java + source/InvoiceRetrySource.java:58-69
#: + sink/InvoiceRetrySink.java:33-43.
INVOICE_RETRY_RECORD = T.StructType(
    [
        T.StructField("id", T.LongType(), True),  # NULL before insert (auto PK)
        T.StructField("sid", T.StringType(), True),
        T.StructField("syncid", T.StringType(), True),
        T.StructField("job", T.StringType(), False),  # REQUEST | RESPONSE
        T.StructField("payload", T.StringType(), False),  # raw JSON
        T.StructField("error_message", T.StringType(), True),
        T.StructField("error_code", T.StringType(), True),
        T.StructField("retry_count", T.ByteType(), False),
        T.StructField("state", T.StringType(), False),  # PENDING | PROCESSING
        T.StructField("next_retry_time", T.TimestampType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

#: Success-log row written by the transactional log-and-delete sink.
#: Reference: model/AsyncInvSuccLogRecord.java:5-22 +
#: sink/TransactionalLogAndDeleteSink.java:66-70,134-170.
ASYNC_INV_SUCC_LOG_RECORD = T.StructType(
    [
        T.StructField("tax_schema", T.StringType(), True),
        T.StructField("api_type", T.ByteType(), True),
        T.StructField("res_type", T.ByteType(), True),
        T.StructField("fpt_einvoice_res_code", T.StringType(), True),
        T.StructField("fpt_einvoice_res_msg", T.StringType(), True),
        T.StructField("retry", T.ByteType(), True),
        T.StructField("group_id", T.ByteType(), True),
        T.StructField("created_date", T.TimestampType(), True),
        T.StructField("updated_date", T.TimestampType(), True),
        T.StructField("callback_res_code", T.StringType(), True),
        T.StructField("callback_res_msg", T.StringType(), True),
        T.StructField("sid", T.StringType(), True),
        T.StructField("syncid", T.StringType(), True),
        T.StructField("gdt_res", T.StringType(), True),
    ]
)

#: Superset struct for shape-sniffing a retry payload
#: (reference classifies by field presence: any fpt_einvoice_res_* ⇒ inv_in,
#: gdt_res ⇒ inv_out, else error — InvoiceResponseBatchProcessor.java:306-316).
RETRY_PAYLOAD_SUPERSET = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("tax_schema", T.StringType(), True),
        T.StructField("api_type", T.ByteType(), True),
        T.StructField("res_type", T.ByteType(), True),
        T.StructField("fpt_einvoice_res_code", T.StringType(), True),
        T.StructField("fpt_einvoice_res_msg", T.StringType(), True),
        T.StructField("fpt_einvoice_res_json", T.StringType(), True),
        T.StructField("gdt_res", T.StringType(), True),
        T.StructField("retry", T.ByteType(), True),
        T.StructField("state", T.ByteType(), True),
        T.StructField("group_id", T.ByteType(), True),
        T.StructField("sid", T.StringType(), True),
        T.StructField("syncid", T.StringType(), True),
        T.StructField("callback_res_code", T.StringType(), True),
        T.StructField("callback_res_msg", T.StringType(), True),
        T.StructField("callback_res_json", T.StringType(), True),
        T.StructField("process_kafka", T.StringType(), True),
        T.StructField("created_date", T.TimestampType(), True),
        T.StructField("updated_date", T.TimestampType(), True),
    ]
)
