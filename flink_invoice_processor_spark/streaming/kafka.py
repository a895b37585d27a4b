"""Kafka source/sink wrappers (reference S1 / W2 / K5).

The reference builds five separate topic-pinned sources and five sinks
(``util/FlinkJobUtils.java:28-87``, wired in ``job/InvoiceRequest.java:53-69``
and ``job/InvoiceResponse.java:124-143``).  Spark collapses both sides:

- one reader with ``subscribe = t1,t2,...`` — the ``topic`` metadata column
  replaces per-topic streams (the reference's 6-way union U1 disappears);
- one writer honoring a per-row ``topic`` column — the api_type switch
  (``InvoiceResponseKafkaRouter.java:52-70``) becomes a column expression
  and five sinks become one.

Delivery is at-least-once on both ends, matching the reference
(``DeliveryGuarantee.AT_LEAST_ONCE``, ``FlinkJobUtils.java:85``); Spark
checkpointing of offsets is a strict upgrade over the reference's
no-checkpoint posture.

SASL/PLAIN options mirror the reference's security config keys without any
of its values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import EngineConfig


def _jaas_quote(v: str) -> str:
    """JAAS double-quoted string: backslashes and quotes escaped.  A
    rotated password containing `"` or `\\` would otherwise break the
    login-module parse (killing every reader/writer at startup) — or,
    crafted, terminate the quoted section and inject JAAS directives."""
    return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _sasl_options(cfg: EngineConfig) -> dict[str, str]:
    if not cfg.kafka_sasl_user:
        return {}
    # Same JAAS string the reference formats (FlinkJobUtils.java:37-44);
    # Spark's Kafka options take the consumer/producer properties with a
    # "kafka." prefix.
    jaas = (
        "org.apache.kafka.common.security.plain.PlainLoginModule required "
        f"username={_jaas_quote(cfg.kafka_sasl_user)} "
        f"password={_jaas_quote(cfg.kafka_sasl_password)};"
    )
    return {
        "kafka.security.protocol": "SASL_PLAINTEXT",
        "kafka.sasl.mechanism": "PLAIN",
        "kafka.sasl.jaas.config": jaas,
    }


def kafka_reader_options(cfg: EngineConfig) -> dict[str, str]:
    """The full option dict for the request-side reader — the contract
    artifact mirroring ``FlinkJobUtils.createKafkaSource`` (:28-64): one
    subscription over all five request topics, startingOffsets mapped from
    the reference's ``kafka.starting.offsets`` enum, SASL/PLAIN properties
    when credentials are configured.

    The reference's per-source consumer group ids
    (``application.properties`` ``kafka.group.id.*``) are deliberately NOT
    forwarded: Spark's Kafka source tracks offsets in its own checkpoint
    and fabricates a unique group id per query — setting ``kafka.group.id``
    would only risk offset-commit collisions between the five collapsed
    sources.  COMMITTED therefore maps to "resume from checkpoint", with
    "latest" as the cold-start behavior.

    ``maxOffsetsPerTrigger`` is ``mysql.batch.size``, so the micro-batch
    the driver-side sinks (``sinks.dbapi``) collect stays bounded.  It
    counts packets (Kafka records), not invoices: a trigger, and so one
    sink transaction, holds up to ``mysql.batch.size`` times the invoices
    per packet (1-50 in perfbench's packets) rows.  The cap slows backlog
    drains: each trigger pays the request job's fixed per-micro-batch
    cost, and one that ends inside the ``mysql.batch.interval.ms``
    interval idles until the next.  ``tools/kafka_backlog_drain.py``
    measured it on 4 vCPUs: steady 2,000-packet triggers took 3.0-4.3 s;
    a 30,000-invoice backlog drained in 24-30 s, and a 60,000-invoice one
    in 52 s, against 20 s and 22 s in one unbounded trigger (ROADMAP
    item 1).
    """
    starting = {
        "LATEST": "latest",
        "EARLIEST": "earliest",
        # reference default is committedOffsets (FlinkJobUtils.java:50-53)
        "COMMITTED": "latest",
        "COMMITTED_OFFSETS": "latest",
    }.get(cfg.kafka_starting_offsets.upper(), "latest")
    opts = {
        "kafka.bootstrap.servers": cfg.kafka_bootstrap,
        "subscribe": ",".join(cfg.request_topics.values()),
        "startingOffsets": starting,
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": str(cfg.mysql_batch_size),
    }
    opts.update(_sasl_options(cfg))
    return opts


def kafka_writer_options(cfg: EngineConfig) -> dict[str, str]:
    """Writer option dict (``FlinkJobUtils.createKafkaSink``, :66-87).
    No static topic option: routing is the per-row ``topic`` column."""
    opts = {"kafka.bootstrap.servers": cfg.kafka_bootstrap}
    opts.update(_sasl_options(cfg))
    return opts


def kafka_request_stream(spark: SparkSession, cfg: EngineConfig) -> DataFrame:
    """readStream over all five request topics; output columns
    ``value`` (string packet JSON) and ``topic``."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(cfg).items():
        reader = reader.option(k, v)
    return reader.load().select(
        F.col("value").cast("string").alias("value"), F.col("topic")
    )


def write_packets_to_kafka(
    packets: DataFrame, cfg: EngineConfig, checkpoint_dir: str
):
    """writeStream for assembled response packets: one sink, routed by the
    per-row ``topic`` column (replaces the reference's five sinks)."""
    writer = (
        packets.selectExpr("topic", "packet_json AS value")
        .writeStream.format("kafka")
        .option("checkpointLocation", checkpoint_dir)
    )
    for k, v in kafka_writer_options(cfg).items():
        writer = writer.option(k, v)
    return writer.start()


def write_packets_batch_to_kafka(
    packets: DataFrame, cfg: EngineConfig
) -> None:
    """Batch-mode Kafka write for use inside foreachBatch."""
    writer = packets.selectExpr("topic", "packet_json AS value").write.format(
        "kafka"
    )
    for k, v in kafka_writer_options(cfg).items():
        writer = writer.option(k, v)
    writer.save()
