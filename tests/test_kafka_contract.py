"""Kafka config contract: no broker exists in this container, so S1/W2 are
pinned by asserting the *generated option dicts* against the reference's
connector config (``util/FlinkJobUtils.java:28-87``, property keys from
``application.properties`` — values are deploy-time, never reproduced)."""

from __future__ import annotations

from flink_invoice_processor_spark.config import (
    API_TYPE_NAMES,
    API_TYPES,
    EngineConfig,
    load_config,
)
from flink_invoice_processor_spark.streaming.kafka import (
    kafka_reader_options,
    kafka_writer_options,
)


def cfg_with_sasl() -> EngineConfig:
    return EngineConfig(
        kafka_bootstrap="broker1:9092,broker2:9092",
        kafka_sasl_user="svc",
        kafka_sasl_password="secret",
    )


def test_reader_subscribes_all_five_request_topics():
    cfg = EngineConfig()
    opts = kafka_reader_options(cfg)
    topics = opts["subscribe"].split(",")
    # the reference's five topic-pinned sources (InvoiceRequest.java:53-69)
    assert topics == [f"mtt.{API_TYPE_NAMES[t]}.request" for t in API_TYPES]
    assert opts["kafka.bootstrap.servers"] == ""
    assert opts["failOnDataLoss"] == "false"
    # one trigger holds at most one insert batch's worth of packets
    assert opts["maxOffsetsPerTrigger"] == str(cfg.mysql_batch_size)


def test_reader_sasl_properties_match_reference_keys():
    opts = kafka_reader_options(cfg_with_sasl())
    # FlinkJobUtils.java:38-44 sets security.protocol / sasl.mechanism /
    # sasl.jaas.config on the consumer; Spark takes them "kafka."-prefixed.
    assert opts["kafka.security.protocol"] == "SASL_PLAINTEXT"
    assert opts["kafka.sasl.mechanism"] == "PLAIN"
    assert opts["kafka.sasl.jaas.config"] == (
        "org.apache.kafka.common.security.plain.PlainLoginModule required "
        'username="svc" password="secret";'
    )


def test_no_sasl_options_without_credentials():
    opts = kafka_reader_options(EngineConfig())
    assert "kafka.security.protocol" not in opts
    assert "kafka.sasl.jaas.config" not in opts


def test_starting_offsets_enum_mapping():
    # FlinkJobUtils.java:46-54: EARLIEST / LATEST / COMMITTED_OFFSETS(default)
    for ref_value, spark_value in [
        ("EARLIEST", "earliest"),
        ("LATEST", "latest"),
        ("COMMITTED", "latest"),
        ("COMMITTED_OFFSETS", "latest"),
        ("latest", "latest"),
        ("unknown", "latest"),
    ]:
        cfg = EngineConfig(kafka_starting_offsets=ref_value)
        assert kafka_reader_options(cfg)["startingOffsets"] == spark_value


def test_writer_routes_by_topic_column_not_static_topic():
    opts = kafka_writer_options(cfg_with_sasl())
    # one sink replaces the reference's five (InvoiceResponse.java:124-143);
    # routing is the per-row "topic" column, so no static topic option.
    assert "topic" not in opts and "subscribe" not in opts
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["kafka.sasl.mechanism"] == "PLAIN"


def test_properties_file_overrides_reach_reader_options(tmp_path):
    # end-to-end: reference-style property keys → EngineConfig → options
    props = tmp_path / "app.properties"
    props.write_text(
        "kafka.bootstrap=b1:9092\n"
        "kafka.starting.offsets=EARLIEST\n"
        "kafka.topic.crt.request=alt.crt.request\n"
        "mysql.batch.size=500\n"
    )
    cfg = load_config(props)
    opts = kafka_reader_options(cfg)
    assert opts["kafka.bootstrap.servers"] == "b1:9092"
    assert opts["startingOffsets"] == "earliest"
    assert opts["subscribe"].split(",")[0] == "alt.crt.request"
    assert opts["maxOffsetsPerTrigger"] == str(cfg.mysql_batch_size) == "500"
