"""Config loader parity: properties-file values load with the reference's
key names, CLI overrides win (util/FlinkJobUtils.java:17-26), types coerce,
and topic overrides land on the right api_type."""

from __future__ import annotations

from flink_invoice_processor_spark.config import EngineConfig, load_config


def test_defaults_match_reference_properties():
    cfg = EngineConfig()
    # the reference's shipped tuning constants (application.properties)
    assert cfg.mysql_batch_size == 2000
    assert cfg.mysql_polling_interval_ms == 500
    assert cfg.response_batch_size == 100
    assert cfg.response_batch_timeout_ms == 3000
    assert cfg.max_wait_time_ms == 6000          # 2× timeout
    assert cfg.app_max_retries == 3
    assert cfg.app_retry_interval_ms == 10000
    assert cfg.retry_fetch_size == 100
    assert cfg.group_id_modulus == 5             # group.id.max.value + 1


def test_properties_then_cli_precedence(tmp_path):
    props = tmp_path / "app.properties"
    props.write_text(
        "# comment\n"
        "mysql.batch.size = 500\n"
        "response.batch.size=42\n"
        "app.max.retries=7\n"
        "kafka.topic.crt.response = custom.crt.topic\n"
        "unknown.key = ignored\n"
    )
    cfg = load_config(props, ["--mysql.batch.size", "900",
                              "--response.batch.timeout.ms=1234"])
    assert cfg.mysql_batch_size == 900            # CLI wins over properties
    assert cfg.response_batch_size == 42          # properties over default
    assert cfg.app_max_retries == 7
    assert cfg.response_batch_timeout_ms == 1234  # CLI-only
    assert cfg.response_topics[10] == "custom.crt.topic"
    assert cfg.request_topics[10] == "mtt.crt.request"  # untouched


def test_cli_only_and_int_coercion():
    cfg = load_config(None, ["--retry.mysql.fetch.size=5"])
    assert cfg.retry_fetch_size == 5
    assert isinstance(cfg.retry_fetch_size, int)


def test_retired_connection_keys_still_load(tmp_path):
    """The connection comes from a ``ConnFactory``, so the reference's
    JDBC keys set nothing; a properties file that still carries them
    loads, and every other value is as it would be without them."""
    body = (
        "mysql.batch.size = 500\n"
        "response.batch.size=42\n"
        "kafka.bootstrap = broker:9092\n"
    )
    legacy = (
        "mysql.jdbc.url = jdbc:mysql://db.example.internal:3306/invoices\n"
        "mysql.user = u\n"
        "mysql.password = pw\n"
        "mysql.table.name = async_inv_in\n"
    )
    plain, old = tmp_path / "plain.properties", tmp_path / "old.properties"
    plain.write_text(body)
    old.write_text(legacy + body)
    cfg = load_config(old)
    assert cfg == load_config(plain)
    assert cfg.mysql_batch_size == 500
    assert cfg.response_batch_size == 42
    assert cfg.kafka_bootstrap == "broker:9092"
