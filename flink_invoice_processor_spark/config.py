"""Job configuration: properties file merged with CLI overrides.

Mirrors the reference's parameter loading (``util/FlinkJobUtils.java:17-26``:
classpath ``application.properties`` merged with CLI args, CLI wins) and its
shipped defaults (``src/main/resources/application.properties``).  Note the
reference has *two* default layers — properties file and in-code fallbacks
passed to ``params.getInt(key, default)`` — and they disagree for some keys
(e.g. ``app.retry.interval.ms`` is 10000 in properties but 5000 in code at
``job/InvoiceRequest.java:45``); at runtime the properties file wins, so the
values below are the properties-file ones.

No credentials / endpoints from the reference are reproduced here.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields
from pathlib import Path
from typing import Any

# ---------------------------------------------------------------------------
# api_type domain (reference: process/response/InvoiceResponseKafkaRouter.java:52-70
# and validation whitelist InvoiceResponseBatchProcessor.java:285)
# ---------------------------------------------------------------------------
API_TYPE_CRT = 10
API_TYPE_UPD = 11
API_TYPE_DEL = 12
API_TYPE_REP = 13
API_TYPE_ADJ = 14
API_TYPES = (API_TYPE_CRT, API_TYPE_UPD, API_TYPE_DEL, API_TYPE_REP, API_TYPE_ADJ)

API_TYPE_NAMES = {
    API_TYPE_CRT: "crt",
    API_TYPE_UPD: "upd",
    API_TYPE_DEL: "del",
    API_TYPE_REP: "rep",
    API_TYPE_ADJ: "adj",
}

# Retry-queue row lifecycle (reference: sink/InvoiceRetrySink.java:26-44,
# source/InvoiceRetrySource.java:40-48)
RETRY_STATE_PENDING = "PENDING"
RETRY_STATE_PROCESSING = "PROCESSING"
RETRY_JOB_REQUEST = "REQUEST"
RETRY_JOB_RESPONSE = "RESPONSE"

# Retry sink routing tags (reference: process/request/InvoiceRequestTransformer
# side-output tags; sink dispatch InvoiceRetrySink.java:26-44)
TAG_CREATE = "CREATE"
TAG_UPDATE = "UPDATE"
TAG_DELETE = "DELETE"
TAG_MAX_RETRY = "MAX_RETRY"


@dataclass
class EngineConfig:
    """Typed view of every tunable the reference exposes, plus Spark knobs.

    Defaults match the reference's ``application.properties`` (see module
    docstring for the cited key list).
    """

    # Kafka (endpoints/credentials intentionally blank — supplied at deploy)
    kafka_bootstrap: str = ""
    kafka_sasl_user: str = ""
    kafka_sasl_password: str = ""
    kafka_starting_offsets: str = "LATEST"  # LATEST | EARLIEST | COMMITTED
    request_topics: dict[int, str] = field(
        default_factory=lambda: {t: f"mtt.{API_TYPE_NAMES[t]}.request" for t in API_TYPES}
    )
    response_topics: dict[int, str] = field(
        default_factory=lambda: {t: f"mtt.{API_TYPE_NAMES[t]}.response" for t in API_TYPES}
    )

    # queue-database substrate (the connection comes from a ConnFactory)
    mysql_batch_size: int = 2000          # mysql.batch.size
    mysql_batch_interval_ms: int = 5000   # mysql.batch.interval.ms
    mysql_max_retries: int = 3            # mysql.max.retries
    mysql_polling_interval_ms: int = 500  # mysql.polling.interval.ms
    mysql_fetch_size: int = 2000          # mysql.fetch.size

    # Request-side derivation
    group_id_max_value: int = 4           # group.id.max.value → modulus is +1
                                          # (job/InvoiceRequest.java:43)

    # Retry/backoff state machine
    app_max_retries: int = 3              # app.max.retries
    app_retry_interval_ms: int = 10000    # app.retry.interval.ms (backoff base)
    retry_polling_interval_ms: int = 2000  # retry.mysql.polling.interval.ms
    retry_fetch_size: int = 100           # retry.mysql.fetch.size

    # Response batch envelope
    response_batch_size: int = 100        # response.batch.size
    response_batch_timeout_ms: int = 3000  # response.batch.timeout.ms
    # max-wait force flush = 2 × timeout (InvoiceResponseBatchProcessor.java:56)

    @property
    def group_id_modulus(self) -> int:
        return self.group_id_max_value + 1

    @property
    def max_wait_time_ms(self) -> int:
        return 2 * self.response_batch_timeout_ms

    @property
    def processing_lease_s(self) -> int:
        """Stale-claim lease for the retry queue: a PROCESSING row claimed
        more than this many seconds ago is assumed orphaned by a crashed
        claimer and swept back to PENDING (``claim_retry_batch``'s
        ``reap_processing_after_s``).  Ten trigger beats — comfortably
        above any one epoch's processing time, so live claims are never
        stolen mid-flight — floored at 60 s."""
        beat_ms = max(
            self.mysql_batch_interval_ms,
            self.response_batch_timeout_ms,
            self.retry_polling_interval_ms,
        )
        return max(60, 10 * beat_ms // 1000)


_KEY_MAP = {
    # properties-file key → EngineConfig field
    "kafka.bootstrap": "kafka_bootstrap",
    "kafka.sasl.user": "kafka_sasl_user",
    "kafka.sasl.password": "kafka_sasl_password",
    "kafka.starting.offsets": "kafka_starting_offsets",
    "mysql.batch.size": "mysql_batch_size",
    "mysql.batch.interval.ms": "mysql_batch_interval_ms",
    "mysql.max.retries": "mysql_max_retries",
    "mysql.polling.interval.ms": "mysql_polling_interval_ms",
    "mysql.fetch.size": "mysql_fetch_size",
    "group.id.max.value": "group_id_max_value",
    "app.max.retries": "app_max_retries",
    "app.retry.interval.ms": "app_retry_interval_ms",
    "retry.mysql.polling.interval.ms": "retry_polling_interval_ms",
    "retry.mysql.fetch.size": "retry_fetch_size",
    "response.batch.size": "response_batch_size",
    "response.batch.timeout.ms": "response_batch_timeout_ms",
}


def _parse_properties(text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith(("#", "!")):
            continue
        if "=" in line:
            k, _, v = line.partition("=")
            out[k.strip()] = v.strip()
    return out


def load_config(
    properties_path: str | Path | None = None,
    cli_args: list[str] | None = None,
) -> EngineConfig:
    """Load config with the reference's precedence: properties file first,
    CLI ``--key value`` / ``--key=value`` overrides win
    (``util/FlinkJobUtils.java:17-26``)."""
    merged: dict[str, str] = {}
    if properties_path is not None:
        merged.update(_parse_properties(Path(properties_path).read_text()))
    if cli_args:
        i = 0
        while i < len(cli_args):
            arg = cli_args[i]
            if arg.startswith("--"):
                key = arg[2:]
                if "=" in key:
                    key, _, val = key.partition("=")
                    merged[key] = val
                    i += 1
                elif i + 1 < len(cli_args):
                    merged[key] = cli_args[i + 1]
                    i += 2
                else:
                    merged[key] = "true"
                    i += 1
            else:
                i += 1

    cfg = EngineConfig()
    field_types: dict[str, Any] = {f.name: f.type for f in fields(EngineConfig)}
    # topic keys are handled specially (kafka.topic.{name}.{request|response})
    for key, raw in merged.items():
        if key.startswith("kafka.topic."):
            _, _, rest = key.partition("kafka.topic.")
            name, _, side = rest.partition(".")
            for at, at_name in API_TYPE_NAMES.items():
                if at_name == name:
                    if side == "request":
                        cfg.request_topics[at] = raw
                    elif side == "response":
                        cfg.response_topics[at] = raw
            continue
        fname = _KEY_MAP.get(key)
        if fname is None:
            continue
        ftype = field_types[fname]
        if ftype in (int, "int"):
            setattr(cfg, fname, int(raw))
        else:
            setattr(cfg, fname, raw)
    return cfg
