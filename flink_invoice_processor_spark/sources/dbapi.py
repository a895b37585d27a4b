"""Polling / claiming relational sources.

The reference implements three hand-rolled Flink ``RichSourceFunction``s
that poll MySQL; Spark has no built-in streaming JDBC source, so these are
rebuilt as *poll functions* driven either by a driver loop (availableNow
micro-batches — the shape used by the streaming jobs) or called directly in
batch tests:

- S2 ``poll_async_inv_in``  — ``source/AsyncInvInSource.java:51-103``:
  ``SELECT ... WHERE res_type = 2 AND state = 4 AND id > ? ORDER BY id ASC
  LIMIT fetchSize`` (``:55``), advancing an id high-water mark (the
  Structured-Streaming "offset" of this source).
- S3 ``poll_async_inv_out`` — ``source/AsyncInvOutSource.java:51-105``:
  same with predicate ``res_type = 2 AND state = 0``.
- S4 ``claim_retry_batch``  — ``source/InvoiceRetrySource.java:44-99``:
  ``SELECT ... WHERE state = 'PENDING' AND next_retry_time <= now AND
  job = ? ORDER BY next_retry_time LIMIT ?`` (``:48``), then
  ``UPDATE ... SET state = 'PROCESSING'`` for the claimed ids in one
  transaction (``:76-88``) — the at-most-once claim that keeps two pollers
  from re-processing the same row; rollback on error (``:91-94``).

The predicate + LIMIT are pushed into the database exactly as the reference
pushes them (hand-written WHERE — same place, same effect as Catalyst JDBC
pushdown).  The high-water mark is returned to the caller, who persists it
(the reference keeps it in memory only and loses it on restart —
``AsyncInvInSource.java:35-49`` is commented out; the response driver
loop, ``streaming.jobs.run_invoice_response_job``, checkpoints it).

Visibility assumption (the reference makes the same one,
``AsyncInvInSource.java:35-49``): ids become visible in commit order —
one writer, or auto-committed inserts.  With CONCURRENT writers a
transaction holding a lower id can commit AFTER a poll has advanced the
high-water mark past it, and ``id > ?`` will then skip that row forever.
Deployments with multi-writer queue tables should poll with a re-read
lag window (``id > hwm - lag``) plus the downstream dedup, or switch the
queue key to a commit-ordered sequence.

The fetched rows reach Spark as one ``pyarrow.Table`` built against the
Spark schema's Arrow schema, so each poll and claim plans as a JVM
``LocalRelation``.  Two reasons:

- Cost.  ``createDataFrame`` on a Python list plans a ``LogicalRDD`` over
  a Python RDD, and every Spark job that scans it (three per response
  micro-batch: each sink re-executes the plan) runs Python-worker tasks
  that re-pickle the rows.  A ``LocalRelation`` is scanned in the
  JVM, at no Python-worker cost.
- Time zone.  The list path reads a naive ``datetime`` through
  ``TimestampType.toInternal`` (``time.mktime``), i.e. in the host's time
  zone; the Arrow path reads it as UTC, the session time zone
  (``session.py``).  Read the list way on a UTC+7 host, a ``created_date``
  of ``2026-01-01 00:00:00`` serializes as ``2025-12-31T17:00:00.000Z``
  in packets and retry payloads.

Scale note: one poller per table matches the reference (source parallelism
1) and is the right shape for a queue table; for *backfill* of a huge
table use ``spark.read.jdbc(..., partitionColumn="id", numPartitions=N)``
instead — that path needs no custom code.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..config import EngineConfig, RETRY_STATE_PENDING, RETRY_STATE_PROCESSING
from ..dbdialect import ConnFactory, utcnow
from ..schemas import ASYNC_INV_IN_RECORD, ASYNC_INV_OUT_RECORD, INVOICE_RETRY_RECORD

#: queue table → (schema, ready predicate): the reference's hand-written
#: WHEREs (AsyncInvInSource.java:55, AsyncInvOutSource.java:55).
QUEUE_TABLES = {
    "async_inv_in": (ASYNC_INV_IN_RECORD, "res_type = 2 AND state = 4"),
    "async_inv_out": (ASYNC_INV_OUT_RECORD, "res_type = 2 AND state = 0"),
}
_RETRY_COLS = [f.name for f in INVOICE_RETRY_RECORD.fields]


def _coerce(rows: list[tuple], schema) -> list[tuple]:
    """Coerce DBAPI values to the declared Spark types (SQLite hands back
    ISO strings for timestamps and plain ints for bytes)."""
    ts_idx = [i for i, f in enumerate(schema.fields) if f.dataType.typeName() == "timestamp"]
    out = []
    for r in rows:
        r = list(r)
        for i in ts_idx:
            if isinstance(r[i], str):
                r[i] = datetime.fromisoformat(r[i])
        out.append(tuple(r))
    return out


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType
) -> DataFrame:
    """``rows`` (already coerced to ``schema``) as a DataFrame over a JVM
    ``LocalRelation``, built from one Arrow table (see module docstring)."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _poll_ready(
    spark: SparkSession,
    conn_factory: ConnFactory,
    table: str,
    cfg: EngineConfig | None,
    last_id: int,
) -> tuple[DataFrame, int]:
    """One poll of a queue table's ready rows past the id high-water mark,
    at most ``mysql.fetch.size`` of them:
    ``WHERE <ready> AND id > ? ORDER BY id ASC LIMIT n``."""
    cfg = cfg or EngineConfig()
    schema, ready = QUEUE_TABLES[table]
    sql = (
        f"SELECT {', '.join(f.name for f in schema.fields)} FROM {table} "
        f"WHERE {ready} AND id > {conn_factory.dialect.placeholder} "
        f"ORDER BY id ASC LIMIT {cfg.mysql_fetch_size}"
    )
    conn = conn_factory()
    try:
        cur = conn.cursor()
        cur.execute(sql, (last_id,))
        rows = _coerce(cur.fetchall(), schema)
    finally:
        conn.close()
    return local_frame(spark, rows, schema), max((r[0] for r in rows), default=last_id)


def poll_async_inv_in(
    spark: SparkSession,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    last_id: int = 0,
) -> tuple[DataFrame, int]:
    """One poll of ``async_inv_in`` past the id high-water mark.

    Returns ``(rows, new_last_id)``; the caller persists ``new_last_id``
    as the stream offset.
    """
    return _poll_ready(spark, conn_factory, "async_inv_in", cfg, last_id)


def poll_async_inv_out(
    spark: SparkSession,
    conn_factory: ConnFactory,
    cfg: EngineConfig | None = None,
    last_id: int = 0,
) -> tuple[DataFrame, int]:
    """One poll of ``async_inv_out`` (predicate ``res_type=2 AND state=0``,
    ``AsyncInvOutSource.java:55``)."""
    return _poll_ready(spark, conn_factory, "async_inv_out", cfg, last_id)


def claim_retry_batch(
    spark: SparkSession,
    conn_factory: ConnFactory,
    job: str,
    cfg: EngineConfig | None = None,
    now: datetime | None = None,
    reap_processing_after_s: int | None = None,
) -> DataFrame:
    """Claim due retry rows: SELECT due PENDING rows for ``job``, flip them
    to PROCESSING in the same transaction, return them as a DataFrame
    (``InvoiceRetrySource.java:44-99``).  Rows stay invisible to other
    pollers until a sink re-arms (UPDATE→PENDING) or removes them.

    The claim is genuinely at-most-once under CONCURRENT pollers: each
    row's conditional UPDATE (``AND state = 'PENDING'``) is checked via
    rowcount, and only rows whose claim this poller actually won are
    returned — a racing poller that saw the same SELECT snapshot loses
    the UPDATE race and drops the row from its batch (the reference's
    single-threaded source never needed this, its docstring just assumed
    one poller).

    The claim also pushes the row's ``next_retry_time`` forward to the
    claim instant, making it double as the lease start: the stale-claim
    sweep below measures staleness from WHEN THE CLAIM HAPPENED, not from
    the original due time.  (Measuring from the due time re-introduced
    double processing for backlogged rows: a row due two minutes ago that
    was claimed milliseconds ago looked instantly stale to a concurrent
    sweeper.)  Returned rows still carry the pre-claim ``next_retry_time``
    from the SELECT snapshot; a sink that re-arms the row overwrites the
    column with the next backoff anyway, and a reaped row becomes due
    immediately — both exactly what retry semantics want.

    ``reap_processing_after_s`` (optional) runs a stale-claim sweep
    first: PROCESSING rows for this job claimed (see above) at least that
    many seconds ago are flipped back to PENDING.  A claimer that died
    between the claim commit and its sink otherwise strands rows in
    PROCESSING forever; the sweep gives claims a lease.  Size it
    comfortably above the job's trigger interval
    (``EngineConfig.processing_lease_s``) so live epochs never lose rows
    mid-flight.

    When the factory's dialect is ``server_side_interval`` the due check is
    the reference's ``next_retry_time <= CURRENT_TIMESTAMP`` (DB clock,
    ``InvoiceRetrySource.java:48``); otherwise "now" is bound client-side.
    """
    cfg = cfg or EngineConfig()
    q = conn_factory.dialect.placeholder
    server_side = conn_factory.dialect.server_side_interval
    when = now or utcnow()
    # "now" is the DB clock under a server-side dialect, else bound from here
    now_sql, now_params = ("CURRENT_TIMESTAMP", ()) if server_side else (q, (when,))
    select_sql = (
        f"SELECT {', '.join(_RETRY_COLS)} FROM invoice_retry "
        f"WHERE state = '{RETRY_STATE_PENDING}' AND next_retry_time <= {now_sql} "
        f"AND job = {q} ORDER BY next_retry_time LIMIT {cfg.retry_fetch_size}"
    )
    # the claim stamps next_retry_time = claim instant (the lease start
    # the reap sweep measures from — see docstring)
    claim_sql = (
        f"UPDATE invoice_retry SET state = '{RETRY_STATE_PROCESSING}', "
        f"next_retry_time = {now_sql} "
        f"WHERE id = {q} AND state = '{RETRY_STATE_PENDING}'"
    )
    conn = conn_factory()
    try:
        cur = conn.cursor()
        if reap_processing_after_s is not None:
            # the cutoff must live in the SAME clock domain as the lease
            # start the claim stamped: DB clock under server_side_interval
            # (a client-clock cutoff vs a DB-clock lease re-opens the
            # skew-induced instant-reap this dialect exists to prevent),
            # client clock otherwise
            if server_side:
                cutoff_sql = f"CURRENT_TIMESTAMP - INTERVAL {q} SECOND"
                cutoff = int(reap_processing_after_s)
            else:
                cutoff_sql = q
                cutoff = when - timedelta(seconds=reap_processing_after_s)
            cur.execute(
                f"UPDATE invoice_retry SET state = '{RETRY_STATE_PENDING}' "
                f"WHERE state = '{RETRY_STATE_PROCESSING}' AND job = {q} "
                f"AND next_retry_time <= {cutoff_sql}",
                (job, cutoff),
            )
        cur.execute(select_sql, (*now_params, job))
        rows = cur.fetchall()
        claimed = []
        for r in rows:
            cur.execute(claim_sql, (*now_params, r[0]))
            # rowcount 1 = we won the claim; 0 = a concurrent poller did
            if cur.rowcount == 1:
                claimed.append(r)
        conn.commit()
    except Exception:
        try:
            conn.rollback()
        finally:
            conn.close()
        raise
    else:
        conn.close()
    return local_frame(
        spark, _coerce(claimed, INVOICE_RETRY_RECORD), INVOICE_RETRY_RECORD
    )
