"""Drain a request-packet backlog through the streaming request job, with
the per-trigger bound the checkout's Kafka reader sets.

No Kafka broker is needed: a Python streaming data source stands in for
the Kafka reader.  It serves a fixed backlog of request packets (built by
perfbench's fixture generator) and admits at most ``maxOffsetsPerTrigger``
packets per trigger when ``streaming.kafka.kafka_reader_options`` sets
that option, and the whole remaining backlog when it does not.  So run
from two checkouts, the script compares their Kafka readers' trigger
bounds as well as their sinks.  The real ``run_invoice_request_job``
consumes the stand-in with its ``mysql.batch.interval.ms`` trigger.

The script waits until every generated invoice is in ``async_inv_in`` or
``invoice_retry``, then prints one JSON line:

- ``drain_s``: wall seconds from query start to the last row committed;
- ``cpu_s``, ``peak_rss_mb``: CPU seconds and peak RSS of this process
  and its descendants (the Spark JVM and its Python workers) over that
  time;
- ``triggers``: per data-carrying trigger, its packets, its duration and
  the idle time before the next trigger started (``None`` for the last);
- ``idle_s``: the idle times summed;
- ``correct``: both tables hold exactly the expected row counts.

    python3 tools/kafka_backlog_drain.py --invoices 30000 --seed 5

Run it from the root of a source checkout; ``--max-offsets`` overrides
the bound (``0`` for none).
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import shutil
import sqlite3
import sys
import tempfile
import threading
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")


def admitted(start: int, total: int, cap: int) -> int:
    """End offset of a trigger that starts at ``start`` of ``total``
    packets, admitting at most ``cap`` of them (no bound when ``cap`` is
    0), as Kafka's ``maxOffsetsPerTrigger`` does for one partition."""
    return total if cap <= 0 else min(total, start + cap)


def idle_gaps(progress: list[dict]) -> list[dict]:
    """Data-carrying triggers of ``query.recentProgress`` (one source):
    each one's packets (its offset range; ``numInputRows`` counts a packet
    once per scan), its duration and the idle seconds between its end and
    the next data trigger's start (``None`` for the last)."""
    def offset(o) -> int:
        # a Python data source's offsets read back as the dict's repr
        o = ast.literal_eval(o) if isinstance(o, str) else o
        return 0 if o is None else o["offset"]

    def start_s(p: dict) -> float:
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    data = [p for p in progress if p["numInputRows"] > 0]
    out = []
    for i, p in enumerate(data):
        src = p["sources"][0]
        duration = p["durationMs"]["triggerExecution"] / 1000
        idle = None
        if i + 1 < len(data):
            idle = round(max(0.0, start_s(data[i + 1]) - start_s(p) - duration), 3)
        out.append({"packets": offset(src["endOffset"]) - offset(src["startOffset"]),
                    "duration_s": round(duration, 3), "idle_after_s": idle})
    return out


def _source_class():
    """The stand-in Kafka source, a ``packet_backlog`` data source over a
    file of packet JSON lines (options ``path`` and ``max_offsets``)."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class BacklogReader(SimpleDataSourceStreamReader):
        def __init__(self, options: dict):
            self.path = options["path"]
            self.cap = int(options.get("max_offsets", "0"))
            self.values = None

        def _backlog(self) -> list[str]:
            if self.values is None:
                with open(self.path) as f:
                    self.values = f.read().splitlines()
            return self.values

        def initialOffset(self) -> dict:
            return {"offset": 0}

        def read(self, start: dict):
            values = self._backlog()
            end = admitted(start["offset"], len(values), self.cap)
            return iter([(v,) for v in values[start["offset"]:end]]), {"offset": end}

        def readBetweenOffsets(self, start: dict, end: dict):
            return iter([(v,) for v in self._backlog()[start["offset"]:end["offset"]]])

    class BacklogSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "packet_backlog"

        def schema(self) -> str:
            return "value string"

        def simpleStreamReader(self, schema):
            return BacklogReader(self.options)

    return BacklogSource


def _count(db_path: str, table: str) -> int:
    conn = sqlite3.connect(db_path, timeout=30.0)
    try:
        return conn.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
    finally:
        conn.close()


def drain(invoices: int, seed: int, max_offsets: int | None, workdir: str,
          timeout_s: float) -> dict:
    import fixtures
    import proctree
    from flink_invoice_processor_spark.config import load_config
    from flink_invoice_processor_spark.session import get_spark
    from flink_invoice_processor_spark.sinks.dbapi import SqliteConnFactory
    from flink_invoice_processor_spark.streaming.jobs import run_invoice_request_job
    from flink_invoice_processor_spark.streaming.kafka import kafka_reader_options

    # failures wait an hour, so no CREATE row comes due during the drain
    cfg = load_config(cli_args=["--app.retry.interval.ms", "3600000"])
    if max_offsets is None:
        max_offsets = int(kafka_reader_options(cfg).get("maxOffsetsPerTrigger", "0"))

    values, elements = fixtures.request_batch(seed, 0, invoices)
    backlog = os.path.join(workdir, "backlog.jsonl")
    with open(backlog, "w") as f:
        f.write("\n".join(values))
    db_path = os.path.join(workdir, "queue.db")
    fixtures.create_db(db_path)
    valid = sum(e.defect is None for e in elements)

    spark = get_spark("kafka_backlog_drain", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                                         "-XX:-UsePerfData",
    })
    peak_kb = 0
    stop = threading.Event()

    def sample_rss() -> None:
        nonlocal peak_kb
        while not stop.wait(0.2):
            peak_kb = max(peak_kb, sum(proctree.rss_kb(p) for p in proctree.pids()))

    sampler = threading.Thread(target=sample_rss, daemon=True)
    try:
        spark.dataSource.register(_source_class())
        source = (spark.readStream.format("packet_backlog")
                  .option("path", backlog).option("max_offsets", str(max_offsets)).load())
        sampler.start()
        cpu0 = proctree.cpu_s()
        t0 = time.perf_counter()
        query = run_invoice_request_job(spark, cfg, SqliteConnFactory(db_path),
                                        os.path.join(workdir, "checkpoint"), source=source)
        try:
            while (_count(db_path, "async_inv_in") + _count(db_path, "invoice_retry")
                   < len(elements)):
                if query.exception() is not None:
                    raise RuntimeError(f"query failed: {query.exception()}")
                if time.perf_counter() - t0 > timeout_s:
                    raise TimeoutError(f"backlog not drained in {timeout_s} s")
                time.sleep(0.1)
            drain_s = time.perf_counter() - t0
            cpu_s = proctree.cpu_s() - cpu0
            query.processAllAvailable()
            triggers = idle_gaps(query.recentProgress)
        finally:
            query.stop()
        stop.set()
        sampler.join()
        inserted = _count(db_path, "async_inv_in")
        retried = _count(db_path, "invoice_retry")
    finally:
        stop.set()
        spark.stop()
    return {
        "invoices": len(elements),
        "packets": len(values),
        "seed": seed,
        "max_offsets_per_trigger": max_offsets,
        "trigger_interval_s": cfg.mysql_batch_interval_ms / 1000,
        "drain_s": round(drain_s, 3),
        "cpu_s": round(cpu_s, 3),
        "peak_rss_mb": round(peak_kb / 1024, 1),
        "idle_s": round(sum(t["idle_after_s"] or 0.0 for t in triggers), 3),
        "triggers": triggers,
        "correct": inserted == valid and retried == len(elements) - valid,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--invoices", type=int, default=30000,
                    help="invoices in the backlog (packets hold 1-50 each)")
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--max-offsets", type=int, default=None,
                    help="packets admitted per trigger; default: the checkout's "
                         "maxOffsetsPerTrigger, 0 for no bound")
    ap.add_argument("--timeout-s", type=float, default=900.0)
    args = ap.parse_args(argv)

    workdir = tempfile.mkdtemp(prefix="kafka-backlog-drain-")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        # Python workers import the engine from this checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, PERFBENCH]
    try:
        result = drain(args.invoices, args.seed, args.max_offsets, workdir, args.timeout_s)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
