"""The workloads: closed-loop drivers over the engine's per-batch entry
points (and, for analytics_mix, over a slice of its registered queries),
each with the output checks that decide whether an op failed.

A workload object owns one queue database.  ``build()`` creates it afresh
(DDL only) and restarts the input stream; ``op()`` generates the next
input outside the timer, runs one engine op inside it, then checks the
outputs and returns an :class:`OpResult`.  The next op starts only after the
previous op's sinks have committed.  analytics_mix builds generated tables
instead, and each of its ops runs one query.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import random
import sqlite3
import time
from collections import Counter
from dataclasses import dataclass

import fixtures
import proctree


@dataclass
class OpResult:
    seconds: float
    units: int
    ok: bool
    error: str = ""
    kind: str = ""  # the query an analytics op ran; empty for engine ops
    cpu_s: float = 0.0  # CPU seconds of the process tree during the op


class PacketCollector:
    """In-process stand-in for the Kafka producer: collects each cycle's
    packets on the driver."""

    def __init__(self):
        self.rows = []

    def __call__(self, packets_df) -> None:
        self.rows = packets_df.collect()


@contextlib.contextmanager
def _conn(path: str):
    """A queue-database connection that commits and closes on exit."""
    conn = sqlite3.connect(path, timeout=30.0)
    try:
        with conn:
            yield conn
    finally:
        conn.close()


def _max_id(conn: sqlite3.Connection, table: str) -> int:
    """The highest id ``table`` ever assigned.  Every queue table is
    AUTOINCREMENT, so that is its ``sqlite_sequence`` entry, which deleting
    the newest row does not lower, unlike ``MAX(id)``."""
    row = conn.execute("SELECT seq FROM sqlite_sequence WHERE name = ?", (table,)).fetchone()
    return row[0] if row else 0


class Workload:
    """Common plumbing: config, database, timing and failure bookkeeping."""

    name = ""
    #: properties-file overrides for this workload (``--key value`` pairs)
    properties: dict[str, str] = {}
    #: ops whose summed time warm-up compares from one round to the next
    ops_per_round = 1
    #: rounds warm-up always runs before it looks for op times to settle
    warmup_rounds = 1

    def __init__(self, spark, workdir: str, seed: int):
        from flink_invoice_processor_spark.config import load_config

        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        args = [x for k, v in self.properties.items() for x in (f"--{k}", v)]
        self.cfg = load_config(cli_args=args)
        self.sink = PacketCollector()
        self.index = 0
        self.db_path = ""

    def build(self) -> None:
        """Create a fresh queue database and reset the input stream."""
        from flink_invoice_processor_spark.sinks.dbapi import SqliteConnFactory

        self.db_path = os.path.join(self.workdir, f"{self.name}-{time.monotonic_ns()}.db")
        fixtures.create_db(self.db_path)
        self.conn_factory = SqliteConnFactory(self.db_path)
        self.index = 0
        self.reset()

    def reset(self) -> None:
        """Workload-specific fixture state; called by ``build``."""

    def op(self) -> OpResult:
        prepared = self.prepare()
        kind = self.kind(prepared)
        cpu0 = proctree.cpu_s()
        t0 = time.perf_counter()
        try:
            self.run(prepared)
        except Exception as e:  # an op that raises counts as failed
            self.index += 1
            return OpResult(time.perf_counter() - t0, 0, False,
                            f"{type(e).__name__}: {e}", kind)
        seconds = time.perf_counter() - t0
        cpu_s = proctree.cpu_s() - cpu0
        self.index += 1
        units, problems = self.check(prepared)
        return OpResult(seconds, units, not problems, "; ".join(problems[:3]), kind, cpu_s)

    def kind(self, prepared) -> str:
        """What distinguishes this op from the workload's other ops."""
        return ""

    def span_name(self, prepared) -> str:
        """The traced run's span around one op."""
        return f"streaming.jobs.{self.op_span}"

    def span_counts(self) -> dict:
        """Counts the traced run books on the last op's span."""
        return {}

    # hooks ------------------------------------------------------------------
    def prepare(self):
        raise NotImplementedError

    def run(self, prepared) -> None:
        raise NotImplementedError

    def check(self, prepared) -> tuple[int, list[str]]:
        raise NotImplementedError

    def counters(self) -> dict:
        """Row-count probes for the traced run (see ``spans.instrument``)."""
        return {}

    # shared probes ----------------------------------------------------------
    def _id_delta(self, table: str):
        def before(*_args, **_kwargs):
            with _conn(self.db_path) as c:
                return _max_id(c, table)

        def after(start, _result):
            with _conn(self.db_path) as c:
                return {"rows": _max_id(c, table) - start}

        return before, after

    def _retry_tags(self):
        """Rows per tag written by ``write_retry_emissions``, read back from
        the queue tables around the call."""
        def snapshot(*_args, **_kwargs):
            with _conn(self.db_path) as c:
                return (
                    _max_id(c, "invoice_retry"),
                    c.execute("SELECT COUNT(*) FROM invoice_retry").fetchone()[0],
                    c.execute("SELECT COUNT(*) FROM invoice_retry "
                              "WHERE state = 'PROCESSING'").fetchone()[0],
                    _max_id(c, "invoice_error_log"),
                )

        def after(start, _result):
            max0, n0, proc0, err0 = start
            max1, n1, proc1, err1 = snapshot()
            create = max1 - max0
            removed = n0 + create - n1
            dead = err1 - err0
            return {"rows_create": create, "rows_max_retry": dead,
                    "rows_delete": removed - dead,
                    "rows_update": (proc0 - proc1) - removed}

        return snapshot, after

    def _claimed_rows(self):
        def before(*_args, **_kwargs):
            with _conn(self.db_path) as c:
                return c.execute("SELECT COUNT(*) FROM invoice_retry "
                                 "WHERE state = 'PROCESSING'").fetchone()[0]

        def after(start, _result):
            return {"rows": before() - start}

        return before, after


# ---------------------------------------------------------------------------


class RequestIngest(Workload):
    """Request packets drained through ``request_micro_batch``."""

    name = "request_ingest"
    op_span = "request_micro_batch"
    #: the first op costs ~2x a steady op in CPU time, the second ~1.1x
    warmup_rounds = 2
    # failures wait an hour, so no CREATE row comes due inside a run
    properties = {"app.retry.interval.ms": "3600000"}
    #: the reference's JDBC insert batch (``mysql.batch.size``)
    invoices_per_batch = 2000

    def reset(self) -> None:
        self.last_in = self.last_retry = 0

    def prepare(self):
        import pandas as pd

        values, elements = fixtures.request_batch(self.seed, self.index, self.invoices_per_batch)
        # from pandas (via Arrow) the batch is a JVM-local relation, as a
        # Kafka micro-batch is; from a list it would be a Python RDD that
        # Python workers re-read in every job
        df = self.spark.createDataFrame(pd.DataFrame({"value": values}), "value string")
        return df, elements

    def run(self, prepared) -> None:
        from flink_invoice_processor_spark.streaming import jobs

        jobs.request_micro_batch(prepared[0], self.spark, self.cfg, self.conn_factory)

    def check(self, prepared) -> tuple[int, list[str]]:
        _, elements = prepared
        valid = [e for e in elements if e.defect is None]
        bad = [e for e in elements if e.defect is not None]
        problems = []
        with _conn(self.db_path) as c:
            got = c.execute(
                "SELECT sid, syncid, api_type, group_id, tax_schema, state, retry, res_type "
                "FROM async_inv_in WHERE id > ?", (self.last_in,)).fetchall()
            retries = c.execute(
                "SELECT sid, error_code, error_message, job, state, retry_count "
                "FROM invoice_retry WHERE id > ?", (self.last_retry,)).fetchall()
            self.last_in = _max_id(c, "async_inv_in")
            self.last_retry = _max_id(c, "invoice_retry")
        want = Counter((e.sid, e.syncid, e.api_type, e.group_id, e.stax, 0, 0, None)
                       for e in valid)
        if Counter(got) != want:
            problems.append(f"async_inv_in rows differ: {len(got)} written, "
                            f"{len(valid)} expected")
        want_retry = Counter(
            (e.sid, *fixtures.REQUEST_DEFECTS[e.defect], "REQUEST", "PENDING", 0) for e in bad)
        if Counter(retries) != want_retry:
            problems.append(f"CREATE retry rows differ: {len(retries)} written, "
                            f"{len(bad)} expected")
        if len(got) + len(retries) != len(elements):
            problems.append("valid + retry rows != generated elements")
        return len(got), problems

    def counters(self) -> dict:
        return {
            "write_invoice_records": self._id_delta("async_inv_in"),
            "write_retry_emissions": self._retry_tags(),
            "claim_retry_batch": self._claimed_rows(),
        }


# ---------------------------------------------------------------------------


class ResponseDrain(Workload):
    """Ready queue rows drained through ``response_cycle``."""

    name = "response_drain"
    op_span = "response_cycle"
    #: the first cycle costs ~2x a steady cycle in CPU time, the second ~1.1x
    warmup_rounds = 2
    #: one poll at the reference's ``mysql.fetch.size``, split over both tables
    rows_per_cycle = 2000
    properties = {"app.retry.interval.ms": "3600000"}

    def reset(self) -> None:
        self.last_in = self.last_out = 0
        self.last_succ = self.last_retry = 0
        self.invalid_total = 0

    def prepare(self):
        rows = fixtures.ready_rows(self.seed, self.index, self.rows_per_cycle)
        with _conn(self.db_path) as c:
            fixtures.insert_ready_rows(c, self.seed, self.index, rows)
        return rows

    def run(self, prepared) -> None:
        from flink_invoice_processor_spark.streaming import jobs

        self.last_in, self.last_out = jobs.response_cycle(
            self.spark, self.cfg, self.conn_factory, self.sink, self.last_in, self.last_out)

    def check(self, rows) -> tuple[int, list[str]]:
        problems = check_packets(self.sink.rows, {r.sid: r for r in rows if r.invalid is None},
                                 self.cfg)
        valid = [r for r in rows if r.invalid is None]
        bad = [r for r in rows if r.invalid is not None]
        self.invalid_total += len(bad)
        with _conn(self.db_path) as c:
            succ = c.execute("SELECT sid, syncid, api_type FROM async_inv_succ_log "
                             "WHERE id > ?", (self.last_succ,)).fetchall()
            retries = c.execute(
                "SELECT sid, error_code, error_message, job FROM invoice_retry "
                "WHERE id > ?", (self.last_retry,)).fetchall()
            left = (c.execute("SELECT COUNT(*) FROM async_inv_in").fetchone()[0]
                    + c.execute("SELECT COUNT(*) FROM async_inv_out").fetchone()[0])
            self.last_succ = _max_id(c, "async_inv_succ_log")
            self.last_retry = _max_id(c, "invoice_retry")
        if Counter(succ) != Counter((r.sid, r.syncid, r.api_type) for r in valid):
            problems.append(f"succ_log rows differ: {len(succ)} vs {len(valid)}")
        want_retry = Counter((r.sid, *fixtures.RESPONSE_INVALID[r.invalid][1:], "RESPONSE")
                             for r in bad)
        if Counter(retries) != want_retry:
            problems.append(f"retry rows differ: {len(retries)} vs {len(bad)}")
        # valid rows are logged and deleted; invalid ones wait for their retry
        if left != self.invalid_total:
            problems.append(f"{left} rows left in the queue tables, "
                            f"{self.invalid_total} expected")
        return len(rows), problems

    def counters(self) -> dict:
        def poll_rows(table):
            def before(_spark, _conn_factory, _cfg, last_id, *_rest):
                return last_id

            def after(last_id, result):
                with _conn(self.db_path) as c:
                    n = c.execute(f"SELECT COUNT(*) FROM {table} WHERE id > ? AND id <= ?",
                                  (last_id, result[1])).fetchone()[0]
                return {"rows": n}
            return before, after

        return {
            "poll_async_inv_in": poll_rows("async_inv_in"),
            "poll_async_inv_out": poll_rows("async_inv_out"),
            "claim_retry_batch": self._claimed_rows(),
            "write_log_and_delete": self._id_delta("async_inv_succ_log"),
            "write_retry_emissions": self._retry_tags(),
        }


def check_packets(packets, expected: dict, cfg) -> list[str]:
    """Every expected row (by sid) appears in exactly one packet, no packet
    exceeds ``response.batch.size`` and each packet's topic matches the
    api_type of every item in it."""
    problems = []
    seen = Counter()
    for p in packets:
        items = json.loads(p["packet_json"])["inv_pack_res"]
        if len(items) > cfg.response_batch_size or len(items) != p["item_count"]:
            problems.append(f"packet of {len(items)} items")
        if p["topic"] != cfg.response_topics.get(p["api_type"]):
            problems.append(f"topic {p['topic']} for api_type {p['api_type']}")
        for it in items:
            seen[it["sid"]] += 1
            row = expected.get(it["sid"])
            if row is None or row.api_type != p["api_type"] or row.syncid != it["sync_sid"]:
                problems.append(f"unexpected packet item {it['sid']}")
    if set(seen) != set(expected) or any(n != 1 for n in seen.values()):
        problems.append(f"{len(seen)} packet items for {len(expected)} rows")
    return problems[:3]


# ---------------------------------------------------------------------------


class RetryChurn(Workload):
    """A due retry backlog for both jobs, cycled until each row resolves."""

    name = "retry_churn"
    op_span = "retry_cycle"
    # re-armed rows come due again at once, until they resolve
    properties = {"app.retry.interval.ms": "0"}
    chunk_rows = 200

    def reset(self) -> None:
        self.rows: dict[str, fixtures.RetryRow] = {}
        self.chunk = 0
        self.last = {"async_inv_in": 0, "invoice_error_log": 0, "async_inv_succ_log": 0}
        self.empty = self.spark.createDataFrame([], "value string")

    def prepare(self):
        with _conn(self.db_path) as c:
            pending = dict(c.execute("SELECT job, COUNT(*) FROM invoice_retry "
                                     "GROUP BY job").fetchall())
            # keep at least two claims' worth due for each job
            if min(pending.get("REQUEST", 0), pending.get("RESPONSE", 0)) \
                    < 2 * self.cfg.retry_fetch_size:
                new = fixtures.retry_rows(self.seed, self.chunk, self.chunk_rows,
                                          self.cfg.app_max_retries)
                self.chunk += 1
                fixtures.insert_retry_rows(c, new)
                self.rows.update((r.sid, r) for r in new)
            return {sid: (job, count, state) for sid, job, count, state in c.execute(
                "SELECT sid, job, retry_count, state FROM invoice_retry")}

    def run(self, prepared) -> None:
        from flink_invoice_processor_spark.streaming import jobs

        jobs.request_micro_batch(self.empty, self.spark, self.cfg, self.conn_factory)
        jobs.response_cycle(self.spark, self.cfg, self.conn_factory, self.sink)

    def _new(self, c, table: str, cols: str) -> list[tuple]:
        rows = c.execute(f"SELECT {cols} FROM {table} WHERE id > ?",
                         (self.last[table],)).fetchall()
        self.last[table] = _max_id(c, table)
        return rows

    def check(self, before) -> tuple[int, list[str]]:
        max_r = self.cfg.app_max_retries
        problems = []
        with _conn(self.db_path) as c:
            after = {sid: (job, count, state, msg) for sid, job, count, state, msg in c.execute(
                "SELECT sid, job, retry_count, state, error_message FROM invoice_retry")}
            inserted = Counter(self._new(c, "async_inv_in", "sid, retry, group_id"))
            logged = Counter(s for (s,) in self._new(c, "async_inv_succ_log", "sid"))
            dead = Counter(self._new(c, "invoice_error_log", "sid, attempt"))
        want_in, want_log, want_dead = Counter(), Counter(), Counter()
        moved = 0
        for sid, (job, count, state) in before.items():
            row = self.rows[sid]
            now = after.get(sid)
            if now is not None and now[1] == count:
                continue  # not claimed this op
            moved += 1
            if now is not None:  # re-armed
                want_msg = "sid is null" if job == "REQUEST" else "gdt_res is null"
                if row.kind != "fail" or count > max_r or now[1] != count + 1 \
                        or now[2] != "PENDING" or now[3] != want_msg:
                    problems.append(f"{sid} re-armed as {now}")
            elif row.kind == "ok" and count <= max_r and job == "REQUEST":
                # the reference's quirk: group_id = retry_count % modulus
                want_in[(sid, count, count % fixtures.GROUP_ID_MODULUS)] += 1
            elif row.kind == "ok" and count <= max_r:
                want_log[sid] += 1
            elif row.kind in ("fail", "max") and count > max_r:
                want_dead[(sid, count - 1)] += 1
            else:
                problems.append(f"{sid} ({row.kind}, count {count}) left the queue")
        if any(state == "PROCESSING" for _, _, state, _ in after.values()):
            problems.append("PROCESSING rows stranded")
        for what, got, want in (("records re-inserted", inserted, want_in),
                                ("responses logged", logged, want_log),
                                ("dead letters", dead, want_dead)):
            if got != want:
                problems.append(f"{sum(got.values())} {what}, {sum(want.values())} expected")
        problems += check_packets(self.sink.rows,
                                  {s: _Recovered(self.rows[s]) for s in want_log}, self.cfg)
        return moved, problems

    def counters(self) -> dict:
        return {
            "claim_retry_batch": self._claimed_rows(),
            "write_invoice_records": self._id_delta("async_inv_in"),
            "write_log_and_delete": self._id_delta("async_inv_succ_log"),
            "write_retry_emissions": self._retry_tags(),
        }


class _Recovered:
    """A recovered RESPONSE retry row, shaped like the packet check expects."""

    def __init__(self, row: fixtures.RetryRow):
        payload = json.loads(row.payload)
        self.api_type = payload["api_type"]
        self.syncid = row.syncid


# ---------------------------------------------------------------------------


#: A fixed slice of ``plans.queries``, all reading tables
#: ``fixtures.analytics_tables`` generates: at least one query per
#: ``functions`` module the query suite uses, except ``quality`` (its one
#: query reads the TPC-H tables) and ``lsh_index`` (its query keeps a
#: store on disk across calls).
ANALYTICS_QUERIES = (
    "events_asof_join",          # functions.asof
    "cdc_chunk_dedup_docs",      # functions.cdc
    "doc_chunking",              # functions.curation
    "exact_dedup_docs",          # functions.dedup
    "minhash_lsh_docs",          # functions.dedup
    "triangle_counts_docs",      # functions.graph
    "bm25_topk_docs",            # functions.retrieval
    "multimodal_frame_sample",   # functions.multimodal
    "embedding_neardup_lsh",     # functions.similarity
    "events_scd2_history",       # functions.scd2
    "events_heavy_hitters",      # functions.sketches
    "events_key_skew_profile",   # functions.skew
    "events_value_percentiles",  # functions.stats
    "tfidf_top_terms",           # functions.text
    "doc_fingerprint",           # functions.text
    "events_sessionization",     # functions.windows
)


def _cell(v) -> str:
    """One result cell as text, alike for Spark and DuckDB rows."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted as text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x01".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


class AnalyticsMix(Workload):
    """Repeated passes over ``ANALYTICS_QUERIES`` in a seeded order, with
    the suite cache scoped to one pass."""

    name = "analytics_mix"
    ops_per_round = len(ANALYTICS_QUERIES)

    def build(self) -> None:
        """Generate the tables and compute each query's expected result
        hash with its DuckDB oracle."""
        import duckdb
        from flink_invoice_processor_spark.plans.queries import ORACLES

        self.sf_dir = os.path.join(self.workdir, "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        fixtures.analytics_tables(self.seed, self.sf_dir)
        self.order = list(ANALYTICS_QUERIES)
        random.Random(f"{self.seed}/analytics-order").shuffle(self.order)
        con = duckdb.connect()
        try:
            for table in fixtures.ANALYTICS_ROWS:
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                            f"'{self.sf_dir}/{table}.parquet'")
            self.expected = {}
            for q in self.order:
                res = con.execute(ORACLES[q])
                self.expected[q] = result_hash([d[0] for d in res.description],
                                               res.fetchall())
        finally:
            con.close()
        self.index = 0
        #: suite-cache build seconds of the last op
        self.build_s = 0.0

    def prepare(self):
        from flink_invoice_processor_spark.functions import suite_cache

        if self.index % len(self.order) == 0:
            suite_cache.enable()  # a new pass: a fresh cache scope
        return self.order[self.index % len(self.order)]

    def kind(self, query: str) -> str:
        return query

    def span_name(self, query: str) -> str:
        return f"plans.queries.{query}"

    def run(self, query: str) -> None:
        from flink_invoice_processor_spark.functions import suite_cache
        from flink_invoice_processor_spark.plans.queries import QUERIES

        df = QUERIES[query](self.spark, self.sf_dir)
        self.result = (df.columns, df.collect())
        self.build_s = sum(suite_cache.drain_build_times().values())

    def span_counts(self) -> dict:
        return {"suite_cache_build_s": self.build_s}

    def check(self, query: str) -> tuple[int, list[str]]:
        if result_hash(*self.result) != self.expected[query]:
            return 1, [f"{query}: result differs from its DuckDB oracle"]
        return 1, []


WORKLOADS = {w.name: w for w in (RequestIngest, ResponseDrain, RetryChurn, AnalyticsMix)}
