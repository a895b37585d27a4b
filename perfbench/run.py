"""Benchmark of record for the invoice engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload request_ingest --seed 1 --seconds 10 --trace 0

It imports the engine from the checkout, starts a local Spark session with
one task thread per CPU, builds the workload's input (a queue database,
or generated tables for analytics_mix), warms up, then runs the
workload's ops in closed loop for ``--seconds`` and checks every op's
output.  The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``).  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402

ENGINE_PACKAGE = "flink_invoice_processor_spark"
#: After the workload's ``warmup_rounds``, warm-up runs rounds of ops until
#: a round is no more than this share faster than the round before it,
#: i.e. until op times stop falling.  A round is one op, or one pass over
#: the query slice for analytics_mix.
WARMUP_SETTLED = 0.10
#: Warm-up rounds beyond the workload's ``warmup_rounds`` at most, so a
#: run stays inside its time budget.
WARMUP_EXTRA_ROUNDS = 2


class RssSampler(threading.Thread):
    """Samples the RSS of this process and all its descendants (the Spark
    JVM and its Python workers) and keeps the peak of their sum."""

    def __init__(self, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def sample(self) -> None:
        total = sum(proctree.rss_kb(pid) for pid in proctree.pids())
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_event.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._stop_event.set()
        self.join()
        self.sample()


def prepare_environment(root: str, workdir: str) -> None:
    """Keep every file Spark writes inside the checkout and size the
    session to this host."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, root)


def start_session(workdir: str):
    from flink_invoice_processor_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # no hsperfdata file in the system temp directory; C1 only, see
        # README.md ("Run length, bounds and noise")
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                                         "-XX:-UsePerfData -XX:TieredStopAtLevel=1",
    })


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def warm_up(workload):
    """Run the workload's ``warmup_rounds`` rounds of ops, then more until
    op times stop falling (see ``WARMUP_SETTLED``), at most
    ``WARMUP_EXTRA_ROUNDS`` more.  The round that shows it is already
    steady, so it is the first measured one.  Returns the warm-up ops, that
    round's ops and the time it started."""
    n = workload.ops_per_round
    warm, last = [], None
    while True:
        start = time.perf_counter()
        ops = [workload.op() for _ in range(n)]
        took = sum(r.cpu_s for r in ops)
        rounds = len(warm) // n
        if rounds >= workload.warmup_rounds and (
                took >= (1 - WARMUP_SETTLED) * last
                or rounds >= workload.warmup_rounds + WARMUP_EXTRA_ROUNDS):
            return warm, ops, start
        warm += ops
        last = took


def measure(workload, seconds: float, results: list, start: float) -> list:
    """Closed loop for ``seconds`` from ``start``, continuing ``results``
    (the ops run since then): an op starts only if one more op of the last
    op's length still ends in time."""
    results = list(results)
    t_end = start + seconds
    while time.perf_counter() + results[-1].seconds <= t_end:
        results.append(workload.op())
    return results


def end_to_end(results, setup_s: float, peak_rss_mb: float) -> dict:
    """Per op, the CPU seconds the process tree spent on it; medians over
    the measured ops.  An op uses most of the host's CPUs, so CPU time
    the hypervisor or a neighbour takes away stretches its wall time by
    as much, but leaves its CPU time alone (see README.md)."""
    return {
        "throughput_per_cpu_s": (statistics.median(max(1, r.units) / r.cpu_s
                                                   for r in results), "1/cpu_s"),
        "op_cpu_p50_s": (statistics.median(r.cpu_s for r in results), "cpu_s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def per_layer(workload, tracer, traced, plain, steal, load) -> dict:
    """Mean per traced op of every layer metric, plus the tracing overhead
    and the host's steal and load."""
    layers = tracer.layer_totals()
    if workload.name == "analytics_mix":
        out = query_layers(layers, len(traced))
    else:
        out = engine_layers(tracer, layers, len(traced))
    out["tracing.overhead_s"] = (tracing_overhead(plain, traced), "s")
    # wall-clock figures of the untraced ops, which the end-to-end run
    # reports in CPU time
    out["streaming.jobs.op_wall_p50_s"] = (statistics.median(r.seconds for r in plain), "s")
    out["streaming.jobs.wall_throughput_per_s"] = (
        statistics.median(max(1, r.units) / r.seconds for r in plain), "1/s")
    out["host.steal_pct"] = (steal, "%")
    out["host.loadavg_1m"] = (load, "count")
    return out


def engine_layers(tracer, layers: dict, ops: int) -> dict:
    """The invoice engine's layers, per traced op."""
    ops = max(1, ops)

    def get(name: str, key: str) -> float:
        return layers.get(name, {}).get(key, 0) / ops

    out = {
        "sources.dbapi.poll.self_s": (get("sources.dbapi.poll", "self_s"), "s"),
        "sources.dbapi.poll.rows": (get("sources.dbapi.poll", "rows"), "count"),
        "sources.dbapi.poll.calls": (get("sources.dbapi.poll", "calls"), "count"),
        "sources.dbapi.claim.self_s": (get("sources.dbapi.claim", "self_s"), "s"),
        "sources.dbapi.claim.rows": (get("sources.dbapi.claim", "rows"), "count"),
        "operators.request.plan_s": (get("operators.request", "self_s"), "s"),
        "operators.response.plan_s": (get("operators.response", "self_s"), "s"),
    }
    sinks = {
        "sinks.dbapi.write_invoice_records": ("self_s", "jobs", "tasks", "rows"),
        "sinks.dbapi.write_retry_emissions": ("self_s", "jobs", "rows_create", "rows_update",
                                              "rows_delete", "rows_max_retry"),
        "sinks.dbapi.write_log_and_delete": ("self_s", "jobs", "rows"),
        "packet_sink": ("self_s", "jobs", "packets", "bytes"),
    }
    names = {"jobs": "spark_jobs", "tasks": "spark_tasks"}
    for layer, keys in sinks.items():
        for k in keys:
            unit = {"self_s": "s", "bytes": "bytes"}.get(k, "count")
            out[f"{layer}.{names.get(k, k)}"] = (get(layer, k), unit)
    sink = layers.get("packet_sink", {})
    out["packet_sink.fill_ratio"] = (sink.get("fill", 0) / max(1, sink.get("packets", 0)), "ratio")
    roots = [sp for sp in tracer.spans if sp.parent is None]
    out["streaming.jobs.spark_jobs_per_op"] = (tracer.total_jobs() / ops, "count")
    out["streaming.jobs.unattributed_s"] = (sum(sp.self_s for sp in roots) / ops, "s")
    return out


def query_layers(layers: dict, ops: int) -> dict:
    """Per query of the slice: self time and Spark jobs per run of it; and
    suite-cache build seconds per traced op."""
    import workloads

    out = {}
    build_s = 0.0
    for q in workloads.ANALYTICS_QUERIES:
        agg = layers.get(f"plans.queries.{q}", {})
        calls = max(1, agg.get("calls", 0))
        out[f"plans.queries.{q}.self_s"] = (agg.get("self_s", 0) / calls, "s")
        out[f"plans.queries.{q}.spark_jobs"] = (agg.get("jobs", 0) / calls, "count")
        build_s += agg.get("suite_cache_build_s", 0)
    out["functions.suite_cache.build_s"] = (build_s / max(1, ops), "s")
    return out


def tracing_overhead(plain, traced) -> float:
    """Median, over op kinds run both ways, of the traced median op time
    minus the untraced one."""
    diffs = []
    for kind in sorted({r.kind for r in traced}):
        t = [r.seconds for r in traced if r.kind == kind]
        p = [r.seconds for r in plain if r.kind == kind]
        if p:
            diffs.append(statistics.median(t) - statistics.median(p))
    return statistics.median(diffs) if diffs else 0.0


class TracedSink:
    """Wraps the packet collector in a ``packet_sink`` span and counts what
    it received."""

    def __init__(self, sink, tracer, batch_size: int):
        self.sink, self.tracer, self.batch_size = sink, tracer, batch_size

    @property
    def rows(self):
        return self.sink.rows

    def __call__(self, df) -> None:
        with self.tracer.span("packet_sink") as sp:
            self.sink(df)
        items = sum(r["item_count"] for r in self.rows)
        sp.counts.update(packets=len(self.rows),
                         bytes=sum(len(r["packet_json"]) for r in self.rows),
                         fill=items / self.batch_size)


def measure_traced(spark, workload, seconds: float, plain: list, start: float):
    """Closed loop that alternates untraced and traced ops, so the tracing
    overhead is read off ops that ran under the same conditions.  Continues
    ``plain`` (the untraced ops run since ``start``) and uses the deadline
    rule of :func:`measure`."""
    import spans

    tracer = spans.Tracer(spark)
    sink, run = workload.sink, workload.run
    traced_sink = TracedSink(sink, tracer, workload.cfg.response_batch_size)
    counters = workload.counters()

    def traced_run(prepared):
        with tracer.span(workload.span_name(prepared)) as sp:
            run(prepared)
        sp.counts.update(workload.span_counts())
        tracer.op += 1

    plain, traced = list(plain), []
    t_end = start + seconds
    while not traced or time.perf_counter() + traced[-1].seconds <= t_end:
        if len(plain) == len(traced):
            plain.append(workload.op())
            continue
        workload.sink, workload.run = traced_sink, traced_run
        try:
            with spans.instrument(tracer, counters):
                traced.append(workload.op())
        finally:
            workload.sink, workload.run = sink, run
    return tracer, plain, traced


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one string-hash order in every run, for this process and the
        # Python workers it starts
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE_PACKAGE, "__init__.py")):
        print(f"perfbench: no {ENGINE_PACKAGE}/ in {root}; run from a source checkout",
              file=sys.stderr)
        return 2
    workdir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    prepare_environment(root, workdir)

    import workloads
    from flink_invoice_processor_spark.session import cpu_stat, steal_pct

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    rss = RssSampler()
    rss.start()
    t0 = time.perf_counter()
    spark = start_session(workdir)
    try:
        workload = workloads.WORKLOADS[args.workload](spark, workdir, args.seed)
        workload.build()
        warm, settled, start = warm_up(workload)
        setup_s = start - t0

        cpu0 = cpu_stat()
        tracer, traced = None, []
        if args.trace:
            tracer, results, traced = measure_traced(spark, workload, args.seconds,
                                                     settled, start)
        else:
            results = measure(workload, args.seconds, settled, start)
        steal = steal_pct(cpu0, cpu_stat()) or 0.0
        load = os.getloadavg()[0]
    finally:
        stop_session(spark)
        rss.stop()

    def times(ops):
        return [f"{r.seconds:.2f}s/{r.cpu_s:.1f}cpu_s" for r in ops]

    print(f"perfbench: warm-up ops {times(warm)}, measured ops {times(results)}, "
          f"steal {steal}%, load {load}", file=sys.stderr)
    shutil.rmtree(workdir, ignore_errors=True)
    with contextlib.suppress(OSError):  # other runs may share the parent
        os.rmdir(os.path.dirname(workdir))
    checked = warm + results + traced
    failed = [r for r in checked if not r.ok]
    for r in failed[:5]:
        print(f"perfbench: failed op: {r.error}", file=sys.stderr)
    if args.trace:
        path = os.path.join(root, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tracer.write(path)
        metrics = per_layer(workload, tracer, traced, results, steal, load)
    else:
        metrics = end_to_end(results, setup_s, rss.peak_kb / 1024)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(checked),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
