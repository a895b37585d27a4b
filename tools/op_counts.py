"""Per-op counts for the invoice engine's steady ops: wall and CPU time,
py4j commands, Spark jobs and Janino compilations.

It starts the session and builds the workload as ``perfbench/run.py``
does, with that script's ``prepare_environment``, ``start_session`` and
``warm_up`` and the workload classes of ``perfbench/workloads.py``.  Then
it runs ``--ops`` steady ops and prints one JSON line per op, then one
line of medians:

- ``wall_s``, ``cpu_s``: the op's wall time and the CPU time of the
  process tree, as perfbench measures them;
- ``py4j_commands``: commands the driver sent to the JVM while the
  engine ran the op (set-up and output checks excluded);
- ``spark_jobs``: jobs the op started;
- ``janino_compilations``: classes Spark's code generator compiled
  (``CodegenMetrics.METRIC_COMPILATION_TIME``'s count).  Generated code
  is cached by its source text, so a steady op that compiles anything
  generated code that differs from one op to the next.

    python3 tools/op_counts.py --workload response_drain --seed 71 --ops 5

Run it from the root of a source checkout.  It is a by-hand tool, not
part of the benchmark.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
FIELDS = ("wall_s", "cpu_s", "py4j_commands", "spark_jobs", "janino_compilations")
#: The engine workloads of ``perfbench/workloads.py``; ``retry_churn``
#: runs a request and a response op back to back.
WORKLOADS = ("request_ingest", "response_drain", "retry_churn")


class CommandCounter:
    """Counts the commands a py4j gateway client sends while the block
    runs, by wrapping the client's ``send_command`` on the instance (every
    py4j proxy calls it through the client it holds)."""

    def __init__(self, client):
        self.client = client
        self.count = 0

    def __enter__(self) -> CommandCounter:
        send = self.client.send_command

        def counted(*args, **kwargs):
            self.count += 1
            return send(*args, **kwargs)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        del self.client.send_command


def _perfbench_run():
    """``perfbench/run.py`` as a module; it puts ``perfbench/`` on the
    import path for ``workloads``, ``fixtures`` and ``proctree``."""
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(PERFBENCH, "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def counted_ops(spark, workload, n: int) -> list[dict]:
    """Run ``n`` ops of ``workload``, counting around its engine call."""
    from pyspark import SparkContext

    sc = spark.sparkContext
    client = SparkContext._gateway._gateway_client
    compilations = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    run, counts = workload.run, {}

    def counted_run(prepared):
        group = f"op-counts-{uuid.uuid4()}"
        compiled = compilations.getCount()
        sc.setJobGroup(group, workload.name)
        commands = CommandCounter(client)
        try:
            with commands:
                run(prepared)
        finally:  # an op that raises is counted too
            sc.setLocalProperty("spark.jobGroup.id", None)
            counts["py4j_commands"] = commands.count
            counts["janino_compilations"] = compilations.getCount() - compiled
            # the status tracker learns of jobs through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            counts["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))

    out = []
    workload.run = counted_run
    try:
        for i in range(n):
            counts.clear()
            r = workload.op()
            out.append({"op": i, "ok": r.ok, "wall_s": round(r.seconds, 3),
                        "cpu_s": round(r.cpu_s, 3), **counts})
    finally:
        workload.run = run
    return out


def medians(ops: list[dict]) -> dict:
    return {k: statistics.median(op[k] for op in ops) for k in FIELDS}


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ops", type=int, default=5, help="steady ops to count")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # the string-hash order perfbench runs with
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    bench = _perfbench_run()
    workdir = os.path.join(ROOT, ".perfbench", f"op-counts-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    bench.prepare_environment(ROOT, workdir)
    import workloads

    spark = bench.start_session(workdir)
    try:
        workload = workloads.WORKLOADS[args.workload](spark, workdir, args.seed)
        workload.build()
        bench.warm_up(workload)
        ops = counted_ops(spark, workload, args.ops)
    finally:
        bench.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):  # perfbench runs may share it
            os.rmdir(os.path.dirname(workdir))
    for op in ops:
        print(json.dumps({"workload": args.workload, **op}))
    print(json.dumps({"workload": args.workload, "ops": len(ops),
                      "failed": sum(not op["ok"] for op in ops), "median": medians(ops)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
