"""SparkSession factory.

Local-mode defaults are tuned for the test harness (``local[N]``, AQE on,
UTC timezone so results hash-compare cleanly against DuckDB oracles).
On a real cluster the same builder is used with ``master`` left to
spark-submit and ``shuffle_partitions`` sized to the cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flink_invoice_processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE enabled: runtime shuffle-partition coalescing + skew-join
      handling, which is what makes a fixed ``shuffle_partitions``
      setting safe from sf0.001 up to cluster scale.
    - Arrow enabled: every pandas UDF / applyInPandas in this package
      rides Arrow batches.
    - UTC session timezone: timestamps must compare equal between Spark
      and DuckDB (which is UTC-naive).
    - DataFrame debugging off (``spark.python.sql.dataFrameDebugging
      .enabled=false``).  With it on, PySpark wraps every ``Column`` and
      ``DataFrame`` call to record its Python call site: an active-session
      lookup, a conf read, an ``inspect`` stack walk and a JVM origin set
      and clear, about five extra py4j round trips per call.  The
      response job's plan building makes about a thousand such calls per
      micro-batch: with the capture off, a perfbench ``response_drain``
      op sends about 2,300 py4j commands instead of 5,600.
      The price: Spark error messages no longer carry the Python
      file:line of the DataFrame call that built the failing expression.
      PySpark reads the setting once per process, from the first active
      session that asks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # the synthetic events table carries timestamp[ns]; read as long and
        # convert in tables.load_table (Spark rejects NANOS otherwise)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def calibration_probe(spark: SparkSession, reps: int = 5) -> dict:
    """Fixed-work host-speed probe for drift-normalizing cross-session
    timings (VERDICT r9 item 3: byte-identical code measured 178 s in one
    session and 235-239 s in another, so every cross-session ratio needed
    a paragraph of prose — this gives the mechanical denominator).

    Two synthetic aggregations, no I/O, fully deterministic:

    - ``probe_parallel_s``: sum of xxhash64 over ``range(2B)`` in 32
      partitions — one whole-stage-codegen'd map+agg per core; measures
      the parallel throughput the suite's scan/agg plans ride on.
    - ``probe_serial_s``: the same work over ``range(64M)`` in ONE
      partition — single-thread speed, which is what single-task tails
      (sorts' final merge, 1-row reductions) pay.

    Each is warmed once (JIT), then timed ``reps`` times and the MEDIAN
    reported, so one GC pause cannot own the number.  To compare run A to
    run B, divide their probe numbers: a suite ratio within the probe
    ratio is host drift, not a regression.  The probe is versioned by its
    work definition — changing the constants breaks comparability, so
    don't."""
    import statistics
    import time as _time

    from pyspark.sql import functions as F

    def _timed(build) -> float:
        # Two traps found while building this probe, both of which zeroed
        # the measured work: (a) count() over the 1-row aggregate lets
        # Catalyst eliminate the hash entirely (128M rows timed the same
        # as 32M) — collect() ships one row and forces the aggregation;
        # (b) re-collecting the SAME DataFrame skips the shuffle map
        # stage (its shuffle files persist per RDD lineage), so the
        # multi-partition probe re-ran only the final 32-row agg — a
        # FRESH DataFrame per repetition gets fresh RDDs and no skip.
        samples = []
        build().collect()  # warm: codegen + JIT
        for _ in range(reps):
            df = build()
            t0 = _time.perf_counter()
            df.collect()
            samples.append(_time.perf_counter() - t0)
        return round(statistics.median(samples), 4)

    def par():
        return spark.range(0, 2_000_000_000, 1, 32).select(
            F.sum(F.xxhash64("id") % 1_000_000).alias("h")
        )

    def ser():
        return spark.range(0, 64_000_000, 1, 1).select(
            F.sum(F.xxhash64("id") % 1_000_000).alias("h")
        )

    return {
        "probe_parallel_s": _timed(par),
        "probe_serial_s": _timed(ser),
        "probe_reps": reps,
        "probe_work": "sum(xxhash64%1e6) range2Bx32p / range64Mx1p",
    }


def mini_probe(spark: SparkSession) -> float:
    """One-shot light host-speed probe (~0.2 s): the calibration_probe's
    parallel work shape at 1/4 the rows, single repetition, no warmup.

    Purpose (r11 verdict item 2): the scaling harness embeds one of
    these BEFORE EVERY FAMILY so each family's measurement carries its
    own drift control — r11's run-to-run agreement collapsed to 28/68
    while the START-of-run probes agreed, i.e. the drift developed
    mid-run where a start probe can't see it.  Per-family normalization
    divides the family's seconds by its own probe, so a host slowdown
    that hits minute 17 of run A and minute 4 of run B cancels instead
    of reading as disagreement.

    Deliberately a SEPARATE function from ``calibration_probe`` — that
    probe's constants are versioned for cross-round comparability and
    must not change; this one is an intra-run relative signal only (it
    is meaningless to compare mini-probe values across hosts or to the
    big probe).  Same two traps apply: ``collect()`` (count() would let
    Catalyst eliminate the hash) on a FRESH DataFrame (re-collecting
    one DataFrame skips its shuffle map stage)."""
    import time as _time

    from pyspark.sql import functions as F

    df = spark.range(0, 500_000_000, 1, 32).select(
        F.sum(F.xxhash64("id") % 1_000_000).alias("h")
    )
    t0 = _time.perf_counter()
    df.collect()
    return round(_time.perf_counter() - t0, 4)


def cpu_stat() -> dict[str, int] | None:
    """Snapshot the aggregate ``cpu`` line of ``/proc/stat`` (jiffies since
    boot, per mode).  Returns None on hosts without procfs.

    Purpose (VERDICT r13 item 1): this sandbox's hypervisor neighbors
    steal 2-40% of user CPU under sustained load, invisibly to the
    start-of-run calibration probe (short probe bursts get cycles easily;
    a 5-minute 32-core demand does not).  Bracketing a measured region
    with two snapshots and reading the steal delta is the only mechanical
    way found to tell host contention from code regressions — r13's
    headline "47% slower" took a forensic 8-core control run to dismiss;
    a steal bracket would have dismissed it in one line."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    names = ("user", "nice", "system", "idle", "iowait",
                             "irq", "softirq", "steal", "guest",
                             "guest_nice")
                    vals = [int(x) for x in line.split()[1:]]
                    return dict(zip(names, vals))
    except OSError:
        return None
    return None


def steal_pct(before: dict[str, int] | None,
              after: dict[str, int] | None) -> float | None:
    """Steal as a percentage of USER time consumed between two
    ``cpu_stat`` snapshots (the round-13 hand-bracket methodology, kept
    byte-compatible so numbers compare to the r13 notes: run 2 = 2.6%,
    run 3 = 21.4%, discarded run 4 = 38.6%).  A few percent is a quiet
    host; >10% means totals are inflated by neighbors and regressions
    read from that run are not trustworthy."""
    if not before or not after:
        return None
    du = after["user"] - before["user"]
    ds = after["steal"] - before["steal"]
    if du <= 0:
        return None
    return round(100.0 * ds / du, 1)


def drain_block_store(spark: SparkSession, timeout_s: float = 30.0) -> int:
    """Deterministically release dead cached/localCheckpoint RDD blocks.

    A dropped DataFrame's blocks are freed by a three-stage async chain:
    Python refcount → py4j detach of the JVM Dataset → a JVM GC cycle that
    lets ContextCleaner's weak-ref queue see the RDD → async block
    removal.  One ``System.gc()`` is NOT enough — the detach lands after
    the first GC, so the RDD object only becomes collectable on the NEXT
    cycle (measured: a pagerank+simhash pipeline leaves ~700 MB of
    checkpoint blocks alive through a single gc + 12 s wait).  Loop
    gc/System.gc until the block store reports empty (or ``timeout_s``).

    Long-lived sessions interleaving heavy pipelines (the bench's
    cold/warm double pass, notebook sessions) call this between phases so
    storage memory for the next phase isn't full of dead blocks —
    eviction/GC thrash measured a 65% slowdown on the first big persist
    of the next phase.  Returns the number of still-stored RDDs (0 on
    full drain)."""
    import gc
    import time as _time

    sc = spark.sparkContext
    deadline = _time.monotonic() + timeout_s
    while True:
        gc.collect()
        sc._jvm.System.gc()
        _time.sleep(1.0)
        n = len(sc._jsc.sc().getRDDStorageInfo())
        if n == 0 or _time.monotonic() > deadline:
            return n
