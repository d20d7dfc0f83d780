"""SparkSession factory.

Functional rebuild of the reference's session management
(``utils/spark_utils.py:13-81`` in the reference): Kryo, sane shuffle
sizing — minus the Delta extension (our lake layer is format-agnostic,
see ``sources/lake.py``) and minus AQE (below),
plus Arrow (our custom logic is vectorized pandas UDFs only, never
row-at-a-time Python) and a pinned UTC session timezone so results are
comparable against external oracles (DuckDB is UTC-naive).

Plans run interpreted by default: whole-stage codegen and the expression
codegen factories are off. The relay's epochs are small (per-operator
inputs of <= 10^4 rows per epoch), so Spark's fixed per-plan cost sets
the epoch floor, and Janino compilation is the largest part of it: with
codegen on, one ``sparse_tail`` perfbench ingest pass (5 epochs of 64
events plus their SCD2 batches, 4-core host) ran 1,141 compilations
costing 7.6 s of a 21.6 s replay, about 228 generated classes per epoch
against Spark's generated-class cache of 100 entries. Interpreted, the
same pass compiles 7 classes (0.1 s) and replays in 14.5 s; the dense
``dense_backfill`` pass goes from 404 compilations (4.6 s, 19.3 s
replay) to 2 (0.1 s, 16.5 s). Larger inputs pay for their compile:
on the same host, ``bench.py``'s replay of 831,679 events in 4 epochs
took 39.5 s interpreted against 35.3 s compiled (1 epoch: 14.9 s
against 13.2 s), and its eleven sf0.1 headline queries 7.2 s against
5.1 s. A job with epochs that large restores codegen with the settings
in :data:`CODEGEN_CONF`: in code through ``extra_conf``, or at launch
with ``spark-submit --conf`` (or ``spark-defaults.conf``), which these
defaults do not override.

Adaptive query execution is off by default, and the engine never turns
it on or off later: every thread that plans a relay job (the relay, its
bronze/silver overlap pool, the background gold flush, SCD2 and the
background compaction) plans under the one SQLConf fixed here. The
relay's plans have fixed shapes (explicit bucket repartitions, explicit
broadcasts, a shuffle width of one task wave), so AQE's stage-by-stage
re-planning is a fixed per-plan cost with little to save. Measured on a
4-core host, perfbench ``sparse_tail``, two alternating pairs: leaving
AQE on with the relay's old per-epoch toggle and shuffle narrowing
removed (relying on AQE coalescing instead) lost both pairs, 27.7 -> 23.9
events/s, epoch commit p50 1.76 -> 2.26 s, gold lag p50 4.58 -> 5.19 s.
The 11 headline catalog queries at sf0.01, interpreted, ran 5.19 s with
AQE on against 4.43 s off. At sf0.1 with codegen on, AQE pays instead
(10.21 s on against 11.52 s off), so a session that runs large analytic
queries restores it with ``{"spark.sql.adaptive.enabled": "true"}``:
through ``extra_conf``, ``spark-submit --conf``, or ``spark.conf.set``
around the analytic work, outside any running relay (``bench.py`` does
the last around its headline queries).

Cores and driver heap default to what the host offers
(:func:`host_sizing`); ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``
override them.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Interpreted plan evaluation, the session default (module docstring).
# Both are internal Spark settings.
INTERPRETED_CONF = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}
# Spark's own defaults for the same two settings: generated code back on.
CODEGEN_CONF = {
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.codegen.factoryMode": "FALLBACK",
}
# The plan settings get_spark decides once, at session build: interpreted
# evaluation, and AQE off (module docstring). Nothing in the engine
# writes SQLConf after that.
PLAN_CONF = {**INTERPRETED_CONF, "spark.sql.adaptive.enabled": "false"}
# Heap ceiling on large hosts (the default before it was host-sized).
MAX_DRIVER_MEM_MB = 24 * 1024


def host_sizing(nproc: int, meminfo: str) -> tuple[int, str]:
    """Session defaults for a host: ``(local cores, driver heap)``.

    ``nproc`` is the number of CPUs this process may run on and
    ``meminfo`` the text of ``/proc/meminfo``. The heap is half of
    ``MemTotal``, capped at 24g: the rest of RAM is left to the Python
    driver, Arrow buffers and the page cache, since a host without swap
    kills a process that oversubscribes it. Without a ``MemTotal`` line
    the heap is the cap."""
    total_kb = next(
        (int(line.split()[1]) for line in meminfo.splitlines()
         if line.startswith("MemTotal:")),
        None,
    )
    heap_mb = MAX_DRIVER_MEM_MB if total_kb is None else min(
        MAX_DRIVER_MEM_MB, total_kb // 2048
    )
    return max(nproc, 1), f"{heap_mb}m"


def default_host_sizing() -> tuple[int, str]:
    """:func:`host_sizing` for the host this process runs on."""
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:  # no CPU affinity API on this platform
        nproc = os.cpu_count() or 4
    try:
        with open("/proc/meminfo") as fh:
            meminfo = fh.read()
    except OSError:
        meminfo = ""
    return host_sizing(nproc, meminfo)


def get_spark(
    app_name: str = "transcripts-cdc-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-oriented defaults.

    ``shuffle_partitions`` defaults to the local core count: on a real
    cluster this would be ~2-3x total cores; the benchmark harness pins
    it explicitly per parallelism level so the N-vs-4N scaling run is
    apples-to-apples (BASELINE.md protocol).

    ``extra_conf`` is applied last, so it overrides every default here,
    interpreted evaluation and AQE included (see the module docstring).
    The :data:`PLAN_CONF` settings are also left alone when the JVM was
    launched with them (``spark-submit --conf``, ``spark-defaults.conf``).
    """
    host_cpus, host_heap = default_host_sizing()
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', host_cpus)}]"
    cores = _core_count(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for the (few) pandas UDFs; never row-at-a-time.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Deterministic cross-engine comparison (DuckDB oracle).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Scan split size: at production scale (files ~hundreds of MB)
        # the Spark default 128m is right; locally our bucket files are a
        # few MB and 128m bin-packs a whole table into one task,
        # serializing scans — so default small here, overridable.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16777216"),
        )
        # The manifest hands Spark EXACT leaf-file lists — there is no
        # directory tree to discover — yet above this threshold Spark
        # launches a whole listing JOB per read (InMemoryFileIndex
        # parallel discovery), ~0.2-0.3 s of serial driver+scheduler
        # time per table read; per-epoch that throttles the sparse-floor
        # regime and the N->4N scaling efficiency. Keep listing inline.
        # (Deployments on high-latency object stores that read
        # thousands-of-file tables per scan may lower it back.)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_DISCOVERY_THRESHOLD", "65536"),
        )
        # Dynamic-partitioned writes: stream rows to one open writer per
        # partition value instead of sorting every task's rows by the
        # partition column first (spark.sql.maxConcurrentOutputFileWriters
        # > 0 skips FileFormatWriter's required-ordering sort until a task
        # exceeds the writer cap). Two effects on the relay hot path:
        # every partitioned commit drops a full per-task sort, and the
        # fused dedup-in-write stages no longer hold TWO full-partition
        # sorters alive at once (window sort + writer sort) — the peak
        # that could exhaust execution memory under concurrent
        # overlap/flush jobs. Tasks see at most a handful of bucket/month
        # values post-exchange, far under the cap; pathological writers
        # fall back to the sort automatically.
        .config(
            "spark.sql.maxConcurrentOutputFileWriters",
            os.environ.get("SPARK_GRAFT_CONCURRENT_WRITERS", "64"),
        )
        # Fat-row sort/window tasks need execution-memory headroom once
        # ingest, derived flushes and compaction overlap: half of the RAM
        # /proc/meminfo reports, capped at 24g (host_sizing).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", host_heap)
        )
        .config("spark.ui.enabled", "false")
    )
    # Interpreted evaluation: at <= 10^4 rows per operator per epoch,
    # compiling generated code costs more than it saves (1,141 Janino
    # compiles, 7.6 s, per sparse_tail ingest pass with codegen on; 7
    # compiles, 0.1 s, without). AQE off: with the relay's fixed plan
    # shapes, leaving it on cost sparse_tail 14% of its events/s and
    # 0.5 s of epoch commit p50 (module docstring). A setting the JVM
    # was launched with wins, and extra_conf, applied after, overrides
    # both. These settings seed the SparkContext conf when the context
    # starts, so sessions cloned by newSession() inherit them too.
    launched = _launch_conf()
    for key, value in PLAN_CONF.items():
        if launched is None or not launched.contains(key):
            builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def _launch_conf() -> SparkConf | None:
    """The ``spark.*`` settings of the JVM this driver runs on, or None
    while there is none yet. Under ``spark-submit`` the JVM comes first,
    holding the ``--conf`` and ``spark-defaults.conf`` values as system
    properties; a plain ``python`` driver starts it from the builder."""
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf()


def _core_count(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 4
        try:
            return int(inner)
        except ValueError:
            return 4
    return os.cpu_count() or 4
