"""SparkSession builder with engine defaults.

The reference ran on Databricks and configured nothing explicitly (its
Spark conf was the platform's). The new engine pins the settings that
matter for both local correctness-testing and 1000-executor scale:

  * AQE on (runtime coalescing, skew-join splitting, dynamic join
    strategy switch) — the single biggest win at 100 TB where static
    statistics lie.
  * ``spark.sql.shuffle.partitions`` sized to the local core count; on a
    real cluster this is overridden to ~2-3x total cores (and AQE
    coalesces down).
  * Session time zone pinned to UTC so timestamp semantics are identical
    to the DuckDB oracle and independent of the host.
  * Arrow enabled for any pandas exchange (the slow-path UDFs).
  * The generated-code cache sized to hold a whole pass of queries
    (:data:`CODEGEN_CACHE_ENTRIES`): at Spark's default of 100 entries
    a steady-state batch pass recompiled every one of its generated
    classes, the largest fixed cost of a query at fixture scale.
  * Streaming checkpoints renamed through Hadoop's FileSystem API
    (:data:`CHECKPOINT_FILE_MANAGER`), not FileContext: on a local
    filesystem without libhadoop every FileContext rename forks a
    ``readlink`` process.
  * Python workers forked from a warm, frozen daemon
    (:data:`PYTHON_DAEMON_MODULE`): no per-task garbage-collector walk
    of the import-time heap and no per-task re-read of ``pyspark.zip``.

A session the caller built itself (the driver's) keeps Spark's defaults
for every setting made here; ``ensure_runtime_confs`` re-applies only
those that results depend on.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

#: ``spark.sql.codegen.cache.maxEntries``: how many compiled classes
#: Spark's generated-code cache keeps. Spark builds that cache as a
#: Guava cache of ``maximumSize`` entries split across 4 segments, each
#: evicting its least recently used entries once it holds a quarter of
#: the total. A working set near the cap therefore misses on almost
#: every lookup, and a miss pays a Janino compile, class loading,
#: interpreted runs of the new bytecode and a fresh JIT compile. One
#: pin_etl pass (the three cleans, every DataFrame pq entry, the
#: cleaned-table writes) generates 147 distinct sources (sf0.01,
#: local[4]); at the default cap of 100 each steady pass recompiled
#: 138 classes (``CodegenMetrics.METRIC_COMPILATION_TIME``), and at
#: this cap none. A sweep of the whole registry generates far more:
#: 4,453 distinct sources over the first 265 of its 316 entries at
#: sf0.01. No cap that still bounds the classes a long session retains
#: holds that sweep; 2000 holds a pass of related entries more than ten
#: times over (each segment keeps 500). It is a static conf, read once when the JVM
#: first generates code: a session the caller built itself (the
#: driver's) keeps whatever its JVM started with.
CODEGEN_CACHE_ENTRIES = 2000

#: ``spark.sql.streaming.checkpointFileManagerClass``. Spark's default
#: manager is FileContext-based, and renames each offset, commit, state
#: and sink-log file through ``AbstractFileSystem.renameInternal``, which
#: calls ``getFileLinkStatus``; on a local filesystem without libhadoop
#: Hadoop answers that by forking ``readlink``. One stream_ingest drain
#: pass (sf0.02, local[4]) forked 533 commands, 376 of them ``readlink``
#: on ``ckpt/{offsets,commits,sources,state}`` and
#: ``sink/_spark_metadata`` files; with this manager it forks none. The
#: other 157 are ``chmod``, which Hadoop also forks to set file modes
#: without libhadoop, under either manager. Both managers check that the
#: destination does not exist and then rename, and a ``file:`` rename is
#: atomic, so the exactly-once contract is unchanged. A cluster with
#: HDFS checkpoints keeps the FileContext default (PERF.md "100 TB
#: configuration deltas"); a caller-built session keeps the default too.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

#: ``spark.python.daemon.module``: the module the JVM runs as ``python
#: -m`` to fork Python workers (pyspark's default is ``pyspark.daemon``).
#: :mod:`.pyworker` imports what every worker needs, drops
#: ``pyspark.zip`` from the path when the interpreter's own pyspark is
#: the same version, and freezes the heap before the first fork. Both
#: halves remove a per-task cost: pyspark's daemon runs ``gc.collect()``
#: after every task of a reused worker, a walk of the ~73k import-time
#: objects (10-28 ms; ~0 frozen), and every task calls
#: ``importlib.invalidate_caches()``, which makes Python 3.11's
#: zipimporter re-read the zip's 1,328-entry directory (32-36 ms; 0.1 ms
#: without the zip). On a one-batch ``stateful_running_counts`` run over
#: 20,000 events with 4 state partitions (local[4], 4-vCPU host, later
#: runs of one session), Python-worker CPU fell from 0.40-0.45 to
#: 0.17-0.18 s with 10 keys (almost all per-task cost; 0.28 with only
#: the zip dropped, 0.33-0.34 with only the freeze) and from 1.00-1.04 to
#: 0.63-0.67 s with 1,500 keys; a session's first run, whose workers are
#: all new, fell from 1.61 to 0.46 s. Workers must be
#: able to import this package: :func:`build_session` puts its parent
#: directory on ``spark.executorEnv.PYTHONPATH`` (a worker that cannot
#: import the module fails every Python UDF). A caller-built session
#: keeps ``pyspark.daemon``.
PYTHON_DAEMON_MODULE = "pinterest_data_pipeline400_spark.pyworker"

#: The directory that holds this package, for the workers' PYTHONPATH.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_heap() -> str:
    """``spark.driver.memory`` for a local session: a quarter of the
    host's ``MemTotal``, within [2 GiB, 16 GiB]. In local mode the
    driver JVM is also the executor, so this is the engine's whole
    memory budget; the other three quarters stay with the Python
    workers, the page cache and whatever runs beside the JVM (the test
    suite's in-process DuckDB oracles). 16 GiB, reached on a 64 GiB
    host, held a full registry sweep at sf1 with the posting-join
    baselines in it, where 8 GiB ran out. ``perfbench`` computes the
    same figure for its ``-Xms``, so its heap starts at this size."""
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return f"{max(2048, min(16384, mem_kb // 1024 // 4))}m"


def build_session(
    app_name: str = "pinterest_data_pipeline400_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession with scale-aware defaults."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER
        )
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", driver_heap())
        .config("spark.ui.enabled", "false")
        # keep managed-table data and the embedded-Derby log out of the
        # process cwd (a caller-built session without these just writes
        # ./spark-warehouse + ./derby.log — harmless, but untidy)
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config(
            "spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/spark_graft_jdbc"
        )
        # Parquet pushdown is on by default; pin it so a conf drift can't
        # silently disable the scan-level filters the plans rely on.
        .config("spark.sql.parquet.filterPushdown", "true")
        # Local fixtures are single ~10-30 MB parquet files; the 128 MB
        # default would scan them in ONE task and serialize every
        # expression-heavy projection (md5 minhashing, parsing). 16 MB
        # mimics the multi-split parallelism a real cluster gets from
        # many files. On a production cluster leave this at default.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # NOTE on parquet TIMESTAMP(NANOS) (the driver's events.parquet):
        # Spark 4.x loads it as TIMESTAMP_NTZ truncated to micros (the
        # 3.x nanosAsLong escape hatch was removed and is silently
        # ignored if set). The engine normalizes the column per-dtype in
        # events_queries._with_event_ts rather than via session conf.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's generated-code cache has compiled in this JVM so
    far, one per cache miss (``CodegenMetrics.METRIC_COMPILATION_TIME``
    samples every compile)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


#: Runtime-settable SQL confs every query depends on for correctness —
#: applied defensively per query call because the DRIVER may hand us a
#: session it built itself (entry()/queries() contract), without this
#: module's builder defaults:
#:   * UTC session time zone: timestamp wall-clocks must match the
#:     DuckDB oracle regardless of host TZ (and makes the
#:     TIMESTAMP_NTZ→timestamp cast in events_queries lossless);
#:   * parquet filter pushdown pinned on (scan-level filters).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply the correctness-critical runtime confs to ANY session."""
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    # A foreign session usually carries the 200-partition default; size
    # shuffles (and, more importantly, streaming state stores, which pin
    # their partition count at first checkpoint) to the actual core
    # count. AQE coalesces batch shuffles anyway; state stores don't.
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )


#: Cap on the partition count of streaming STATE stores; the count a
#: query gets is ``min(cap, defaultParallelism)`` (see
#: :func:`scoped_state_partitions`). Batch shuffles want one partition
#: per core (AQE coalesces), but every state partition of a streaming
#: query carries fixed per-micro-batch overhead — a state-store commit,
#: checkpoint delta files, and (for applyInPandasWithState) a dedicated
#: Python worker with a state server. At local fixture scale that
#: overhead dominates: on local[32] the stateful-counts entry cost 3-8x
#: the wall clock with 32 state partitions as with 8. Below the cap,
#: more partitions than cores only add task waves: on local[4] (a
#: 4-vCPU host), 8 partitions ran each phase in two waves, and 4 (with
#: the key-only input of ``stateful_running_counts``) cut the stateful
#: counts entry from 16.9 to 9.2 CPU-s (medians of 10 paired runs). The
#: Python side of one state partition's task, on a one-batch
#: ``stateful_running_counts`` run over 20,000 events on local[4] (4
#: state partitions, later runs in one session): ~0.10-0.11 worker CPU-s
#: with 10 keys (almost all of it per-task cost) and ~0.25 with 1,500
#: keys from pyspark's own daemon; ~0.045 and ~0.16 from
#: :data:`PYTHON_DAEMON_MODULE`. On a real cluster, size the cap to
#: keyspace x executors via the env var instead.
STREAM_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)

#: Bound on ``awaitTermination`` for availableNow drains. Fixture-scale
#: file streams finish in seconds; a bounded fallback keeps one wedged
#: query from eating an entire harness budget (round 2 lost 32 entries
#: to exactly that). Override via env for genuinely large replays.
STREAM_DRAIN_TIMEOUT_SEC = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "60"))

#: One scratch root for every module that writes derived data: the
#: disk cache's generations (``cache.py``), format round trips and
#: streaming work dirs. A single definition: changing it (e.g. to
#: honor TMPDIR) cannot leave another module writing to the old
#: location.
SCRATCH_ROOT = os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/spark_graft_formats")


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily set ``spark.sql.shuffle.partitions`` (restored on
    exit). Streaming queries pin their state-store partition count from
    this conf at FIRST checkpoint creation — so wrap the
    ``writeStream.start()`` (and everything up to ``awaitTermination``)
    for queries with fresh checkpoints; batch plans built outside the
    scope are unaffected."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextmanager
def scoped_state_partitions(spark: SparkSession):
    """:func:`scoped_shuffle_partitions` at the state-partition count
    of a streaming query started inside it: one partition per core, at
    most :data:`STREAM_STATE_PARTITIONS`. A restart over an existing
    checkpoint keeps the count recorded in its offset log, whatever
    this scope sets."""
    n = min(STREAM_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    with scoped_shuffle_partitions(spark, n):
        yield

