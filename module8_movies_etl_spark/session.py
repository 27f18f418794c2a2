"""SparkSession factory.

One place to configure the engine's execution posture:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting)
  so plans tuned at local scale survive a 1000-executor cluster.
- UTC session timezone so results are comparable across engines
  (DuckDB oracle timestamps are UTC-naive).
- Arrow enabled for the pandas-UDF slow path.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the static number mostly irrelevant.

The reference has no notion of a session — it is a single-threaded
eager pandas script (SURVEY.md §3). Everything here is engine-side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Whole-stage codegen emits one compiled class per generated stage; a
# catalog-sized workload (40+ distinct query plans in one JVM) overflows
# the JVM's default ~240 MB reserved code cache, after which the JIT
# stops compiling and expression-heavy plans run interpreted (measured:
# 2-5x end-to-end slowdown on the dedup family once the cache fills —
# full-catalog bench 121 s -> 55 s with the larger cache). Must be set
# before the gateway JVM launches, hence SPARK_SUBMIT_OPTS, not conf.
_JVM_CODE_CACHE_OPTS = "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"


def _ensure_jvm_opts() -> None:
    """Append the code-cache JVM options to SPARK_SUBMIT_OPTS if the
    gateway JVM has not launched yet (no-op afterwards)."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:  # JVM already up; too late
        return
    cur = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if "ReservedCodeCacheSize" not in cur:
        os.environ["SPARK_SUBMIT_OPTS"] = f"{cur} {_JVM_CODE_CACHE_OPTS}".strip()


def _local_dir() -> str:
    """Shuffle-file location: $SPARK_GRAFT_LOCAL_DIR, else /dev/shm
    (RAM-backed) when present, else the system tmpdir."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm/spark-local"
    import tempfile

    return tempfile.gettempdir()


def cpu_count() -> int:
    """Worker-thread count: $SPARK_GRAFT_CPUS if set, else all cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "module8-movies-etl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode is a single JVM with N threads; on a cluster the same
    config holds — AQE and broadcast thresholds are the scale levers.
    """
    _ensure_jvm_opts()
    cores = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(DEFAULT_SHUFFLE_PARTITIONS, cores)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # 12g, deliberately NOT most-of-RAM: in local single-JVM mode a
        # huge G1 heap turns the allocation-heavy shuffle/agg stages
        # into multi-second GC pauses (measured 8-13× slowdowns on the
        # pair-join queries at 48g; GC time exceeded task runtime).
        # The working set at bench scale is well under 12g.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # STATIC conf: the whole-stage-codegen class cache holds 100
        # entries by default — a multi-hundred-query session (the
        # bench catalog, any long-lived analytics driver) generates
        # thousands of classes and thrashes it, re-compiling stages
        # that ran minutes ago (round-8 triage: bpe_learn_merges
        # 4.6 s warm-isolated vs 9.4-10.5 s late-catalog, same plan;
        # with 4096 entries every flagged mover returned to its
        # committed figure and the catalog total dropped 296->265 s).
        # The cache is a HEAP trade, not free: each entry pins its
        # generated source + classloader, and the 700-test pytest
        # session OOMed a 12 GB heap at 4096 (it runs thousands of
        # DISTINCT stages once each — a cache that large holds dead
        # classes it will never reuse). Default stays 1024 (10x
        # Spark's default, bounded heap); the bench/scale harnesses
        # pass 4096 via extra_conf because their 266-query loop
        # re-executes the same stages and has heap headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # Shuffle/spill files on RAM-backed storage when available:
        # local-mode shuffle volumes are small, and keeping them off
        # the (shared) data disk removes I/O-contention variance. A
        # cluster deployment overrides with its fast local disks
        # ($SPARK_GRAFT_LOCAL_DIR or spark.local.dir in extra_conf).
        .config("spark.local.dir", _local_dir())
        # With DataFrame debugging on (Spark's default), every wrapped
        # Column/DataFrame call first captures its Python call site:
        # extra Py4J round trips per call (the active-session lookup, a
        # conf read, setting and clearing the JVM-side origin), plus a
        # failed ``import ipykernel`` wherever IPython is installed
        # without it. Measured on the ETL benchmark's seed-41 inputs
        # (two runs a side): the first ``wiki_transform`` build made
        # 4,266-4,523 Py4J calls with it and 1,485-1,486 without, and
        # ``run_pipeline`` 7,242-7,305 and 3,222.
        # The cost: a runtime error's ``== DataFrame ==`` context names
        # a JVM frame instead of the caller's ``file:line``.
        # ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
        # "true"}`` turns it back on; PySpark reads the setting once
        # per process, from the session active at its first wrapped call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
