"""SparkSession factory.

Single place where engine-level tuning lives (SURVEY §4 conclusion: no
custom Catalyst rules are needed — the engine's optimizer posture is
"declare the plan, let Catalyst/AQE pick physical strategy").

Scale posture (100 TB north star): AQE on (runtime coalesce, skew-join
splitting, join-strategy switching), Arrow on (vectorized exchange for
the Pandas-UDF ports), UTC session timezone (deterministic timestamps),
shuffle partitions sized from the env instead of the 200 default.

Python workers run under ``worker_daemon``: every Python task starts
with ``importlib.invalidate_caches()``, which on CPython < 3.13 re-read
the directory of every zip archive on the worker's ``sys.path``
(pyspark.zip and the spark-core jar, ~100 ms a task); the daemon's
workers re-read an archive only when it changed (~0.1 ms a task).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_mem_from(meminfo_field: str) -> str | None:
    """Half of the host memory named by ``meminfo_field``, clamped to
    [4g, 24g] — the one place the heap-sizing policy lives.

    A fixed 24g default failed to launch the JVM on hosts with less
    than ~24 GiB; the clamp keeps the bench box at its measured-good
    24g while small machines still start. Sessions derive from
    ``MemAvailable`` (fit what the host can give right now);
    benchmark runs derive from ``MemTotal`` (stable run-to-run —
    see bench.py). Returns None where /proc/meminfo is unreadable.
    """
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(meminfo_field + ":"):
                    gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(4, min(24, gb // 2))}g"
    except (OSError, ValueError, IndexError):
        pass  # unreadable or malformed meminfo
    return None


def _default_driver_mem() -> str:
    return driver_mem_from("MemAvailable") or "4g"


def get_spark(
    app_name: str = "sbs_suptech_etl_v2_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``); on a real cluster the caller passes the cluster
    master / relies on spark-submit and this function only sets conf.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the advisory partition size instead of padding the
        # coalesce back up to default parallelism: Spark's own docs
        # recommend false in production clusters, and it is the single
        # biggest floor cut at small SF (32 near-empty post-shuffle
        # tasks per stage -> 1-2 right-sized ones; measured -15% on the
        # floor-dominated suite at sf0.1 with identical results)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS); Spark's vectorized
        # reader rejects it unless nanos are read as long (io.table
        # truncates to micros). Owned here so readers never mutate conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # external-call ports (OCR/LLM) run one request per row; keep
        # Arrow batches small there — set per-UDF via repartition, this
        # is the engine-wide default for analytic pandas_udfs
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # Python tasks skip re-reading unchanged zip archives (~100 ms a
        # task on CPython < 3.13, see worker_daemon); workers import the
        # package anyway, since kernels pickle its functions by reference
        .config("spark.python.daemon.module", "sbs_suptech_etl_v2_spark.worker_daemon")
        # local mode puts driver + executors in ONE JVM: the heap holds
        # every localCheckpoint block alive across a 121-query suite,
        # so 8g left the tail queries GC-bound. Default derives from
        # the HOST's available memory (half of MemAvailable, clamped
        # to [4g, 24g]) so the JVM still launches on small machines —
        # on the 128 GiB bench box this resolves to the measured-good
        # 24g. SPARK_GRAFT_DRIVER_MEM overrides; on a real cluster the
        # submit conf does.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
