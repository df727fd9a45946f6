"""SparkSession factory.

One place for every engine-level knob so tests, bench, and the driver
entry point all run the same configuration. Mirrors the reference's
hand-placed execution settings with their Spark equivalents
(SURVEY.md §4): dask lazy graphs → Catalyst laziness, chunk tuning →
AQE, spill dir → spark.local.dir.

Python workers import this package from the driver's checkout:
`spark.executorEnv.PYTHONPATH` carries the package's parent directory,
so a job runs the same from any working directory (shared storage is
already assumed for `_weights/` and the COG directory). They run under
`worker_daemon` (`spark.python.daemon.module`), which stops every task
re-reading the `pyspark.zip` directory on Python < 3.13. Both are
static core confs: a session that existed before `get_spark` keeps
PySpark's own daemon, which is slower but gives the same answers.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "adcirctime2cogs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Defaults are sized for local[N] testing but every choice is the one
    we'd make on a 1000-executor cluster too: AQE for runtime re-planning
    (partition coalescing, skew-join splitting), Arrow for any
    Python<->JVM boundary, UTC session time so results are
    oracle-comparable, and shuffle partitions ~ cores locally
    (overridden by AQE advisory sizing at scale). Python workers get the
    package's parent directory on their PYTHONPATH (before any
    `spark.executorEnv.PYTHONPATH` in `extra_conf`) and run under
    `worker_daemon`; without the first, the daemon and every task that
    imports the package would fail outside the checkout.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    extra_conf = dict(extra_conf or {})
    pythonpath = os.pathsep.join(filter(None, (
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        extra_conf.pop("spark.executorEnv.PYTHONPATH", ""),
    )))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (the legacy default) carries no min/max statistics, so
        # every timestamp-filtered scan over engine-written parquet
        # would read every row group; TIMESTAMP_MICROS restores
        # stats-based row-group skipping (tests/test_plans.py pins it).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as int64 ns and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # static core confs, so not in the re-apply loop below
        .config("spark.python.daemon.module", "adcirctime2cogs_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate IGNORES every .config() when a session already
    # exists (a notebook or foreign fixture created one first) — and
    # the SQL confs here are load-bearing for correctness: non-UTC
    # session time or a missing nanosAsLong silently drifts results
    # from the UTC DuckDB oracles and misreads events.parquet. All of
    # them are runtime-settable SQL confs, so re-apply on the returned
    # session; static JVM confs (driver memory, master) can't change
    # post-hoc, but none of those affect answers.
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        **extra_conf,
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # STATIC confs (spark.ui.*, spark.memory.*, and the static
            # spark.sql.* ones like warehouse.dir) cannot be set on a
            # live session. On a FRESH session the builder above
            # already applied them, so the live value matches and the
            # failure is harmless noise; on a PRE-EXISTING session the
            # requested value was silently ignored — that must fail
            # loudly, or e.g. a "memory-starved" spill run would
            # proceed unstarved and report numbers that measured
            # nothing. The live-value check below covers both cases
            # uniformly, spark.sql.* included.
            try:
                live = spark.conf.get(k)
            except Exception:
                live = None
            if live != v:
                raise RuntimeError(
                    f"static conf {k}={v!r} could not be applied (live "
                    f"value {live!r}): a pre-existing SparkSession was "
                    "reused — stop it first or start a fresh process"
                ) from None
    spark.sparkContext.setLogLevel("WARN")
    return spark
