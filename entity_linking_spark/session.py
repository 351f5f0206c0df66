"""SparkSession factory with scale-oriented defaults.

Local-mode settings mirror what we would submit on a real cluster
(`spark-submit --py-files entity_linking_spark.zip ...`): AQE on with
skew-join splitting (the reference has no hot-key handling at all —
its ThreadPool chunks are uneven, see SURVEY.md §4), Arrow enabled for
pandas UDF batch transfer, and shuffle partitions sized to the
parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS = 10_000


def _default_heap() -> str:
    """Half of physical memory, capped at 48g: a heap past the host's
    memory lets the kernel OOM killer, not the JVM, end a run."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 48 * 1024)}m"


def get_spark(
    app_name: str = "entity-linking-spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this pipeline.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all
    local cores; shuffle partitions are the larger of
    ``DEFAULT_SHUFFLE_PARTITIONS`` and the cores. ``extra_conf`` entries
    are applied after these defaults, so they override them. On a real
    cluster the master/parallelism comes from spark-submit and this
    function only applies the SQL-level confs.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = max(DEFAULT_SHUFFLE_PARTITIONS, cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Spark 4 routes lower()/upper()/initcap() through ICU case
        # mappings by default; the FIRST such call per executor JVM
        # triggers CollationAwareUTF8String's class init, which
        # single-threadedly builds ICU case tables while every other
        # task blocks on the class-init monitor (measured: a 5k-row
        # lower() stage stalled 24 s wall at 0.3 s CPU — thread dump
        # showed 31 executor threads 'waiting on the Class
        # initialization monitor'). The legacy JVM mappings are
        # byte-identical on ASCII and differ from ICU only in
        # locale-edge case folds this pipeline never depends on (text
        # normalization is the frozen Python tokenizer, not JVM lower).
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # local mode: one JVM hosts all executor threads — heap must scale
        # with concurrent tasks or GC dominates (measured: 4x anti-scaling
        # at local[32] with an 8g heap). On a real cluster this maps to
        # spark.executor.memory per executor instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_heap())
        # default 1g killed a legitimate mid-size broadcast build at the
        # 10M-doc scale point; 4g gives dimension-table headroom while
        # still failing fast on a genuinely unbounded collect
        .config("spark.driver.maxResultSize", "4g")
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", ""),
        )
        # reliable checkpoints (cluster.connected_components with a
        # checkpoint_dir) are one-per-iteration edge snapshots; without
        # this flag Spark never deletes them and a long fixpoint
        # accumulates O(iterations) full copies on the distributed FS
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    # master override for multi-executor runs (e.g. local-cluster[4,1,12288]
    # — separate executor JVMs with real inter-executor shuffle); the
    # spark-submit analog is passing --master on the command line
    master_env = os.environ.get("SPARK_GRAFT_MASTER")
    if master_env:
        builder = builder.master(master_env)
    elif "spark.master" not in os.environ.get("SPARK_CONF", ""):
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # arbitrary conf pass-through for harness tools (JSON dict), applied
    # last so the launching process wins over defaults
    extra_env_conf = os.environ.get("SPARK_GRAFT_CONF")
    if extra_env_conf:
        import json

        for k, v in json.loads(extra_env_conf).items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Pre-fork the Python worker pool once per session (idempotent).

    The FIRST pandas-UDF stage of a session forks one Python worker per
    core and each import of pandas/pyarrow rides on the fork — measured
    as ~4 s of zero-CPU wall on whichever query happens to hit the
    boundary first (the per-query timings then charge a session-scoped
    infrastructure cost to an arbitrary operator). One trivial
    vectorized-UDF pass over <cores> rows at session build pays it
    up front; reused sessions skip via the marker conf, which is set
    even when the warm-up fails, so a failing warm-up is tried once per
    session, not once per get_spark call."""
    marker = "spark.entity_linking.workersWarmed"
    if spark.conf.get(marker, "") == "1":
        return
    try:
        from pyspark.sql.functions import col, pandas_udf

        n = spark.sparkContext.defaultParallelism

        @pandas_udf("long")
        def _echo(s):  # type: ignore[no-untyped-def]
            return s

        (
            spark.range(0, n, 1, n)
            .select(_echo(col("id")).alias("id"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:  # noqa: BLE001 — warmup is best-effort, never fatal
        pass
    finally:
        spark.conf.set(marker, "1")
