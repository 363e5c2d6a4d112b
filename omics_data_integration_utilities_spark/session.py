"""SparkSession factory and the one materialisation primitive.

Local testing runs one JVM with N threads; the configs below are the ones
that matter at cluster scale too (AQE for runtime re-planning and skew
joins, Arrow for every pandas_udf kernel, shuffle partitions sized to
parallelism instead of the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "omics-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``SPARK_GRAFT_CPUS`` mirrors the driver's bench environment; on a real
    cluster the same conf keys apply, only ``master`` changes.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", min(os.cpu_count() or 4, 32)))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.ts has shipped as both TIMESTAMP(NANOS) and
        # TIMESTAMP(MICROS) parquet; this makes the NANOS form readable
        # (as int64 nanos) and is a no-op for MICROS.  Every ts-consuming
        # query normalizes via streaming.events.ts_event_micros, which
        # dispatches on the resulting dtype.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("OMICS_SPARK_DRIVER_MEM", "8g"))
        # ContextCleaner is GC-driven: shuffle files, localCheckpoint
        # blocks and broadcasts from completed queries are only released
        # when the DRIVER JVM garbage-collects their handles.  A session
        # running hundreds of small queries accumulates that state for
        # the default 30min periodicGC interval and degrades ~2x
        # (measured r16: 8 reps of one query drift 4.5->8.7s; with a
        # 45s periodic GC they hold 3.6-4.9s).  Production sessions with
        # large driver heaps may prefer a larger interval — override via
        # OMICS_SPARK_PERIODIC_GC.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("OMICS_SPARK_PERIODIC_GC", "45s"),
        )
        # materialize's reliable checkpoints (a checkpoint dir set on the
        # SparkContext) are deleted once their RDD is garbage; without a
        # checkpoint dir this does nothing
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage — the package's one checkpoint primitive.

    With a checkpoint dir on the SparkContext (``sc.setCheckpointDir``,
    Spark's own deployment setting) this is a reliable ``checkpoint``,
    which survives executor loss and costs a write job per call; without
    one it is an executor-local ``localCheckpoint``.

    What a mark costs:

    - under AQE even a lazy mark runs the plan's shuffle-map stages at
      once, when it asks for the plan's RDD;
    - a lazy mark followed by the caller's own full-scan action is ONE
      job that computes, stores and answers.  A ``count`` or an
      aggregation scans every partition; ``isEmpty`` or a bare ``first``
      or ``limit`` does not, so those want ``eager=True``.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)
