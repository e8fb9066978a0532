"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime coalesce + skew-join), Arrow for pandas UDFs, UTC
session timezone (so DuckDB oracle comparisons agree), shuffle
partitions sized to cores rather than the 200 default.

When ``get_spark`` is the call that launches the driver JVM (no gateway in
this process, not under spark-submit), the JVM starts from a class-data
archive of Spark's jars, or writes that archive when it exits
(``jvm_archive``): a fresh process then starts its session in about half
the time.  The caller's Java options are kept; ``-Xshare:off`` in them
turns the archive off.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

from dirt_hadoop_similarity_spark import jvm_archive


def get_spark(
    app_name: str = "dirt_hadoop_similarity_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from $SPARK_GRAFT_CPUS (driver
    contract) or all cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark reads it
        # as long (nanos) — sources.tables.load_events converts to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    with jvm_archive.driver_java_options(extra_conf or {}) as java_options:
        if java_options:
            builder = builder.config(jvm_archive.JAVA_OPTIONS, java_options)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A DataFrame over driver-side rows (tuples in ``schema``'s column
    order), planned as a local relation.

    ``createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` pickled slices, so every read of the result is
    a Spark job with Python tasks.  An Arrow table smaller than
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation``: collecting it runs no job, and broadcasting it is
    a driver-side copy."""
    import pyarrow as pa

    names = DataType.fromDDL(schema).names
    table = pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)})
    return spark.createDataFrame(table, schema)


def require_fixed_offset_tz(spark: SparkSession | None = None) -> str:
    """Assert the session timezone has a CONSTANT utc offset (UTC/GMT or
    an explicit ±HH[:MM]) and return it.

    Naive-timestamp shims (plans.queries_more.ts_micros, the NTZ cast in
    streaming.events.normalize_event_ts) are only difference-/window-
    safe when the zone offset never changes; a DST zone would shift
    differences spanning a transition by the DST delta.  get_spark pins
    UTC — this check turns that silent dependency into a loud one at
    plan-build time for sessions built elsewhere."""
    import re

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return "UTC"
    # no default argument: RuntimeConfig.get(key, default) returns the
    # DEFAULT whenever the key is unset, which would mask the real zone
    # (unset resolves to the JVM zone id, e.g. 'Etc/UTC'); without one
    # the engine resolves the effective value
    tz = spark.conf.get("spark.sql.session.timeZone")
    fixed = tz in ("UTC", "GMT", "Z") or re.fullmatch(
        # explicit offsets with or without a colon (+05:30, +0530, -08,
        # GMT+2, UTC+05:30) and the fixed-offset region ids (Etc/UTC,
        # Etc/GMT, Etc/GMT±N — NOT DST-capable zones)
        r"(?:GMT|UTC)?[+-]\d{1,2}(?::?\d{2})?"
        r"|Etc/(?:UTC|GMT(?:[+-]\d{1,2})?)",
        tz,
    )
    if not fixed:
        raise ValueError(
            f"need a fixed-offset spark.sql.session.timeZone for naive-"
            f"timestamp arithmetic, got {tz!r} — set 'UTC' (the "
            f"session.get_spark default)"
        )
    return tz
