"""SparkSession factory with engine-wide defaults.

The reference normalizes every datetime column to UTC on the driver
(``src/agol_pandas.py:86-119``); this engine gets the same invariant for
free by pinning ``spark.sql.session.timeZone=UTC`` session-wide, so every
timestamp that enters through any source is interpreted and emitted in UTC.

Scale posture: AQE on (runtime join-strategy switching + skew-join
splitting), partition coalescing on, Arrow exchange on (every
pandas-interop path is vectorized). ``spark.sql.shuffle.partitions``
defaults to the local core count for tests; on a real cluster callers pass
``shuffle_partitions`` sized to executors × cores (AQE coalesces down, so
oversizing is safe — undersizing is not).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))


def get_spark(
    app_name: str = "agol_pandas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults.

    Defaults are chosen for correctness-at-scale, not just local runs:
    UTC session time zone (reference semantics, ``src/agol_pandas.py:86-119``),
    AQE with skew handling, Arrow-based pandas exchange.
    """
    master = master or f"local[{_DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or int(_DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # push MIN/MAX/COUNT of unfiltered scans to parquet footer stats
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # parquet TIMESTAMP(NANOS) is read as long-nanos and converted to
        # µs timestamps by the catalog (Spark has no ns timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # tz-less parquet TIMESTAMP(MICROS/MILLIS) reads as TimestampType
        # (UTC instant), never TIMESTAMP_NTZ — the engine-wide UTC invariant
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark, rows, schema):
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``'s field
    order) as an Arrow-backed local relation.

    ``spark.createDataFrame(rows, schema)`` turns a Python list into a
    pickled Python RDD, so every task over it needs a Python worker (a
    cold worker daemon costs about a second). Here the rows become one
    ``pa.Table`` that the JVM decodes into a ``LocalRelation``: no job, no
    worker. Values convert through each Spark type's own ``toInternal``
    first, so a naive ``datetime`` means what it means on the list path
    (process-local time) and the frame collects the same rows. An empty
    ``rows`` gives an empty frame.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = [
        pa.array(
            [f.dataType.toInternal(v) for v in col]
            if f.dataType.needConversion() else list(col),
            type=af.type,
        )
        for f, af, col in zip(schema.fields, arrow_schema, cols)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )


def release_session_blocks(spark) -> None:
    """Release every cached block the engine may have left in the
    session: the SQL cache, the rank operators' bounded FIFO of
    persisted intermediates, and any remaining persisted RDDs —
    including ``localCheckpoint`` blocks, which queries create for
    lineage cuts and never reuse across calls.

    Call between queries in any LONG-LIVED session that runs many
    engine queries back to back (dashboards, sweeps, notebook
    marathons): each individual query's footprint is bounded, but
    without a release the SUM of all previous queries' checkpoint
    blocks squats on executor memory — a 291-query sweep OOM'd a
    default-sized driver exactly this way (r6). Releasing is always
    safe: a released plan recomputes, it never breaks.
    """
    spark.catalog.clearCache()
    try:
        from agol_pandas_spark.operators.ranks import release_persisted

        release_persisted()
    except Exception:
        pass
    try:
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()
    except Exception:
        pass
