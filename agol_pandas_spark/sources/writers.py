"""Sinks: the mode-dispatching writer (the reference's public write API,
rebuilt distributed).

``save_dataframe`` is the engine's equivalent of the reference's
``df_to_agol_hosted_table`` + ``create_hosted_table_from_dataframe``
(``src/agol_pandas.py:314-475, 546-680``): one entry point, five modes,
create-if-absent, unique-key enforcement for merge modes, and a returned
**status DataFrame** (per-partition row counts and key ranges) replacing
the reference's driver-side result dicts (``:459-461, :621-634``).

Differences by design (SURVEY §2a bug list — not replicated):
- keyless chunked append works (reference NameError, ``:416-419``)
- constraint violations raise (reference silently ignored them,
  ``:410-412``)
- no driver-side chunk loop, no sleep-based throttling (``:616``):
  partitioning is the chunking, the cluster scheduler is the throttle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.operators.merge import WriteMode, write_table


def save_dataframe(
    catalog: Catalog,
    df: DataFrame,
    name: str,
    mode: str | WriteMode = WriteMode.APPEND,
    key: str | None = None,
) -> DataFrame:
    """Write ``df`` into catalog table ``name`` under ``mode``; create the
    table if absent. Returns the lineage/status DataFrame.

    Every write goes through :func:`write_table`, so it is staged and
    committed like any catalog write (manifest, commit id, atomic swap).
    """
    write_table(catalog, df, name, mode=mode, key=key)
    return write_status(catalog.table(name), key)


def write_status(result: DataFrame, key: str | None = None) -> DataFrame:
    """Per-partition lineage of a materialized table: partition id, row
    count, key min/max — one distributed aggregation (replaces the
    reference's sequential per-chunk dicts, ``src/agol_pandas.py:621-634``).
    """
    with_pid = result.withColumn("partition_id", F.spark_partition_id())
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if key is not None:
        aggs += [F.min(key).alias("key_min"), F.max(key).alias("key_max")]
    return with_pid.groupBy("partition_id").agg(*aggs).orderBy("partition_id")
