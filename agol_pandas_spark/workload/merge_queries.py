"""Merge-mode queries — the reference's five write modes, oracle-checked.

Each query derives a deterministic delta from ``customer`` itself (per
FIXTURES.md §B ``customer_delta``): rows with ``c_custkey % 3 == 0`` are
the "update half" (acctbal bumped, segment rewritten), plus an "insert
half" of fresh keys (``c_custkey + 1_000_000``). The query applies the
engine's join-rewrite merge (``operators/merge.py``) and returns the full
post-merge table; the oracle reproduces the reference semantics
(``src/agol_pandas.py:388-413``) in pure SQL.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.operators.merge import merge
from agol_pandas_spark.workload import register

# Delta definition, shared by Spark and SQL sides.
_DELTA_SQL = """
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 1000.0 AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey,
             'new_' || c_name AS c_name,
             c_nationkey,
             c_acctbal * 0.5 AS c_acctbal,
             'INSERTED' AS c_mktsegment
      FROM customer WHERE c_custkey % 3 = 1
"""


def _delta(cust: DataFrame) -> DataFrame:
    updates = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    inserts = cust.filter(F.col("c_custkey") % 3 == 1).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") * 0.5).alias("c_acctbal"),
        F.lit("INSERTED").alias("c_mktsegment"),
    )
    return updates.unionByName(inserts)


def _merged(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    cust = Catalog(spark, sf_dir).table("customer")
    return merge(cust, _delta(cust), mode=mode, key="c_custkey")


@register(
    "merge_append",
    tags=("merge",),
    oracle=f"""
    SELECT * FROM customer
    UNION ALL
    SELECT * FROM ({_DELTA_SQL})
    """,
)
def merge_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merged(spark, sf_dir, "append")


@register(
    "merge_overwrite",
    tags=("merge",),
    oracle=f"SELECT * FROM ({_DELTA_SQL})",
)
def merge_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merged(spark, sf_dir, "overwrite")


@register(
    "merge_upsert",
    headline=True,
    tags=("merge",),
    oracle=f"""
    WITH delta AS ({_DELTA_SQL})
    SELECT COALESCE(d.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_name ELSE c.c_name END AS c_name,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_nationkey ELSE c.c_nationkey END AS c_nationkey,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_acctbal ELSE c.c_acctbal END AS c_acctbal,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_mktsegment ELSE c.c_mktsegment END AS c_mktsegment
    FROM customer c FULL OUTER JOIN delta d ON c.c_custkey = d.c_custkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merged(spark, sf_dir, "upsert")


@register(
    "merge_update",
    tags=("merge",),
    oracle=f"""
    WITH delta AS ({_DELTA_SQL})
    SELECT c.c_custkey,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_name ELSE c.c_name END AS c_name,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_nationkey ELSE c.c_nationkey END AS c_nationkey,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_acctbal ELSE c.c_acctbal END AS c_acctbal,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_mktsegment ELSE c.c_mktsegment END AS c_mktsegment
    FROM customer c LEFT JOIN delta d ON c.c_custkey = d.c_custkey
    """,
)
def merge_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merged(spark, sf_dir, "update")


@register(
    "merge_insert",
    tags=("merge",),
    oracle=f"""
    WITH delta AS ({_DELTA_SQL})
    SELECT * FROM customer
    UNION ALL
    SELECT d.* FROM delta d ANTI JOIN customer c ON d.c_custkey = c.c_custkey
    """,
)
def merge_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _merged(spark, sf_dir, "insert")


@register(
    "merge_chunk_lineage",
    tags=("merge", "chunking"),
    oracle="""
    WITH numbered AS (
      SELECT c_custkey,
             ROW_NUMBER() OVER (ORDER BY c_custkey) AS rn
      FROM customer)
    SELECT CAST(FLOOR((rn - 1) / 40) AS INTEGER) AS chunk_id,
           COUNT(*) AS n_rows,
           MIN(c_custkey) AS key_min,
           MAX(c_custkey) AS key_max
    FROM numbered GROUP BY chunk_id ORDER BY chunk_id
    """,
)
def merge_chunk_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sorted chunking + per-chunk lineage (reference
    ``df_to_pandas_chunks`` ``:159-216`` + lineage dicts ``:621-634``)."""
    from agol_pandas_spark.operators.chunking import partition_lineage, with_chunk_id

    cust = Catalog(spark, sf_dir).table("customer")
    chunked = with_chunk_id(cust, chunk_size=40, keys=("c_custkey",))
    return partition_lineage(chunked, key="c_custkey")


@register(
    "merge_snapshot_diff",
    tags=("merge", "cdc", "diff"),
    oracle="""
    WITH delta AS (
      SELECT c_custkey, c_name,
             CAST(round(c_acctbal * 100 + 1000000) AS BIGINT) / 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'new_customer_' || CAST(c_custkey AS VARCHAR),
             c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
    ),
    oldt AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
    newt AS (
      SELECT c_custkey,
             COALESCE(d.c_name, o.c_name) AS c_name,
             COALESCE(d.c_acctbal, o.c_acctbal) AS c_acctbal
      FROM oldt o FULL OUTER JOIN delta d USING (c_custkey)
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'inserted'
                WHEN n.c_custkey IS NULL THEN 'deleted'
                WHEN o.c_name IS DISTINCT FROM n.c_name
                  OR o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'updated'
                ELSE 'unchanged' END AS change_type
    FROM oldt o FULL OUTER JOIN newt n ON o.c_custkey = n.c_custkey
    """,
)
def merge_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recover a delta from two snapshots (the inverse of applying one):
    upsert a synthetic delta onto customer, then diff old vs new — every
    delta row must classify as updated/inserted, everything else
    unchanged."""
    from agol_pandas_spark.operators.merge import merge, snapshot_diff

    cust = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    delta = _diff_delta(cust)
    new = merge(cust, delta, "upsert", key="c_custkey")
    return snapshot_diff(cust, new, key="c_custkey")


def _diff_delta(cust: DataFrame) -> DataFrame:
    bumped = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            "c_name",
            (
                F.round(F.col("c_acctbal") * 100 + 1000000).cast("long") / 100.0
            ).alias("c_acctbal"),
        )
    )
    fresh = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.concat(F.lit("new_customer_"), F.col("c_custkey").cast("string")).alias(
                "c_name"
            ),
            "c_acctbal",
        )
    )
    return bumped.unionByName(fresh)


@register(
    "merge_scd2_history",
    tags=("merge", "scd2", "dimension", "history"),
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versioned AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS ver
      FROM ordered),
    runs AS (
      SELECT user_id, ver, event_type,
             MIN(ts) AS vf, COUNT(*) AS n_events
      FROM versioned GROUP BY user_id, ver, event_type)
    SELECT user_id, event_type,
           epoch_us(vf) AS valid_from_us,
           epoch_us(LEAD(vf) OVER (PARTITION BY user_id ORDER BY ver))
               AS valid_to_us,
           n_events,
           LEAD(vf) OVER (PARTITION BY user_id ORDER BY ver) IS NULL
               AS is_current
    FROM runs
    """,
)
def merge_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (``operators/merge.py:scd2_history``):
    each user's event-type change log collapses to versioned rows with
    ``[valid_from, valid_to)`` ranges and an ``is_current`` flag — the
    history the reference's last-write-wins upsert destroys. Versions,
    ranges, event counts, and currency flags are all value-checked.
    """
    from agol_pandas_spark.operators.merge import scd2_history

    ev = Catalog(spark, sf_dir).table("events")
    hist = scd2_history(
        ev, key="user_id", ts_col="ts", tracked="event_type",
        tie_breakers=[F.col("event_id")],
    )
    return hist.select(
        "user_id",
        "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "n_events",
        "is_current",
    )


@register(
    "merge_compact_roundtrip",
    tags=("merge", "compaction", "small-files"),
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS price_scaled
    FROM orders GROUP BY o_orderstatus
    """,
)
def merge_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (``Catalog.compact``): a table fragmented
    into many files by chunked appends is rewritten into size-targeted
    files through the same atomic two-phase commit as every write; the
    oracle proves row-identity. At scale the file-listing and per-file
    open costs dominate fragmented reads long before data volume does —
    compaction is the maintenance op that keeps scan parallelism matched
    to bytes, not to historical append patterns.
    """
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="compact_")
    cat = Catalog(spark, root)
    orders = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # fragment: 40 files via repartition, then compact to ~1
    cat.write(orders.repartition(40), "frag", mode="error")
    import os

    n_before = sum(
        1 for f in os.listdir(cat.path("frag")) if f.endswith(".parquet")
    )
    cat.compact("frag")
    n_after = sum(
        1 for f in os.listdir(cat.path("frag")) if f.endswith(".parquet")
    )
    if n_after >= n_before:  # explicit raise: survives python -O
        raise RuntimeError(f"compaction did not reduce files: {n_before}->{n_after}")
    out = (
        cat.table("frag")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_checksum"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "price_scaled"
            ),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "merge_apply_cdc_log",
    tags=("merge", "cdc", "delete"),
    oracle="""
    WITH tgt AS (
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer),
    chg AS (
      SELECT o_custkey AS c_custkey,
             CASE WHEN o_custkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
             o_orderkey AS seq,
             CAST(round(o_totalprice * 100) AS BIGINT) AS bal_cents
      FROM orders),
    latest AS (
      SELECT c_custkey, op, bal_cents FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                     ORDER BY seq DESC) AS rn
        FROM chg) WHERE rn = 1),
    kept AS (
      SELECT t.c_custkey, t.bal_cents
      FROM tgt t LEFT JOIN latest l ON t.c_custkey = l.c_custkey
      WHERE l.c_custkey IS NULL)
    SELECT c_custkey, bal_cents FROM kept
    UNION ALL
    SELECT c_custkey, bal_cents FROM latest WHERE op <> 'D'
    """,
)
def merge_apply_cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY CHANGES with deletes: a change log derived from orders
    (highest order key per customer wins; customers ending in 0 get
    tombstones) applied to the customer balance table — the delete
    semantics the reference's five write modes cannot express."""
    from agol_pandas_spark.operators.merge import apply_changes

    cat = Catalog(spark, sf_dir)
    tgt = cat.table("customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    chg = cat.table("orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.when(F.col("o_custkey") % 10 == 0, "D").otherwise("U").alias("op"),
        F.col("o_orderkey").alias("seq"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("bal_cents"),
    )
    return apply_changes(tgt, chg, key="c_custkey", seq_col="seq")


@register(
    "merge_incremental_agg",
    tags=("merge", "incremental", "materialized-view"),
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY month
    """,
)
def merge_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the standing
    monthly-revenue aggregate (built from the 'already ingested' 80% of
    orders) is updated with a delta batch by MERGING PARTIAL AGGREGATES —
    sum/count are mergeable, so the refresh never rescans history. The
    oracle recomputes from scratch over all orders; equality proves
    incremental == full. At 100 TB this is the difference between a
    per-batch shuffle over the delta and a daily full-table pass.
    """
    cat = Catalog(spark, sf_dir)
    orders = cat.table("orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )

    def partial(df):
        return df.groupBy("month").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )

    standing = partial(orders.filter(F.col("o_orderkey") % 5 != 0))
    delta = partial(orders.filter(F.col("o_orderkey") % 5 == 0))
    return (
        standing.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
        )
    )


@register(
    "merge_dynamic_partition_overwrite",
    tags=("merge", "partitioned", "dynamic-overwrite"),
    oracle="""
    WITH base AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
    SELECT month, COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN month = '1995-03' THEN cents + 1 ELSE cents END)
               AS BIGINT) AS total_cents
    FROM base GROUP BY month
    """,
)
def merge_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — restate ONE partition of a
    partitioned table without touching the rest: the full corpus lands
    partitioned by month, then a corrected 1995-03 batch (every price
    +1 cent) overwrites in ``partitionOverwriteMode=dynamic``, which
    replaces only the partitions present in the batch. The read-back
    totals prove 1995-03 changed and every other month survived — the
    surgical-restatement write a 100 TB table needs (a full-table
    overwrite for a one-month fix rewrites 100 TB; this rewrites one
    partition)."""
    import tempfile

    orders = Catalog(spark, sf_dir).table("orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="dyn_overwrite_") + "/orders_by_month"
    orders.write.partitionBy("month").mode("overwrite").parquet(path)
    restated = orders.filter(F.col("month") == "1995-03").withColumn(
        "cents", F.col("cents") + 1
    )
    (
        restated.write.partitionBy("month")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )


@register(
    "merge_time_travel_diff",
    tags=("merge", "versioning", "time-travel", "cdc"),
    oracle="""
    WITH v1 AS (
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer),
    v2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0
                  THEN CAST(round(c_acctbal * 100) AS BIGINT) + 500
                  ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS bal
      FROM customer WHERE c_custkey % 7 <> 0),
    d AS (
      SELECT CASE WHEN o.c_custkey IS NULL THEN 'inserted'
                  WHEN n.c_custkey IS NULL THEN 'deleted'
                  WHEN o.bal IS DISTINCT FROM n.bal THEN 'updated'
                  ELSE 'unchanged' END AS change_type
      FROM v1 o FULL OUTER JOIN v2 n ON o.c_custkey = n.c_custkey)
    SELECT change_type, COUNT(*) AS n FROM d GROUP BY change_type
    """,
)
def merge_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel feeding CDC extraction: snapshot v1 is archived by a
    versioned overwrite (``Catalog.write(keep_versions)``), v2 drops every
    7th customer and bumps every 3rd's balance; ``snapshot_diff`` over
    ``table_at(v1)`` vs the current table recovers the exact
    inserted/deleted/updated/unchanged census — the audit a mutable table
    cannot answer after the fact and a versioned one can."""
    import tempfile

    from agol_pandas_spark.operators.merge import snapshot_diff

    base = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    v2 = base.filter(F.col("c_custkey") % 7 != 0).withColumn(
        "bal",
        F.when(F.col("c_custkey") % 3 == 0, F.col("bal") + 500).otherwise(
            F.col("bal")
        ),
    )
    cat = Catalog(spark, tempfile.mkdtemp(prefix="timetravel_"))
    cat.write(base, "cust")
    cat.write(v2, "cust", mode="overwrite", keep_versions=1)
    v1_archived = cat.table_at("cust", cat.versions("cust")[-1])
    diff = snapshot_diff(v1_archived, cat.table("cust"), key="c_custkey")
    return diff.groupBy("change_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "merge_delete_keys",
    tags=("merge", "delete", "write-mode"),
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer
    WHERE c_custkey NOT IN (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderstatus = 'F')
    """,
)
def merge_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sixth write mode, beyond the reference's five: keyed DELETE
    (lakehouse ``DELETE WHERE key IN source``) as a single anti-join
    that reads only the source's key column and passes the target
    schema through untouched. Deletes every customer with a finalized
    order; value-checked against NOT IN."""
    from agol_pandas_spark.operators.merge import merge

    cat = Catalog(spark, sf_dir)
    customers = cat.table("customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    finalized = (
        cat.table("orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return merge(customers, finalized, mode="delete", key="c_custkey")


@register(
    "merge_zorder_optimize",
    tags=("merge", "layout", "zorder", "optimize"),
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS price_scaled
    FROM orders GROUP BY o_orderstatus
    """,
)
def merge_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER OPTIMIZE roundtrip (``Catalog.optimize_zorder``): the
    orders copy is rewritten clustered by the Morton interleave of
    (o_custkey, o_totalprice) through the same atomic two-phase commit as
    every write; the oracle proves row-identity and the in-query
    assertion proves the layout actually changed (footer min/max spans
    per file shrink on both dimensions — the property that lets a range
    predicate on EITHER column skip most row groups at 100 TB;
    tests/test_zorder_layout.py measures the pruning win directly).
    """
    import glob
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    root = tempfile.mkdtemp(prefix="zorder_")
    cat = Catalog(spark, root)
    orders = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    cat.write(
        orders.repartitionByRange(16, "o_orderkey")
        .sortWithinPartitions("o_orderkey"),
        "z",
        mode="error",
    )

    def mean_custkey_span(path: str) -> float:
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            idx = {
                meta.row_group(0).column(i).path_in_schema: i
                for i in range(meta.num_columns)
            }
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx["o_custkey"]).statistics
                spans.append(st.max - st.min)
        return sum(spans) / len(spans)

    before = mean_custkey_span(cat.path("z"))
    cat.optimize_zorder("z", ["o_custkey", "o_totalprice"], num_files=16)
    after = mean_custkey_span(cat.path("z"))
    # orderkey-ordered files stripe the full custkey range; z files tile
    # it (explicit raise: survives python -O, unlike a bare assert)
    if after * 2 >= before:
        raise RuntimeError(
            f"z-order did not tighten custkey spans: {before} -> {after}"
        )
    out = (
        cat.table("z")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "price_scaled"
            ),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "merge_pruned_upsert",
    headline=True,
    tags=("merge", "prune", "copy-on-write"),
    oracle="""
    WITH bounds AS (
      SELECT MIN(c_custkey) AS lo,
             MIN(c_custkey) + (MAX(c_custkey) - MIN(c_custkey)) * 0.05
                 AS upd_hi,
             MIN(c_custkey) + (MAX(c_custkey) - MIN(c_custkey)) * 0.025
                 AS ins_hi
      FROM customer
    ),
    delta AS (
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 1000.0 AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM customer, bounds WHERE c_custkey <= upd_hi
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey,
             'new_' || c_name AS c_name,
             c_nationkey,
             c_acctbal * 0.5 AS c_acctbal,
             'INSERTED' AS c_mktsegment
      FROM customer, bounds WHERE c_custkey <= ins_hi
    )
    SELECT COALESCE(d.c_custkey, c.c_custkey) AS c_custkey,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_name ELSE c.c_name END AS c_name,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_nationkey ELSE c.c_nationkey END AS c_nationkey,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_acctbal ELSE c.c_acctbal END AS c_acctbal,
           CASE WHEN d.c_custkey IS NOT NULL THEN d.c_mktsegment ELSE c.c_mktsegment END AS c_mktsegment
    FROM customer c FULL OUTER JOIN delta d ON c.c_custkey = d.c_custkey
    """,
)
def merge_pruned_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-pruned copy-on-write upsert (VERDICT r5 item 2,
    ``operators/merge.merge_pruned``): the customer copy is laid out
    range-partitioned on the key, a delta confined to low keys is
    upserted through the pruned path, and the oracle — the SAME full
    outer join SQL that checks the unpruned ``merge_upsert`` — proves the
    merged contents are identical. The in-query raise proves the pruning
    actually happened: most files carried into the new snapshot by
    reference (hard link, zero copy), only the span-intersecting files
    rewritten. At 100 TB this is the difference between an upsert
    costing O(dirty files) and O(table).
    """
    import shutil
    import tempfile

    from agol_pandas_spark.operators.merge import merge_pruned

    root = tempfile.mkdtemp(prefix="pruned_")
    cat = Catalog(spark, root)
    cust = Catalog(spark, sf_dir).table("customer")
    cat.write(
        cust.repartitionByRange(8, "c_custkey")
        .sortWithinPartitions("c_custkey"),
        "c",
        mode="error",
    )
    stats = merge_pruned(cat, _narrow_low_key_delta(cust), "c",
                         mode="upsert", key="c_custkey")
    if not (stats["pruned"] and 0 < stats["files_rewritten"] < stats["files_total"]):
        raise RuntimeError(f"pruning did not engage: {stats}")
    out = cat.table("c").localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


def _narrow_low_key_delta(cust: DataFrame) -> DataFrame:
    """Delta confined to the lowest 5% of the key span (updates) + fresh
    high keys (inserts) — the CDC shape whose dirty file set is a small
    fraction of the table at every scale factor. The two threshold
    scalars are the only driver-side state."""
    lo, hi = cust.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    upd_hi = lo + (hi - lo) * 0.05
    ins_hi = lo + (hi - lo) * 0.025
    updates = cust.filter(F.col("c_custkey") <= upd_hi).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    inserts = cust.filter(F.col("c_custkey") <= ins_hi).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") * 0.5).alias("c_acctbal"),
        F.lit("INSERTED").alias("c_mktsegment"),
    )
    return updates.unionByName(inserts)


@register(
    "merge_tombstone_soft_delete",
    tags=("merge", "delete", "tombstone", "lakehouse"),
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 10 <> 0
    GROUP BY o_orderstatus
    """,
)
def merge_tombstone_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft delete via tombstone sidecar (Catalog.soft_delete_keys): 10%%
    of order keys are deleted WITHOUT rewriting a single data file — the
    query raises in-plan if any data file's inode or mtime changed — and
    the live view anti-joins the broadcast tombstone set at read time.
    The oracle recomputes the surviving rows directly; the deferred
    rewrite (apply_tombstones) is lifecycle-tested in
    tests/test_catalog_writers.py."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="tombstone_")
    cat = Catalog(spark, root)
    orders = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cat.write(orders.repartition(8), "orders", mode="error")

    def file_state():
        return {
            f: (os.stat(f).st_ino, os.stat(f).st_mtime_ns)
            for f in cat.data_files("orders")
        }

    before = file_state()
    doomed = cat.table("orders").filter(
        F.col("o_orderkey") % 10 == 0
    ).select("o_orderkey")
    cat.soft_delete_keys("orders", doomed)
    after = file_state()
    if before != after:  # explicit raise: survives python -O
        raise RuntimeError(
            "soft delete rewrote data files — tombstones must be a sidecar"
        )
    out = (
        cat.table_live("orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_checksum"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "merge_surrogate_keys",
    tags=("merge", "identity", "ranks"),
    oracle="""
    WITH dim AS (
      SELECT 'customer' AS src, c_custkey AS nk,
             ROW_NUMBER() OVER (ORDER BY c_custkey) AS sk
      FROM customer),
    batch AS (
      SELECT 'supplier' AS src, s_suppkey AS nk,
             (SELECT COUNT(*) FROM customer)
               + ROW_NUMBER() OVER (ORDER BY s_suppkey) AS sk
      FROM supplier),
    uni AS (SELECT * FROM dim UNION ALL SELECT * FROM batch)
    SELECT src, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(sk) AS BIGINT) AS min_sk,
           CAST(MAX(sk) AS BIGINT) AS max_sk,
           CAST(SUM(sk) AS BIGINT) AS sk_checksum,
           CAST(SUM(nk * sk) AS BIGINT) AS pair_checksum
    FROM uni GROUP BY src
    """,
)
def merge_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse identity columns without sequences: the customer
    dimension gets dense surrogate keys 1..n via the distributed rank
    operator, then a supplier ingest batch continues the sequence from
    max(sk) (1-row broadcast) — dense, deterministic under any
    partitioning, contiguous across batches. The census pins density
    (min/max/sum) and the exact key-to-row assignment (nk·sk
    checksum)."""
    from agol_pandas_spark.operators.merge import assign_surrogate_keys

    cat = Catalog(spark, sf_dir)
    cust = cat.table("customer").select(
        F.lit("customer").alias("src"), F.col("c_custkey").alias("nk")
    )
    dim = assign_surrogate_keys(cust, order_by=["nk"])
    supp = cat.table("supplier").select(
        F.lit("supplier").alias("src"), F.col("s_suppkey").alias("nk")
    )
    batch = assign_surrogate_keys(supp, order_by=["nk"], existing=dim)
    uni = dim.unionByName(batch)
    return uni.groupBy("src").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("sk").cast("long").alias("min_sk"),
        F.max("sk").cast("long").alias("max_sk"),
        F.sum("sk").cast("long").alias("sk_checksum"),
        F.sum(F.col("nk") * F.col("sk")).cast("long").alias("pair_checksum"),
    )


@register(
    "merge_incremental_join_view",
    tags=("merge", "incremental", "view-maintenance"),
    oracle="""
    SELECT o.o_orderpriority, c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderpriority, c.c_mktsegment
    """,
)
def merge_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (``operators/views.refresh_join_view``): the orders⋈customer view is
    derived once from the pre-1997 fact history, then a year's batch of
    new orders arrives and the refresh joins ONLY the delta — every
    pre-existing view file carries into the new snapshot by hard-link
    reference (the in-query raise proves inode survival: zero bytes of
    old view re-read or re-written). The oracle derives the whole view
    from scratch and aggregates it — identical contents is the entire
    point of the maintenance identity V' = V ∪ (Δfact ⋈ dim).
    """
    import os
    import shutil
    import tempfile

    from agol_pandas_spark.operators.views import refresh_join_view

    src = Catalog(spark, sf_dir)
    orders = src.table("orders")
    cust = src.table("customer").select("c_custkey", "c_mktsegment")
    cutoff = F.lit("1997-01-01").cast("date")
    cols = ["o_orderkey", "o_orderpriority", "o_totalprice", "c_mktsegment"]

    root = tempfile.mkdtemp(prefix="ivm_")
    cat = Catalog(spark, root)
    initial = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(*cols)
    )
    cat.write(initial, "view", mode="error")
    before = {
        os.path.basename(p): os.stat(p).st_ino for p in cat.data_files("view")
    }

    delta = orders.filter(F.col("o_orderdate") >= cutoff)
    stats = refresh_join_view(
        cat, "view", delta, F.broadcast(cust),
        delta.o_custkey == cust.c_custkey,
    )
    after = {
        os.path.basename(p): os.stat(p).st_ino for p in cat.data_files("view")
    }
    carried = {b: i for b, i in after.items() if b in before}
    if carried != before or stats["files_total"] <= stats["files_carried"]:
        raise RuntimeError(
            f"carryover broke: {len(carried)}/{len(before)} files survived, "
            f"stats {stats}"
        )
    out = (
        cat.table("view")
        .groupBy("o_orderpriority", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "merge_write_audit_publish",
    tags=("merge", "wap", "quality-gate"),
    oracle="""
    WITH delta AS (
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 100.0 AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 10 = 3)
    SELECT c.c_custkey, c.c_name, c.c_nationkey,
           CASE WHEN d.c_custkey IS NOT NULL
                THEN d.c_acctbal ELSE c.c_acctbal END AS c_acctbal,
           c.c_mktsegment
    FROM customer c LEFT JOIN delta d ON c.c_custkey = d.c_custkey
    """,
)
def merge_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (``operators/views.write_audit_publish_branch``):
    upserts stage to an audit branch, the audit validates the FULL
    post-merge table (not just the incoming rows), and only a passing
    branch publishes — by rename, never a second write. Two batches run:
    a poisoned one (absurd balances) whose audit REJECTS it — the
    in-query raise proves the published table's files are untouched,
    byte-for-byte — then a clean +100.00 adjustment that passes and
    publishes. The oracle replays only the clean batch's upsert, which
    is exactly what a correct WAP gate must leave behind.
    """
    import os
    import shutil
    import tempfile

    from agol_pandas_spark.errors import ConstraintViolationError
    from agol_pandas_spark.operators.views import write_audit_publish_branch

    src = Catalog(spark, sf_dir)
    cust = src.table("customer")
    root = tempfile.mkdtemp(prefix="wap_")
    cat = Catalog(spark, root)
    cat.write(cust, "c", mode="error")
    audits = {"bal_sane": "c_acctbal BETWEEN -100000 AND 100000"}
    before = {
        os.path.basename(p): (os.stat(p).st_ino, os.stat(p).st_mtime_ns)
        for p in cat.data_files("c")
    }

    tenth = F.col("c_custkey") % 10 == 3
    bad = cust.filter(tenth).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(10_000_000.0)
    )
    rejected = False
    try:
        write_audit_publish_branch(cat, "c", bad, audits, mode="upsert", key="c_custkey")
    except ConstraintViolationError:
        rejected = True
    after_fail = {
        os.path.basename(p): (os.stat(p).st_ino, os.stat(p).st_mtime_ns)
        for p in cat.data_files("c")
    }
    if not rejected or after_fail != before or cat.exists("c__audit"):
        raise RuntimeError("audit gate leaked: rejected write touched the table")

    good = cust.filter(tenth).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
    )
    write_audit_publish_branch(cat, "c", good, audits, mode="upsert", key="c_custkey")
    out = cat.table("c").localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "merge_selective_compaction",
    tags=("merge", "compaction", "carryover", "small-files"),
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS price_scaled
    FROM orders GROUP BY o_orderstatus
    """,
)
def merge_selective_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECTIVE small-files compaction
    (``Catalog.compact_selective``): a snapshot holding one
    well-sized historical file plus 30 micro-append fragments rewrites
    ONLY the fragments; the big file carries into the new snapshot by
    hard link — its inode must survive (raised on in-query), because a
    selective OPTIMIZE that silently rewrites everything is just slow
    OPTIMIZE. File count collapses 31 → 2 and the oracle proves
    row-identity against the source table. At 100 TB this is the
    difference between compaction costing O(daily fragments) and
    O(table).
    """
    root = tempfile.mkdtemp(prefix="selcompact_")
    cat = Catalog(spark, root)
    orders = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    big = orders.filter(F.col("o_orderkey") % 10 != 0).coalesce(1)
    frags = orders.filter(F.col("o_orderkey") % 10 == 0).repartition(30)
    cat.write(big.unionByName(frags), "mixed", mode="error")

    p = cat.path("mixed")
    files = sorted(
        (os.path.getsize(os.path.join(p, f)), f)
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
    n_before = len(files)
    big_file = files[-1][1]
    big_inode = os.stat(os.path.join(p, big_file)).st_ino
    threshold = files[-1][0]  # strictly-under-the-big-file cutoff

    stats = cat.compact_selective("mixed", min_file_bytes=threshold)
    survivors = [f for f in os.listdir(p) if f.endswith(".parquet")]
    if stats["rewritten"] != n_before - 1 or stats["carried"] != 1:
        raise RuntimeError(f"unexpected selective-compaction stats: {stats}")
    if len(survivors) != 2:
        raise RuntimeError(
            f"expected 2 files after selective compaction, got {len(survivors)}"
        )
    if os.stat(os.path.join(p, big_file)).st_ino != big_inode:
        raise RuntimeError(
            "well-sized file was rewritten — selective compaction must "
            "carry it by reference"
        )

    out = (
        cat.table("mixed")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("price_scaled"),
        )
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "merge_rendezvous_rebalance",
    tags=("sharding", "consistent-hashing", "layout"),
    oracle="""
    WITH keys AS (SELECT o_orderkey AS k FROM orders),
    s8 AS (
      SELECT k, s AS shard8 FROM (
        SELECT k, s,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY h DESC, s DESC) AS rn
        FROM (
          SELECT k, s,
                 CAST(('0x' || substring(md5('shard' || CAST(k AS VARCHAR)
                        || '#' || CAST(s AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM keys, unnest([0,1,2,3,4,5,6,7]) AS u(s)))
      WHERE rn = 1),
    s9 AS (
      SELECT k, s AS shard9 FROM (
        SELECT k, s,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY h DESC, s DESC) AS rn
        FROM (
          SELECT k, s,
                 CAST(('0x' || substring(md5('shard' || CAST(k AS VARCHAR)
                        || '#' || CAST(s AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM keys, unnest([0,1,2,3,4,5,6,7,8]) AS u(s)))
      WHERE rn = 1)
    SELECT CAST(s9.shard9 AS INTEGER) AS new_shard,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN s8.shard8 <> s9.shard9 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved
    FROM s8 JOIN s9 ON s8.k = s9.k
    GROUP BY 1
    """,
)
def merge_rendezvous_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hashing shard rebalance
    (``operators/chunking.rendezvous_shard``): order keys assigned to
    8 and then 9 shards by highest-random-weight hashing; the per-shard
    census counts how many keys moved. Rendezvous hashing's defining
    property — only ~1/9 of keys relocate when a shard is added, vs
    ~8/9 under mod-K — is asserted IN-PLAN (a raise, so a broken hash
    scheme cannot return plausible-looking counts), and every
    assignment is value-checked against the SQL twin. Keys only, K-way
    integer explode: the payload never moves until the plan says so.
    """
    from agol_pandas_spark.operators.chunking import rendezvous_shard

    keys = Catalog(spark, sf_dir).table("orders").select(
        F.col("o_orderkey").alias("k")
    )
    s8 = rendezvous_shard(keys, "k", 8)
    s9 = rendezvous_shard(keys, "k", 9)
    joined = s8.join(s9, "k")
    out = joined.groupBy(
        F.col("shard_9").cast("int").alias("new_shard")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(
            F.when(F.col("shard_8") != F.col("shard_9"), 1).otherwise(0)
        ).cast("long").alias("n_moved"),
    )
    totals = out.agg(F.sum("n_keys").alias("t"), F.sum("n_moved").alias("m")).first()
    if totals["m"] * 4 > totals["t"]:  # expected ~1/9; raise if > 1/4
        raise RuntimeError(
            f"rendezvous rebalance moved {totals['m']}/{totals['t']} keys — "
            "minimal-movement property violated"
        )
    return out


@register(
    "merge_tag_pinned_snapshot",
    tags=("merge", "tags", "time-travel", "governance"),
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS balance_scaled
    FROM customer GROUP BY c_mktsegment
    """,
)
def merge_tag_pinned_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Immutable named tags (``Catalog.tag_snapshot``/``table_at_tag``):
    the 'this exact data trained model X' pin. A table is tagged, then
    mutated by an upsert AND compacted — the tag must still read the
    ORIGINAL contents (value-checked against the source), share bytes
    with nothing it doesn't own (hard links, raised on if the tag copy
    re-wrote data), and survive while the live table moved on (raised
    on if live == tag after the merge). Tags are immutable: re-tagging
    raises.
    """
    from agol_pandas_spark.errors import TableExistsError
    from agol_pandas_spark.operators.merge import write_table

    root = tempfile.mkdtemp(prefix="tags_")
    cat = Catalog(spark, root)
    cust = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    cat.write(cust, "c", mode="error")
    n_files_before = sum(
        1 for f in os.listdir(cat.path("c")) if f.endswith(".parquet")
    )
    cat.tag_snapshot("c", "model-x-train")
    try:
        cat.tag_snapshot("c", "model-x-train")
        raise RuntimeError("re-tagging must raise")
    except TableExistsError:
        pass
    # mutate the live table: shift every balance by +1 cent
    delta = cust.withColumn("c_acctbal", F.col("c_acctbal") + 0.01)
    write_table(cat, delta, "c", mode="upsert", key="c_custkey")
    cat.compact("c")

    tag_dir = cat._tag_path("c", "model-x-train")
    n_tag_files = sum(1 for f in os.listdir(tag_dir) if f.endswith(".parquet"))
    if n_tag_files != n_files_before:
        raise RuntimeError("tag must pin the original snapshot's files")
    live_sum = cat.table("c").agg(
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
    ).first()[0]
    tag_sum = cat.table_at_tag("c", "model-x-train").agg(
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
    ).first()[0]
    if live_sum == tag_sum:
        raise RuntimeError("live table must have moved past the tag")

    out = (
        cat.table_at_tag("c", "model-x-train")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("balance_scaled"),
        )
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "merge_wap_gated_publish",
    tags=("merge", "wap", "governance"),
    oracle="""
    WITH delta AS (
      SELECT c_custkey,
             c_acctbal + 1000.0 AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 3 = 0)
    SELECT COALESCE(d.c_mktsegment, c.c_mktsegment) AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(
             COALESCE(d.c_acctbal, c.c_acctbal) * 100) AS BIGINT))
             AS BIGINT) AS balance_scaled
    FROM customer c LEFT JOIN delta d USING (c_custkey)
    GROUP BY 1
    """,
)
def merge_wap_gated_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (``operators/merge.write_audit_publish``):
    the audit gate sits BETWEEN the two phases of the catalog's atomic
    commit and evaluates against the staged post-merge bytes. Acted out
    both ways: a poisoned batch (NULL market segments) stages, fails
    the ``c_mktsegment IS NOT NULL`` audit (CHECK polarity), and is PROVEN to leave the live
    table byte-untouched (raised on if contents moved); the clean batch
    then publishes through the same gate. Value-checked: the published
    contents against a SQL-derived expected upsert.
    """
    from agol_pandas_spark.errors import AuditFailedError
    from agol_pandas_spark.operators.merge import write_audit_publish

    root = tempfile.mkdtemp(prefix="wap_")
    cat = Catalog(spark, root)
    cust = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    cat.write(cust, "c", mode="error")

    poisoned = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),
    )
    audits = {
        "segment_present": "c_mktsegment IS NOT NULL",
        "priced": "c_acctbal IS NOT NULL",
    }
    before = cat.table("c").agg(
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
    ).first()[0]
    try:
        write_audit_publish(cat, poisoned, "c", "upsert", "c_custkey", audits)
        raise RuntimeError("poisoned batch must fail the WAP audit")
    except AuditFailedError as ex:
        if "segment_present" not in ex.violations:
            raise RuntimeError(f"wrong audit fired: {ex.violations}")
    after = cat.table("c").agg(
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
    ).first()[0]
    if before != after:
        raise RuntimeError("failed audit must leave the live table untouched")

    clean = poisoned.withColumn("c_mktsegment", F.lit("UPDATED"))
    write_audit_publish(cat, clean, "c", "upsert", "c_custkey", audits)

    out = (
        cat.table("c")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("balance_scaled"),
        )
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "merge_branch_fork_publish",
    tags=("merge", "branch", "governance"),
    oracle="""
    WITH delta AS (
      SELECT c_custkey, c_acctbal * 2.0 AS c_acctbal,
             'BRANCHED' AS c_mktsegment
      FROM customer WHERE c_custkey % 5 = 0)
    SELECT COALESCE(d.c_mktsegment, c.c_mktsegment) AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(
             COALESCE(d.c_acctbal, c.c_acctbal) * 100) AS BIGINT))
             AS BIGINT) AS balance_scaled
    FROM customer c LEFT JOIN delta d USING (c_custkey)
    GROUP BY 1
    """,
)
def merge_branch_fork_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Git-for-data branches (``Catalog.branch_table`` /
    ``publish_branch``): fork the live table as a WRITABLE hard-link
    branch (O(files) metadata, zero bytes copied — proven by inode
    identity), run a risky reprocessing upsert ON THE BRANCH while the
    parent is proven byte-untouched, then fast-forward-publish — one
    atomic swap of hard links, so publish cost is independent of table
    size. The parent's two-phase commit is what makes the fork safe:
    every mutation lands in a fresh directory, so shared inodes never
    see a write. Value-checked: published contents vs the SQL-derived
    expected upsert.
    """
    from agol_pandas_spark.operators.merge import write_table

    root = tempfile.mkdtemp(prefix="branch_")
    cat = Catalog(spark, root)
    cust = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    cat.write(cust, "c", mode="error")
    main_inodes = {os.stat(f).st_ino for f in cat.data_files("c")}

    bname = cat.branch_table("c", "reproc")
    branch_inodes = {os.stat(f).st_ino for f in cat.data_files(bname)}
    if branch_inodes != main_inodes:
        raise RuntimeError("branch must fork by hard link, not copy")

    before = cat.table("c").agg(
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
    ).first()[0]
    delta = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") * 2.0).alias("c_acctbal"),
        F.lit("BRANCHED").alias("c_mktsegment"),
    )
    write_table(cat, delta, bname, mode="upsert", key="c_custkey")
    after = cat.table("c").agg(
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
    ).first()[0]
    if before != after:
        raise RuntimeError("branch write must not touch the parent")
    if {os.stat(f).st_ino for f in cat.data_files("c")} != main_inodes:
        raise RuntimeError("parent inodes must survive branch mutation")

    cat.publish_branch("c", "reproc")
    out = (
        cat.table("c")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("balance_scaled"),
        )
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "merge_occ_conflict_retry",
    tags=("merge", "concurrency", "governance"),
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round((c_acctbal + 11.0) * 100) AS BIGINT))
                AS BIGINT) AS balance_scaled
    FROM customer GROUP BY c_mktsegment
    """,
)
def merge_occ_conflict_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency control on commits
    (``Catalog.commit_id`` / ``write(expected_commit=...)``): writer A
    plans a read-modify-write at one commit, writer B lands first, and
    A's stale conditional commit is REFUSED (``ConcurrentWriteError``)
    instead of silently erasing B's update — the lost-update anomaly
    every multi-writer lakehouse protocol exists to prevent. A then
    re-reads (seeing B's +1) and retries (+10) through the same gate;
    the oracle checks the final contents carry BOTH writers' effects
    (+11), which is exactly what last-writer-wins would have lost.
    """
    from agol_pandas_spark.errors import ConcurrentWriteError

    root = tempfile.mkdtemp(prefix="occ_")
    cat = Catalog(spark, root)
    cust = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    cat.write(cust, "c", mode="error")

    # writer A reads its snapshot + token
    token_a = cat.commit_id("c")
    plan_a = cat.table("c").withColumn(
        "c_acctbal", F.col("c_acctbal") + 10.0
    ).localCheckpoint(eager=True)  # A's read really happened pre-B

    # writer B commits first
    cat.write(
        cat.table("c").withColumn("c_acctbal", F.col("c_acctbal") + 1.0),
        "c", mode="overwrite",
    )

    try:
        cat.write(plan_a, "c", mode="overwrite", expected_commit=token_a)
        raise RuntimeError("stale commit must be refused")
    except ConcurrentWriteError:
        pass

    # A retries against the fresh state: both effects compose
    retry = cat.table("c").withColumn(
        "c_acctbal", F.col("c_acctbal") + 10.0
    )
    cat.write(retry, "c", mode="overwrite",
              expected_commit=cat.commit_id("c"))

    out = (
        cat.table("c")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("balance_scaled"),
        )
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "meta_declared_key_upsert",
    tags=("catalog", "metadata", "merge"),
    oracle="""
    WITH delta AS (
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + 250.0 AS c_acctbal,
             'DECLARED' AS c_mktsegment
      FROM customer WHERE c_custkey % 7 = 2)
    SELECT COALESCE(d.c_mktsegment, c.c_mktsegment) AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(
             COALESCE(d.c_acctbal, c.c_acctbal) * 100) AS BIGINT))
             AS BIGINT) AS balance_scaled,
           'c_custkey' AS declared_key,
           'Customer Master' AS table_title
    FROM customer c LEFT JOIN delta d USING (c_custkey)
    GROUP BY 1
    """,
)
def meta_declared_key_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent table metadata (VERDICT r6 item 1): the unique key and
    ``item_properties`` are DECLARED ONCE at create
    (``api.create_table`` → catalog properties sidecar, the engine's
    analogue of the reference's server-side key index
    ``src/agol_pandas.py:253-312`` and publish-time item_properties
    ``:477,519``) and the upsert then runs with NO ``key=`` argument —
    ``write_table`` defaults it from the stored declaration. The output
    carries the read-back declaration and title as literal columns, so
    the value hash proves the metadata round-tripped AND keyed the
    merge."""
    from agol_pandas_spark.api import create_table

    root = tempfile.mkdtemp(prefix="meta_key_")
    cat = Catalog(spark, root)
    cust = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    path, ok = create_table(
        cat, "c", cust, key_field_name="c_custkey",
        item_properties={"title": "Customer Master", "owner": "data-eng"},
    )
    if not ok:
        raise RuntimeError(f"create_table failed: {path}")

    delta = cust.filter(F.col("c_custkey") % 7 == 2).select(
        "c_custkey", "c_name", "c_nationkey",
        (F.col("c_acctbal") + 250.0).alias("c_acctbal"),
        F.lit("DECLARED").alias("c_mktsegment"),
    )
    from agol_pandas_spark.operators.merge import write_table

    write_table(cat, delta, "c", mode="upsert")  # key comes from the sidecar

    props = cat.properties("c")
    declared = cat.declared_key("c")
    if declared != ["c_custkey"] or props.get("owner") != "data-eng":
        raise RuntimeError(f"metadata did not round-trip: {declared} {props}")

    out = (
        cat.table("c")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("balance_scaled"),
        )
        .select(
            "c_mktsegment", "n", "balance_scaled",
            F.lit(",".join(declared)).alias("declared_key"),
            F.lit(props["title"]).alias("table_title"),
        )
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "meta_table_changes_cdf",
    tags=("meta", "catalog", "cdf", "time-travel"),
    headline=True,
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN 0.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 4),
    v2 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0),
    changes AS (
      SELECT v2.o_orderkey, v2.o_totalprice, 'insert' AS _change_type
      FROM v2 WHERE v2.o_orderkey % 5 = 4
      UNION ALL
      SELECT v1.o_orderkey, v1.o_totalprice, 'delete'
      FROM v1 WHERE v1.o_orderkey % 5 = 0
      UNION ALL
      SELECT v1.o_orderkey, v1.o_totalprice, 'update_preimage'
      FROM v1 JOIN v2 ON v1.o_orderkey = v2.o_orderkey
      WHERE v1.o_totalprice <> v2.o_totalprice
      UNION ALL
      SELECT v2.o_orderkey, v2.o_totalprice, 'update_postimage'
      FROM v1 JOIN v2 ON v1.o_orderkey = v2.o_orderkey
      WHERE v1.o_totalprice <> v2.o_totalprice)
    SELECT _change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_scaled,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
    FROM changes GROUP BY _change_type
    """,
)
def meta_table_changes_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between snapshots (``Catalog.table_changes`` —
    the Delta-CDF row shape): two table versions are materialized (v1
    with stale prices on the ``%7`` keys and the ``%5==0`` keys still
    present; v2 corrected, those keys dropped, the ``%5==4`` keys new),
    then the feed from the archived v1 to current must name every
    insert/delete and BOTH update images, and nothing for unchanged
    rows — the oracle re-derives the exact diff relationally. One lazy
    plan: a single null-safe full-outer key join of the two snapshots
    plus a per-row change-array explode; no per-change-type re-scan.
    The read-side O(two snapshots) recovery complement to the write-time
    CDC log (`merge_apply_cdc_log`). The reference has no changefeed at
    all — consumers re-diffed exports by hand."""
    import shutil
    import tempfile

    base = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    v1 = base.where(k % 5 != 4).withColumn(
        "o_totalprice",
        F.when(k % 7 == 0, F.lit(0.0)).otherwise(F.col("o_totalprice")),
    )
    v2 = base.where(k % 5 != 0)
    root = tempfile.mkdtemp(prefix="cdf_cat_")
    try:
        # manifest-only identity (r8): the CDF's shared-file pruning must
        # prove itself WITHOUT inodes under the driver gate — the
        # object-storage posture, where hard links do not exist
        cat = Catalog(spark, root)
        # The two scenario commits are sequential BY SEMANTICS (v2
        # archives v1), but v2's Spark write does not depend on v1's
        # commit — only its swap does. Stage v2 concurrently with the
        # full v1 write and keep the commit order (guide §2.6; VERDICT
        # r11 item 6): two serial orders-scan writes become overlapped
        # jobs, commits still v1 -> v2.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_v1 = pool.submit(cat.write, v1, "orders_cdf")
            f_s2 = pool.submit(
                cat.stage, v2, "orders_cdf", mode="overwrite"
            )
            f_v1.result()
            staged_v2 = f_s2.result()
        cat.commit_staged(
            staged_v2, "orders_cdf", mode="overwrite", keep_versions=1
        )
        ch = cat.table_changes("orders_cdf", from_version=1, key="o_orderkey")
        out = (
            ch.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("total_scaled"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "meta_table_changes_aligned",
    tags=("meta", "catalog", "cdf", "schema-evolution"),
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN 0.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 4),
    v2 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0),
    changes AS (
      SELECT v2.o_orderkey, v2.o_totalprice, 'insert' AS _change_type
      FROM v2 WHERE v2.o_orderkey % 5 = 4
      UNION ALL
      SELECT v1.o_orderkey, v1.o_totalprice, 'delete'
      FROM v1 WHERE v1.o_orderkey % 5 = 0
      UNION ALL
      SELECT v1.o_orderkey, v1.o_totalprice, 'update_preimage'
      FROM v1 JOIN v2 ON v1.o_orderkey = v2.o_orderkey
      WHERE v1.o_totalprice <> v2.o_totalprice
      UNION ALL
      SELECT v2.o_orderkey, v2.o_totalprice, 'update_postimage'
      FROM v1 JOIN v2 ON v1.o_orderkey = v2.o_orderkey
      WHERE v1.o_totalprice <> v2.o_totalprice)
    SELECT _change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_scaled,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
    FROM changes GROUP BY _change_type
    """,
)
def meta_table_changes_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across a SCHEMA EVOLUTION
    (``Catalog.table_changes(align_schemas=True)``, catalog.py): v1
    carries a ``legacy_flag`` column that v2 DROPS, v2 ADDS a
    ``priority_rank`` column v1 never had — the most common evolution, a
    column add + drop across commits — and the feed diffs the SHARED
    projection (the Delta-CDF-with-column-mapping shape). Rows whose
    shared columns are identical emit NOTHING even though their
    added/dropped column values differ on every row (``legacy_flag`` is
    populated everywhere in v1, ``priority_rank`` everywhere in v2), so
    the oracle — which recomputes the diff relationally over the shared
    projection only — proves the evolved columns are invisible to the
    feed, not merely absent from the output schema. The default
    (align_schemas=False) must REFUSE the mismatch loudly; the query
    asserts that contract first. The reference has no changefeed and no
    schema evolution at all (re-published CSVs replace the table,
    ``src/agol_pandas.py:396``)."""
    import shutil
    import tempfile

    from agol_pandas_spark.errors import SchemaMismatchError

    base = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    v1 = base.where(k % 5 != 4).select(
        "o_orderkey", "o_orderstatus",
        F.when(k % 3 == 0, F.lit(0.0)).otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        (k % 2).cast("int").alias("legacy_flag"),  # dropped by v2
    )
    v2 = base.where(k % 5 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.length("o_orderstatus").cast("int")
        .alias("priority_rank"),  # added by v2
    )
    root = tempfile.mkdtemp(prefix="cdf_aligned_")
    try:
        # manifest-only identity: pruning is per-FILE, so it must keep
        # working across the schema change (identity ignores columns)
        cat = Catalog(spark, root)
        cat.write(v1, "t")
        cat.write(v2, "t", mode="overwrite", keep_versions=1)
        try:
            cat.table_changes("t", from_version=1, key="o_orderkey")
            raise RuntimeError(
                "schema mismatch must refuse without align_schemas=True"
            )
        except SchemaMismatchError:
            pass
        ch = cat.table_changes(
            "t", from_version=1, key="o_orderkey", align_schemas=True
        )
        evolved = {"legacy_flag", "priority_rank"} & set(ch.columns)
        if evolved:
            raise RuntimeError(f"evolved columns leaked into feed: {evolved}")
        out = (
            ch.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("total_scaled"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "pipeline_cdf_summary_maintenance",
    tags=("pipeline", "cdf", "ivm", "catalog"),
    oracle="""
    WITH v2 AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_scaled
      FROM orders WHERE o_orderkey % 5 <> 0)
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price_scaled) AS BIGINT) AS price_scaled_sum
    FROM v2 GROUP BY o_orderstatus
    """,
)
def pipeline_cdf_summary_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance driven by the change feed
    (``views.apply_cdf_to_summary``): a per-status count/sum summary of
    snapshot v1 is MAINTAINED to v2 by applying the signed deltas of
    ``Catalog.table_changes`` (insert/update_postimage = +, delete/
    update_preimage = −), never rescanning the new snapshot — and the
    oracle recomputes the v2 summary from scratch, proving the algebra
    exact (measures are pre-quantized BIGINT, the repo-wide histogram-
    collapse discipline, so no float accumulation-order drift). At
    100 TB the refresh cost is the CHANGED file set (CDF shared-inode
    pruning) plus a group-cardinality join, vs a full-snapshot rescan.
    The reference re-uploads full result sets instead
    (``src/agol_pandas.py:396``)."""
    import shutil
    import tempfile

    from agol_pandas_spark.operators.views import apply_cdf_to_summary

    base = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_scaled"),
    )
    k = F.col("o_orderkey")
    v1 = base.where(k % 5 != 4).withColumn(
        "price_scaled",
        F.when(k % 7 == 0, F.lit(0).cast("long")).otherwise(
            F.col("price_scaled")
        ),
    )
    v2 = base.where(k % 5 != 0)
    root = tempfile.mkdtemp(prefix="ivm_cat_")
    try:
        cat = Catalog(spark, root)
        cat.write(v1, "orders_ivm")
        summary_v1 = v1.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price_scaled").alias("price_scaled_sum"),
        )
        cat.write(v2, "orders_ivm", mode="overwrite", keep_versions=1)
        maintained = apply_cdf_to_summary(
            summary_v1,
            cat.table_changes("orders_ivm", 1, key="o_orderkey"),
            ["o_orderstatus"],
            {"price_scaled_sum": "price_scaled"},
        )
        out = maintained.select(
            "o_orderstatus",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("price_scaled_sum").cast("long").alias("price_scaled_sum"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out
