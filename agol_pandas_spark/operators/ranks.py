"""Distributed global ranks — rank / dense_rank / row_number / ntile /
percent_rank / cume_dist over an UNBOUNDED input with no single-partition
window anywhere in the plan.

A bare ``Window.orderBy(...)`` funnels every row through ONE task — the
classic 100-TB stall (the reference's global sort + slice,
``src/agol_pandas.py:159-216``, has the same shape). The distributed form
used here is the two-level scheme the chunking operator
(:mod:`operators.chunking`) already uses for exact row numbering, extended
with tie-awareness so the *rank family* comes out exactly right:

1. Collapse to the distinct-key histogram ``(keys..., __cnt)`` — a
   map-side-combined aggregation. Every rank function is a function of
   the KEY, so all downstream work runs on distinct keys, not rows.
   (When ``unique=True`` the caller asserts keys are row-unique and the
   collapse is skipped — the input already is its own histogram.)
2. Range-partition + sort the histogram on the keys (one range shuffle).
   Spark's RangePartitioner assigns equal keys to the same partition, so
   tie groups never straddle a partition boundary — per-partition ranks
   are exact after offsetting.
3. One tiny per-partition aggregate (rows, distinct keys) → cumulative
   offsets on the driver: P integers, the only driver-side state.
4. Per-partition window (``Window.partitionBy(__pid)`` — every partition
   works in parallel) + broadcast offset join turns local positions into
   global ``rank``/``dense_rank``/row numbers; ntile/percent_rank/
   cume_dist derive from those and the total count by their SQL
   definitions.
5. Non-unique inputs join the ranked histogram back on the keys (AQE
   picks broadcast when the histogram is small).

Determinism: range boundaries come from sampling and may vary between
runs, but every emitted value is offset-corrected, so results are
bit-identical regardless of the boundary choice or partition count
(pinned by tools/partition_invariance.py and tests).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from agol_pandas_spark.session import local_frame

__all__ = [
    "add_global_ranks",
    "add_partitioned_prefix_sum",
    "release_persisted",
    "sql_ntile_from_rn",
]

# Persisted range-partitioned intermediates, bounded (ADVICE r5): each
# operator call persists its shuffled histogram so the offset-stats job
# and the caller's main job share one shuffle. The caller's job is lazy,
# so the operator cannot unpersist eagerly — instead entries join this
# FIFO and the oldest is unpersisted beyond the cap, keeping a long
# session's cache bounded (a full-registry sweep routes 8+ queries
# through here). bench.py / sweep tools clearCache per query anyway;
# `release_persisted()` drops everything explicitly.
_PERSISTED: list[DataFrame] = []
_PERSISTED_MAX = 8


def _persist_bounded(df: DataFrame) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(df)
    while len(_PERSISTED) > _PERSISTED_MAX:
        _PERSISTED.pop(0).unpersist()
    return df


def release_persisted() -> None:
    """Unpersist every intermediate this module still holds (a re-run of
    a released plan recomputes its range shuffle — correct, just cold)."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def _ordered(keys: Sequence[str], descending: Sequence[bool]) -> list[Column]:
    return [
        F.col(k).desc() if d else F.col(k).asc()
        for k, d in zip(keys, descending)
    ]


def _idiv(a: Column, b: int) -> Column:
    """Exact integer division of a non-negative long column by a positive
    literal: ``(a - a mod b) / b`` — the float step divides two exactly
    representable integers whose quotient is an integer, which IEEE-754
    rounds to itself, so the result is exact for a < 2^53 (comfortably
    past any row count)."""
    lit = F.lit(b)
    return ((a - F.pmod(a, lit)) / lit).cast("long")


def sql_ntile_from_rn(rn: Column, n: int, buckets: int) -> Column:
    """SQL-standard NTILE(buckets) of 1-based global row number ``rn``
    over ``n`` total rows: the first ``n mod buckets`` buckets get one
    extra row. Pure integer arithmetic — identical in every engine."""
    q, r = divmod(n, buckets)
    big = r * (q + 1)  # rows covered by the (q+1)-sized buckets
    return (
        F.when(rn <= F.lit(big), _idiv(rn - 1, q + 1)).otherwise(
            # q can only be 0 when n < buckets, and then rn <= big always
            F.lit(r) + _idiv(rn - 1 - F.lit(big), max(q, 1))
        )
        + F.lit(1)
    ).cast("int")


def add_global_ranks(
    df: DataFrame,
    keys: Sequence[str],
    *,
    descending: Sequence[bool] | None = None,
    unique: bool = False,
    weight_col: str | None = None,
    rank_col: str | None = None,
    dense_rank_col: str | None = None,
    row_number_col: str | None = None,
    ntile: int | None = None,
    ntile_col: str | None = None,
    percent_rank_col: str | None = None,
    cume_dist_col: str | None = None,
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Annotate ``df`` with globally-correct rank-family columns over the
    total preorder defined by ``keys`` (± ``descending``), without a
    single-partition window.

    ``row_number_col``/``ntile_col`` require ``unique=True`` (a total
    order): with ties they would be nondeterministic in ANY engine.

    ``weight_col``: the input is ALREADY a histogram — one row per
    distinct key carrying its multiplicity. Rank semantics are over the
    expanded multiset (``rank_col`` = position of the key's first row);
    row_number/ntile are undefined for grouped rows and rejected.

    ``total_col``: also attach the total (weighted) row count as a
    literal column — callers doing rank-interval arithmetic (equi-depth
    histograms, systematic sampling) need n alongside each rank.
    """
    keys = list(keys)
    descending = list(descending) if descending is not None else [False] * len(keys)
    if len(descending) != len(keys):
        raise ValueError("descending must match keys length")
    if (row_number_col or ntile_col) and not unique:
        raise ValueError(
            "row_number/ntile need a total order: pass unique=True and "
            "include a tie-break column in keys"
        )
    if (ntile is None) != (ntile_col is None):
        raise ValueError("ntile and ntile_col go together")
    if weight_col and unique:
        raise ValueError("weight_col and unique are mutually exclusive")

    spark = df.sparkSession
    order_cols = _ordered(keys, descending)

    if weight_col:
        hist = df.withColumn("__cnt", F.col(weight_col).cast("long"))
    elif unique:
        hist = df.withColumn("__cnt", F.lit(1).cast("long"))
    else:
        extra = [c for c in df.columns if c not in keys]
        hist = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__cnt"))

    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    parts = _persist_bounded(
        hist.repartitionByRange(p, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )

    stats = {
        r["__pid"]: (r["__rows"], r["__nkeys"])
        for r in parts.groupBy("__pid")
        .agg(F.sum("__cnt").alias("__rows"), F.count(F.lit(1)).alias("__nkeys"))
        .collect()
    }
    n_total = sum(v[0] for v in stats.values())
    rows_before, keys_before, racc, kacc = {}, {}, 0, 0
    for pid in sorted(stats):
        rows_before[pid], keys_before[pid] = racc, kacc
        racc += stats[pid][0]
        kacc += stats[pid][1]

    offs = F.broadcast(
        local_frame(
            spark,
            [(pid, rows_before[pid], keys_before[pid]) for pid in sorted(stats)]
            or [(0, 0, 0)],
            T.StructType.fromDDL(
                "__pid int, __rows_before long, __keys_before long"
            ),
        )
    )

    w = Window.partitionBy("__pid").orderBy(*order_cols)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        parts.join(offs, "__pid")
        .withColumn("__cum", F.sum("__cnt").over(wcum))
        .withColumn("__ldr", F.row_number().over(w))
    )
    rank_expr = F.col("__rows_before") + F.col("__cum") - F.col("__cnt") + 1
    out_cols: list[Column] = []
    if rank_col:
        out_cols.append(rank_expr.alias(rank_col))
    if dense_rank_col:
        out_cols.append(
            (F.col("__keys_before") + F.col("__ldr")).alias(dense_rank_col)
        )
    if row_number_col:
        out_cols.append(rank_expr.alias(row_number_col))
    if ntile_col:
        out_cols.append(
            sql_ntile_from_rn(rank_expr, n_total, int(ntile)).alias(ntile_col)
        )
    if percent_rank_col:
        out_cols.append(
            (
                (rank_expr - 1).cast("double") / F.lit(float(max(n_total - 1, 1)))
            ).alias(percent_rank_col)
        )
    if cume_dist_col:
        out_cols.append(
            (
                (F.col("__rows_before") + F.col("__cum")).cast("double")
                / F.lit(float(max(n_total, 1)))
            ).alias(cume_dist_col)
        )
    if total_col:
        out_cols.append(F.lit(n_total).cast("long").alias(total_col))
    if not out_cols:
        raise ValueError("request at least one output column")

    internal = {"__pid", "__cnt", "__rows_before", "__keys_before", "__cum", "__ldr"}
    if unique or weight_col:
        keep = [c for c in ranked.columns if c not in internal]
        return ranked.select(*[F.col(c) for c in keep], *out_cols)
    ranked_keys = ranked.select(*keys, *out_cols)
    if not extra:
        return ranked_keys
    # non-unique: join the ranked histogram back on the keys (equi-join;
    # AQE broadcasts when the distinct-key side is small). NULL-SAFE on
    # every key (ADVICE r5): a window rank ranks NULL keys, and a plain
    # equi-join would silently drop those rows — contract divergence for
    # an operator advertised as a drop-in window replacement.
    rk = ranked_keys.select(
        *[F.col(k).alias(f"__rk_{k}") for k in keys],
        *[c for c in ranked_keys.columns if c not in keys],
    )
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(rk[f"__rk_{k}"])
        cond = c if cond is None else (cond & c)
    return df.join(rk, on=cond, how="inner").drop(
        *[f"__rk_{k}" for k in keys]
    )


def add_partitioned_prefix_sum(
    df: DataFrame,
    part_keys: Sequence[str],
    order_keys: Sequence[str],
    weight_col: str,
    out_col: str,
    *,
    exclusive: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group running sum of ``weight_col`` over the ``order_keys``
    total order WITHIN each ``part_keys`` group, without funneling any
    group through one task.

    ``Window.partitionBy(low_cardinality_key)`` is the subtle cousin of
    the global window: with 5 modalities, 5 tasks carry the whole corpus
    no matter the cluster size. Here the data is range-partitioned on
    ``part_keys + order_keys`` (group segments stay contiguous, big
    groups SPAN partitions), each physical partition computes its local
    running sums in parallel, and each (physical partition, group) slice
    is offset by the group's carry-in — computed from the per-(partition,
    group) totals, a DataFrame of at most P + |groups| rows whose own
    cumulative window is partitioned per group over ≤P rows (bounded by
    construction, like the rank operator's offsets). No driver-side
    state at all. ``exclusive=True`` gives the sum of STRICTLY earlier
    rows (packing offsets); ``False`` includes the current row.

    ``order_keys`` must make (part_keys + order_keys) a total order —
    ties would make any engine's running sum nondeterministic.
    """
    part_keys, order_keys = list(part_keys), list(order_keys)
    if not part_keys or not order_keys:
        raise ValueError("part_keys and order_keys are both required")
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    all_keys = part_keys + order_keys
    parts = _persist_bounded(
        df.repartitionByRange(p, *[F.col(k) for k in all_keys])
        .sortWithinPartitions(*all_keys)
        .withColumn("__pid", F.spark_partition_id())
    )
    w_local = (
        Window.partitionBy("__pid", *part_keys)
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts.withColumn("__cum", F.sum(weight_col).over(w_local))
    # carry-in per (pid, group): totals of the group's EARLIER partitions;
    # input is one row per (pid, group) — ≤ P rows per group
    totals = parts.groupBy("__pid", *part_keys).agg(
        F.sum(weight_col).alias("__tot")
    )
    w_carry = (
        Window.partitionBy(*part_keys)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = totals.select(
        "__pid",
        *part_keys,
        F.coalesce(F.sum("__tot").over(w_carry), F.lit(0)).alias("__off"),
    )
    base = F.col("__cum") + F.col("__off")
    if exclusive:
        base = base - F.col(weight_col)
    return (
        local.join(F.broadcast(carry), ["__pid", *part_keys])
        .withColumn(out_col, base)
        .drop("__pid", "__cum", "__off")
    )
