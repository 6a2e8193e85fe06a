"""The benchmark's three workloads, driven through the engine's public API.

Each workload is a list of :class:`Op`. An op's ``build`` returns either a
lazy DataFrame (the runner materializes it through a noop sink) or
``None`` when the call itself committed to the catalog. Each op also
knows how to check its output once per run against DuckDB.

- ``analytics_read``: ten scan/join/window headline queries.
- ``llm_curation``: the thirteen dedup, similarity and text headline
  queries and the incremental-ingest pipeline.
- ``write_modes``: a seeded loop over the five write modes (plus keyed
  delete, a change-feed read and a read-back) on one range-partitioned
  catalog table.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as papq

from datagen import TABLES

ANALYTICS_READ = (
    "flagship_region_revenue", "pricing_summary", "top_revenue_orders",
    "window_topk_orders_per_segment", "join_asof_click_purchase",
    "events_tumbling_window", "events_session_window_agg", "stats_ks_drift",
    "source_paged_pushdown", "merge_upsert",
)
LLM_CURATION = (
    "dedup_minhash_lsh_pairs", "dedup_lsh_index_probe",
    "dedup_simhash_band_pairs", "dedup_winnow_shared_pairs",
    "text_substring_dup_spans", "sim_brute_force_topk", "sim_ivfpq_topk",
    "sim_ivfpq_index_probe", "sim_rp_lsh_topk_ann", "text_tfidf_top_terms",
    "text_bpe_pair_merge", "text_benchmark_contamination",
    "pipeline_chunk_dedup_stats", "pipeline_incremental_ingest",
)

KEY = "o_orderkey"
TABLE = "orders"
#: files the write table is range-partitioned into
N_FILES = 16
ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority")


@dataclass
class Op:
    name: str
    build: Callable[[], object]
    #: DuckDB query giving the expected rows of ``build``'s DataFrame
    oracle: str | None = None
    #: DuckDB statements replaying the op's mutation on the mirror table
    #: ``t``; the op is then checked by the table's row count
    replay: str | None = None
    #: True when the op's delta counts toward ``write_amp``
    counts_write: bool = False
    #: True when the whole table is checked after this op
    final_state: bool = False


class Context:
    """What every op needs: the session, the generated data and the
    run's private directories."""

    def __init__(self, spark, data_dir: str, catalog_root: str):
        self.spark = spark
        self.data_dir = data_dir
        self.catalog_root = catalog_root


# -- registry-backed workloads ------------------------------------------


def registry_op(ctx: Context, registry, name: str) -> Op:
    q = registry[name]
    return Op(name, lambda: q.fn(ctx.spark, ctx.data_dir), oracle=q.oracle)


def pass_order(names: tuple[str, ...], seed: int, pass_idx: int) -> list[str]:
    """The seeded op order of one pass."""
    order = list(names)
    random.Random(f"{seed}/{pass_idx}").shuffle(order)
    return order


# -- write_modes inputs -------------------------------------------------


def make_deltas(data_dir: str, out_dir: str, seed: int) -> dict[str, str]:
    """Write the seeded deltas of one ``write_modes`` pass as Parquet and
    return their paths. Each existing-key range covers ~1% of the keys and
    lies inside one file's key span, clear of the sampled file boundaries,
    so every seed rewrites the same number of files; the seed picks the
    file and the offset. The same deltas are replayed every pass, so every
    pass starts and ends on identical bytes."""
    os.makedirs(out_dir, exist_ok=True)
    base = papq.read_table(os.path.join(data_dir, f"{TABLE}.parquet"),
                           columns=list(ORDER_COLS))
    n = base.num_rows
    w = max(10, n // 100)
    rng = np.random.default_rng([seed % 2**63, 7])
    keys = base[KEY].to_numpy()

    def rows(lo: int, hi: int) -> pa.Table:
        return base.filter(pc.and_(pc.greater_equal(base[KEY], lo), pc.less(base[KEY], hi)))

    def fresh(lo: int, count: int) -> pa.Table:
        src = base.take(pa.array(rng.integers(0, n, count)))
        return src.set_column(0, KEY, pa.array(np.arange(lo, lo + count), pa.int64()))

    def with_col(t: pa.Table, name: str, values) -> pa.Table:
        i = t.schema.get_field_index(name)
        return t.set_column(i, name, pa.array(values, t.schema.field(name).type))

    span = n // N_FILES  # keys per file; the generated keys are 0..n-1
    margin = span // 5

    def start() -> int:
        f = int(rng.integers(0, N_FILES))
        return f * span + int(rng.integers(margin, span - margin - w))

    top = int(keys.max()) + 1
    a, b, c = start(), start(), start()
    up = rows(a, a + w)
    up = with_col(up, "o_totalprice", up["o_totalprice"].to_numpy() + 1.0)
    up = with_col(up, "o_orderstatus", ["U"] * up.num_rows)
    up = pa.concat_tables([up, fresh(top, w // 10)])
    upd = rows(b, b + w)
    upd = with_col(upd, "o_orderpriority", ["0-UPDATED"] * upd.num_rows)
    upd = pa.concat_tables([upd, fresh(top + 10 * w, w // 10)])  # no-match keys
    ins = pa.concat_tables([fresh(top + 2 * w, w), rows(c, c + w // 10)])
    app = fresh(top + 4 * w, w)
    out = {"upsert": up, "update": upd, "insert": ins, "append": app,
           "delete": app.select([KEY])}
    paths = {}
    for name, t in out.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        papq.write_table(t, paths[name])
    return paths


def _ranged_base(ctx: Context):
    return (ctx.spark.read.parquet(os.path.join(ctx.data_dir, f"{TABLE}.parquet"))
            .select(*ORDER_COLS)
            .repartitionByRange(N_FILES, KEY)
            .sortWithinPartitions(KEY))


def setup_write_table(ctx: Context) -> None:
    """(Re)build the ``write_modes`` table from the generated orders."""
    import shutil

    from agol_pandas_spark.catalog import Catalog

    shutil.rmtree(ctx.catalog_root, ignore_errors=True)
    Catalog(ctx.spark, ctx.catalog_root).write(_ranged_base(ctx), TABLE, mode="error")


VALUE_COLS = [c for c in ORDER_COLS if c != KEY]
#: resets the DuckDB mirror of the ``write_modes`` table to the start state
MIRROR_RESET = f"CREATE OR REPLACE TABLE t AS SELECT {', '.join(ORDER_COLS)} FROM {TABLE}"


def write_ops(ctx: Context, deltas: dict[str, str]) -> list[Op]:
    """One ``write_modes`` pass, in its fixed order."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.merge import merge_pruned, write_table

    spark = ctx.spark
    cat = Catalog(spark, ctx.catalog_root)

    def read(name):
        return spark.read.parquet(deltas[name])

    def upsert():
        merge_pruned(cat, read("upsert"), TABLE, "upsert", key=KEY, keep_versions=1)

    def keyed(mode, delta):
        def op():
            write_table(cat, read(delta), TABLE, mode=mode, key=KEY, prune=True)
        return op

    def append():
        write_table(cat, read("append"), TABLE, mode="append")

    def changes():
        v = cat.versions(TABLE)[-1]
        return (cat.table_changes(TABLE, from_version=v, key=KEY)
                .groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")))

    def readback():
        return cat.table(TABLE).groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))

    def overwrite():
        write_table(cat, _ranged_base(ctx), TABLE, mode="overwrite")
        cat.vacuum(TABLE)

    def sql(stmt):
        return stmt.format(**{k: f"'{p}'" for k, p in deltas.items()})

    return [
        Op("upsert", upsert, counts_write=True, replay=sql(
            "CREATE OR REPLACE TABLE prev AS SELECT * FROM t;"
            "DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet({upsert}));"
            "INSERT INTO t SELECT * FROM read_parquet({upsert})")),
        Op("table_changes", changes, oracle=f"""
            WITH j AS (SELECT p.o_orderkey AS pk, c.o_orderkey AS ck,
                              ({", ".join("p." + c for c in VALUE_COLS)}) IS DISTINCT FROM
                              ({", ".join("c." + c for c in VALUE_COLS)}) AS changed
                       FROM prev p FULL OUTER JOIN t c ON p.o_orderkey = c.o_orderkey),
                 ch AS (SELECT 'insert' AS _change_type FROM j WHERE pk IS NULL
                        UNION ALL SELECT 'delete' FROM j WHERE ck IS NULL
                        UNION ALL SELECT 'update_preimage' FROM j
                                  WHERE pk IS NOT NULL AND ck IS NOT NULL AND changed
                        UNION ALL SELECT 'update_postimage' FROM j
                                  WHERE pk IS NOT NULL AND ck IS NOT NULL AND changed)
            SELECT _change_type, COUNT(*) AS n FROM ch GROUP BY _change_type"""),
        Op("update", keyed("update", "update"), counts_write=True, replay=sql(
            "CREATE OR REPLACE TEMP TABLE m AS SELECT u.* FROM read_parquet({update}) u "
            "SEMI JOIN t ON u.o_orderkey = t.o_orderkey;"
            "DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM m);"
            "INSERT INTO t SELECT * FROM m")),
        Op("insert", keyed("insert", "insert"), counts_write=True, replay=sql(
            "INSERT INTO t SELECT * FROM read_parquet({insert}) "
            "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)")),
        Op("append", append,
           counts_write=True,
           replay=sql("INSERT INTO t SELECT * FROM read_parquet({append})")),
        Op("delete", keyed("delete", "delete"), counts_write=True, replay=sql(
            "DELETE FROM t WHERE o_orderkey IN "
            "(SELECT o_orderkey FROM read_parquet({delete}))")),
        Op("readback", readback, oracle="""
            SELECT o_orderstatus, COUNT(*) AS n,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM t GROUP BY o_orderstatus""", final_state=True),
        Op("overwrite", overwrite, replay=MIRROR_RESET),
    ]


def expected_results(data_dir: str, steps: list[tuple]) -> dict[str, dict]:
    """DuckDB side of the output check, run in its own process.

    ``steps`` is ``(op name, oracle SQL, replay SQL, final_state)`` per op,
    in pass order. Returns, per op, the oracle's sorted column names and
    value hash, the mirror table's row count after a replay, and the
    whole mirror table's hash after a final-state op."""
    from tools.local_correctness import canonical_hash

    con = open_duckdb(data_dir)
    con.execute(MIRROR_RESET)
    out: dict[str, dict] = {}
    for name, oracle, replay, final_state in steps:
        rec = out.setdefault(name, {})
        if replay:
            con.execute(replay)
            rec["rows"] = con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
        if oracle:
            res = con.execute(oracle)
            cols = [d[0] for d in res.description]
            rec["oracle"] = (sorted(cols), canonical_hash(res.fetchall(), cols))
        if final_state:
            cols = [f"epoch_us({c}) AS {c}" if c == "o_orderdate" else c
                    for c in ORDER_COLS]
            res = con.execute(f"SELECT {', '.join(cols)} FROM t")
            rec["table"] = canonical_hash(res.fetchall(), [d[0] for d in res.description])
    con.close()
    return out


def table_rows(ctx: Context):
    """Every row of the ``write_modes`` table, timestamps as epoch µs."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog

    df = Catalog(ctx.spark, ctx.catalog_root).table(TABLE)
    df = df.select(*[F.unix_micros(c).alias(c) if c == "o_orderdate" else c
                     for c in ORDER_COLS])
    return df.columns, df.collect()


def open_duckdb(data_dir: str):
    """DuckDB with the generated tables as views."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con
