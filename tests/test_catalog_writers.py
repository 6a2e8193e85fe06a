"""Catalog atomicity, writer modes, readers, and scale-posture plan
assertions (pushdown / pruning / broadcast actually present)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agol_pandas_spark import catalog as catalog_mod
from agol_pandas_spark.catalog import MANIFEST_NAME, Catalog
from agol_pandas_spark.errors import TableExistsError, TableNotFoundError
from agol_pandas_spark.operators.merge import write_table
from agol_pandas_spark.plans import (
    pushed_filters,
    read_schema_columns,
    uses_broadcast_join,
)
from agol_pandas_spark.sources.readers import read_csv_inferred
from agol_pandas_spark.sources.writers import save_dataframe


@pytest.fixture()
def out_cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"))


def test_create_and_read_roundtrip(spark, out_cat):
    df = spark.range(0, 10).withColumn("v", F.col("id") * 2)
    out_cat.write(df, "t1")
    assert out_cat.table("t1").count() == 10
    assert out_cat.list_tables() == ["t1"]


def test_create_refuses_overwrite(spark, out_cat):
    df = spark.range(0, 3)
    out_cat.write(df, "t1")
    with pytest.raises(TableExistsError):
        out_cat.write(df, "t1")


def test_missing_table(out_cat):
    with pytest.raises(TableNotFoundError):
        out_cat.table("ghost")


def test_name_normalization_in_catalog(spark, out_cat):
    df = spark.range(0, 3)
    out_cat.write(df, "  9My Table!! ")
    assert out_cat.list_tables() == ["_9my_table_"]


def test_write_table_create_then_merge(spark, out_cat):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_table(out_cat, base, "t", mode="append", key="id")
    delta = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    write_table(out_cat, delta, "t", mode="upsert", key="id")
    got = {r["id"]: r["v"] for r in out_cat.table("t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_save_dataframe_status(spark, out_cat):
    df = spark.range(0, 100).withColumn("k", F.col("id"))
    status = save_dataframe(out_cat, df, "s", mode="append", key="k")
    assert status.agg(F.sum("n_rows")).first()[0] == 100
    assert {"partition_id", "n_rows", "key_min", "key_max"} <= set(status.columns)


def test_csv_roundtrip_infers_schema(spark, tmp_path):
    p = str(tmp_path / "c.csv")
    spark.range(0, 5).withColumn("name", F.concat(F.lit("n"), F.col("id"))).write.option(
        "header", True
    ).csv(p)
    back = read_csv_inferred(spark, p)
    assert dict(back.dtypes) == {"id": "int", "name": "string"}
    assert back.count() == 5


# ---- scale-posture assertions -------------------------------------------

def test_filter_and_projection_reach_scan(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    q = (
        cat.table("lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    assert any("l_quantity" in f for f in pushed_filters(q))
    schemas = read_schema_columns(q)
    assert schemas and set(schemas[0]) <= {"l_orderkey", "l_quantity"}


def test_dimension_join_is_broadcast(spark, sf_dir):
    from agol_pandas_spark.workload import load_all

    q = load_all()["flagship_region_revenue"].fn(spark, sf_dir)
    assert uses_broadcast_join(q)


def test_table_merge_schema_reads_evolved_dataset(spark, tmp_path):
    """Files appended after a column was added must resolve to the union
    schema under merge_schema=True, with NULLs for pre-evolution rows."""
    import os

    from agol_pandas_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    cat.write(spark.createDataFrame([(1, "x")], "id long, a string"), "t", mode="error")
    # simulate an evolved append: drop a new-schema file into the dataset
    extra = spark.createDataFrame([(2, "y", 9.5)], "id long, a string, b double")
    staged = str(tmp_path / "staged")
    extra.coalesce(1).write.parquet(staged)
    part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
    os.rename(os.path.join(staged, part), os.path.join(cat.path("t"), "evolved.parquet"))

    merged = cat.table("t", merge_schema=True)
    assert set(merged.columns) == {"id", "a", "b"}
    rows = {r.id: (r.a, r.b) for r in merged.collect()}
    assert rows == {1: ("x", None), 2: ("y", 9.5)}


def test_ns_cols_cache_invalidated_on_rewrite(spark, tmp_path):
    """Overwriting a table with a different schema must not leave a stale
    footer-cache entry: a ns-timestamp column added by the rewrite still
    gets the long-nanos -> timestamp conversion (ADVICE r1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from agol_pandas_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    plain = spark.range(3).withColumnRenamed("id", "k")
    cat.write(plain, "t")
    assert [f.name for f in cat.table("t").schema] == ["k"]

    # swap in a file with a TIMESTAMP(NANOS) column via the same path
    tbl = pa.table(
        {
            "k": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([1, 2, 3], pa.timestamp("ns")),
        }
    )
    cat.drop("t")
    pq.write_table(tbl, cat.path("t"))
    df = cat.table("t")
    # without invalidation the cached [] skips conversion and ts stays long
    assert df.schema["ts"].dataType.typeName() == "timestamp"

    # and the reverse: rewrite without the ns column must not KeyError
    cat.write(plain, "t", mode="overwrite")
    assert [f.name for f in cat.table("t").schema] == ["k"]


def test_ns_columns_follow_another_catalogs_commit(spark, tmp_path):
    """Catalog A has read a table whose ``t`` is TIMESTAMP(NANOS); catalog
    B overwrites it with ``t`` as int64. A's next read, and a fresh
    catalog's, must see the bigint — a ns-column list remembered from
    before B's commit converted 42 to 1970-01-01 and left that frame in
    the shared scan cache."""
    import pyarrow as pa

    a, b = Catalog(spark, str(tmp_path)), Catalog(spark, str(tmp_path))
    a.write_local(
        pa.table({"k": [1], "t": pa.array([10**9], pa.timestamp("ns"))}), "x"
    )
    assert a.table("x").schema["t"].dataType.typeName() == "timestamp"
    b.write_local(pa.table({"k": [1], "t": [42]}), "x", mode="overwrite")
    for cat in (a, Catalog(spark, str(tmp_path))):
        df = cat.table("x")
        assert df.schema["t"].dataType.typeName() == "long"
        assert [tuple(r) for r in df.collect()] == [(1, 42)]


def _inferred(spark, path):
    return spark.read.parquet(path).schema


def test_footer_schema_equals_inferred_schema(spark, sf_dir, tmp_path):
    """The driver footer read gives exactly the schema Spark's inference
    job gives: every sf0.001 and sf0.01 corpus table, a flat
    Spark-written table, a single-file ``write_local`` table, and
    ns-timestamp, list<float> and decimal columns (which ``table()``
    converts only in the ns case)."""
    import decimal

    import pyarrow as pa

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    for root in sorted({sf_dir, sf01}):
        corpus = Catalog(spark, root)
        for n in corpus.list_tables():
            inferred = _inferred(spark, corpus.path(n))
            assert corpus.table(n).schema == inferred, (root, n)

    cat = Catalog(spark, str(tmp_path))
    cat.write(
        spark.range(50).selectExpr(
            "id", "cast(id as string) s", "array(cast(id as float)) v",
            "cast(id as decimal(12, 3)) dec", "timestamp_micros(id) ts",
        ).repartition(4),
        "flat",
    )
    cat.write_local(
        pa.table({
            "id": pa.array([1, None], pa.int64()),
            "ns": pa.array([1, 2], pa.timestamp("ns")),
            "us": pa.array([1, 2], pa.timestamp("us", tz="UTC")),
            "v": pa.array([[1.0, 2.0], None], pa.list_(pa.float32())),
            "dec": pa.array([decimal.Decimal("1.50"), None],
                            pa.decimal128(9, 2)),
        }),
        "single",
    )
    for n in ("flat", "single"):
        inferred = _inferred(spark, cat.path(n))
        assert cat._footer_schema(cat.data_files(n)) == inferred, n
    assert cat.table("flat").schema == _inferred(spark, cat.path("flat"))
    single = cat.table("single").schema
    assert single["ns"].dataType == T.TimestampType()
    assert [f for f in single if f.name != "ns"] == [
        f for f in _inferred(spark, cat.path("single")) if f.name != "ns"
    ]


def test_nested_and_merge_schema_reads_keep_their_columns(spark, tmp_path):
    """Scans the footer cannot describe keep Spark's inference: a
    ``partitionBy`` table keeps its path-derived column, and
    ``merge_schema=True`` (like the pruned merge's dirty read) keeps the
    union of the files' columns."""
    cat = Catalog(spark, str(tmp_path))
    spark.range(6).select("id", (F.col("id") % 2).alias("k")).write \
        .partitionBy("k").parquet(cat.path("nested"))
    assert cat.table("nested").columns == ["id", "k"]
    assert sorted((r.id, r.k) for r in cat.table("nested").collect()) == [
        (i, i % 2) for i in range(6)
    ]

    cat.write(spark.createDataFrame([(1, "x")], "id long, a string"), "t")
    staged = str(tmp_path / "staged")
    spark.createDataFrame([(2, 9.5)], "id long, b double") \
        .coalesce(1).write.parquet(staged)
    part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
    os.rename(os.path.join(staged, part), os.path.join(cat.path("t"), "z.parquet"))
    files = cat.data_files("t")
    assert cat.table("t", merge_schema=True).columns == ["id", "a", "b"]
    union = spark.read.option("mergeSchema", "true").parquet(*files).schema
    assert cat._footer_schema(files, merge=True) == union
    # merge off: the first file in listing order decides
    assert cat.table("t").columns == ["id", "a"]


def test_table_cache_keys_on_commit_not_mtime(spark, out_cat):
    """Two snapshots with the same directory mtime (a coarse-timestamp
    filesystem) must not share a cached DataFrame: the cached plan holds
    the old snapshot's file listing, whose files the overwrite deleted."""
    out_cat.write(spark.range(0, 5), "t")
    p = out_cat.path("t")
    old = os.stat(p).st_mtime_ns
    assert out_cat.table("t").count() == 5
    out_cat.write(spark.range(0, 7), "t", mode="overwrite")
    os.utime(p, ns=(old, old))
    assert out_cat.table("t").count() == 7


def test_row_count_metadata_only(spark, sf_dir):
    from agol_pandas_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    assert cat.row_count("documents") == cat.table("documents").count()
    with pytest.raises(TableNotFoundError):
        cat.row_count("nope")


def test_versioned_overwrite_time_travel_and_restore(spark, tmp_path):
    """keep_versions archives replaced snapshots by rename; table_at time
    travels; restore rolls back atomically and is itself undoable."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import TableNotFoundError

    cat = Catalog(spark, str(tmp_path))
    v1 = spark.createDataFrame([(1, "a")], ["k", "v"])
    v2 = spark.createDataFrame([(2, "b")], ["k", "v"])
    v3 = spark.createDataFrame([(3, "c")], ["k", "v"])
    cat.write(v1, "t", mode="error")
    assert cat.versions("t") == []
    cat.write(v2, "t", mode="overwrite", keep_versions=2)
    cat.write(v3, "t", mode="overwrite", keep_versions=2)
    assert cat.versions("t") == [1, 2]
    assert [r.v for r in cat.table_at("t", 1).collect()] == ["a"]
    assert [r.v for r in cat.table_at("t", 2).collect()] == ["b"]
    assert [r.v for r in cat.table("t").collect()] == ["c"]
    # restore v1; the displaced current (v3 content) is archived in turn
    cat.restore("t", 1)
    assert [r.v for r in cat.table("t").collect()] == ["a"]
    assert [r.v for r in cat.table_at("t", 3).collect()] == ["c"]
    # unknown version raises; drop removes the archive too
    import pytest as _pytest
    with _pytest.raises(TableNotFoundError):
        cat.table_at("t", 99)
    cat.drop("t")
    assert cat.versions("t") == []


def test_versioned_overwrite_prunes_old_archives(spark, tmp_path):
    from agol_pandas_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    cat.write(spark.range(1), "t", mode="error")
    for i in range(4):
        cat.write(spark.range(i + 2), "t", mode="overwrite", keep_versions=2)
    # 4 overwrites archived 4 snapshots, pruned to the newest 2
    assert cat.versions("t") == [3, 4]
    # default keep_versions=0 keeps legacy destroy-on-overwrite semantics
    cat.write(spark.range(9), "t", mode="overwrite")
    assert cat.versions("t") == [3, 4]


def test_write_respects_max_records_per_file(spark, tmp_path):
    """Small-files control: maxRecordsPerFile bounds file sizes on write —
    the knob that pairs with Catalog.compact for output-layout hygiene."""
    import glob

    df = spark.range(1000).coalesce(1)
    out = str(tmp_path / "capped")
    df.write.option("maxRecordsPerFile", 100).parquet(out)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == 10
    assert spark.read.parquet(out).count() == 1000


def test_write_zstd_codec_roundtrip(spark, tmp_path):
    import glob

    df = spark.range(500).withColumnRenamed("id", "k")
    out = str(tmp_path / "zstd")
    df.write.option("compression", "zstd").parquet(out)
    assert all(".zstd." in f or f.endswith("_SUCCESS")
               for f in glob.glob(out + "/*") if not f.endswith(".crc"))
    assert spark.read.parquet(out).count() == 500


def test_history_and_vacuum(spark, tmp_path):
    """history lists archives + current with file/byte stats; vacuum
    reclaims old archives but bytes shared with the current snapshot via
    pruned-merge hard links survive."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.operators.merge import merge_pruned

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    cat.write(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        "t", mode="error",
    )
    # two versioned pruned merges → two archives sharing carried inodes
    for bump in (1, 2):
        delta = spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") + 1000 * bump).alias("v")
        )
        merge_pruned(cat, delta, "t", "upsert", "k", keep_versions=5)
    hist = cat.history("t")
    assert [h["version"] for h in hist] == [1, 2, None]
    assert all(h["n_files"] > 0 and h["n_bytes"] > 0 for h in hist)
    current = sorted(map(tuple, cat.table("t").collect()))
    dropped = cat.vacuum("t", keep_last=1)
    assert dropped == [1]
    assert cat.versions("t") == [2]
    # shared-inode data still readable after the archive is gone
    assert sorted(map(tuple, cat.table("t").collect())) == current
    assert cat.vacuum("t") == [2]
    assert cat.versions("t") == []
    assert sorted(map(tuple, cat.table("t").collect())) == current


def test_skipping_index_prunes_files_exactly(spark, tmp_path):
    """Point-lookup data skipping: a high-cardinality column scattered
    across a key-clustered layout reads only the files whose distinct-
    hash set can contain a probe value — and returns exactly the rows a
    full scan + filter would."""
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.format_string("name_%06d", F.col("id")).alias("nm"),
    )
    cat.write(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        "t", mode="error",
    )
    cat.build_skipping_index("t", "nm")
    probe = ["name_000007", "name_000205", "no_such_name"]
    out, stats = cat.scan_skipping("t", "nm", probe)
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(tuple, cat.table("t").filter(F.col("nm").isin(probe)).collect())
    )
    assert got == want and len(got) == 2
    # two values in two distinct files -> at most 2 of 8 files read
    assert stats["files_total"] == 8
    assert 1 <= stats["files_read"] <= 2
    # miss-everything probe reads nothing
    out2, stats2 = cat.scan_skipping("t", "nm", ["zzz"])
    assert out2.count() == 0 and stats2["files_read"] == 0


def test_skipping_index_spark_path_matches_driver_path(
    spark, tmp_path, monkeypatch
):
    """Above INDEX_SPARK_THRESHOLD the sidecar decodes and
    filters on executors (VERDICT r9 watch item: the pyarrow path holds
    the whole index in driver memory — O(files x cap) rows at 10^6+
    files); results and stats must be identical either way."""
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.format_string("name_%06d", F.col("id")).alias("nm"),
    )
    cat.write(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        "t", mode="error",
    )
    cat.build_skipping_index("t", "nm")
    probe = ["name_000007", "name_000205", "no_such_name"]
    out_d, stats_d = cat.scan_skipping("t", "nm", probe)
    rows_d = sorted(map(tuple, out_d.collect()))
    monkeypatch.setattr(catalog_mod, "INDEX_SPARK_THRESHOLD", 1)
    out_s, stats_s = cat.scan_skipping("t", "nm", probe)
    assert sorted(map(tuple, out_s.collect())) == rows_d
    assert stats_s == stats_d
    # miss-everything probe through the Spark path reads nothing
    out2, stats2 = cat.scan_skipping("t", "nm", ["zzz"])
    assert out2.count() == 0 and stats2["files_read"] == 0


def test_skipping_index_cap_marks_unskippable(spark, tmp_path):
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.format_string("n_%03d", F.col("id")).alias("nm"),
    )
    cat.write(df.repartitionByRange(2, "k"), "t", mode="error")
    cat.build_skipping_index("t", "nm", max_distinct_per_file=3)
    out, stats = cat.scan_skipping("t", "nm", ["n_001"])
    # every file over the cap: all read, result still exact
    assert stats["files_read"] == stats["files_total"]
    assert out.count() == 1


def test_skipping_index_stale_raises(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(50).select(
        F.col("id").alias("k"), F.format_string("n%d", F.col("id")).alias("nm")
    )
    cat.write(df, "t", mode="error")
    cat.build_skipping_index("t", "nm")
    cat.write(df.limit(10), "t", mode="overwrite")
    with _pytest.raises(ValueError, match="stale"):
        cat.scan_skipping("t", "nm", ["n1"])
    with _pytest.raises(TableNotFoundError):
        cat.scan_skipping("t", "other_col", ["x"])


def test_shallow_clone_zero_copy_and_isolated(spark, tmp_path):
    """clone shares inodes with the source (zero copy) but mutating the
    clone never touches the source — every write path commits NEW files
    through the two-phase swap."""
    import os as _os

    from pyspark.sql import functions as F

    from agol_pandas_spark.operators.merge import merge_pruned

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    cat.write(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        "src", mode="error",
    )
    cat.clone("src", "dev")
    src_inodes = {
        _os.path.basename(f): _os.stat(f).st_ino for f in cat.data_files("src")
    }
    dev_inodes = {
        _os.path.basename(f): _os.stat(f).st_ino for f in cat.data_files("dev")
    }
    assert src_inodes == dev_inodes  # zero-copy: same inodes
    before = sorted(map(tuple, cat.table("src").collect()))
    # mutate the clone (pruned upsert) — source must be untouched
    delta = spark.range(5).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_pruned(cat, delta, "dev", "upsert", "k")
    assert sorted(map(tuple, cat.table("src").collect())) == before
    assert (
        cat.table("dev").filter(F.col("v") == -1).count() == 5
    )
    import pytest as _pytest

    with _pytest.raises(TableExistsError):
        cat.clone("src", "dev")


class TestTombstoneSoftDelete:
    """Key-tombstone sidecar lifecycle (Catalog.soft_delete_keys /
    table_live / apply_tombstones)."""

    @pytest.fixture()
    def cat(self, spark, tmp_path):
        from agol_pandas_spark.catalog import Catalog

        c = Catalog(spark, str(tmp_path))
        df = spark.createDataFrame(
            [(k, f"v{k}") for k in range(20)], "k long, v string"
        )
        c.write(df.repartition(4), "t", mode="error")
        return c

    def test_delete_touches_no_data_files(self, spark, cat):
        import os

        before = {f: os.stat(f).st_ino for f in cat.data_files("t")}
        cat.soft_delete_keys("t", spark.createDataFrame([(3,), (7,)], "k long"))
        after = {f: os.stat(f).st_ino for f in cat.data_files("t")}
        assert before == after
        live = {r["k"] for r in cat.table_live("t").collect()}
        assert live == set(range(20)) - {3, 7}

    def test_tombstones_accumulate_and_dedupe(self, spark, cat):
        cat.soft_delete_keys("t", spark.createDataFrame([(1,), (2,)], "k long"))
        cat.soft_delete_keys("t", spark.createDataFrame([(2,), (5,)], "k long"))
        assert cat.tombstones("t").count() == 3
        assert cat.table_live("t").count() == 17

    def test_apply_tombstones_rewrites_and_clears(self, spark, cat):
        cat.soft_delete_keys("t", spark.createDataFrame([(0,), (19,)], "k long"))
        cat.apply_tombstones("t")
        assert cat.tombstones("t") is None
        # post-compaction the base table itself has the rows gone
        assert {r["k"] for r in cat.table("t").collect()} == set(range(1, 19))
        # idempotent no-op afterwards
        cat.apply_tombstones("t")
        assert cat.table("t").count() == 18

    def test_empty_and_missing_guards(self, spark, cat):
        import pytest as _pytest

        from agol_pandas_spark.errors import EmptyInputError, TableNotFoundError

        with _pytest.raises(EmptyInputError):
            cat.soft_delete_keys(
                "t", spark.createDataFrame([], "k long")
            )
        with _pytest.raises(TableNotFoundError):
            cat.soft_delete_keys(
                "nope", spark.createDataFrame([(1,)], "k long")
            )

    def test_drop_removes_sidecar(self, spark, cat):
        import os

        cat.soft_delete_keys("t", spark.createDataFrame([(1,)], "k long"))
        side = cat._tombstone_path("t")
        assert os.path.exists(side)
        cat.drop("t")
        assert not os.path.exists(side)


class TestRefreshJoinView:
    """operators/views.py: incremental join-view maintenance."""

    def test_refresh_appends_delta_join_and_carries_files(self, spark, tmp_path):
        import os

        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.operators.views import refresh_join_view

        cat = Catalog(spark, str(tmp_path))
        dim = spark.createDataFrame([(1, "x"), (2, "y")], "k long, attr string")
        fact0 = spark.createDataFrame([(10, 1), (11, 2)], "fid long, k long")
        cat.write(fact0.join(dim, "k"), "v", mode="error")
        inodes = {os.path.basename(p): os.stat(p).st_ino
                  for p in cat.data_files("v")}
        delta = spark.createDataFrame([(12, 1), (13, 9)], "fid long, k long")
        stats = refresh_join_view(cat, "v", delta, dim, "k")
        assert stats["files_total"] > stats["files_carried"] > 0
        after = {os.path.basename(p): os.stat(p).st_ino
                 for p in cat.data_files("v")}
        assert all(after[b] == i for b, i in inodes.items())
        got = sorted((r.fid, r.k, r.attr) for r in cat.table("v").collect())
        # k=9 has no dim row -> inner join drops it, like a full re-derive
        assert got == [(10, 1, "x"), (11, 2, "y"), (12, 1, "x")]

    def test_refresh_rejects_bad_inputs(self, spark, tmp_path):
        import pytest as _pytest

        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.errors import EmptyInputError, TableNotFoundError
        from agol_pandas_spark.operators.views import refresh_join_view

        cat = Catalog(spark, str(tmp_path))
        dim = spark.createDataFrame([(1, "x")], "k long, attr string")
        delta = spark.createDataFrame([(12, 1)], "fid long, k long")
        with _pytest.raises(TableNotFoundError):
            refresh_join_view(cat, "missing", delta, dim, "k")
        cat.write(delta.join(dim, "k"), "v", mode="error")
        with _pytest.raises(ValueError):
            refresh_join_view(cat, "v", delta, dim, "k", how="full")
        with _pytest.raises(EmptyInputError):
            refresh_join_view(cat, "v", delta.filter("fid < 0"), dim, "k")


class TestStorageStats:
    """Catalog.storage_stats: distributed footer sweep vs DuckDB's
    parquet_metadata ground truth."""

    def test_matches_duckdb_parquet_metadata(self, spark, tmp_path, sf_dir):
        import duckdb

        from agol_pandas_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path))
        src = Catalog(spark, sf_dir).table("orders").repartition(4)
        cat.write(src, "o", mode="error")
        got = {
            (r.column,): (r.n_row_groups, r.n_values,
                          r.compressed_bytes, r.uncompressed_bytes)
            for r in cat.storage_stats("o")
            .groupBy("column")
            .agg(
                F.sum("n_row_groups").alias("n_row_groups"),
                F.sum("n_values").alias("n_values"),
                F.sum("compressed_bytes").alias("compressed_bytes"),
                F.sum("uncompressed_bytes").alias("uncompressed_bytes"),
            )
            .collect()
        }
        con = duckdb.connect()
        files = cat.data_files("o")
        want = {}
        for r in con.execute(
            "SELECT path_in_schema, COUNT(*), SUM(num_values), "
            "SUM(total_compressed_size), SUM(total_uncompressed_size) "
            f"FROM parquet_metadata({files!r}) GROUP BY 1"
        ).fetchall():
            want[(r[0],)] = (int(r[1]), int(r[2]), int(r[3]), int(r[4]))
        assert got == want
        assert len(got) == len(src.columns)


class TestWriteAuditPublish:
    """operators/views.write_audit_publish_branch mechanism: staging isolation,
    crash recovery, and publish atomicity."""

    def _cat(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path))
        t = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
        cat.write(t, "t", mode="error")
        return cat

    def test_stale_audit_branch_from_crash_is_replaced(self, spark, tmp_path):
        from agol_pandas_spark.operators.views import write_audit_publish_branch

        cat = self._cat(spark, tmp_path)
        # simulate a crash AFTER staging, BEFORE publish: a stale branch
        # left on disk with garbage contents
        stale = spark.createDataFrame([(99, -1.0)], "k long, v double")
        cat.write(stale, "t__audit", mode="error")
        good = spark.createDataFrame([(3, 30.0)], "k long, v double")
        write_audit_publish_branch(cat, "t", good, {"v_pos": "v > 0"},
                            mode="upsert", key="k")
        got = sorted(tuple(r) for r in cat.table("t").collect())
        # the stale branch's garbage row must NOT leak into the publish
        assert got == [(1, 10.0), (2, 20.0), (3, 30.0)]
        assert not cat.exists("t__audit")

    def test_failed_audit_drops_branch_and_preserves_versions(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from agol_pandas_spark.errors import ConstraintViolationError
        from agol_pandas_spark.operators.views import write_audit_publish_branch

        cat = self._cat(spark, tmp_path)
        bad = spark.createDataFrame([(3, -5.0)], "k long, v double")
        with _pytest.raises(ConstraintViolationError) as ei:
            write_audit_publish_branch(cat, "t", bad, {"v_pos": "v > 0"},
                                mode="upsert", key="k")
        assert ei.value.counts == {"v_pos": 1}
        assert not cat.exists("t__audit")
        assert sorted(tuple(r) for r in cat.table("t").collect()) == [
            (1, 10.0), (2, 20.0),
        ]

    def test_publish_with_versioning_enables_rollback(self, spark, tmp_path):
        from agol_pandas_spark.operators.views import write_audit_publish_branch

        cat = self._cat(spark, tmp_path)
        good = spark.createDataFrame([(2, 99.0)], "k long, v double")
        write_audit_publish_branch(cat, "t", good, {"v_pos": "v > 0"},
                            mode="upsert", key="k", keep_versions=2)
        assert cat.versions("t")
        cat.restore("t", cat.versions("t")[-1])
        assert sorted(tuple(r) for r in cat.table("t").collect()) == [
            (1, 10.0), (2, 20.0),
        ]


def test_compact_selective_rewrites_only_small_files(spark, tmp_path):
    """Only sub-threshold files are rewritten; well-sized files carry by
    hard link (same inode); fewer than two small files is a no-op."""
    import os

    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(0, 20_000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    big = df.filter(F.col("id") % 10 != 0).coalesce(1)
    frags = df.filter(F.col("id") % 10 == 0).repartition(12)
    cat.write(big.unionByName(frags), "t", mode="error")

    p = cat.path("t")
    files = sorted(
        (os.path.getsize(os.path.join(p, f)), f)
        for f in os.listdir(p) if f.endswith(".parquet")
    )
    big_name = files[-1][1]
    inode = os.stat(os.path.join(p, big_name)).st_ino
    before = sorted(map(tuple, cat.table("t").collect()))

    stats = cat.compact_selective("t", min_file_bytes=files[-1][0])
    assert stats["rewritten"] == len(files) - 1 and stats["carried"] == 1
    survivors = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert len(survivors) == 2
    assert os.stat(os.path.join(p, big_name)).st_ino == inode
    assert sorted(map(tuple, cat.table("t").collect())) == before

    # second pass: one small file left -> no-op, nothing touched
    mtimes = {f: os.stat(os.path.join(p, f)).st_mtime_ns for f in survivors}
    stats2 = cat.compact_selective("t", min_file_bytes=files[-1][0])
    assert stats2 == {"rewritten": 0, "carried": 2, "path": None}
    assert {
        f: os.stat(os.path.join(p, f)).st_mtime_ns for f in survivors
    } == mtimes


def test_tag_lifecycle(spark, tmp_path):
    """Tags pin by hard link (same inode), survive overwrite + vacuum,
    list/drop correctly, and re-tagging raises."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import TableExistsError, TableNotFoundError

    cat = Catalog(spark, str(tmp_path))
    v1 = spark.range(0, 100).select(F.col("id").alias("k"))
    cat.write(v1.coalesce(1), "t", mode="error")
    p = cat.path("t")
    data_file = next(f for f in os.listdir(p) if f.endswith(".parquet"))
    src_inode = os.stat(os.path.join(p, data_file)).st_ino

    cat.tag_snapshot("t", "rel_1")
    tag_dir = cat._tag_path("t", "rel_1")
    assert os.stat(os.path.join(tag_dir, data_file)).st_ino == src_inode
    assert cat.tags("t") == ["rel_1"]
    with pytest.raises(TableExistsError):
        cat.tag_snapshot("t", "rel_1")

    # overwrite + vacuum: the tag still reads v1
    cat.write(
        spark.range(100, 150).select(F.col("id").alias("k")),
        "t", mode="overwrite", keep_versions=1,
    )
    cat.vacuum("t")
    assert cat.table_at_tag("t", "rel_1").count() == 100
    assert cat.table("t").count() == 50

    cat.drop_tag("t", "rel_1")
    assert cat.tags("t") == []
    with pytest.raises(TableNotFoundError):
        cat.table_at_tag("t", "rel_1")


def test_branch_fork_publish_and_drop(spark, tmp_path):
    """Branches fork by hard link, isolate writes both directions,
    publish by fast-forward swap (archiving the displaced parent when
    versioned), and re-branching an existing name raises."""
    import os

    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import TableExistsError, TableNotFoundError
    from agol_pandas_spark.operators.merge import write_table

    cat = Catalog(spark, str(tmp_path / "br"))
    base = spark.createDataFrame([(i, i * 10) for i in range(6)], "k long, v long")
    cat.write(base, "t", mode="error")
    main_inodes = {os.stat(f).st_ino for f in cat.data_files("t")}

    bname = cat.branch_table("t", "exp")
    assert {os.stat(f).st_ino for f in cat.data_files(bname)} == main_inodes

    try:
        cat.branch_table("t", "exp")
        raise AssertionError("re-branch must raise")
    except TableExistsError:
        pass

    # mutate branch: parent untouched (inodes AND contents)
    delta = spark.createDataFrame([(2, 999)], "k long, v long")
    write_table(cat, delta, bname, mode="upsert", key="k")
    assert {os.stat(f).st_ino for f in cat.data_files("t")} == main_inodes
    assert cat.table("t").filter(F.col("k") == 2).first().v == 20

    # mutate parent post-fork: branch keeps its own state
    write_table(cat, spark.createDataFrame([(5, -1)], "k long, v long"),
                "t", mode="upsert", key="k")
    assert cat.table(bname).filter(F.col("k") == 5).first().v == 50

    # publish fast-forwards parent to branch state (branch's k=2 edit,
    # NOT the parent's k=5 edit — publish is a fast-forward, not a merge)
    cat.publish_branch("t", "exp", keep_versions=1)
    got = {r.k: r.v for r in cat.table("t").collect()}
    assert got == {0: 0, 1: 10, 2: 999, 3: 30, 4: 40, 5: 50}
    assert not cat.exists(bname)  # dropped after publish
    assert cat.versions("t"), "displaced parent snapshot must archive"

    try:
        cat.publish_branch("t", "nope")
        raise AssertionError("publishing a missing branch must raise")
    except TableNotFoundError:
        pass


def test_copies_of_nested_layout_keep_source_and_partition_column(
    spark, tmp_path
):
    """A table written by an external ``partitionBy`` writer has the
    same file name under ``k=0/`` and ``k=1/``. Clone, branch, tag,
    publish and a pruned append must leave the source's bytes alone and
    give copies that read the source's rows with ``k`` present."""
    import hashlib

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(40).select("id", (F.col("id") % 2).alias("k"))
    df.coalesce(2).write.partitionBy("k").parquet(cat.path("t"))
    rps = cat._list_names(cat.path("t"))
    assert len({os.path.basename(rp) for rp in rps}) < len(rps)

    def digests(path):
        out = {}
        for rp in cat._list_names(path):
            with open(os.path.join(path, rp), "rb") as f:
                out[rp] = hashlib.sha256(f.read()).hexdigest()
        return out

    def rows(df):
        return sorted((r["id"], r["k"]) for r in df.collect())

    src = digests(cat.path("t"))
    want = [(i, i % 2) for i in range(40)]
    assert rows(cat.table("t")) == want

    def check(copy):
        assert digests(cat.path("t")) == src
        assert digests(copy) == src
        assert rows(spark.read.parquet(copy)) == want

    cat.clone("t", "c")
    check(cat.path("c"))
    check(cat.path(cat.branch_table("t", "b")))
    cat.tag_snapshot("t", "r")
    check(cat._tag_path("t", "r"))

    cat.publish_branch("t", "b")
    assert digests(cat.path("t")) == src
    assert rows(cat.table("t")) == want

    extra = spark.createDataFrame([(100, 0), (101, 1)], "id long, k int")
    write_table(cat, extra, "t", mode="append", prune=True)
    assert digests(cat.path("c")) == src
    assert rows(cat.table("c")) == want
    assert rows(cat.table("t")) == want + [(100, 0), (101, 1)]


def test_clone_and_branch_carry_commit_id_and_props(spark, tmp_path):
    """A fresh clone or branch has its own commit id, so its first
    read-modify-write is OCC-guarded, and carries the source's snapshot
    props without ``data_change`` — through publish too."""
    from agol_pandas_spark.catalog import DATA_CHANGE_PROP
    from agol_pandas_spark.errors import ConcurrentWriteError

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(30).select(F.col("id").alias("k"))
    cat.write(df.repartition(3), "t", snapshot_props={"m": 1})
    cat.compact("t")
    assert cat.snapshot_props("t") == {"m": 1, DATA_CHANGE_PROP: False}

    cat.clone("t", "c")
    pub = cat.branch_table("t", "pub")
    for name in ("c", pub):
        assert cat.commit_id(name) is not None
        assert cat.snapshot_props(name) == {"m": 1}
    cat.publish_branch("t", "pub")
    assert cat.snapshot_props("t") == {"m": 1}

    occ = cat.branch_table("t", "occ")
    stale = cat.commit_id(occ)
    assert stale is not None
    cat.write(df.limit(5), occ, mode="overwrite")
    with pytest.raises(ConcurrentWriteError):
        cat.write(df.limit(7), occ, mode="overwrite", expected_commit=stale)
    assert cat.table(occ).count() == 5


def test_optimistic_concurrency_conflict(spark, tmp_path):
    """write(expected_commit=...) refuses the swap when another writer
    committed in between (no lost update), discards the staged dir,
    and succeeds after re-read; tables keep a commit id across swaps."""
    import os

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import ConcurrentWriteError

    cat = Catalog(spark, str(tmp_path / "occ"))
    base = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    cat.write(base, "t", mode="error")
    token = cat.commit_id("t")
    assert token is not None

    # writer B sneaks in
    cat.write(base.withColumn("v", base.v + 1), "t", mode="overwrite")
    assert cat.commit_id("t") != token

    # writer A's conditional overwrite must refuse and leave no litter
    try:
        cat.write(base.withColumn("v", base.v * 100), "t",
                  mode="overwrite", expected_commit=token)
        raise AssertionError("stale expected_commit must raise")
    except ConcurrentWriteError:
        pass
    assert {r.k: r.v for r in cat.table("t").collect()} == {1: 11, 2: 21}
    litter = [d for d in os.listdir(str(tmp_path / "occ")) if "__tmp" in d]
    assert litter == []

    # re-read and retry succeeds
    fresh = cat.commit_id("t")
    cat.write(base.withColumn("v", base.v * 100), "t",
              mode="overwrite", expected_commit=fresh)
    assert {r.k: r.v for r in cat.table("t").collect()} == {1: 1000, 2: 2000}


def test_write_local_failed_swap_keeps_old_table(
    spark, tmp_path, monkeypatch
):
    """write_local over a directory-shaped table moves the old snapshot
    aside before the swap; if the swap fails, the old table must still
    read its old rows and no staged or backup sibling may be left."""
    import pyarrow as pa

    cat = Catalog(spark, str(tmp_path))
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    cat.write(old, "t")
    new = pa.table({"k": [9], "s": ["z"]})

    def boom(src, dst):
        raise OSError("injected swap failure")

    monkeypatch.setattr(catalog_mod.os, "replace", boom)
    with pytest.raises(OSError, match="injected swap failure"):
        cat.write_local(new, "t", mode="overwrite")
    monkeypatch.undo()
    assert sorted(map(tuple, cat.table("t").collect())) == [(1, "a"), (2, "b")]
    assert [
        f for f in os.listdir(tmp_path) if "__tmp_" in f or "__old_" in f
    ] == []
    # and the swap itself still replaces the directory when it succeeds
    cat.write_local(new, "t", mode="overwrite")
    assert os.path.isfile(cat.path("t"))
    assert [tuple(r) for r in cat.table("t").collect()] == [(9, "z")]
    # a snapshot overwrite of the single-file table deletes its backup
    cat.write(old, "t", mode="overwrite")
    assert os.listdir(tmp_path) == ["t.parquet"]


def test_interrupted_final_rename_keeps_old_table(spark, tmp_path, monkeypatch):
    """A KeyboardInterrupt at the rename that moves the staged snapshot
    in rolls the overwrite back: the table still exists and reads its
    old rows (before, the displaced snapshot was deleted and the table
    vanished)."""
    cat = Catalog(spark, str(tmp_path))
    schema = "k long, s string"
    cat.write(spark.createDataFrame([(1, "a"), (2, "b")], schema), "t")
    new = spark.createDataFrame([(9, "z")], schema)

    def interrupt_staged(fn):
        def call(src, dst, *args, **kwargs):
            if "__tmp_" in os.path.basename(src):
                raise KeyboardInterrupt
            return fn(src, dst, *args, **kwargs)

        return call

    with monkeypatch.context() as m:
        for attr in ("rename", "replace"):
            m.setattr(catalog_mod.os, attr, interrupt_staged(getattr(os, attr)))
        with pytest.raises(KeyboardInterrupt):
            cat.write(new, "t", mode="overwrite")
    assert cat.exists("t")
    assert sorted(map(tuple, cat.table("t").collect())) == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("identity", ["auto", "manifest"])
class TestMultiWriterOcc:
    """VERDICT r6 item 5: the pruned-merge / compaction / carryover trio
    under a deterministic two-writer interleave — the stale writer's
    commit RAISES (never a silent lost update) and retries cleanly.

    Parametrized over the file-identity evidence the base snapshot
    carries: ``manifest`` is an engine-written manifest list; ``auto``
    is a snapshot with its manifest stripped (a pre-manifest table,
    which diffs unpruned). OCC is enforced by the commit-id token, not
    by how file identity is evidenced, so both must hold the same
    guarantees."""

    def _table(self, spark, tmp_path, identity):
        cat = Catalog(spark, str(tmp_path))
        base = spark.createDataFrame(
            [(i, f"v{i}", float(i)) for i in range(100)],
            "k long, s string, v double",
        )
        cat.write(
            base.repartitionByRange(4, "k").sortWithinPartitions("k"),
            "t", mode="error",
        )
        if identity == "auto":
            os.remove(os.path.join(cat.path("t"), MANIFEST_NAME))
            assert cat.snapshot_manifest(cat.path("t")) is None
        return cat

    def test_stale_carryover_commit_refused_then_retries(
        self, spark, tmp_path, identity
    ):
        import os

        from agol_pandas_spark.errors import ConcurrentWriteError
        from agol_pandas_spark.operators.merge import merge_pruned

        cat = self._table(spark, tmp_path, identity)
        # writer B stages: reads token + file listing, builds its output
        token_b = cat.commit_id("t")
        files_b = cat.data_files("t")
        b_out = spark.createDataFrame([(200, "B", 1.0)], "k long, s string, v double")
        b_out = b_out.localCheckpoint(eager=True)  # B's read really happened pre-A

        # writer A commits first (pruned upsert bumps the commit id)
        a_delta = spark.createDataFrame([(3, "A", -3.0)], "k long, s string, v double")
        merge_pruned(cat, a_delta, "t", "upsert", "k")
        assert {r.s for r in cat.table("t").filter("k = 3").collect()} == {"A"}

        # B's carryover commit against the stale listing must refuse
        with pytest.raises(ConcurrentWriteError):
            cat.write_with_carryover(b_out, "t", files_b, expected_commit=token_b)
        # A's effect intact, no staged litter
        assert {r.s for r in cat.table("t").filter("k = 3").collect()} == {"A"}
        litter = [d for d in os.listdir(str(tmp_path)) if "__tmp" in d]
        assert litter == [], litter

        # B retries against fresh state through the same pruned path
        merge_pruned(cat, b_out, "t", "upsert", "k")
        got = {r.k: r.s for r in cat.table("t").filter("k in (3, 200)").collect()}
        assert got == {3: "A", 200: "B"}  # both effects compose
        assert cat.table("t").count() == 101

    def test_pruned_merge_detects_mid_flight_writer(
        self, spark, tmp_path, monkeypatch, identity
    ):
        """A writer that lands BETWEEN merge_pruned's footer-span read and
        its commit used to be silently reverted (its files dropped from
        the snapshot B links forward). Now the commit refuses."""
        import importlib

        from agol_pandas_spark.errors import ConcurrentWriteError

        merge_mod = importlib.import_module("agol_pandas_spark.operators.merge")

        cat = self._table(spark, tmp_path, identity)
        a_delta = spark.createDataFrame([(7, "A", 0.0)], "k long, s string, v double")
        b_delta = spark.createDataFrame([(90, "B", 0.0)], "k long, s string, v double")

        orig = merge_mod._touched_paths
        fired = {"n": 0}

        def sneaky(*args, **kwargs):
            out = orig(*args, **kwargs)
            if fired["n"] == 0:  # writer A lands while B is mid-merge
                fired["n"] = 1
                merge_mod.merge_pruned(cat, a_delta, "t", "upsert", "k")
            return out

        monkeypatch.setattr(merge_mod, "_touched_paths", sneaky)
        with pytest.raises(ConcurrentWriteError):
            merge_mod.merge_pruned(cat, b_delta, "t", "upsert", "k")
        monkeypatch.setattr(merge_mod, "_touched_paths", orig)

        # A's mid-flight commit survived; B retries and composes
        assert {r.s for r in cat.table("t").filter("k = 7").collect()} == {"A"}
        merge_mod.merge_pruned(cat, b_delta, "t", "upsert", "k")
        got = {r.k: r.s for r in cat.table("t").filter("k in (7, 90)").collect()}
        assert got == {7: "A", 90: "B"}
        assert cat.table("t").count() == 100

    def test_compaction_racing_writer_refused(
        self, spark, tmp_path, monkeypatch, identity
    ):
        """Selective compaction lists small files, then a writer lands
        before the compaction commit: the compaction must refuse (its
        carryover would resurrect the pre-writer state)."""
        from agol_pandas_spark.errors import ConcurrentWriteError
        from agol_pandas_spark.operators.merge import write_table

        cat = self._table(spark, tmp_path, identity)
        raced = {"done": False}
        orig_carry = cat.write_with_carryover

        def racing_carry(df, name, carry_files, keep_versions=0,
                         expected_commit=None, **kw):
            if not raced["done"]:
                raced["done"] = True
                write_table(
                    cat,
                    spark.createDataFrame([(500, "W", 0.0)],
                                          "k long, s string, v double"),
                    "t", mode="append",
                )
            return orig_carry(df, name, carry_files, keep_versions,
                              expected_commit=expected_commit, **kw)

        monkeypatch.setattr(cat, "write_with_carryover", racing_carry)
        with pytest.raises(ConcurrentWriteError):
            cat.compact_selective("t", min_file_bytes=10**9)
        monkeypatch.undo()
        # the racing writer's row survived; compaction retries cleanly
        assert cat.table("t").filter("k = 500").count() == 1
        res = cat.compact_selective("t", min_file_bytes=10**9)
        assert res["rewritten"] >= 2
        assert cat.table("t").filter("k = 500").count() == 1
        assert cat.table("t").count() == 101


class TestTableChanges:
    """Snapshot-diff change data feed (Catalog.table_changes) — the
    Delta-CDF row shape: insert/delete + both update images, unchanged
    rows emit nothing."""

    def _two_versions(self, spark, tmp_path):
        from agol_pandas_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "cdf"))
        v1 = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (5, None, 50.0)],
            "k int, s string, v double",
        )
        v2 = spark.createDataFrame(
            [(2, "b", 20.0), (3, "c", 99.0), (4, "d", 40.0), (5, None, 50.0)],
            "k int, s string, v double",
        )
        cat.write(v1, "t")
        cat.write(v2, "t", mode="overwrite", keep_versions=2)
        return cat

    def test_cdf_shape_and_images(self, spark, tmp_path):
        cat = self._two_versions(spark, tmp_path)
        got = sorted(
            tuple(r) for r in cat.table_changes("t", 1, key="k").collect()
        )
        assert got == [
            (1, "a", 10.0, "delete"),
            (3, "c", 30.0, "update_preimage"),
            (3, "c", 99.0, "update_postimage"),
            (4, "d", 40.0, "insert"),
        ]  # unchanged rows (2 and the null-valued 5) emit nothing

    def test_key_defaults_from_declaration(self, spark, tmp_path):
        cat = self._two_versions(spark, tmp_path)
        cat.set_declared_key("t", "k")
        types = {r["_change_type"] for r in cat.table_changes("t", 1).collect()}
        assert types == {"insert", "delete", "update_preimage", "update_postimage"}

    def test_missing_key_raises(self, spark, tmp_path):
        from agol_pandas_spark.errors import MissingKeyError

        cat = self._two_versions(spark, tmp_path)
        with pytest.raises(MissingKeyError, match="declared key"):
            cat.table_changes("t", 1)
        with pytest.raises(MissingKeyError, match="not in"):
            cat.table_changes("t", 1, key="nope")

    def test_identical_snapshots_empty_feed(self, spark, tmp_path):
        cat = self._two_versions(spark, tmp_path)
        # current vs current-as-archived: restore archives the displaced
        # v2; diffing v2's archive against current(v2 restored) is empty
        assert cat.table_changes("t", 1, to_version=1, key="k").count() == 0

    def test_null_keys_pair_null_safely(self, spark, tmp_path):
        from agol_pandas_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "nullk"))
        v1 = spark.createDataFrame([(None, 1.0), (7, 2.0)], "k int, v double")
        v2 = spark.createDataFrame([(None, 9.0), (7, 2.0)], "k int, v double")
        cat.write(v1, "t")
        cat.write(v2, "t", mode="overwrite", keep_versions=2)
        got = sorted(
            (r["_change_type"], r["v"])
            for r in cat.table_changes("t", 1, key="k").collect()
        )
        # the NULL key matches itself (eqNullSafe): an update, not a
        # delete+insert pair
        assert got == [("update_postimage", 9.0), ("update_preimage", 1.0)]

    def test_schema_drift_raises(self, spark, tmp_path):
        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.errors import SchemaMismatchError

        cat = Catalog(spark, str(tmp_path / "drift"))
        cat.write(spark.createDataFrame([(1, "a")], "k int, s string"), "t")
        cat.write(
            spark.createDataFrame([(1, 2.0)], "k int, z double"),
            "t", mode="overwrite", keep_versions=2,
        )
        with pytest.raises(SchemaMismatchError, match="differ in columns"):
            cat.table_changes("t", 1, key="k")


class TestTableChangesFilePruning:
    """CDF shared-inode pruning: files carried by hard link between
    snapshots are provably change-free and must be excluded from BOTH
    join sides before any byte is read."""

    def test_pruned_feed_reads_only_rewritten_files(self, spark, tmp_path):
        from agol_pandas_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "cdfprune"))
        base = spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
        cat.write(base.repartitionByRange(4, "k"), "t")
        spans = cat.file_key_spans("t", ["k"])
        dirty = next(s for s in spans if s["min"]["k"] <= 35 <= s["max"]["k"])
        carry = [s["path"] for s in spans if s["path"] != dirty["path"]]
        assert len(carry) == 3
        touched = (
            spark.read.parquet(dirty["path"])
            .withColumn("v", F.col("v") + 1000.0)
            .coalesce(1)
        )
        cat.write_with_carryover(touched, "t", carry, keep_versions=1)

        pruned = cat.table_changes("t", 1, key="k")
        full = cat.table_changes("t", 1, key="k", prune_shared_files=False)
        lo, hi = dirty["min"]["k"], dirty["max"]["k"]
        want = sorted(
            [(k, float(k), "update_preimage") for k in range(lo, hi + 1)]
            + [(k, float(k) + 1000.0, "update_postimage") for k in range(lo, hi + 1)]
        )
        assert sorted(tuple(r) for r in pruned.collect()) == want
        assert sorted(tuple(r) for r in full.collect()) == want
        # the pruned plan never opens the 3 carried files on either side
        read = {os.path.basename(f) for f in pruned.inputFiles()}
        carried_names = {os.path.basename(c) for c in carry}
        assert not (read & carried_names)
        # 1 archived dirty file + 1 rewritten file
        assert len(read) == 2
        full_read = {os.path.basename(f) for f in full.inputFiles()}
        assert full_read & carried_names  # the unpruned feed does open them

    def test_all_shared_yields_empty_feed_without_scanning(self, spark, tmp_path):
        from agol_pandas_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "cdfnoop"))
        base = spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        cat.write(base, "t")
        carry = cat.data_files("t")
        # a pure-carryover commit: nothing rewritten, everything linked
        cat.write_with_carryover(
            spark.createDataFrame([], "k long, v double"), "t", carry,
            keep_versions=1,
        )
        feed = cat.table_changes("t", 1, key="k")
        assert feed.count() == 0
        # every data file is inode-shared: the feed reads none of them
        carried_names = {os.path.basename(c) for c in carry}
        assert not ({os.path.basename(f) for f in feed.inputFiles()} & carried_names)


def test_table_changes_between_tags(spark, tmp_path):
    """Tag-addressed CDF: 'what changed since the snapshot that trained
    model X' — tags pin by hard link, so only files rewritten since the
    tag was minted are opened."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import TableNotFoundError

    cat = Catalog(spark, str(tmp_path / "tagcdf"))
    base = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    cat.write(base.repartitionByRange(4, "k"), "t")
    cat.tag_snapshot("t", "trained_v1")
    spans = cat.file_key_spans("t", ["k"])
    dirty = next(s for s in spans if s["min"]["k"] <= 35 <= s["max"]["k"])
    carry = [s["path"] for s in spans if s["path"] != dirty["path"]]
    touched = (
        spark.read.parquet(dirty["path"])
        .withColumn("v", F.col("v") + 1000.0)
        .coalesce(1)
    )
    cat.write_with_carryover(touched, "t", carry)

    feed = cat.table_changes_between_tags("t", "trained_v1", key="k")
    lo, hi = dirty["min"]["k"], dirty["max"]["k"]
    got = sorted(tuple(r) for r in feed.collect())
    want = sorted(
        [(k, float(k), "update_preimage") for k in range(lo, hi + 1)]
        + [(k, float(k) + 1000.0, "update_postimage") for k in range(lo, hi + 1)]
    )
    assert got == want
    # tag pin shares inodes with the carried files: neither side opens them
    carried_names = {os.path.basename(c) for c in carry}
    assert not ({os.path.basename(f) for f in feed.inputFiles()} & carried_names)
    with pytest.raises(TableNotFoundError, match="no tag"):
        cat.table_changes_between_tags("t", "nope", key="k")


class TestApplyCdfToSummary:
    """Algebraic incremental maintenance of a grouped count/sum summary
    from a change feed (views.apply_cdf_to_summary)."""

    def _feed(self, spark, rows):
        return spark.createDataFrame(
            rows, "g string, v long, _change_type string"
        )

    def _summary(self, spark, rows):
        return spark.createDataFrame(rows, "g string, n_rows long, v_sum long")

    def test_signed_delta_algebra(self, spark):
        from agol_pandas_spark.operators.views import apply_cdf_to_summary

        summary = self._summary(spark, [("a", 2, 30), ("b", 1, 5)])
        feed = self._feed(
            spark,
            [
                ("a", 10, "insert"),             # a: count+1, sum+10
                ("b", 5, "update_preimage"),     # b: value 5 -> 9
                ("b", 9, "update_postimage"),
                ("c", 7, "insert"),              # new group appears
            ],
        )
        got = {
            r["g"]: (r["n_rows"], r["v_sum"])
            for r in apply_cdf_to_summary(
                summary, feed, ["g"], {"v_sum": "v"}
            ).collect()
        }
        assert got == {"a": (3, 40), "b": (1, 9), "c": (1, 7)}

    def test_groups_vanish_at_zero_and_null_groups_merge(self, spark):
        from agol_pandas_spark.operators.views import apply_cdf_to_summary

        summary = self._summary(spark, [("a", 1, 10), (None, 2, 8)])
        feed = self._feed(
            spark,
            [
                ("a", 10, "delete"),   # last row of a: group vanishes
                (None, 4, "delete"),   # NULL group pairs null-safely
            ],
        )
        got = {
            r["g"]: (r["n_rows"], r["v_sum"])
            for r in apply_cdf_to_summary(
                summary, feed, ["g"], {"v_sum": "v"}
            ).collect()
        }
        assert got == {None: (1, 4)}

    def test_maintained_equals_recompute_end_to_end(self, spark, tmp_path):
        """Summary maintained from the real table_changes feed must equal
        a from-scratch recompute of the new snapshot."""
        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.operators.views import apply_cdf_to_summary

        cat = Catalog(spark, str(tmp_path / "ivm"))
        v1 = spark.createDataFrame(
            [(k, f"g{k % 3}", k * 10) for k in range(30)],
            "k long, g string, v long",
        )
        v2 = spark.createDataFrame(
            [(k, f"g{k % 3}", k * 10 + (7 if k % 5 == 0 else 0))
             for k in range(3, 36)],
            "k long, g string, v long",
        )
        cat.write(v1, "t")
        cat.write(v2, "t", mode="overwrite", keep_versions=1)
        summary_v1 = v1.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v_sum")
        )
        maintained = apply_cdf_to_summary(
            summary_v1, cat.table_changes("t", 1, key="k"),
            ["g"], {"v_sum": "v"},
        )
        recomputed = v2.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v_sum")
        )
        assert sorted(map(tuple, maintained.collect())) == sorted(
            map(tuple, recomputed.collect())
        )

    def test_count_col_collision_raises(self, spark):
        from agol_pandas_spark.operators.views import apply_cdf_to_summary

        with pytest.raises(ValueError, match="collides"):
            apply_cdf_to_summary(
                self._summary(spark, []), self._feed(spark, []),
                ["g"], {"n_rows": "v"},
            )

    def _summary_mm(self, spark, rows):
        return spark.createDataFrame(
            rows, "g string, n_rows long, v_sum long, v_max long, v_min long"
        )

    def test_minmax_insert_only_maintained_without_rescan(self, spark):
        """Insert-only feeds maintain min/max exactly — no rescan, no
        refusal: new values fold in via greatest/least, untouched groups
        keep their stored extremes, new groups take the feed's."""
        from agol_pandas_spark.operators.views import apply_cdf_to_summary

        summary = self._summary_mm(
            spark, [("a", 2, 30, 20, 10), ("b", 1, 5, 5, 5)]
        )
        feed = self._feed(
            spark, [("a", 25, "insert"), ("c", 7, "insert")]
        )
        got = {
            r["g"]: (r["n_rows"], r["v_sum"], r["v_max"], r["v_min"])
            for r in apply_cdf_to_summary(
                summary, feed, ["g"], {"v_sum": "v"},
                maxs={"v_max": "v"}, mins={"v_min": "v"},
            ).collect()
        }
        assert got == {
            "a": (3, 55, 25, 10),
            "b": (1, 5, 5, 5),
            "c": (1, 7, 7, 7),
        }

    def test_minmax_retraction_without_rescan_refuses(self, spark):
        """A delete may remove the current extreme; without the new
        snapshot the runner-up is unknowable — typed refusal, never a
        silently-stale extreme (VERDICT r7 item 4)."""
        from agol_pandas_spark.errors import UnsupportedMeasureError
        from agol_pandas_spark.operators.views import apply_cdf_to_summary

        summary = self._summary_mm(spark, [("a", 2, 30, 20, 10)])
        feed = self._feed(spark, [("a", 20, "delete")])
        with pytest.raises(UnsupportedMeasureError, match="retracts"):
            apply_cdf_to_summary(
                summary, feed, ["g"], {"v_sum": "v"},
                maxs={"v_max": "v"},
            ).collect()

    def test_minmax_with_rescan_targets_retracted_groups_only(self, spark):
        """With rescan=<new snapshot>, retracted groups recompute their
        extremes from a TARGETED semi-joined scan; insert-only groups
        never touch the rescan (proven by feeding a rescan frame that is
        WRONG for the insert-only group — its maintained value wins)."""
        from agol_pandas_spark.operators.views import apply_cdf_to_summary

        summary = self._summary_mm(
            spark, [("a", 3, 60, 30, 10), ("b", 1, 5, 5, 5)]
        )
        feed = self._feed(
            spark,
            [
                ("a", 30, "delete"),   # retracts a's max: rescan decides
                ("b", 9, "insert"),    # insert-only: maintained, no rescan
            ],
        )
        # new snapshot: a = {10, 20}; b's rows are deliberately poisoned —
        # a correct implementation must not read them for group b
        rescan = spark.createDataFrame(
            [("a", 10), ("a", 20), ("b", -999), ("b", 999)], "g string, v long"
        )
        got = {
            r["g"]: (r["n_rows"], r["v_sum"], r["v_max"], r["v_min"])
            for r in apply_cdf_to_summary(
                summary, feed, ["g"], {"v_sum": "v"},
                maxs={"v_max": "v"}, mins={"v_min": "v"}, rescan=rescan,
            ).collect()
        }
        assert got == {"a": (2, 30, 20, 10), "b": (2, 14, 9, 5)}

    def test_minmax_maintained_equals_recompute_via_table_changes(
        self, spark, tmp_path
    ):
        """End-to-end: min/max maintained from the real CDF with rescan
        equals a from-scratch recompute of the new snapshot."""
        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.operators.views import apply_cdf_to_summary

        cat = Catalog(spark, str(tmp_path / "ivm_mm"))
        v1 = spark.createDataFrame(
            [(k, f"g{k % 3}", (k * 37) % 101) for k in range(40)],
            "k long, g string, v long",
        )
        v2 = spark.createDataFrame(
            [(k, f"g{k % 3}", ((k * 37) % 101) + (50 if k % 7 == 0 else 0))
             for k in range(5, 45)],
            "k long, g string, v long",
        )
        cat.write(v1, "t")
        cat.write(v2, "t", mode="overwrite", keep_versions=1)

        def summarize(df):
            return df.groupBy("g").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("v").alias("v_sum"),
                F.max("v").alias("v_max"),
                F.min("v").alias("v_min"),
            )

        maintained = apply_cdf_to_summary(
            summarize(v1), cat.table_changes("t", 1, key="k"),
            ["g"], {"v_sum": "v"},
            maxs={"v_max": "v"}, mins={"v_min": "v"},
            rescan=cat.table("t"),
        )
        assert sorted(map(tuple, maintained.collect())) == sorted(
            map(tuple, summarize(v2).collect())
        )


def test_branch_changes_pre_publish_review(spark, tmp_path):
    """branch_changes = the rows a publish would land: diff published ->
    branch, shared-inode pruned down to what the branch rewrote."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import TableNotFoundError
    from agol_pandas_spark.operators.merge import merge

    cat = Catalog(spark, str(tmp_path / "brcdf"))
    base = spark.createDataFrame(
        [(k, k * 1.0) for k in range(10)], "k long, v double"
    )
    cat.write(base, "t")
    bname = cat.branch_table("t", "backfill")
    fix = spark.createDataFrame([(3, 99.0), (42, 1.0)], "k long, v double")
    cat.write(
        merge(cat.table(bname), fix, mode="upsert", key="k"),
        bname, mode="overwrite",
    )
    got = sorted(tuple(r) for r in cat.branch_changes("t", "backfill", key="k").collect())
    assert got == [
        (3, 3.0, "update_preimage"),
        (3, 99.0, "update_postimage"),
        (42, 1.0, "insert"),
    ]
    with pytest.raises(TableNotFoundError, match="no branch"):
        cat.branch_changes("t", "nope", key="k")


def test_table_changes_and_ivm_handle_dotted_column_names(spark, tmp_path):
    """Code-review finding: parsed column references (F.col, groupBy)
    treat dots as struct-field paths — a legal column named 'grp.id'
    must survive the change feed and the summary maintenance."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.views import apply_cdf_to_summary

    cat = Catalog(spark, str(tmp_path / "dotted"))
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], ["k.id", "grp.name", "val.x"]
    )
    v2 = spark.createDataFrame(
        [(1, "a", 11), (3, "c", 30)], ["k.id", "grp.name", "val.x"]
    )
    cat.write(v1, "t")
    cat.write(v2, "t", mode="overwrite", keep_versions=1)
    feed = cat.table_changes("t", 1, key="k.id")
    got = sorted(tuple(r) for r in feed.collect())
    assert got == [
        (1, "a", 10, "update_preimage"),
        (1, "a", 11, "update_postimage"),
        (2, "b", 20, "delete"),
        (3, "c", 30, "insert"),
    ]
    summary_v1 = spark.createDataFrame(
        [("a", 1, 10), ("b", 1, 20)], ["grp.name", "n_rows", "vx_sum"]
    )
    maintained = apply_cdf_to_summary(
        summary_v1, feed, ["grp.name"], {"vx_sum": "val.x"}
    )
    assert sorted(tuple(r) for r in maintained.collect()) == [
        ("a", 1, 11), ("c", 1, 30),
    ]


def test_table_changes_align_schemas_evolved_snapshots(spark, tmp_path):
    """Schema-evolved CDF (r8): align_schemas=True diffs the shared
    projection — added/dropped columns are invisible, rows differing
    only in them emit nothing; default stays the loud refusal."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import MissingKeyError, SchemaMismatchError

    cat = Catalog(spark, str(tmp_path / "cdfse"))
    v1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "k long, v long, dropped string",
    )
    # evolution: 'dropped' removed, 'added' appears, k=2's v changes,
    # k=4 inserted, k=3 removed
    v2 = spark.createDataFrame(
        [(1, 10, 1.5), (2, 99, 2.5), (4, 40, 4.5)],
        "k long, v long, added double",
    )
    cat.write(v1, "t")
    cat.write(v2, "t", mode="overwrite", keep_versions=1)
    with pytest.raises(SchemaMismatchError, match="align_schemas"):
        cat.table_changes("t", 1, key="k").collect()
    feed = cat.table_changes("t", 1, key="k", align_schemas=True)
    assert set(feed.columns) == {"k", "v", "_change_type"}
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in feed.collect())
    assert got == [
        (2, 20, "update_preimage"),
        (2, 99, "update_postimage"),
        (3, 30, "delete"),
        (4, 40, "insert"),
    ]  # k=1 differs only in dropped/added columns: emits nothing
    # a key dropped by the evolution still fails loudly
    cat2 = Catalog(spark, str(tmp_path / "cdfse2"))
    cat2.write(v1, "u")
    cat2.write(
        v2.withColumnRenamed("k", "k2"), "u", mode="overwrite", keep_versions=1
    )
    with pytest.raises(MissingKeyError):
        cat2.table_changes("u", 1, key="k", align_schemas=True).collect()
    # zero shared columns: nothing to diff
    cat3 = Catalog(spark, str(tmp_path / "cdfse3"))
    cat3.write(spark.createDataFrame([(1,)], "a long"), "w")
    cat3.write(
        spark.createDataFrame([(1,)], "b long"), "w",
        mode="overwrite", keep_versions=1,
    )
    with pytest.raises(SchemaMismatchError, match="share no columns"):
        cat3.table_changes("w", 1, key="a", align_schemas=True).collect()
