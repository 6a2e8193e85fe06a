"""Key-pruned copy-on-write merge (VERDICT r5 item 2).

The mechanism contract: a keyed merge whose source touches a narrow key
range rewrites ONLY the files whose footer key span can contain a source
key; every other file is carried into the new snapshot by reference
(hard link — same inode, no data copy) and the merged contents are
bit-identical to the full-rewrite path for every mode.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import FOOTER_MERGE_MAX_FILES, Catalog
from agol_pandas_spark.errors import EmptyInputError
from agol_pandas_spark.operators.merge import merge, merge_pruned, write_table
from conftest import _jobs

SF_DIR = "/root/testdata/sf0.001"


def _fresh_table(spark, tmp_path, n_files=8):
    """customer copied into a range-partitioned layout (compact key spans
    per file — the layout optimize_zorder/chunked ingest produce)."""
    cat = Catalog(spark, str(tmp_path))
    cust = Catalog(spark, SF_DIR).table("customer")
    cat.write(
        cust.repartitionByRange(n_files, "c_custkey")
        .sortWithinPartitions("c_custkey"),
        "c",
        mode="error",
    )
    return cat, cust


def _narrow_delta(cust):
    """Updates confined to low keys + inserts with fresh high keys."""
    updates = cust.filter(F.col("c_custkey") < 20).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    inserts = cust.filter(F.col("c_custkey") < 10).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new_"), "c_name").alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") * 0.5).alias("c_acctbal"),
        F.lit("INSERTED").alias("c_mktsegment"),
    )
    return updates.unionByName(inserts)


def _inodes(cat, name):
    return {os.path.basename(f): os.stat(f).st_ino for f in cat.data_files(name)}


@pytest.mark.parametrize("mode", ["upsert", "update", "insert", "delete"])
def test_pruned_equals_full_and_carries_files(spark, tmp_path, mode):
    cat, cust = _fresh_table(spark, tmp_path)
    delta = _narrow_delta(cust)
    if mode == "delete":
        delta = delta.filter(F.col("c_custkey") < 20)
    expected = sorted(
        map(tuple, merge(cat.table("c"), delta, mode, "c_custkey").collect())
    )
    before = _inodes(cat, "c")
    stats = merge_pruned(cat, delta, "c", mode, "c_custkey")
    got = sorted(map(tuple, cat.table("c").collect()))
    assert got == expected
    assert stats["pruned"] is True
    assert stats["files_rewritten"] < stats["files_total"]
    # untouched files survive into the new snapshot with the SAME inode —
    # carried by reference, not recopied
    after = _inodes(cat, "c")
    carried = [b for b in before if after.get(b) == before[b]]
    assert len(carried) == stats["files_carried"] > 0


def test_pruned_append_rewrites_nothing(spark, tmp_path):
    cat, cust = _fresh_table(spark, tmp_path)
    extra = cust.limit(5).withColumn(
        "c_custkey", F.col("c_custkey") + 2000000
    )
    before = _inodes(cat, "c")
    stats = merge_pruned(cat, extra, "c", "append", None)
    assert stats["pruned"] is True and stats["files_rewritten"] == 0
    after = _inodes(cat, "c")
    assert all(after.get(b) == i for b, i in before.items())
    assert cat.table("c").count() == cust.count() + 5


def test_pruned_update_no_match_is_noop(spark, tmp_path):
    """Source keys entirely outside every file span: update/delete touch
    nothing — not even a commit."""
    cat, cust = _fresh_table(spark, tmp_path)
    far = cust.limit(3).withColumn("c_custkey", F.col("c_custkey") + 5000000)
    before = _inodes(cat, "c")
    stats = merge_pruned(cat, far, "c", "update", "c_custkey")
    assert stats["pruned"] is True and stats["files_rewritten"] == 0
    assert _inodes(cat, "c") == before


def test_pruned_insert_outside_spans_carries_all(spark, tmp_path):
    cat, cust = _fresh_table(spark, tmp_path)
    far = cust.limit(3).withColumn("c_custkey", F.col("c_custkey") + 5000000)
    before = _inodes(cat, "c")
    stats = merge_pruned(cat, far, "c", "insert", "c_custkey")
    assert stats["pruned"] is True and stats["files_rewritten"] == 0
    after = _inodes(cat, "c")
    assert all(after.get(b) == i for b, i in before.items())
    assert cat.table("c").count() == cust.count() + 3


def test_schema_widening_falls_back_to_full_rewrite(spark, tmp_path):
    """A source column the target lacks would be invisible in carried
    files without mergeSchema reads — the pruned path declines."""
    cat, cust = _fresh_table(spark, tmp_path)
    widened = _narrow_delta(cust).withColumn("c_extra", F.lit("x"))
    expected = sorted(
        map(
            tuple,
            merge(cat.table("c"), widened, "upsert", "c_custkey").collect(),
        )
    )
    stats = merge_pruned(cat, widened, "c", "upsert", "c_custkey")
    assert stats["pruned"] is False
    got = sorted(map(tuple, cat.table("c").collect()))
    assert got == expected


def test_nanos_timestamp_table_falls_back(spark, tmp_path):
    """A table stored with parquet TIMESTAMP(NANOS): the full path
    normalizes to µs on rewrite, so carrying ns files by reference would
    mix physical types — pruned path must decline."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path))
    tbl = pa.table(
        {
            "k": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000 + i for i in range(3)],
                           pa.timestamp("ns")),
        }
    )
    os.makedirs(cat.path("e"))
    pq.write_table(
        tbl, os.path.join(cat.path("e"), "part-0.parquet"),
        coerce_timestamps=None,
    )
    src = cat.table("e").filter(F.col("k") == 1)
    stats = merge_pruned(cat, src, "e", "append", None)
    assert stats["pruned"] is False


def test_timestamp_key_falls_back(spark, tmp_path):
    cat, cust = _fresh_table(spark, tmp_path)
    ts = cat.table("c").withColumn(
        "ts_key", F.timestamp_micros(F.col("c_custkey") * 1000000)
    )
    cat.write(ts, "t", mode="error")
    src = cat.table("t").limit(3)
    stats = merge_pruned(cat, src, "t", "upsert", "ts_key")
    assert stats["pruned"] is False


def test_empty_source_raises(spark, tmp_path):
    cat, cust = _fresh_table(spark, tmp_path)
    empty = spark.createDataFrame([], cust.schema)
    with pytest.raises(EmptyInputError):
        merge_pruned(cat, empty, "c", "upsert", "c_custkey")


def test_write_table_prune_flag_delegates(spark, tmp_path):
    cat, cust = _fresh_table(spark, tmp_path)
    before = _inodes(cat, "c")
    write_table(cat, _narrow_delta(cust), "c", "upsert", "c_custkey", prune=True)
    after = _inodes(cat, "c")
    assert any(after.get(b) == i for b, i in before.items())
    expected = merge(
        Catalog(spark, SF_DIR)
        .table("customer")
        .repartitionByRange(8, "c_custkey"),
        _narrow_delta(cust),
        "upsert",
        "c_custkey",
    )
    assert cat.table("c").count() == expected.count()


def test_string_key_pruning(spark, tmp_path):
    """String footer bounds are valid (possibly truncated) bounds —
    pruning on a string key stays correct and still skips files."""
    cat = Catalog(spark, str(tmp_path))
    cust = Catalog(spark, SF_DIR).table("customer")
    keyed = cust.withColumn(
        "c_skey", F.format_string("k%09d", F.col("c_custkey"))
    )
    cat.write(
        keyed.repartitionByRange(8, "c_skey").sortWithinPartitions("c_skey"),
        "s",
        mode="error",
    )
    delta = (
        cat.table("s")
        .filter(F.col("c_custkey") < 20)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1.0)
    )
    expected = sorted(
        map(tuple, merge(cat.table("s"), delta, "update", "c_skey").collect())
    )
    stats = merge_pruned(cat, delta, "s", "update", "c_skey")
    assert stats["pruned"] is True and stats["files_carried"] > 0
    assert sorted(map(tuple, cat.table("s").collect())) == expected


def test_composite_key_pruning(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    li = (
        Catalog(spark, SF_DIR)
        .table("lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        # synthetic lineitem is not unique on this pair — make it so
        .dropDuplicates(["l_orderkey", "l_linenumber"])
    )
    cat.write(
        li.repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey", "l_linenumber"),
        "l",
        mode="error",
    )
    delta = (
        cat.table("l")
        .filter(F.col("l_orderkey") < 100)
        .withColumn("l_quantity", F.col("l_quantity") + 1.0)
    )
    key = ["l_orderkey", "l_linenumber"]
    expected = sorted(
        map(tuple, merge(cat.table("l"), delta, "update", key).collect())
    )
    stats = merge_pruned(cat, delta, "l", "update", key)
    assert stats["pruned"] is True and stats["files_carried"] > 0
    assert sorted(map(tuple, cat.table("l").collect())) == expected


def test_pruned_versioning_shares_bytes(spark, tmp_path):
    """keep_versions: the archived snapshot and the new one share carried
    files' inodes — versioning a pruned merge costs only the dirty set."""
    cat, cust = _fresh_table(spark, tmp_path)
    before = _inodes(cat, "c")
    merge_pruned(
        cat, _narrow_delta(cust), "c", "upsert", "c_custkey", keep_versions=2
    )
    assert cat.versions("c") == [1]
    archived = {
        os.path.basename(f): os.stat(f).st_ino
        for f in (
            os.path.join(dp, f)
            for dp, _, fs in os.walk(cat._version_path("c", 1))
            for f in fs
            if not f.startswith(("_", "."))
        )
    }
    current = _inodes(cat, "c")
    shared = [b for b in archived if current.get(b) == archived[b]]
    assert len(shared) > 0
    # the archive IS the pre-merge snapshot
    assert set(archived) == set(before)


def test_zorder_layout_makes_pruning_bite(spark, tmp_path):
    """The composition the footer machinery exists for: on a HASH layout
    every file spans the full key range, so a narrow delta dirties every
    file (pruning engages but saves nothing); after OPTIMIZE ZORDER on
    the key the same delta touches a small file subset. This is the
    maintenance-op -> cheap-upsert causality at 100 TB."""
    cat = Catalog(spark, str(tmp_path))
    cust = Catalog(spark, SF_DIR).table("customer")
    # hash layout: every file sees keys from the whole range
    cat.write(cust.repartition(8), "c", mode="error")
    delta = _narrow_delta(cust)
    stats_hash = merge_pruned(cat, delta, "c", "update", "c_custkey")
    assert stats_hash["pruned"] is True
    assert stats_hash["files_rewritten"] == stats_hash["files_total"]
    # restore, z-order on the key, same delta
    cat.drop("c")
    cat.write(cust.repartition(8), "c", mode="error")
    cat.optimize_zorder("c", ["c_custkey"], num_files=8)
    stats_z = merge_pruned(cat, delta, "c", "update", "c_custkey")
    assert stats_z["pruned"] is True
    assert stats_z["files_rewritten"] < stats_z["files_total"]
    assert stats_z["files_carried"] > 0
    # and the contents still match the unpruned semantics
    expected = sorted(
        map(
            tuple,
            merge(
                Catalog(spark, SF_DIR).table("customer"),
                delta,
                "update",
                "c_custkey",
            ).collect(),
        )
    )
    assert sorted(map(tuple, cat.table("c").collect())) == expected


def test_touched_paths_grid_matches_bruteforce(spark):
    """The grid-binned equi-join touch-test must reproduce the plain
    range-predicate decision exactly — including negative keys (floor
    semantics), single-key files, and files forced dirty by the
    cell-cap."""
    import importlib

    from pyspark.sql import types as T

    M = importlib.import_module("agol_pandas_spark.operators.merge")

    spans = [
        {"path": "a", "ok": True, "min": {"k": -50}, "max": {"k": -10}},
        {"path": "b", "ok": True, "min": {"k": -9}, "max": {"k": 0}},
        {"path": "c", "ok": True, "min": {"k": 1}, "max": {"k": 1}},
        {"path": "d", "ok": True, "min": {"k": 5}, "max": {"k": 30}},
        # degenerate wide span: forced dirty through the cell cap when
        # g is small relative to its width
        {"path": "e", "ok": True, "min": {"k": -10000}, "max": {"k": 10000}},
    ]
    keys = [-50, -10, -5, 0, 1, 2, 17, 400]
    src = spark.createDataFrame([(k,) for k in keys], "k long")
    got = M._touched_paths(src, spans, ["k"], {"k": T.LongType()})
    brute = {
        s["path"]
        for s in spans
        if any(s["min"]["k"] <= k <= s["max"]["k"] for k in keys)
    }
    # the cap may only ADD files (conservative), never miss one
    assert brute - got == set()
    # with this span set, e is a genuine match anyway, so sets are equal
    assert got == brute


def test_grid_probe_exact_for_keys_beyond_double_precision(spark, tmp_path):
    """ADVICE r6 regression: the grid-cell probe used double division,
    which rounds keys >= 2^53 (snowflake-style 64-bit ids) into the
    wrong cell — a file containing a matching key was judged clean and
    carried by reference, silently duplicating the key on upsert. With
    exact integer `div` the dirty file must be rewritten."""
    ka = (1 << 62) + 1          # deliberately NOT a multiple of 512 (double ulp at 2^62)
    kb = (1 << 62) + 1_000_001
    cat = Catalog(spark, str(tmp_path))
    base = spark.createDataFrame([(ka, "a"), (kb, "b")], "k long, s string")
    cat.write(base.repartitionByRange(2, "k").sortWithinPartitions("k"), "t", mode="error")
    assert len(cat.data_files("t")) == 2

    delta = spark.createDataFrame([(ka, "UPDATED")], "k long, s string")
    stats = merge_pruned(cat, delta, "t", "upsert", "k")
    got = sorted((r.k, r.s) for r in cat.table("t").collect())
    assert got == [(ka, "UPDATED"), (kb, "b")], got  # pre-fix: duplicate ka rows
    if stats["pruned"]:
        assert stats["files_rewritten"] >= 1
        assert stats["files_carried"] == 1


def _keyed_tables(spark, tmp_path):
    """A catalog holding an integral-key (``c``), a string-key (``s``)
    and a composite-key (``l``) table — the grid-binned and the range
    touch test — as ``(name, key, numeric column, integral anchor)``."""
    cat, cust = _fresh_table(spark, tmp_path)
    cat.write(
        cust.withColumn("c_skey", F.format_string("k%09d", "c_custkey"))
        .repartitionByRange(8, "c_skey").sortWithinPartitions("c_skey"),
        "s",
    )
    cat.write(
        Catalog(spark, SF_DIR).table("lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .dropDuplicates(["l_orderkey", "l_linenumber"])
        .repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey", "l_linenumber"),
        "l",
    )
    return cat, [
        ("c", "c_custkey", "c_acctbal", "c_custkey"),
        ("s", "c_skey", "c_acctbal", "c_custkey"),
        ("l", ["l_orderkey", "l_linenumber"], "l_quantity", "l_orderkey"),
    ]


def _mode_delta(table, num, anchor, mode):
    """Low-key updates for the matching modes; rows with keys beyond
    every file's span for insert and append."""
    if mode in ("upsert", "update", "delete"):
        return table.filter(F.col(anchor) < 20).withColumn(num, F.col(num) + 1.0)
    fresh = table.filter(F.col(anchor) < 5).withColumn(
        anchor, F.col(anchor) + 10_000_000
    )
    if "c_skey" in table.columns:
        fresh = fresh.withColumn("c_skey", F.format_string("n%09d", anchor))
    return fresh


def _rows_by_name(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_keyed_write_path_builds_no_python_rdd(spark, tmp_path, monkeypatch):
    """Every frame the keyed-write path builds from driver rows (the span
    tables of both touch tests, the empty dirty frame of a pruned
    append or a matchless insert) is an Arrow local relation: with
    ``SparkContext.parallelize`` — where every pickled Python RDD starts
    — raising, all five modes of ``merge_pruned`` on integral, string
    and composite keys, and ``write_table(..., prune=True)``, complete
    with the rows of the full rewrite."""
    from pyspark import SparkContext

    cat, tables = _keyed_tables(spark, tmp_path)
    other, cust = _fresh_table(spark, tmp_path / "other")
    delta = _narrow_delta(cust).localCheckpoint()
    want_upsert = sorted(map(tuple, merge(
        other.table("c"), delta, "upsert", "c_custkey"
    ).collect()))

    def refuse(*a, **kw):
        raise AssertionError("the keyed-write path built a Python RDD")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    for name, key, num, anchor in tables:
        for mode in ("append", "upsert", "update", "insert", "delete"):
            src = _mode_delta(cat.table(name), num, anchor, mode)
            src = src.localCheckpoint()
            k = None if mode == "append" else key
            want = _rows_by_name(merge(cat.table(name), src, mode, k))
            stats = merge_pruned(cat, src, name, mode, k)
            assert stats["pruned"] is True, (name, mode)
            assert stats["files_carried"] > 0, (name, mode)
            assert _rows_by_name(cat.table(name)) == want, (name, mode)
    write_table(other, delta, "c", "upsert", "c_custkey", prune=True)
    assert sorted(map(tuple, other.table("c").collect())) == want_upsert


def test_pruned_update_job_count(spark, tmp_path):
    """Pinned Spark job count of one pruned ``update`` on a 16-file
    table: the span table and the touch-test plan start no job of their
    own and the table scans no schema-inference job (11 jobs before
    both moved to the driver)."""
    cat, cust = _fresh_table(spark, tmp_path, n_files=16)
    delta = (
        cat.table("c").filter(F.col("c_custkey") < 20)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1.0)
        .localCheckpoint()
    )
    merge_pruned(cat, delta, "c", "update", "c_custkey")  # warm
    assert _jobs(
        spark, lambda: merge_pruned(cat, delta, "c", "update", "c_custkey")
    ) == 9


def test_dirty_read_either_side_of_footer_merge_cap(
    spark, tmp_path, monkeypatch
):
    """A pruned merge with ``FOOTER_MERGE_MAX_FILES`` dirty files merges
    their footer schemas on the driver; one more dirty file takes Spark's
    ``mergeSchema`` inference. Both rewrite exactly the touched files and
    leave the rows a full merge gives."""
    n_files = FOOTER_MERGE_MAX_FILES + 1
    cat = Catalog(spark, str(tmp_path))
    base = (
        spark.range(n_files * 4).select("id", (F.col("id") * 10).alias("v"))
        .repartitionByRange(n_files, "id").sortWithinPartitions("id")
        .localCheckpoint()
    )
    merged = []
    real = Catalog._footer_schema

    def spy(self, files, merge=False):
        if merge:
            merged.append(len(files))
        return real(self, files, merge)

    monkeypatch.setattr(Catalog, "_footer_schema", spy)
    for n_dirty in (FOOTER_MERGE_MAX_FILES, n_files):
        cat.write(base, "t", mode="overwrite")
        spans = sorted(
            cat.file_key_spans("t", ["id"]), key=lambda s: s["min"]["id"]
        )
        assert len(spans) == n_files
        keys = [s["min"]["id"] for s in spans[:n_dirty]]
        src = (
            cat.table("t").filter(F.col("id").isin(keys))
            .withColumn("v", F.col("v") + 1).localCheckpoint()
        )
        want = _rows_by_name(merge(cat.table("t"), src, "update", "id"))
        merged.clear()
        stats = merge_pruned(cat, src, "t", "update", "id")
        assert stats["files_rewritten"] == n_dirty
        assert merged == ([n_dirty] if n_dirty <= FOOTER_MERGE_MAX_FILES else [])
        assert _rows_by_name(cat.table("t")) == want
