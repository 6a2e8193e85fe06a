"""Row counts and key bounds recorded in the snapshot manifest.

Each manifest entry a commit writes records the file's ``rows`` and the
``min``/``max`` of every prune-safe column whose row groups all carry
statistics (format in ``Catalog._write_manifest``). Key spans and row
counts then come from one JSON parse instead of one footer decode per
file; a file without a recorded bound falls back to its footer.

Iceberg keeps ``record_count``, ``lower_bounds`` and ``upper_bounds``
per data file in its manifests for the same reason.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import MANIFEST_NAME, MAX_STRING_BOUND, Catalog
from agol_pandas_spark.operators.merge import merge, merge_pruned

SF_DIR = "/root/testdata/sf0.001"
BIG = 2**53 + 1


def _footer_spans(cat, path, cols):
    """Every data file's span read from its footer."""
    return [
        cat._file_span(os.path.join(path, rp), cols)
        for rp in cat._list_names(path)
    ]


def _entries(cat, name):
    return cat.snapshot_manifest(cat.path(name))


def _drop_manifest(path):
    for f in os.listdir(path):
        if f.startswith("_manifest"):
            os.remove(os.path.join(path, f))


def test_bounds_round_trip_exactly(spark, tmp_path):
    """Ids beyond double precision, strings and dates read back from the
    manifest exactly as the footer gives them; a string longer than
    ``MAX_STRING_BOUND`` bytes and a double are not recorded, and a span
    over them reads the footer."""
    cat = Catalog(spark, str(tmp_path))
    long_s = "x" * (MAX_STRING_BOUND + 1)
    rows = [
        (-BIG, "aé", datetime.date(1970, 1, 1), long_s + "a", 0.5),
        (BIG, "zz", datetime.date(2024, 2, 29), long_s + "b", 1.5),
        (BIG - 2, "m", datetime.date(1, 1, 1), "short", 2.5),
    ]
    df = spark.createDataFrame(
        rows, "id long, s string, d date, ls string, x double"
    ).coalesce(1)
    cat.write(df, "t")
    (entry,) = _entries(cat, "t").values()
    assert entry["rows"] == 3
    assert entry["min"] == {"id": -BIG, "s": "aé", "d": "0001-01-01"}
    assert entry["max"] == {"id": BIG, "s": "zz", "d": "2024-02-29"}

    cols = ["id", "s", "d"]
    (span,) = cat.file_key_spans("t", cols)
    assert span == _footer_spans(cat, cat.path("t"), cols)[0]
    assert span["min"] == {
        "id": -BIG, "s": "aé", "d": datetime.date(1, 1, 1)
    }
    assert span["max"]["id"] == BIG and type(span["max"]["id"]) is int
    assert span["max"]["d"] == datetime.date(2024, 2, 29)
    for unrecorded in (["ls"], ["x"], ["id", "ls"]):
        assert cat.file_key_spans("t", unrecorded) == _footer_spans(
            cat, cat.path("t"), unrecorded
        )
    assert cat.file_key_spans("t", ["ls"])[0]["max"]["ls"] == long_s + "b"


def test_missing_stats_and_missing_column_read_not_ok(spark, tmp_path):
    """A file whose row group has no statistics records no bound and
    reads ``ok=False``; so does every file for a column it lacks."""
    cat = Catalog(spark, str(tmp_path))
    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    t = pa.table({"k": pa.array([1, 2], pa.int64()), "s": ["a", "b"]})
    pq.write_table(t, os.path.join(snap, "a.parquet"))
    pq.write_table(
        t, os.path.join(snap, "b.parquet"), write_statistics=["s"]
    )
    cat._write_manifest(snap)
    man = cat.snapshot_manifest(snap)
    assert man["a.parquet"]["min"] == {"k": 1, "s": "a"}
    assert man["b.parquet"]["min"] == {"s": "a"}
    assert man["b.parquet"]["rows"] == 2

    spans = cat.path_key_spans(snap, ["k"])
    assert [s["ok"] for s in spans] == [True, False]
    assert spans == _footer_spans(cat, snap, ["k"])
    nope = cat.path_key_spans(snap, ["nope"])
    assert not any(s["ok"] for s in nope)
    assert nope == _footer_spans(cat, snap, ["nope"])


def test_unmanifested_snapshot_spans_equal_footer_spans(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.format_string("s%04d", "id").alias("s"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int"))
        .alias("d"),
    )
    cat.write(df.repartitionByRange(4, "k").sortWithinPartitions("k"), "t")
    p, cols = cat.path("t"), ["k", "s", "d"]
    manifested = cat.file_key_spans("t", cols)
    assert len(manifested) == 4 and all(s["ok"] for s in manifested)
    assert manifested == _footer_spans(cat, p, cols)
    _drop_manifest(p)
    assert cat.snapshot_manifest(p) is None
    assert cat.file_key_spans("t", cols) == manifested


def test_row_count_from_manifest_on_carried_table(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    base = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    cat.write(base.repartitionByRange(6, "k"), "t")
    spans = cat.file_key_spans("t", ["k"])
    carry = [s["path"] for s in spans if s["min"]["k"] >= 100]
    extra = spark.range(1000, 1025).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    cat.write_with_carryover(extra, "t", carry)
    want = cat.table("t").count()
    assert 25 < want < 325
    man = _entries(cat, "t")
    assert all("rows" in e for e in man.values())
    assert cat.row_count("t") == want
    _drop_manifest(cat.path("t"))
    assert cat.row_count("t") == want


def test_stats_less_manifest_entries_read_footers(spark, tmp_path):
    """An entry written before rows and bounds were recorded (only
    ``file_id`` and ``size``) answers spans and row counts from the
    footer, and a carryover commit keeps it as it is."""
    import json

    cat = Catalog(spark, str(tmp_path))
    base = spark.range(200).select(F.col("id").alias("k"))
    cat.write(base.repartitionByRange(4, "k"), "t")
    p = cat.path("t")
    want = cat.file_key_spans("t", ["k"])
    with open(os.path.join(p, MANIFEST_NAME)) as fh:
        head = json.load(fh)
    for m in head["manifests"]:
        cp = os.path.join(p, m["name"])
        with open(cp) as fh:
            files = json.load(fh)["files"]
        with open(cp, "w") as fh:
            json.dump({"files": {
                rp: {"file_id": e["file_id"], "size": e["size"]}
                for rp, e in files.items()
            }}, fh)
    assert cat.file_key_spans("t", ["k"]) == want
    assert cat.row_count("t") == 200
    extra = spark.range(500, 510).select(F.col("id").alias("k"))
    cat.write_with_carryover(extra, "t", cat.data_files("t"))
    man = _entries(cat, "t")
    assert sum("rows" not in e for e in man.values()) == 4
    assert cat.row_count("t") == 210


def _record_footer_opens(monkeypatch) -> list[str]:
    """Paths of the parquet footers pyarrow opens from now on: through
    ``ParquetFile`` directly, or through ``read_schema`` and
    ``read_metadata``, which hand ``ParquetFile`` an open file."""
    import pyarrow.parquet.core as pq_core

    opened: list[str] = []
    real = pq_core.ParquetFile

    class Recording(real):
        def __init__(self, source, *a, **kw):
            if isinstance(source, (str, os.PathLike)):
                opened.append(os.fspath(source))
            super().__init__(source, *a, **kw)

    def recorded(fn):
        def call(where, *a, **kw):
            opened.append(os.fspath(where))
            return fn(where, *a, **kw)

        return call

    for mod in (pq, pq_core):
        monkeypatch.setattr(mod, "ParquetFile", Recording)
        for attr in ("read_schema", "read_metadata"):
            monkeypatch.setattr(mod, attr, recorded(getattr(pq_core, attr)))
    return opened


def test_pruned_upsert_opens_only_the_footers_it_wrote(
    spark, tmp_path, monkeypatch
):
    """One pruned upsert on a 16-file range-partitioned table opens, by
    pyarrow, the footers of the files its commit wrote and at most the
    one file that decides the scan schema (the ns-column check) — not
    the 16 footers a key-span lookup used to read."""
    cat = Catalog(spark, str(tmp_path))
    cust = Catalog(spark, SF_DIR).table("customer")
    cat.write(
        cust.repartitionByRange(16, "c_custkey")
        .sortWithinPartitions("c_custkey"),
        "c",
    )
    delta = cust.filter(F.col("c_custkey") < 20).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1.0
    ).localCheckpoint()
    before = set(os.listdir(cat.path("c")))
    schema_file = os.path.basename(cat._schema_file(cat.path("c"))[0])
    opened = _record_footer_opens(monkeypatch)
    stats = merge_pruned(cat, delta, "c", "upsert", "c_custkey")
    assert stats["pruned"] is True and stats["files_total"] == 16
    written = {
        f for f in os.listdir(cat.path("c"))
        if not f.startswith(("_", ".")) and f not in before
    }
    assert written and stats["files_rewritten"] < 16
    names = {os.path.basename(f) for f in opened}
    assert written <= names
    assert names - written <= {schema_file}


def test_type_widening_source_takes_the_full_rewrite(spark, tmp_path):
    """A pruned merge whose source widens a column's type would write
    the dirty files with the new type beside carried files of the old
    one. It rewrites every file instead, as the full path does."""
    for wide in ("long", "double"):
        cat = Catalog(spark, str(tmp_path / wide))
        base = spark.range(400).select(
            F.col("id").alias("k"), (F.col("id") % 9).cast("int").alias("v")
        )
        cat.write(
            base.repartitionByRange(4, "k").sortWithinPartitions("k"), "t"
        )
        src = spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 100).cast(wide).alias("v")
        )
        want = sorted(map(tuple, merge(cat.table("t"), src, "upsert", "k")
                          .collect()))
        stats = merge_pruned(cat, src, "t", "upsert", "k")
        assert stats["pruned"] is False, wide
        assert cat.table("t").schema["v"].dataType.simpleString() == (
            "bigint" if wide == "long" else wide
        )
        assert sorted(map(tuple, cat.table("t").collect())) == want


def test_pruned_delete_keeps_the_column_order(spark, tmp_path):
    """DELETE on a table whose key is its last column writes the table's
    column order, so rewritten and carried files agree."""
    cat = Catalog(spark, str(tmp_path))
    cust = Catalog(spark, SF_DIR).table("customer").withColumn(
        "c_skey", F.format_string("k%09d", "c_custkey")
    )
    cat.write(
        cust.repartitionByRange(8, "c_skey").sortWithinPartitions("c_skey"),
        "s",
    )
    cols = cat.table("s").columns
    assert cols[-1] == "c_skey"
    src = cat.table("s").filter(F.col("c_custkey") < 20).select("c_skey")
    assert merge(cat.table("s"), src, "delete", "c_skey").columns == cols
    stats = merge_pruned(cat, src.localCheckpoint(), "s", "delete", "c_skey")
    assert stats["pruned"] is True and stats["files_rewritten"] >= 1
    assert cat.table("s").columns == cols
    for f in cat.data_files("s"):
        assert pq.read_schema(f).names == cols


def test_archived_and_tagged_reads_match_table_types_without_jobs(
    spark, tmp_path
):
    """``table_at`` and ``table_at_tag`` read like ``table()``: no
    schema-inference job, and a TIMESTAMP(NANOS) column as a timestamp."""
    from conftest import _jobs

    cat = Catalog(spark, str(tmp_path))
    os.makedirs(cat.path("e"))
    tbl = pa.table({
        "k": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(
            [1_700_000_000_000_000_000 + i for i in range(3)],
            pa.timestamp("ns"),
        ),
    })
    pq.write_table(
        tbl, os.path.join(cat.path("e"), "part-0.parquet"),
        coerce_timestamps=None,
    )
    cat.tag_snapshot("e", "v1")
    cat.write(cat.table("e"), "e", mode="overwrite", keep_versions=2)
    (v,) = cat.versions("e")
    want = cat.table("e").dtypes
    assert dict(want)["ts"] == "timestamp"
    for build in (lambda: cat.table_at("e", v),
                  lambda: cat.table_at_tag("e", "v1")):
        assert _jobs(spark, build) == 0
        df = build()
        assert df.dtypes == want
        assert sorted(r.k for r in df.collect()) == [1, 2, 3]


def test_uri_root_is_refused(spark, tmp_path, monkeypatch):
    """A URI root would reach Spark as a URI and the commit as a local
    relative path: the catalog refuses it up front, naming the scheme."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="'file' scheme"):
        Catalog(spark, f"file://{tmp_path}/cat")
    with pytest.raises(ValueError, match="'s3a' scheme"):
        Catalog(spark, "s3a://bucket/cat")
    assert os.listdir(tmp_path) == []


def check_write_modes_pass(spark, work_dir: str, sf: float, seed: int = 1):
    """Run one benchmark ``write_modes`` pass (its generated orders and
    seeded deltas) and, after every op, check the live snapshot: the
    manifest's key spans equal the footers' for every file, and
    ``row_count`` equals ``count()``. Returns the op names checked."""
    import sys

    here = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
    sys.path.insert(0, here)
    try:
        import datagen
        import workloads as wl
    finally:
        sys.path.remove(here)
    data_dir = os.path.join(work_dir, "data")
    os.makedirs(data_dir)
    orders = datagen.make_tables(seed, sf)[wl.TABLE]
    pq.write_table(orders, os.path.join(data_dir, f"{wl.TABLE}.parquet"))
    deltas = wl.make_deltas(data_dir, os.path.join(work_dir, "deltas"), seed)
    ctx = wl.Context(spark, data_dir, os.path.join(work_dir, "catalog"))
    wl.setup_write_table(ctx)
    cat = Catalog(spark, ctx.catalog_root)
    done = []
    for op in wl.write_ops(ctx, deltas):
        out = op.build()
        if out is not None:
            out.collect()
        p = cat.path(wl.TABLE)
        assert cat.snapshot_manifest(p) is not None, op.name
        spans = cat.file_key_spans(wl.TABLE, [wl.KEY])
        assert spans == _footer_spans(cat, p, [wl.KEY]), op.name
        # a file without bounds is one without rows (a rewrite that kept
        # none of its dirty rows): no row group, nothing to bound
        man = cat.snapshot_manifest(p)
        assert all(
            s["ok"] or man[os.path.relpath(s["path"], p)]["rows"] == 0
            for s in spans
        ), op.name
        assert cat.row_count(wl.TABLE) == cat.table(wl.TABLE).count(), op.name
        done.append(op.name)
    return done


def test_write_modes_pass_manifest_matches_footers(spark, tmp_path):
    done = check_write_modes_pass(spark, str(tmp_path), sf=0.01)
    assert done == [
        "upsert", "table_changes", "update", "insert", "append", "delete",
        "readback", "overwrite",
    ]
