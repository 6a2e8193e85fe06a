"""Snapshot props on the merge/write_table/compaction paths (VERDICT r9
item 2).

Round 8's exactly-once IVM marker rode only ``Catalog.write`` /
``write_with_carryover``; a foreachBatch sink landing its summary through
``write_table`` or ``merge_pruned`` could not carry its batch marker and
silently regressed to at-least-once. These tests pin:

1. props commit in the SAME atomic rename on every merge path (create,
   full overwrite-merge, pruned carryover-merge, write-audit-publish);
2. a re-executed micro-batch against a MERGE-backed summary is a no-op
   (the regression test the verdict names);
3. row-preserving housekeeping (compact / compact_selective /
   optimize_zorder) CARRIES the existing props forward — compaction must
   not wipe an exactly-once marker — and stamps ``data_change: False``
   with a parent-commit pointer (consumed by CdfTail's no-op skip);
4. ``restore`` brings an archived snapshot's props back with it.

No reference counterpart (src/agol_pandas.py has no snapshot concept);
Delta's ``txn``/``commitInfo`` metadata is the public analogue.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog


def _mk(spark, hi, bump=0):
    return spark.createDataFrame(
        [(k, f"g{k % 3}", k * 10 + bump) for k in range(hi)],
        "k long, g string, v long",
    )


def test_write_table_carries_props_on_create_and_merge(spark, tmp_path):
    from agol_pandas_spark.operators.merge import write_table

    cat = Catalog(spark, str(tmp_path))
    write_table(
        cat, _mk(spark, 10), "t", mode="append",
        snapshot_props={"stream_id": "s1", "batch": 0},
    )
    assert cat.snapshot_props("t") == {"stream_id": "s1", "batch": 0}
    write_table(
        cat, _mk(spark, 4, 99), "t", mode="upsert", key="k",
        snapshot_props={"stream_id": "s1", "batch": 1},
    )
    assert cat.snapshot_props("t") == {"stream_id": "s1", "batch": 1}
    # a later commit WITHOUT props replaces them wholesale (documented)
    write_table(cat, _mk(spark, 2, 5), "t", mode="upsert", key="k")
    assert cat.snapshot_props("t") == {}


def test_merge_pruned_carries_props_through_carryover_commit(
    spark, tmp_path
):
    from agol_pandas_spark.operators.merge import merge_pruned

    cat = Catalog(spark, str(tmp_path))
    base = _mk(spark, 400).repartitionByRange(8, "k").sortWithinPartitions("k")
    cat.write(base, "t")
    delta = _mk(spark, 6, 7)  # lowest keys only: pruning engages
    stats = merge_pruned(
        cat, delta, "t", mode="upsert", key="k",
        snapshot_props={"batch": 3},
    )
    assert stats["pruned"] and stats["files_carried"] > 0
    assert cat.snapshot_props("t") == {"batch": 3}
    # fallback (full) path also carries props: widen the schema so
    # pruning is declined
    wide = _mk(spark, 3, 1).withColumn("extra", F.lit(1))
    stats2 = merge_pruned(
        cat, wide, "t", mode="upsert", key="k",
        snapshot_props={"batch": 4},
    )
    assert not stats2["pruned"]
    assert cat.snapshot_props("t") == {"batch": 4}


def test_reexecuted_batch_against_merge_backed_summary_is_noop(
    spark, tmp_path
):
    """The verdict's named regression: a foreachBatch sink whose summary
    lands through the MERGE path (merge_pruned upsert), with the
    (stream_id, batch_id) marker committed in the same rename. Spark may
    re-run a micro-batch whose sink write committed but whose epoch
    didn't — the marker must make the re-execution a no-op."""
    from agol_pandas_spark.operators.merge import merge_pruned

    cat = Catalog(spark, str(tmp_path))
    seed = _mk(spark, 30).groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("v_sum"),
    )
    cat.write(seed, "summary")
    cat.set_declared_key("summary", "g")

    def maintain(batch_df, batch_id: int) -> None:
        marker = cat.snapshot_props("summary")
        if (
            marker.get("cdf_stream_id") == "m1"
            and marker.get("cdf_last_batch_id") is not None
            and batch_id <= marker["cdf_last_batch_id"]
        ):
            return  # re-executed batch: already committed
        merge_pruned(
            cat, batch_df, "summary", mode="upsert", key="g",
            snapshot_props={
                "cdf_stream_id": "m1", "cdf_last_batch_id": batch_id,
            },
        )

    batch = spark.createDataFrame(
        [("g0", 99, 12345)], "g string, n_rows long, v_sum long"
    )
    maintain(batch, 0)
    after_first = sorted(map(tuple, cat.table("summary").collect()))
    assert ("g0", 99, 12345) in after_first
    commit_after_first = cat.commit_id("summary")

    # the same batch re-executes (post-commit failure replay): no new
    # commit, identical rows — exactly-once on the merge path
    maintain(batch, 0)
    assert cat.commit_id("summary") == commit_after_first
    assert sorted(map(tuple, cat.table("summary").collect())) == after_first

    # the NEXT batch still applies
    maintain(
        spark.createDataFrame(
            [("g1", 7, 70)], "g string, n_rows long, v_sum long"
        ),
        1,
    )
    assert cat.snapshot_props("summary")["cdf_last_batch_id"] == 1


def test_write_audit_publish_props_commit_with_pass_discard_with_fail(
    spark, tmp_path
):
    from agol_pandas_spark.errors import AuditFailedError
    from agol_pandas_spark.operators.merge import write_audit_publish

    cat = Catalog(spark, str(tmp_path))
    write_audit_publish(
        cat, _mk(spark, 10), "t", mode="append",
        audits={"v_nonneg": "v >= 0"},
        snapshot_props={"batch": 0},
    )
    assert cat.snapshot_props("t") == {"batch": 0}
    with pytest.raises(AuditFailedError):
        write_audit_publish(
            cat, _mk(spark, 4, 7), "t", mode="upsert", key="k",
            audits={"impossible": "v < 0"},
            snapshot_props={"batch": 1},
        )
    # the failed audit discarded the marker with the snapshot
    assert cat.snapshot_props("t") == {"batch": 0}


def test_housekeeping_preserves_props_and_declares_data_change(
    spark, tmp_path
):
    cat = Catalog(spark, str(tmp_path))
    cat.write(
        _mk(spark, 200).repartition(6), "t",
        snapshot_props={"cdf_stream_id": "s", "cdf_last_batch_id": 5},
    )
    parent = cat.commit_id("t")
    cat.compact_selective("t", min_file_bytes=1 << 30, keep_versions=2)
    props = cat.snapshot_props("t")
    # the exactly-once marker SURVIVES housekeeping (a compaction that
    # wiped it would re-open the re-execution window), and the commit
    # declares itself row-preserving with a parent pointer
    assert props["cdf_stream_id"] == "s"
    assert props["cdf_last_batch_id"] == 5
    assert props["data_change"] is False
    assert cat.parent_commit_id_at(cat.path("t")) == parent

    parent2 = cat.commit_id("t")
    cat.optimize_zorder("t", ["k"], num_files=2, keep_versions=2)
    props2 = cat.snapshot_props("t")
    assert props2["cdf_last_batch_id"] == 5
    assert props2["data_change"] is False
    assert cat.parent_commit_id_at(cat.path("t")) == parent2

    parent3 = cat.commit_id("t")
    cat.compact("t", keep_versions=2)
    props3 = cat.snapshot_props("t")
    assert props3["cdf_last_batch_id"] == 5
    assert props3["data_change"] is False
    assert cat.parent_commit_id_at(cat.path("t")) == parent3
    # rows identical throughout
    assert cat.table("t").count() == 200

    # a real data commit does NOT inherit the declaration
    cat.write(_mk(spark, 201), "t", mode="overwrite", keep_versions=2)
    assert cat.snapshot_props("t") == {}


def test_compact_is_occ_guarded(spark, tmp_path, monkeypatch):
    """A writer racing the compaction between its read and its swap must
    surface as ConcurrentWriteError — never a silent revert of the
    racer's rows to the pre-race state the compaction job read."""
    from agol_pandas_spark.errors import ConcurrentWriteError

    cat = Catalog(spark, str(tmp_path))
    cat.write(_mk(spark, 50).repartition(4), "t")

    real_swap = cat._swap_in
    raced = {"done": False}

    def racing_swap(staged, name, keep_versions, **kw):
        if not raced["done"] and kw.get("expected_commit") is not None:
            raced["done"] = True
            # the racer lands AFTER compaction staged its rewrite but
            # BEFORE its swap — the classic lost-update window
            cat.write(_mk(spark, 60, 1), "t", mode="overwrite")
        return real_swap(staged, name, keep_versions, **kw)

    monkeypatch.setattr(cat, "_swap_in", racing_swap)
    with pytest.raises(ConcurrentWriteError):
        cat.compact("t", keep_versions=2)
    monkeypatch.undo()
    assert cat.table("t").count() == 60  # the racer's commit survived


def test_restore_brings_archived_props_back(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.write(_mk(spark, 10), "t", snapshot_props={"batch": 7})
    cat.write(_mk(spark, 12), "t", mode="overwrite", keep_versions=4)
    assert cat.snapshot_props("t") == {}  # wholesale replacement
    cat.restore("t", 1)
    # the restored snapshot carries the props it was archived with
    assert cat.snapshot_props("t") == {"batch": 7}
    assert cat.table("t").count() == 10


def test_restore_of_housekeeping_snapshot_never_declares_noop(
    spark, tmp_path
):
    """Review r10: an archived HOUSEKEEPING snapshot carries
    data_change=False — describing its relation to ITS predecessor. A
    restore of it changes rows relative to the state it displaces, so
    the declaration must NOT come back: a change-feed tail trusting it
    would silently skip the restore and diverge forever."""
    from agol_pandas_spark.streaming.cdf_source import CdfTail

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write(_mk(spark, 20), "t")
    cat.compact_selective("t", min_file_bytes=1 << 30, keep_versions=9)
    assert cat.snapshot_props("t")["data_change"] is False
    # a data commit, then restore back to the compacted state
    cat.write(_mk(spark, 30, 5), "t", mode="overwrite", keep_versions=9)
    compacted_version = cat.versions("t")[-1]
    tail = CdfTail(cat, "t", key="k", spool_dir=str(tmp_path / "spool"))
    assert tail.advance(include_current=True) >= 1  # drain to HEAD(30 rows)
    n_before = tail.read_spool(spark).count()

    cat.restore("t", compacted_version)  # back to 20 rows: a DATA change
    assert "data_change" not in cat.snapshot_props("t")
    assert tail.advance(include_current=True) >= 1  # restore delta spooled
    assert tail.read_spool(spark).count() > n_before
    tail.close()
