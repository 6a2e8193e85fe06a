"""Fault injection on every catalog commit path.

For each path, the n-th call of ``os.rename``, ``os.replace``,
``os.link`` or ``shutil.rmtree`` raises, for every n, on a fresh copy of
the same starting catalog. After each failure the target must show
exactly the old snapshot (rows and commit id) or exactly the new one,
and ``cleanup_staging(max_age_sec=-1)`` must leave no ``__tmp_`` entry
and no ``__old_`` entry beside a live target (its docstring keeps an
``__old_`` backup only where the target is missing)."""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.operators.merge import merge_pruned, write_table
from conftest import _rebuild_failing_at

FAULT_CALLS = ((os, "rename"), (os, "replace"), (os, "link"), (shutil, "rmtree"))


def _df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "k")
    )


def _rows(path):
    """Sorted rows of the table, tag or index at ``path``; None when the
    path is missing. Index rows name their data file by basename."""
    if not os.path.exists(path):
        return None
    rows = ds.dataset(path, format="parquet").to_table().to_pylist()
    return tuple(sorted(
        tuple(os.path.basename(v) if k == "file" else v for k, v in r.items())
        for r in rows
    ))


def _table(cat, name):
    return _rows(cat.path(name)), cat.commit_id(name)


def _setup_versioned(spark, cat):
    cat.write(_df(spark, 0, 40), "t")
    cat.write(_df(spark, 40, 80), "t", mode="overwrite", keep_versions=1)


def _setup_branch(spark, cat):
    cat.write(_df(spark, 0, 40), "t")
    write_table(
        cat, spark.createDataFrame([(5, -1), (99, 1)], "k long, v long"),
        cat.branch_table("t", "b"), mode="upsert", key="k",
    )


def _setup_index(spark, cat):
    cat.write(_df(spark, 0, 40), "t")
    cat.build_skipping_index("t", "k")
    cat.write(_df(spark, 40, 80), "t", mode="overwrite")


def _setup_table(spark, cat):
    cat.write(_df(spark, 0, 40), "t")


#: path -> (set up the old state, run the commit, read the state as
#: ``(rows, commit id)`` parts)
CASES = {
    "write": (
        _setup_versioned,
        lambda spark, cat: cat.write(
            _df(spark, 80, 120), "t", mode="overwrite", keep_versions=1
        ),
        lambda cat: (_table(cat, "t"),),
    ),
    "merge_pruned": (
        _setup_table,
        lambda spark, cat: merge_pruned(
            cat, spark.createDataFrame([(5, -1)], "k long, v long"), "t",
            "upsert", "k",
        ),
        lambda cat: (_table(cat, "t"),),
    ),
    "write_local": (
        _setup_table,
        lambda spark, cat: cat.write_local(
            pa.table({"k": [100], "v": [200]}), "t", mode="overwrite"
        ),
        lambda cat: (_table(cat, "t"),),
    ),
    "clone": (
        _setup_table,
        lambda spark, cat: cat.clone("t", "c"),
        lambda cat: (_table(cat, "c"), _table(cat, "t")),
    ),
    "branch_table": (
        _setup_table,
        lambda spark, cat: cat.branch_table("t", "b"),
        lambda cat: (_table(cat, "t__branch_b"), _table(cat, "t")),
    ),
    "publish_branch": (
        _setup_branch,
        lambda spark, cat: cat.publish_branch("t", "b", keep_versions=1),
        lambda cat: (_table(cat, "t"),),
    ),
    "restore": (
        _setup_versioned,
        lambda spark, cat: cat.restore("t", 1),
        lambda cat: (_table(cat, "t"),),
    ),
    "tag_snapshot": (
        _setup_table,
        lambda spark, cat: cat.tag_snapshot("t", "r"),
        lambda cat: ((_rows(cat._tag_path("t", "r")), None), _table(cat, "t")),
    ),
    "build_skipping_index": (
        _setup_index,
        lambda spark, cat: cat.build_skipping_index("t", "k"),
        lambda cat: ((_rows(cat._index_path("t", "k")), None),),
    ),
}


def _classify(got, old, new) -> str:
    """``old``, ``new`` or ``third``. A commit id matches the new state
    when it equals the finished run's where that one kept an id (or
    has none), and is a fresh id otherwise — ids are random per run."""
    if got == old:
        return "old"

    def matches(g, n, o):
        (g_rows, g_id), (n_rows, n_id), (_, o_id) = g, n, o
        fresh = n_id not in (None, o_id)
        return g_rows == n_rows and (
            g_id not in (None, o_id) if fresh else g_id == n_id
        )

    return "new" if all(map(matches, got, new, old)) else "third"


def _debris(root) -> list[str]:
    """Staging entries left under ``root``: every ``__tmp_`` entry, and
    ``__old_`` backups whose target exists."""
    out = []
    for dp, dirs, files in os.walk(root):
        for e in dirs + files:
            if "__tmp_" in e or (
                "__old_" in e
                and os.path.exists(os.path.join(dp, e.split(".__old_")[0]))
            ):
                out.append(os.path.join(dp, e))
    return out


def _fault_outcomes(spark, monkeypatch, tmp_path, case, exc) -> dict:
    """Run ``case``'s commit with each fault position in turn on a copy
    of the same old catalog; return the outcome per position."""
    setup, op, state = CASES[case]
    old_root = tmp_path / "old"
    setup(spark, Catalog(spark, str(old_root)))
    old = state(Catalog(spark, str(old_root)))
    shutil.copytree(old_root, tmp_path / "ref")
    ref = Catalog(spark, str(tmp_path / "ref"))
    op(spark, ref)
    new = state(ref)
    assert _classify(new, old, new) == "new" and new != old
    outcomes = {}
    for position in itertools.count():
        root = tmp_path / f"pos{position}"
        shutil.copytree(old_root, root)
        cat = Catalog(spark, str(root))
        failed = _rebuild_failing_at(
            monkeypatch, position, lambda: op(spark, cat), FAULT_CALLS, exc
        )
        cat.cleanup_staging(max_age_sec=-1)
        assert _debris(root) == [], (position, _debris(root))
        outcome = _classify(state(cat), old, new)
        if not failed:
            assert outcome == "new"
            return outcomes
        outcomes[position] = outcome


@pytest.mark.parametrize("exc", [OSError, KeyboardInterrupt])
@pytest.mark.parametrize("case", list(CASES))
def test_commit_path_fault_injection(spark, tmp_path, monkeypatch, case, exc):
    """A commit that fails at any rename, replace, link or rmtree call
    leaves the target at its old or its new snapshot, never a third
    state, and leaves no staging debris after cleanup_staging."""
    outcomes = _fault_outcomes(spark, monkeypatch, tmp_path, case, exc)
    assert outcomes, "the commit made no faultable filesystem call"
    assert all(o in ("old", "new") for o in outcomes.values()), outcomes
