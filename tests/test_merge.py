"""Merge-mode semantics (reference ``src/agol_pandas.py:388-413``) and
reference-bug regressions (SURVEY §2a bug list)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agol_pandas_spark.errors import (
    DuplicateKeyError,
    EmptyInputError,
    MissingKeyError,
    UnknownModeError,
)
from agol_pandas_spark.operators.merge import merge, validate_unique_key


@pytest.fixture()
def tgt(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double"
    )


@pytest.fixture()
def src(spark):
    # id 2,3 update; id 9 insert
    return spark.createDataFrame(
        [(2, "B", 200.0), (3, "C", 300.0), (9, "z", 90.0)],
        "id long, name string, v double",
    )


def _as_map(df):
    return {r["id"]: (r["name"], r["v"]) for r in df.collect()}


def test_append(tgt, src):
    out = merge(tgt, src, "append")
    assert out.count() == 6


def test_overwrite(tgt, src):
    assert _as_map(merge(tgt, src, "overwrite")) == _as_map(src)


def test_upsert(tgt, src):
    got = _as_map(merge(tgt, src, "upsert", key="id"))
    assert got == {1: ("a", 10.0), 2: ("B", 200.0), 3: ("C", 300.0), 9: ("z", 90.0)}


def test_update_skips_inserts(tgt, src):
    got = _as_map(merge(tgt, src, "update", key="id"))
    assert got == {1: ("a", 10.0), 2: ("B", 200.0), 3: ("C", 300.0)}


def test_insert_skips_updates(tgt, src):
    got = _as_map(merge(tgt, src, "insert", key="id"))
    assert got == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0), 9: ("z", 90.0)}


def test_unknown_mode_rejected(tgt, src):
    with pytest.raises(UnknownModeError):
        merge(tgt, src, "replace")


def test_empty_source_rejected(tgt, src):
    with pytest.raises(EmptyInputError):
        merge(tgt, src.limit(0), "append")


def test_keyed_mode_requires_key(tgt, src):
    with pytest.raises(MissingKeyError):
        merge(tgt, src, "upsert")


def test_duplicate_source_keys_rejected(tgt, src, spark):
    dup = src.unionByName(src.limit(1))
    with pytest.raises(DuplicateKeyError):
        merge(tgt, dup, "upsert", key="id")


def test_validate_unique_key_passes(tgt):
    validate_unique_key(tgt, "id")  # no raise


def test_upsert_preserves_missing_source_columns(spark, tgt):
    src2 = spark.createDataFrame([(2, "B", 99)], "id long, name string, w long")
    out = merge(tgt, src2, "upsert", key="id")
    rows = {r["id"]: r for r in out.collect()}
    # v must keep the target's 20.0 because the source has no v column
    assert rows[2]["v"] == 20.0
    assert rows[2]["w"] == 99
    assert rows[1]["w"] is None


def test_upsert_source_null_overwrites_carried_column(spark, tgt):
    # a column the source CARRIES overwrites on match even with NULL —
    # distinct from a column the source lacks (which keeps target values)
    src2 = spark.createDataFrame([(2, None, None)], "id long, name string, v double")
    out = merge(tgt, src2, "upsert", key="id")
    rows = {r["id"]: r for r in out.collect()}
    assert rows[2]["name"] is None and rows[2]["v"] is None
    assert rows[1]["name"] is not None  # unmatched rows untouched


def test_upsert_composite_key(spark):
    tgt2 = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 11.0), (2, "a", 20.0)],
        "k1 long, k2 string, v double",
    )
    src2 = spark.createDataFrame(
        [(1, "b", 99.0), (3, "c", 30.0)], "k1 long, k2 string, v double"
    )
    out = merge(tgt2, src2, "upsert", key=["k1", "k2"])
    rows = {(r.k1, r.k2): r.v for r in out.collect()}
    assert rows == {(1, "a"): 10.0, (1, "b"): 99.0, (2, "a"): 20.0, (3, "c"): 30.0}


def test_composite_key_duplicate_detection(spark):
    tgt2 = spark.createDataFrame([(1, "a", 1.0)], "k1 long, k2 string, v double")
    dup = spark.createDataFrame(
        [(1, "a", 1.0), (1, "a", 2.0)], "k1 long, k2 string, v double"
    )
    with pytest.raises(DuplicateKeyError):
        merge(tgt2, dup, "upsert", key=["k1", "k2"])


def test_snapshot_diff_composite_key(spark):
    from agol_pandas_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0)], "k1 long, k2 string, v double"
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 9.0), (3, "c", 4.0)], "k1 long, k2 string, v double"
    )
    got = {(r.k1, r.k2): r.change_type for r in snapshot_diff(old, new, ["k1", "k2"]).collect()}
    assert got == {
        (1, "a"): "unchanged",
        (1, "b"): "updated",
        (2, "a"): "deleted",
        (3, "c"): "inserted",
    }


def test_scd2_history_versions_and_incremental_replay(spark):
    """Version boundaries, validity ranges, currency flags; and the
    incremental contract: rebuilding from log-prefix ∪ new changes equals
    the one-shot build (reconstruction is a pure function of the log)."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.operators.merge import scd2_history

    rows = [
        (1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (1, 40, "b"), (1, 50, "a"),
        (2, 15, "x"),
        (3, 5, None), (3, 25, "y"),  # NULL opens its own version
    ]
    log = spark.createDataFrame(rows, "k long, ts long, v string")

    def build(df):
        return {
            (r.k, r.v, r.valid_from, r.valid_to, r.n_events, r.is_current)
            for r in scd2_history(df, "k", "ts", "v").collect()
        }

    got = build(log)
    assert got == {
        (1, "a", 10, 30, 2, False),
        (1, "b", 30, 50, 2, False),
        (1, "a", 50, None, 1, True),   # value recurrence = NEW version
        (2, "x", 15, None, 1, True),
        (3, None, 5, 25, 1, False),
        (3, "y", 25, None, 1, True),
    }
    # incremental replay: same history from two batches
    merged = log.filter(F.col("ts") <= 25).unionByName(log.filter(F.col("ts") > 25))
    assert build(merged) == got


def test_apply_changes_delete_upsert_insert_out_of_order(spark):
    """Highest-sequence change wins regardless of arrival order; deletes
    remove keys; unseen keys insert; untouched target rows survive."""
    from agol_pandas_spark.operators.merge import apply_changes

    tgt = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], ["k", "v"]
    )
    chg = spark.createDataFrame(
        [
            (1, "U", 5, 11),   # stale update...
            (1, "D", 9, 0),    # ...overridden by later delete
            (2, "U", 3, 21),   # plain update
            (4, "I", 1, 40),   # insert of a new key
            (5, "D", 2, 0),    # delete of a key the target never had
        ],
        ["k", "op", "seq", "v"],
    )
    out = {r.k: r.v for r in
           apply_changes(tgt, chg, key="k", seq_col="seq").collect()}
    assert out == {2: 21, 3: 30, 4: 40}


def test_observe_metrics_ride_the_merge_plan(spark):
    """df.observe collects pipeline metrics during the SAME action — no
    second scan. The upsert merge plan carries row-count and balance-sum
    observations that match a direct computation."""
    from pyspark.sql import Observation

    from agol_pandas_spark.operators.merge import merge

    tgt = spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"])
    src = spark.createDataFrame([(2, 99), (3, 30)], ["k", "v"])
    obs = Observation("merge_metrics")
    merged = merge(tgt, src, mode="upsert", key="k").observe(
        obs, F.count(F.lit(1)).alias("rows_out"), F.sum("v").alias("v_total")
    )
    result = {r.k: r.v for r in merged.collect()}
    assert result == {1: 10, 2: 99, 3: 30}
    assert obs.get == {"rows_out": 3, "v_total": 10 + 99 + 30}


def test_apply_changes_seq_ties_resolve_deterministically(spark):
    """Equal-sequence changes must resolve the same on any partitioning:
    the default tie-break orders by the remaining columns (op then v
    ascending here), so ('U', 5) beats ('Z', 99) regardless of layout."""
    from agol_pandas_spark.operators.merge import apply_changes

    tgt = spark.createDataFrame([(1, 0)], ["k", "v"])
    chg = spark.createDataFrame(
        [(1, "Z", 7, 99), (1, "U", 7, 5)], ["k", "op", "seq", "v"]
    )
    for parts in (1, 8):
        out = apply_changes(
            tgt, chg.repartition(parts), key="k", seq_col="seq"
        ).collect()
        assert [(r.k, r.v) for r in out] == [(1, 5)]


def test_merge_type_conflict_raises_schema_mismatch(spark):
    """Same-name columns with ununionable types fail fast with the typed
    error; numeric widening (int vs long) stays allowed."""
    import pytest

    from agol_pandas_spark.errors import SchemaMismatchError
    from agol_pandas_spark.operators.merge import merge

    tgt = spark.createDataFrame([(1, 10)], "k long, v long")
    bad = spark.createDataFrame([(2, "oops")], "k long, v string")
    with pytest.raises(SchemaMismatchError, match="v: source string"):
        merge(tgt, bad, mode="append", key="k")

    ok = spark.createDataFrame([(2, 20)], "k long, v int")
    got = sorted((r.k, r.v) for r in merge(tgt, ok, mode="append", key="k").collect())
    assert got == [(1, 10), (2, 20)]


def test_merge_delete_mode_removes_keyed_rows(spark):
    """DELETE drops exactly the target rows whose key appears in the
    source; extra source columns are ignored and unknown keys are
    no-ops."""
    from agol_pandas_spark.operators.merge import merge

    tgt = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    src = spark.createDataFrame([(2, 99), (42, 0)], "k long, ignored long")
    out = merge(tgt, src, mode="delete", key="k")
    assert out.columns == ["k", "v"]  # target schema untouched
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [(1, "a"), (3, "c")]


def test_apply_changes_null_op_upserts_instead_of_deleting(spark):
    """A NULL op is a malformed CDC row, not a delete: plain `!=` would
    silently drop the key (excluded from upserts AND anti-joined out of
    the target). The null-safe filter upserts its payload instead."""
    from agol_pandas_spark.operators.merge import apply_changes

    tgt = spark.createDataFrame([(1, "old"), (2, "keep")], "k long, v string")
    chg = spark.createDataFrame(
        [(1, None, 5, "new")], "k long, op string, seq long, v string"
    ).select("k", "op", "seq", "v")
    out = {
        (r["k"], r["v"])
        for r in apply_changes(tgt, chg, key="k", seq_col="seq").collect()
    }
    assert out == {(1, "new"), (2, "keep")}


def test_union_rejects_lossy_long_vs_double(spark):
    """long/decimal(38) vs double union coerces to double and rounds
    above 2^53 — the implicit lossy coercion SchemaMismatchError exists
    to catch. int vs double stays allowed (every int32 is double-exact)."""
    from agol_pandas_spark.errors import SchemaMismatchError

    tgt = spark.createDataFrame([(1, 2**60)], "id long, v long")
    src = spark.createDataFrame([(2, 1.5)], "id long, v double")
    with pytest.raises(SchemaMismatchError):
        merge(tgt, src, key="id", mode="append")

    tgt_i = spark.createDataFrame([(1, 7)], "id long, v int")
    src_d = spark.createDataFrame([(2, 1.5)], "id long, v double")
    assert merge(tgt_i, src_d, key="id", mode="append").count() == 2


class TestSurrogateKeys:
    def test_dense_deterministic_across_partitionings(self, spark):
        from agol_pandas_spark.operators.merge import assign_surrogate_keys

        rows = [(k,) for k in [30, 10, 50, 20, 40]]
        results = []
        for n_parts in (1, 3):
            df = spark.createDataFrame(rows, "nk long").repartition(n_parts)
            out = assign_surrogate_keys(df, order_by=["nk"])
            results.append({r["nk"]: r["sk"] for r in out.collect()})
        assert results[0] == results[1] == {10: 1, 20: 2, 30: 3, 40: 4, 50: 5}

    def test_continues_from_existing_max(self, spark):
        from agol_pandas_spark.operators.merge import assign_surrogate_keys

        first = assign_surrogate_keys(
            spark.createDataFrame([(1,), (2,)], "nk long"), order_by=["nk"]
        )
        second = assign_surrogate_keys(
            spark.createDataFrame([(7,), (8,), (9,)], "nk long"),
            order_by=["nk"],
            existing=first,
        )
        got = {r["nk"]: r["sk"] for r in second.collect()}
        assert got == {7: 3, 8: 4, 9: 5}

    def test_duplicate_order_keys_raise(self, spark):
        from agol_pandas_spark.operators.merge import assign_surrogate_keys

        df = spark.createDataFrame([(1,), (1,)], "nk long")
        with pytest.raises(Exception):
            assign_surrogate_keys(df, order_by=["nk"]).collect()


class TestCheckConstraints:
    """operators/constraints.py: declarative CHECK enforcement on write."""

    def test_violations_collect_all_rules_in_one_pass(self, spark):
        from agol_pandas_spark.errors import ConstraintViolationError
        from agol_pandas_spark.operators.constraints import enforce_checks

        df = spark.createDataFrame(
            [(1, 10.0), (2, -5.0), (3, None), (None, 3.0)],
            "k long, v double",
        )
        with pytest.raises(ConstraintViolationError) as ei:
            enforce_checks(
                df,
                {
                    "v_nonneg": "v >= 0",          # row 2 fails; NULL v passes
                    "k_not_null": "k IS NOT NULL",  # last row fails
                    "v_below_cap": "v < 1000",      # nobody fails
                },
            )
        assert ei.value.counts == {"v_nonneg": 1, "k_not_null": 1}

    def test_null_predicate_passes_like_sql_check(self, spark):
        from agol_pandas_spark.operators.constraints import enforce_checks

        df = spark.createDataFrame([(1, None), (2, 5.0)], "k long, v double")
        # v >= 0 is UNKNOWN for the NULL row — SQL CHECK lets it through
        assert enforce_checks(df, {"v_nonneg": "v >= 0"}) is df

    def test_write_table_checks_leave_target_untouched(self, spark, tmp_path):
        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.errors import ConstraintViolationError
        from agol_pandas_spark.operators.merge import write_table

        cat = Catalog(spark, str(tmp_path))
        good = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
        write_table(cat, good, "t", mode="overwrite", key="k",
                    checks={"v_nonneg": "v >= 0"})
        bad = spark.createDataFrame([(2, -1.0), (3, 30.0)], "k long, v double")
        with pytest.raises(ConstraintViolationError):
            write_table(cat, bad, "t", mode="upsert", key="k",
                        checks={"v_nonneg": "v >= 0"})
        # rejected write never reached the two-phase commit
        assert sorted(tuple(r) for r in cat.table("t").collect()) == [
            (1, 10.0), (2, 20.0),
        ]
        # and a passing write still goes through with checks on
        fix = spark.createDataFrame([(2, 2.0)], "k long, v double")
        write_table(cat, fix, "t", mode="upsert", key="k",
                    checks={"v_nonneg": "v >= 0"})
        assert sorted(tuple(r) for r in cat.table("t").collect()) == [
            (1, 10.0), (2, 2.0),
        ]


def test_write_audit_publish_gate(spark, tmp_path):
    """WAP: failing audit discards the staged snapshot (no leftover
    staging dir, live table byte-identical); passing audit publishes
    atomically; create-path also audited. Audits are CHECK polarity:
    a row violates only when the predicate evaluates FALSE."""
    import os

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import AuditFailedError
    from agol_pandas_spark.operators.merge import write_audit_publish

    cat = Catalog(spark, str(tmp_path / "wap"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, s string, v double"
    )
    # create-path audit failure: nothing may exist afterwards
    bad = base.withColumn("s", __import__("pyspark").sql.functions.lit(None).cast("string"))
    try:
        write_audit_publish(cat, bad, "t", "append", audits={"s_present": "s IS NOT NULL"})
        raise AssertionError("audit must fail")
    except AuditFailedError as ex:
        assert ex.violations == {"s_present": 2}
    assert not cat.exists("t")

    write_audit_publish(cat, base, "t", "append", audits={"s_present": "s IS NOT NULL"})
    assert cat.table("t").count() == 2

    # merge-path failure leaves table + directory untouched
    files_before = sorted(os.listdir(cat.path("t")))
    delta_bad = spark.createDataFrame([(2, None, 99.0)], "k long, s string, v double")
    try:
        write_audit_publish(cat, delta_bad, "t", "upsert", key="k",
                            audits={"s_present": "s IS NOT NULL"})
        raise AssertionError("audit must fail")
    except AuditFailedError:
        pass
    assert sorted(os.listdir(cat.path("t"))) == files_before
    leftovers = [d for d in os.listdir(str(tmp_path / "wap")) if "__tmp" in d]
    assert leftovers == [], f"staged dir leaked: {leftovers}"

    # passing merge publishes
    delta_ok = spark.createDataFrame([(2, "B", 99.0)], "k long, s string, v double")
    write_audit_publish(cat, delta_ok, "t", "upsert", key="k",
                        audits={"s_present": "s IS NOT NULL"})
    got = {r.k: (r.s, r.v) for r in cat.table("t").collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0)}


def test_wap_audit_polarity_is_check_semantics(spark, tmp_path):
    """ADVICE r6 regression: both write_audit_publish (merge) and
    write_audit_publish_branch (views) treat predicate-FALSE as the
    violation and let NULL (unknown) pass — a rule moved between the
    two gates keeps its meaning."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import AuditFailedError, ConstraintViolationError
    from agol_pandas_spark.operators.merge import write_audit_publish
    from agol_pandas_spark.operators.views import write_audit_publish_branch

    rule = {"v_pos": "v > 0"}
    ok_with_null = spark.createDataFrame(
        [(1, 10.0), (2, None)], "k long, v double"
    )
    bad = spark.createDataFrame([(3, -1.0)], "k long, v double")

    cat = Catalog(spark, str(tmp_path / "m"))
    write_audit_publish(cat, ok_with_null, "t", "append", audits=rule)  # NULL passes
    assert cat.table("t").count() == 2
    try:
        write_audit_publish(cat, bad, "t", "upsert", key="k", audits=rule)
        raise AssertionError("FALSE row must violate")
    except AuditFailedError as ex:
        assert ex.violations == {"v_pos": 1}

    cat2 = Catalog(spark, str(tmp_path / "v"))
    cat2.write(spark.createDataFrame([(0, 5.0)], "k long, v double"), "t", mode="error")
    write_audit_publish_branch(cat2, "t", ok_with_null, rule, mode="upsert", key="k")
    assert cat2.table("t").count() == 3  # NULL passed here too
    try:
        write_audit_publish_branch(cat2, "t", bad, rule, mode="upsert", key="k")
        raise AssertionError("FALSE row must violate")
    except ConstraintViolationError as ex:
        assert ex.counts == {"v_pos": 1}


def test_bare_merge_evaluates_source_once(spark):
    """VERDICT r11 item 3: a bare merge() with a caller-held lazy source
    must materialize that source exactly ONCE (lazy localCheckpoint) —
    previously the fused guard plus the upsert plan's matched-join and
    anti-join re-evaluated the caller's plan per reference. Counted with
    an accumulator inside a UDF column of the source plan."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(v):
        acc.add(1)
        return v

    n = 100
    target = spark.range(50).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    source = spark.range(n).select(
        F.col("id").alias("k"), counted(F.col("id") * 2).alias("v")
    )
    out = merge(target, source, "upsert", key="k")
    out.write.format("noop").mode("overwrite").save()
    # one evaluation per source row: the guard job materializes the
    # checkpoint, the merge plan's two source references read its blocks
    assert acc.value == n, f"source evaluated {acc.value / n:.1f}x"


def test_bare_merge_delete_caches_keys_only(spark):
    """DELETE narrows the source to its key columns before the
    checkpoint, so a wide delete-delta never computes (or caches) its
    payload columns."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def payload(v):
        acc.add(1)
        return v

    target = spark.range(50).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    source = spark.range(10).select(
        F.col("id").alias("k"), payload(F.col("id")).alias("v")
    )
    out = merge(target, source, "delete", key="k")
    assert out.count() == 40
    assert acc.value == 0, "delete evaluated payload columns"


def test_keyed_source_checkpointed_once_per_path(spark, tmp_path, monkeypatch):
    """write_table persists a keyed source itself, so the merge() it
    calls must read that cache instead of localCheckpointing the delta a
    second time; a bare merge() still checkpoints its lazy source once."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.merge import write_table

    cat = Catalog(spark, str(tmp_path))
    base = spark.range(20).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    # the session's concrete DataFrame class (pyspark.sql.DataFrame is
    # only its base in Spark 4)
    df_cls = type(base)
    calls = []
    orig = df_cls.localCheckpoint

    def counted(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(df_cls, "localCheckpoint", counted)
    cat.write(base, "t")
    delta = spark.range(15, 25).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    write_table(cat, delta, "t", mode="upsert", key="k", prune=False)
    assert len(calls) == 0
    got = {r["k"]: r["v"] for r in cat.table("t").collect()}
    assert got == {k: (1 if k >= 15 else 0) for k in range(25)}

    merge(base, delta, "upsert", key="k")
    assert len(calls) == 1
