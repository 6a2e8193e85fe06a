"""Key-equi merge plans — the reference's five write modes as Spark joins.

The reference's entire "join" surface is the server-side upsert of
``df_to_agol_hosted_table`` (``src/agol_pandas.py:314-475``): mode
validation at ``:360-363``, flag wiring at ``:388-413``, column alignment
by name at ``:452``, per-chunk rollback at ``:453``. Here each mode is a
*join rewrite* producing the new table contents lazily — Catalyst picks
broadcast vs sort-merge, AQE handles skew, and nothing touches the driver:

=========  ==============================================================
append     UNION ALL by name (no matching)
overwrite  source replaces target (truncate-and-load, reference ``:396``)
upsert     update matches + insert non-matches
update     only rows whose key exists in target are applied
insert     only rows whose key is absent from target are added
=========  ==============================================================

Column-collision semantics (decision recorded per SURVEY §7): alignment is
by name, matching the reference (``:452``). On upsert/update the source
value wins for every column the source carries; columns the source lacks
keep the target value; columns the target lacks appear with NULL for
pre-existing rows.

Scale notes: ``upsert``/``insert`` need the *whole* target rewritten (no
in-place update on Parquet); the plan is a single shuffle on the key —
broadcastable when the source is small (the common CDC shape), sort-merge
otherwise. ``update`` uses a left-join of target onto source so unmatched
target rows stream through the join untouched; nothing is collected.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from enum import Enum

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from agol_pandas_spark.catalog import FOOTER_MERGE_MAX_FILES
from agol_pandas_spark.errors import (
    DuplicateKeyError,
    EmptyInputError,
    MissingKeyError,
    UnknownModeError,
    SchemaMismatchError,
)
from agol_pandas_spark.session import local_frame


class WriteMode(str, Enum):
    """Reference mode vocabulary, ``src/agol_pandas.py:361``."""

    APPEND = "append"
    OVERWRITE = "overwrite"
    UPSERT = "upsert"
    UPDATE = "update"
    INSERT = "insert"
    # extension beyond the reference's five: keyed deletion (lakehouse
    # DELETE WHERE key IN source) — the mode the reference cannot express
    DELETE = "delete"

    @classmethod
    def parse(cls, mode: str) -> "WriteMode":
        try:
            return cls(mode.lower())
        except ValueError:
            raise UnknownModeError(
                f"mode {mode!r} not in {[m.value for m in cls]}"
            ) from None


#: modes that match rows on a unique key (reference ``update_modes``, :394)
KEYED_MODES = frozenset(
    {WriteMode.UPSERT, WriteMode.UPDATE, WriteMode.INSERT, WriteMode.DELETE}
)


def _keys(key) -> list[str]:
    """Normalize the merge key: single column name or a sequence of them
    (composite keys — beyond the reference's single ``upsert_column``,
    ``src/agol_pandas.py:332-334``, but a natural generalization)."""
    return [key] if isinstance(key, str) else list(key)


def validate_unique_key(df: DataFrame, key, side: str = "source") -> None:
    """Reject duplicate keys before merging.

    Replaces the reference's server-side unique index
    (``set_unique_key_constraint``, ``src/agol_pandas.py:253-312``) — and
    fixes the bug at ``:410-412``/``:527-529`` where constraint failures
    were silently ignored. One hash aggregation; short-circuits via
    ``isEmpty`` on the duplicate stream (no full count of the table).
    """
    ks = _keys(key)
    dupes = df.groupBy(*ks).count().filter(F.col("count") > 1)
    if not dupes.isEmpty():
        sample = [tuple(r[k] for k in ks) for r in dupes.select(*ks).limit(5).collect()]
        raise DuplicateKeyError(
            f"{side} has duplicate values for key {ks}: sample {sample}"
        )


def _check_keyed_source(df: DataFrame, ks: list[str], side: str = "source") -> None:
    """Empty guard + unique-key validation in ONE job (optimization
    guide §1.2: each was a separate action over the caller's source
    plan — ``isEmpty`` + the duplicate-stream ``isEmpty`` — so every
    keyed merge paid two source evaluations before any real work).
    One hash aggregation yields both facts: zero key groups == empty
    source; a group with count > 1 == duplicate key. The failure path
    re-runs :func:`validate_unique_key` to build the 5-row sample — a
    second scan only when the merge is about to be rejected anyway."""
    stats = (
        df.groupBy(*ks)
        .count()
        .agg(
            F.count(F.lit(1)).alias("__n_groups"),
            F.max("count").alias("__max_n"),
        )
        .first()
    )
    if stats["__n_groups"] == 0:
        raise EmptyInputError("source DataFrame is empty")
    if stats["__max_n"] > 1:
        validate_unique_key(df, ks, side)
        raise DuplicateKeyError(  # unreachable guard: validate raises
            f"{side} has duplicate values for key {ks}"
        )


def _lossy_vs_float(exact, flt) -> bool:
    """True when Spark's union coercion of ``exact`` (integral/decimal)
    with the float type ``flt`` can silently round values: doubles carry
    53 mantissa bits (long and decimal(p>15) overflow them), floats 24
    (int, long and decimal(p>7) overflow those)."""
    if isinstance(flt, T.DoubleType):
        return isinstance(exact, T.LongType) or (
            isinstance(exact, T.DecimalType) and exact.precision > 15
        )
    if isinstance(flt, T.FloatType):
        return isinstance(exact, (T.IntegerType, T.LongType)) or (
            isinstance(exact, T.DecimalType) and exact.precision > 7
        )
    return False


def _union_incompatible(a, b) -> bool:
    """True when a union of these two types would fail or silently lose
    information: identical types are fine; both-numeric pairs widen
    safely EXCEPT wide-exact vs float (long/decimal(38) coerced to
    double rounds above 2^53 — exactly the implicit lossy coercion this
    check exists to catch); both-datetime pairs widen safely —
    everything else (string vs numeric, array vs scalar, ...) is a
    conflict."""
    if a == b:
        return False
    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
               T.FloatType, T.DoubleType, T.DecimalType)
    temporal = (T.DateType, T.TimestampType, T.TimestampNTZType)
    if isinstance(a, numeric) and isinstance(b, numeric):
        return _lossy_vs_float(a, b) or _lossy_vs_float(b, a)
    if isinstance(a, temporal) and isinstance(b, temporal):
        return False
    return True


def _align_by_name(src: DataFrame, tgt: DataFrame) -> tuple[DataFrame, DataFrame]:
    """By-name column alignment (reference ``append_fields``, ``:452``):
    both sides widened to the union of columns, missing columns NULL of
    the other side's type. Same-name columns whose types conflict (and
    would not union without a lossy/implicit coercion) raise a typed
    :class:`SchemaMismatchError` instead of an opaque Catalyst error."""
    tgt_types = {f.name: f.dataType for f in tgt.schema.fields}
    src_types = {f.name: f.dataType for f in src.schema.fields}
    conflicts = sorted(
        f"{n}: source {src_types[n].simpleString()} vs target "
        f"{tgt_types[n].simpleString()}"
        for n in src_types.keys() & tgt_types.keys()
        if _union_incompatible(src_types[n], tgt_types[n])
    )
    if conflicts:
        raise SchemaMismatchError(
            "source/target column types conflict — cast explicitly "
            "upstream if this evolution is intended: " + "; ".join(conflicts)
        )
    for name, dt in tgt_types.items():
        if name not in src_types:
            src = src.withColumn(name, F.lit(None).cast(dt))
    for name, dt in src_types.items():
        if name not in tgt_types:
            tgt = tgt.withColumn(name, F.lit(None).cast(dt))
    return src.select(*[f.name for f in tgt.schema.fields]), tgt


def merge(
    target: DataFrame,
    source: DataFrame,
    mode: str | WriteMode = WriteMode.APPEND,
    key: str | Sequence[str] | None = None,
    validate_keys: bool = True,
    _source_checked: bool = False,
) -> DataFrame:
    """Return the post-merge contents of ``target`` (lazy plan).

    Mirrors ``df_to_agol_hosted_table`` (``src/agol_pandas.py:314-475``)
    semantics; raises instead of returning ``(str(e), False)``.

    ``_source_checked=True`` (internal): the caller already proved the
    source non-empty and, for keyed modes, key-unique — skip both guards
    instead of re-running their jobs (the copy-on-write path checks once
    up front and fans the source into several plans).

    Keyed-mode sources are materialized once via a lazy
    ``localCheckpoint`` (they are delta-sized by contract; the guard job
    computes the blocks, the returned plan's references read them, and
    the blocks free when the plan is garbage-collected) — unless the
    caller already persisted the source, whose cache then serves every
    reference. Consequence:
    the returned plan is valid for the session's current cache
    generation — re-executing it after ``spark.catalog.clearCache()``
    raises instead of silently recomputing (rebuild the merge in that
    case, as every engine-internal caller does).
    """
    m = WriteMode.parse(mode) if isinstance(mode, str) else mode
    if key is not None and m in KEYED_MODES and not _source_checked:
        # Bare merge() with a caller-held lazy source otherwise evaluates
        # that source plan up to three times: once in the fused guard job
        # below and twice inside the returned plan (matched-join +
        # anti-join for upsert/insert). A keyed source is batch/delta-
        # sized by contract, so materialize it ONCE with a lazy local
        # checkpoint: the guard job computes and caches the blocks, every
        # later reference reads them, and the ContextCleaner frees the
        # blocks when the returned plan is garbage-collected — the
        # lifecycle hook a lazy return value allows, where an explicit
        # persist/unpersist pair cannot outlive this call (guide §1.2,
        # §5; VERDICT r11 item 3). A source the caller already persisted
        # (write_table's non-pruned path) is read from that cache instead:
        # checkpointing it too would materialize the delta a second time.
        # DELETE only ever reads the key columns — narrow before
        # materializing so a wide delete-delta caches keys, not payloads.
        if source.storageLevel == StorageLevel.NONE:
            if m is WriteMode.DELETE:
                source = source.select(*_keys(key))
            source = source.localCheckpoint(eager=False)
    if not _source_checked:
        if validate_keys and key is not None and m in KEYED_MODES:
            # one job for both guards instead of two source evaluations
            _check_keyed_source(source, _keys(key))
        elif source.isEmpty():
            # reference raises on empty input at every entry point (:366-373)
            raise EmptyInputError("source DataFrame is empty")

    if m is WriteMode.OVERWRITE:
        return source

    if m is WriteMode.DELETE:
        # lakehouse DELETE: drop target rows whose key appears in the
        # source — one anti-join BEFORE alignment, so the target schema
        # passes through untouched and only the source's key columns are
        # ever read (no union widening, no schema checks needed)
        if key is None:
            raise MissingKeyError(
                "mode 'delete' requires a key column (:398-401)"
            )
        ks = _keys(key)
        # uniqueness already checked in the fused top guard (or by the
        # caller when _source_checked)
        kept = target.join(source.select(*ks), on=ks, how="left_anti")
        return kept.select(*target.columns)  # the join put the keys first

    # columns the source actually carries: only these may overwrite target
    # values on a match (missing source columns keep the target value —
    # the SURVEY §7 column-collision decision)
    real_src_cols = set(source.columns)
    src, tgt = _align_by_name(source, target)

    if m is WriteMode.APPEND:
        # plain UNION ALL by name; works with or without a key — fixing the
        # reference bug at :416-419 (NameError on keyless chunked append)
        return tgt.unionByName(src)

    if key is None:
        raise MissingKeyError(f"mode {m.value!r} requires a key column (:398-401)")
    ks = _keys(key)
    # key columns are untouched by alignment, so the fused top guard's
    # uniqueness check on ``source`` covers ``src`` here

    if m is WriteMode.INSERT:
        # skip_updates=True (:404-405): keep target intact, add only new keys
        new_rows = src.join(tgt.select(*ks), on=ks, how="left_anti")
        return tgt.unionByName(new_rows.select(*tgt.columns))

    # upsert / update share one shape: target left-joined to source on key,
    # source column wins where matched. Unmatched-target rows pass through.
    src_pref = src.select(
        *[F.col(k).alias(f"__src_{k}") for k in ks],
        F.lit(True).alias("__matched"),
        *[F.col(c).alias(f"__src_{c}") for c in src.columns if c not in ks],
    )
    cond = None
    for k in ks:
        c = tgt[k] == src_pref[f"__src_{k}"]
        cond = c if cond is None else (cond & c)
    joined = tgt.join(src_pref, on=cond, how="left")
    updated = joined.select(
        *[
            (
                F.when(F.col("__matched"), F.col(f"__src_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                if c not in ks and c in real_src_cols
                else F.col(c)
            )
            for c in tgt.columns
        ]
    )
    if m is WriteMode.UPDATE:
        # skip_inserts=True (:402-403): unmatched source rows are dropped
        return updated
    # UPSERT: matched rows updated above + unmatched source rows appended
    inserts = src.join(tgt.select(*ks), on=ks, how="left_anti")
    return updated.unionByName(inserts.select(*tgt.columns))


def _default_key(catalog, name: str, key, m: WriteMode):
    """Default ``key`` from the table's stored declaration for keyed
    modes (``Catalog.set_declared_key`` — declare once, merge forever).
    An explicit ``key`` always wins; calls ``catalog.declared_key``
    DIRECTLY so an API rename fails loudly instead of silently
    disabling the defaulting."""
    if key is None and m in KEYED_MODES:
        return catalog.declared_key(name)
    return key


def write_table(
    catalog,
    source: DataFrame,
    name: str,
    mode: str | WriteMode = WriteMode.APPEND,
    key: str | Sequence[str] | None = None,
    prune: bool = False,
    checks: dict[str, str] | None = None,
    snapshot_props: dict | None = None,
) -> str:
    """Materialize a merge into a catalog table, create-if-absent.

    Distributed replacement for ``create_hosted_table_from_dataframe``
    (``src/agol_pandas.py:546-680``): create on first write (``:637-654``),
    merge afterwards (``:655-671``), atomic swap standing in for per-chunk
    ``rollback=True`` (``:453``). Fixes the reference's ``:581`` validation
    bug (it raised whenever an id *was* supplied).

    ``checks`` (rule name → SQL predicate) are declarative CHECK
    constraints validated against the SOURCE in one scan before anything
    is written (``operators/constraints.enforce_checks``); a violation
    raises ``ConstraintViolationError`` with every failing rule's count
    and leaves the target untouched.

    ``prune=True`` routes keyed modes through :func:`merge_pruned` — the
    copy-on-write path that rewrites only the files whose key span can
    contain a source key and carries every other file into the new
    snapshot by reference. Same result, same atomic commit; at 100 TB an
    upsert touching 0.1% of keys stops paying a full-table rewrite.

    When ``key`` is omitted for a keyed mode, it defaults from the
    table's DECLARED key (``Catalog.set_declared_key`` /
    ``create_table(key_field_name=...)``) — the reference records its
    unique-key index once server-side (``src/agol_pandas.py:253-312``)
    and every later write relies on it; an explicit ``key=`` still
    wins per call.

    ``snapshot_props`` commits per-snapshot properties in the SAME
    atomic rename as the merged data (``Catalog.write`` semantics) —
    the marker channel exactly-once consumers need. A foreachBatch sink
    landing its summary through this merge path (rather than a plain
    ``Catalog.write``) can therefore carry its ``(stream_id, batch_id)``
    marker too (VERDICT r9 item 2: the IVM story was exactly-once only
    on the plain-write path before).
    """
    m = WriteMode.parse(mode) if isinstance(mode, str) else mode
    key = _default_key(catalog, name, key, m)
    if checks:
        from agol_pandas_spark.operators.constraints import enforce_checks

        enforce_checks(source, checks)
    # Keyed modes re-evaluate the source plan up to four times inside
    # this call (empty guard, unique-key validation, matched-join +
    # anti-join in the merge plan) and a keyed source is batch/delta-
    # sized by contract, so persist it for the operator's lifetime —
    # the same bounded-lifetime persist merge_pruned does (guide §1.2,
    # §5). APPEND/OVERWRITE sources can be TABLE-sized and are read
    # once past the empty guard, so they are deliberately NOT persisted.
    persisted = key is not None and m in KEYED_MODES
    if persisted:
        from pyspark import StorageLevel

        source = source.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if not catalog.exists(name):
            if key is not None and m in KEYED_MODES:
                # fused empty + uniqueness guard: one job, not two
                _check_keyed_source(source, _keys(key))
            elif source.isEmpty():
                raise EmptyInputError("source DataFrame is empty")
            return catalog.write(
                source, name, mode="error", snapshot_props=snapshot_props
            )
        if prune:
            return merge_pruned(
                catalog, source, name, m, key, snapshot_props=snapshot_props
            )["path"]
        result = merge(catalog.table(name), source, m, key)
        # self-referential overwrite: the plan reads the files it will
        # replace, so stage to a new directory first (catalog.write is
        # atomic).
        return catalog.write(
            result, name, mode="overwrite", snapshot_props=snapshot_props
        )
    finally:
        if persisted:
            source.unpersist()


#: key-column Spark types whose parquet footer min/max bounds are safe to
#: prune on: exact, order-faithful, and round-trippable through pyarrow
#: statistics. Timestamps are deliberately absent (unit/tz normalization
#: across writers makes a wrong-exclusion bug possible, and a wrongly
#: EXCLUDED file is silent data corruption — conservative means full
#: rewrite, never a skipped match).
_PRUNE_SAFE_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.StringType,
    T.DateType,
)


#: grid-binning cap: a file whose first-key span covers more than this
#: many grid cells is treated as dirty outright instead of exploding —
#: on a clustered layout only a degenerate full-range file hits this,
#: and such a file would intersect almost any source anyway
_GRID_CELL_CAP = 64

_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _touched_paths(
    source: DataFrame,
    stat_spans: list[dict],
    ks: list[str],
    tgt_fields: dict,
) -> set[str]:
    """Distributed file touch-test: which files' key spans can contain a
    source row's key tuple. Only the distinct matching PATH list (bounded
    by the file count) reaches the driver — never the keys.

    Two physical strategies, chosen by the FIRST key column's type:

    - **Integral first key → grid-binned broadcast HASH join.** Each
      file's first-key span explodes (driver-side, from footer metadata)
      into grid cells of width ``g`` = the median span width; a source
      row probes exactly ONE cell (``key div g``) through a broadcast
      equi-join, with the exact per-column range condition as the join
      residual. Cost per source row is O(files in its cell), not
      O(files): at 100k files × 10⁹ CDC rows this is the difference
      between a hash probe and 10¹⁴ range comparisons. Files spanning
      more than ``_GRID_CELL_CAP`` cells are dirty by fiat (degenerate
      layout outliers).
    - **String/date first key → broadcast nested-loop range join.** The
      span table is still broadcast-small; fine up to thousands of
      files. (Strings don't grid-bin without a collation-faithful
      keyspace map; dates could but the win is marginal at file counts
      where this path is chosen.)

    Either span table is built on the driver as an Arrow local relation
    (``session.local_frame``), so the touch test is one SQL job over the
    source and starts no Python worker.
    """
    spark = source.sparkSession
    fields = [T.StructField("__path", T.StringType())]
    for k in ks:
        fields.append(T.StructField(f"__min_{k}", tgt_fields[k]))
        fields.append(T.StructField(f"__max_{k}", tgt_fields[k]))

    range_cond = None
    for k in ks:
        c = (F.col(k) >= F.col(f"__min_{k}")) & (
            F.col(k) <= F.col(f"__max_{k}")
        )
        range_cond = c if range_cond is None else (range_cond & c)

    k0 = ks[0]
    if isinstance(tgt_fields[k0], _INTEGRAL_TYPES):
        widths = sorted(
            int(s["max"][k0]) - int(s["min"][k0]) + 1 for s in stat_spans
        )
        g = max(1, widths[len(widths) // 2])
        cell_fields = T.StructType(
            [T.StructField("__cell", T.LongType()), *fields]
        )
        rows, forced = [], set()
        for s in stat_spans:
            lo_c, hi_c = int(s["min"][k0]) // g, int(s["max"][k0]) // g
            if hi_c - lo_c + 1 > _GRID_CELL_CAP:
                forced.add(s["path"])
                continue
            base = tuple(
                [s["path"]]
                + [v for k in ks for v in (s["min"][k], s["max"][k])]
            )
            rows.extend((cell, *base) for cell in range(lo_c, hi_c + 1))
        touched = set(forced)
        if rows:
            cells_df = local_frame(spark, rows, cell_fields)
            probe = source.select(
                *ks, (F.col(k0).cast("long") - F.pmod(F.col(k0).cast("long"), F.lit(g)))
                .cast("long").alias("__kc")
            ).withColumn(
                # __kc = k - pmod(k, g) is exactly divisible by g, so
                # integer `div` (truncating) == floor here even for
                # negatives, and stays exact for |k| >= 2^53 where the
                # former double division `__kc / g` would round to the
                # wrong grid cell (silently mis-classifying a dirty file
                # as clean). Driver side uses Python `//` on the same
                # pre-floored values — both sides now agree exactly.
                "__cell", F.expr(f"__kc div {g}")
            )
            touched |= {
                r["__path"]
                for r in probe.join(
                    F.broadcast(cells_df),
                    on=[probe["__cell"] == cells_df["__cell"], range_cond],
                    how="inner",
                )
                .select("__path")
                .distinct()
                .collect()
            }
        return touched

    rows = [
        tuple([s["path"]] + [v for k in ks for v in (s["min"][k], s["max"][k])])
        for s in stat_spans
    ]
    span_df = local_frame(spark, rows, T.StructType(fields))
    return {
        r["__path"]
        for r in source.select(*ks)
        .join(F.broadcast(span_df), on=range_cond, how="inner")
        .select("__path")
        .distinct()
        .collect()
    }


def _dirty_files(
    catalog, path: str, source: DataFrame, ks: list[str], fields: dict
) -> tuple[list[str], list[str]]:
    """``(dirty, clean)`` data files of the snapshot at ``path``: dirty
    when some source key can fall inside the file's key span, or when
    the file has no span (conservative)."""
    spans = catalog.path_key_spans(path, ks)
    stat_spans = [s for s in spans if s["ok"]]
    dirty = {s["path"] for s in spans if not s["ok"]}
    if stat_spans:
        dirty |= _touched_paths(source, stat_spans, ks, fields)
    return sorted(dirty), [s["path"] for s in spans if s["path"] not in dirty]


def merge_pruned(
    catalog,
    source: DataFrame,
    name: str,
    mode: str | WriteMode = WriteMode.UPSERT,
    key: str | Sequence[str] | None = None,
    keep_versions: int = 0,
    snapshot_props: dict | None = None,
) -> dict:
    """Key-pruned copy-on-write merge (VERDICT r5 item 2).

    The plain :func:`merge` is a join rewrite of the WHOLE target — at
    100 TB an upsert touching 0.1% of keys still rewrites every file.
    This path prunes at the file level using the same parquet-footer
    min/max machinery ``Catalog.optimize_zorder`` sharpens:

    1. read each target file's key span from the snapshot manifest
       (``Catalog.path_key_spans``: one driver-side JSON parse, the
       footer only for a file without recorded bounds; no data scan);
    2. mark a file DIRTY iff some single source row's key components all
       fall inside the file's per-column spans — computed distributedly:
       the span table (O(files) small rows) is broadcast and the source's
       key columns stream through one join; only the distinct dirty PATH
       list (bounded by the file count) ever reaches the driver, never
       the keys. Files lacking stats are dirty by fiat;
    3. run the ordinary :func:`merge` against the dirty slice only —
       sound because a file whose span excludes every source key cannot
       contain a matching row, so its rows pass through any keyed mode
       unchanged. The dirty files are read with the union of their
       footer schemas, merged on the driver
       (``Catalog._footer_schema(..., merge=True)``, Spark's
       ``mergeSchema`` without its inference job; above
       ``FOOTER_MERGE_MAX_FILES`` dirty files, the measured cut-over
       named in its comment, Spark's parallel inference runs instead); an empty dirty set is an empty local relation;
    4. commit via ``Catalog.write_with_carryover``: dirty files replaced
       by the merge output, clean files hard-linked into the new snapshot
       (carried by reference, zero copy), one atomic swap.

    Falls back to the full rewrite (returning ``pruned=False``) whenever
    pruning cannot be proven sound: non-keyed modes, key types outside
    ``_PRUNE_SAFE_TYPES``, schema-widening sources (carried files could
    not see the new columns without mergeSchema reads), a dirty rewrite
    whose columns or types differ from the scan schema's (a widening
    source type), or tables with
    raw TIMESTAMP(NANOS) columns (the full path normalizes those to µs;
    carrying files by reference would mix ns and µs physical types),
    and nested (hive-partitioned) or single-file layouts.

    Returns ``{"path", "pruned", "files_total", "files_rewritten",
    "files_carried"}``.

    ``key=None`` for a keyed mode defaults from the table's declared
    key (``Catalog.set_declared_key``), same as :func:`write_table`.

    ``snapshot_props`` ride the commit (full or carryover) in the same
    atomic rename — the exactly-once marker channel, as on
    :func:`write_table`. One carve-out: the UPDATE/DELETE fast path
    that proves NO file can match returns without committing anything,
    so props do not land there — harmless for re-execution markers
    (re-running a provably-matchless batch is itself a no-op).
    """
    m = WriteMode.parse(mode) if isinstance(mode, str) else mode
    key = _default_key(catalog, name, key, m)
    # The source (delta) plan is consumed by up to five separate actions
    # on this path: the empty guard, the unique-key validation, the
    # touched-file join, and the final merge job (which references it
    # twice — matched-update join + unmatched-insert anti-join). Without
    # a persist each action re-executes the caller's full delta plan —
    # for a CDC delta derived from a table scan, five scans instead of
    # one (guide §1.2: don't recompute what you already have). The delta
    # is batch-sized by this operator's contract (that is the point of
    # pruning), so MEMORY_AND_DISK is safe at scale; released in the
    # finally below, never leaked past the commit.
    source = source.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _merge_pruned_impl(
            catalog, source, name, m, key, keep_versions, snapshot_props
        )
    finally:
        source.unpersist()


def _merge_pruned_impl(
    catalog,
    source: DataFrame,
    name: str,
    m: WriteMode,
    key,
    keep_versions: int,
    snapshot_props: dict | None,
) -> dict:
    # Fused empty + uniqueness guard: one job over the persisted source
    # instead of the former two (isEmpty here + an explicit validate
    # later); every downstream merge() gets _source_checked=True so
    # nothing re-checks. For keyed modes the guard job is SUBMITTED to a
    # single worker thread and joined before any return or commit — it
    # shares no state with the touch-test join, so the two independent
    # jobs overlap and the guard's latency hides under the touch test
    # (guide §2.6; both scan the same persisted source, and Spark's
    # block-level cache locking makes the concurrent materialization
    # compute each partition once).
    guard_pool = guard = None
    if m in KEYED_MODES and key is not None:
        from concurrent.futures import ThreadPoolExecutor

        guard_pool = ThreadPoolExecutor(max_workers=1)
        guard = guard_pool.submit(_check_keyed_source, source, _keys(key))
    elif source.isEmpty():
        raise EmptyInputError("source DataFrame is empty")
    try:
        return _merge_pruned_body(
            catalog, source, name, m, key, keep_versions, snapshot_props,
            guard,
        )
    finally:
        if guard_pool is not None:
            guard_pool.shutdown(wait=True)


def _merge_pruned_body(
    catalog,
    source: DataFrame,
    name: str,
    m: WriteMode,
    key,
    keep_versions: int,
    snapshot_props: dict | None,
    guard,
) -> dict:
    def _join_guard() -> None:
        # propagate EmptyInputError/DuplicateKeyError before any side
        # effect or return; None when the mode needed no keyed guard
        if guard is not None:
            guard.result()

    def _full() -> dict:
        _join_guard()
        result = merge(catalog.table(name), source, m, key, _source_checked=True)
        path = catalog.write(
            result, name, mode="overwrite", keep_versions=keep_versions,
            snapshot_props=snapshot_props,
        )
        return {
            "path": path,
            "pruned": False,
            "files_total": None,
            "files_rewritten": None,
            "files_carried": 0,
        }

    # OCC token captured BEFORE the key spans / file listing are read:
    # the clean-file carryover is only sound against the exact snapshot it
    # was computed from — if another writer commits in between, linking
    # those paths forward would silently undo its commit. The commit below
    # passes this token so such a race raises ConcurrentWriteError (caller
    # re-reads and retries) instead of losing an update.
    read_commit = catalog.commit_id(name)
    target = catalog.path(name)
    target_df = catalog.table(name)
    tgt_fields = {f.name: f.dataType for f in target_df.schema.fields}
    ks = _keys(key) if key is not None else []
    prunable = (
        (m in KEYED_MODES or m is WriteMode.APPEND)
        and (m is WriteMode.APPEND or ks)
        and all(isinstance(tgt_fields.get(k), _PRUNE_SAFE_TYPES) for k in ks)
        and not (set(source.columns) - set(tgt_fields))
        and not catalog._nanos_columns(target)
    )
    if not prunable:
        return _full()
    files = catalog.data_files(name)
    if any(os.path.dirname(f) != target for f in files):
        # a hive-partitioned (nested) or single-file layout: flat new
        # files beside it could not be read back as one table
        return _full()

    spark = source.sparkSession
    if m is WriteMode.APPEND:
        # append matches nothing: every existing file is clean by
        # construction and the new rows land as fresh files
        dirty, clean = [], files
    else:
        dirty, clean = _dirty_files(catalog, target, source, ks, tgt_fields)

    _join_guard()  # before the no-op return and before any commit
    if m in (WriteMode.UPDATE, WriteMode.DELETE) and not dirty:
        # no file can contain a matching key: both modes are no-ops
        return {
            "path": catalog.path(name),
            "pruned": True,
            "files_total": len(clean),
            "files_rewritten": 0,
            "files_carried": len(clean),
        }

    if len(dirty) > FOOTER_MERGE_MAX_FILES:
        dirty_df = spark.read.option("mergeSchema", "true").parquet(*dirty)
    elif dirty:
        dirty_df = spark.read.schema(
            catalog._footer_schema(dirty, merge=True)
        ).parquet(*dirty)
    else:
        dirty_df = local_frame(spark, [], target_df.schema)
    result_dirty = merge(
        dirty_df, source, m, ks or None, _source_checked=True
    )
    if result_dirty.schema.simpleString() != target_df.schema.simpleString():
        # names, order or types moved: beside carried files of the old
        # layout, the file that decides the scan schema would pick them
        return _full()
    path = catalog.write_with_carryover(
        result_dirty, name, clean, keep_versions=keep_versions,
        expected_commit=read_commit, snapshot_props=snapshot_props,
    )
    return {
        "path": path,
        "pruned": True,
        "files_total": len(dirty) + len(clean),
        "files_rewritten": len(dirty),
        "files_carried": len(clean),
    }


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str | Sequence[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Classify every key across two table snapshots: ``inserted`` (new
    only), ``deleted`` (old only), ``updated`` (both, any compared column
    differs, null-safe), ``unchanged``.

    The reconciliation/CDC-extraction twin of the merge modes: where merge
    APPLIES a delta, diff RECOVERS one from two snapshots. Single full
    outer join on the key; comparison is a null-safe struct equality, so
    NULL→value and value→NULL transitions count as updates.
    """
    ks = _keys(key)
    cols = compare_cols or [
        c for c in old.columns if c not in ks and c in new.columns
    ]
    o = old.select(
        F.struct(*[F.col(k) for k in ks]).alias("__ok"),
        F.struct(*[F.col(c) for c in cols]).alias("__ov"),
    )
    n = new.select(
        F.struct(*[F.col(k) for k in ks]).alias("__nk"),
        F.struct(*[F.col(c) for c in cols]).alias("__nv"),
    )
    joined = o.join(n, o["__ok"] == n["__nk"], "full_outer")
    change = (
        F.when(F.col("__ok").isNull(), F.lit("inserted"))
        .when(F.col("__nk").isNull(), F.lit("deleted"))
        .when(~F.col("__ov").eqNullSafe(F.col("__nv")), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    merged_key = F.coalesce(F.col("__ok"), F.col("__nk"))
    return joined.select(
        *[merged_key.getField(k).alias(k) for k in ks],
        change.alias("change_type"),
    )


def scd2_history(
    df: DataFrame,
    key: str | Sequence[str],
    ts_col: str,
    tracked: str | Sequence[str],
    tie_breakers: Sequence[Column] = (),
) -> DataFrame:
    """Slowly-changing-dimension Type 2: collapse a change log into
    versioned dimension rows ``(key…, tracked…, valid_from, valid_to,
    n_events, is_current)`` — one row per run of equal tracked values,
    ``valid_to`` = next version's ``valid_from`` (NULL while current).

    The warehouse-standard history shape the reference's upsert modes
    cannot express (upsert is last-write-wins, ``src/agol_pandas.py:
    398-407`` — history is destroyed on every update).

    Shape: one shuffle on the key (window lag → change flag → running
    version id), one hash aggregation per version, one more window for
    ``valid_to``. Reconstruction is deterministic and idempotent: the
    same log always yields the same history, so incremental maintenance
    can replay ``history-as-log ∪ new changes`` through this same
    function (tested) instead of hand-stitching boundary rows.
    """
    keys = [key] if isinstance(key, str) else list(key)
    cols = [tracked] if isinstance(tracked, str) else list(tracked)
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col), *tie_breakers)
    # lag over the struct (not struct-of-lags: that is never NULL) and
    # null-safe compare, so the first row and NULL tracked values both
    # open versions correctly
    prev = F.lag(F.struct(*cols)).over(w)
    # no pre-projection: tie-breaker expressions may reference columns
    # outside keys/ts/tracked (Catalyst prunes the rest anyway)
    flagged = df.withColumn(
        "__chg",
        F.when(~prev.eqNullSafe(F.struct(*cols)), 1).otherwise(0),
    )
    versioned = flagged.withColumn(
        "__ver",
        F.sum("__chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = versioned.groupBy(*keys, "__ver", *cols).agg(
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy(*keys).orderBy("__ver")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(wv))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__ver")
    )


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key: str | Sequence[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    tie_breakers: Sequence[Column] = (),
) -> DataFrame:
    """Apply a CDC change log to a table — the APPLY CHANGES / MERGE
    pattern with DELETE semantics the reference's five write modes lack
    entirely (``src/agol_pandas.py:361`` has no delete; a tombstone
    upserted through AGOL stays forever).

    Per key, the change with the highest ``seq_col`` wins: a
    ``delete_op`` row removes the key; any other op upserts the row's
    payload (insert-if-absent and update collapse — last-writer-wins,
    matching Delta-style APPLY CHANGES semantics). Out-of-order delivery
    is handled by the sequence column, not arrival order — the property
    CDC pipelines actually need. Ties on ``seq_col`` default to ordering
    by every remaining column ascending, so equal-sequence changes
    resolve identically on any partitioning (a tie left to partition
    order would be silent nondeterminism); pass ``tie_breakers`` to
    override.

    Shape: one shuffle to pick the latest change per key (window
    row_number), one left-anti join to drop touched keys from the
    target, one union. Shuffles carry the change log (small, incremental)
    and the target's key column; nothing rescans history.
    """
    from agol_pandas_spark.operators.dedup import latest_wins_dedup

    keys = [key] if isinstance(key, str) else list(key)
    order = list(tie_breakers) or [
        F.col(c)
        for c in changes.columns
        if c not in keys and c not in (seq_col,)
    ]
    latest = latest_wins_dedup(
        changes, keys=keys, ts_col=seq_col, tie_breakers=order
    )
    # eqNullSafe: a NULL op is NOT a delete — plain `!=` is NULL for NULL
    # ops, which would drop the row from the upsert set while its key is
    # still anti-joined out of the target (silent data loss on a
    # malformed CDC row). NULL op rows upsert their payload instead.
    upserts = latest.filter(
        ~F.col(op_col).eqNullSafe(delete_op)
    ).drop(op_col, seq_col)
    touched = latest.select(*keys)
    kept = target.join(touched, on=keys, how="left_anti")
    return kept.unionByName(upserts)


def assign_surrogate_keys(
    new_rows: DataFrame,
    order_by: Sequence[str],
    existing: DataFrame | None = None,
    sk_col: str = "sk",
) -> DataFrame:
    """Dense surrogate keys (warehouse identity columns) for an ingest
    batch, distributed: ``sk = max(existing sk) + global row_number`` over
    the batch's ``order_by`` total order.

    Spark has no sequences; ``monotonically_increasing_id`` is neither
    dense nor stable across partitionings, and a single-partition
    ``row_number`` window funnels the batch through one task. Here the
    row numbers come from :func:`~agol_pandas_spark.operators.ranks.
    add_global_ranks` (range-partitioned histogram + per-partition
    offsets), and the existing maximum enters as a 1-row broadcast — both
    sides stay fully parallel. ``order_by`` must be a total order
    (duplicate keys would make any engine's assignment nondeterministic);
    duplicates are rejected up front via the same unique-key check the
    merge modes use (``unique=True`` on the rank operator is a caller
    ASSERTION, not a check — silent ties would assign nondeterministic
    keys).

    Keys are dense (1..n per batch), deterministic under any
    partitioning, and contiguous across batches when each batch passes
    the previous result as ``existing``.
    """
    from agol_pandas_spark.operators.ranks import add_global_ranks

    validate_unique_key(new_rows, list(order_by), "new_rows")
    ranked = add_global_ranks(
        new_rows,
        keys=list(order_by),
        unique=True,
        row_number_col="__rn",
    )
    if existing is None:
        base = F.lit(0).cast("long")
        out = ranked
    else:
        mx = existing.agg(
            F.coalesce(F.max(sk_col), F.lit(0)).cast("long").alias("__base")
        )
        out = ranked.crossJoin(F.broadcast(mx))
        base = F.col("__base")
    return out.select(
        *[F.col(c) for c in new_rows.columns],
        (base + F.col("__rn")).cast("long").alias(sk_col),
    )


def write_audit_publish(
    catalog,
    source: DataFrame,
    name: str,
    mode: str | WriteMode = WriteMode.APPEND,
    key: str | Sequence[str] | None = None,
    audits: dict[str, str] | None = None,
    keep_versions: int = 0,
    snapshot_props: dict | None = None,
) -> str:
    """Write-Audit-Publish: the Iceberg-pattern gated commit.

    Audit predicates use **CHECK semantics** — a row is a violation
    only when the predicate evaluates to FALSE; TRUE and NULL pass —
    the same direction as ``write_table(checks=...)``/``enforce_checks``
    and :func:`agol_pandas_spark.operators.views.write_audit_publish_branch`.
    Write rules as invariants that must HOLD ("x IS NOT NULL"), never
    as violation matchers ("x IS NULL"). BREAKING since round 7 — a
    legacy violation-matcher rule passes exactly the poisoned batches
    it existed to stop; negate such rules (see CHANGELOG.md,
    "audit polarity").

    Unlike ``write_table(checks=...)`` — which validates the SOURCE
    batch before merging — WAP audits the POST-MERGE STATE: the merge
    result is materialized to the staging directory (phase 1 of the
    catalog's existing two-phase commit), each audit predicate is
    evaluated against the staged bytes actually about to go live (not
    the logical plan — what you audit is what you publish), and only
    if every audit holds on every row does the atomic rename (phase 2)
    publish it. On violation the staged snapshot is deleted and
    ``AuditFailedError`` reports per-rule counts — the live table is
    untouched, byte-for-byte. Publish costs one rename regardless of
    table size; the audit pass is one scan of the staged data with all
    predicates fused.

    The reference uploaded chunks straight into the live service and
    repaired by truncate on failure (src/agol_pandas.py:396,453) — the
    window WAP exists to close.
    """
    from agol_pandas_spark.errors import AuditFailedError

    m = WriteMode.parse(mode) if isinstance(mode, str) else mode
    merged = (
        source
        if not catalog.exists(name)
        else merge(catalog.table(name), source, m, key)
    )
    # props stage WITH the data: audited and published in one rename —
    # a failed audit discards the marker along with the snapshot
    staged = catalog.stage(
        merged, name, mode="overwrite", snapshot_props=snapshot_props
    )
    if audits:
        spark = source.sparkSession
        staged_df = spark.read.parquet(staged)
        checks = [
            # CHECK polarity: violation iff the predicate is FALSE
            # (NULL = unknown passes, per SQL/Delta CHECK) — identical
            # to enforce_checks so a rule moved between the two gates
            # keeps its meaning.
            F.sum(
                F.when(F.expr(pred) == False, 1).otherwise(0)  # noqa: E712
            ).alias(rule)
            for rule, pred in sorted(audits.items())
        ]
        counts = staged_df.agg(*checks).first().asDict()
        violations = {r: int(c) for r, c in counts.items() if c}
        if violations:
            shutil.rmtree(staged, ignore_errors=True)
            raise AuditFailedError(violations)
    return catalog.commit_staged(
        staged, name, mode="overwrite", keep_versions=keep_versions
    )
