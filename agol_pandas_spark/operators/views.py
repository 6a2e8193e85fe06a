"""Incremental maintenance of materialized join views.

A materialized join view over an append-only fact table does not need
re-deriving when a batch of fact rows arrives: for an inner or left join
against a static dimension, the delta algebra is simply
``V' = V ∪ (Δfact ⋈ dim)`` — the classic incremental view maintenance
identity restricted to insert-only deltas. At 100 TB this is the
difference between a refresh costing O(|Δ|) and re-joining the whole
fact history on every batch.

The commit path makes the O(|Δ|) promise physical, not just logical:
every existing view file carries into the new snapshot BY REFERENCE
(hard link via ``Catalog.write_with_carryover`` — zero copy, zero
re-read) and only the delta join materializes new files, all under the
same atomic two-phase swap every other write uses.

No counterpart in the reference (its service re-uploads full result
sets, ``src/agol_pandas.py:396``); north-star scope per SURVEY §2b.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from agol_pandas_spark.errors import EmptyInputError, TableNotFoundError
from agol_pandas_spark.session import local_frame


def refresh_join_view(
    catalog,
    name: str,
    delta: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
) -> dict:
    """Append ``Δfact ⋈ dim`` to materialized view ``name``; existing
    files carry by reference. Returns ``{"path", "files_carried",
    "files_total"}``.

    Correctness contract (caller's obligations, documented not checked —
    they are not knowable from the inputs): ``delta`` contains only fact
    rows not already reflected in the view, and ``dim`` is unchanged
    since the view was derived. ``how`` must be ``inner`` or ``left`` —
    the join types whose insert-only delta is itself a pure append
    (a full/right join's delta could retract previously-emitted
    NULL-padded rows).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"delta append-only maintenance needs inner/left, got {how!r}")
    if not catalog.exists(name):
        raise TableNotFoundError(f"no view {name!r} to refresh")
    if delta.isEmpty():
        raise EmptyInputError("delta is empty — nothing to refresh")
    # token read WITH the file listing (OCC): a writer racing the refresh
    # must surface as ConcurrentWriteError, not a silently-reverted table
    read_commit = catalog.commit_id(name)
    carry = catalog.data_files(name)
    joined = delta.join(dim, on, how)
    path = catalog.write_with_carryover(
        joined, name, carry_files=carry, expected_commit=read_commit
    )
    return {
        "path": path,
        "files_carried": len(carry),
        "files_total": len(catalog.data_files(name)),
    }


def write_audit_publish_branch(
    catalog,
    name: str,
    source: DataFrame,
    audits: dict,
    mode: str = "upsert",
    key=None,
    keep_versions: int = 0,
) -> str:
    """Iceberg-style Write-Audit-Publish via a NAMED audit branch:
    stage the post-merge table to an inspectable catalog branch table
    (``<name>__audit``), validate the ENTIRE branch contents against
    ``audits`` (rule name → SQL predicate, **CHECK semantics**: a row
    violates only when the predicate is FALSE; TRUE and NULL pass —
    the same polarity as ``write_table(checks=...)`` and
    ``operators.merge.write_audit_publish``), and publish by atomic
    directory swap only when every audit passes.

    Renamed from ``write_audit_publish`` (ADVICE r6): two public
    functions shared that name; this one stages as a queryable branch
    table, ``operators.merge.write_audit_publish`` stages in the
    commit's temp directory. Both now enforce identical CHECK
    polarity, so a rule moved between them keeps its meaning.

    The difference from ``write_table(checks=...)`` is *what* is
    audited: source-side checks can only see the incoming rows, while a
    WAP audit sees the full post-merge state — table-level invariants
    (a merge that would resurrect a deleted row, drift a distribution,
    or break a cross-row rule) are only visible there. Publish is a
    rename — the staged branch IS the new snapshot, so a pass costs no
    second write and a fail costs no cleanup of the target (which the
    swap never touched); the failed branch is dropped and the error
    carries every failing rule's violation count.
    """
    from agol_pandas_spark.operators.constraints import enforce_checks
    from agol_pandas_spark.operators.merge import merge

    branch = f"{name}__audit"
    result = merge(catalog.table(name), source, mode, key)
    if catalog.exists(branch):
        catalog.drop(branch)
    catalog.write(result, branch, mode="error")
    try:
        enforce_checks(catalog.table(branch), audits)
    except Exception:
        catalog.drop(branch)
        raise
    # the branch is a LIVE table, not a staging dir the swap may delete
    return catalog._swap_in(
        catalog.path(branch), name, keep_versions, owns_staged=False
    )


def apply_cdf_to_join_view(
    view: DataFrame,
    changes: DataFrame,
    dim: DataFrame,
    on,
    fact_key,
    how: str = "inner",
) -> DataFrame:
    """Incrementally maintain a materialized FACT ⋈ DIM join view from
    the fact table's change feed — the retraction-capable sibling of
    :func:`apply_cdf_to_summary` (VERDICT r9 item 4):
    :func:`refresh_join_view` handles only append-only deltas, but real
    dashboards join a fact CDF carrying inserts, updates AND deletes.

    Delta algebra (fact rows keyed by ``fact_key``, ``dim`` static —
    the same caller contract as :func:`refresh_join_view`): every view
    row derives from exactly one fact row, so the view rows owned by
    CHANGED fact keys are dropped (one anti-join) and the surviving
    post-images re-join the dimension (one |Δ|-sized join):

        V' = (V ▷ touched_keys) ∪ ((Δpost) ⋈ dim)

    - ``insert`` / ``update_postimage`` rows re-enter through the join;
    - ``delete`` rows just leave (their anti-join drop IS the
      retraction — no runner-up problem, unlike min/max summaries);
    - ``update_preimage`` rows are ignored (the post image decides).

    A feed spanning SEVERAL transitions (a CdfTail micro-batch holding
    multiple ``_commit_version``\\ s) resolves each key to its LATEST
    event first — a key deleted in v5 and re-inserted in v7 must land,
    not vanish. Applying the same feed twice converges to the same view
    (idempotent): re-dropping and re-joining identical images is a
    fixpoint, which makes at-least-once replay safe for this view shape
    — unlike the additive summary, which needs the exactly-once marker.

    ``how``: ``inner`` or ``left`` — the join types whose view rows are
    attributable to a single fact row (a full/right join's NULL-padded
    dim rows are not).

    Scale posture: the touched-key set is batch-sized (broadcast
    anti-join — the view streams through one map-side filter, never
    shuffles), the post-image join is |Δ| × dim (broadcast the dim or
    the delta, Catalyst's pick), and nothing rescans fact history. The
    reference re-uploads full result sets instead
    (``src/agol_pandas.py:396``).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from agol_pandas_spark.functions.names import backticked as bq

    if how not in ("inner", "left"):
        raise ValueError(
            f"CDF join-view maintenance needs inner/left, got {how!r}"
        )
    keys = [fact_key] if isinstance(fact_key, str) else list(fact_key)
    meta_cols = [
        c for c in ("_change_type", "_commit_version") if c in changes.columns
    ]
    ev = changes.where(F.col("_change_type") != "update_preimage")
    # latest event per key across a multi-transition batch; within one
    # transition a key carries at most one non-preimage event (snapshot
    # diff semantics), so the version alone is a total order per key
    order = (
        [F.col("_commit_version").desc()]
        if "_commit_version" in changes.columns
        else [F.lit(1)]
    )
    w = Window.partitionBy(*[F.col(bq(k)) for k in keys]).orderBy(*order)
    latest = ev.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    touched = latest.select(*[F.col(bq(k)) for k in keys]).distinct()
    post = latest.where(F.col("_change_type") != "delete").drop(
        "__rn", *meta_cols
    )
    kept = view.join(F.broadcast(touched), on=keys, how="left_anti")
    added = post.join(dim, on, how)
    # re-select BOTH sides to the view's column order (a name-list join
    # moves its keys to the front) — backticked, so a column named 'a.b'
    # stays one column
    cols = [F.col(bq(c)) for c in view.columns]
    return kept.select(*cols).unionByName(added.select(*cols))


def _keys_of(key) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def _td_pruned_scan(
    fact: DataFrame,
    fact_path: str | None,
    td: DataFrame,
    jkeys: list[str],
    catalog,
) -> DataFrame | None:
    """A scan of ONLY the fact-snapshot files whose key spans on
    ``jkeys`` can contain a touched dim key — or ``None`` when pruning
    cannot be proven sound (caller falls back to the full ``fact``
    scan, correct but O(fact) I/O). This is ``merge_pruned``'s
    span-pruning applied to the bilateral TD-rescan (VERDICT r10 item
    2): a batch touching 1% of dim keys should read the intersecting
    fact files, never stream the whole snapshot through the semi-join
    filter. Same soundness rules as the pruned merge: prune-safe key
    types only, footer-complete files only (stat-less files stay in
    the scan, conservative), no raw-ns timestamp columns (the catalog
    read normalizes those — a direct file read would not)."""
    from agol_pandas_spark.operators.merge import _PRUNE_SAFE_TYPES, _dirty_files

    if fact_path is None or catalog is None:
        return None
    if not os.path.isdir(fact_path):
        return None
    fields = {f.name: f.dataType for f in fact.schema.fields}
    if not all(isinstance(fields.get(k), _PRUNE_SAFE_TYPES) for k in jkeys):
        return None
    if catalog._nanos_columns(fact_path):
        return None
    dirty, _ = _dirty_files(catalog, fact_path, td, jkeys, fields)
    spark = fact.sparkSession
    if not dirty:
        return local_frame(spark, [], fact.schema)
    return spark.read.schema(fact.schema).parquet(*dirty)


def star_view_delta(
    fact_changes: DataFrame | None,
    dims,
    fact: DataFrame,
    fact_key,
    how: str = "inner",
    fact_path: str | None = None,
    catalog=None,
):
    """The DELTA of a maintained fact ⋈ dim₁ ⋈ … ⋈ dimₙ view under fact
    and dimension change feeds — the algebra of
    :func:`apply_cdf_to_join_view_star` WITHOUT applying it to the
    view, so a caller can commit it copy-on-write (only the view files
    whose key spans intersect the touched sets rewrite;
    :func:`commit_join_view_delta`).

    ``dims``: sequence of ``(dim_changes | None, dim, join_key)`` —
    every dimension the view joins, in join order, whether or not its
    feed changed this batch. Returns ``(tf, tds, added)``:

    - ``tf`` — DataFrame of touched fact keys (None: no fact feed);
    - ``tds`` — list of ``(jkeys, td | None)`` per dimension, ``td`` the
      touched join keys of that dim's feed (BOTH update images — a
      re-keyed dim row retracts its old-key rows and attracts its
      new-key's);
    - ``added`` — the re-derived view rows: fact-feed post-images plus
      the CURRENT fact rows joining through any touched dim key, joined
      against every NEW dim.

    The view delta is exactly: delete every view row owned by ``tf`` or
    joining through any ``td``, insert ``added``.

    ``fact_path``+``catalog`` enable the span-pruned TD-rescan
    (:func:`_td_pruned_scan`): without them the rescan streams the full
    ``fact`` through a broadcast semi-join (correct; O(fact) I/O). With
    several touched dims a fact row can be reached through more than
    one — the rescan union dedups on the fact key before re-deriving."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from agol_pandas_spark.functions.names import backticked as bq

    if how not in ("inner", "left"):
        raise ValueError(
            f"CDF join-view maintenance needs inner/left, got {how!r}"
        )
    fkeys = _keys_of(fact_key)

    def _latest(changes: DataFrame, keys: list[str]) -> DataFrame:
        ev = changes.where(F.col("_change_type") != "update_preimage")
        order = (
            [F.col("_commit_version").desc()]
            if "_commit_version" in changes.columns
            else [F.lit(1)]
        )
        w = Window.partitionBy(*[F.col(bq(k)) for k in keys]).orderBy(*order)
        return ev.withColumn("__rn", F.row_number().over(w)).where(
            F.col("__rn") == 1
        )

    meta = ("_change_type", "_commit_version", "__rn")

    # --- fact side: touched keys + post-images --------------------------
    if fact_changes is not None:
        f_latest = _latest(fact_changes, fkeys)
        tf = f_latest.select(*[F.col(bq(k)) for k in fkeys]).distinct()
        f_post = f_latest.where(F.col("_change_type") != "delete").drop(
            *[c for c in meta if c in f_latest.columns]
        )
    else:
        tf = None
        f_post = fact.limit(0)

    # --- dim sides: touched join keys per feed --------------------------
    tds: list[tuple[list[str], DataFrame | None]] = []
    for dim_changes, _dim, join_key in dims:
        jkeys = _keys_of(join_key)
        if dim_changes is not None:
            td = dim_changes.select(
                *[F.col(bq(k)) for k in jkeys]
            ).distinct()
        else:
            td = None
        tds.append((jkeys, td))

    # --- re-derive affected fact rows against the NEW dims --------------
    # current fact rows joining through a touched key of ANY dim,
    # excluding those already re-derived via the fact feed (no doubles);
    # a row reachable through two touched dims enters once (key dedup)
    via_all: DataFrame | None = None
    n_touched_dims = sum(1 for _, td in tds if td is not None)
    for jkeys, td in tds:
        if td is None:
            continue
        scan = _td_pruned_scan(fact, fact_path, td, jkeys, catalog)
        base = scan if scan is not None else fact
        via = base.join(F.broadcast(td), on=jkeys, how="left_semi")
        via_all = via if via_all is None else via_all.unionByName(via)
    affected = f_post
    if via_all is not None:
        if n_touched_dims > 1:
            via_all = via_all.dropDuplicates(fkeys)
        if tf is not None:
            via_all = via_all.join(
                F.broadcast(tf), on=fkeys, how="left_anti"
            )
        affected = affected.unionByName(via_all.select(*f_post.columns))
    added = affected
    for _dim_changes, dim, join_key in dims:
        added = added.join(dim, on=_keys_of(join_key), how=how)
    return tf, tds, added


def apply_cdf_to_join_view_star(
    view: DataFrame,
    fact_changes: DataFrame | None,
    dims,
    fact: DataFrame,
    fact_key,
    how: str = "inner",
    fact_path: str | None = None,
    catalog=None,
) -> DataFrame:
    """Maintain a STAR-SCHEMA join view — one fact joined to N
    dimensions, any subset of whose feeds changed — by key attribution
    (VERDICT r10 item 3): drop every view row owned by a touched fact
    key or joining through a touched key of ANY dimension, re-derive
    exactly the affected fact rows against all NEW dims. ``dims`` is a
    sequence of ``(dim_changes | None, dim, join_key)`` in join order.
    Same inner/left contract, idempotence under replay, and
    latest-event resolution as the bilateral form (which is now the
    N=1 case). ``fact_path``+``catalog`` span-prune the TD-rescan."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.functions.names import backticked as bq

    fkeys = _keys_of(fact_key)
    tf, tds, added = star_view_delta(
        fact_changes, dims, fact, fact_key, how,
        fact_path=fact_path, catalog=catalog,
    )
    # --- drop affected view rows (broadcast anti-joins, map-side) ------
    kept = _drop_touched(view, tf, tds, fkeys)
    # re-select BOTH sides to the view's column order: a name-list join
    # moves its keys to the front, so `kept` comes out reordered
    cols = [F.col(bq(c)) for c in view.columns]
    return kept.select(*cols).unionByName(added.select(*cols))


def _drop_touched(
    df: DataFrame,
    tf: DataFrame | None,
    tds,
    fkeys: list[str],
) -> DataFrame:
    """Anti-join out every row owned by a touched fact key or joining
    through a touched dim key — the retraction half of the delta."""
    from pyspark.sql import functions as F

    kept = df
    if tf is not None:
        kept = kept.join(F.broadcast(tf), on=fkeys, how="left_anti")
    for jkeys, td in tds:
        if td is not None:
            kept = kept.join(F.broadcast(td), on=jkeys, how="left_anti")
    return kept


def apply_cdf_to_join_view_bilateral(
    view: DataFrame,
    fact_changes: DataFrame | None,
    dim_changes: DataFrame | None,
    fact: DataFrame,
    dim: DataFrame,
    join_key,
    fact_key,
    how: str = "inner",
    fact_path: str | None = None,
    catalog=None,
) -> DataFrame:
    """Maintain a fact ⋈ dim view when BOTH sides change — the bilateral
    completion of :func:`apply_cdf_to_join_view` (which holds the
    dimension static), now the N=1 case of
    :func:`apply_cdf_to_join_view_star`. The classical delta algebra
    ``ΔV = ΔF⋈D ∪ F⋈ΔD ∪ ΔF⋈ΔD`` needs signed multiset arithmetic; for
    a KEYED view (every row owned by exactly one fact row) it collapses
    to key attribution:

    - TF = fact keys touched by the fact feed (latest event per key);
    - TD = dim join keys touched by the dim feed;
    - drop from V every row owned by TF **or** joining through TD;
    - re-derive exactly the affected fact rows against the NEW dim:
      the fact feed's post-images, plus the CURRENT fact rows that join
      through TD (a TD-semi-joined scan of ``fact`` — the same targeted
      ``rescan`` shape as ``apply_cdf_to_summary``'s min/max recompute:
      cost proportional to the affected rows, never the fact history).

    ``fact``/``dim`` are the POST-commit snapshots (lazy scans — only
    the TD-semi-joined slice of ``fact`` is ever read; ``dim`` joins
    |affected|-sized deltas). Passing ``None`` for either feed degrades
    to the unilateral algebra. Same inner/left contract, same
    idempotence under replay (re-dropping and re-deriving identical
    rows is a fixpoint), same latest-event resolution for
    multi-transition batches.

    Dim-key updates are handled by TD containing BOTH images' keys: a
    dim row re-keyed from d1 to d2 retracts the d1-joined view rows and
    re-derives the d2-joined fact rows. A dim delete under ``inner``
    drops its fact rows from the view; under ``left`` they re-enter
    NULL-padded.

    Scale posture: TF/TD are batch-sized broadcasts; the view streams
    through one map-side anti-filter; ``fact`` contributes one
    semi-joined scan — and with ``fact_path``+``catalog`` provided, the
    scan is SPAN-PRUNED to the files whose footer key spans intersect
    TD (VERDICT r10 item 2: before, the whole snapshot streamed through
    the filter); nothing rescans history. Delta Lake has no bilateral
    CDF-join maintenance — dashboards there re-derive; DBSP/differential
    dataflow are the public analogues of the delta algebra."""
    return apply_cdf_to_join_view_star(
        view,
        fact_changes,
        [(dim_changes, dim, join_key)],
        fact,
        fact_key,
        how,
        fact_path=fact_path,
        catalog=catalog,
    )


def commit_join_view_delta(
    view_catalog,
    view_name: str,
    tf: DataFrame | None,
    tds,
    added: DataFrame,
    fact_key,
    keep_versions: int = 0,
    snapshot_props: dict | None = None,
) -> dict:
    """Commit a maintained join view's delta COPY-ON-WRITE (VERDICT r10
    item 1): the IVM algebra is delta-sized, so the physical commit
    must be too — a 100 TB view refreshed every minute must not rewrite
    100 TB per minute. The delta (from :func:`star_view_delta`) is a
    keyed retract-and-insert, exactly ``merge_pruned``'s contract
    applied to the view table:

    1. footer key spans mark a view file DIRTY iff it can contain a row
       owned by ``tf`` (on the fact key) or joining through some ``td``
       (on that dim's join key) — a clean file provably holds no row to
       retract, and inserted rows land as fresh files, so clean files
       carry into the new snapshot BY REFERENCE
       (``write_with_carryover``: hard link, zero copy);
    2. only the dirty slice streams through the anti-join drops, unioned
       with ``added``, and materializes as new files;
    3. one atomic OCC-guarded swap (the commit token is read BEFORE the
       spans — a racing writer raises ``ConcurrentWriteError`` instead
       of losing its update).

    Falls back to the full overwrite (``pruned=False``) when pruning
    cannot be proven sound — key types outside the prune-safe set,
    raw-ns timestamp columns, or ``added`` carrying columns the view
    lacks. Returns ``{"path", "pruned", "files_total",
    "files_rewritten", "files_carried", "bytes_rewritten"}`` —
    ``bytes_rewritten`` is the new snapshot's non-carried byte count,
    the O(Δ) figure BASELINE.md records."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.functions.names import backticked as bq
    from agol_pandas_spark.operators.merge import (
        _PRUNE_SAFE_TYPES,
        _touched_paths,
    )

    fkeys = _keys_of(fact_key)
    read_commit = view_catalog.commit_id(view_name)
    view = view_catalog.table(view_name)
    view_path = view_catalog.path(view_name)
    fields = {f.name: f.dataType for f in view.schema.fields}
    cols = [F.col(bq(c)) for c in view.columns]

    keysets: list[tuple[list[str], DataFrame]] = []
    if tf is not None:
        keysets.append((fkeys, tf))
    for jkeys, td in tds:
        if td is not None:
            keysets.append((jkeys, td))

    prunable = (
        os.path.isdir(view_path)
        and all(
            isinstance(fields.get(k), _PRUNE_SAFE_TYPES)
            for ks, _ in keysets
            for k in ks
        )
        and not (set(added.columns) - set(fields))
        and not view_catalog._nanos_columns(view_path)
    )

    def _full() -> dict:
        kept = _drop_touched(view, tf, tds, fkeys)
        maintained = kept.select(*cols).unionByName(added.select(*cols))
        path = view_catalog.write(
            maintained, view_name, mode="overwrite",
            keep_versions=keep_versions, snapshot_props=snapshot_props,
        )
        total = sum(
            os.path.getsize(f) for f in view_catalog.data_files(view_name)
        )
        return {
            "path": path, "pruned": False, "files_total": None,
            "files_rewritten": None, "files_carried": 0,
            "bytes_rewritten": total,
        }

    if not prunable:
        return _full()

    spark = added.sparkSession
    all_files = view_catalog.data_files(view_name)
    # ONE span lookup over the union of every keyset's columns (r11: the
    # per-keyset loop read every view file's spans once per feed — N+1
    # metadata passes over the same files). A file missing stats for ANY
    # key column was forced dirty by its keyset's pass before and still
    # is now, so the dirty set is identical.
    union_cols = sorted({k for ks, _ in keysets for k in ks})
    spans = view_catalog.path_key_spans(view_path, union_cols)
    dirty: set[str] = {s["path"] for s in spans if not s["ok"]}
    for ks, kdf in keysets:
        stat_spans = [s for s in spans if s["ok"] and s["path"] not in dirty]
        if stat_spans:
            dirty |= _touched_paths(kdf, stat_spans, ks, fields)
    clean = [f for f in all_files if f not in dirty]

    if dirty:
        dirty_df = spark.read.schema(view.schema).parquet(*sorted(dirty))
    else:
        dirty_df = local_frame(spark, [], view.schema)
    kept_dirty = _drop_touched(dirty_df, tf, tds, fkeys)
    result = kept_dirty.select(*cols).unionByName(added.select(*cols))
    path = view_catalog.write_with_carryover(
        result, view_name, clean, keep_versions=keep_versions,
        expected_commit=read_commit, snapshot_props=snapshot_props,
    )
    carried_names = {os.path.basename(f) for f in clean}
    bytes_rewritten = sum(
        os.path.getsize(f)
        for f in view_catalog.data_files(view_name)
        if os.path.basename(f) not in carried_names
    )
    return {
        "path": path,
        "pruned": True,
        "files_total": len(all_files),
        "files_rewritten": len(dirty),
        "files_carried": len(clean),
        "bytes_rewritten": bytes_rewritten,
    }


def apply_cdf_to_summary(
    summary: DataFrame,
    changes: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    count_col: str = "n_rows",
    maxs: dict[str, str] | None = None,
    mins: dict[str, str] | None = None,
    rescan: DataFrame | None = None,
) -> DataFrame:
    """Incrementally maintain a grouped count/sum summary from a change
    feed (``Catalog.table_changes`` output) instead of recomputing it.

    The delta algebra for distributive aggregates: ``insert`` and
    ``update_postimage`` rows contribute ``+1`` / ``+value``;
    ``delete`` and ``update_preimage`` contribute ``-1`` / ``-value``
    — an update's two images cancel exactly in the count and leave the
    value difference in the sums. The maintained summary is the old
    summary full-outer-merged (null-safe on ``keys``) with the signed
    deltas; groups whose count reaches zero vanish, groups first seen
    in the feed appear.

    ``sums`` maps output column name -> source value column; use
    pre-quantized integer measures (the repo-wide round(x·10^k)→BIGINT
    discipline) so maintenance is exact — float sums would drift from a
    recompute by accumulation order.

    ``maxs`` / ``mins`` (output column -> source value column) maintain
    extreme aggregates — with a CONTRACT the additive measures don't
    need: min/max are only self-maintainable from INSERTS (new value →
    ``greatest``/``least`` with the stored extreme). A retraction
    (``delete`` or ``update_preimage``) may remove the current extreme,
    and the feed cannot say what the runner-up was. So for every group
    the feed retracts from:

    - with ``rescan`` (the NEW snapshot as a DataFrame): the group's
      extremes are recomputed by a TARGETED scan — the snapshot is
      semi-joined to the retracted-group set (group-cardinality, small,
      broadcastable) before aggregating, so the rescan cost is the
      retracted groups' rows, never the full snapshot;
    - without ``rescan``: raises
      :class:`~agol_pandas_spark.errors.UnsupportedMeasureError`,
      naming the contract — refusal over a silently-stale extreme.
      (Detecting retractions costs one pass over the feed, which the
      delta aggregation was already paying.)

    Groups the feed only inserts into are maintained without touching
    ``rescan`` even when it is provided.

    Scale posture: one aggregation over the feed (which, via the CDF's
    shared-inode pruning, is proportional to the CHANGED file set) plus
    one key-join against the summary — the summary is group-cardinality
    sized, typically broadcastable. Recomputing from scratch would scan
    the full new snapshot instead. No counterpart in the reference.
    """
    from pyspark.sql import functions as F

    from agol_pandas_spark.errors import UnsupportedMeasureError
    from agol_pandas_spark.functions.names import backticked as bq

    maxs = dict(maxs or {})
    mins = dict(mins or {})
    outs = [count_col, *sums, *maxs, *mins]
    if len(set(outs)) != len(outs):
        raise ValueError(
            f"an output measure column collides with another: {sorted(outs)}"
        )
    inserting = F.col("_change_type").isin("insert", "update_postimage")
    sign = F.when(inserting, F.lit(1)).otherwise(F.lit(-1))
    extreme_aggs = []
    if maxs or mins:
        extreme_aggs = (
            [
                F.max(F.when(inserting, F.col(bq(src)))).alias(f"__i_{out}")
                for out, src in maxs.items()
            ]
            + [
                F.min(F.when(inserting, F.col(bq(src)))).alias(f"__i_{out}")
                for out, src in mins.items()
            ]
            + [
                F.max(F.when(~inserting, 1).otherwise(0)).alias(
                    "__cdf_retracted"
                )
            ]
        )
    # every parsed column reference is backticked: key/measure names
    # containing dots must stay single columns, not struct-field paths
    delta = changes.groupBy(*[F.col(bq(k)) for k in keys]).agg(
        F.sum(sign).alias(f"__d_{count_col}"),
        *[
            F.sum(sign * F.col(bq(src))).alias(f"__d_{out}")
            for out, src in sums.items()
        ],
        *extreme_aggs,
    )
    if maxs or mins:
        # the grouped delta is group-cardinality sized but derives from
        # the full feed scan; the retraction probe (and, on the rescan
        # path, three plan subtrees) would otherwise recompute that scan
        # — checkpoint once, every consumer below reads the small result
        delta = delta.localCheckpoint(eager=True)
        if rescan is None:
            # refusal over a silently-stale extreme: one small action over
            # the group-cardinality delta decides
            if delta.where(F.col("__cdf_retracted") == 1).limit(1).count():
                raise UnsupportedMeasureError(
                    "the change feed retracts rows (delete/update_preimage) "
                    "from groups with maintained min/max measures — pass "
                    "rescan=<new snapshot> for a targeted per-group "
                    "recompute, or drop the min/max measures"
                )
        else:
            # targeted recompute: ONLY the retracted groups' rows are
            # aggregated from the snapshot (semi-join on the retracted
            # group set — group-cardinality, broadcast)
            rg = delta.where(F.col("__cdf_retracted") == 1).select(
                *[F.col(bq(k)).alias(f"__r_{k}") for k in keys]
            )
            cond_r = None
            for k in keys:
                c = F.col(bq(k)).eqNullSafe(F.col(bq(f"__r_{k}")))
                cond_r = c if cond_r is None else (cond_r & c)
            scoped = rescan.join(F.broadcast(rg), cond_r, "left_semi")
            rescanned = scoped.groupBy(
                *[F.col(bq(k)).alias(f"__x_{k}") for k in keys]
            ).agg(
                *[
                    F.max(F.col(bq(src))).alias(f"__x_{out}")
                    for out, src in maxs.items()
                ],
                *[
                    F.min(F.col(bq(src))).alias(f"__x_{out}")
                    for out, src in mins.items()
                ],
            )
            cond_d = None
            for k in keys:
                c = F.col(bq(k)).eqNullSafe(F.col(bq(f"__x_{k}")))
                cond_d = c if cond_d is None else (cond_d & c)
            delta = delta.join(rescanned, cond_d, "left").drop(
                *[f"__x_{k}" for k in keys]
            )
    s = summary.select(
        *[F.col(bq(k)).alias(f"__s_{k}") for k in keys],
        *[
            F.col(bq(c)).alias(f"__s_{c}")
            for c in [count_col, *sums, *maxs, *mins]
        ],
    )
    cond = None
    for k in keys:
        c = F.col(bq(f"__s_{k}")).eqNullSafe(F.col(bq(k)))
        cond = c if cond is None else (cond & c)
    j = s.join(delta, cond, "full_outer")

    def _sum2(a: str, b: str):
        return F.coalesce(F.col(bq(a)), F.lit(0)) + F.coalesce(
            F.col(bq(b)), F.lit(0)
        )

    out_keys = [
        F.coalesce(F.col(bq(f"__s_{k}")), F.col(bq(k))).alias(k) for k in keys
    ]

    def _extreme(out: str, fn) -> F.Column:
        # insert-only maintenance: fold the feed's inserted extreme into
        # the stored one (greatest/least skip NULLs — an untouched group
        # keeps its stored value, a brand-new group takes the feed's)
        maintained = fn(F.col(bq(f"__s_{out}")), F.col(bq(f"__i_{out}")))
        if rescan is not None:
            return F.when(
                F.col("__cdf_retracted") == 1, F.col(bq(f"__x_{out}"))
            ).otherwise(maintained).alias(out)
        return maintained.alias(out)

    merged = j.select(
        *out_keys,
        _sum2(f"__s_{count_col}", f"__d_{count_col}").alias(count_col),
        *[_sum2(f"__s_{c}", f"__d_{c}").alias(c) for c in sums],
        *[_extreme(c, F.greatest) for c in maxs],
        *[_extreme(c, F.least) for c in mins],
    )
    return merged.where(F.col(bq(count_col)) > 0)
