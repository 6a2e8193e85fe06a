"""Chunk-aware manifest diff (VERDICT r9 item 1 / r10 item 1).

Round 9 made manifest WRITES O(delta) (manifest list + immutable chunk
reuse) but every READ still merged all chunk JSONs on the driver —
``snapshot_manifest`` + ``_disk_entries`` were the last O(table)
driver step, paid per CDF diff / pruned merge. The chunk-aware diff
(``Catalog._chunk_pruned_diff``) parses ONLY the chunks NOT shared (by
immutable uuid name, i.e. by hard-link reuse) between the two snapshots:
O(dirty chunks) driver JSON.

These tests pin (a) result equivalence with the full-parse path on
engine-managed histories, (b) the O(dirty chunks) parse count on a
synthetic large snapshot, (c) disk-truth reconciliation (external
adds/deletes/tampering still read, never wrongly pruned), and (d) the
end-to-end ``table_changes`` behavior and stats.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as papq
import pytest

from pyspark.sql import functions as F

from agol_pandas_spark import catalog as catalog_mod
from agol_pandas_spark.catalog import MANIFEST_NAME, Catalog


def _mk(spark, lo, hi, bump=0):
    return spark.createDataFrame(
        [(k, f"g{k % 3}", k * 10 + bump) for k in range(lo, hi)],
        "k long, g string, v long",
    )


def _full_path_diff(cat, old_path, new_path):
    """The pre-r10 full-parse diff, reconstructed from the identity
    reader that still backs it — the equivalence oracle."""
    old, new = cat._disk_entries(old_path), cat._disk_entries(new_path)
    assert old is not None and new is not None
    ofs = [(e and (e["file_id"], e["size"]), f) for f, e in old]
    nfs = [(e and (e["file_id"], e["size"]), f) for f, e in new]
    shared = {i for i, _ in ofs if i is not None} & {
        i for i, _ in nfs if i is not None
    }
    return (
        [f for i, f in ofs if i not in shared],
        [f for i, f in nfs if i not in shared],
    )


@pytest.fixture()
def small_chunks(monkeypatch):
    monkeypatch.setattr(catalog_mod, "MANIFEST_CHUNK", 4)


def test_chunk_diff_equals_full_parse_across_engine_history(
    spark, tmp_path, small_chunks
):
    """Every adjacent snapshot pair of a real engine history (keyed
    pruned merges, selective compaction, append) must diff identically
    under the chunk-aware fast path and the full parse."""
    from agol_pandas_spark.operators.merge import merge_pruned, write_table

    cat = Catalog(spark, str(tmp_path))
    base = (
        _mk(spark, 0, 240)
        .repartitionByRange(12, "k")
        .sortWithinPartitions("k")
    )
    cat.write(base, "t", keep_versions=9)
    cat.write(base, "t", mode="overwrite", keep_versions=9)  # v1
    merge_pruned(
        cat, _mk(spark, 0, 5, 7), "t", mode="upsert", key="k",
        keep_versions=9,
    )
    merge_pruned(
        cat, _mk(spark, 300, 310), "t", mode="upsert", key="k",
        keep_versions=9,
    )
    cat.compact_selective("t", min_file_bytes=1 << 30, keep_versions=9)
    write_table(cat, _mk(spark, 400, 404), "t", mode="append")

    paths = [cat._version_path("t", v) for v in cat.versions("t")]
    paths.append(cat.path("t"))
    for old, new in zip(paths, paths[1:]):
        fast = cat._chunk_pruned_diff(old, new)
        assert fast is not None, (old, new)
        assert (sorted(fast[0]), sorted(fast[1])) == tuple(
            map(sorted, _full_path_diff(cat, old, new))
        ), (old, new)
    # and non-adjacent pairs (squashed diffs)
    fast = cat._chunk_pruned_diff(paths[0], paths[-1])
    assert (sorted(fast[0]), sorted(fast[1])) == tuple(
        map(sorted, _full_path_diff(cat, paths[0], paths[-1]))
    )

    # manifest lists WITHOUT per-chunk counts: the chunk diff declines
    # and the full parse answers every pair, with the same result
    for p in paths:
        mp = os.path.join(p, MANIFEST_NAME)
        with open(mp) as fh:
            head = json.load(fh)
        for m in head["manifests"]:
            del m["count"]
        os.remove(mp)
        with open(mp, "w") as fh:
            json.dump(head, fh)
    for old, new in zip(paths, paths[1:]):
        assert cat._chunk_pruned_diff(old, new) is None, (old, new)
        got = cat._unshared_snapshot_files(old, new)
        assert cat.last_diff_stats == {"mode": "full"}
        assert tuple(map(sorted, got)) == tuple(
            map(sorted, _full_path_diff(cat, old, new))
        ), (old, new)


def test_chunk_diff_parses_o_dirty_chunks(spark, tmp_path, monkeypatch):
    """The scale claim, pinned by parse counts on a synthetic 20k-file
    snapshot (chunk=256 → ~79 chunks/side): a 10-file delta must parse
    O(1) chunks, not all of them, and reading the new side's unshared
    files must not list the snapshot."""
    monkeypatch.setattr(catalog_mod, "MANIFEST_CHUNK", 256)
    cat = Catalog(spark, str(tmp_path))
    a = str(tmp_path / "a")
    os.makedirs(a)
    names = [f"part-{i:05d}.parquet" for i in range(20_000)]
    for n in names:
        with open(os.path.join(a, n), "wb") as f:
            f.write(b"x")
    cat._write_manifest(a)

    b = str(tmp_path / "b")
    os.makedirs(b)
    rewritten = set(names[10_000:10_005])
    dropped = set(names[:5])
    for n in names:
        if n in dropped:
            continue
        if n in rewritten:
            # real parquet: the pruned read below opens these files
            papq.write_table(
                pa.table({"k": [int(n[5:10])]}), os.path.join(b, n)
            )
        else:
            os.link(os.path.join(a, n), os.path.join(b, n))
    man_a = cat.snapshot_manifest(a)
    carried = {n: man_a[n] for n in names if n not in dropped}
    cat._write_manifest(b, carried, reuse_from=a)

    old_files, new_files = cat._chunk_pruned_diff(a, b)
    stats = cat.last_diff_stats
    assert stats["mode"] == "chunk"
    assert stats["chunks_total"] >= 2 * (20_000 // 256)
    # dropped+rewritten dirty at most 2 old chunks; the survivors of
    # those chunks land in <= 2 fresh chunks on the new side
    assert stats["chunks_parsed"] <= 8
    assert sorted(os.path.basename(f) for f in old_files) == sorted(
        dropped | rewritten
    )
    assert sorted(os.path.basename(f) for f in new_files) == sorted(
        rewritten
    )

    # the pruned read opens only the unshared files: its scan schema
    # comes from new_files[0]'s footer, and nothing lists the snapshot
    def _no_walk(path):
        raise AssertionError(f"a pruned read listed {path}")

    monkeypatch.setattr(Catalog, "_list_names", staticmethod(_no_walk))
    df = cat._read_snapshot(b, new_files)
    assert sorted(r.k for r in df.collect()) == list(range(10_000, 10_005))


def test_disk_truth_still_wins_over_shared_chunks(
    spark, tmp_path, small_chunks
):
    """External modifications must never be wrongly pruned: a file added
    outside the engine is read; a file deleted from one side makes the
    other side's copy read; a size-tampered file in a parsed chunk is
    read on both sides."""
    cat = Catalog(spark, str(tmp_path))
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    os.makedirs(a)
    names = [f"p-{i:03d}.parquet" for i in range(40)]
    for n in names:
        with open(os.path.join(a, n), "wb") as f:
            f.write(b"zz")
    cat._write_manifest(a)
    os.makedirs(b)
    for n in names:
        os.link(os.path.join(a, n), os.path.join(b, n))
    man = cat.snapshot_manifest(a)
    cat._write_manifest(b, dict(man), reuse_from=a)

    # pristine: everything shared, nothing read
    of, nf = cat._chunk_pruned_diff(a, b)
    assert of == [] and nf == []

    # external ADD on the new side: read (insert-visible)
    with open(os.path.join(b, "external.parquet"), "wb") as f:
        f.write(b"zz")
    of, nf = cat._chunk_pruned_diff(a, b)
    assert of == [] and [os.path.basename(p) for p in nf] == [
        "external.parquet"
    ]
    os.remove(os.path.join(b, "external.parquet"))

    # external DELETE on the new side: the old copy is read
    os.remove(os.path.join(b, names[7]))
    of, nf = cat._chunk_pruned_diff(a, b)
    assert [os.path.basename(p) for p in of] == [names[7]] and nf == []
    os.link(os.path.join(a, names[7]), os.path.join(b, names[7]))

    # size tamper of a file in a PARSED (unshared) chunk: a fresh
    # successor rewrites one file (fresh id, fresh chunk), then the
    # rewritten file is tampered in place — both sides of that rp must
    # be read (a fresh-dir successor, like every real commit stages)
    c = str(tmp_path / "c")
    os.makedirs(c)
    for n in names[1:]:
        os.link(os.path.join(a, n), os.path.join(c, n))
    with open(os.path.join(c, names[0]), "wb") as f:
        f.write(b"abc")  # engine-rewritten: new id, new chunk
    man_c = {n: man[n] for n in names[1:]}
    cat._write_manifest(c, man_c, reuse_from=a)
    with open(os.path.join(c, names[0]), "wb") as f:
        f.write(b"TAMPERED!!")  # size now disagrees with manifest
    of, nf = cat._chunk_pruned_diff(a, c)
    assert [os.path.basename(p) for p in of] == [names[0]]
    assert [os.path.basename(p) for p in nf] == [names[0]]


def test_table_changes_rides_the_chunk_diff(spark, tmp_path, small_chunks):
    """End-to-end: a pruned CDF after a keyed merge reports mode=chunk
    with a small parse count, and emits exactly the changed rows."""
    from agol_pandas_spark.operators.merge import merge_pruned

    cat = Catalog(spark, str(tmp_path))
    base = (
        _mk(spark, 0, 300)
        .repartitionByRange(10, "k")
        .sortWithinPartitions("k")
    )
    cat.write(base, "t")
    stats = merge_pruned(
        cat, _mk(spark, 0, 4, 9), "t", mode="upsert", key="k",
        keep_versions=4,
    )
    assert stats["pruned"] and stats["files_carried"] > 0
    ch = cat.table_changes("t", from_version=1, key="k")
    rows = sorted(
        (r.k, r._change_type) for r in ch.collect()
    )
    assert rows == sorted(
        [(k, "update_preimage") for k in range(4)]
        + [(k, "update_postimage") for k in range(4)]
    )
    assert cat.last_diff_stats["mode"] == "chunk"
    total = cat.last_diff_stats["chunks_total"]
    assert cat.last_diff_stats["chunks_parsed"] < total / 2


def test_double_injection_is_read_not_pruned(spark, tmp_path, small_chunks):
    """ADVICE r10: a same-name equal-size file injected into BOTH
    snapshot directories used to prune on the fast path while the full
    parse would read it (identity None). The manifest-list counts now
    expose the mismatch (unknown files exceed what the shared chunks
    account for), the shared chunks are parsed ONCE to verify
    membership, and the injected pair is read on both sides — matching
    the full path."""
    cat = Catalog(spark, str(tmp_path))
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    os.makedirs(a)
    names = [f"p-{i:03d}.parquet" for i in range(12)]
    for n in names:
        with open(os.path.join(a, n), "wb") as f:
            f.write(b"zz")
    cat._write_manifest(a)
    os.makedirs(b)
    for n in names:
        os.link(os.path.join(a, n), os.path.join(b, n))
    man = cat.snapshot_manifest(a)
    cat._write_manifest(b, dict(man), reuse_from=a)

    # inject DIFFERENT content, equal size, same name, into BOTH sides
    with open(os.path.join(a, "ghost.parquet"), "wb") as f:
        f.write(b"AAAA")
    with open(os.path.join(b, "ghost.parquet"), "wb") as f:
        f.write(b"BBBB")
    of, nf = cat._chunk_pruned_diff(a, b)
    assert [os.path.basename(p) for p in of] == ["ghost.parquet"]
    assert [os.path.basename(p) for p in nf] == ["ghost.parquet"]
    assert cat.last_diff_stats.get("shared_resolved") is True
    # and it agrees with the full-parse oracle
    full = _full_path_diff(cat, a, b)
    assert sorted(of) == sorted(full[0]) and sorted(nf) == sorted(full[1])

    # the engine files stayed pruned through the membership resolve
    assert len(of) == 1 and len(nf) == 1

    # steady state (no injection): no shared chunks parsed, no resolve
    os.remove(os.path.join(a, "ghost.parquet"))
    os.remove(os.path.join(b, "ghost.parquet"))
    of, nf = cat._chunk_pruned_diff(a, b)
    assert of == [] and nf == []
    assert cat.last_diff_stats.get("shared_resolved") is None
    assert cat.last_diff_stats["chunks_parsed"] == 0
