"""Persisted LSH and IVF-PQ indexes commit their build parameters with
their data: how many catalog tables a build leaves, how many Spark jobs
each index operation starts, and what a probe sees after a rebuild that
failed part-way through its filesystem commits."""

from __future__ import annotations

import itertools
import os
import shutil

import pytest
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.errors import LshIndexParamError, VectorIndexParamError
from agol_pandas_spark.operators.dedup import (
    append_lsh_index,
    probe_lsh_index,
    write_lsh_index,
)
from agol_pandas_spark.operators.similarity import (
    pq_codebook_from_seeds,
    probe_ivfpq_index,
    write_ivfpq_index,
)
from conftest import _jobs, _rebuild_failing_at

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
OTHER = (
    "completely different content about spark distributed query engines "
    "processing parquet tables with columnar execution and shuffles"
)


@pytest.fixture(scope="module")
def lsh_inputs(spark):
    """Two corpora and one batch: every batch doc is a near or exact copy
    of a doc in one corpus or the other, so each corpus gives a different
    non-empty probe."""
    corpus_a = spark.createDataFrame(
        [(1, BASE), (2, OTHER), (3, "tiny")], "doc_id long, text string"
    )
    corpus_b = spark.createDataFrame(
        [(4, BASE.replace("warm", "cold")), (5, OTHER.replace("spark", "flink"))],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, BASE),
            (11, BASE.replace("garden", "yard")),
            (12, OTHER.replace("spark", "flink")),
        ],
        "doc_id long, text string",
    )
    return corpus_a, corpus_b, batch


@pytest.fixture(scope="module")
def ivfpq_inputs(spark, sf_dir):
    emb = Catalog(spark, sf_dir).table("embeddings")
    pivots_a = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    # same count, same layout, different vectors
    pivots_b = emb.filter(F.col("vec_id") % 100 == 50).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    cb = pq_codebook_from_seeds(emb, "vec_id")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb, pivots_a, pivots_b, cb, queries


def _lsh_probe(cat, batch):
    return sorted(
        map(tuple, probe_lsh_index(cat, "idx", batch, "doc_id", "text").collect())
    )


def _ivfpq_probe(cat, queries):
    return sorted(
        map(
            tuple,
            probe_ivfpq_index(
                cat, "idx", queries, query_id="query_id", k=10, nprobe=1
            ).collect(),
        )
    )


def _ivfpq_build(cat, emb, pivots, cb):
    write_ivfpq_index(
        cat, "idx", emb, pivots, cb,
        corpus_id="vec_id", pivot_id="pivot_id", payload_cols=("label",),
    )


def test_lsh_index_is_one_table_with_pinned_job_counts(spark, sf_dir, tmp_path):
    docs = Catalog(spark, sf_dir).table("documents")
    corpus = docs.filter(F.col("source") != "src0")
    batch = docs.filter(F.col("source") == "src0")
    cat = Catalog(spark, str(tmp_path))
    assert _jobs(spark, lambda: write_lsh_index(
        cat, "idx", corpus, "doc_id", "text", band_size=4
    )) == 2
    assert cat.list_tables() == ["idx"]
    assert cat.snapshot_props("idx") == {
        "lsh": {"shingle_size": 3, "num_hashes": 8, "band_size": 4}
    }
    assert _jobs(spark, lambda: _lsh_probe(cat, batch)) == 3
    assert _jobs(spark, lambda: append_lsh_index(
        cat, "idx", batch, "doc_id", "text"
    )) == 2
    assert cat.list_tables() == ["idx"]
    assert cat.snapshot_props("idx")["lsh"]["band_size"] == 4


def test_ivfpq_index_is_three_tables_with_pinned_job_counts(
    spark, ivfpq_inputs, tmp_path
):
    emb, pivots_a, _, cb, queries = ivfpq_inputs
    cat = Catalog(spark, str(tmp_path))
    assert _jobs(spark, lambda: _ivfpq_build(cat, emb, pivots_a, cb)) == 3
    # catalog names normalize "__" to "_"
    assert cat.list_tables() == ["idx", "idx_ivfpq_codebook", "idx_ivfpq_pivots"]
    props = cat.snapshot_props("idx")["ivfpq"]
    assert {k: v for k, v in props.items() if k != "build"} == {
        "m_subspaces": 4, "k_codes": 8, "corpus_id": "vec_id",
        "pivot_id": "pivot_id", "vec": "embedding", "payload_cols": ["label"],
    }
    assert _jobs(spark, lambda: _ivfpq_probe(cat, queries)) == 4


def _fault_outcomes(spark, monkeypatch, tmp_path, old_root, rebuild, probe, errors):
    """Inject a failure at each commit call of ``rebuild`` in turn, on a
    fresh copy of the old index, and classify the probe that follows:
    ``old`` or ``new`` (the old index's or the finished rebuild's
    answer), ``error`` (a typed parameter error) or ``third`` (anything
    else). Returns the outcome per call position."""
    old = probe(Catalog(spark, str(old_root)))
    shutil.copytree(old_root, tmp_path / "new")
    rebuild(Catalog(spark, str(tmp_path / "new")))
    new = probe(Catalog(spark, str(tmp_path / "new")))
    assert old and new and new != old
    outcomes = {}
    for position in itertools.count():
        root = tmp_path / f"pos{position}"
        shutil.copytree(old_root, root)
        cat = Catalog(spark, str(root))
        if not _rebuild_failing_at(monkeypatch, position, lambda: rebuild(cat)):
            assert probe(cat) == new
            return outcomes
        try:
            got = probe(cat)
        except errors:
            outcomes[position] = "error"
        else:
            outcomes[position] = (
                "old" if got == old else "new" if got == new else "third"
            )


@pytest.mark.parametrize("change", ["corpus", "band_size"])
def test_lsh_rebuild_fault_injection(spark, lsh_inputs, tmp_path, monkeypatch, change):
    """A rebuild that fails at any filesystem commit call leaves the old
    index answering, or a typed error; never a probe that mixes the new
    data with the old parameters."""
    corpus_a, corpus_b, batch = lsh_inputs
    old_root = tmp_path / "old"
    write_lsh_index(Catalog(spark, str(old_root)), "idx", corpus_a, "doc_id", "text")
    if change == "corpus":
        def rebuild(cat):
            write_lsh_index(cat, "idx", corpus_b, "doc_id", "text")
    else:
        def rebuild(cat):
            write_lsh_index(cat, "idx", corpus_a, "doc_id", "text", band_size=4)

    outcomes = _fault_outcomes(
        spark, monkeypatch, tmp_path, old_root, rebuild,
        lambda cat: _lsh_probe(cat, batch), LshIndexParamError,
    )
    assert outcomes, "the rebuild made no filesystem commit call"
    assert all(o in ("old", "error") for o in outcomes.values()), outcomes


def test_ivfpq_rebuild_fault_injection(spark, ivfpq_inputs, tmp_path, monkeypatch):
    """A rebuild with the same layout but other pivots that fails at any
    filesystem commit call leaves the old index answering, or raises
    VectorIndexParamError; never codes routed through another build's
    pivots."""
    emb, pivots_a, pivots_b, cb, queries = ivfpq_inputs
    old_root = tmp_path / "old"
    _ivfpq_build(Catalog(spark, str(old_root)), emb, pivots_a, cb)

    outcomes = _fault_outcomes(
        spark, monkeypatch, tmp_path, old_root,
        lambda cat: _ivfpq_build(cat, emb, pivots_b, cb),
        lambda cat: _ivfpq_probe(cat, queries), VectorIndexParamError,
    )
    assert outcomes, "the rebuild made no filesystem commit call"
    assert all(o in ("old", "error") for o in outcomes.values()), outcomes
