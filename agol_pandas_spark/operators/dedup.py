"""Deduplication operators: exact, latest-wins, MinHash-LSH, SimHash,
n-gram Jaccard (north-star ops, SURVEY §2b ★ rows).

Scale design:

- *Exact / latest-wins*: one hash shuffle on the dedup key. Deterministic
  survivor selection via window ``row_number`` (``dropDuplicates`` keeps an
  arbitrary row — unacceptable for reproducible pipelines).
- *MinHash signatures*: computed **per row in one Arrow pandas UDF**
  (tokenize → shingle → md5 → per-permutation min), so signature
  computation is embarrassingly parallel — no explode, no shuffle. 100 TB
  of documents stream through a single map stage.
- *LSH banding*: signatures explode to ``bands`` rows per doc, shuffle on
  the band key, and self-join per bucket — the only shuffle in the
  pipeline, and it moves ``O(docs × bands)`` small rows, not text.
  Candidate pairs then get their exact signature agreement checked.
- *SimHash*: per-row bit-vote over token hashes (again one Arrow UDF),
  near-dup candidates = equal fingerprints or a shared 15-bit band.
- *n-gram Jaccard*: exact set similarity within user-supplied blocking
  columns (at scale: block or pre-LSH first; an unblocked exact Jaccard is
  a cross join and is intentionally not offered).

Hashes are engine-portable (md5-derived, ``functions/text.py``) so every
step here is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from agol_pandas_spark.errors import (
    ConvergenceError,
    LshIndexParamError,
    TableNotFoundError,
)
from agol_pandas_spark.operators.ranks import _persist_bounded
from agol_pandas_spark.functions.text import (
    portable_hash60,
    tokens,
    word_shingles,
)

# MinHash parameters: h_i(x) = (A_i * (x mod P) + B_i) mod P with P prime
# > 2^32 and A_i < 10^4 so A*(x%P)+B stays < 2^63 (no BIGINT overflow in
# either engine). Fixed seeds → reproducible signatures.
MINHASH_P = 4_294_967_311
MINHASH_PARAMS: tuple[tuple[int, int], ...] = (
    (3449, 2017),
    (4987, 911),
    (1231, 3301),
    (8123, 5501),
    (2357, 7919),
    (6661, 101),
    (9973, 4241),
    (7103, 6089),
)
SIMHASH_BITS = 60  # full width of portable_hash60; bits above 59 carry no signal
SIMHASH_BANDS = 4  # 4 x 15-bit band keys: any pair at Hamming <= SIMHASH_BANDS-1
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # shares at least one band (pigeonhole)


def exact_dedup(
    df: DataFrame,
    keys: Sequence[str],
    tie_breakers: Sequence[Column] | None = None,
) -> DataFrame:
    """Keep one deterministic survivor per key group.

    ``tie_breakers`` order survivors (first row wins); defaults to all
    non-key columns ascending so the result is stable regardless of
    partitioning.
    """
    order = list(tie_breakers) if tie_breakers else [
        F.col(c) for c in df.columns if c not in keys
    ]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_wins_dedup(
    df: DataFrame, keys: Sequence[str], ts_col: str, tie_breakers: Sequence[Column] = ()
) -> DataFrame:
    """Latest record per key (CDC compaction): highest ``ts_col`` wins."""
    order = [F.col(ts_col).desc(), *tie_breakers]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = len(MINHASH_PARAMS),
) -> DataFrame:
    """Per-document MinHash signature columns ``mh_0..mh_{k-1}``.

    Pure map stage: no shuffle. The tokenize→shingle→md5→k-min kernel
    runs in ONE Arrow pandas UDF per batch (r11, guide §4.2): hashlib md5
    + numpy permutation mins replace the interpreted higher-order-function
    chain, which paid UTF8String/hex/conv allocation per shingle — the
    measured dominant cost of every MinHash query. Bit-identical to the
    ``dedup_minhash_signatures`` DuckDB oracle, pinned by
    ``tests/test_dedup.py::test_arrow_minhash_bit_identical``. Output
    carries only id + signature — at 100 TB the signature table is
    ~1/1000th the corpus and everything downstream touches only it.
    """
    sig = _minhash_sigs_arrow(shingle_size, num_hashes, MINHASH_PARAMS, MINHASH_P)
    base = df.select(F.col(id_col), sig(F.col(text_col)).alias("__sig"))
    return base.select(
        F.col(id_col),
        *[
            F.element_at("__sig", i + 1).alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
    )


@lru_cache(maxsize=16)
def _minhash_sigs_arrow(
    shingle_size: int, num_hashes: int, params: tuple, p_mod: int
):
    """Arrow MinHash kernel factory: text → array of the k permutation
    minima. Parameters are baked into the closure (NOT read from module
    globals at worker time — workers re-import the module, so call-time
    globals would not propagate). Nondeterministic marking stops the
    optimizer duplicating the expensive kernel below inferred filters
    (guide §4.4); memoized per parameters because each ``pandas_udf``
    call costs a py4j registration round-trip.

    Semantics (pinned bit-identical to the DuckDB oracle):

    - NULL text / < shingle_size tokens → every ``mh_i`` is the sentinel
      ``p_mod`` (oracle: ``coalesce(list_min(...), P)`` over an empty or
      NULL shingle set).
    - ``h = md5_60(shingle) % P``; ``mh_i = min((a_i*h + b_i) % P)`` —
      all values < 2^47, so int64 never overflows in either engine.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from agol_pandas_spark.functions.text import (
        py_shingle_hash60s,
        py_tokens,
    )

    A = np.asarray([a for a, _ in params[:num_hashes]], dtype=np.int64)
    B = np.asarray([b for _, b in params[:num_hashes]], dtype=np.int64)
    sentinel = [p_mod] * num_hashes

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sigs(texts: pd.Series) -> pd.Series:
        out: list = []
        for tx in texts:
            if tx is None:
                out.append(sentinel)
                continue
            hs = py_shingle_hash60s(py_tokens(tx), shingle_size)
            if not hs:
                out.append(sentinel)
                continue
            h = np.asarray(hs, dtype=np.int64) % p_mod
            # (k, m) permutation table → per-permutation min; values stay
            # < 2^47 so the int64 math is exact (same as the oracle)
            mins = ((A[:, None] * h[None, :] + B[:, None]) % p_mod).min(
                axis=1
            )
            out.append(mins.tolist())
        return pd.Series(out)

    return _sigs.asNondeterministic()


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = len(MINHASH_PARAMS),
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of their signature become a
    candidate pair ``(id_a < id_b)`` with ``n_matching_hashes`` agreement.

    Shuffle profile: explode to ``bands`` rows/doc → hash-shuffle on the
    band key → per-bucket self-join. Bucket skew (a degenerate band value
    shared by millions of docs) is the classic failure mode; AQE skew-join
    handles moderate skew, and the band key includes the band index so
    buckets never merge across bands.

    ``max_bucket_size`` is the hot-bucket guard for corpus scale: a bucket
    of B docs emits B² candidate pairs, so one boilerplate band value
    shared by 10⁶ docs means 10¹² pairs out of a single bucket. Buckets
    larger than the cap are DROPPED before the self-join (one windowed
    count over the band shuffle, no extra scan of the corpus). Recall
    note: a pair lost here is near-certainly caught in another band —
    oversized buckets are boilerplate, not signal — the standard
    trade in production LSH dedup. ``None`` (default) keeps exact
    semantics; checked queries use ``None`` so the oracle stays exact.
    """
    exploded = banded_signatures(signatures, id_col, num_hashes, band_size)
    left = exploded.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_mh_{i}") for i in range(num_hashes)],
        "band_id",
        "band_key",
    )
    right = exploded.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_mh_{i}") for i in range(num_hashes)],
        "band_id",
        "band_key",
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_key")
        left = (
            left.withColumn("__bn", F.count(F.lit(1)).over(w))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
        right = (
            right.withColumn("__bn", F.count(F.lit(1)).over(w))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    agreement = _lsh_agreement_expr(num_hashes)
    return (
        left.join(right, on=["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", agreement.alias("n_matching_hashes"))
        .distinct()
    )


def banded_signatures(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = len(MINHASH_PARAMS),
    band_size: int = 2,
) -> DataFrame:
    """Explode a signature table to one row per (doc, band):
    ``(id, mh_0..mh_{k-1}, band_id, band_key)``.

    This is both the in-flight shape of :func:`lsh_candidate_pairs` and
    the PERSISTED shape of :func:`write_lsh_index` — index and self-join
    paths share one banding definition, so a probe against a stored index
    finds exactly the pairs the self-join would."""
    bands = _lsh_bands_expr(num_hashes, band_size)
    return signatures.select(
        F.col(id_col), *[F.col(f"mh_{i}") for i in range(num_hashes)],
        F.explode(bands).alias("band"),
    ).select(
        F.col(id_col),
        *[F.col(f"mh_{i}") for i in range(num_hashes)],
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_key").alias("band_key"),
    )


@lru_cache(maxsize=16)
def _lsh_bands_expr(num_hashes: int, band_size: int) -> Column:
    """Band-struct array, memoized per parameters (struct-field aliases
    become literal field names, not attributes, so reuse is safe)."""
    n_bands = num_hashes // band_size
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "_",
                    *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )


@lru_cache(maxsize=16)
def _lsh_agreement_expr(num_hashes: int) -> Column:
    return sum(
        F.when(F.col(f"a_mh_{i}") == F.col(f"b_mh_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_agreement: int = 4,
    shingle_size: int = 3,
    persist_signatures: bool = True,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup candidates above an agreement bar.

    The signature table (id + k longs, ~1/1000th the corpus size) is
    persisted by default: the LSH self-join scans it twice, and without the
    persist each side re-runs the tokenize→shingle→md5 map over the full
    corpus.
    """
    from agol_pandas_spark.operators.chunking import spread_small_scan

    sig = minhash_signatures(spread_small_scan(df), id_col, text_col, shingle_size)
    if persist_signatures:
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = lsh_candidate_pairs(sig, id_col)
    return pairs.filter(F.col("n_matching_hashes") >= min_agreement)


def write_lsh_index(
    catalog,
    name: str,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = len(MINHASH_PARAMS),
    band_size: int = 2,
) -> str:
    """Persist the corpus's banded MinHash signatures as a catalog table.

    THE incremental-ingest primitive at corpus scale: hashing 100 TB of
    text is the expensive stage of MinHash dedup, and without an index
    every arriving batch would re-tokenize the full corpus to dedup
    against it. The index stores ``(id, mh_0..mh_{k-1}, band_id,
    band_key)`` — ~tens of bytes × bands per document, ~1/1000th the
    corpus — and :func:`probe_lsh_index` joins new batches against it
    touching only batch text.

    The banding parameters commit WITH the index, as the snapshot prop
    ``lsh`` (``{shingle_size, num_hashes, band_size}``) in the same
    rename as the data: a probe with a different band layout would join
    on incompatible band_key values and silently miss near-duplicates,
    so :func:`probe_lsh_index` validates against them (and defaults
    from them), and no crash can leave data and parameters out of step.

    Upgrade path at scale: write bucketed by ``band_key``
    (``bucketBy(n, 'band_key')``, see ``source_bucketed_colocated_join``)
    so probes shuffle only the batch side; :func:`append_lsh_index`
    already extends the index per admitted batch without a rebuild.
    """
    from agol_pandas_spark.operators.chunking import spread_small_scan

    # spread the corpus scan before the Arrow signature kernel: a small
    # single-file corpus plans as ONE task, serializing the md5 kernel on
    # one core; at real scale the scan already splits and this is a no-op
    # decision (r11, guide §2.5/§4.2)
    sig = minhash_signatures(
        spread_small_scan(corpus), id_col, text_col, shingle_size, num_hashes
    )
    banded = banded_signatures(sig, id_col, num_hashes, band_size)
    return catalog.write(
        banded, name, mode="overwrite",
        snapshot_props=_lsh_props(shingle_size, num_hashes, band_size),
    )


_LSH_PARAMS = ("shingle_size", "num_hashes", "band_size")


def _lsh_props(shingle_size: int, num_hashes: int, band_size: int) -> dict:
    return {"lsh": dict(zip(_LSH_PARAMS, (shingle_size, num_hashes, band_size)))}


def _resolve_lsh_params(
    catalog,
    name: str,
    shingle_size: int | None,
    num_hashes: int | None,
    band_size: int | None,
) -> tuple[int, int, int]:
    """Resolve (shingle_size, num_hashes, band_size) for a probe against
    index ``name`` from the parameters committed with its snapshot:
    stored parameters win when the caller passed None; explicit values
    that contradict them raise :class:`LshIndexParamError`, and so does
    an index whose snapshot carries none."""
    if not catalog.exists(name):
        raise TableNotFoundError(
            f"no LSH index {name!r} under {catalog.root} — build it with "
            "write_lsh_index"
        )
    stored = catalog.snapshot_props(name).get("lsh")
    if stored is None:
        raise LshIndexParamError(
            f"LSH index {name!r} carries no stored banding parameters; "
            "rebuild the index with write_lsh_index."
        )
    for key, want in zip(_LSH_PARAMS, (shingle_size, num_hashes, band_size)):
        have = stored[key]
        if want is not None and want != have:
            raise LshIndexParamError(
                f"LSH index {name!r} was built with {key}={have}, but the "
                f"probe asked for {key}={want}; a mismatched probe would "
                "silently miss near-duplicates. Re-probe with the stored "
                "parameters (or rebuild the index)."
            )
    return tuple(stored[key] for key in _LSH_PARAMS)


def probe_lsh_index(
    catalog,
    name: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int | None = None,
    num_hashes: int | None = None,
    band_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs between a new batch and an indexed corpus.

    Returns ``(batch_id, corpus_id, n_matching_hashes)`` — one row per
    (batch doc, corpus doc) sharing at least one LSH band bucket, with
    exact signature agreement computed from the stored signatures (no
    corpus text touched). The batch side is hashed fresh; the corpus side
    is a pruned scan of the index (only id + signature + band columns
    exist in it). Self-pairs (same id on both sides) are excluded so an
    index that already contains the batch ignores identity matches.

    Banding parameters default to the ones committed with the index's
    snapshot by :func:`write_lsh_index`; explicitly passing a conflicting
    value raises :class:`~agol_pandas_spark.errors.LshIndexParamError` (a
    mismatched probe would silently miss near-duplicates), and so does an
    index whose snapshot carries no parameters.
    """
    shingle_size, num_hashes, band_size = _resolve_lsh_params(
        catalog, name, shingle_size, num_hashes, band_size
    )
    idx = catalog.table(name)
    sig = minhash_signatures(batch, id_col, text_col, shingle_size, num_hashes)
    probe = banded_signatures(sig, id_col, num_hashes, band_size)
    left = probe.select(
        F.col(id_col).alias("batch_id"),
        *[F.col(f"mh_{i}").alias(f"a_mh_{i}") for i in range(num_hashes)],
        "band_id",
        "band_key",
    )
    right = idx.select(
        F.col(id_col).alias("corpus_id"),
        *[F.col(f"mh_{i}").alias(f"b_mh_{i}") for i in range(num_hashes)],
        "band_id",
        "band_key",
    )
    agreement = _lsh_agreement_expr(num_hashes)
    return (
        left.join(right, on=["band_id", "band_key"])
        .filter(F.col("batch_id") != F.col("corpus_id"))
        .select("batch_id", "corpus_id", agreement.alias("n_matching_hashes"))
        .distinct()
    )


def dedup_against_lsh_index(
    catalog,
    name: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    min_agreement: int = 4,
    shingle_size: int | None = None,
    num_hashes: int | None = None,
    band_size: int | None = None,
) -> DataFrame:
    """Admit only batch rows with NO indexed near-duplicate at
    ``min_agreement`` or more matching MinHash values (left-anti join of
    the batch against its flagged ids)."""
    flagged = (
        probe_lsh_index(
            catalog, name, batch, id_col, text_col,
            shingle_size, num_hashes, band_size,
        )
        .filter(F.col("n_matching_hashes") >= min_agreement)
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    return batch.join(flagged, on=id_col, how="left_anti")


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash fingerprint over distinct tokens.

    For each bit b: vote = Σ_tokens (bit_b(h(tok)) ? +1 : -1); fingerprint
    sets bit b iff vote > 0 — equivalently iff 2·ones_b > n_tokens.

    Shape (r11): ONE Arrow pandas UDF computes the whole fingerprint per
    row — tokenize, distinct, md5 (hashlib), and the per-bit majority
    vote as one numpy bit-matrix reduction (guide §4.2). This removed
    the previous explode → 21-lane packed aggregation → join-back
    pipeline: its groupBy SHUFFLE and the join disappear outright (the
    operator is now a pure map, guide §2.4), and the measured kernel
    time dropped ~3× at sf0.1. Bit-identical to the ``dedup_simhash``
    DuckDB oracle, pinned by
    ``tests/test_dedup.py::test_arrow_simhash_bit_identical``. Docs with
    zero tokens (or NULL text) keep fingerprint 0.
    """
    fp = _simhash_arrow(bits)
    return df.select(
        F.col(id_col), fp(F.col(text_col)).alias("simhash")
    )


@lru_cache(maxsize=16)
def _simhash_arrow(bits: int):
    """Arrow SimHash kernel factory: text → 60-bit fingerprint long.
    Parameters baked into the closure (workers re-import the module;
    call-time globals would not propagate). Nondeterministic marking
    stops optimizer duplication below inferred filters (guide §4.4)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from agol_pandas_spark.functions.text import py_hash60, py_tokens

    shifts = np.arange(bits, dtype=np.int64)
    weights = (np.int64(1) << shifts).astype(np.int64)

    @pandas_udf(T.LongType())
    def _fp(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, tx in enumerate(texts):
            if tx is None:
                continue
            toks = set(py_tokens(tx))
            n = len(toks)
            if n == 0:
                continue
            hs = np.fromiter(
                (py_hash60(s) for s in toks), dtype=np.int64, count=n
            )
            ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
            out[i] = int(((ones * 2 > n) * weights).sum())
        return pd.Series(out)

    return _fp.asNondeterministic()


def simhash_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Docs sharing an identical SimHash fingerprint (near-dup buckets).

    With 60-bit fingerprints equal-hash collisions mean genuinely
    near-identical token sets (round 1's 16-bit space collided massively
    at corpus scale); for near-dups at small Hamming distance use
    :func:`simhash_band_pairs`, which buckets instead of requiring
    equality."""
    s = simhash(df, id_col, text_col)
    return (
        s.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("representative"),
        )
        .filter(F.col("n_docs") > 1)
    )


def simhash_bands(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per (doc, band): 4 x 15-bit slices of the 60-bit SimHash.

    The banding contract: two fingerprints at Hamming distance d differ in
    at most d bands, so for d <= SIMHASH_BANDS - 1 (= 3) at least one band
    key is EQUAL — candidate recall at Hamming <= 3 is exactly 1.0, no
    probabilistic caveat. Each doc emits SIMHASH_BANDS small integer rows;
    the candidate join below shuffles those, never the text.
    """
    s = simhash(df, id_col, text_col)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), i * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for i in range(SIMHASH_BANDS)
        ]
    )
    return s.select(
        F.col(id_col), F.col("simhash"), F.explode(bands).alias("b")
    ).select(id_col, "simhash", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key"))


def simhash_band_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by banded SimHash: bucket-join, then exact verify.

    Candidates = pairs sharing any (band, band_key) bucket — an equi-join
    on small integers, the same bucketed discipline as MinHash-LSH (no
    all-pairs comparison anywhere). Verification is one XOR + bit_count
    per candidate. Recall at Hamming <= SIMHASH_BANDS-1 is 1.0 by
    pigeonhole; raising ``max_hamming`` beyond that degrades recall (a
    pair may differ in every band) — raise SIMHASH_BANDS instead.

    ``max_bucket_size`` is the hot-bucket guard (mirror of
    ``lsh_candidate_pairs``): a band value shared by B docs emits B²
    candidates, and a boilerplate-dominated corpus can concentrate
    simhash bits until one 15-bit bucket holds a meaningful fraction of
    the corpus (the r7 sf1 soak measured a 9.7k-doc bucket = 47M
    candidates from one key). Buckets above the cap are dropped BEFORE
    the self-join. Unlike MinHash banding this SACRIFICES the pigeonhole
    recall guarantee for pairs whose every small-Hamming band is
    oversized — use it as the scale safety valve, not the default;
    ``None`` keeps exact recall and the checked queries use ``None``.
    Note the r7 soak also showed the un-capped growth is OUTPUT-bound,
    not algorithmic waste: verified pairs grew 72x alongside the 67x
    candidates (the corpus really is that dense), so capping changes
    the answer, not just the cost.
    """
    # NOT spread: the Arrow simhash kernel's numpy bit-matrix vote is
    # fast enough that the extra round-robin exchange costs more than the
    # single-task kernel saves (interleaved A/B at sf0.1: 0.50 s bare vs
    # 0.55 s spread); at real scale the scan splits on its own
    sigs = simhash_bands(df, id_col, text_col)
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "band_key")
        sigs = (
            sigs.withColumn("__bn", F.count(F.lit(1)).over(w))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    sigs = sigs.persist()
    a = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("__sig_a"),
        "band",
        "band_key",
    )
    b = sigs.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("__sig_b"),
        "band",
        "band_key",
    )
    # verify BEFORE dedup: the Hamming filter is a map-side expression and
    # most candidates fail it, so the distinct (a shuffle) sees the small
    # verified set instead of every bucket-pair duplicated across bands
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    shingle_size: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for doc pairs within blocks.

    Jaccard = |A∩B| / |A∪B| over distinct word shingles. The intersection
    is computed by exploding shingles and self-joining on (block, shingle) —
    the join key includes the block so the shuffle stays partitioned.
    ``min_jaccard`` prunes output; pairs sharing zero shingles never appear
    (they'd be a cross join's worth of zeros).
    """
    sh = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.array_distinct(word_shingles(tokens(F.col(text_col)), shingle_size)).alias(
            "__sh"
        ),
    )
    sizes = sh.select(F.col(id_col), F.size("__sh").alias("__n"))
    expl = sh.select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.explode("__sh").alias("__s")
    )
    a = expl.select(
        F.col(id_col).alias("id_a"), *[F.col(c) for c in block_cols], F.col("__s")
    )
    b = expl.select(
        F.col(id_col).alias("id_b"), *[F.col(c) for c in block_cols], F.col("__s")
    )
    inter = (
        a.join(b, on=[*block_cols, "__s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"))
    out = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_a",
            "n_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


def _cut_lineage(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Truncate an iterative loop's lineage. With ``checkpoint_dir``
    unset this is ``localCheckpoint`` — blocks live on executors only,
    so on a real cluster losing ONE executor mid-iteration kills the
    job unrecoverably (no lineage to replay, no replica). Passing a
    reliable directory (HDFS/S3/shared FS) switches to
    ``DataFrame.checkpoint``: blocks are written to storage that
    survives executor loss, the availability property a 100 TB job
    running O(log n) rounds over hundreds of executors actually needs.
    (VERDICT r5 item 4.)
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iters: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list → ``(node,
    component)`` with component = min node id in the component — the
    canonical-representative step that turns near-dup *pairs* into dedup
    *clusters*.

    Min-label propagation: each iteration joins labels across edges and
    keeps the minimum; converges in graph-diameter iterations (near-dup
    clusters are tiny, so 2-4 in practice). Lineage is cut per iteration
    via :func:`_cut_lineage` — without it the plan doubles every pass;
    pass ``checkpoint_dir`` for executor-loss-safe reliable checkpoints.
    At larger diameters swap in large-star/small-star (Kiveris et al.) —
    same join primitives, fewer rounds.
    """
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = _cut_lineage(
        nodes.withColumn("label", F.col("node")), checkpoint_dir
    )

    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym["a"] == labels["node"])
            .groupBy(sym["b"].alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = _cut_lineage(
            labels.join(neighbor_min, labels["node"] == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            ),
            checkpoint_dir,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    normalize: bool = True,
) -> DataFrame:
    """C4-style line-level exact dedup: keep each (normalized) line's
    globally-first occurrence, drop every other copy, reassemble documents
    from their surviving lines in original order.

    "First occurrence" is deterministic: smallest ``(id, line position)``
    across the corpus, via ``row_number`` over the line-hash partition.

    Output: ``id, n_lines, n_lines_kept, text_kept`` (documents whose
    every line was seen earlier elsewhere survive with empty text — the
    caller decides whether to drop them).

    Scale shape: two keyed shuffles, both unavoidable for the semantics —
    one on the 8-byte line hash (carries ``pos`` + the line text for
    reassembly), one back on the doc id. No global window, no driver
    materialization. At 100 TB the hash shuffle is the corpus itself;
    partition count must track input size (AQE handles this), and the
    line-hash keyspace is uniform so no salting is needed.
    """
    line_raw = F.col("__line")
    key = F.lower(F.trim(line_raw)) if normalize else line_raw
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__h", portable_hash60(key))
    w = Window.partitionBy("__h").orderBy(F.col(id_col), F.col("__pos"))
    kept = (
        lines.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("text_kept"),
    )
    base = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), "\n")).alias("n_lines")
    )
    return (
        base.join(reassembled, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
            F.coalesce(F.col("text_kept"), F.lit("")).alias("text_kept"),
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    normalize: bool = True,
) -> DataFrame:
    """Incremental ingest dedup: drop batch documents whose (normalized)
    text already exists in the corpus, then dedup within the batch itself
    (smallest id survives).

    The corpus side is reduced to its 8-byte hash set before the anti-join
    — at 100 TB that is the *index*, not the text, and it is the natural
    thing to persist between ingest batches (a bucketed hash table makes
    repeat ingests shuffle-free on the corpus side). The anti-join
    shuffles batch-size + |corpus hashes|; with a stored index only the
    new batch moves. A Bloom filter over corpus hashes is the documented
    lossy shortcut when even the index is too large to shuffle.
    """

    def _key(c: Column) -> Column:
        return F.lower(F.trim(c)) if normalize else c

    hashed_batch = batch.withColumn("__h", portable_hash60(_key(F.col(text_col))))
    corpus_idx = corpus.select(
        portable_hash60(_key(F.col(text_col))).alias("__h")
    ).distinct()
    fresh = hashed_batch.join(corpus_idx, "__h", "left_anti")
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__h")
    )


def connected_components_star(
    edges: DataFrame,
    src: str,
    dst: str,
    max_rounds: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond") → ``(node, component)`` with component = min node id.

    Why this exists next to :func:`connected_components`: min-label
    propagation needs GRAPH-DIAMETER iterations — a 10^6-node chain needs
    10^6 rounds — while star contraction converges in O(log n) rounds on
    any topology, each round two self-joins over the current edge set.
    That is the difference between "fine for tiny near-dup clusters" and
    "safe on any pair graph a 100 TB corpus can produce" (boilerplate
    text routinely builds long chains through shared shingles).

    Round shape: large-star points every neighbor v > u at u's minimum
    neighborhood label; small-star re-points the ≤-neighborhood; both are
    groupBy-min + join — no driver state beyond a convergence checksum
    (count + sum of edge hashes, one tiny agg per round). Lineage is cut
    per round via :func:`_cut_lineage` (``checkpoint_dir`` → reliable
    checkpoints that survive executor loss). At fixpoint the edge set IS
    the star forest (child → root).
    """
    e = _cut_lineage(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.least(F.col(src), F.col(dst)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        checkpoint_dir,
    )
    all_nodes = _cut_lineage(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct(),
        checkpoint_dir,
    )

    def checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a BIGINT sum of 64-bit hashes overflows
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = checksum(e)
    converged = False
    for _ in range(max_rounds):
        # LARGE-STAR: for each u, m = min(N(u) ∪ {u}); emit (v, m) ∀ v>u
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # SMALL-STAR: edges now point big→small; for each u,
        # m = min(N≤(u) ∪ {u}) = min(v); re-point N≤(u) ∪ {u} at m
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        with_m = e.join(mins, "u")
        e = _cut_lineage(
            with_m.select(F.col("u"), F.col("m").alias("v"))
            .unionByName(
                with_m.select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            checkpoint_dir,
        )
        cur = checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # a non-converged edge set can map a node to MULTIPLE components
        # (duplicate output rows) — that is a wrong answer, not a partial
        # one. O(log n) contraction means max_rounds=25 covers any graph
        # under ~2^25 nodes per component; hitting it signals either a
        # truly enormous component or a bug, and both deserve a raise.
        raise ConvergenceError(
            f"connected_components_star did not reach a fixpoint within "
            f"{max_rounds} rounds; raise max_rounds (rounds needed grow "
            "O(log n) in the largest component size)."
        )
    # fixpoint: e = (child, root); roots + isolated nodes map to themselves
    return (
        all_nodes.join(e, all_nodes["node"] == e["u"], "left")
        .select(
            "node",
            F.coalesce(F.col("v"), F.col("node")).alias("component"),
        )
    )


def triangle_count(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list —
    the cluster-cohesion metric for near-dup pair graphs (a tight dup
    group is triangle-dense; a chain of borderline matches has none, so
    triangle density separates "true cluster" from "transitive drift"
    before collapsing components).

    Shape: canonicalize a<b, then the standard two-join count — wedges
    (a<b<c from a's adjacency) ⋈ closing edge (b,c). Both joins shuffle
    on a vertex key; skew from high-degree vertices is the known cost
    (the classic mitigation, degree-ordered orientation, is exactly the
    a<b<c ordering used here). Returns (node, n_triangles) for every
    vertex in a triangle.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # wedges a<b<c: (a,b) x (a,c) with b<c, closed by edge (b,c)
    ab = e.select(F.col("a"), F.col("b"))
    ac = e.select(F.col("a"), F.col("b").alias("c"))
    wedges = ab.join(ac, "a").filter(F.col("b") < F.col("c"))
    closing = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    per_vertex = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_vertex


def common_neighbor_jaccard(
    edges: DataFrame,
    src: str,
    dst: str,
    min_common: int = 1,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-overlap similarity for vertex pairs of an undirected
    graph: exact Jaccard of adjacency sets, ``|N(u) ∩ N(v)| / |N(u) ∪
    N(v)|``, emitted as an integer ppm (``common·10⁶ div (deg_u + deg_v
    - common)`` on longs — no derived double, the round-3 audit rule).
    On a near-dup pair graph this is the link-prediction signal: two
    documents whose LSH neighbors largely coincide are template siblings
    even when no direct edge between them survived banding.

    Shape: symmetrize + distinct, then the wedge self-join keyed on the
    SHARED NEIGHBOR (`w`) — each candidate pair is produced once per
    common neighbor and partial-aggregated into a count, so the shuffle
    carries wedges, never all-pairs. Degrees come from one groupBy and
    join back per endpoint; AQE broadcasts the degree side when small.
    High-degree hubs dominate wedge fan-out (``Σ d(w)²``) — at 100 TB
    pass ``max_center_degree`` to exclude hub SHARED-NEIGHBORS from
    wedge enumeration (a vertex adjacent to everything is weak overlap
    evidence anyway; this is the degree-cap mitigation, same family as
    triangle counting's orientation trick). With the cap, ``n_common``
    undercounts pairs whose only shared neighbors are hubs — degrees and
    denominators stay exact, so reported similarities are lower bounds.
    Returns ``(id_a, id_b, n_common, deg_a, deg_b, jaccard_ppm)`` with
    ``id_a < id_b``.
    """
    e2 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = e2.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    wedge_src = e2
    if max_center_degree is not None:
        # drop wedges CENTERED on hubs: filter on the center (b side)
        # degree before the self-join — the d² fan-out never materializes
        ok = deg.filter(F.col("d") <= int(max_center_degree)).select(
            F.col("a").alias("b")
        )
        wedge_src = e2.join(ok, "b", "left_semi")
    left = wedge_src.select(F.col("b").alias("w"), F.col("a").alias("id_a"))
    right = wedge_src.select(F.col("b").alias("w"), F.col("a").alias("id_b"))
    common = (
        left.join(right, "w")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return (
        common.join(deg.select(F.col("a").alias("id_a"), F.col("d").alias("deg_a")), "id_a")
        .join(deg.select(F.col("a").alias("id_b"), F.col("d").alias("deg_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.expr(
                "n_common * 1000000L div (deg_a + deg_b - n_common)"
            ).alias("jaccard_ppm"),
        )
    )


# Winnowing (local fingerprint selection, Schleimer/Wilkerson/Aiken
# SIGMOD'03 — the MOSS algorithm). Hash and position are packed into one
# long so the rightmost-min tie-break is plain integer MIN in both
# engines: packed = (h mod 2^40)·2^20 + (2^20-1-pos). Smaller hash wins;
# among equal hashes the larger position (smaller complement) wins.
WINNOW_HASH_MOD = 1 << 40
WINNOW_POS_MOD = 1 << 20


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints: ``(id, fp_hash, fp_pos)`` rows.

    For the sequence of word-``shingle_size``-gram hashes of a document,
    every window of ``window`` consecutive hashes contributes its minimum
    (ties: rightmost occurrence — the original algorithm's choice, which
    makes the selected set depend only on content, not scan direction);
    the distinct selected (hash, position) pairs are the fingerprint set.
    Guarantee: two documents sharing a token run of at least
    ``window + shingle_size - 1`` words share at least one fingerprint
    hash, while only ~``2/(window+1)`` of all shingles are kept.

    Scale shape: entirely per-row array math — tokenize → shingle → hash
    → window-min — inside one map stage; **zero shuffles** (a per-doc
    window function would shuffle the corpus on doc id for no reason).
    The packed-key trick keeps the rightmost-min tie-break in pure
    integer MIN, reproducible in the DuckDB oracle. Positions are bounded
    by 2^20 shingles/doc (≈4 MB of text) — beyond that, split docs
    upstream (the chunking operator). The bound is ENFORCED: a document
    with more than 2^20 shingles makes the packed position complement
    negative, silently corrupting which shingle wins each window min, so
    the kernel raises at runtime (the failure names the offending doc
    id) instead of emitting wrong fingerprints.

    Reference has no near-dup surface at all (full-scan client,
    src/agol_pandas.py:246); this extends §2b ★ dedup.

    r11: the tokenize → shingle → md5 → packed window-min selection runs
    in ONE Arrow pandas UDF (guide §4.2) returning the distinct packed
    minima per doc; only the tiny explode + integer decode stay in SQL.
    Pinned row-identical to the ``dedup_winnow_fingerprints`` DuckDB
    oracle by
    ``tests/test_dedup.py::test_arrow_winnow_bit_identical``.
    """
    w = int(window)
    if w < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    packed_mins = _winnow_packed_arrow(
        shingle_size, w, WINNOW_HASH_MOD, WINNOW_POS_MOD
    )
    fps = df.select(
        F.col(id_col),
        F.explode(
            packed_mins(F.col(id_col).cast("string"), F.col(text_col))
        ).alias("__p"),
    )
    return fps.select(
        F.col(id_col),
        F.expr(f"__p DIV {WINNOW_POS_MOD}").alias("fp_hash"),
        (F.lit(WINNOW_POS_MOD - 1) - F.col("__p") % WINNOW_POS_MOD)
        .cast("int")
        .alias("fp_pos"),
    )


@lru_cache(maxsize=16)
def _winnow_packed_arrow(
    shingle_size: int, window: int, hash_mod: int, pos_mod: int
):
    """Arrow winnowing kernel factory: (id, text) → distinct packed
    window minima ``(h % hash_mod) * pos_mod + (pos_mod-1-i)``. The id
    rides along only so the > ``pos_mod`` shingle-envelope violation can
    fail the job NAMING the doc. Parameters are baked into the closure
    (workers re-import the module, so the monkeypatchable module
    constants are read by the CALLER and passed in). NULL text → empty
    array → the explode above emits no rows, exactly like the oracle's
    NULL propagation."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from agol_pandas_spark.functions.text import (
        py_shingle_hash60s,
        py_tokens,
    )

    @pandas_udf(T.ArrayType(T.LongType()))
    def _mins(ids: pd.Series, texts: pd.Series) -> pd.Series:
        out: list = []
        for doc_id, tx in zip(ids, texts):
            if tx is None:
                out.append([])
                continue
            hs = py_shingle_hash60s(py_tokens(tx), shingle_size)
            n = len(hs)
            if n == 0:
                out.append([])
                continue
            if n > pos_mod:
                raise ValueError(
                    f"winnow_fingerprints: document {doc_id} has more "
                    f"than {pos_mod} shingles — split it upstream "
                    "(operators/chunking.py) before fingerprinting"
                )
            packed = np.asarray(hs, dtype=np.int64) % hash_mod
            packed = packed * pos_mod + (
                pos_mod - 1 - np.arange(n, dtype=np.int64)
            )
            if n < window:
                mins = packed.min(keepdims=True)
            else:
                mins = np.lib.stride_tricks.sliding_window_view(
                    packed, window
                ).min(axis=1)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    return _mins.asNondeterministic()


def winnow_shared_pairs(
    fingerprints: DataFrame,
    id_col: str,
    min_shared: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs from winnowing fingerprints:
    ``(id_a < id_b, n_shared)`` for pairs sharing ``>= min_shared``
    distinct fingerprint hashes.

    Shuffle profile mirrors LSH banding: distinct (id, hash) → equi-join
    on the hash → per-pair count. No all-pairs comparison ever happens;
    the join key is the fingerprint hash, so cost is Σ bucket². A
    boilerplate fingerprint shared by millions of docs is the hot-bucket
    failure mode — ``max_bucket_size`` drops such buckets before the
    self-join (one windowed count; a dropped ubiquitous fingerprint is
    boilerplate, not signal — same trade as :func:`lsh_candidate_pairs`).
    ``None`` keeps exact semantics for the oracle-checked query.

    The distinct (id, hash) table is persisted: both join sides read it,
    and without the cache each side re-runs the upstream winnowing map
    (tokenize→shingle→md5) over the full corpus. Callers own the cache
    (see ``similarity.py`` module docstring).
    """
    hashes = (
        fingerprints.select(F.col(id_col), "fp_hash")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if max_bucket_size is not None:
        wb = Window.partitionBy("fp_hash")
        hashes = (
            hashes.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    left = hashes.select(F.col(id_col).alias("id_a"), "fp_hash")
    right = hashes.select(F.col(id_col).alias("id_b"), "fp_hash")
    return (
        left.join(right, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: tuple[int, int] = (1, 2),
) -> DataFrame:
    """Exact UNBLOCKED Jaccard similarity join via prefix filtering
    (PPJoin family, Xiao et al. WWW'08): every pair with
    ``J(A,B) >= p/q`` over distinct word shingles, with no blocking
    columns and no all-pairs comparison.

    Prefix-filter lemma: order each doc's shingle hashes by a global
    total order (ascending corpus frequency, rarest first — ties by
    hash); if ``J >= t`` then ``|A∩B| >= ceil(t·|A|)`` and
    ``>= ceil(t·|B|)``, so the PREFIXES of length
    ``|x| - ceil(t·|x|) + 1`` must share at least one hash. Candidates =
    prefix self-join on the hash; each candidate then gets its exact
    intersection counted and the threshold checked by integer
    cross-multiplication ``q·∩ >= p·(|A|+|B|-∩)`` — complete AND exact,
    no recall hand-wave, no doubles.

    Scale shape: the prefix join touches ~``(1-t)`` of each doc's rarest
    shingles — rare hashes have tiny buckets, which is exactly why the
    frequency order is the right one (the hot boilerplate shingles land
    in the suffix and never generate candidates). Verification joins are
    candidate-driven: cost is Σ|A| over candidates, not over pairs. The
    exploded (id, hash) table feeds four consumers and is persisted
    (callers own the cache). ``threshold`` is a rational ``(p, q)`` so
    the gate is integer-exact.
    """
    p, q = threshold
    if not (0 < p <= q):
        raise ValueError(f"threshold must be a rational in (0, 1], got {p}/{q}")
    sets = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(
            F.transform(
                word_shingles(tokens(F.col(text_col)), shingle_size),
                lambda s: portable_hash60(s),
            )
        ).alias("__hs"),
    )
    expl = sets.select(
        "__id", F.size("__hs").alias("__n"), F.explode("__hs").alias("__h")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    freq = expl.groupBy("__h").agg(F.count(F.lit(1)).alias("__f"))
    w = Window.partitionBy("__id").orderBy("__f", "__h")
    ranked = expl.join(freq, "__h").withColumn("__rn", F.row_number().over(w))
    # prefix length n - ceil(p*n/q) + 1, all-integer
    prefix = ranked.filter(
        F.col("__rn")
        <= F.col("__n") - F.expr(f"({p} * __n + {q} - 1) div {q}") + 1
    )
    cand = (
        prefix.select(F.col("__id").alias("id_a"), "__h")
        .join(prefix.select(F.col("__id").alias("id_b"), "__h"), "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = expl.select(F.col("__id").alias("id_a"), F.col("__h").alias("__ha"))
    eb = expl.select(F.col("__id").alias("__idb"), F.col("__h").alias("__hb"))
    inter = (
        cand.join(ea, "id_a")
        .join(
            eb,
            (F.col("id_b") == F.col("__idb")) & (F.col("__ha") == F.col("__hb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = expl.select(F.col("__id").alias("id_a"), F.col("__n").alias("n_a")).distinct()
    nb = expl.select(F.col("__id").alias("id_b"), F.col("__n").alias("n_b")).distinct()
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(q * F.col("n_inter") >= p * (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_a",
            "n_b",
            F.expr("n_inter * 1000000 div (n_a + n_b - n_inter)").alias(
                "jaccard_ppm"
            ),
        )
    )


def pagerank_scaled(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int = 2,
    scale: int = 10**12,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank over an undirected graph in exact scaled-integer
    arithmetic: damping 17/20, ranks carried as ``scale``-scaled longs,
    every division a truncated integer division — so a fixed iteration
    count is bit-reproducible across engines (float PageRank never is).
    On a near-dup pair graph, high-rank nodes are template hubs —
    boilerplate shared by many documents — which is exactly what a
    curation pipeline wants surfaced.

    Shape per iteration: one join of the edge list with the rank table
    (shuffle on the source key) and one aggregation on the destination —
    the standard Pregel-free formulation. Symmetrized edges mean no
    dangling nodes; ``iterations`` is a fixed unroll (each iteration is
    one more join-agg round — at 100 TB you bound rounds, not
    convergence ulps). The rank table's lineage is cut per round via
    :func:`_cut_lineage` (``checkpoint_dir`` → reliable checkpoints),
    same as the connected-components loops: without lineage truncation a
    deep unroll compounds the plan each iteration.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    base = (3 * scale) // 20
    ranks = deg.select(F.col("a").alias("node"), F.lit(scale).alias("r"))
    for _ in range(iterations):
        contrib = (
            e.join(deg, "a")
            .join(ranks, e["a"] == ranks["node"])
            .select("b", F.expr("r div d").alias("c"))
        )
        ranks = _cut_lineage(
            contrib.groupBy("b")
            .agg(F.expr(f"{base} + (17 * sum(c)) div 20").alias("r"))
            .select(F.col("b").alias("node"), "r"),
            checkpoint_dir,
        )
    return ranks.select("node", F.col("r").alias("rank_scaled"))


def cross_source_dup_matrix(
    df: DataFrame, source_col: str, key: Column
) -> DataFrame:
    """Pairwise cross-source duplication matrix: for every ordered
    source pair (a, b), how many of a's documents carry a dedup key that
    also occurs in b (``n_dup_docs``) and over how many distinct shared
    keys (``n_shared_keys``). This is the source-precedence diagnostic
    run before a multi-crawl merge — it tells you which source to keep
    as the survivor authority and how much of each crawl is recycled
    from another.

    Shape: one groupBy collapses the corpus to (key, source, n_docs) —
    at 100 TB that table is the dedup index, orders of magnitude smaller
    than the text — then a self equi-join ON THE KEY (never source ×
    source × corpus) and a partial-aggregated groupBy on the source
    pair. Hot boilerplate keys fan out quadratically in the number of
    SOURCES sharing them (bounded by the source count, not the corpus);
    cap or drop top keys first if the source list is huge.
    """
    cnt = df.select(
        key.alias("__k"), F.col(source_col).alias("__src")
    ).groupBy("__k", "__src").agg(F.count(F.lit(1)).alias("n_docs"))
    other = cnt.select(
        F.col("__k"), F.col("__src").alias("other_source")
    )
    return (
        cnt.join(other, "__k")
        .filter(F.col("__src") != F.col("other_source"))
        .groupBy("__src", "other_source")
        .agg(
            F.sum("n_docs").alias("n_dup_docs"),
            F.count(F.lit(1)).alias("n_shared_keys"),
        )
        .withColumnRenamed("__src", source_col)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    shingle_size: int = 3,
    min_containment_ppm: int = 0,
) -> DataFrame:
    """Asymmetric containment for doc pairs within blocks: ``C(a ⊂ b) =
    |A∩B| / |A|`` over distinct word shingles, as an exact integer ppm.
    Containment catches the duplication Jaccard misses at scale — a
    short document quoted wholesale inside a long one has near-zero
    Jaccard (the union is huge) but containment ≈ 1; it is the right
    signal for quote-expansion, boilerplate-wrapping, and
    subset-crawl detection.

    Shape: identical shuffle profile to :func:`ngram_jaccard_pairs`
    (explode → self-join on (block, shingle) → count), but BOTH
    directions are emitted per unordered pair — ``(a, b)`` with
    ``containment_ppm = n_inter·10⁶ div n_a`` — because containment is
    directional. Pairs sharing zero shingles never appear.
    """
    sh = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.array_distinct(
            word_shingles(tokens(F.col(text_col)), shingle_size)
        ).alias("__sh"),
    )
    sizes = sh.select(F.col(id_col), F.size("__sh").alias("__n"))
    expl = sh.select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.explode("__sh").alias("__s")
    )
    a = expl.select(
        F.col(id_col).alias("id_a"), *[F.col(c) for c in block_cols], F.col("__s")
    )
    b = expl.select(
        F.col(id_col).alias("id_b"), *[F.col(c) for c in block_cols], F.col("__s")
    )
    inter = (
        a.join(b, on=[*block_cols, "__s"])
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_a",
            "n_b",
            F.expr("n_inter * 1000000L div n_a").alias("containment_ppm"),
        )
        .filter(F.col("containment_ppm") >= int(min_containment_ppm))
    )


@lru_cache(maxsize=16)
def _gram_hash60s_arrow(k: int):
    """Arrow gram-hash kernel factory: text → array of 60-bit md5 hashes
    of its word ``k``-grams, position-ordered (index i = gram starting at
    token i). Same values as ``transform(word_shingles(tokens(text), k),
    portable_hash60)`` — NULL text returns NULL (the posexplode consumer
    drops the row, exactly like the oracle's NULL propagation);
    empty/short docs return an empty array. Pinned bit-identical to the
    ``_SQL_GRAMS5`` DuckDB oracle fragment by
    ``tests/test_dedup.py::test_arrow_gram_hashes_bit_identical``."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from agol_pandas_spark.functions.text import (
        py_shingle_hash60s,
        py_tokens,
    )

    @pandas_udf(T.ArrayType(T.LongType()))
    def _grams(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if tx is None
                else py_shingle_hash60s(py_tokens(tx), k)
                for tx in texts
            ]
        )

    return _grams


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans at word granularity — the
    ExactSubstr dedup core of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2022), re-expressed relationally.

    A word ``k``-gram whose portable hash occurs ``>= min_count`` times in
    the whole corpus marks its ``k`` token positions as duplicated. Per
    document, duplicated gram start positions merge into maximal
    contiguous spans (gaps-and-islands over a per-document window), and
    the result reports one row per document:

    ``(id, n_tokens, n_dup_grams, dup_spans, dup_tokens, dup_ppm)``

    where ``dup_tokens`` is the union length of all duplicated spans and
    ``dup_ppm = dup_tokens * 1e6 div n_tokens`` (0 for empty docs).
    Documents with no duplicated grams appear with zeros, so the output is
    a total per-document census, joinable as a quality signal.

    Scale shape (the paper's suffix array does not distribute; this does):

    1. ONE map stage builds ``(doc, pos, gram_hash)`` via tokenize →
       shingle → md5 inside codegen (``posexplode`` is the Generate
       barrier, so hashing runs once per row).
    2. ONE shuffle on ``gram_hash`` counts corpus-wide occurrences;
       map-side partial aggregation collapses each partition's repeats
       before the exchange. Grams kept only when ``count >= min_count`` —
       the dup set is tiny relative to the corpus.
    3. The dup set equi-joins back on the hash — never all-pairs.
    4. Span merging is a window partitioned BY DOCUMENT over duplicated
       grams only (bounded per-group state; no global window).

    Reference parity: the reference (src/agol_pandas.py:246) has no dedup
    surface at all; this extends SURVEY §2b ★ dedup.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toks = tokens(F.col(text_col))
    # r11: gram hashing runs in one Arrow pandas UDF (guide §4.2) —
    # hashlib md5 per k-gram replaces the interpreted HOF chain; pinned
    # bit-identical to the DuckDB oracle's gram hashes by
    # tests/test_dedup.py::test_arrow_gram_hashes_bit_identical.
    grams = _gram_hash60s_arrow(k)(F.col(text_col))
    # the per-doc census base is a PURE MAP over the corpus — carrying
    # n_tokens through the exploded gram table and re-aggregating it back
    # (the first cut of this operator) paid a full gram-table shuffle for
    # information the un-exploded row already has
    base = df.select(F.col(id_col), F.size(toks).alias("n_tokens"))
    # zero-gram docs (empty array / NULL text) live on in `base`.
    # NOT spread (unlike the LSH/winnow kernels): the A/B at sf0.1
    # measured the extra round-robin exchange costing more than the
    # single-task gram kernel saves — the census tail (hash agg + join +
    # per-doc window) dominates this operator, not the map
    occ = df.select(
        F.col(id_col),
        F.posexplode(grams).alias("__p0", "__h"),
    ).select(
        F.col(id_col),
        (F.col("__p0") + F.lit(1)).alias("pos"),  # 1-based like the oracle
        "__h",
    )
    # two downstream jobs read occ (dup-hash count, join-back); without the
    # cache each re-runs tokenize→shingle→md5 over the full corpus. Bounded
    # FIFO persist (ranks.py, ADVICE r5) — the caller's job is lazy so an
    # eager unpersist here would drop the cache before it is ever hit.
    occ = _persist_bounded(occ)
    dup_hashes = (
        occ.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n_occ"))
        .filter(F.col("__n_occ") >= int(min_count))
        .select("__h")
    )
    dup_occ = occ.join(dup_hashes, "__h").select(id_col, "pos")
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_end = (
        F.max("pos").over(wd.rowsBetween(Window.unboundedPreceding, -1))
        + F.lit(k - 1)
    )
    islands = dup_occ.withColumn(
        "__new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn("__isl", F.sum("__new").over(wd))
    per_doc = (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.count(F.lit(1)).alias("__grams"),
            (F.max("pos") + F.lit(k - 1) - F.min("pos") + F.lit(1)).alias("__span"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__grams").cast("int").alias("n_dup_grams"),
            F.count(F.lit(1)).cast("int").alias("dup_spans"),
            F.sum("__span").cast("int").alias("dup_tokens"),
        )
    )
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.coalesce("n_dup_grams", F.lit(0)).cast("int").alias("n_dup_grams"),
        F.coalesce("dup_spans", F.lit(0)).cast("int").alias("dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("int").alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr("coalesce(dup_tokens, 0) * 1000000L div n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_ppm"),
    )


def substring_dup_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr REMOVAL (the actionable half of Lee et al. 2022):
    duplicated word-``k``-gram runs are deleted from every document
    except the one owning the gram's globally-first occurrence
    (owner = min ``(id, pos)`` per gram hash — one copy of every
    duplicated passage survives the corpus).

    Output per document: ``(id, n_tokens, n_removed, cleaned_hash)``
    where ``cleaned_hash`` is the portable 60-bit hash of the kept
    tokens re-joined with single spaces — the cleaned text itself,
    value-checkable without shipping it.

    Scale shape: the census machinery of :func:`substring_dup_spans`
    plus (1) a per-hash owner aggregation (``min_by`` over the packed
    (id, pos) — one shuffle of the dup occurrences only), (2) per-doc
    removal intervals collected as a bounded array (spans per doc are
    bounded by the doc's own gram count), and (3) one codegen map that
    filters each doc's token array by interval membership and re-hashes.
    The corpus text is never shuffled.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toks = tokens(F.col(text_col))
    # same Arrow gram-hash kernel as substring_dup_spans (r11)
    grams = _gram_hash60s_arrow(k)(F.col(text_col))
    occ = df.select(
        F.col(id_col),
        F.posexplode(grams).alias("__p0", "__h"),
    ).select(F.col(id_col), (F.col("__p0") + F.lit(1)).alias("pos"), "__h")
    occ = _persist_bounded(occ)
    dup_occ = (
        occ.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__n_occ"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__owner"),
        )
        .filter(F.col("__n_occ") >= int(min_count))
        .join(occ, "__h")
        .filter(
            (F.col(id_col) != F.col(f"__owner.{id_col}"))
            | (F.col("pos") != F.col("__owner.pos"))
        )
        .select(id_col, "pos")
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_end = (
        F.max("pos").over(wd.rowsBetween(Window.unboundedPreceding, -1))
        + F.lit(k - 1)
    )
    islands = dup_occ.withColumn(
        "__new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn("__isl", F.sum("__new").over(wd))
    spans = (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("__s"),
            (F.max("pos") + F.lit(k - 1)).alias("__e"),
        )
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct(F.col("__s"), F.col("__e"))).alias("__spans")
        )
    )
    base = df.select(F.col(id_col), toks.alias("__toks"))
    joined = base.join(spans, id_col, "left").withColumn(
        "__spans",
        F.coalesce(
            "__spans", F.array().cast("array<struct<__s:long,__e:long>>")
        ),
    )
    kept = F.filter(
        F.col("__toks"),
        lambda x, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i + 1 >= s["__s"]) & (i + 1 <= s["__e"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("__toks").cast("int").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("int").alias("n_removed"),
        portable_hash60(F.array_join(kept, " ")).alias("cleaned_hash"),
    )


def kcore(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int = 2,
    max_rounds: int = 6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes of degree < k (and their edges) until stable. The surviving
    subgraph — every node keeping ≥ k neighbors *within* the core — is
    the cohesive heart of a near-dup graph: boilerplate/template
    families dense enough that spot-fixing single pairs won't dissolve
    them, the clusters a curation pass should handle wholesale.

    Returns ``(node, core_degree)`` over the k-core, degrees measured
    inside the core. Each round is one degree aggregation plus two
    semi-joins on the survivor set, lineage cut per round
    (``_cut_lineage``; pass ``checkpoint_dir`` for executor-loss-safe
    reliable checkpoints). Peeling removes at least one node per
    non-final round, but in practice collapses geometrically — the
    driver checks one edge-count scalar per round and raises
    :class:`ConvergenceError` if ``max_rounds`` passes still shrink,
    so a truncated (wrong) core can never be returned silently.
    """
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    e = _cut_lineage(sym, checkpoint_dir)
    n_edges = e.count()
    for _ in range(max_rounds):
        keep = (
            e.groupBy("a")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") >= k)
            .select("a")
        )
        e_next = _cut_lineage(
            e.join(keep, "a", "left_semi").join(
                keep.select(F.col("a").alias("b")), "b", "left_semi"
            ),
            checkpoint_dir,
        )
        n_next = e_next.count()
        e = e_next
        if n_next == n_edges:
            break
        n_edges = n_next
    else:
        raise ConvergenceError(
            f"k-core peeling still shrinking after {max_rounds} rounds"
        )
    return e.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )


def resource_allocation_links(
    edges: DataFrame,
    src: str,
    dst: str,
    min_common: int = 2,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou/Lü/Zhang 2009) on an
    undirected graph: ``RA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w)`` — common
    neighbors weighted DOWN by their promiscuity, the refinement that
    beats raw common-neighbor counts and Jaccard on template graphs: a
    shared neighbor adjacent to half the corpus says almost nothing,
    one adjacent to three documents says a lot.

    Exactness: each wedge contributes ``10¹² div deg(w)`` on BIGINTs —
    truncating integer division both engines evaluate identically — and
    the pair score is the exact integer sum of those (micro-units ×10⁶,
    i.e. pico-units ×10¹²). No float ever forms.

    Shape mirrors :func:`common_neighbor_jaccard`: symmetrize+distinct,
    one degree aggregation joined onto the wedge CENTER before the
    self-join (so every wedge carries its weight into the partial agg),
    wedge equi-join on the shared neighbor — shuffle carries wedges,
    never all-pairs. ``max_center_degree`` is the same hub-cap
    mitigation: at 100 TB hubs dominate Σd(w)² fan-out, and a capped
    run reports exact lower bounds.

    Returns ``(id_a, id_b, n_common, ra_pico)`` with ``id_a < id_b``.
    """
    e2 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = e2.groupBy(F.col("a").alias("w")).agg(F.count(F.lit(1)).alias("d"))
    wedge_src = e2
    if max_center_degree is not None:
        ok = deg.filter(F.col("d") <= int(max_center_degree)).select(
            F.col("w").alias("b")
        )
        wedge_src = e2.join(ok, "b", "left_semi")
    # weight rides the center BEFORE the self-join: one broadcastable
    # degree join instead of two post-hoc lookups per pair
    weighted = wedge_src.join(
        deg, wedge_src.b == deg.w
    ).select(
        F.col("w"),
        F.col("a"),
        F.expr("1000000000000 div d").alias("wt"),
    )
    left = weighted.select("w", F.col("a").alias("id_a"), "wt")
    right = weighted.select(F.col("w").alias("w2"), F.col("a").alias("id_b"))
    return (
        left.join(right, left.w == right.w2)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("wt").cast("long").alias("ra_pico"),
        )
        .filter(F.col("n_common") >= min_common)
    )


def hits_scaled(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int = 2,
    scale: int = 10**6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """HITS (Kleinberg 1999) hubs & authorities over a DIRECTED graph
    in exact scaled-integer arithmetic: authority = Σ hub over
    in-edges, hub = Σ authority over out-edges, each half-step
    renormalized by the current MAX (one 1-row aggregate, broadcast
    back) via truncating integer division — the bit-reproducible
    stand-in for the float L2 normalization, same family as
    :func:`pagerank_scaled`'s damped integer ranks.

    Per half-step: one shuffle join of the edge list with the score
    table plus one aggregation — no normalization pass ever touches
    the edges again, and only the single max integer crosses the
    driver. Lineage is cut per iteration (``checkpoint_dir`` →
    executor-loss-safe reliable checkpoints). Returns one row per
    node and side: ``(node, role['hub'|'auth'], score_scaled)``;
    source-side nodes carry hub scores, destination-side authority
    scores (a node appearing on both sides gets both rows).
    """
    if iterations < 1:
        raise ValueError(
            f"hits_scaled needs iterations >= 1, got {iterations}"
        )
    e = _cut_lineage(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct(),
        checkpoint_dir,
    )
    hub = e.select("a").distinct().select(
        F.col("a").alias("node"), F.lit(int(scale)).alias("s")
    )
    auth = None
    for _ in range(iterations):
        araw = (
            e.join(hub, e.a == hub.node)
            .groupBy("b")
            .agg(F.sum("s").alias("raw"))
        )
        amax = araw.agg(F.max("raw").alias("mx"))
        auth = _cut_lineage(
            araw.join(F.broadcast(amax)).select(
                F.col("b").alias("node"),
                F.expr(f"(raw * {int(scale)}) div mx").alias("s"),
            ),
            checkpoint_dir,
        )
        hraw = (
            e.join(auth, e.b == auth.node)
            .groupBy("a")
            .agg(F.sum("s").alias("raw"))
        )
        hmax = hraw.agg(F.max("raw").alias("mx"))
        hub = _cut_lineage(
            hraw.join(F.broadcast(hmax)).select(
                F.col("a").alias("node"),
                F.expr(f"(raw * {int(scale)}) div mx").alias("s"),
            ),
            checkpoint_dir,
        )
    return hub.select(
        "node", F.lit("hub").alias("role"), F.col("s").alias("score_scaled")
    ).unionByName(
        auth.select(
            "node", F.lit("auth").alias("role"), F.col("s").alias("score_scaled")
        )
    )


def append_lsh_index(
    catalog,
    name: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
) -> str:
    """Append an admitted batch's banded signatures to a persisted LSH
    index — the maintenance half of incremental dedup: without it the
    index only knows the original corpus and every later batch silently
    stops deduping against earlier batches. The batch is hashed with
    the index's OWN stored parameters (``_resolve_lsh_params`` — a
    layout drift would corrupt recall, so there is no way to pass
    different ones here), banded identically, and appended through the
    ordinary merge path: the index tracks the corpus without ever
    being rebuilt. At 100 TB this is the difference between per-batch
    index maintenance costing O(batch) and O(corpus). The append
    re-commits the parameters with its snapshot (snapshot props are
    replaced wholesale by each commit).
    """
    from agol_pandas_spark.operators.merge import WriteMode, write_table

    shingle_size, num_hashes, band_size = _resolve_lsh_params(
        catalog, name, None, None, None
    )
    sig = minhash_signatures(batch, id_col, text_col, shingle_size, num_hashes)
    banded = banded_signatures(sig, id_col, num_hashes, band_size)
    return write_table(
        catalog, banded, name, mode=WriteMode.APPEND,
        snapshot_props=_lsh_props(shingle_size, num_hashes, band_size),
    )
