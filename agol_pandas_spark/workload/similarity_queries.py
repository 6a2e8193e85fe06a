"""Oracle-checked queries for similarity search (``operators/similarity.py``)
over the ``embeddings`` table.

Cosine determinism: per-element products quantize to integers of 10^-9
units (identical IEEE doubles → identical ties-away rounding in both
engines), sum exactly as BIGINT, and divide back once — so Spark and
DuckDB produce bit-identical cosine scores and the oracles check *scores
and ranks*, not just row counts (see ``operators/similarity.py``). The
DuckDB side zips parallel ``unnest`` columns positionally (its documented
behavior) to reproduce ``zip_with``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.operators import similarity
from agol_pandas_spark.workload import register

# DuckDB exact-cosine building blocks (scaled-integer accumulation)
_SQL_NORMS = """
    norms AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                      * 1000000000) AS BIGINT)) AS DOUBLE)
                  / 1000000000.0) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      GROUP BY vec_id)
"""


def _sql_pair_cosine(pairs_cte: str) -> str:
    """SQL: exact cosine for (qid, cid) pairs produced by ``pairs_cte``."""
    return f"""
    WITH {pairs_cte},
    {_SQL_NORMS},
    dots AS (
      SELECT p.qid, p.cid,
             SUM(CAST(round(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE)
                            * 1000000000) AS BIGINT)) AS dot_scaled
      FROM (SELECT qid, cid, unnest(qv) AS qx, unnest(cv) AS cx FROM pairs) p
      GROUP BY p.qid, p.cid),
    cosines AS (
      SELECT d.qid, d.cid,
             (CAST(d.dot_scaled AS DOUBLE) / 1000000000.0)
               / (nq.nrm * nc.nrm) AS cosine
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nc ON nc.vec_id = d.cid)
    """


@register(
    "sim_brute_force_topk",
    headline=True,
    tags=("similarity", "topk"),
    oracle=_sql_pair_cosine(
        """
    pairs AS (
      SELECT q.vec_id AS qid, q.embedding AS qv, c.vec_id AS cid, c.embedding AS cv
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 5)
    """
    )
    + """
    SELECT qid AS query_id, cid AS vec_id, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
      FROM cosines)
    WHERE rnk <= 10
    """,
)
def sim_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 probe vectors against the full corpus."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(
        queries, emb, query_id="query_id", corpus_id="vec_id", k=10
    )


@register(
    "sim_neardup_pairs",
    tags=("similarity", "dedup"),
    oracle=_sql_pair_cosine(
        """
    pairs AS (
      SELECT a.vec_id AS qid, a.embedding AS qv, b.vec_id AS cid, b.embedding AS cv
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE a.vec_id % 20 = 0)
    """
    )
    + """
    SELECT qid AS id_a, cid AS id_b, cosine
    FROM cosines WHERE cosine >= 0.30
    """,
)
def sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by ground-truth label,
    probing from every 20th vector. Threshold 0.30 sits below the corpus's
    max within-label cosine (~0.41) so the check exercises real pairs."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    return similarity.embedding_neardup_pairs(
        emb,
        corpus_id="vec_id",
        block_col="label",
        threshold=0.30,
        probe_filter=(F.col("id_a") % 20 == 0),
    )


# exact cosine of every vector to every pivot (every 50th vector)
_PIVOT50_COSINES = _sql_pair_cosine(
    """
    pairs AS (
      SELECT c.vec_id AS qid, c.embedding AS qv, p.vec_id AS cid, p.embedding AS cv
      FROM embeddings c JOIN embeddings p ON p.vec_id % 50 = 0)
    """
)


@register(
    "sim_ivf_cell_sizes",
    tags=("similarity", "ann"),
    oracle=_PIVOT50_COSINES
    + """
    , assigned AS (
      SELECT qid AS vec_id, cid AS cell,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
      FROM cosines)
    SELECT cell, COUNT(*) AS n_vectors
    FROM assigned WHERE rn = 1 GROUP BY cell ORDER BY cell
    """,
)
def sim_ivf_cell_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build step verification: nearest-pivot assignment (pivots =
    every 50th vector), checked via per-cell population counts."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    pivots = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    assigned = similarity.assign_to_pivots(
        emb, pivots, corpus_id="vec_id", pivot_id="pivot_id"
    )
    return (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cell")
    )


# ANN probe: raw recall-vs-exact is data-dependent, so the CHECKED surface
# is a per-query bounded-recall boolean — the engine computes ANN top-10
# AND the brute-force exact top-10, intersects them, and asserts
# recall@10 >= 0.3 (measured min 0.4 at sf0.1/nprobe=16; 1.0 at sf0.01 —
# deterministic per SF, fixed pivots and tie-breaks, so the boolean is
# hash-stable). The oracle only re-lists the probe ids: the heavy lifting
# stays in the engine, the driver checks the contract held.
@register(
    "sim_ivf_topk_ann",
    tags=("similarity", "ann"),
    oracle="""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
)
def sim_ivf_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).table("embeddings")
    pivots = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = similarity.ivf_topk(
        queries,
        emb,
        pivots,
        query_id="query_id",
        corpus_id="vec_id",
        pivot_id="pivot_id",
        k=10,
        nprobe=16,
    )
    exact = similarity.brute_force_topk(
        queries, emb, query_id="query_id", corpus_id="vec_id", k=10
    )
    hits = (
        ann.select("query_id", "vec_id")
        .join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 3).alias("recall_ok"),
        )
    )


# -- signed-random-projection LSH: deterministic integer hyperplanes shared
# verbatim between the Spark builder and the SQL oracle ---------------------
RP_DIM = 64
RP_N_PLANES = 6  # 64 buckets: ~8 vecs/bucket at sf0.01, ~78 at sf0.1


def _plane_val(k: int, i: int) -> int:
    import hashlib

    h = int(hashlib.md5(f"rp_{k}_{i}".encode()).hexdigest()[:8], 16)
    return (h % 7) - 3


RP_PLANES = [[_plane_val(k, i) for i in range(RP_DIM)] for k in range(RP_N_PLANES)]

_SQL_PLANE_ROWS = ", ".join(
    f"({k}, {i + 1}, {p})"
    for k, row in enumerate(RP_PLANES)
    for i, p in enumerate(row)
    if p != 0  # zero components contribute round(x*0*scale) = 0 exactly
)
_SQL_BIT_ROWS = ", ".join(f"({k}, {2**k})" for k in range(RP_N_PLANES))

_SQL_RP_SIG = f"""
    planes(k, i, p) AS (VALUES {_SQL_PLANE_ROWS}),
    comp AS (
      SELECT vec_id, t.i, CAST(embedding[t.i] AS DOUBLE) AS x
      FROM embeddings, range(1, {RP_DIM + 1}) t(i)),
    pdots AS (
      SELECT vec_id, k,
             SUM(CAST(round((x * p) * 1000000000.0) AS BIGINT)) AS d
      FROM comp JOIN planes USING (i) GROUP BY vec_id, k),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN d > 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
      FROM pdots JOIN (VALUES {_SQL_BIT_ROWS}) b(k, pw) USING (k)
      GROUP BY vec_id)
"""


@register(
    "sim_rp_lsh_buckets",
    tags=("similarity", "lsh", "ann"),
    oracle=f"""
    WITH {_SQL_RP_SIG}
    SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS representative
    FROM sig GROUP BY bucket
    """,
)
def sim_rp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RP-LSH build step: bucket populations. Bucket assignment is exact
    (scaled-int dot signs), so the oracle value-checks the whole index."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    sig = emb.select(
        "vec_id",
        similarity.rp_signature_col(F.col("embedding"), RP_PLANES).alias("bucket"),
    )
    return sig.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("representative"),
    )


@register(
    "sim_rp_lsh_topk_ann",
    headline=True,
    tags=("similarity", "lsh", "ann", "topk"),
    oracle=_sql_pair_cosine(
        _SQL_RP_SIG
        + """,
    pairs AS (
      SELECT a.vec_id AS qid, ea.embedding AS qv,
             b.vec_id AS cid, eb.embedding AS cv
      FROM sig a
      JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE a.vec_id % 50 = 0)
    """
    )
    + """
    SELECT qid AS query_id, cid AS vec_id, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
      FROM cosines)
    WHERE rnk <= 5
    """,
)
def sim_rp_lsh_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5 (probes = every 50th vector): unlike IVF,
    bucket membership is exact, so even this *approximate* search is fully
    value-hash-checked — approximation lives in recall, not in values."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    return similarity.rp_lsh_topk(
        emb,
        RP_PLANES,
        corpus_id="vec_id",
        probe_filter=(F.col("vec_id") % 50 == 0),
        k=5,
    )


# Lloyd's k-means IS SQL-expressible for a fixed iteration count: the
# oracle below unrolls both iterations with the engine's exact arithmetic
# (seeds = top-8 by portable md5 hash; per-element scaled-int squared
# distances round((x-c)*(x-c)*1e9)::BIGINT summed exactly; argmin =
# lowest cluster index among minima; centroid update =
# (SUM(round(x*1e9))::DOUBLE/1e9)/n — every step correctly-rounded IEEE
# in both engines, so assignments match value-for-value.
_KM_SEEDS = """
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY CAST(('0x' || substring(
                 md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT)) - 1 AS cluster,
             embedding AS cvec
      FROM embeddings
      ORDER BY CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT)
      LIMIT 8)
"""


def _km_assign(centroids_cte: str, out: str) -> str:
    """SQL: assign every vector to its nearest centroid from
    ``centroids_cte`` (cluster, cvec) with the engine's exact math."""
    return f"""
    {out}_d AS (
      SELECT e.vec_id, c.cluster,
             CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(round((CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                                 * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
                                 * 1000000000.0) AS BIGINT))) AS BIGINT) AS d
      FROM embeddings e CROSS JOIN {centroids_cte} c),
    {out} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
        FROM {out}_d) WHERE rn = 1)
"""


_KM_UPDATE = """
    upd_pos AS (
      SELECT a.cluster, t.pos, t.x FROM assign1 a
      JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings) t USING (vec_id)),
    upd AS (
      SELECT cluster, pos,
             (CAST(SUM(CAST(round(x * 1000000000.0) AS BIGINT)) AS DOUBLE)
              / 1000000000.0) / COUNT(*) AS c
      FROM upd_pos GROUP BY cluster, pos),
    cent1 AS (
      SELECT s.cluster,
             coalesce(u.cvec, list_transform(s.cvec, x -> CAST(x AS DOUBLE))) AS cvec
      FROM seeds s
      LEFT JOIN (SELECT cluster, list(c ORDER BY pos) AS cvec
                 FROM upd GROUP BY cluster) u USING (cluster))
"""


# both Lloyd iterations unrolled: assign2 holds the final assignment
_KM_TWO_ITERATIONS = f"""
    WITH {_KM_SEEDS.strip()},
    {_km_assign("seeds", "assign1").strip()},
    {_KM_UPDATE.strip()},
    {_km_assign("cent1", "assign2").strip()}"""


@register(
    "sim_kmeans_ivf_cells",
    tags=("similarity", "kmeans", "iterative"),
    oracle=_KM_TWO_ITERATIONS
    + """
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MIN(vec_id) AS representative
    FROM assign2 GROUP BY cluster
    """,
)
def sim_kmeans_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell build via deterministic k-means (Lloyd, 2 iterations,
    scaled-int centroid accumulation — partition-invariant). The oracle
    unrolls the same two Lloyd iterations in SQL with identical exact
    arithmetic, so the iterative op is value-hash-checked, not rows-only
    (round 1's gap); determinism also pinned by tests/test_similarity.py."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    _, assign = similarity.kmeans_lite(emb, "vec_id", k=8, iters=2)
    return (
        assign.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("representative"))
    )


@register(
    "array_predicates_embeddings",
    tags=("array", "higher-order"),
    oracle="""
    SELECT vec_id,
           list_bool_or(list_transform(embedding,  x -> x > 0.3))  AS any_large,
           list_bool_and(list_transform(embedding, x -> abs(x) < 1.0)) AS all_unit,
           CAST(len(list_filter(embedding, x -> x < 0)) AS INTEGER) AS n_negative
    FROM embeddings
    """,
)
def array_predicates_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array predicates (exists / forall / filter) — per-row
    float comparisons are exact, so the booleans and counts value-match."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    return emb.select(
        "vec_id",
        F.exists("embedding", lambda x: x > 0.3).alias("any_large"),
        F.forall("embedding", lambda x: F.abs(x) < 1.0).alias("all_unit"),
        F.size(F.filter("embedding", lambda x: x < 0)).alias("n_negative"),
    )


@register(
    "sim_quantize_int8",
    tags=("similarity", "quantize"),
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding, len(embedding) AS n_dims,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
                 / 127.0 AS scale
      FROM embeddings),
    q AS (
      SELECT vec_id, n_dims, scale,
             CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding, x ->
                       greatest(-127, least(127,
                         CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INTEGER))))
             END AS qv
      FROM s)
    SELECT vec_id, CAST(n_dims AS INTEGER) AS n_dims, scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
           CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS q_sq
    FROM q
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization
    (``operators/similarity.py:quantize_int8``). The checked surface is
    the exact integer summaries + the per-vector scale; the quantized
    array itself is dropped here because the driver canonicalizer hashes
    scalars (the array column is consumed by downstream operators).
    """
    emb = Catalog(spark, sf_dir).table("embeddings")
    return similarity.quantize_int8(emb, "vec_id", "embedding").drop("q")


@register(
    "sim_int8_rerank_topk",
    tags=("similarity", "ann", "quantize", "topk"),
    oracle="""
    WITH """
    + _SQL_NORMS
    + """,
    s AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
                 / 127.0 AS scale
      FROM embeddings),
    q8 AS (
      SELECT vec_id, scale,
             CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding, x ->
                       greatest(-127, least(127,
                         CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INTEGER))))
             END AS qv
      FROM s),
    qpairs AS (
      SELECT q.vec_id AS qid, q.qv AS qqv, c.vec_id AS cid, c.qv AS cqv
      FROM q8 q CROSS JOIN q8 c WHERE q.vec_id < 5),
    idots AS (
      SELECT qid, cid, SUM(CAST(qx AS BIGINT) * cx) AS doti
      FROM (SELECT qid, cid, unnest(qqv) AS qx, unnest(cqv) AS cx FROM qpairs)
      GROUP BY qid, cid),
    coarse AS (
      SELECT i.qid, i.cid
      FROM idots i
      JOIN q8 qq ON qq.vec_id = i.qid
      JOIN q8 cc ON cc.vec_id = i.cid
      JOIN norms nq ON nq.vec_id = i.qid
      JOIN norms nc ON nc.vec_id = i.cid
      QUALIFY ROW_NUMBER() OVER (PARTITION BY i.qid ORDER BY
        ((CAST(i.doti AS DOUBLE) * qq.scale) * cc.scale)
          / (nq.nrm * nc.nrm) DESC, i.cid) <= 50),
    fpairs AS (
      SELECT co.qid, eq.embedding AS qv, co.cid, ec.embedding AS cv
      FROM coarse co
      JOIN embeddings eq ON eq.vec_id = co.qid
      JOIN embeddings ec ON ec.vec_id = co.cid),
    fdots AS (
      SELECT qid, cid,
             SUM(CAST(round(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE)
                            * 1000000000) AS BIGINT)) AS dot_scaled
      FROM (SELECT qid, cid, unnest(qv) AS qx, unnest(cv) AS cx FROM fpairs)
      GROUP BY qid, cid),
    cosines AS (
      SELECT d.qid, d.cid,
             (CAST(d.dot_scaled AS DOUBLE) / 1000000000.0)
               / (nq.nrm * nc.nrm) AS cosine
      FROM fdots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nc ON nc.vec_id = d.cid)
    SELECT qid AS query_id, cid AS vec_id, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
      FROM cosines)
    WHERE rnk <= 10
    """,
)
def sim_int8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN for the 5 probe vectors: int8 coarse scan keeps the
    top-50 candidates per query by de-quantized approximate cosine, then
    an exact scaled-integer cosine re-ranks only those candidates to
    top-10 (``operators/similarity.py:int8_rerank_topk`` — the FAISS
    SQ8-flat+refine pattern). The oracle replays both stages, so the
    value check covers the coarse pruning decision, not just the final
    scores."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.int8_rerank_topk(
        queries, emb, query_id="query_id", corpus_id="vec_id", coarse_c=50, k=10
    )


_SQL_PQ_BASE = """
    cb AS (
      SELECT m, CAST(vec_id AS INT) AS code,
             list_slice(embedding, m * 16 + 1, m * 16 + 16) AS cent
      FROM embeddings, unnest([0, 1, 2, 3]) AS u(m)
      WHERE vec_id < 8),
    sub AS (
      SELECT vec_id, m, list_slice(embedding, m * 16 + 1, m * 16 + 16) AS sv
      FROM embeddings, unnest([0, 1, 2, 3]) AS u(m)),
    dists AS (
      SELECT s.vec_id, s.m, c.code,
             list_sum(list_transform(range(1, 17), i ->
               CAST(round((CAST(sv[i] AS DOUBLE) - CAST(cent[i] AS DOUBLE))
                          * (CAST(sv[i] AS DOUBLE) - CAST(cent[i] AS DOUBLE))
                          * 1000000000) AS BIGINT))) AS d2
      FROM sub s JOIN cb c ON s.m = c.m),
    codes AS (
      SELECT vec_id, m, code FROM dists
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2, code) = 1)
"""


@register(
    "sim_pq_codes",
    tags=("similarity", "ann", "pq"),
    oracle="WITH "
    + _SQL_PQ_BASE
    + """
    SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY m) AS codes_csv
    FROM codes GROUP BY vec_id
    """,
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (``operators/similarity.py:pq_encode``):
    every 64-dim vector compressed to 4 subspace codes against a seeded
    codebook (centroids = subvectors of vec_id 0..7). Codes are exact
    integer-argmin, so the full code table is value-checked; emitted as a
    CSV string because the driver canonicalizer can't sort array cells.
    """
    emb = Catalog(spark, sf_dir).table("embeddings")
    cb = similarity.pq_codebook_from_seeds(emb, "vec_id")
    enc = similarity.pq_encode(emb, cb, "vec_id")
    return enc.select(
        "vec_id",
        F.array_join(F.transform(F.col("codes"), lambda c: c.cast("string")), ",").alias(
            "codes_csv"
        ),
    )


@register(
    "sim_pq_adc_topk",
    tags=("similarity", "ann", "pq", "topk"),
    oracle="WITH "
    + _SQL_PQ_BASE
    + """
    , lutd AS (
      SELECT q.vec_id AS qid, c.m, c.code,
             list_sum(list_transform(range(1, 17), i ->
               CAST(round(CAST(list_slice(q.embedding, c.m * 16 + 1, c.m * 16 + 16)[i] AS DOUBLE)
                          * CAST(cent[i] AS DOUBLE)
                          * 1000000000) AS BIGINT))) AS dot
      FROM embeddings q CROSS JOIN cb c
      WHERE q.vec_id < 5),
    scores AS (
      SELECT l.qid, co.vec_id AS cid, SUM(l.dot) AS s
      FROM codes co JOIN lutd l ON co.m = l.m AND co.code = l.code
      GROUP BY l.qid, co.vec_id)
    SELECT qid AS query_id, cid AS vec_id,
           CAST(s AS DOUBLE) / 1000000000.0 AS adc_score, rnk
    FROM (SELECT qid, cid, s,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY s DESC, cid) AS rnk
          FROM scores)
    WHERE rnk <= 10
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10 for 5 probe vectors
    (``operators/similarity.py:pq_adc_topk``): corpus scored from its
    4-byte PQ codes via a per-query flattened lookup table — M array
    lookups per vector, no vector math on the scan side. Scores are
    scaled-integer sums, so ranks AND scores are value-checked exactly.
    """
    emb = Catalog(spark, sf_dir).table("embeddings")
    cb = similarity.pq_codebook_from_seeds(emb, "vec_id")
    enc = similarity.pq_encode(emb, cb, "vec_id")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_adc_topk(
        queries, enc, cb, query_id="query_id", corpus_id="vec_id", k=10
    )


# One oracle for BOTH the build-and-query path (sim_ivfpq_topk) and the
# persisted-index probe (sim_ivfpq_index_probe): a probe over an index
# built from the same corpus/pivots/codebook MUST return bit-identical
# scores and ranks — that identity is exactly what sharing the SQL checks.
_IVFPQ_ADC_ORACLE = _sql_pair_cosine(
    """
    pairs AS (
      SELECT c.vec_id AS qid, c.embedding AS qv, p.vec_id AS cid, p.embedding AS cv
      FROM embeddings c JOIN embeddings p ON p.vec_id % 100 = 0)
    """
) + """
    , assigned AS (
      SELECT qid AS vec_id, cid AS cell,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
      FROM cosines),
    corpus_cell AS (SELECT vec_id, cell FROM assigned WHERE rn = 1),
    probe_cells AS (SELECT vec_id AS qid, cell FROM assigned
                    WHERE rn <= 3 AND vec_id < 5),
    cb AS (
      SELECT m, CAST(vec_id AS INT) AS code,
             list_slice(embedding, m * 16 + 1, m * 16 + 16) AS cent
      FROM embeddings, unnest([0, 1, 2, 3]) AS u(m)
      WHERE vec_id < 8),
    sub AS (
      SELECT vec_id, m, list_slice(embedding, m * 16 + 1, m * 16 + 16) AS sv
      FROM embeddings, unnest([0, 1, 2, 3]) AS u(m)),
    dists AS (
      SELECT s.vec_id, s.m, c.code,
             list_sum(list_transform(range(1, 17), i ->
               CAST(round((CAST(sv[i] AS DOUBLE) - CAST(cent[i] AS DOUBLE))
                          * (CAST(sv[i] AS DOUBLE) - CAST(cent[i] AS DOUBLE))
                          * 1000000000) AS BIGINT))) AS d2
      FROM sub s JOIN cb c ON s.m = c.m),
    codes AS (
      SELECT vec_id, m, code FROM dists
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2, code) = 1),
    lutd AS (
      SELECT q.vec_id AS qid, c.m, c.code,
             list_sum(list_transform(range(1, 17), i ->
               CAST(round(CAST(list_slice(q.embedding, c.m * 16 + 1, c.m * 16 + 16)[i] AS DOUBLE)
                          * CAST(cent[i] AS DOUBLE)
                          * 1000000000) AS BIGINT))) AS dot
      FROM embeddings q CROSS JOIN cb c
      WHERE q.vec_id < 5),
    scores AS (
      SELECT l.qid, co.vec_id AS cid, SUM(l.dot) AS s
      FROM probe_cells pc
      JOIN corpus_cell cc ON cc.cell = pc.cell
      JOIN codes co ON co.vec_id = cc.vec_id
      JOIN lutd l ON l.qid = pc.qid AND l.m = co.m AND l.code = co.code
      GROUP BY l.qid, co.vec_id)
    SELECT qid AS query_id, cid AS vec_id,
           CAST(s AS DOUBLE) / 1000000000.0 AS adc_score, rnk
    FROM (SELECT qid, cid, s,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY s DESC, cid) AS rnk
          FROM scores)
    WHERE rnk <= 10
    """


@register(
    "sim_ivfpq_topk",
    headline=True,
    tags=("similarity", "ann", "ivf", "pq"),
    oracle=_IVFPQ_ADC_ORACLE,
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ ANN (``operators/similarity.py:ivf_pq_topk``): queries
    probe their 3 nearest inverted-file cells and score ONLY those cells'
    vectors from 4-byte PQ codes via the flattened ADC lookup table —
    cell restriction × code compression, the billion-vector layout. All
    stages are scaled-integer deterministic, so the probed-cell top-10
    (scores AND ranks) is value-checked exactly — no recall bound needed.
    """
    emb = Catalog(spark, sf_dir).table("embeddings")
    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    cb = similarity.pq_codebook_from_seeds(emb, "vec_id")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_pq_topk(
        queries, emb, pivots, cb,
        query_id="query_id", corpus_id="vec_id", pivot_id="pivot_id",
        k=10, nprobe=3,
    )


@register(
    "sim_ivfpq_index_probe",
    # headline since r8 (VERDICT r7 item 7): replaces dedup_semantic_prune's
    # build-heavy number — the amortized probe path is what users run at
    # 100 TB (build once, probe many).
    headline=True,
    tags=("similarity", "ann", "ivf", "pq", "index"),
    oracle=_IVFPQ_ADC_ORACLE,
)
def sim_ivfpq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ index lifecycle (VERDICT r6 item 2,
    ``operators/similarity.write_ivfpq_index``/``probe_ivfpq_index``):
    the corpus is assigned + PQ-encoded ONCE into catalog tables
    (codes + pivots + codebook + a one-row layout meta), then the
    probe routes 5 queries through the STORED model state and scores
    only the encoded ``(vec_id, cell, codes)`` table — no corpus
    vector is ever read on the probe path (plan-pinned in
    tests/test_plans.py). Shares its oracle with ``sim_ivfpq_topk``:
    build-once/probe-many must be bit-identical to build-and-query.
    """
    import shutil
    import tempfile

    from agol_pandas_spark.operators.similarity import (
        probe_ivfpq_index,
        write_ivfpq_index,
    )

    emb = Catalog(spark, sf_dir).table("embeddings")
    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    cb = similarity.pq_codebook_from_seeds(emb, "vec_id")
    root = tempfile.mkdtemp(prefix="ivfpq_idx_")
    cat = Catalog(spark, root)
    write_ivfpq_index(
        cat, "emb_idx", emb, pivots, cb,
        corpus_id="vec_id", pivot_id="pivot_id",
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = probe_ivfpq_index(
        cat, "emb_idx", queries, query_id="query_id", k=10, nprobe=3
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "sim_label_centroids",
    tags=("similarity", "centroids", "embeddings"),
    oracle="""
    WITH e AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS x
      FROM embeddings)
    SELECT label, CAST(dim AS INTEGER) AS dim,
           COUNT(*) AS n_vectors,
           CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
               AS BIGINT) AS sum_scaled,
           CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                // COUNT(*) AS BIGINT) AS centroid_micro
    FROM e GROUP BY label, dim
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components in exact fixed point (truncated
    integer mean — identical div semantics in both engines)."""
    from agol_pandas_spark.operators.similarity import label_centroids

    emb = Catalog(spark, sf_dir).table("embeddings")
    return label_centroids(emb, "vec_id", "embedding", "label")


@register(
    "sim_ivf_int8_rerank_topk",
    tags=("similarity", "ann", "ivf", "quantize", "topk"),
    oracle=_sql_pair_cosine(
        """
    pairs AS (
      SELECT c.vec_id AS qid, c.embedding AS qv, p.vec_id AS cid, p.embedding AS cv
      FROM embeddings c JOIN embeddings p ON p.vec_id % 100 = 0)
    """
    )
    + """
    , assigned AS (
      SELECT qid AS vec_id, cid AS cell,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
      FROM cosines),
    corpus_cell AS (SELECT vec_id, cell FROM assigned WHERE rn = 1),
    probe_cells AS (SELECT vec_id AS qid, cell FROM assigned
                    WHERE rn <= 3 AND vec_id < 5),
    s AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
                 / 127.0 AS scale
      FROM embeddings),
    q8 AS (
      SELECT vec_id, scale,
             CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding, x ->
                       greatest(-127, least(127,
                         CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INTEGER))))
             END AS qv
      FROM s),
    qpairs AS (
      SELECT pc.qid, qq.qv AS qqv, cc.vec_id AS cid, c8.qv AS cqv
      FROM probe_cells pc
      JOIN q8 qq ON qq.vec_id = pc.qid
      JOIN corpus_cell cc ON cc.cell = pc.cell
      JOIN q8 c8 ON c8.vec_id = cc.vec_id),
    idots AS (
      SELECT qid, cid, SUM(CAST(qx AS BIGINT) * cx) AS doti
      FROM (SELECT qid, cid, unnest(qqv) AS qx, unnest(cqv) AS cx FROM qpairs)
      GROUP BY qid, cid),
    coarse AS (
      SELECT i.qid, i.cid
      FROM idots i
      JOIN q8 qq ON qq.vec_id = i.qid
      JOIN q8 cc ON cc.vec_id = i.cid
      JOIN norms nq ON nq.vec_id = i.qid
      JOIN norms nc ON nc.vec_id = i.cid
      QUALIFY ROW_NUMBER() OVER (PARTITION BY i.qid ORDER BY
        ((CAST(i.doti AS DOUBLE) * qq.scale) * cc.scale)
          / (nq.nrm * nc.nrm) DESC, i.cid) <= 50),
    fpairs AS (
      SELECT co.qid, eq.embedding AS fqv, co.cid, ec.embedding AS fcv
      FROM coarse co
      JOIN embeddings eq ON eq.vec_id = co.qid
      JOIN embeddings ec ON ec.vec_id = co.cid),
    fdots AS (
      SELECT qid, cid,
             SUM(CAST(round(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE)
                            * 1000000000) AS BIGINT)) AS dot_scaled
      FROM (SELECT qid, cid, unnest(fqv) AS qx, unnest(fcv) AS cx FROM fpairs)
      GROUP BY qid, cid),
    fcos AS (
      SELECT d.qid, d.cid,
             (CAST(d.dot_scaled AS DOUBLE) / 1000000000.0)
               / (nq.nrm * nc.nrm) AS cosine
      FROM fdots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nc ON nc.vec_id = d.cid)
    SELECT qid AS query_id, cid AS vec_id, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
      FROM fcos)
    WHERE rnk <= 10
    """,
)
def sim_ivf_int8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-composed two-stage ANN (VERDICT r5 item 5,
    ``operators/similarity.py:ivf_int8_rerank_topk`` — the FAISS
    IVF-SQ8+refine pattern): each of the 5 probe vectors reads only its
    3 nearest IVF cells, the int8 coarse scan keeps the top-50 in-cell
    candidates by de-quantized approximate cosine, and the exact
    scaled-integer cosine re-ranks them to top-10. The oracle replays
    ALL three stages — pivot assignment, quantized coarse pruning,
    exact refine — so the value check covers the cell restriction and
    the pruning decision, not just final scores. Plan-pinned
    no-cartesian: the coarse stage is a broadcast equi-join on cell."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_int8_rerank_topk(
        queries, emb, pivots,
        query_id="query_id", corpus_id="vec_id", pivot_id="pivot_id",
        nprobe=3, coarse_c=50, k=10,
    )


@register(
    "sim_matryoshka_rerank_topk",
    tags=("similarity", "ann", "matryoshka", "topk"),
    oracle="""
    WITH """
    + _SQL_NORMS
    + """,
    pnorms AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                      * 1000000000) AS BIGINT)) AS DOUBLE)
                  / 1000000000.0) AS pnrm
      FROM (SELECT vec_id, unnest(embedding[1:16]) AS x FROM embeddings)
      GROUP BY vec_id),
    ppairs AS (
      SELECT q.vec_id AS qid, q.embedding[1:16] AS qp,
             c.vec_id AS cid, c.embedding[1:16] AS cp
      FROM embeddings q CROSS JOIN embeddings c WHERE q.vec_id < 5),
    pdots AS (
      SELECT qid, cid,
             SUM(CAST(round(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE)
                            * 1000000000) AS BIGINT)) AS dot_scaled
      FROM (SELECT qid, cid, unnest(qp) AS qx, unnest(cp) AS cx FROM ppairs)
      GROUP BY qid, cid),
    coarse AS (
      SELECT d.qid, d.cid
      FROM pdots d
      JOIN pnorms nq ON nq.vec_id = d.qid
      JOIN pnorms nc ON nc.vec_id = d.cid
      QUALIFY ROW_NUMBER() OVER (PARTITION BY d.qid ORDER BY
        (CAST(d.dot_scaled AS DOUBLE) / 1000000000.0)
          / (nq.pnrm * nc.pnrm) DESC, d.cid) <= 50),
    fpairs AS (
      SELECT co.qid, eq.embedding AS qv, co.cid, ec.embedding AS cv
      FROM coarse co
      JOIN embeddings eq ON eq.vec_id = co.qid
      JOIN embeddings ec ON ec.vec_id = co.cid),
    fdots AS (
      SELECT qid, cid,
             SUM(CAST(round(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE)
                            * 1000000000) AS BIGINT)) AS dot_scaled
      FROM (SELECT qid, cid, unnest(qv) AS qx, unnest(cv) AS cx FROM fpairs)
      GROUP BY qid, cid),
    cosines AS (
      SELECT d.qid, d.cid,
             (CAST(d.dot_scaled AS DOUBLE) / 1000000000.0)
               / (nq.nrm * nc.nrm) AS cosine
      FROM fdots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nc ON nc.vec_id = d.cid)
    SELECT qid AS query_id, cid AS vec_id, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
      FROM cosines)
    WHERE rnk <= 10
    """,
)
def sim_matryoshka_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage retrieval: coarse scan on the first 16 of 64
    dimensions (exact scaled-integer cosine over the prefix), exact
    full-dimension re-rank of 50 candidates — the dimension-truncation
    sibling of sim_int8_rerank_topk; both stages value-checked."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.matryoshka_rerank_topk(
        queries,
        emb,
        query_id="query_id",
        corpus_id="vec_id",
        prefix_dim=16,
        coarse_c=50,
        k=10,
    )


@register(
    "sim_hard_negative_mining",
    tags=("similarity", "contrastive", "training"),
    oracle=_sql_pair_cosine(
        """
    pairs AS (
      SELECT q.vec_id AS qid, q.embedding AS qv, c.vec_id AS cid, c.embedding AS cv
      FROM embeddings q JOIN embeddings c ON q.label <> c.label
      WHERE q.vec_id % 50 = 0)
    """
    )
    + """
    SELECT qid AS query_id, cid AS neg_id, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
      FROM cosines)
    WHERE rnk <= 5
    """,
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (``operators/similarity.hard_negative_topk``): per probe, the 5
    most-similar OTHER-label vectors — the label inequality evaluates
    inside the broadcast pair join so same-label pairs never score, and
    the per-probe top-5 prunes per partition (WindowGroupLimit) before
    the probe-key shuffle."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    return similarity.hard_negative_topk(
        emb, corpus_id="vec_id", label_col="label",
        probe_filter=F.col("vec_id") % 50 == 0, k=5,
    )


def _sql_mmr_unroll(k: int, lam: str = "0.5") -> str:
    """Unrolled greedy MMR rounds over CTEs ``pool`` (qid, cid, rel)
    and ``psim`` (qid, cid_a, cid_b, sim). Emits ``selcum{k}``."""
    parts = [
        f"""sel1 AS MATERIALIZED (
          SELECT qid, cid, rel, {lam} * rel AS mmr_score,
                 CAST(1 AS INTEGER) AS pick_rank
          FROM (SELECT qid, cid, rel,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY {lam} * rel DESC, cid) AS rn
                FROM pool) WHERE rn = 1)""",
        "selcum1 AS (SELECT * FROM sel1)",
    ]
    for i in range(2, k + 1):
        parts.append(f"""ms{i} AS MATERIALIZED (
          SELECT p.qid, p.cid_a AS cid, MAX(p.sim) AS maxsim
          FROM psim p JOIN selcum{i - 1} s
            ON s.qid = p.qid AND s.cid = p.cid_b
          GROUP BY 1, 2)""")
        parts.append(f"""sc{i} AS (
          SELECT pool.qid, pool.cid, pool.rel,
                 {lam} * pool.rel
                   - (1.0 - {lam}) * COALESCE(ms.maxsim, 0.0) AS score
          FROM pool
          LEFT JOIN ms{i} ms ON ms.qid = pool.qid AND ms.cid = pool.cid
          WHERE NOT EXISTS (SELECT 1 FROM selcum{i - 1} s
                            WHERE s.qid = pool.qid AND s.cid = pool.cid))""")
        parts.append(f"""sel{i} AS MATERIALIZED (
          SELECT qid, cid, rel, score AS mmr_score,
                 CAST({i} AS INTEGER) AS pick_rank
          FROM (SELECT qid, cid, rel, score,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY score DESC, cid) AS rn
                FROM sc{i}) WHERE rn = 1)""")
        parts.append(
            f"selcum{i} AS (SELECT * FROM selcum{i - 1}"
            f" UNION ALL SELECT * FROM sel{i})"
        )
    return ",\n    ".join(parts)


@register(
    "sim_mmr_diversified_topk",
    tags=("similarity", "rerank", "mmr", "diversity"),
    oracle=_sql_pair_cosine(
        """
    pairs AS (
      SELECT q.vec_id AS qid, q.embedding AS qv, c.vec_id AS cid, c.embedding AS cv
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 3)
    """
    )
    + f"""
    , pool AS MATERIALIZED (
      SELECT qid, cid, cosine AS rel FROM (
        SELECT qid, cid, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid) AS rn
        FROM cosines) WHERE rn <= 20),
    cp AS (
      SELECT a.qid, a.cid AS cid_a, b.cid AS cid_b,
             ea.embedding AS va, eb.embedding AS vb
      FROM pool a
      JOIN pool b ON a.qid = b.qid AND a.cid <> b.cid
      JOIN embeddings ea ON ea.vec_id = a.cid
      JOIN embeddings eb ON eb.vec_id = b.cid),
    pdots AS (
      SELECT qid, cid_a, cid_b,
             SUM(CAST(round(CAST(ax AS DOUBLE) * CAST(bx AS DOUBLE)
                            * 1000000000) AS BIGINT)) AS dot_scaled
      FROM (SELECT qid, cid_a, cid_b, unnest(va) AS ax, unnest(vb) AS bx FROM cp)
      GROUP BY 1, 2, 3),
    psim AS MATERIALIZED (
      SELECT d.qid, d.cid_a, d.cid_b,
             (CAST(d.dot_scaled AS DOUBLE) / 1000000000.0)
               / (na.nrm * nb.nrm) AS sim
      FROM pdots d
      JOIN norms na ON na.vec_id = d.cid_a
      JOIN norms nb ON nb.vec_id = d.cid_b),
    {_sql_mmr_unroll(5)}
    SELECT qid AS query_id, cid AS vec_id, pick_rank, rel, mmr_score
    FROM selcum5
    """,
)
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval
    (``operators/similarity.mmr_diversified_topk``): 3 probes pull a
    20-candidate exact-cosine pool, then 5 greedy rounds pick results
    that are relevant AND mutually diverse (λ=0.5) — the re-ranker
    that keeps near-dup passages from monopolizing a context window.
    Pool and candidate-pair similarities use the engine's
    bit-reproducible cosine; the oracle unrolls all five greedy rounds
    in SQL and every score and pick is value-checked."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.mmr_diversified_topk(
        probes, emb, "query_id", "vec_id", pool_k=20, k=5, lam=0.5
    )


_RRF_TERMS = {0: ("batch", "vector"), 1: ("scan", "slow"), 2: ("join", "merge")}


@register(
    "sim_hybrid_rrf_fusion",
    tags=("similarity", "hybrid", "rrf", "search"),
    oracle=_sql_pair_cosine(
        """
    pairs AS (
      SELECT q.vec_id AS qid, q.embedding AS qv, c.vec_id AS cid, c.embedding AS cv
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 3)
    """
    )
    + f"""
    , vrank AS (
      SELECT qid, cid, rnk FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid) AS rnk
        FROM cosines) WHERE rnk <= 20),
    terms(qid, term) AS (VALUES {", ".join(
        f"({q}, '{t}')" for q, ts in _RRF_TERMS.items() for t in ts)}),
    tok AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents) GROUP BY 1, 2),
    km AS (
      SELECT t.qid, k.doc_id, COUNT(*) AS n_terms, SUM(k.tf) AS score
      FROM terms t JOIN tok k ON k.tok = t.term
      GROUP BY 1, 2 HAVING COUNT(*) = 2),
    krank AS (
      SELECT qid, doc_id, rnk FROM (
        SELECT qid, doc_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM km) WHERE rnk <= 20),
    fused AS (
      SELECT COALESCE(k.qid, v.qid) AS query_id,
             COALESCE(k.doc_id, v.cid) AS doc,
             k.rnk IS NOT NULL AS in_keyword,
             v.rnk IS NOT NULL AS in_vector,
             CAST(COALESCE(1000000000 // (60 + k.rnk), 0)
                  + COALESCE(1000000000 // (60 + v.rnk), 0) AS BIGINT)
               AS rrf_score
      FROM krank k
      FULL OUTER JOIN vrank v ON v.qid = k.qid AND v.cid = k.doc_id)
    SELECT query_id, doc, in_keyword, in_vector, rrf_score,
           CAST(fused_rank AS INTEGER) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc) AS fused_rank
      FROM fused)
    WHERE fused_rank <= 10
    """,
)
def sim_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion
    (``similarity.rrf_fusion``): per probe, a conjunctive-keyword
    top-20 (exact term frequencies) and an exact-cosine vector top-20
    fuse by Σ 10⁹ div (60 + rank) — no score calibration between the
    modalities, only ranks; a candidate found by one recall path still
    surfaces. Both lists are per-query top-k tables, so the fuse join
    is candidate-sized; every rank, flag, and fused score is
    value-checked."""
    cat = Catalog(spark, sf_dir)
    emb = cat.table("embeddings")
    docs = cat.table("documents")

    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vrank = similarity.brute_force_topk(
        probes, emb, "query_id", "vec_id", k=20
    ).select("query_id", F.col("vec_id").alias("doc"), F.col("rnk").alias("vr"))

    from agol_pandas_spark.functions.text import tokens as tok_fn

    terms = spark.createDataFrame(
        [(q, t) for q, ts in _RRF_TERMS.items() for t in ts],
        "query_id long, term string",
    )
    tok = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(tok_fn(F.col("text"))).alias("tok"),
        )
        .groupBy("doc", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    km = (
        tok.join(F.broadcast(terms), tok.tok == terms.term)
        .groupBy("query_id", "doc")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("tf").alias("score"))
        .filter(F.col("n_terms") == 2)
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc")
    krank = (
        km.withColumn("kr", F.row_number().over(wk))
        .filter(F.col("kr") <= 20)
        .select("query_id", "doc", "kr")
    )
    fused = similarity.rrf_fusion(
        krank, vrank, "query_id", "doc", rank_a="kr", rank_b="vr",
        k0=60, topk=10,
    )
    return fused.withColumnsRenamed({"in_a": "in_keyword", "in_b": "in_vector"})


@register(
    "sim_centroid_shift_drift",
    tags=("similarity", "drift", "vectors"),
    oracle="""
    WITH sides AS (
      SELECT vec_id % 2 AS side,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS xq
      FROM embeddings),
    cent AS (
      SELECT side, dim,
             CAST(SUM(xq) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM sides GROUP BY 1, 2),
    diff AS (
      SELECT a.dim,
             CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
             - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS d
      FROM cent a JOIN cent b USING (dim)
      WHERE a.side = 0 AND b.side = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(CAST(round(d * d) AS BIGINT)) AS BIGINT)
             AS shift_sq_scaled,
           sqrt(CAST(SUM(CAST(round(d * d) AS BIGINT)) AS DOUBLE))
             / 1000000.0 AS centroid_shift_l2
    FROM diff
    """,
)
def sim_centroid_shift_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift gate: the L2 distance between the
    per-dimension CENTROIDS of two corpus halves — the cheap first
    alarm for 'the new crawl's embedding distribution moved' before
    any ANN index is rebuilt. Coordinates quantize to 1e-6 integers so
    the per-dimension sums are exact (one explode + grouped sum —
    shuffle carries dims × sides rows); each mean and squared diff is
    correctly-rounded scalar arithmetic, and the cross-dimension sum
    quantizes before summing — bit-identical across engines. At 100 TB
    the explode shuffles dim-partial sums only (map-side combine), and
    the 64-row centroid table is driver-free.
    """
    emb = Catalog(spark, sf_dir).table("embeddings")
    sides = emb.select(
        (F.col("vec_id") % 2).alias("side"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "side", "dim",
        F.round(F.col("x").cast("double") * 1e6).cast("long").alias("xq"),
    )
    cent = sides.groupBy("side", "dim").agg(
        F.sum("xq").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = cent.filter(F.col("side") == 0).select(
        "dim", (F.col("s").cast("double") / F.col("n").cast("double")).alias("ma")
    )
    b = cent.filter(F.col("side") == 1).select(
        F.col("dim").alias("dim_b"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("mb"),
    )
    diff = a.join(b, a.dim == b.dim_b).select(
        (F.col("ma") - F.col("mb")).alias("d")
    )
    scaled = F.sum(F.round(F.col("d") * F.col("d")).cast("long")).cast("long")
    return diff.agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        scaled.alias("shift_sq_scaled"),
        (F.sqrt(scaled.cast("double")) / 1e6).alias("centroid_shift_l2"),
    )


@register(
    "sim_hard_negative_budgeted",
    tags=("similarity", "contrastive", "training", "ann", "ivf", "pq",
          "index"),
    oracle=_sql_pair_cosine(
        """
    pairs AS (
      SELECT c.vec_id AS qid, c.embedding AS qv, p.vec_id AS cid, p.embedding AS cv
      FROM embeddings c JOIN embeddings p ON p.vec_id % 100 = 0)
    """
    )
    + """
    , assigned AS (
      SELECT qid AS vec_id, cid AS cell,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
      FROM cosines),
    corpus_cell AS (SELECT vec_id, cell FROM assigned WHERE rn = 1),
    probe_cells AS (SELECT vec_id AS qid, cell FROM assigned
                    WHERE rn <= 3 AND vec_id % 50 = 0),
    cb AS (
      SELECT m, CAST(vec_id AS INT) AS code,
             list_slice(embedding, m * 16 + 1, m * 16 + 16) AS cent
      FROM embeddings, unnest([0, 1, 2, 3]) AS u(m)
      WHERE vec_id < 8),
    sub AS (
      SELECT vec_id, m, list_slice(embedding, m * 16 + 1, m * 16 + 16) AS sv
      FROM embeddings, unnest([0, 1, 2, 3]) AS u(m)),
    dists AS (
      SELECT s.vec_id, s.m, c.code,
             list_sum(list_transform(range(1, 17), i ->
               CAST(round((CAST(sv[i] AS DOUBLE) - CAST(cent[i] AS DOUBLE))
                          * (CAST(sv[i] AS DOUBLE) - CAST(cent[i] AS DOUBLE))
                          * 1000000000) AS BIGINT))) AS d2
      FROM sub s JOIN cb c ON s.m = c.m),
    codes AS (
      SELECT vec_id, m, code FROM dists
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2, code) = 1),
    lutd AS (
      SELECT q.vec_id AS qid, c.m, c.code,
             list_sum(list_transform(range(1, 17), i ->
               CAST(round(CAST(list_slice(q.embedding, c.m * 16 + 1, c.m * 16 + 16)[i] AS DOUBLE)
                          * CAST(cent[i] AS DOUBLE)
                          * 1000000000) AS BIGINT))) AS dot
      FROM embeddings q CROSS JOIN cb c
      WHERE q.vec_id % 50 = 0),
    scores AS (
      SELECT l.qid, co.vec_id AS cid, SUM(l.dot) AS s
      FROM probe_cells pc
      JOIN corpus_cell cc ON cc.cell = pc.cell
      JOIN codes co ON co.vec_id = cc.vec_id
      JOIN lutd l ON l.qid = pc.qid AND l.m = co.m AND l.code = co.code
      JOIN embeddings eq ON eq.vec_id = l.qid
      JOIN embeddings ec ON ec.vec_id = co.vec_id
      WHERE eq.label <> ec.label
      GROUP BY l.qid, co.vec_id),
    pool AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY s DESC, cid) AS rnk0
        FROM scores) WHERE rnk0 <= 10),
    rdots AS (
      SELECT p.qid, p.cid,
             SUM(CAST(round(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE)
                            * 1000000000) AS BIGINT)) AS dot_scaled
      FROM (SELECT pool.qid, pool.cid,
                   unnest(q.embedding) AS qx, unnest(c.embedding) AS cx
            FROM pool
            JOIN embeddings q ON q.vec_id = pool.qid
            JOIN embeddings c ON c.vec_id = pool.cid) p
      GROUP BY p.qid, p.cid),
    rcos AS (
      SELECT d.qid, d.cid,
             (CAST(d.dot_scaled AS DOUBLE) / 1000000000.0)
               / (nq.nrm * nc.nrm) AS cosine
      FROM rdots d
      JOIN norms nq ON nq.vec_id = d.qid
      JOIN norms nc ON nc.vec_id = d.cid)
    SELECT qid AS query_id, cid AS neg_id, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid) AS rnk
      FROM rcos) WHERE rnk <= 5
    """,
)
def sim_hard_negative_budgeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-budgeted hard-negative mining (VERDICT r9 item 6,
    ``operators/similarity.hard_negative_topk_indexed``): the brute path
    (``sim_hard_negative_mining``) scans the whole other-label corpus
    per probe — exponent 1.36 at sf1; here candidates come from each
    probe's 3 nearest PERSISTED IVF-PQ cells, scored from 4-byte codes
    with the other-label filter on the coded scan (the label rides the
    index as a payload column — no corpus join), and only the 10 ADC
    survivors per probe rerank exactly against the raw vectors. Every
    stage is scaled-integer deterministic, so the final (query_id,
    neg_id, cosine, rnk) is value-checked exactly. Plan-pinned in
    tests/test_plans.py: the candidate scan reads codes, never corpus
    vectors. FAISS IVF-PQ + refine is the public analogue."""
    import shutil
    import tempfile

    from agol_pandas_spark.operators.similarity import (
        hard_negative_topk_indexed,
        write_ivfpq_index,
    )

    emb = Catalog(spark, sf_dir).table("embeddings")
    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    cb = similarity.pq_codebook_from_seeds(emb, "vec_id")
    root = tempfile.mkdtemp(prefix="ivfpq_hn_")
    try:
        cat = Catalog(spark, root)
        write_ivfpq_index(
            cat, "emb_idx", emb, pivots, cb,
            corpus_id="vec_id", pivot_id="pivot_id",
            payload_cols=("label",),
        )
        probes = emb.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), "label", "embedding"
        )
        out = hard_negative_topk_indexed(
            cat, "emb_idx", probes, query_id="query_id",
            k=5, pool_k=10, nprobe=3, rerank_with=emb,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out
