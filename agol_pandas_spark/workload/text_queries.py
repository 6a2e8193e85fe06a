"""Oracle-checked queries for the text-analysis operators
(``operators/textops.py``) over the ``documents`` table.

Each SQL oracle reproduces the operator's exact token/hash/score rules in
DuckDB dialect (list lambdas mirror Spark higher-order functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from agol_pandas_spark.catalog import Catalog
from agol_pandas_spark.operators import textops
from agol_pandas_spark.workload import register

# SQL fragments shared by the oracles
SQL_TOKS = "list_filter(string_split_regex({src}, '\\s+'), x -> x <> '')"
SQL_HASH60 = "CAST(('0x' || substring(md5({expr}),1,15)) AS BIGINT)"


@register(
    "text_doc_stats",
    tags=("text",),
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {SQL_TOKS.format(src='text')} AS toks FROM documents)
    SELECT doc_id,
           length(text) AS text_len,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_token_chars
    FROM t
    """,
)
def text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.doc_stats(docs, "doc_id", "text")


@register(
    "text_quality_score",
    tags=("text",),
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {SQL_TOKS.format(src='text')} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           0.4 * (CASE WHEN len(toks) > 0
                       THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                       ELSE 0.0 END)
         + 0.3 * least(length(text) / 500.0, 1.0)
         + 0.3 * (CASE WHEN length(text) > 0
                       THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                            / length(text)
                       ELSE 0.0 END) AS quality
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.quality_score(docs, "doc_id", "text")


_SQL_HITS = (
    "CAST(len(list_filter({toks}, x -> list_contains({vocab}, x))) AS INTEGER)"
)


@register(
    "text_language_id",
    tags=("text",),
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS.format(src='lower(text)')} AS toks FROM documents),
    hits AS (
      SELECT doc_id,
             {_SQL_HITS.format(toks='toks', vocab="['der','die','und','das','ein']")} AS hits_de,
             {_SQL_HITS.format(toks='toks', vocab="['the','a','of','and','to']")} AS hits_en,
             {_SQL_HITS.format(toks='toks', vocab="['el','la','y','los','una']")} AS hits_es,
             {_SQL_HITS.format(toks='toks', vocab="['le','la','et','les','un']")} AS hits_fr
      FROM t)
    SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
           CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM hits
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.language_id(docs, "doc_id", "text")


@register(
    "text_token_frequencies",
    tags=("text",),
    oracle=f"""
    SELECT tok AS token, COUNT(*) AS freq
    FROM (SELECT unnest({SQL_TOKS.format(src='lower(text)')}) AS tok FROM documents)
    GROUP BY tok
    """,
)
def text_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.token_frequencies(docs, "text")


@register(
    "text_tfidf_top_terms",
    headline=True,
    tags=("text",),
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest({SQL_TOKS.format(src='lower(text)')}) AS token FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM terms GROUP BY doc_id, token),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
           tf.tf * CAST(floor(n.n_docs * 1000000 / dfreq.df) AS BIGINT) AS score_scaled
    FROM tf, dfreq, n
    WHERE tf.token = dfreq.token
    ORDER BY score_scaled DESC, tf.doc_id, tf.token
    LIMIT 100
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    docs = cat.table("documents")
    return (
        # N from parquet footer metadata: drops tfidf's extra corpus pass
        textops.tfidf(docs, "doc_id", "text", n_docs=cat.row_count("documents"))
        .orderBy(F.col("score_scaled").desc(), "doc_id", "token")
        .limit(100)
    )


_NORMALIZED_TEXT = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_FP_EXPR = SQL_HASH60.format(expr=_NORMALIZED_TEXT)


@register(
    "text_doc_fingerprint",
    tags=("text", "dedup"),
    oracle=f"""
    SELECT doc_id,
           {_FP_EXPR} AS fingerprint
    FROM documents
    """,
)
def text_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.doc_fingerprint(docs, "doc_id", "text")


# GPT-2-ish pretokenizer, restricted to constructs with identical semantics
# in Java regex (Spark) and RE2 (DuckDB): disjoint greedy alternatives, no
# lookaround. Letter runs (with an optional 'suffix), digit runs,
# punctuation runs.
_BPE_PATTERN = r"[A-Za-z]+(?:'[A-Za-z]+)?|[0-9]+|[^A-Za-z0-9\s]+"
_BPE_PATTERN_SQL = _BPE_PATTERN.replace("'", "''")


@register(
    "text_token_count_bpe",
    tags=("text", "tokens"),
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN_SQL}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    pretokenization (the standard pre-merge step of GPT-style tokenizers).
    Pure JVM regex — no Python in the loop."""
    from agol_pandas_spark.functions.text import tokens

    docs = Catalog(spark, sf_dir).table("documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(tokens("text")).cast("long").alias("n_ws_tokens"),
    )


@register(
    "pipeline_corpus_curation",
    tags=("text", "pipeline", "dedup", "quality"),
    oracle=f"""
    WITH fp AS (SELECT doc_id, {_FP_EXPR} AS fingerprint FROM documents),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint),
    t AS (SELECT doc_id, text, {SQL_TOKS.format(src='text')} AS toks FROM documents),
    q AS (
      SELECT doc_id,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             0.4 * (CASE WHEN len(toks) > 0
                         THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                         ELSE 0.0 END)
           + 0.3 * least(length(text) / 500.0, 1.0)
           + 0.3 * (CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END) AS quality
      FROM t)
    SELECT d.doc_id, d.lang, q.n_tokens, q.quality
    FROM documents d
    JOIN keep USING (doc_id)
    JOIN q USING (doc_id)
    WHERE q.quality >= 0.62 AND d.lang IN ('en', 'de')
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline — the LLM-training-data shape in one
    plan: fingerprint dedup (keep lowest doc_id per normalized-content
    hash) → quality gate → language allowlist. Three operators fuse into
    one job: two vocabulary-sized shuffles (fingerprint groupBy + join),
    everything else map-side. The 0.62 bar is safe cross-engine because
    per-row double arithmetic is bit-identical (only aggregates need
    scaled-int quantization)."""
    docs = Catalog(spark, sf_dir).table("documents")
    fp = textops.doc_fingerprint(docs, "doc_id", "text")
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    quality = textops.quality_score(docs, "doc_id", "text")
    return (
        docs.join(keep.select("doc_id"), "doc_id")
        .join(quality, "doc_id")
        .filter((F.col("quality") >= 0.62) & F.col("lang").isin("en", "de"))
        .select("doc_id", "lang", "n_tokens", "quality")
    )


@register(
    "sample_hash_stratified",
    tags=("sampling", "text"),
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang FROM documents
      WHERE {SQL_HASH60.format(expr="'sample' || CAST(doc_id AS VARCHAR)")} % 100 < 20)
    SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM s GROUP BY lang
    """,
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% hash-gated sample with per-language accounting —
    reproducible across cluster sizes and engines, unlike seeded
    df.sample whose output depends on physical partitioning."""
    docs = Catalog(spark, sf_dir).table("documents")
    s = textops.hash_sample(docs, "doc_id", percent=20, strata_cols=("lang",))
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# 4-gram SQL shingles (the synthetic corpus repeats at short range, so the
# query uses n=4; the operator default for real corpora is 8)
_SQL_G4 = (
    "CASE WHEN len({t}) < 4 THEN [] "
    "ELSE list_transform(range(1, len({t}) - 2), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2] || ' ' || {t}[i+3]) END"
)


@register(
    "text_repetition_metrics",
    tags=("text", "quality", "repetition"),
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS.format(src='text')} AS t FROM documents),
    base AS (
      SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
             len(list_filter(range(1, len(t)), i -> t[i] = t[i+1])) AS adj, t
      FROM toks),
    bg AS (
      SELECT doc_id, unnest(CASE WHEN len(t) < 2 THEN []
             ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) END) AS g
      FROM toks),
    bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
    top AS (SELECT doc_id, MAX(c) AS topn FROM bgc GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(nd AS BIGINT) AS n_distinct,
           CAST(adj AS BIGINT) AS adj_dup_pairs,
           CAST(coalesce(topn, 0) AS BIGINT) AS top_bigram_n,
           CASE WHEN n >= 1 THEN CAST(n - nd AS DOUBLE) / n END AS dup_token_frac,
           CASE WHEN n >= 2 THEN CAST(coalesce(topn, 0) AS DOUBLE) / (n - 1) END
               AS top_bigram_frac
    FROM base b LEFT JOIN top USING (doc_id)
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition filters (duplicate-token fraction,
    adjacent-run pairs, top-bigram share) — the boilerplate/degenerate-text
    gate of a training-data pipeline, value-checked to the double."""
    docs = Catalog(spark, sf_dir).table("documents")
    out = textops.repetition_metrics(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long"),
        F.col("n_distinct").cast("long"),
        F.col("adj_dup_pairs").cast("long"),
        F.col("top_bigram_n").cast("long"),
        "dup_token_frac",
        "top_bigram_frac",
    )


@register(
    "text_benchmark_contamination",
    headline=True,
    tags=("text", "contamination", "dedup"),
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS.format(src='text')} AS t FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct({_SQL_G4.format(t='t')})) AS s FROM toks),
    h AS (SELECT doc_id, {SQL_HASH60.format(expr='s')} AS hh FROM sh),
    bench AS (SELECT doc_id AS bid, hh FROM h WHERE doc_id % 97 = 0),
    docs AS (SELECT doc_id, hh FROM h WHERE doc_id % 97 <> 0)
    SELECT d.doc_id,
           CAST(COUNT(DISTINCT d.hh) AS BIGINT) AS n_shared_ngrams,
           CAST(COUNT(DISTINCT b.bid) AS BIGINT) AS n_bench_docs
    FROM docs d JOIN bench b USING (hh)
    GROUP BY d.doc_id
    """,
)
def text_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leak gate: training docs sharing any word 4-gram with a
    held-out benchmark slice (doc_id % 97 == 0 stands in for the eval
    set). Both sides reduce to distinct 60-bit shingle hashes before the
    join — 8-byte keys shuffle, text never does; the benchmark side
    broadcasts."""
    docs = Catalog(spark, sf_dir).table("documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return textops.benchmark_contamination(
        corpus, bench, "doc_id", "text", ngram=4
    )


# DuckDB twins of operators.textops.PII_PATTERNS (RE2 dialect-compatible)
_SQL_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_SQL_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_SQL_PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_SQL_PII_TEXT = (
    "'u' || CAST(doc_id AS VARCHAR) || '@ex' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.com call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)"
    " || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
    " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id % 100 AS VARCHAR)"
    " || ' ' || substring(text, 1, 80)"
)


@register(
    "text_pii_redaction",
    tags=("text", "pii"),
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_PII_TEXT} AS txt FROM documents),
    r AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(txt, '{_SQL_PII_EMAIL}')) AS INTEGER) AS n_emails,
             CAST(len(regexp_extract_all(txt, '{_SQL_PII_IPV4}')) AS INTEGER) AS n_ipv4,
             CAST(len(regexp_extract_all(txt, '{_SQL_PII_PHONE}')) AS INTEGER) AS n_phones,
             regexp_replace(regexp_replace(regexp_replace(txt,
                 '{_SQL_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_SQL_PII_IPV4}', '<IP>', 'g'),
                 '{_SQL_PII_PHONE}', '<PHONE>', 'g') AS redacted
      FROM t)
    SELECT doc_id, n_emails, n_ipv4, n_phones,
           CAST(length(redacted) AS INTEGER) AS redacted_len, redacted
    FROM r
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (``operators/textops.py:redact_pii``). The synthetic
    corpus carries no PII, so the query deterministically plants an email,
    a phone number, and an IPv4 per document (same string construction in
    both engines) before redacting — the regexes are genuinely exercised.
    """
    docs = Catalog(spark, sf_dir).table("documents")
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            "",
            F.lit("u"), d.cast("string"),
            F.lit("@ex"), (d % 5).cast("string"),
            F.lit(".com call 555-"), (d % 900 + 100).cast("string"),
            F.lit("-"), (d % 9000 + 1000).cast("string"),
            F.lit(" ip 10.0."), (d % 256).cast("string"),
            F.lit("."), (d % 100).cast("string"),
            F.lit(" "), F.substring("text", 1, 80),
        ).alias("txt"),
    )
    return textops.redact_pii(planted, "doc_id", "txt")


@register(
    "text_pack_token_shards",
    tags=("text", "packing"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({SQL_TOKS.format(src='text')}) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start
      FROM t)
    SELECT CAST(FLOOR(start / 4096) AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c GROUP BY shard_id
    """,
)
def text_pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding for training-batch assembly
    (``operators/textops.py:shard_by_token_budget``): documents in doc_id
    order are split into ~4096-token shards by cumulative starting offset
    (no global window — two-phase running total). The checked surface is
    per-shard composition: doc count, token total, id range.
    """
    docs = Catalog(spark, sf_dir).table("documents")
    with_counts = docs.select(
        "doc_id", F.size(textops.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    sharded = textops.shard_by_token_budget(with_counts, "doc_id", "n_tokens", 4096)
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "pipeline_pretraining_shards",
    tags=("text", "pipeline", "dedup", "quality", "packing"),
    oracle=f"""
    WITH fp AS (SELECT doc_id, {_FP_EXPR} AS fingerprint FROM documents),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint),
    t AS (SELECT doc_id, text, {SQL_TOKS.format(src='text')} AS toks FROM documents),
    q AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             0.4 * (CASE WHEN len(toks) > 0
                         THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                         ELSE 0.0 END)
           + 0.3 * least(length(text) / 500.0, 1.0)
           + 0.3 * (CASE WHEN length(text) > 0
                         THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                              / length(text)
                         ELSE 0.0 END) AS quality
      FROM t),
    curated AS (
      SELECT d.doc_id, d.lang, q.n_tokens
      FROM documents d JOIN keep USING (doc_id) JOIN q USING (doc_id)
      WHERE q.quality >= 0.62 AND d.lang IN ('en', 'de')),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start
      FROM curated)
    SELECT CAST(FLOOR(start / 2048) AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY shard_id
    """,
)
def pipeline_pretraining_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-data assembly in one lazy plan: fingerprint
    dedup → quality gate → language allowlist → exact token counts →
    token-budget shard assignment → per-shard composition stats. Five
    operators compose without materialization; the only shuffles are the
    fingerprint groupBy/join, the sharding range exchange, and the final
    stats aggregation — everything else stays map-side. This is the query
    a 100 TB corpus run executes per ingest batch, and every stage is the
    same code path the individual oracle-checked queries pin.
    """
    docs = Catalog(spark, sf_dir).table("documents")
    fp = textops.doc_fingerprint(docs, "doc_id", "text")
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    quality = textops.quality_score(docs, "doc_id", "text")
    curated = (
        docs.join(keep.select("doc_id"), "doc_id")
        .join(quality, "doc_id")
        .filter((F.col("quality") >= 0.62) & F.col("lang").isin("en", "de"))
        .select("doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens"))
    )
    sharded = textops.shard_by_token_budget(curated, "doc_id", "n_tokens", 2048)
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_total"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _sql_cms_bucket(row: int, item: str = "token") -> str:
    h = SQL_HASH60.format(expr=f"'cms{row}_' || {item}")
    return f"({h} % 1024)"


_SQL_CMS_COORDS = " UNION ALL ".join(
    f"SELECT token, {i} AS row, {_sql_cms_bucket(i)} AS bucket FROM toks"
    for i in range(4)
)
_SQL_CMS_TOP_COORDS = " UNION ALL ".join(
    f"SELECT token, freq, {i} AS row, {_sql_cms_bucket(i)} AS bucket FROM top"
    for i in range(4)
)


@register(
    "sketch_cms_token_counts",
    tags=("sketch", "text", "approx"),
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKS.format(src='lower(text)')}) AS token FROM documents),
    exact AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY token),
    top AS (SELECT * FROM exact ORDER BY freq DESC, token LIMIT 20),
    coords AS ({_SQL_CMS_COORDS}),
    sketch AS (SELECT row, bucket, COUNT(*) AS cnt FROM coords GROUP BY row, bucket),
    probe AS ({_SQL_CMS_TOP_COORDS}),
    est AS (
      SELECT p.token, p.freq, MIN(COALESCE(s.cnt, 0)) AS cms_est
      FROM probe p LEFT JOIN sketch s USING (row, bucket)
      GROUP BY p.token, p.freq)
    SELECT token, CAST(freq AS BIGINT) AS freq, CAST(cms_est AS BIGINT) AS cms_est,
           cms_est >= freq AS never_under
    FROM est
    """,
)
def sketch_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch build + merge-shape + point lookup
    (``operators/sketches.py``): a 4x1024 counter grid over corpus tokens,
    estimates read for the 20 most frequent tokens and value-checked
    against the exact counts — the md5 bucket hashes make the
    "approximate" structure exactly reproducible in the oracle, including
    the never-underestimates invariant the last column pins.
    """
    from agol_pandas_spark.operators.sketches import cms_build, cms_estimate

    docs = Catalog(spark, sf_dir).table("documents")
    toks = docs.select(F.explode(textops.tokens(F.lower(F.col("text")))).alias("token"))
    sketch = cms_build(toks, "token")
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    top = exact.orderBy(F.col("freq").desc(), "token").limit(20)
    est = cms_estimate(sketch, top.select("token"), "token")
    return (
        top.join(est, "token")
        .select(
            "token",
            "freq",
            "cms_est",
            (F.col("cms_est") >= F.col("freq")).alias("never_under"),
        )
    )


def _sql_bloom_coords(src: str, item: str = "k") -> str:
    parts = []
    for i in range(4):
        h = SQL_HASH60.format(expr=f"'bloom{i}_' || {item}")
        parts.append(
            f"SELECT {item}, ({h} % 8192) // 32 AS word, "
            f"(1::BIGINT << (({h} % 8192) % 32)) AS bit FROM {src}"
        )
    return " UNION ALL ".join(parts)


@register(
    "sketch_bloom_prefilter",
    tags=("sketch", "dedup", "approx"),
    oracle=f"""
    WITH corpus AS (
      SELECT DISTINCT substring(lower(text), 1, 30) AS k
      FROM documents WHERE source <> 'src0'),
    batch AS (
      SELECT doc_id, substring(lower(text), 1, 30) AS k
      FROM documents WHERE source = 'src0'),
    coords AS ({_sql_bloom_coords('corpus')}),
    bloom AS (SELECT word, bit_or(bit) AS bits FROM coords GROUP BY word),
    probe AS ({_sql_bloom_coords('batch')}),
    verdict AS (
      SELECT p.k,
             CAST(MIN(CASE WHEN (COALESCE(b.bits, 0) & p.bit) <> 0
                           THEN 1 ELSE 0 END) AS BOOLEAN) AS might_contain
      FROM probe p LEFT JOIN bloom b USING (word) GROUP BY p.k),
    truth AS (SELECT DISTINCT k FROM corpus)
    SELECT batch.doc_id, v.might_contain,
           truth.k IS NOT NULL AS actually_in_corpus
    FROM batch JOIN verdict v USING (k)
    LEFT JOIN truth ON truth.k = batch.k
    """,
)
def sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filter for incremental ingest
    (``operators/sketches.py:bloom_build/bloom_might_contain``): the
    corpus content-key set compresses to a 8192-bit word table (one
    bit_or aggregation), the new batch probes it, and each probe's
    verdict is value-checked next to ground truth — proving the
    no-false-negative invariant on real keys (every actually_in_corpus
    row has might_contain true) plus the exact, hash-deterministic
    false-positive set.
    """
    from agol_pandas_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    docs = Catalog(spark, sf_dir).table("documents").withColumn(
        "k", F.substring(F.lower("text"), 1, 30)
    )
    corpus_keys = docs.filter(F.col("source") != "src0").select("k").distinct()
    batch = docs.filter(F.col("source") == "src0").select("doc_id", "k")
    bloom = bloom_build(corpus_keys, "k")
    verdicts = bloom_might_contain(bloom, batch.select("k").distinct(), "k")
    truth = corpus_keys.withColumn("actually_in_corpus", F.lit(True))
    return (
        batch.join(verdicts, "k")
        .join(truth, "k", "left")
        .select(
            "doc_id",
            "might_contain",
            F.coalesce(F.col("actually_in_corpus"), F.lit(False)).alias(
                "actually_in_corpus"
            ),
        )
    )


@register(
    "sample_domain_mix",
    tags=("sampling", "mixing", "text"),
    oracle=f"""
    WITH w("source", w) AS (
      VALUES ('src0', CAST(0.5 AS DOUBLE)),
             ('src1', CAST(0.3 AS DOUBLE)),
             ('src2', CAST(0.2 AS DOUBLE))),
    c AS (
      SELECT d.source, w.w, COUNT(*) AS n
      FROM documents d JOIN w ON d.source = w.source
      GROUP BY d.source, w.w),
    t AS (SELECT MIN(n / w) AS t FROM c),
    r AS (
      SELECT source,
             CAST(least(1000000, floor(w * t.t / n * 1000000)) AS BIGINT) AS ppm
      FROM c, t),
    s AS (
      SELECT d.doc_id, d.source
      FROM documents d JOIN r ON d.source = r.source
      WHERE {SQL_HASH60.format(expr="'mix' || CAST(doc_id AS VARCHAR)")}
            % 1000000 < r.ppm)
    SELECT source, COUNT(*) AS n_sampled,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM s GROUP BY source
    """,
)
def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mix resampling
    (``operators/textops.py:domain_mix_sample``): downsample sources
    toward a 50/30/20 target mix (unlisted sources dropped), hash-gated
    in parts-per-million so the admitted row set is a pure function of
    the data — the oracle reproduces it row-for-row; per-source
    accounting is what gets hash-checked.
    """
    docs = Catalog(spark, sf_dir).table("documents")
    s = textops.domain_mix_sample(
        docs, "doc_id", "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "sample_topk_per_stratum",
    tags=("sampling", "stratified"),
    oracle=f"""
    SELECT lang, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {SQL_HASH60.format(expr="'strat' || CAST(doc_id AS VARCHAR)")},
                        doc_id) AS rn
      FROM documents) WHERE rn <= 7
    """,
)
def sample_topk_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank rows within each
    stratum by their salted portable hash (a reproducible random order —
    pure row function, stable across engines and partitioning) and keep
    the first k. The fixed-size counterpart of the rate-based
    ``hash_sample``; at scale the rank is one window over the stratum
    shuffle, and skew is bounded by k per stratum on output.
    """
    from pyspark.sql import Window

    from agol_pandas_spark.functions.text import portable_hash60

    docs = Catalog(spark, sf_dir).table("documents")
    h = portable_hash60(F.concat(F.lit("strat"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 7)
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "sample_train_val_test_split",
    tags=("sampling", "splits"),
    oracle=f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN h < 80 THEN 'train'
                  WHEN h < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT lang,
                   {SQL_HASH60.format(expr="'split' || CAST(doc_id AS VARCHAR)")}
                   % 100 AS h
            FROM documents))
    SELECT lang, split, COUNT(*) AS n_docs
    FROM assigned GROUP BY lang, split
    """,
)
def sample_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hash range —
    a pure row function, so membership never shifts when the corpus is
    repartitioned, re-sharded, or re-read (the leakage-safety property
    ``df.randomSplit`` does NOT have: its assignment depends on
    partitioning). Per-(lang, split) counts are value-checked.
    """
    docs = Catalog(spark, sf_dir).table("documents")
    from agol_pandas_spark.functions.text import portable_hash60

    h = F.pmod(
        portable_hash60(F.concat(F.lit("split"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_cooccurrence_lift_top",
    tags=("text", "cooccurrence", "pmi"),
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({SQL_TOKS.format(src='text')}) AS t
      FROM documents),
    n AS (SELECT COUNT(*) AS n_docs FROM toks),
    tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
    df AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS cab
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w),
    scored AS (
      SELECT w1, w2, cab,
             CAST(n.n_docs * cab AS DOUBLE) / (d1.c * d2.c) AS lift
      FROM pairs, n
      JOIN df d1 ON d1.w = pairs.w1
      JOIN df d2 ON d2.w = pairs.w2
      WHERE cab >= 20)
    SELECT w1, w2, cab, lift FROM scored
    QUALIFY ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) <= 50
    """,
)
def text_cooccurrence_lift_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top document-level token co-occurrences by LIFT
    (N·c(a,b)/(c(a)·c(b)) — the PMI argument without the log, so the
    score is ONE IEEE division of exact integers and ranks identically
    to PMI while staying bit-portable; log-PMI differs across libm
    implementations in final ulps). Shuffle shape: distinct-token
    explode → same-doc pair aggregation (the support filter bounds the
    pair blowup) → two vocabulary-sized broadcast joins → global top-50
    via TakeOrderedAndProject.
    """
    from agol_pandas_spark.functions.text import tokens

    docs = Catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("t")
    )
    n_docs = Catalog(spark, sf_dir).row_count("documents")
    tok = toks.select("doc_id", F.explode("t").alias("w"))
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    a = tok.select("doc_id", F.col("w").alias("w1"))
    b = tok.select("doc_id", F.col("w").alias("w2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= 20)
    )
    scored = (
        pairs.join(F.broadcast(dfreq.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")), "w1")
        .join(F.broadcast(dfreq.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2")), "w2")
        .select(
            "w1",
            "w2",
            "cab",
            (
                (F.lit(n_docs) * F.col("cab")).cast("double")
                / (F.col("c1") * F.col("c2"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "w1", "w2").limit(50)


_SQL_G2 = (
    "CASE WHEN len({t}) < 2 THEN [] "
    "ELSE list_transform(range(1, len({t})), i -> {t}[i] || ' ' || {t}[i+1]) END"
)


def gopher_oracle_sql(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_symbol_ratio: float = 0.1,
    max_dup_2gram_frac: float = 0.5,
) -> str:
    """DuckDB oracle of ``textops.gopher_quality_flags`` at the given
    thresholds (same parameters and defaults). Ratio thresholds become
    ``p/q`` via ``Fraction.limit_denominator(1000)`` and are
    cross-multiplied, as in the operator."""
    from fractions import Fraction

    af, sf, rf = (
        Fraction(x).limit_denominator(1000)
        for x in (min_alpha_word_frac, max_symbol_ratio, max_dup_2gram_frac)
    )
    wc = f"(n >= {min_words} AND n <= {max_words})"
    ml = f"(chars >= n * {min_mean_word_len} AND chars <= n * {max_mean_word_len})"
    al = f"(alpha * {af.denominator} >= n * {af.numerator})"
    sw = f"(stop >= {min_stopword_hits})"
    sr = f"(sym * {sf.denominator} <= n * {sf.numerator})"
    rp = f"((n2 - d2) * {rf.denominator} <= n2 * {rf.numerator} OR n2 = 0)"
    return f"""
    WITH t AS (
      SELECT doc_id, text,
             {SQL_TOKS.format(src='text')} AS toks,
             {SQL_TOKS.format(src='lower(text)')} AS ltoks
      FROM documents),
    base AS (
      SELECT doc_id,
             len(toks) AS n,
             CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS chars,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
             len(list_filter(ltoks,
                 x -> list_contains(['the','a','of','and','to'], x))) AS stop,
             length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS sym,
             len({_SQL_G2.format(t='toks')}) AS n2,
             len(list_distinct({_SQL_G2.format(t='toks')})) AS d2
      FROM t)
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_words,
           {wc} AS ok_word_count,
           {ml} AS ok_mean_word_len,
           {al} AS ok_alpha_frac,
           {sw} AS ok_stopwords,
           {sr} AS ok_symbol_ratio,
           {rp} AS ok_repetition,
           ({wc}
            AND {ml}
            AND {al}
            AND {sw}
            AND {sr}
            AND {rp}) AS pass_gopher
    FROM base
    """


@register(
    "text_gopher_rules_filter",
    tags=("text", "quality", "filter"),
    oracle=gopher_oracle_sql(),
)
def text_gopher_rules_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (word-count bounds, mean word
    length, alpha-word fraction, stopword presence, symbol ratio,
    duplicate-bigram repetition), every ratio cross-multiplied into
    integer arithmetic so the booleans are engine-portable by
    construction — no derived-double knife edges."""
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.gopher_quality_flags(docs, "doc_id", "text")


@register(
    "text_chunk_token_windows",
    tags=("text", "chunking", "rag"),
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS.format(src='text')} AS toks FROM documents),
    starts AS (
      SELECT doc_id, toks,
             unnest(CASE WHEN len(toks) = 0 THEN []
                    ELSE range(1, len(toks) + 1, 20) END) AS s
      FROM t)
    SELECT doc_id,
           (s - 1) // 20 AS chunk_id,
           CAST(s AS INTEGER) AS start_token,
           CAST(len(list_slice(toks, s, least(s + 39, len(toks)))) AS INTEGER)
               AS n_tokens,
           {SQL_HASH60.format(expr="array_to_string(list_slice(toks, s, least(s + 39, len(toks))), ' ')")}
               AS chunk_hash
    FROM starts
    """,
)
def text_chunk_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (40-token windows, stride 20) —
    the chunk → embed → index primitive of a RAG/embedding pipeline. One
    map + explode, no shuffle; chunk hashes are portable 60-bit md5 so
    chunk-level exact dedup composes downstream without re-tokenizing."""
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.chunk_token_windows(
        docs, "doc_id", "text", window_tokens=40, stride=20
    )


@register(
    "pipeline_chunk_dedup_stats",
    headline=True,
    tags=("pipeline", "text", "chunking", "dedup"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             {SQL_TOKS.format(src='text')} AS toks,
             {SQL_TOKS.format(src='lower(text)')} AS ltoks
      FROM documents),
    base AS (
      SELECT doc_id, toks,
             len(toks) AS n,
             CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS chars,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
             len(list_filter(ltoks,
                 x -> list_contains(['the','a','of','and','to'], x))) AS stop,
             length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS sym,
             len({_SQL_G2.format(t='toks')}) AS n2,
             len(list_distinct({_SQL_G2.format(t='toks')})) AS d2
      FROM t),
    kept AS (
      SELECT doc_id, toks FROM base
      WHERE (n >= 50 AND n <= 100000)
        AND (chars >= n * 3 AND chars <= n * 10)
        AND (alpha * 5 >= n * 4) AND (stop >= 2)
        AND (sym * 10 <= n * 1)
        AND ((n2 - d2) * 2 <= n2 * 1 OR n2 = 0)),
    chunks AS (
      SELECT doc_id,
             CAST(s AS INTEGER) AS start_token,
             CAST(len(list_slice(toks, s, least(s + 39, len(toks)))) AS BIGINT)
                 AS chunk_tokens,
             {SQL_HASH60.format(expr="array_to_string(list_slice(toks, s, least(s + 39, len(toks))), ' ')")}
                 AS chunk_hash
      FROM (SELECT doc_id, toks,
                   unnest(CASE WHEN len(toks) = 0 THEN []
                          ELSE range(1, len(toks) + 1, 20) END) AS s
            FROM kept)),
    survivors AS (
      SELECT chunk_hash, chunk_tokens,
             ROW_NUMBER() OVER (PARTITION BY chunk_hash
                                ORDER BY doc_id, start_token) AS rn
      FROM chunks),
    u AS (SELECT chunk_hash, chunk_tokens FROM survivors WHERE rn = 1)
    SELECT (SELECT COUNT(*) FROM kept) AS n_docs_kept,
           (SELECT COUNT(*) FROM chunks) AS n_chunks,
           COUNT(*) AS n_unique_chunks,
           CAST(SUM(chunk_tokens) AS BIGINT) AS unique_chunk_tokens
    FROM u
    """,
)
def pipeline_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed chunk-level curation — the embedding-corpus prep shape in
    one plan: Gopher rule gate → overlapping token-window chunking →
    exact chunk dedup on portable hashes (survivor = lowest (doc_id,
    start_token)) → corpus accounting. Everything before the dedup
    groupBy is map-side; the only shuffles key on chunk_hash. All
    outputs are integers, so the pipeline is knife-edge-free."""
    from pyspark.sql import Window

    docs = Catalog(spark, sf_dir).table("documents")
    # gate → chunk → hash fused into ONE Arrow kernel: the text crosses
    # the Python boundary once and is tokenized once (the two-kernel
    # shape tokenized three times: gate original + lowered, then the JVM
    # chunker split again); pinned row-identical to the unfused
    # composition by test_gated_chunk_windows_matches_composition
    chunks = textops.gated_chunk_token_windows(
        docs.select("doc_id", "text"), "doc_id", "text",
        window_tokens=40, stride=20,
    )
    # ONE pass over the tokenize→gate→chunk pipeline (r11: the previous
    # three-branch crossJoin re-ran the Gopher gate and the chunker once
    # per output scalar — three full document scans for one row). Every
    # kept doc has >= 50 tokens (the word-count rule), so it emits at
    # least one chunk and n_docs_kept == distinct doc_ids among chunks;
    # the survivor flag folds into the same aggregate as conditional
    # counts. Oracle unchanged — values are identical by construction.
    w = Window.partitionBy("chunk_hash").orderBy("doc_id", "start_token")
    return chunks.withColumn("rn", F.row_number().over(w)).agg(
        F.countDistinct("doc_id").alias("n_docs_kept"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(F.when(F.col("rn") == 1, F.lit(1))).alias("n_unique_chunks"),
        F.sum(
            F.when(F.col("rn") == 1, F.col("n_tokens").cast("long"))
        ).alias("unique_chunk_tokens"),
    )


@register(
    "sample_weighted_quality",
    tags=("sampling", "text", "quality"),
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             least(1.0, CAST(n_chars AS DOUBLE) / 400.0) AS wt
      FROM documents),
    s AS (
      SELECT doc_id, source FROM w
      WHERE {SQL_HASH60.format(expr="'wsample' || CAST(doc_id AS VARCHAR)")}
            < CAST(floor(wt * 1152921504606846976.0) AS BIGINT))
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM s GROUP BY source
    """,
)
def sample_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted Bernoulli downsampling: each document's keep
    probability is its length-based weight (min(1, n_chars/400)), gated
    on the portable row hash — reproducible across engines, re-runs, and
    cluster sizes, with no RNG state. Verified via per-source counts and
    id checksums."""
    docs = Catalog(spark, sf_dir).table("documents")
    w = F.least(F.lit(1.0), F.col("n_chars").cast("double") / F.lit(400.0))
    kept = textops.weighted_row_sample(docs, "doc_id", w)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_checksum"),
    )


@register(
    "text_token_rank_quality",
    tags=("text", "quality", "ranking"),
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest({SQL_TOKS.format(src='lower(text)')}) AS token
      FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS cnt FROM terms
           GROUP BY doc_id, token),
    vocab AS (SELECT token, COUNT(*) AS freq FROM terms GROUP BY token),
    ranked AS (SELECT token,
                      DENSE_RANK() OVER (ORDER BY freq DESC, token) AS rnk
               FROM vocab)
    SELECT tf.doc_id,
           CAST(SUM(tf.cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(tf.cnt * r.rnk) AS BIGINT) AS rank_sum,
           CAST(SUM(tf.cnt * r.rnk) * 1000 // SUM(tf.cnt) AS BIGINT)
               AS mean_rank_milli
    FROM tf JOIN ranked r ON tf.token = r.token
    GROUP BY tf.doc_id
    """,
)
def text_token_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-rank quality proxy (poor man's unigram LM): corpus-wide
    token ranks, rank-weighted mean per doc in exact integer milli-units."""
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.token_rank_quality(docs, "doc_id", "text")


def _sql_ngrams(toks: str, n: int) -> str:
    """DuckDB word-n-gram fragment (generalizes dedup_queries.SQL_SHINGLES)."""
    joined = " || ' ' || ".join(f"{toks}[i+{j}]" if j else f"{toks}[i]"
                                for j in range(n))
    return (
        f"CASE WHEN len({toks}) < {n} THEN [] "
        f"ELSE list_transform(range(1, len({toks}) - {n - 2}), i -> {joined}) END"
    )


@register(
    "text_ngram_novelty",
    tags=("text", "novelty", "dedup"),
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKS.format(src='lower(text)')} AS t FROM documents),
    sh AS (SELECT doc_id, {_sql_ngrams('t', 8)} AS sh FROM toks),
    pairs AS (
      SELECT DISTINCT doc_id, {SQL_HASH60.format(expr='s')} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
    owners AS (SELECT h, MIN(doc_id) AS fo FROM pairs GROUP BY h)
    SELECT p.doc_id,
           COUNT(*) AS n_distinct_ngrams,
           CAST(SUM(CASE WHEN o.fo = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel_ngrams,
           CAST(SUM(CASE WHEN o.fo = p.doc_id THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM pairs p JOIN owners o ON p.h = o.h
    GROUP BY p.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document 8-gram novelty: share of a doc's distinct n-grams
    first seen in this doc (corpus order by id), in exact ppm."""
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.ngram_novelty(docs, "doc_id", "text", shingle_size=8)


@register(
    "text_bm25_topk",
    tags=("text", "retrieval", "bm25"),
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {SQL_TOKS.format(src='lower(text)')} AS toks
      FROM documents),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
    tot AS (SELECT SUM(dl) AS A, COUNT(*) AS N FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM base)
      WHERE term IN ('hash', 'join', 'strategy')
      GROUP BY doc_id, term),
    dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(1000000 * 20 * A * tf
                  // (8 * A * tf + 3 * A + 9 * dl.dl * N) AS BIGINT)
             * CAST(1000000 * (2 * (N - df_t) + 1) // (2 * df_t + 1) AS BIGINT)
                 AS term_score
      FROM tf JOIN dft ON tf.term = dft.term
              JOIN dl ON tf.doc_id = dl.doc_id, tot)
    SELECT doc_id, COUNT(*) AS n_terms_hit,
           CAST(SUM(term_score) AS BIGINT) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 50
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-50 for the query {hash, join, strategy} — exact integer
    arithmetic end to end (rational idf surrogate, 8A-cleared saturation;
    'strategy' is out-of-vocabulary and contributes nothing)."""
    cat = Catalog(spark, sf_dir)
    docs = cat.table("documents")
    return textops.bm25_scores(
        docs, "doc_id", "text", ("hash", "join", "strategy"),
        n_docs=cat.row_count("documents"),
    )


@register(
    "sample_kfold_assignment",
    tags=("sampling", "folds"),
    oracle=f"""
    WITH folds AS (
      SELECT doc_id, n_chars,
             {SQL_HASH60.format(expr="'fold' || CAST(doc_id AS VARCHAR)")} % 5
                 AS fold
      FROM documents)
    SELECT fold, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM folds GROUP BY fold
    """,
)
def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold = salted
    row hash mod k — membership is a pure row function (stable across
    partitionings, re-runs, and engines, unlike randomSplit), and the
    per-fold accounting is value-checked."""
    from agol_pandas_spark.functions.text import portable_hash60

    docs = Catalog(spark, sf_dir).table("documents")
    folds = docs.select(
        "doc_id",
        "n_chars",
        F.pmod(
            portable_hash60(F.concat(F.lit("fold"), F.col("doc_id").cast("string"))),
            F.lit(5),
        ).alias("fold"),
    )
    return folds.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "text_drift_token_tv",
    tags=("text", "drift", "distribution"),
    oracle=f"""
    WITH tok AS (
      SELECT source AS grp, unnest({SQL_TOKS.format(src='lower(text)')}) AS token
      FROM documents),
    per AS (
      SELECT grp, token, COUNT(*) AS c FROM tok GROUP BY grp, token),
    gtok AS (SELECT token, CAST(SUM(c) AS BIGINT) AS c_all
             FROM per GROUP BY token),
    totals AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_grp
               FROM per GROUP BY grp),
    alln AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM per),
    terms AS (
      SELECT p.grp, t.n_grp, a.n_all - t.n_grp AS n_rest,
             g.c_all - p.c AS c_rest,
             abs(p.c * (a.n_all - t.n_grp) - (g.c_all - p.c) * t.n_grp)
                 AS term
      FROM per p
      JOIN gtok g ON g.token = p.token
      JOIN totals t ON t.grp = p.grp
      CROSS JOIN alln a),
    agg AS (
      SELECT grp, MAX(n_grp) AS n_grp, MAX(n_rest) AS n_rest,
             CAST(SUM(term) + (MAX(n_rest) - SUM(c_rest)) * MAX(n_grp)
                  AS BIGINT) AS tv_num
      FROM terms GROUP BY grp)
    SELECT grp AS source, n_grp, n_rest, tv_num,
           tv_num * 1000000 // (2 * n_grp * n_rest) AS tv_ppm
    FROM agg
    """,
)
def text_drift_token_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift per source: exact total-variation distance
    between each source's token distribution and the rest of the corpus,
    as an integer-ppm long. The out-of-vocabulary mass closes in O(1)
    per group (``(n_rest − Σc_rest)·n_grp``), so only existing
    (source, token) pairs are ever joined — never a group×vocabulary
    cross product. Value-checked against the SQL twin."""
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.token_distribution_drift(docs, "source", "text")


@register(
    "pipeline_drift_gated_admission",
    tags=("pipeline", "drift", "composed"),
    oracle=f"""
    WITH tok AS (
      SELECT source AS grp, unnest({SQL_TOKS.format(src='lower(text)')}) AS token
      FROM documents),
    per AS (
      SELECT grp, token, COUNT(*) AS c FROM tok GROUP BY grp, token),
    gtok AS (SELECT token, CAST(SUM(c) AS BIGINT) AS c_all
             FROM per GROUP BY token),
    totals AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_grp
               FROM per GROUP BY grp),
    alln AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM per),
    terms AS (
      SELECT p.grp, t.n_grp, a.n_all - t.n_grp AS n_rest,
             g.c_all - p.c AS c_rest,
             abs(p.c * (a.n_all - t.n_grp) - (g.c_all - p.c) * t.n_grp)
                 AS term
      FROM per p
      JOIN gtok g ON g.token = p.token
      JOIN totals t ON t.grp = p.grp
      CROSS JOIN alln a),
    drift AS (
      SELECT grp AS source,
             CAST((SUM(term) + (MAX(n_rest) - SUM(c_rest)) * MAX(n_grp))
               * 1000000 // (2 * MAX(n_grp) * MAX(n_rest)) AS BIGINT)
               AS tv_ppm
      FROM terms GROUP BY grp),
    docs AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY source)
    SELECT d.source, d.n_docs, d.total_chars, dr.tv_ppm,
           dr.tv_ppm <= 65000 AS admitted,
           CASE WHEN dr.tv_ppm <= 65000 THEN d.n_docs ELSE 0 END
               AS n_docs_admitted
    FROM docs d JOIN drift dr ON dr.source = d.source
    """,
)
def pipeline_drift_gated_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-gated ingest admission — the drift family composed into the
    pipeline it exists for: each source's vocabulary TV distance against
    the rest of the corpus decides whether its documents are admitted
    (tv_ppm ≤ 6.5%), with per-source accounting either way. A real
    deployment runs this per arriving crawl before the merge step; the
    gate is pure integer comparison, so the whole decision is
    value-checked. Scale shape: the drift side is the TV operator's
    (shuffles bounded by vocabulary); the accounting side is one
    map-side-combined groupBy; the final join carries one row per
    source.
    """
    from agol_pandas_spark.operators.textops import token_distribution_drift

    docs = Catalog(spark, sf_dir).table("documents")
    drift = token_distribution_drift(docs, "source", "text").select(
        "source", "tv_ppm"
    )
    acct = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return acct.join(drift, "source").select(
        "source",
        "n_docs",
        "total_chars",
        "tv_ppm",
        (F.col("tv_ppm") <= 65000).alias("admitted"),
        F.when(F.col("tv_ppm") <= 65000, F.col("n_docs"))
        .otherwise(F.lit(0))
        .alias("n_docs_admitted"),
    )


@register(
    "sample_systematic_every_nth",
    tags=("sampling", "systematic"),
    oracle="""
    SELECT event_id, user_id, event_type
    FROM (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn
      FROM events)
    WHERE (rn - 1) % 25 = 0
    """,
)
def sample_systematic_every_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling over the event timeline — the
    even-coverage complement to hash sampling: hash samples are uniform
    but clumpy in time; every-25th over the (ts, event_id) total order
    guarantees temporal spread, which is what eval-set builders want
    from a stream. Deterministic by the total order. Scale shape (r5):
    the global row number comes from the distributed rank operator
    (operators/ranks.py — one range shuffle, per-partition numbering,
    driver holds P offset integers), so nothing is single-partition no
    matter how many events flow through.
    """
    from agol_pandas_spark.operators.ranks import add_global_ranks

    ev = Catalog(spark, sf_dir).table("events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return (
        add_global_ranks(
            ev, ["ts", "event_id"], unique=True, row_number_col="rn"
        )
        .filter((F.col("rn") - 1) % 25 == 0)
        .drop("rn", "ts")
    )


@register(
    "sample_weighted_bottomk",
    tags=("sampling", "weighted", "without-replacement"),
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             CAST({SQL_HASH60.format(expr="'wbk' || CAST(doc_id AS VARCHAR)")}
                  AS DOUBLE) / n_chars AS priority
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, lang, n_chars
    FROM keyed ORDER BY priority, doc_id LIMIT 50
    """,
)
def sample_weighted_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, fixed size k: keep the k
    rows with the smallest ``hash/weight`` priority (the deterministic
    fixed-priority variant of Efraimidis–Spirakis bottom-k — inclusion
    probability grows with weight, here document length). The priority
    is ONE IEEE division of a portable integer hash by an integer
    weight, so both engines compute the identical double and the sample
    is reproducible across engines, re-runs, and cluster sizes — the
    without-replacement complement of ``sample_weighted_quality``'s
    Bernoulli gate. Scale shape: pure map + top-k
    (TakeOrderedAndProject) — each partition keeps k candidates, the
    driver merges P·k rows; no sort of the corpus, no window.
    """
    from agol_pandas_spark.functions.text import portable_hash60

    docs = Catalog(spark, sf_dir).table("documents").filter(
        F.col("n_chars") > 0
    )
    priority = (
        portable_hash60(
            F.concat(F.lit("wbk"), F.col("doc_id").cast("string"))
        ).cast("double")
        / F.col("n_chars")
    )
    return (
        docs.select("doc_id", "lang", "n_chars", priority.alias("__p"))
        .orderBy("__p", "doc_id")
        .limit(50)
        .drop("__p")
    )


@register(
    "text_url_canonical_dedup",
    tags=("text", "url", "dedup", "canonicalization"),
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN 'https://SITE' || CAST(doc_id % 10 AS VARCHAR)
                         || '.example.com/p' || CAST(doc_id % 5 AS VARCHAR)
                         || '/?b=2&a=1'
               WHEN 1 THEN 'https://site' || CAST(doc_id % 10 AS VARCHAR)
                         || '.EXAMPLE.com:443/p' || CAST(doc_id % 5 AS VARCHAR)
                         || '/?a=1&utm_source=feed&b=2'
               ELSE 'https://site' || CAST(doc_id % 10 AS VARCHAR)
                         || '.example.COM/p' || CAST(doc_id % 5 AS VARCHAR)
                         || '/?b=2&a=1#frag'
             END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
        lower(regexp_extract(nf, '^([A-Za-z]+)://', 1)) || '://'
        || regexp_replace(lower(regexp_extract(rest, '^([^/]*)', 1)), ':443$', '')
        || regexp_extract(pathq, '^([^?]*)', 1)
        || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS curl
      FROM (
        SELECT doc_id, nf, rest, pathq,
               array_to_string(
                 list_sort(list_filter(string_split(
                   regexp_extract(pathq, '\\?(.*)$', 1), '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS qs
        FROM (
          SELECT doc_id, nf,
                 regexp_replace(nf, '^[A-Za-z]+://', '') AS rest,
                 regexp_replace(regexp_replace(nf, '^[A-Za-z]+://', ''),
                                '^[^/]*', '') AS pathq
          FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM raw)
        )
      )
    )
    SELECT curl AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           MIN(doc_id) AS survivor_doc_id
    FROM canon GROUP BY curl
    """,
)
def text_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (r6, ``operators/textops.canonical_url``):
    three cosmetic variants per document — host-case, explicit :443,
    utm tracking params, param order, fragments — collapse to one
    canonical key; the group census (variant count + smallest doc id as
    survivor) is value-checked against a DuckDB twin of every
    normalization step. This is the crawl-frontier/dedup staple that
    runs BEFORE content hashing: at 100 TB it is one map stage + one
    hash shuffle on the canonical key."""
    from agol_pandas_spark.operators.textops import canonical_url

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id")
    g = (F.col("doc_id") % 10).cast("string")
    p = (F.col("doc_id") % 5).cast("string")
    raw = docs.withColumn(
        "url",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("https://SITE"), g, F.lit(".example.com/p"), p,
                     F.lit("/?b=2&a=1")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://site"), g, F.lit(".EXAMPLE.com:443/p"), p,
                     F.lit("/?a=1&utm_source=feed&b=2")),
        )
        .otherwise(
            F.concat(F.lit("https://site"), g, F.lit(".example.COM/p"), p,
                     F.lit("/?b=2&a=1#frag")),
        ),
    )
    return (
        raw.withColumn("canonical_url", canonical_url("url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.min("doc_id").alias("survivor_doc_id"),
        )
    )


@register(
    "text_bpe_pair_merge",
    headline=True,
    tags=("text", "tokenizer", "bpe"),
    oracle=f"""
    WITH w AS (
      SELECT tok AS word, COUNT(*) AS wf
      FROM (SELECT unnest({SQL_TOKS.format(src='lower(text)')}) AS tok
            FROM documents)
      WHERE NOT contains(tok, chr(31))
      GROUP BY tok),
    prs AS (
      SELECT wf, unnest(list_transform(range(1, greatest(length(word), 1)),
               i -> struct_pack(a := word[i], b := word[i+1]))) AS u
      FROM w),
    pre AS (
      SELECT u.a AS sym_a, u.b AS sym_b, CAST(SUM(wf) AS BIGINT) AS cnt
      FROM prs GROUP BY 1, 2 HAVING SUM(wf) >= 2),
    best AS (
      SELECT sym_a AS ba, sym_b AS bb FROM pre
      ORDER BY cnt DESC, sym_a, sym_b LIMIT 1),
    m AS (
      SELECT wf, string_split(
               replace(
                 array_to_string(list_transform(range(1, length(word) + 1),
                                                i -> word[i]), chr(31)),
                 (SELECT ba FROM best) || chr(31) || (SELECT bb FROM best),
                 (SELECT ba FROM best) || (SELECT bb FROM best)),
               chr(31)) AS syms
      FROM w),
    pos0 AS (
      SELECT wf, unnest(list_transform(range(1, greatest(len(syms), 1)),
               i -> struct_pack(a := syms[i], b := syms[i+1]))) AS u
      FROM m),
    post AS (
      SELECT u.a AS sym_a, u.b AS sym_b, CAST(SUM(wf) AS BIGINT) AS cnt
      FROM pos0 GROUP BY 1, 2 HAVING SUM(wf) >= 2)
    SELECT 'pre' AS stage, sym_a, sym_b, cnt FROM pre
    UNION ALL
    SELECT 'post' AS stage, sym_a, sym_b, cnt FROM post
    """,
)
def text_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed BPE tokenizer-training iteration: word histogram
    (the only corpus-scale shuffle), vocabulary-side adjacent-pair counts,
    deterministic best-pair choice, left-to-right merge, post-merge
    recount — pre and post pair tables value-checked."""
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.bpe_pair_counts(docs, "text", min_count=2)


@register(
    "pipeline_feature_matrix",
    tags=("pipeline", "feature", "composed"),
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, n_chars,
             CAST(('0x' || substring(md5('fold' || CAST(doc_id AS VARCHAR)),
                                     1, 15)) AS BIGINT) % 5 AS fold,
             md5(text) AS th,
             CAST(len({SQL_TOKS.format(src='text')}) AS BIGINT) AS n_tokens
      FROM documents),
    dupes AS (
      SELECT th FROM base GROUP BY th HAVING COUNT(*) >= 2),
    ranked AS (
      SELECT doc_id, source, fold, n_chars, n_tokens,
             CASE WHEN b.th IN (SELECT th FROM dupes) THEN 1 ELSE 0 END
                 AS is_dup,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) - 1 AS r0,
             COUNT(*) OVER (PARTITION BY source) AS ng
      FROM base b),
    tot AS (SELECT COUNT(*) AS n FROM base),
    hist AS (SELECT n_chars AS v, COUNT(*) AS cnt FROM base GROUP BY 1),
    chist AS (
      SELECT v, SUM(cnt) OVER (ORDER BY v) - cnt AS lo,
             SUM(cnt) OVER (ORDER BY v) AS hi
      FROM hist),
    pos AS (
      SELECT r.*, CASE WHEN ng > 1
                       THEN greatest(1, (r0 * tot.n + (ng - 1) - 1)
                                        // (ng - 1))
                       ELSE 1 END AS p
      FROM ranked r CROSS JOIN tot),
    mat AS (
      SELECT pos.fold, pos.is_dup, pos.n_tokens, c.v AS norm_len
      FROM pos JOIN chist c ON pos.p > c.lo AND pos.p <= c.hi)
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(norm_len) AS BIGINT) AS sum_norm_len
    FROM mat GROUP BY fold
    """,
)
def pipeline_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition of the feature layer: deterministic fold
    assignment (features.fold_of), exact-dup flags (portable text hash,
    one corpus shuffle), token counts (codegen map), and cross-source
    quantile-normalized lengths (features.quantile_normalize on the
    distributed rank operators) — assembled into one per-fold training-
    matrix census. Every stage is an operator proven by its own registry
    entry; the composition stays ONE lazy plan."""
    from agol_pandas_spark.functions.text import portable_hash60
    from agol_pandas_spark.operators.features import fold_of, quantile_normalize

    docs = Catalog(spark, sf_dir).table("documents")
    normed = quantile_normalize(docs, "source", "n_chars", "doc_id").select(
        "doc_id", F.col("norm_value").alias("norm_len")
    )
    th = portable_hash60(F.col("text"))
    hashed = docs.select(
        "doc_id",
        fold_of("doc_id", 5).alias("fold"),
        th.alias("__th"),
        F.size(textops.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    dup_hashes = (
        hashed.groupBy("__th")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("__th")
    )
    flagged = hashed.join(
        F.broadcast(dup_hashes.withColumn("__d", F.lit(1))), "__th", "left"
    ).select(
        "doc_id",
        "fold",
        "n_tokens",
        F.coalesce("__d", F.lit(0)).alias("is_dup"),
    )
    mat = flagged.join(normed, "doc_id")
    return mat.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("norm_len").cast("long").alias("sum_norm_len"),
    )


@register(
    "feature_hashing_trick_vectorize",
    tags=("feature", "text", "vectorize"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({SQL_TOKS.format(src='text')}) AS tok
      FROM documents),
    pb AS (
      SELECT doc_id,
             {SQL_HASH60.format(expr='tok')} % 64 AS b,
             COUNT(*) AS c
      FROM t GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS INTEGER) AS nnz,
           string_agg(b || ':' || c, ' ' ORDER BY b) AS vec
    FROM pb GROUP BY doc_id
    """,
)
def feature_hashing_trick_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization
    (``operators/features.hashing_trick_features``): tokens → fixed
    64-bucket count vectors through the portable md5 hash — the
    vocabulary-free featurizer whose only wide operations are two
    keyed aggregations, with no dictionary to build, broadcast, or
    keep consistent across a 100 TB corpus. Vectors serialize as
    bucket-ordered ``b:c`` strings both engines build bit-equal."""
    docs = Catalog(spark, sf_dir).table("documents")
    from agol_pandas_spark.operators.features import hashing_trick_features

    return hashing_trick_features(docs, "doc_id", "text", n_buckets=64)


@register(
    "text_inverted_index_search",
    tags=("text", "index", "search"),
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({SQL_TOKS.format(src='text')}) AS tok
      FROM documents),
    p AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM t WHERE tok IN ('batch', 'vector') GROUP BY 1, 2)
    SELECT doc_id AS doc,
           CAST(COUNT(*) AS INTEGER) AS n_terms_matched,
           CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM p GROUP BY 1 HAVING COUNT(*) = 2
    """,
)
def text_inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search through a PERSISTED inverted index
    (``textops.build_inverted_index`` / ``search_conjunctive``): the
    corpus is indexed once as token-sorted (token, doc, tf) postings —
    range-partitioned so a term lookup prunes to the file whose footer
    token span covers it — and the AND of two terms is answered from
    postings alone, never re-reading document text. The oracle replays
    the same intersection straight off the corpus."""
    import shutil
    import tempfile

    docs = Catalog(spark, sf_dir).table("documents")
    idx_root = tempfile.mkdtemp(prefix="inv_index_")
    idx_cat = Catalog(spark, idx_root)
    textops.build_inverted_index(idx_cat, "postings", docs, "doc_id", "text")
    out = textops.search_conjunctive(idx_cat, "postings", ["batch", "vector"])
    # materialize before the temp index directory disappears
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(idx_root, ignore_errors=True)
    return out


@register(
    "sample_temperature_domain_mix",
    tags=("sampling", "mixing", "temperature", "text"),
    oracle=f"""
    WITH c AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM c),
    t AS (SELECT MIN(n / w) AS t FROM w),
    r AS (
      SELECT source,
             CAST(least(1000000, floor(w * t.t / n * 1000000)) AS BIGINT) AS ppm
      FROM w, t),
    s AS (
      SELECT d.doc_id, d.source
      FROM documents d JOIN r ON d.source = r.source
      WHERE {SQL_HASH60.format(expr="'tmix' || CAST(doc_id AS VARCHAR)")}
            % 1000000 < r.ppm)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM s GROUP BY source
    """,
)
def sample_temperature_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (T=2) domain rebalance
    (``textops.temperature_mix_sample``): target weights ∝ √n_source
    derived from the corpus itself — the multilingual-pretraining
    rebalance that lifts tail sources without hand-tuned weights or
    upsampling. sqrt is IEEE-correctly-rounded in both engines, so the
    floor-ppm keep-rates and the hash-gated admitted set reproduce
    row-for-row in the oracle."""
    docs = Catalog(spark, sf_dir).table("documents")
    kept = textops.temperature_mix_sample(docs, "doc_id", "source")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _sql_bpe_unroll(n_merges: int) -> str:
    """Unrolled BPE training rounds over CTE ``w0`` (wf, syms). Emits
    ``b{i}`` (best pair + count) and ``s{i}`` (post-merge symbol total)."""
    parts = []
    for i in range(1, n_merges + 1):
        parts.append(f"""p{i} AS MATERIALIZED (
          SELECT u.a AS sym_a, u.b AS sym_b, SUM(wf) AS cnt FROM (
            SELECT wf, unnest(list_transform(range(1, greatest(len(syms), 1)),
                     j -> struct_pack(a := syms[j], b := syms[j + 1]))) AS u
            FROM w{i - 1}) GROUP BY 1, 2)""")
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT sym_a AS ba, sym_b AS bb, cnt "
            f"FROM p{i} ORDER BY cnt DESC, sym_a, sym_b LIMIT 1)"
        )
        parts.append(f"""w{i} AS MATERIALIZED (
          SELECT wf, string_split(
                   replace(array_to_string(syms, chr(31)),
                           (SELECT ba FROM b{i}) || chr(31) || (SELECT bb FROM b{i}),
                           (SELECT ba FROM b{i}) || (SELECT bb FROM b{i})),
                   chr(31)) AS syms
          FROM w{i - 1})""")
        parts.append(
            f"s{i} AS (SELECT SUM(wf * len(syms)) AS total FROM w{i})"
        )
    return ",\n    ".join(parts)


@register(
    "text_bpe_learned_merges",
    tags=("text", "tokenizer", "bpe", "iterative"),
    oracle=f"""
    WITH w0 AS MATERIALIZED (
      SELECT wf, list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
      FROM (
        SELECT tok AS word, COUNT(*) AS wf
        FROM (SELECT unnest({SQL_TOKS.format(src='lower(text)')}) AS tok
              FROM documents)
        WHERE NOT contains(tok, chr(31))
        GROUP BY tok)),
    {_sql_bpe_unroll(4)}
    {' UNION ALL '.join(
        f'''SELECT CAST({i} AS INTEGER) AS merge_rank,
               (SELECT ba FROM b{i}) AS sym_a,
               (SELECT bb FROM b{i}) AS sym_b,
               CAST((SELECT cnt FROM b{i}) AS BIGINT) AS pair_count,
               CAST((SELECT total FROM s{i}) AS BIGINT) AS corpus_symbols_after'''
        for i in range(1, 5)
    )}
    """,
)
def text_bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer-training loop
    (``textops.bpe_learn_merges``): four merges learned iteratively —
    pair counts on the weighted vocabulary, deterministic best pair as
    a 1-row sort-limit broadcast, left-to-right merge, recount — with
    the corpus-wide symbol count after each merge (the compression
    trajectory). One corpus-scale shuffle total; every iteration runs
    on the vocabulary. The oracle unrolls all four rounds."""
    docs = Catalog(spark, sf_dir).table("documents")
    return textops.bpe_learn_merges(docs, "text", n_merges=4)


@register(
    "text_kneser_ney_bigram_ppm",
    tags=("text", "lm", "ngram", "smoothing"),
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKS.format(src='lower(text)')} AS t FROM documents),
    bg AS (
      SELECT u.a AS w1, u.b AS w2, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                 i -> struct_pack(a := t[i], b := t[i + 1]))) AS u
        FROM toks) GROUP BY 1, 2),
    left_tot AS (
      SELECT w1, SUM(c) AS c1, COUNT(*) AS fanout FROM bg GROUP BY 1),
    right_cont AS (
      SELECT w2, COUNT(*) AS cont FROM bg GROUP BY 1),
    ntypes AS (SELECT COUNT(*) AS nt FROM bg)
    SELECT bg.w1, bg.w2, CAST(bg.c AS BIGINT) AS c,
           CAST((4 * bg.c - 3) * 1000000 // (4 * lt.c1)
                + 3 * lt.fanout * rc.cont * 1000000 // (4 * lt.c1 * nt.nt)
                AS BIGINT) AS pkn_ppm
    FROM bg
    JOIN left_tot lt ON lt.w1 = bg.w1
    JOIN right_cont rc ON rc.w2 = bg.w2
    CROSS JOIN ntypes nt
    ORDER BY pkn_ppm DESC, bg.w1, bg.w2
    LIMIT 50
    """,
)
def text_kneser_ney_bigram_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney-smoothed bigram language model (d = 3/4) in EXACT
    integer parts-per-million — the n-gram LM that scores data-quality
    and contamination filters, without a single float: the discount
    d=3/4 makes the discounted term (4c−3)/4c(w1·) an integer ratio,
    and the continuation weight λ(w1)·P_cont(w2) is a product of
    integer censuses (distinct-successor fan-out × distinct-predecessor
    continuation over bigram-type count). Three aggregations over ONE
    bigram table (which is vocabulary²-bounded, not corpus-bounded —
    the same collapse every n-gram stage here rides); top-50 by
    smoothed probability via TakeOrderedAndProject. (At web-scale
    vocabularies the integer products need DECIMAL(38,0) headroom —
    here they stay far under 2⁶³.)"""
    from agol_pandas_spark.functions.text import tokens as tok_fn

    docs = Catalog(spark, sf_dir).table("documents")
    bg = (
        docs.select(tok_fn(F.lower(F.col("text"))).alias("t"))
        .select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i - 1] AS a, t[i] AS b)) "
                    "ELSE cast(array() AS array<struct<a:string,b:string>>) END"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lt = bg.groupBy(F.col("w1").alias("lw1")).agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("fanout")
    )
    rc = bg.groupBy(F.col("w2").alias("rw2")).agg(F.count(F.lit(1)).alias("cont"))
    nt = bg.agg(F.count(F.lit(1)).alias("nt"))
    return (
        bg.join(lt, bg.w1 == lt.lw1)
        .join(rc, bg.w2 == rc.rw2)
        .join(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c"),
            F.expr(
                "CAST((4 * c - 3) * 1000000 div (4 * c1)"
                " + 3 * fanout * cont * 1000000 div (4 * c1 * nt) AS BIGINT)"
            ).alias("pkn_ppm"),
        )
        .orderBy(F.col("pkn_ppm").desc(), "w1", "w2")
        .limit(50)
    )


@register(
    "sample_neyman_allocation",
    tags=("sampling", "stratified", "design"),
    oracle=f"""
    WITH m AS (
      SELECT c_mktsegment AS seg,
             CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sx,
             SUM(CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS HUGEINT)
                 * CAST(round(c_acctbal * 100) AS BIGINT)) AS sxx
      FROM customer GROUP BY 1),
    sd AS (
      SELECT seg, nh,
             sqrt((CAST(nh AS DOUBLE) * (CAST(CAST(sxx AS HUGEINT) // 4294967296 AS DOUBLE) * 4294967296 + CAST(CAST(sxx AS HUGEINT) % 4294967296 AS DOUBLE))
                   - (CAST(CAST(CAST(sx AS HUGEINT) * sx AS HUGEINT) // 4294967296 AS DOUBLE) * 4294967296 + CAST(CAST(CAST(sx AS HUGEINT) * sx AS HUGEINT) % 4294967296 AS DOUBLE))) ) / CAST(nh AS DOUBLE) AS sh
      FROM m),
    w AS (SELECT seg, nh, sh, CAST(nh AS DOUBLE) * sh AS wh FROM sd),
    tw AS (SELECT SUM(wh) AS t FROM w),
    alloc AS (
      SELECT seg, nh, CAST(floor(1000.0 * wh / tw.t) AS BIGINT) AS n_alloc
      FROM w, tw),
    ranked AS (
      SELECT c.c_mktsegment AS seg, c.c_custkey,
             ROW_NUMBER() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY {SQL_HASH60.format(
                   expr="'neyman' || CAST(c.c_custkey AS VARCHAR)")},
                        c.c_custkey) AS rn
      FROM customer c)
    SELECT a.seg AS c_mktsegment, a.nh, a.n_alloc,
           CAST(COUNT(r.c_custkey) AS BIGINT) AS n_sampled,
           CAST(COALESCE(SUM(r.c_custkey), 0) AS BIGINT) AS key_checksum
    FROM alloc a
    LEFT JOIN ranked r ON r.seg = a.seg AND r.rn <= a.n_alloc
    GROUP BY 1, 2, 3
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling design: a fixed budget of
    1000 rows split across market segments ∝ N_h·S_h (stratum size ×
    stratum standard deviation) — the allocation that minimizes the
    estimator's variance, the difference between a sample that sees
    the volatile strata and one that wastes budget on homogeneous
    ones. Moments are exact integers (Σx² in DECIMAL/HUGEINT headroom;
    the variance numerator crosses 2⁶³, so it reassembles through the
    split-cast correctly-rounded doubles); S_h and the quota floor run
    on mirrored IEEE doubles. Selection is a deterministic per-stratum
    hash rank (partitioned window) capped at the quota — a pure
    function of the rows, like every sampler here.
    """
    from agol_pandas_spark.functions.text import portable_hash60

    cust = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    m = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("sxx"),
    )
    split = (
        lambda col: f"CAST(({col}) div 4294967296 AS DOUBLE) * 4294967296D "
        f"+ CAST(({col}) % 4294967296 AS DOUBLE)"
    )
    var_num = (
        f"CAST(nh AS DOUBLE) * ({split('sxx')})"
        f" - ({split('CAST(sx AS DECIMAL(38,0)) * sx')})"
    )
    w = m.select(
        "seg", "nh",
        F.expr(f"sqrt({var_num}) / CAST(nh AS DOUBLE)").alias("sh"),
    ).select("seg", "nh", "sh", (F.col("nh").cast("double") * F.col("sh")).alias("wh"))
    tw = w.agg(F.sum("wh").alias("t"))
    alloc = w.join(F.broadcast(tw)).select(
        "seg", "nh",
        F.floor(1000.0 * F.col("wh") / F.col("t")).cast("long").alias("n_alloc"),
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("c_mktsegment").orderBy(
        portable_hash60(
            F.concat(F.lit("neyman"), F.col("c_custkey").cast("string"))
        ),
        "c_custkey",
    )
    ranked = cust.withColumn("rn", F.row_number().over(wr)).select(
        F.col("c_mktsegment").alias("rseg"), "c_custkey", "rn"
    )
    return (
        alloc.join(
            ranked,
            (alloc.seg == ranked.rseg) & (ranked.rn <= alloc.n_alloc),
            "left",
        )
        .groupBy(F.col("seg").alias("c_mktsegment"), "nh", "n_alloc")
        .agg(
            F.count("c_custkey").cast("long").alias("n_sampled"),
            F.coalesce(F.sum("c_custkey"), F.lit(0)).cast("long").alias(
                "key_checksum"
            ),
        )
    )


@register(
    "text_aho_corasick_multimatch",
    tags=("text", "multi-pattern", "search"),
    oracle="""
    WITH pats AS (
      SELECT * FROM (VALUES ('table'), ('value'), ('fast'),
                            ('part'), ('row'), ('key')) p(pattern)),
    hits AS (
      SELECT d.lang, p.pattern,
             (length(d.text) - length(replace(d.text, p.pattern, '')))
               // length(p.pattern) AS c
      FROM documents d CROSS JOIN pats p)
    SELECT lang, pattern, CAST(SUM(c) AS BIGINT) AS n_matches
    FROM hits GROUP BY 1, 2 HAVING SUM(c) > 0
    """,
)
def text_aho_corasick_multimatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary scan via a broadcast Aho–Corasick automaton
    (``operators/textops.aho_corasick_counts``): every pattern counted
    in ONE pass per document — the blocklist/PII-term/contamination
    primitive that at 10k patterns can't be a regex alternation and
    at 100 TB can't be k per-pattern LIKE passes over the corpus. The
    scan partially aggregates inside each Arrow batch, so the shuffle
    carries ≤ langs × patterns rows per batch. The oracle cross-checks
    with the replace-length identity (equal to AC counts for these
    border-free patterns); the engine-side automaton handles
    overlapping dictionaries the SQL identity cannot.
    """
    from agol_pandas_spark.operators.textops import aho_corasick_counts

    docs = Catalog(spark, sf_dir).table("documents")
    pats = ["table", "value", "fast", "part", "row", "key"]
    return aho_corasick_counts(docs, "text", pats, "lang").filter(
        F.col("n_matches") > 0
    )


@register(
    "text_code_prose_gate",
    tags=("text", "curation", "gate"),
    oracle="""
    WITH feats AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text)
                  - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                  AS BIGINT) AS n_symbols,
             CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('merge', 'window', 'hash', 'sort',
                               'scan', 'join', 'agg'))) AS BIGINT)
               AS kw_hits
      FROM documents WHERE length(text) > 0),
    gated AS (
      SELECT lang, n_chars, n_symbols, kw_hits,
             CASE WHEN n_symbols * 1000000 > 30000 * n_chars
                    OR kw_hits >= 3
                  THEN 1 ELSE 0 END AS is_code
      FROM feats)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_code) AS BIGINT) AS n_code,
           CAST(SUM(kw_hits) AS BIGINT) AS kw_total,
           CAST(SUM(n_symbols) AS BIGINT) * 1000000
             // CAST(SUM(n_chars) AS BIGINT) AS symbol_ppm
    FROM gated GROUP BY lang
    """,
)
def text_code_prose_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing gate — the pretraining-mix decision that
    sends code to the code pipeline (different dedup granularity,
    different quality rules) and prose to the text one: symbol density
    (non-alphanumeric chars per char, integer ppm) OR'd with a
    keyword token vote (calibrated here to the corpus's query-DSL
    vocabulary so the gate genuinely fires on both sides of the
    threshold). Pure JVM expressions (regexp_replace + split +
    filter — no Python in the row path); exact integer features,
    integer-ppm aggregates (`//` — operands non-negative, and DuckDB
    `/` on BIGINTs yields DOUBLE, a schema-level mismatch).
    """
    docs = Catalog(spark, sf_dir).table("documents").filter(
        F.length("text") > 0
    )
    kw = F.array(*[F.lit(k) for k in
                   ("merge", "window", "hash", "sort", "scan", "join", "agg")])
    feats = docs.select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
        ).cast("long").alias("n_symbols"),
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: F.array_contains(kw, t))
        ).cast("long").alias("kw_hits"),
    )
    gated = feats.withColumn(
        "is_code",
        (
            (F.col("n_symbols") * 1000000 > 30000 * F.col("n_chars"))
            | (F.col("kw_hits") >= 3)
        ).cast("int"),
    )
    return gated.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_code").cast("long").alias("n_code"),
        F.sum("kw_hits").cast("long").alias("kw_total"),
        (
            (F.sum("n_symbols").cast("long") * 1000000)
            / F.sum("n_chars").cast("long")
        ).cast("long").alias("symbol_ppm"),
    )
