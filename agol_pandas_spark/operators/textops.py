"""Text-analysis operators: doc stats, quality scoring, language ID,
token counting, TF-IDF, fingerprinting (north-star ops, SURVEY §2b ★).

All per-document computation is array higher-order functions (a single
codegen map stage over the corpus); only corpus-level statistics (token
frequencies, document frequency for TF-IDF) shuffle, and those shuffles
carry (token, count) pairs — tiny next to the text itself.

Determinism contract: token rules, hash (md5-portable), and score
arithmetic (per-row doubles, integer-scaled idf) are reproducible in the
DuckDB oracle — see ``workload/text_queries.py`` for the SQL twins.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import lru_cache as _lru_cache

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from agol_pandas_spark.functions.text import (
    count_tokens_in,
    portable_hash60,
    tokens,
    word_shingles,
)
from agol_pandas_spark.session import local_frame

# tiny built-in stopword profiles for the language-ID heuristic
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "und", "das", "ein"),
    "fr": ("le", "la", "et", "les", "un"),
    "es": ("el", "la", "y", "los", "una"),
}


def doc_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document surface statistics (one map stage)."""
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("text_len"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("total_token_chars"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality score in [0,1]: length, lexical diversity,
    alpha-character ratio. Weights are fixed; per-row double arithmetic
    only (deterministic across engines)."""
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    uniq_ratio = F.when(n_tokens > 0, F.size(F.array_distinct(toks)) / n_tokens).otherwise(
        F.lit(0.0)
    )
    len_score = F.least(F.length(text_col) / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(
        F.length(text_col) > 0,
        F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", "")) / F.length(text_col),
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        (
            F.lit(0.4) * uniq_ratio + F.lit(0.3) * len_score + F.lit(0.3) * alpha_ratio
        ).alias("quality"),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-profile language ID: argmax of per-language stopword hits
    (ties → lexicographically smallest language, 'und' = undetermined when
    zero hits). A real system plugs in character-n-gram profiles; the
    operator shape (per-row array scoring, no shuffle) is identical."""
    toks = tokens(F.lower(F.col(text_col)))
    hit_cols = {
        lang: count_tokens_in(toks, vocab) for lang, vocab in sorted(LANG_PROFILES.items())
    }
    out = df.select(F.col(id_col), *[c.alias(f"hits_{lang}") for lang, c in hit_cols.items()])
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in hit_cols])
    pred = F.lit("und")
    for lang in sorted(hit_cols, reverse=True):
        pred = F.when(
            (best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def token_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus token frequencies: explode → hash agg (map-side partial
    aggregation keeps the shuffle at vocabulary size, not corpus size)."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def tfidf(
    df: DataFrame,
    id_col: str,
    text_col: str,
    idf_scale: int = 1_000_000,
    n_docs: int | None = None,
) -> DataFrame:
    """TF-IDF with integer-scaled idf: score = tf × (N·scale ÷ df) using
    integer division — engine-portable exact arithmetic (float log-idf
    differs in final ulps across libm implementations; a scaled-rational
    idf ranks identically for fixed N).

    Two shuffles total: doc-term tf aggregation and term df aggregation;
    the df side is vocabulary-sized and broadcast back.
    """
    # no spread_small_scan here: the explode+groupBy below already
    # redistributes, so pre-shuffling the raw text costs more than the
    # single-task tokenize it would save (measured)
    if n_docs is None:
        n_docs = df.count()  # fallback: one extra corpus pass; callers
        # reading catalog tables should pass Catalog.row_count(...) —
        # a parquet-footer metadata read, no scan
    terms = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    tf = terms.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .select(
            F.col(id_col),
            "token",
            "tf",
            "df",
            (
                F.col("tf")
                # N·scale precomputed as a 64-bit literal: two int32
                # literals would overflow under ANSI mode at corpus scale
                * F.floor(
                    F.lit(int(n_docs) * idf_scale).cast("long") / F.col("df")
                ).cast("long")
            ).alias("score_scaled"),
        )
    )


def doc_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprint: 60-bit md5-derived hash of the normalized text
    (lowercase, whitespace collapsed). Equal fingerprints ⇒ exact dup
    candidates under normalization; used as a cheap pre-filter before
    byte-exact comparison at scale."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select(
        F.col(id_col),
        portable_hash60(normalized).alias("fingerprint"),
    )


def hash_sample(
    df: DataFrame,
    id_col: str,
    percent: int,
    strata_cols: Sequence[str] = (),
    salt: str = "sample",
) -> DataFrame:
    """Deterministic hash-gated sample: keep a row iff
    ``portable_hash60(salt || id) % 100 < percent``.

    The reproducible-sampling pattern for corpus curation: unlike
    ``df.sample(fraction, seed)`` — whose output depends on physical
    partitioning — the gate is a pure function of the row, so the sample
    is stable across cluster sizes, re-runs, and engines (the DuckDB
    oracle reproduces it exactly). ``strata_cols`` are carried through for
    per-stratum accounting; the rate applies uniformly within every
    stratum because the hash is independent of them.
    """
    gate = (
        F.pmod(portable_hash60(F.concat(F.lit(salt), F.col(id_col).cast("string"))), F.lit(100))
        < percent
    )
    return df.select(id_col, *strata_cols).filter(gate)


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher/C4-style repetition signals per document:

    - ``dup_token_frac``  — 1 − distinct/total tokens
    - ``adj_dup_pairs``   — adjacent equal-token pairs ("batch batch batch")
    - ``top_bigram_n`` / ``top_bigram_frac`` — most frequent word bigram
      and its share of all bigrams (the classic boilerplate detector)

    Per-doc scalars are one codegen map stage (token array materialized
    once behind a Generate barrier — HOF re-eval pitfall); only the
    bigram mode shuffles, carrying (doc, bigram-hash-sized) pairs. Ratios
    are single IEEE divisions → value-hash-portable; docs with < 2 tokens
    emit NULL ratios rather than dividing by zero.
    """
    base = df.select(
        F.col(id_col), F.explode(F.array(tokens(F.col(text_col)))).alias("__t")
    )
    n = F.size("__t")
    stats = base.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.size(F.array_distinct("__t")).alias("n_distinct"),
        F.when(n < 2, F.lit(0))
        .otherwise(
            F.size(
                F.filter(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.element_at("__t", i) == F.element_at("__t", i + 1),
                )
            )
        )
        .alias("adj_dup_pairs"),
    )
    bigrams = base.select(
        F.col(id_col), F.explode(word_shingles(F.col("__t"), 2)).alias("__bg")
    )
    top = (
        bigrams.groupBy(id_col, "__bg")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("top_bigram_n"))
    )
    return (
        stats.join(top, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            "n_distinct",
            "adj_dup_pairs",
            F.coalesce(F.col("top_bigram_n"), F.lit(0)).alias("top_bigram_n"),
            F.when(
                F.col("n_tokens") >= 1,
                (F.col("n_tokens") - F.col("n_distinct")).cast("double")
                / F.col("n_tokens"),
            ).alias("dup_token_frac"),
            F.when(
                F.col("n_tokens") >= 2,
                F.coalesce(F.col("top_bigram_n"), F.lit(0)).cast("double")
                / (F.col("n_tokens") - 1),
            ).alias("top_bigram_frac"),
        )
    )


def benchmark_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 8,
) -> DataFrame:
    """Benchmark-contamination scan: documents sharing any word ``ngram``
    with a held-out benchmark set (the eval-leak gate every training
    pipeline needs).

    Both sides reduce to DISTINCT shingle hashes (60-bit md5-portable
    ints), so the join shuffles 8-byte keys, never text; the benchmark
    side is tiny by construction and broadcasts. Returns one row per
    contaminated doc: shared-shingle count and how many benchmark docs
    it hits. Hash collisions are deterministic and mirrored by the
    oracle (it joins on the same hash).
    """

    def shingle_hashes(d: DataFrame, out_id: str) -> DataFrame:
        sh = d.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array_distinct(word_shingles(tokens(F.col(text_col)), ngram))
            ).alias("__s"),
        )
        return sh.select(out_id, portable_hash60(F.col("__s")).alias("__h"))

    from agol_pandas_spark.operators.chunking import spread_small_scan

    # the corpus-side shingle map runs BEFORE any exchange (the join below
    # broadcasts), so a one-file scan would pin it to one task — spread it;
    # the benchmark side is tiny and stays put
    doc_sh = shingle_hashes(spread_small_scan(df), id_col)
    bench_sh = shingle_hashes(benchmark, "__bench_id")
    return (
        doc_sh.join(F.broadcast(bench_sh), "__h")
        .groupBy(id_col)
        .agg(
            F.countDistinct("__h").alias("n_shared_ngrams"),
            F.countDistinct("__bench_id").alias("n_bench_docs"),
        )
    )


# PII patterns chosen to be portable between Java regex (Spark) and RE2
# (DuckDB oracle): no backreferences, no lookaround. Replacement order is
# email -> ipv4 -> phone; the patterns are mutually non-overlapping on any
# input (an email match consumes its digits; a 3-group phone can never
# parse as a 4-group ipv4), so per-pattern counts on the ORIGINAL text
# equal the number of replacements performed.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
}


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact emails / IPv4 addresses / US-style phone numbers and count
    each category. Pure codegen map stage (regexp_count + chained
    regexp_replace) — no shuffle, no Python; 100 TB streams through.

    Output: ``id, n_emails, n_ipv4, n_phones, redacted_len, redacted``.
    """
    text = F.col(text_col)
    redacted = text
    counts = {}
    for name, (pat, token) in PII_PATTERNS.items():
        counts[name] = F.regexp_count(text, F.lit(pat))
        redacted = F.regexp_replace(redacted, pat, token)
    return df.select(
        F.col(id_col),
        counts["email"].alias("n_emails"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
        redacted.alias("redacted"),
    )


def shard_by_token_budget(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
) -> DataFrame:
    """Token-budget sharding for training-batch assembly: documents, taken
    in ``id_col`` order, are assigned to consecutive shards by their
    cumulative token *starting offset* — ``shard_id = start // budget``.
    Shard totals hover around ``budget`` (a document may straddle a
    boundary and tip its shard over; none is split).

    Scale shape: the exclusive running total comes from
    ``chunking.with_running_total`` — range shuffle + P-integer partials +
    one Arrow pass — no global window, no driver materialization. The
    deterministic order makes shard assignment reproducible across runs
    and engines (the DuckDB oracle reproduces it with a window cumsum).
    """
    from agol_pandas_spark.operators.chunking import with_running_total

    if budget <= 0:
        raise ValueError("budget must be positive")
    shards = with_running_total(df, n_tokens_col, [id_col], "__start")
    return shards.withColumn(
        "shard_id", F.floor(F.col("__start") / F.lit(budget)).cast("long")
    ).drop("__start")


def greedy_pack_bins(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    shard_col: str = "shard_id",
) -> DataFrame:
    """True greedy sequence packing *within shards*: walking each shard in
    ``id_col`` order, a document joins the current bin unless it would
    push the bin over ``budget`` (documents larger than the budget get a
    bin of their own). Emits ``bin_id`` (local to the shard) per document.

    Greedy packing is a sequential recurrence — not expressible as a
    closed-form window function — so it runs as ``applyInPandas`` per
    shard: the coarse :func:`shard_by_token_budget` pass bounds each
    shard's size, making per-group state tiny and the stage
    embarrassingly parallel across shards. This two-level design (shard
    globally by offset, pack greedily within shards) is the standard
    scalable shape; only bins at shard boundaries differ from a
    single-sequential pack.
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError("budget must be positive")
    out_fields = df.schema.fields
    schema_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
    schema_ddl += ", bin_id long"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        bins = []
        cur_bin, cur_tok = 0, 0
        for n in pdf[n_tokens_col]:
            n = int(n)
            if cur_tok > 0 and cur_tok + n > budget:
                cur_bin += 1
                cur_tok = 0
            bins.append(cur_bin)
            cur_tok += n
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    return df.groupBy(shard_col).applyInPandas(pack, schema_ddl)


def domain_mix_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    weights: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Deterministic downsampling toward a target domain mix — the
    pretraining-data "source mixing" step (web 60% / code 25% / books 15%
    …) as a reproducible one-liner.

    Given target weights ``w_d`` and observed counts ``n_d``, the largest
    achievable mixed corpus without upsampling is ``T = min_d(n_d/w_d)``;
    each domain keeps ``rate_d = w_d·T/n_d`` of its rows (the limiting
    domain keeps 100%). Rates quantize to parts-per-million and gate on
    the portable row hash, so the sample is a pure row function — stable
    across partitioning, cluster size, re-runs, and engines (the DuckDB
    oracle reproduces it row-for-row). Domains absent from ``weights``
    are dropped.

    Plan shape: one tiny per-domain count aggregation → scalar min →
    ppm-rate table broadcast back onto the corpus scan; the corpus is
    read twice (count pass + filter pass). At scale, feed ``counts`` from
    catalog statistics instead to make it one pass.
    """
    spark = df.sparkSession
    wdf = local_frame(
        spark,
        [(d, float(w)) for d, w in weights.items()],
        T.StructType.fromDDL(f"{domain_col} string, __w double"),
    )
    counts = (
        df.join(F.broadcast(wdf), domain_col)
        .groupBy(domain_col, "__w")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    t = counts.agg(F.min(F.col("__n") / F.col("__w")).alias("__t"))
    rates = counts.crossJoin(F.broadcast(t)).select(
        F.col(domain_col),
        F.least(
            F.lit(1_000_000).cast("long"),
            F.floor(F.col("__w") * F.col("__t") / F.col("__n") * 1_000_000).cast(
                "long"
            ),
        ).alias("__ppm"),
    )
    gate = (
        F.pmod(
            portable_hash60(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
            F.lit(1_000_000),
        )
        < F.col("__ppm")
    )
    return df.join(F.broadcast(rates), domain_col).filter(gate).drop("__ppm")


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_symbol_ratio: float = 0.1,
    max_dup_2gram_frac: float = 0.5,
    carry_cols: tuple = (),
) -> DataFrame:
    """Gopher-style rule-based document quality filter (Rae et al. 2021,
    "Scaling Language Models" §A1.1 shape): per-document boolean rule
    flags + the conjunction, one map stage, no shuffle.

    Every ratio rule is evaluated in INTEGER arithmetic (cross-multiplied:
    ``5*alpha_words >= 4*n_words`` instead of ``alpha/n >= 0.8``), so the
    flags are bit-portable across engines — no derived-double knife edges
    (ratio thresholds must be expressible as small rationals; the
    defaults are). Rules:

    - word count within [min_words, max_words]
    - mean word length within [min, max] chars (as chars vs n·bound)
    - fraction of words containing an alphabetic char >= 0.8
    - at least ``min_stopword_hits`` English stopword occurrences
    - '#'/'…' symbols per word <= 0.1
    - duplicate 2-gram fraction <= 0.5 (the repetition rule)

    ONE Arrow pandas UDF computes all six rules per batch (r11) — the
    text crosses the JVM↔Python boundary once and is tokenized ONCE per
    document (guide §4.1/§4.2). Flags are pinned to the
    ``text_gopher_rules_filter`` DuckDB oracle by
    ``tests/test_textops_curation.py::test_arrow_gopher_bit_identical``.

    ``carry_cols`` threads extra input columns (e.g. the text itself)
    through to the output row, so a gate-then-process pipeline filters
    in the SAME scan instead of computing flags on one scan and joining
    them back onto a second scan of the input (r11: the join shape read
    the corpus twice per gated pipeline).
    """
    fl = _gopher_flags_arrow(
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        min_alpha_word_frac, min_stopword_hits, max_symbol_ratio,
        max_dup_2gram_frac,
    )
    names = (
        "n_words", "ok_word_count", "ok_mean_word_len", "ok_alpha_frac",
        "ok_stopwords", "ok_symbol_ratio", "ok_repetition", "pass_gopher",
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        fl(F.col(text_col)).alias("__g"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        *[F.col(f"__g.{n}").alias(n) for n in names],
    )


def _gopher_flags_arrow(
    min_words: int,
    max_words: int,
    min_mean_word_len: int,
    max_mean_word_len: int,
    min_alpha_word_frac: float,
    min_stopword_hits: int,
    max_symbol_ratio: float,
    max_dup_2gram_frac: float,
):
    """Arrow Gopher-gate kernel factory (cached per threshold set).

    NULL semantics: NULL text yields NULL for every token-derived flag,
    ``ok_repetition`` TRUE (a NULL document has no 2-grams, so ``n2 = 0``
    and the ``n2 == 0`` escape fires), and a NULL conjunction. The DuckDB
    oracle agrees on every flag but ``ok_repetition``, which it leaves
    NULL (``len(NULL)`` propagates). Ratio thresholds go through
    ``Fraction.limit_denominator(1000)`` and are cross-multiplied, as in
    the oracle, so every comparison is integer-exact.
    Nondeterministic marking stops optimizer duplication below inferred
    filters (guide §4.4) and blocks CollapseProject from inlining the
    struct field extractions into eight kernel copies."""
    from fractions import Fraction

    return _gopher_flags_arrow_cached(
        int(min_words), int(max_words), int(min_mean_word_len),
        int(max_mean_word_len),
        Fraction(min_alpha_word_frac).limit_denominator(1000),
        int(min_stopword_hits),
        Fraction(max_symbol_ratio).limit_denominator(1000),
        Fraction(max_dup_2gram_frac).limit_denominator(1000),
    )


@_lru_cache(maxsize=16)
def _gopher_flags_arrow_cached(
    min_words, max_words, min_mwl, max_mwl, alpha_frac, min_stop,
    sym_frac, dup_frac,
):
    import re

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from agol_pandas_spark.functions.text import py_tokens

    alpha_re = re.compile("[A-Za-z]")
    stopset = frozenset(LANG_PROFILES["en"])
    ap, aq = alpha_frac.numerator, alpha_frac.denominator
    sp, sq = sym_frac.numerator, sym_frac.denominator
    dp, dq = dup_frac.numerator, dup_frac.denominator

    out_type = T.StructType(
        [
            T.StructField("n_words", T.IntegerType()),
            T.StructField("ok_word_count", T.BooleanType()),
            T.StructField("ok_mean_word_len", T.BooleanType()),
            T.StructField("ok_alpha_frac", T.BooleanType()),
            T.StructField("ok_stopwords", T.BooleanType()),
            T.StructField("ok_symbol_ratio", T.BooleanType()),
            T.StructField("ok_repetition", T.BooleanType()),
            T.StructField("pass_gopher", T.BooleanType()),
        ]
    )

    @pandas_udf(out_type)
    def _flags(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for tx in texts:
            if tx is None:
                # every token-derived column is NULL, EXCEPT the 2-gram
                # counts (a NULL document has none) so ok_repetition is
                # TRUE and the conjunction NULL.
                rows.append((None,) * 6 + (True, None))
                continue
            toks = py_tokens(tx)
            n = len(toks)
            chars = sum(map(len, toks))
            alpha = sum(1 for t in toks if alpha_re.search(t))
            stop = sum(1 for t in py_tokens(tx.lower()) if t in stopset)
            sym = tx.count("#") + tx.count("…")
            m = n - 1
            if m <= 0:
                n2 = d2 = 0
            else:
                n2 = m
                d2 = len({f"{toks[i]} {toks[i + 1]}" for i in range(m)})
            okwc = min_words <= n <= max_words
            okml = n * min_mwl <= chars <= n * max_mwl
            okaf = alpha * aq >= n * ap
            oksw = stop >= min_stop
            oksr = sym * sq <= n * sp
            okrep = (n2 - d2) * dq <= n2 * dp or n2 == 0
            rows.append(
                (
                    n, okwc, okml, okaf, oksw, oksr, okrep,
                    okwc and okml and okaf and oksw and oksr and okrep,
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "n_words", "ok_word_count", "ok_mean_word_len",
                "ok_alpha_frac", "ok_stopwords", "ok_symbol_ratio",
                "ok_repetition", "pass_gopher",
            ],
        )

    return _flags.asNondeterministic()


def chunk_token_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 40,
    stride: int = 20,
) -> DataFrame:
    """Split documents into overlapping token windows — the chunking
    primitive feeding embedding/RAG pipelines (chunk → embed → index).

    One map stage + explode, no shuffle, no Python: chunk starts are
    ``sequence(1, n_tokens, stride)``; each chunk is ``slice(toks, start,
    window_tokens)`` (the final chunk may be short). Output one row per
    chunk: (id, chunk_id 0-based, start_token 1-based, n_tokens,
    chunk_hash) — the hash (portable 60-bit md5 of the space-joined
    window) stands in for chunk text so downstream exact-dedup of chunks
    never re-tokenizes. Empty documents produce no chunks.

    At 100 TB: output is ~(doc_tokens/stride) small rows per doc; the
    explode multiplies rows before any shuffle, so downstream groupBys
    see chunk-sized units — exactly what an embedding batch job wants.
    """
    toks = tokens(F.col(text_col))

    def chunks(tt):
        return F.when(F.size(tt) == 0, F.array().cast("array<int>")).otherwise(
            F.sequence(F.lit(1), F.size(tt), F.lit(stride))
        )

    # let-bind the token array through a 1-element transform (interpreted
    # HOFs re-evaluate outer subtrees per element; see word_shingles)
    exploded = df.select(
        F.col(id_col),
        F.explode(
            F.flatten(
                F.transform(
                    F.array(toks),
                    lambda tt: F.transform(
                        chunks(tt),
                        lambda s: F.struct(
                            s.alias("start_token"),
                            F.slice(tt, s, window_tokens).alias("__chunk"),
                        ),
                    ),
                )
            )
        ).alias("c"),
    )
    return exploded.select(
        F.col(id_col),
        ((F.col("c.start_token") - 1) / F.lit(stride)).cast("int").alias("chunk_id"),
        F.col("c.start_token"),
        F.size("c.__chunk").alias("n_tokens"),
        portable_hash60(F.concat_ws(" ", F.col("c.__chunk"))).alias("chunk_hash"),
    )


def gated_chunk_token_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 40,
    stride: int = 20,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_symbol_ratio: float = 0.1,
    max_dup_2gram_frac: float = 0.5,
) -> DataFrame:
    """Gopher gate → token-window chunking → chunk hashing as ONE fused
    Arrow kernel (``mapInPandas``) — the curation-pipeline composition of
    :func:`gopher_quality_flags` + ``filter(pass_gopher)`` +
    :func:`chunk_token_windows`, row-identical to that composition
    (pinned by ``tests/test_textops_curation.py::
    test_gated_chunk_windows_matches_composition``).

    Why fused (guide §4.1/§4.2): the composition tokenizes each document
    three times (gate kernel: original + lowered; JVM chunker: ``split``
    again) and ships the full text through the Python boundary only to
    re-derive the same token array in interpreted JVM HOFs afterwards.
    Here the text crosses the boundary once, is tokenized once (the
    lowered stream only for documents that survive the cheaper rules —
    the gate rules short-circuit in ascending cost order, which the
    all-columns flag kernel cannot), and chunk hashes come out as small
    integer rows. Gate semantics are the flag kernel's exactly: NULL text
    → NULL conjunction → dropped; ratio thresholds cross-multiplied via
    ``Fraction.limit_denominator(1000)`` so every rule is integer-exact.

    Output schema matches ``chunk_token_windows`` (id, chunk_id,
    start_token, n_tokens, chunk_hash); only gate-surviving documents
    emit chunks, and a surviving document emits exactly its
    ``ceil(n_tokens/stride)`` windows (n_tokens >= 1 whenever
    ``min_words >= 1``; empty/failing documents emit nothing).
    """
    import re

    from pyspark.sql import types as T

    from agol_pandas_spark.functions.text import py_hash60, py_tokens

    from fractions import Fraction

    af = Fraction(min_alpha_word_frac).limit_denominator(1000)
    sf = Fraction(max_symbol_ratio).limit_denominator(1000)
    dfr = Fraction(max_dup_2gram_frac).limit_denominator(1000)
    ap, aq = af.numerator, af.denominator
    sp, sq = sf.numerator, sf.denominator
    dp, dq = dfr.numerator, dfr.denominator
    alpha_re = re.compile("[A-Za-z]")
    stopset = frozenset(LANG_PROFILES["en"])
    lo, hi, mwl_lo, mwl_hi = min_words, max_words, min_mean_word_len, max_mean_word_len
    min_stop, win, step = min_stopword_hits, window_tokens, stride

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("chunk_id", T.IntegerType()),
            T.StructField("start_token", T.IntegerType()),
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("chunk_hash", T.LongType()),
        ]
    )

    def _kernel(batches):
        # Arrow record batches, not pandas: pandas coerces an int64 id
        # column to float64 whenever a batch contains a NULL id, so
        # surviving ids would round-trip through float (silent precision
        # loss above 2^53) and a NULL id would come back NaN (ADVICE
        # r11). Arrow keeps ids exact and NULLs NULL; the unfused
        # composition passes ids through unchanged, and so does this.
        import pyarrow as pa

        for batch in batches:
            id_arr = batch.column(0)
            ids, cids, sts, nts, hs = [], [], [], [], []
            for rid, tx in zip(
                id_arr.to_pylist(), batch.column(1).to_pylist()
            ):
                if tx is None:
                    continue  # NULL conjunction -> filtered out
                toks = py_tokens(tx)
                n = len(toks)
                if not (lo <= n <= hi):
                    continue
                sym = tx.count("#") + tx.count("…")
                if sym * sq > n * sp:
                    continue
                chars = sum(map(len, toks))
                if not (n * mwl_lo <= chars <= n * mwl_hi):
                    continue
                alpha = sum(1 for t in toks if alpha_re.search(t))
                if alpha * aq < n * ap:
                    continue
                m = n - 1
                if m > 0:
                    d2 = len({f"{toks[i]} {toks[i + 1]}" for i in range(m)})
                    if (m - d2) * dq > m * dp:
                        continue
                if sum(1 for t in py_tokens(tx.lower()) if t in stopset) < min_stop:
                    continue
                for s in range(1, n + 1, step):
                    chunk = toks[s - 1 : s - 1 + win]
                    ids.append(rid)
                    cids.append((s - 1) // step)
                    sts.append(s)
                    nts.append(len(chunk))
                    hs.append(py_hash60(" ".join(chunk)))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, id_arr.type),
                    pa.array(cids, pa.int32()),
                    pa.array(sts, pa.int32()),
                    pa.array(nts, pa.int32()),
                    pa.array(hs, pa.int64()),
                ],
                names=[id_col, "chunk_id", "start_token", "n_tokens", "chunk_hash"],
            )

    return df.select(id_col, text_col).mapInArrow(_kernel, out_schema)


def weighted_row_sample(
    df: DataFrame,
    id_col: str,
    weight_col,
    salt: str = "wsample",
) -> DataFrame:
    """Per-row weighted Bernoulli sampling: keep row ``i`` with
    probability ``w_i`` (clamped to [0, 1]) — the per-ROW generalization
    of :func:`domain_mix_sample` (per-domain rates), used for
    quality-weighted corpus downsampling ("keep good documents more
    often").

    Engine-portable by construction: the gate is
    ``hash60(salt || id) < floor(w · 2^60)`` — the hash is a pure row
    function, ``2^60`` is a power of two so ``w · 2^60`` is one exact
    IEEE multiply, and the comparison is BIGINT vs BIGINT. No RNG state,
    no partition dependence: the same row with the same weight is kept
    or dropped identically on any cluster size, any engine, any re-run.
    (The standard ``-ln(u)/w`` reservoir trick is deliberately avoided:
    ``ln`` is libm-dependent and NOT bit-portable across engines.)
    """
    w = weight_col if not isinstance(weight_col, str) else F.col(weight_col)
    bound = F.floor(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), w.cast("double")))
        * F.lit(float(2**60))
    ).cast("long")
    gate = portable_hash60(F.concat(F.lit(salt), F.col(id_col).cast("string"))) < bound
    return df.filter(gate)


def token_rank_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Frequency-rank quality proxy: rank every vocabulary token by corpus
    frequency (rank 1 = most common), then score each document by the
    rank-weighted mean of its tokens — a poor man's unigram LM: documents
    full of rare/garbage tokens score high, fluent common-word text
    scores low. All integer: ``rank_sum = Σ tf·rank`` and
    ``mean_rank_milli = 1000·rank_sum div n_tokens`` (no derived double
    is ever rounded).

    Scale shape: two shuffles (doc-term tf, vocab df) exactly like
    :func:`tfidf`; the vocabulary ranking runs through the distributed
    rank operator (operators/ranks.py: range-partitioned positions +
    per-partition offsets) — no single-partition window even at >100 M
    vocabulary types. (freq desc, token) is a total order, so the
    distributed rank equals the SQL twin's DENSE_RANK exactly. Empty
    docs carry no tokens and drop out (same as the SQL oracle's inner
    join).
    """
    from pyspark.storagelevel import StorageLevel

    from agol_pandas_spark.operators.ranks import add_global_ranks

    terms = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    # vocab frequencies derive from tf (freq = Σ tf over docs) so the
    # corpus is tokenized once; tf feeds both branches through a persist
    # (callers own the cache — similarity.py module docstring)
    tf = (
        terms.groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab = tf.groupBy("token").agg(F.sum("cnt").alias("freq"))
    ranked = add_global_ranks(
        vocab,
        ["freq", "token"],
        descending=[True, False],
        unique=True,
        rank_col="rnk",
    ).select("token", "rnk")
    return (
        tf.join(ranked, "token")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("rnk")).alias("rank_sum"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "rank_sum",
            F.expr("rank_sum * 1000 div n_tokens").alias("mean_rank_milli"),
        )
    )


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, shingle_size: int = 8
) -> DataFrame:
    """Cross-document n-gram novelty: for each document, how many of its
    distinct word n-grams appear in NO earlier document (earlier = smaller
    id — corpus order). High novelty = fresh content; low = recombination
    of text already seen. The memorization/diversity metric for
    pretraining corpora.

    Scale shape: distinct (doc, shingle-hash) pairs → one groupBy on the
    hash computes each shingle's first owner (min id) → a count vs a
    first-owner count per doc. Two shuffles on the shingle hash, rows are
    (long, long) pairs — never text. Novelty share is exact ppm (integer
    division).
    """
    from pyspark.storagelevel import StorageLevel

    sh = word_shingles(tokens(F.lower(F.col(text_col))), shingle_size)
    # persisted: the owner aggregation and the attribution join both read
    # the pair table; without the cache each re-runs the shingle-hash map
    # over the corpus (callers own the cache — similarity.py docstring)
    pairs = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(sh, lambda s: portable_hash60(s))
            )
        ).alias("sh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    owners = pairs.groupBy("sh").agg(F.min(id_col).alias("first_owner"))
    per_doc = (
        pairs.join(owners, "sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_ngrams"),
            F.sum((F.col("first_owner") == F.col(id_col)).cast("long")).alias(
                "n_novel_ngrams"
            ),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_distinct_ngrams",
        "n_novel_ngrams",
        F.expr("n_novel_ngrams * 1000000 div n_distinct_ngrams").alias(
            "novelty_ppm"
        ),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    n_docs: int | None = None,
    top_k: int = 50,
) -> DataFrame:
    """BM25 retrieval scoring against a fixed query, in exact integer
    arithmetic (k1 = 3/2, b = 3/4 — the standard constants as rationals).

    The classical formula's only non-rational piece is ``ln`` in the idf;
    this variant scores with the odds ratio itself,
    ``idf_ppm = 10⁶·(2(N−df)+1) div (2·df+1)`` — per-term ranking is
    monotone-identical to the ln form, and the result is engine-portable
    (no transcendental ever evaluated, so no libm ulp drift). The tf
    saturation term is cleared of fractions by scaling through ``8A``
    (A = total corpus tokens):
    ``tf_norm_ppm = 10⁶·20·A·tf div (8·A·tf + 3·A + 9·dl·N)``.
    Per-term score = ``tf_norm_ppm · idf_ppm``; doc score = Σ over query
    terms. Integer bounds: fits 2⁶³ up to ~10¹² corpus tokens at ppm
    scale; beyond that drop to per-mille.

    Scale shape: document length is ``size(tokens(text))`` — a map, no
    explode; only QUERY-term postings explode and aggregate (the isin
    filter prunes inside the same stage), so the tf shuffle carries a few
    rows per matching doc. df and the (A) total are broadcast; top-k is
    orderBy+limit = TakeOrderedAndProject.
    """
    terms = [t.lower() for t in query_terms]
    base = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__t"))
    dl = base.select(F.col(id_col), F.size(tokens(F.col("__t"))).cast("long").alias("dl"))
    totals = dl.agg(F.sum("dl").alias("A"))
    if n_docs is None:
        n_docs = df.count()
    tf = (
        base.select(F.col(id_col), F.explode(tokens(F.col("__t"))).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(dft), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(totals))
        .withColumn("N", F.lit(int(n_docs)).cast("long"))
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.expr(
                "1000000 * 20 * A * tf div (8 * A * tf + 3 * A + 9 * dl * N)"
            ).alias("tf_norm_ppm"),
            F.expr("1000000 * (2 * (N - df_t) + 1) div (2 * df_t + 1)").alias(
                "idf_ppm"
            ),
        )
        .withColumn("term_score", F.col("tf_norm_ppm") * F.col("idf_ppm"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum("term_score").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(top_k)
    )


def token_distribution_drift(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Total-variation distance between each group's token distribution
    and the rest of the corpus — the vocabulary-drift gate for a crawl
    snapshot or source: TV = ½·Σ_tok |p_grp(tok) − p_rest(tok)|, carried
    integer-exact as the long numerator ``Σ|c·n_rest − c_rest·n_grp|``
    over ``2·n_grp·n_rest`` (round-3 audit rule: no derived double is
    ever rounded; through ~10⁹ tokens per side the products stay under
    2⁶³ — beyond that carry the numerator as DECIMAL(38,0)).

    Tokens absent from the group still contribute: for tok ∉ grp the
    term is ``c_rest·n_grp``, and Σ over those closes in O(1) per group
    as ``(n_rest − Σ_{tok∈grp} c_rest)·n_grp`` — so the join only ever
    touches (group, token) pairs that EXIST, never the group×vocabulary
    cross product.

    Shape: one explode → (group, token) hash agg (map-side combined, the
    shuffle carries the per-group vocabulary, not the corpus); global
    per-token counts shuffle on token; the per-group totals row set is
    broadcast. Returns ``(group_col, n_grp, n_rest, tv_num, tv_ppm)``.
    """
    tok = df.select(
        F.col(group_col).alias("__grp"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    per = tok.groupBy("__grp", "token").agg(F.count(F.lit(1)).alias("c"))
    return token_tv_from_counts(per, "__grp").withColumnRenamed(
        "__grp", group_col
    )


def token_tv_from_counts(per: DataFrame, group_col: str) -> DataFrame:
    """TV drift from a pre-aggregated ``(group, token, c)`` counts table
    — the incremental entry point: counts are additive, so a streaming
    pipeline can append per-micro-batch partial counts into a state
    table and compute drift from the compacted sums at any point (see
    ``workload/streaming_queries.py:stream_drift_token_tv``). Same
    integer-exact contract and scale shape as
    :func:`token_distribution_drift`, which delegates here.
    """
    per = per.select(
        F.col(group_col).alias("__grp"), "token", F.col("c").cast("long")
    )
    glob = per.groupBy("token").agg(F.sum("c").alias("c_all"))
    totals = per.groupBy("__grp").agg(F.sum("c").alias("n_grp"))
    n_all = per.agg(F.sum("c").alias("n_all"))
    terms = (
        per.join(glob, "token")
        .join(F.broadcast(totals), "__grp")
        .crossJoin(F.broadcast(n_all))
        .select(
            "__grp",
            "n_grp",
            (F.col("n_all") - F.col("n_grp")).alias("n_rest"),
            (F.col("c_all") - F.col("c")).alias("c_rest"),
            F.abs(
                F.col("c") * (F.col("n_all") - F.col("n_grp"))
                - (F.col("c_all") - F.col("c")) * F.col("n_grp")
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("__grp")
        .agg(
            F.max("n_grp").alias("n_grp"),
            F.max("n_rest").alias("n_rest"),
            (
                F.sum("term")
                + (F.max("n_rest") - F.sum("c_rest")) * F.max("n_grp")
            ).alias("tv_num"),
        )
        .select(
            F.col("__grp").alias(group_col),
            "n_grp",
            "n_rest",
            "tv_num",
            F.expr("tv_num * 1000000L div (2 * n_grp * n_rest)").alias(
                "tv_ppm"
            ),
        )
    )


def canonical_url(url) -> "F.Column":
    """URL canonicalization for crawl dedup (r6): strip the fragment,
    lowercase scheme and host, drop an explicit ``:443`` default port,
    drop ``utm_*`` tracking params, and sort the remaining query params
    — so the same resource fetched under cosmetic variations collapses
    to one key. Pure codegen string/array expressions (regexp + split +
    ``filter``/``sort_array``/``array_join``), no UDF; every step has a
    verbatim DuckDB twin so canonical keys are value-hash-checkable.

    Deliberately conservative: path case, trailing slashes and %-escapes
    are preserved (case-folding a path changes the resource on
    case-sensitive servers; escape normalization needs a full RFC 3986
    codec — both belong to a fetch-layer normalizer, not a dedup key).
    """
    u = F.col(url) if isinstance(url, str) else url
    no_frag = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, "^([A-Za-z]+)://", 1))
    rest = F.regexp_replace(no_frag, "^[A-Za-z]+://", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(rest, "^([^/]*)", 1)), ":443$", ""
    )
    pathq = F.regexp_replace(rest, "^[^/]*", "")
    path = F.regexp_extract(pathq, "^([^?]*)", 1)
    query = F.regexp_extract(pathq, "\\?(.*)$", 1)
    params = F.sort_array(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        )
    )
    qs = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


BPE_SEP = "\x1f"  # unit separator: joins symbols inside a word


def bpe_pair_counts(
    df: DataFrame,
    text_col: str,
    min_count: int = 2,
) -> DataFrame:
    """One iteration of byte-pair-encoding tokenizer training, distributed:
    adjacent-symbol pair counts before a merge, the best pair chosen and
    applied, and the pair counts after — ``(stage, sym_a, sym_b, cnt)``
    rows with ``stage ∈ {'pre', 'post'}``.

    Semantics (classic BPE, Sennrich et al. 2016, word-internal):

    - vocabulary = lowercased whitespace words with corpus frequencies;
    - iteration-1 symbols are single characters;
    - best pair = highest total count, ties broken (sym_a, sym_b)
      lexicographically — fully deterministic;
    - the merge replaces left-to-right non-overlapping occurrences inside
      every word (``'aaaa'`` with best pair ``(a,a)`` becomes
      ``[aa, aa]``), exactly what ``replace()`` does over the
      separator-joined symbol string in both engines;
    - pairs with total count < ``min_count`` are dropped from the output
      (they could never be merge candidates).

    Scale shape — the classic reason BPE training distributes well:

    1. ONE corpus-scale shuffle builds the word histogram (map-side
       combine collapses repeats before the exchange); everything after
       runs on the VOCABULARY (distinct words × weights), which is orders
       of magnitude smaller than the corpus.
    2. Pair counting explodes each distinct word into len-1 weighted
       pairs and shuffles (pair → Σ weight) — bounded by |alphabet|²
       distinct keys.
    3. The best pair is a 1-row sort-limit broadcast back onto the
       vocabulary; the merge itself is a pure map (string replace).

    Caveat: a token containing the ``\\x1f`` unit separator would alias a
    symbol boundary; such tokens are filtered out (vanishingly rare in
    text, and dropping them keeps the merge semantics exact).
    """
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .filter(~F.col("word").contains(BPE_SEP))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    # iteration-1 symbols are single characters; adjacent pairs by index
    pre_pairs = (
        words.select(
            "wf",
            # NB sequence(1, 0) is DESCENDING [1, 0] in Spark — a bare
            # sequence over len-1 corrupts 1-char words, hence the guard
            F.explode(
                F.expr(
                    "CASE WHEN length(word) >= 2 THEN "
                    "transform(sequence(1, length(word) - 1), "
                    "i -> struct(substring(word, i, 1) AS a, "
                    "substring(word, i + 1, 1) AS b)) "
                    "ELSE cast(array() AS array<struct<a:string,b:string>>) END"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("sym_a"), F.col("p.b").alias("sym_b"))
        .agg(F.sum("wf").alias("cnt"))
        .filter(F.col("cnt") >= int(min_count))
    )
    best = (
        pre_pairs.orderBy(F.col("cnt").desc(), "sym_a", "sym_b")
        .limit(1)
        .select(F.col("sym_a").alias("__ba"), F.col("sym_b").alias("__bb"))
    )
    sep = F.lit(BPE_SEP)
    merged = (
        words.crossJoin(F.broadcast(best))
        .withColumn(
            "__joined",
            F.expr(
                "array_join(transform(sequence(1, length(word)), "
                "i -> substring(word, i, 1)), '\x1f')"
            ),
        )
        .withColumn(
            "__merged",
            F.replace(
                F.col("__joined"),
                F.concat(F.col("__ba"), sep, F.col("__bb")),
                F.concat(F.col("__ba"), F.col("__bb")),
            ),
        )
        .withColumn("syms", F.split(F.col("__merged"), BPE_SEP))
    )
    post_pairs = (
        merged.select(
            "wf",
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) >= 2 THEN "
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(syms[i - 1] AS a, syms[i] AS b)) "
                    "ELSE cast(array() AS array<struct<a:string,b:string>>) END"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("sym_a"), F.col("p.b").alias("sym_b"))
        .agg(F.sum("wf").alias("cnt"))
        .filter(F.col("cnt") >= int(min_count))
    )
    return pre_pairs.select(
        F.lit("pre").alias("stage"), "sym_a", "sym_b", F.col("cnt").cast("long")
    ).unionByName(
        post_pairs.select(
            F.lit("post").alias("stage"), "sym_a", "sym_b", F.col("cnt").cast("long")
        )
    )


def build_inverted_index(catalog, name: str, docs: DataFrame,
                         id_col: str, text_col: str,
                         n_files: int = 8) -> str:
    """Persist a token → (doc, tf) inverted index as a catalog table —
    the search-engine primitive: answering "which documents contain
    these terms" from a 100 TB corpus must not scan the corpus.

    Postings are range-repartitioned AND sorted by token, so each
    parquet file (and each row group inside it) covers a narrow token
    span and a term lookup prunes to the one file whose footer min/max
    straddles the term — the same data-skipping machinery the zorder
    path uses, pointed at text. The index carries no document text:
    ~one slim row per distinct (token, doc), a small fraction of the
    corpus, built with ONE shuffle (the tf aggregation; the range
    partitioning rides the same exchange budget).
    """
    postings = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("token", "doc")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .repartitionByRange(n_files, "token")
        .sortWithinPartitions("token", "doc")
    )
    return catalog.write(postings, name, mode="overwrite")


def search_conjunctive(catalog, name: str, terms: Sequence[str]) -> DataFrame:
    """Conjunctive (AND) keyword search against an inverted index built
    by :func:`build_inverted_index`: fetch each term's postings — the
    ``token IN (...)`` predicate pushes to the parquet scan, so only
    the terms' row groups are read, never the index, never the corpus —
    and intersect them by requiring every term to appear. One
    postings-sized aggregation keyed on doc.

    Returns ``(doc, n_terms_matched, total_tf)`` for documents matching
    ALL terms.
    """
    ts = [str(t) for t in terms]
    if not ts:
        raise ValueError("search_conjunctive needs at least one term")
    p = catalog.table(name).filter(F.col("token").isin(ts))
    return (
        p.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .filter(F.col("n_terms_matched") == len(ts))
    )


def temperature_mix_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    temperature: float = 2.0,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual-pretraining
    rebalance, Conneau & Lample 2019): target weights ∝ n_d^(1/T)
    derived FROM the observed counts instead of hand-tuned — T=1 keeps
    the natural mix, T→∞ flattens to uniform; in between, long-tail
    domains are upweighted relative to the head without ever
    upsampling rows.

    Only ``T=2`` (weights ∝ √n_d) is exposed: sqrt is the one power
    with an IEEE-correctly-rounded primitive in both engines, so the
    per-domain keep-rates — ``ppm_d = min(1, (√n_d · min_e(n_e/√n_e))
    / n_d)`` in floor-ppm — reproduce bit-identically in the oracle,
    like every other gate in this file. Admission gates on the
    portable row hash: stable across partitioning, engines, re-runs.

    Plan shape mirrors :func:`domain_mix_sample`: one per-domain count
    aggregation, one scalar, a broadcast rate table onto the scan.
    """
    if float(temperature) != 2.0:
        raise ValueError(
            "only temperature=2.0 is supported (sqrt is the one power "
            "both engines round identically); got "
            f"{temperature!r}"
        )
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    weighted = counts.select(
        domain_col, "__n", F.sqrt(F.col("__n").cast("double")).alias("__w")
    )
    t = weighted.agg(F.min(F.col("__n") / F.col("__w")).alias("__t"))
    rates = weighted.crossJoin(F.broadcast(t)).select(
        F.col(domain_col),
        F.least(
            F.lit(1_000_000).cast("long"),
            F.floor(F.col("__w") * F.col("__t") / F.col("__n") * 1_000_000).cast(
                "long"
            ),
        ).alias("__ppm"),
    )
    gate = (
        portable_hash60(
            F.concat(F.lit(salt), F.col(id_col).cast("string"))
        )
        % 1_000_000
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(gate < F.col("__ppm"))
        .drop("__ppm")
    )


def bpe_learn_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 4,
) -> DataFrame:
    """Multi-iteration BPE tokenizer training: learn ``n_merges`` merges
    by repeatedly counting adjacent-symbol pairs on the weighted
    vocabulary, merging the best pair, and re-counting — the full
    Sennrich et al. (2016) loop, of which :func:`bpe_pair_counts` is
    one step. Same scale contract: ONE corpus-scale shuffle builds the
    word histogram; every iteration after runs on the vocabulary, the
    best pair is a 1-row sort-limit broadcast (never a driver
    collect), and the merge is a pure string map.

    Returns one row per learned merge:
    ``(merge_rank, sym_a, sym_b, pair_count, corpus_symbols_after)`` —
    the merge table a downstream encoder applies in rank order, plus
    the corpus-wide symbol count after each merge (the compression
    trajectory; it is NOT ``prev − pair_count`` because pair counting
    sees overlapping pairs while the merge is non-overlapping,
    left-to-right).
    """
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .filter(~F.col("word").contains(BPE_SEP))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
        .withColumn(
            "syms",
            F.expr(
                "transform(sequence(1, length(word)), "
                "i -> substring(word, i, 1))"
            ),
        )
        .select("wf", "syms")
        .localCheckpoint(eager=True)
    )
    sep = F.lit(BPE_SEP)
    out = None
    for rank in range(1, n_merges + 1):
        pairs = (
            words.select(
                "wf",
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) >= 2 THEN "
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i - 1] AS a, syms[i] AS b)) "
                        "ELSE cast(array() AS array<struct<a:string,b:string>>) END"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("sym_a"), F.col("p.b").alias("sym_b"))
            .agg(F.sum("wf").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.col("cnt").desc(), "sym_a", "sym_b")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        words = (
            words.crossJoin(
                F.broadcast(
                    best.select(
                        F.col("sym_a").alias("__ba"), F.col("sym_b").alias("__bb")
                    )
                )
            )
            .withColumn(
                "syms",
                F.split(
                    F.replace(
                        F.array_join(F.col("syms"), BPE_SEP),
                        F.concat(F.col("__ba"), sep, F.col("__bb")),
                        F.concat(F.col("__ba"), F.col("__bb")),
                    ),
                    BPE_SEP,
                ),
            )
            .select("wf", "syms")
            .localCheckpoint(eager=True)
        )
        after = words.agg(
            F.sum(F.col("wf") * F.size("syms")).alias("corpus_symbols_after")
        )
        row = best.join(F.broadcast(after)).select(
            F.lit(rank).alias("merge_rank"),
            "sym_a",
            "sym_b",
            F.col("cnt").cast("long").alias("pair_count"),
            F.col("corpus_symbols_after").cast("long"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def aho_corasick_counts(
    df: DataFrame,
    text_col: str,
    patterns: list[str],
    group_col: str,
) -> DataFrame:
    """Multi-pattern substring counting via a broadcast Aho–Corasick
    automaton: ONE pass over each document counts occurrences of EVERY
    pattern simultaneously — the dictionary-scan primitive behind PII
    term lists, blocklists, and benchmark-contamination screens, where
    a 10k-alternative regex is quadratic-ish and per-pattern ``LIKE``
    passes re-read the corpus k times. The automaton (goto + failure +
    output links, Aho & Corasick 1975) builds once per task from the
    pattern list captured in the closure — O(Σ|p|) driver-side state,
    broadcast implicitly. The scan is the sanctioned imperative
    ``mapInPandas`` case, and it PARTIALLY AGGREGATES inside each Arrow
    batch — emitting (group, pattern, count) partials, never per-match
    rows — so the downstream shuffle carries ≤ groups × patterns rows
    per batch regardless of corpus size. Counts include overlapping
    occurrences (all matches), which equals the non-overlapping count
    for border-free patterns.
    """
    import pandas as pd

    pats = list(patterns)

    def build():
        goto: list[dict] = [{}]
        out: list[list[int]] = [[]]
        for idx, p in enumerate(pats):
            s = 0
            for ch in p:
                if ch not in goto[s]:
                    goto.append({})
                    out.append([])
                    goto[s][ch] = len(goto) - 1
                s = goto[s][ch]
            out[s].append(idx)
        fail = [0] * len(goto)
        queue = list(goto[0].values())
        for s in queue:
            fail[s] = 0
        i = 0
        while i < len(queue):
            r = queue[i]
            i += 1
            for ch, u in goto[r].items():
                queue.append(u)
                f = fail[r]
                while f and ch not in goto[f]:
                    f = fail[f]
                fail[u] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != u else 0
                out[u] = out[u] + out[fail[u]]
        return goto, fail, out

    def scan(batches):
        goto, fail, out = build()
        for pdf in batches:
            acc: dict = {}
            for grp, text in zip(pdf[group_col], pdf[text_col]):
                if text is None:
                    continue
                counts = [0] * len(pats)
                s = 0
                for ch in text:
                    while s and ch not in goto[s]:
                        s = fail[s]
                    s = goto[s].get(ch, 0)
                    for idx in out[s]:
                        counts[idx] += 1
                for idx, c in enumerate(counts):
                    if c:
                        key = (grp, pats[idx])
                        acc[key] = acc.get(key, 0) + c
            yield pd.DataFrame(
                [(g, p, c) for (g, p), c in acc.items()],
                columns=[group_col, "pattern", "n_matches"],
            )

    schema = (
        f"{group_col} string, pattern string, n_matches long"
    )
    src = df.select(group_col, text_col)
    partials = src.mapInPandas(scan, schema=schema)
    return partials.groupBy(group_col, "pattern").agg(
        F.sum("n_matches").cast("long").alias("n_matches")
    )
