"""Planted-fixture tests for the curation-gate operators added in round 2:
repetition metrics (Gopher/C4-style) and benchmark contamination."""

from __future__ import annotations

import pytest

from agol_pandas_spark.operators.textops import (
    benchmark_contamination,
    repetition_metrics,
)


def test_repetition_metrics_ground_truth(spark):
    rows = [
        (1, "a b c d e"),                  # clean: no repeats
        (2, "spam spam spam spam"),        # degenerate: one token
        (3, "x y x y x y x y"),            # bigram boilerplate
        (4, "solo"),                       # single token: NULL bigram frac
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_metrics(df, "doc_id", "text").collect()}

    assert got[1]["dup_token_frac"] == 0.0
    assert got[1]["adj_dup_pairs"] == 0 and got[1]["top_bigram_n"] == 1

    assert got[2]["n_tokens"] == 4 and got[2]["n_distinct"] == 1
    assert got[2]["adj_dup_pairs"] == 3
    assert got[2]["dup_token_frac"] == 0.75
    assert got[2]["top_bigram_frac"] == 1.0  # "spam spam" x3 of 3 bigrams

    # "x y" appears 4 times of 7 bigrams
    assert got[3]["top_bigram_n"] == 4
    assert got[3]["top_bigram_frac"] == 4 / 7

    assert got[4]["n_tokens"] == 1
    assert got[4]["top_bigram_n"] == 0
    assert got[4]["dup_token_frac"] == 0.0
    assert got[4]["top_bigram_frac"] is None  # no bigrams to take a share of


def test_benchmark_contamination_ground_truth(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta suffix"),   # shares 1 4-gram
            (2, "alpha beta gamma delta epsilon more"),    # shares 2 4-grams
            (3, "completely unrelated text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shared_ngrams"], r["n_bench_docs"])
        for r in benchmark_contamination(
            corpus, bench, "doc_id", "text", ngram=4
        ).collect()
    }
    assert got == {1: (1, 1), 2: (2, 1)}  # doc 3 absent: clean


def test_redact_pii_counts_and_replacements(spark):
    from agol_pandas_spark.operators.textops import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a.b-c@sub.example.org and x@y.io now"),
            (2, "call 555-123-4567 or 555.987.6543 stop"),
            (3, "host 192.168.0.1 peer 10.0.255.254"),
            (4, "clean text only"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(docs, "doc_id", "text").collect()}
    assert out[1]["n_emails"] == 2 and out[1]["redacted"] == "mail <EMAIL> and <EMAIL> now"
    assert out[2]["n_phones"] == 2 and out[2]["redacted"] == "call <PHONE> or <PHONE> stop"
    assert out[3]["n_ipv4"] == 2 and out[3]["redacted"] == "host <IP> peer <IP>"
    assert out[4]["redacted"] == "clean text only"
    assert (out[4]["n_emails"], out[4]["n_ipv4"], out[4]["n_phones"]) == (0, 0, 0)


def test_shard_by_token_budget_matches_sequential_cumsum(spark):
    from agol_pandas_spark.operators.textops import shard_by_token_budget

    rows = [(i, (i * 37) % 90 + 10) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens long")
    out = {
        r["doc_id"]: r["shard_id"]
        for r in shard_by_token_budget(df, "doc_id", "n_tokens", 500).collect()
    }
    start = 0
    for i, n in rows:
        assert out[i] == start // 500, f"doc {i}: {out[i]} != {start // 500}"
        start += n


def test_greedy_pack_bins_respects_budget(spark):
    from agol_pandas_spark.operators.textops import (
        greedy_pack_bins,
        shard_by_token_budget,
    )

    rows = [(i, (i * 53) % 300 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens long")
    sharded = shard_by_token_budget(df, "doc_id", "n_tokens", 2000)
    packed = greedy_pack_bins(sharded, "doc_id", "n_tokens", 512).collect()

    # python reference: same greedy walk per shard in doc_id order
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in sorted(packed, key=lambda r: r["doc_id"]):
        by_shard[r["shard_id"]].append(r)
    for shard, rs in by_shard.items():
        cur_bin, cur_tok = 0, 0
        for r in rs:
            n = r["n_tokens"]
            if cur_tok > 0 and cur_tok + n > 512:
                cur_bin += 1
                cur_tok = 0
            assert r["bin_id"] == cur_bin, (shard, r["doc_id"])
            cur_tok += n
        # every bin holding >1 doc stays within budget
        tots = defaultdict(int)
        counts = defaultdict(int)
        for r in rs:
            tots[r["bin_id"]] += r["n_tokens"]
            counts[r["bin_id"]] += 1
        for b, tot in tots.items():
            assert counts[b] == 1 or tot <= 512


def test_cms_merge_equals_whole_and_never_underestimates(spark):
    from pyspark.sql import functions as F

    from agol_pandas_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    items = [(f"tok{i % 17}",) for i in range(500)]
    df = spark.createDataFrame(items, "token string")
    half_a = spark.createDataFrame(items[:250], "token string")
    half_b = spark.createDataFrame(items[250:], "token string")

    whole = cms_build(df, "token")
    merged = cms_merge(cms_build(half_a, "token"), cms_build(half_b, "token"))
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))

    probes = df.distinct()
    est = {r["token"]: r["cms_est"] for r in cms_estimate(whole, probes, "token").collect()}
    exact = {r["token"]: r["cnt"] for r in df.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for tok, cnt in exact.items():
        assert est[tok] >= cnt


def test_bloom_no_false_negatives(spark):
    from agol_pandas_spark.operators.sketches import bloom_build, bloom_might_contain

    corpus = spark.createDataFrame([(f"item{i}",) for i in range(200)], "k string")
    bloom = bloom_build(corpus, "k")
    # every corpus member must test positive
    verdicts = {
        r["k"]: r["might_contain"]
        for r in bloom_might_contain(bloom, corpus, "k").collect()
    }
    assert all(verdicts.values())
    # a disjoint probe set is mostly rejected (8192 bits, 800 set -> fp rate ~small)
    novel = spark.createDataFrame([(f"other{i}",) for i in range(200)], "k string")
    nv = [r["might_contain"] for r in bloom_might_contain(bloom, novel, "k").collect()]
    assert sum(nv) < 40  # deterministic given fixed hashes; loose bound


def test_domain_mix_sample_rates_and_determinism(spark):
    """The limiting domain keeps every row (ppm = 1e6); other domains keep
    w_d*T/n_d; the admitted set is identical across repartitionings."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.operators.textops import domain_mix_sample

    rows = [(i, "a" if i < 100 else ("b" if i < 160 else "c")) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # counts: a=100 b=60 c=40; weights .5/.3/.2 → T=min(200,200,200)=200
    # → rates a: 1.0, b: 1.0, c: 1.0 (perfectly proportioned corpus)
    out = domain_mix_sample(df, "doc_id", "source", {"a": 0.5, "b": 0.3, "c": 0.2})
    assert out.count() == 200

    # skew corpus: a=100 b=60 c=10 → T=min(200,200,50)=50 → a:25%, b:25%, c:100%
    skew = df.filter((F.col("source") != "c") | (F.col("doc_id") < 170))
    s = domain_mix_sample(skew, "doc_id", "source", {"a": 0.5, "b": 0.3, "c": 0.2})
    by_src = {r["source"]: r["n"] for r in s.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src["c"] == 10            # limiting domain fully kept
    assert 10 <= by_src["a"] <= 40      # ~25% of 100, hash noise allowed
    assert 5 <= by_src["b"] <= 27       # ~25% of 60

    ids = sorted(r["doc_id"] for r in s.collect())
    ids2 = sorted(r["doc_id"] for r in domain_mix_sample(
        skew.repartition(7), "doc_id", "source", {"a": 0.5, "b": 0.3, "c": 0.2}
    ).collect())
    assert ids == ids2  # partitioning-independent

    # unlisted domains are dropped
    assert s.filter(~F.col("source").isin("a", "b", "c")).count() == 0


def test_gopher_flags_rules(spark):
    """Each rule triggers on a targeted violation; integer cross-
    multiplication means thresholds hit exactly (no float drift)."""
    from agol_pandas_spark.operators.textops import gopher_quality_flags

    # non-repetitive prose: unique content words + stopwords interleaved
    good = " ".join(f"the word{i} of thing{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, good),                         # passes everything
            (2, "short text only"),            # word count too low
            (3, "a " * 200),                   # mean word len < 3, repetition
            (4, ("#" * 30 + " ") + good),      # symbol ratio (one 30-# token)
            (5, "verylongwordswithoutanystopwordsatall " * 60),  # stopwords
            (6, "the fox " * 60),              # duplicate-bigram repetition
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality_flags(docs, "doc_id", "text").collect()}
    assert got[1]["pass_gopher"]
    assert not got[2]["ok_word_count"] and not got[2]["pass_gopher"]
    assert not got[3]["ok_mean_word_len"]
    assert not got[4]["ok_symbol_ratio"]
    assert not got[5]["ok_stopwords"]
    assert not got[6]["ok_repetition"]


def test_arrow_gopher_bit_identical(spark, sf_dir):
    """r11 optimization guard: the Arrow Gopher-gate kernel (one
    tokenization per doc, one boundary crossing) must reproduce the
    ``text_gopher_rules_filter`` DuckDB oracle flag-for-flag, at the
    default and at non-default thresholds, and thread carry_cols.

    The NULL-text row is pinned literally: every token-derived flag NULL,
    ok_repetition TRUE (no 2-grams, so the ``n2 == 0`` escape fires) and
    the conjunction NULL. DuckDB's ``len(NULL)`` propagates into the
    oracle's repetition rule, so there ok_repetition is NULL instead."""
    import hashlib

    import duckdb
    from pyspark.sql import types as T

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.textops import gopher_quality_flags
    from agol_pandas_spark.workload import load_all
    from agol_pandas_spark.workload.text_queries import gopher_oracle_sql

    # the helper renders the registry oracle byte-for-byte
    oracle = load_all()["text_gopher_rules_filter"].oracle
    assert oracle == gopher_oracle_sql()
    assert hashlib.sha256(oracle.encode()).hexdigest() == (
        "63f8438a9747a90e04fe98b4a827838f08a8e2428cfaa36e4518c8caa5ffe70a"
    )

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [
            (9001, None),                     # NULL text
            (9002, ""),                       # empty
            (9003, "   \t\n  "),              # whitespace-only
            (9004, "one"),                    # single token, no 2-gram
            (9005, "a\xa0b c d e f"),         # NBSP inside a token
            (9006, "# the of and to " * 40),  # symbol-heavy but passing wc
        ],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    both = docs.unionByName(extra)
    con = duckdb.connect()
    con.register("documents", both.toArrow())

    def split_null_row(rows):
        rest = sorted(r for r in rows if r[0] != 9001)
        (null_row,) = [r for r in rows if r[0] == 9001]
        return rest, null_row

    engine_null = (9001, None, None, None, None, None, None, True, None)

    arrow = gopher_quality_flags(both, "doc_id", "text", carry_cols=("text",))
    assert arrow.columns == [
        "doc_id", "text", "n_words", "ok_word_count", "ok_mean_word_len",
        "ok_alpha_frac", "ok_stopwords", "ok_symbol_ratio", "ok_repetition",
        "pass_gopher",
    ]
    got = arrow.collect()
    assert sorted((r["doc_id"], r["text"]) for r in got) == sorted(
        tuple(r) for r in both.collect()
    )
    a_rest, a_null = split_null_row([(r[0], *r[2:]) for r in got])
    d_rest, d_null = split_null_row(con.execute(oracle).fetchall())
    assert a_rest == d_rest
    assert a_null == engine_null
    assert d_null[:7] + d_null[8:] == engine_null[:7] + engine_null[8:]
    assert d_null[7] is None  # DuckDB: ok_repetition NULL on NULL text

    # non-default thresholds exercise the Fraction cross-multiplication
    params = dict(
        min_words=5, min_alpha_word_frac=0.6, max_symbol_ratio=0.25,
        max_dup_2gram_frac=0.75,
    )
    a2 = gopher_quality_flags(both, "doc_id", "text", **params).collect()
    a2_rest, a2_null = split_null_row([tuple(r) for r in a2])
    d2_rest, _ = split_null_row(con.execute(gopher_oracle_sql(**params)).fetchall())
    assert a2_rest == d2_rest
    assert a2_null == engine_null


def test_chunk_token_windows_reconstruct(spark):
    """Chunks tile the document: starts advance by the stride, each chunk
    holds window_tokens tokens (final chunk short), ids are dense, and an
    empty document yields no chunks."""
    from agol_pandas_spark.operators.textops import chunk_token_windows

    text = " ".join(f"w{i}" for i in range(95))
    docs = spark.createDataFrame(
        [(1, text), (2, "only three tokens"), (3, ""), (4, None)],
        "doc_id int, text string",
    )
    rows = sorted(
        chunk_token_windows(docs, "doc_id", "text", window_tokens=40, stride=20)
        .collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    d1 = [r for r in rows if r["doc_id"] == 1]
    assert [r["chunk_id"] for r in d1] == [0, 1, 2, 3, 4]
    assert [r["start_token"] for r in d1] == [1, 21, 41, 61, 81]
    assert [r["n_tokens"] for r in d1] == [40, 40, 40, 35, 15]
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["n_tokens"] == 3
    assert not [r for r in rows if r["doc_id"] in (3, 4)]


def test_gated_chunk_windows_matches_composition(spark, sf_dir):
    """r11 optimization guard: the fused gate→chunk→hash kernel
    (gated_chunk_token_windows, one tokenization, one boundary crossing)
    must reproduce the unfused composition gopher_quality_flags →
    filter(pass_gopher) → chunk_token_windows row-for-row — same ids,
    chunk positions, token counts, and 60-bit chunk hashes — including
    NULL text (NULL conjunction → dropped), sub-min_words docs, and
    non-default Fraction-cross-multiplied thresholds."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.textops import (
        chunk_token_windows,
        gated_chunk_token_windows,
        gopher_quality_flags,
    )

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    passing = "the of and to " + " ".join(f"word{i}" for i in range(60))
    extra = spark.createDataFrame(
        [
            (9001, None),                      # NULL text -> dropped
            (9002, ""),                        # empty -> dropped (wc)
            (9003, "the of and to but short"), # < min_words -> dropped
            (9004, passing),                   # passes, 64 tokens
            (9005, "a\xa0b " + passing),       # NBSP glues one token
            (9006, ("# " * 30) + passing),     # symbol-heavy -> dropped
            # NULL id with passing text: ids must pass through UNCHANGED
            # (ADVICE r11: pandas would coerce this batch's id column to
            # float64 — NaN ids, float-rounded big ids; Arrow must not)
            (None, passing),
            # id above 2^53: survives only if ids never touch float64
            (9007199254740993, passing),
        ],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    both = docs.unionByName(extra)

    def rows(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    fused = gated_chunk_token_windows(both, "doc_id", "text")
    kept = gopher_quality_flags(
        both, "doc_id", "text", carry_cols=("text",)
    ).filter(F.col("pass_gopher"))
    unfused = chunk_token_windows(kept, "doc_id", "text")
    assert fused.columns == unfused.columns
    fused_rows = rows(fused)
    assert fused_rows == rows(unfused)
    assert any(r[0] == 9004 for r in fused_rows)  # the gate passes docs
    assert not any(r[0] in (9001, 9002, 9003, 9006) for r in fused_rows)

    # non-default thresholds + window geometry (exercises the Fraction
    # cross-multiplication and the short/strided chunk tail)
    kw = dict(
        window_tokens=25, stride=10, min_words=5, min_alpha_word_frac=0.6,
        max_symbol_ratio=0.25, max_dup_2gram_frac=0.75, min_stopword_hits=1,
    )
    fused2 = gated_chunk_token_windows(both, "doc_id", "text", **kw)
    kept2 = gopher_quality_flags(
        both, "doc_id", "text", carry_cols=("text",),
        min_words=5, min_alpha_word_frac=0.6, max_symbol_ratio=0.25,
        max_dup_2gram_frac=0.75, min_stopword_hits=1,
    ).filter(F.col("pass_gopher"))
    unfused2 = chunk_token_windows(
        kept2, "doc_id", "text", window_tokens=25, stride=10
    )
    assert rows(fused2) == rows(unfused2)


def test_semantic_prune_greedy_rule(spark):
    """Within a cell, a vector is dropped iff a LOWER-id neighbor sits at
    cosine >= threshold; near-dups of a dropped vector still survive when
    their only close neighbor is the dropped one (greedy, not CC)."""
    from agol_pandas_spark.operators.similarity import semantic_dedup_prune

    # 2-d toy: cell pivots on the axes; a/b nearly parallel (dropped b),
    # c orthogonal-ish to both in the same cell (kept)
    vecs = [
        (10, [1.0, 0.0]),
        (11, [0.999, 0.01]),    # cos(10,11) ~ 1 -> dropped
        (12, [0.8, 0.6]),       # cos to 10 = 0.8 < 0.95 -> kept
        (20, [0.0, 1.0]),       # other cell, alone -> kept
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pivots = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "pivot_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semantic_dedup_prune(
            corpus, pivots, "vec_id", "pivot_id", threshold=0.95
        ).collect()
    }
    assert got[10] == (0, True)
    assert got[11] == (0, False)
    assert got[12] == (0, True)
    assert got[20] == (1, True)


def test_weighted_row_sample_properties(spark):
    """Weight 0 keeps nothing, weight 1 keeps everything, and membership
    is MONOTONIC in the weight (raising a row's weight can only add it,
    never drop it) — the property that makes weighted re-runs stable."""
    from pyspark.sql import functions as F2

    from agol_pandas_spark.operators.textops import weighted_row_sample

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    assert weighted_row_sample(df, "doc_id", F2.lit(0.0)).count() == 0
    assert weighted_row_sample(df, "doc_id", F2.lit(1.0)).count() == 2000
    lo = {r["doc_id"] for r in weighted_row_sample(df, "doc_id", F2.lit(0.3)).collect()}
    hi = {r["doc_id"] for r in weighted_row_sample(df, "doc_id", F2.lit(0.7)).collect()}
    assert lo < hi  # strict subset at these sizes
    # rate lands near the weight (hash-uniformity sanity, not a bound)
    assert 0.25 < len(lo) / 2000 < 0.35
    assert 0.65 < len(hi) / 2000 < 0.75


def test_token_rank_quality_orders_rare_docs_higher(spark):
    """A doc of corpus-rare tokens must out-score (higher mean rank) a doc
    of the corpus's most common tokens; ranks are exact integers."""
    from agol_pandas_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "the the the the cat"),
            (2, "zyzzyva qwop xylyl the"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in
            textops.token_rank_quality(df, "doc_id", "text").collect()}
    # 'the' is rank 1 (freq 5); doc 1 = 4x rank1 + cat; doc 2 = 3 rare + the
    assert rows[1].n_tokens == 5 and rows[2].n_tokens == 4
    assert rows[2].mean_rank_milli > rows[1].mean_rank_milli
    assert rows[1].mean_rank_milli == rows[1].rank_sum * 1000 // 5


def test_ngram_novelty_repeat_doc_scores_zero(spark):
    """A verbatim repeat of an earlier doc has zero novel n-grams; the
    first doc is 100% novel."""
    from agol_pandas_spark.operators import textops

    base = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different words " * 3)],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           textops.ngram_novelty(df, "doc_id", "text", shingle_size=8).collect()}
    assert out[1].novelty_ppm == 1_000_000
    assert out[2].n_novel_ngrams == 0 and out[2].novelty_ppm == 0
    assert out[1].n_distinct_ngrams == 3  # 10 tokens -> 3 8-grams


def test_bm25_exact_small_corpus(spark):
    """BM25 integer formula verified against a hand-computed tiny corpus;
    OOV query terms contribute nothing."""
    from agol_pandas_spark.operators import textops

    docs = [
        (1, "hash hash hash join"),
        (2, "join scan filter sort"),
        (3, "scan filter sort merge"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r.doc_id: r for r in textops.bm25_scores(
        df, "doc_id", "text", ("hash", "join", "missingterm"), n_docs=3
    ).collect()}
    assert 3 not in rows  # no query term
    assert rows[1].n_terms_hit == 2 and rows[2].n_terms_hit == 1
    # hand computation: A=12, N=3; doc1 'hash': tf=3, dl=4, df=1
    A, N = 12, 3
    tfn = 1_000_000 * 20 * A * 3 // (8 * A * 3 + 3 * A + 9 * 4 * N)
    idf = 1_000_000 * (2 * (N - 1) + 1) // (2 * 1 + 1)
    # doc1 'join': tf=1, df=2
    tfn_j = 1_000_000 * 20 * A * 1 // (8 * A * 1 + 3 * A + 9 * 4 * N)
    idf_j = 1_000_000 * (2 * (N - 2) + 1) // (2 * 2 + 1)
    assert rows[1].score == tfn * idf + tfn_j * idf_j
    assert rows[1].score > rows[2].score


def test_token_distribution_drift_matches_counter_reference(spark):
    """TV drift equals the direct Counter evaluation, including the O(1)
    out-of-vocabulary closure for tokens absent from a group; identical
    groups score 0 against a symmetric rest."""
    from collections import Counter

    from agol_pandas_spark.operators.textops import token_distribution_drift

    rows = [
        ("a", "x x y"),
        ("a", "y z"),
        ("b", "x q q"),
        ("c", "x x y y z"),  # same distribution shape appears twice
    ]
    df = spark.createDataFrame(rows, ["src", "text"])
    got = {
        r.src: (r.n_grp, r.n_rest, r.tv_num, r.tv_ppm)
        for r in token_distribution_drift(df, "src", "text").collect()
    }

    groups: dict[str, Counter] = {}
    for src, text in rows:
        groups.setdefault(src, Counter()).update(text.lower().split())
    want = {}
    for src, cnt in groups.items():
        rest = Counter()
        for other, c in groups.items():
            if other != src:
                rest.update(c)
        n_grp, n_rest = sum(cnt.values()), sum(rest.values())
        vocab = set(cnt) | set(rest)
        tv_num = sum(
            abs(cnt[t] * n_rest - rest[t] * n_grp) for t in vocab
        )
        want[src] = (n_grp, n_rest, tv_num, tv_num * 10**6 // (2 * n_grp * n_rest))
    assert got == want


def test_canonical_url_edge_cases(spark):
    from pyspark.sql import functions as F

    from agol_pandas_spark.operators.textops import canonical_url

    cases = [
        # (raw, expected canonical)
        ("https://A.B.Com:443/Path/?b=2&a=1#x", "https://a.b.com/Path/?a=1&b=2"),
        ("HTTP://Host.com/p", "http://host.com/p"),
        ("https://h.com/p?utm_source=x&utm_medium=y", "https://h.com/p"),
        ("https://h.com/p?", "https://h.com/p"),
        ("https://h.com:8443/p?z=1", "https://h.com:8443/p?z=1"),  # non-default port kept
        ("https://h.com/CaseSensitive/Path", "https://h.com/CaseSensitive/Path"),
        ("https://h.com", "https://h.com"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = {
        r["url"]: r["c"]
        for r in df.select("url", canonical_url("url").alias("c")).collect()
    }
    for raw, want in cases:
        assert got[raw] == want, (raw, got[raw], want)


class TestBpePairCounts:
    """One BPE training iteration (textops.bpe_pair_counts) against a
    hand-computed vocabulary."""

    @pytest.fixture(scope="class")
    def stages(self, spark):
        from agol_pandas_spark.operators.textops import bpe_pair_counts

        df = spark.createDataFrame(
            # vocab: aaaa x2, abab x1, low x3, lower, lowest, single chars
            [(1, "aaaa abab low low lower a b"), (2, "low lowest aaaa i")],
            ["id", "text"],
        )
        out = bpe_pair_counts(df, "text", min_count=2)
        rows = out.collect()
        return {
            (r["stage"], r["sym_a"], r["sym_b"]): r["cnt"] for r in rows
        }

    def test_pre_counts_exact(self, stages):
        pre = {k[1:]: v for k, v in stages.items() if k[0] == "pre"}
        assert pre == {
            ("a", "a"): 6,   # aaaa has 3 adjacent pairs, x2 occurrences
            ("a", "b"): 2,   # abab
            ("l", "o"): 5,   # low x3 + lower + lowest
            ("o", "w"): 5,
            ("w", "e"): 2,   # lower + lowest
        }

    def test_merge_applied_left_to_right(self, stages):
        # best pair (a,a) cnt=6; 'aaaa' -> [aa, aa] (NOT [aa, a, a])
        assert stages[("post", "aa", "aa")] == 2
        assert ("post", "a", "a") not in stages

    def test_single_char_words_contribute_no_pairs(self, stages):
        # 'a', 'b', 'i' are 1-char words: no pair may involve the empty
        # string (the descending-sequence(1,0) trap)
        assert not any("" in (a, b) for (_, a, b) in stages)

    def test_unmerged_words_unchanged(self, stages):
        assert stages[("post", "l", "o")] == 5
        assert stages[("post", "a", "b")] == 2


def test_inverted_index_search_semantics(spark, tmp_path):
    """Conjunctive search returns exactly the docs containing ALL terms,
    with summed term frequencies; empty-term list raises."""
    import pytest as _pytest

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.textops import (
        build_inverted_index,
        search_conjunctive,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma"),
            (2, "alpha delta"),
            (3, "beta beta gamma"),
            (4, "alpha beta beta"),
        ],
        "doc_id long, text string",
    )
    cat = Catalog(spark, str(tmp_path))
    build_inverted_index(cat, "idx", docs, "doc_id", "text", n_files=2)
    got = {
        r["doc"]: (r["n_terms_matched"], r["total_tf"])
        for r in search_conjunctive(cat, "idx", ["alpha", "beta"]).collect()
    }
    assert got == {1: (2, 3), 4: (2, 3)}  # docs 2 and 3 miss one term

    single = {r["doc"] for r in search_conjunctive(cat, "idx", ["gamma"]).collect()}
    assert single == {1, 3}
    with _pytest.raises(ValueError):
        search_conjunctive(cat, "idx", [])


def test_temperature_mix_flattens_toward_tail(spark):
    """T=2 keeps ~sqrt-proportional domains: the limiting (smallest)
    domain keeps 100%, the head is downsampled by ~sqrt(n_head/n_tail);
    keep-rates follow the exact floor-ppm formula; T != 2 raises."""
    import hashlib
    import math

    import pytest as _pytest

    from agol_pandas_spark.operators.textops import temperature_mix_sample

    rows = [(i, "head") for i in range(400)] + [
        (i, "tail") for i in range(400, 500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = temperature_mix_sample(df, "doc_id", "source")
    got = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(
            __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n")
        ).collect()
    }

    # exact replay: t = min(n/sqrt(n)) over domains, ppm = floor-rate
    t = min(n / math.sqrt(n) for n in (400, 100))
    def ppm(n):
        return min(10**6, math.floor(math.sqrt(n) * t / n * 10**6))
    def h(doc_id):
        return int(hashlib.md5(f"tmix{doc_id}".encode()).hexdigest()[:15], 16) % 10**6
    want = {"head": sum(1 for i in range(400) if h(i) < ppm(400)),
            "tail": sum(1 for i in range(400, 500) if h(i) < ppm(100))}
    assert got == want
    assert want["tail"] == 100  # limiting domain keeps everything
    assert 0.4 < want["head"] / 400 < 0.6  # ~sqrt(100/400) = 0.5 keep-rate

    with _pytest.raises(ValueError):
        temperature_mix_sample(df, "doc_id", "source", temperature=3.0)


def test_aho_corasick_counts_vs_python(spark):
    """AC counts must equal per-pattern substring occurrence counts —
    including OVERLAPPING matches, where the replace-length SQL identity
    undercounts ('aa' in 'aaaa' is 3 overlapping, 2 non-overlapping)."""
    from agol_pandas_spark.operators.textops import aho_corasick_counts

    rows = [
        ("g1", "the table of value and the key to the table"),
        ("g1", "aaaa banana ana"),
        ("g2", None),
        ("g2", "partly parted counterpart"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string").repartition(3)
    pats = ["table", "key", "aa", "ana", "part", "the"]

    def overlapping(text, p):
        n = start = 0
        while True:
            i = text.find(p, start)
            if i < 0:
                return n
            n += 1
            start = i + 1  # overlapping

    expect = {}
    for g, t in rows:
        if t is None:
            continue
        for p in pats:
            c = overlapping(t, p)
            if c:
                expect[(g, p)] = expect.get((g, p), 0) + c
    got = {
        (r.lang, r.pattern): r.n_matches
        for r in aho_corasick_counts(df, "text", pats, "lang").collect()
        if r.n_matches > 0
    }
    assert got == expect
    assert got[("g1", "aa")] == 3  # the overlapping case the SQL identity misses


def test_read_fixed_width_short_rows(spark, tmp_path):
    from agol_pandas_spark.sources.readers import read_fixed_width

    p = tmp_path / "fw.txt"
    p.write_text("       123   45          999\n  7\n")
    df = read_fixed_width(
        spark, str(p),
        [("a", 1, 10, "long"), ("b", 11, 5, "long"), ("c", 16, 14, "long")],
    )
    rows = sorted([tuple(r) for r in df.collect()])
    assert rows == [(7, None, None), (123, 45, 999)]
