"""Planted-data tests for the corpus-hygiene operators
(collector_spark/operators/corpus.py): decontamination, duplicated-span
profiling, repetition filter, vocab top-k, deterministic hash split.

The sf0.01 gate (test_queries_vs_duckdb) checks these against DuckDB on
real tables; here we pin the SEMANTICS on tiny planted corpora where the
expected values are computable by hand."""

import pytest
from pyspark.sql import functions as F

from collector_spark.operators.corpus import (
    contamination_profile,
    dup_span_profile,
    encode_tokens,
    hash_split,
    quality_filter_report,
    remove_duplicated_spans,
    repetition_profile,
    salient_terms,
    vocab_top_k,
    word_ngrams_exploded,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_ngrams_short_and_empty_docs_yield_no_rows(spark):
    df = _docs(spark, [(1, "a b"), (2, ""), (3, "   "), (4, "a b c")])
    out = word_ngrams_exploded(df, n=3).collect()
    assert [(r._id, r._gram) for r in out] == [(4, "a b c")]


def test_word_ngrams_slides_and_distinct(spark):
    df = _docs(spark, [(1, "x y x y x")])
    plain = [r._gram for r in word_ngrams_exploded(df, n=2).collect()]
    assert plain == ["x y", "y x", "x y", "y x"]
    dis = sorted(
        r._gram for r in word_ngrams_exploded(df, n=2, distinct=True).collect()
    )
    assert dis == ["x y", "y x"]


def test_contamination_planted_overlap(spark):
    # train doc 1 shares its only 3-gram with the benchmark; doc 2 shares
    # one of two; doc 3 none; doc 4 is too short to have any 3-gram.
    train = _docs(
        spark,
        [
            (1, "the quick fox"),
            (2, "lazy dog sleeps here"),
            (3, "totally clean document text"),
            (4, "hi"),
        ],
    )
    bench = _docs(spark, [(100, "the quick fox jumps"), (101, "dog sleeps here now")])
    got = {
        r.doc_id: (r.n_grams, r.hit_grams, r.contamination_ratio)
        for r in contamination_profile(train, bench, n=3).collect()
    }
    assert got == {
        1: (1, 1, 1.0),
        2: (2, 1, 0.5),
        3: (2, 0, 0.0),
        4: (0, 0, 0.0),
    }


def test_bloom_contamination_no_false_negatives(spark):
    # Bloom flags must be a SUPERSET of exact hits (no false negatives,
    # ever) and the planted overlaps must all flag; with a near-empty
    # filter (few benchmark grams vs 2^16 bits) false positives should
    # not appear on this tiny corpus either.
    from collector_spark.operators.corpus import bloom_contamination

    train = _docs(
        spark,
        [
            (1, "the quick fox"),
            (2, "lazy dog sleeps here"),
            (3, "totally clean document text"),
            (4, "hi"),
        ],
    )
    bench = _docs(spark, [(100, "the quick fox jumps"), (101, "dog sleeps here now")])
    exact = {
        r.doc_id: r.hit_grams
        for r in contamination_profile(train, bench, n=3).collect()
    }
    got = {
        r.doc_id: (r.n_grams, r.flagged_grams, r.flagged_ratio)
        for r in bloom_contamination(train, bench, n=3).collect()
    }
    assert set(got) == set(exact)
    for doc_id, hits in exact.items():
        assert got[doc_id][1] >= hits, f"false negative on doc {doc_id}"
    assert got == {
        1: (1, 1, 1.0),
        2: (2, 1, 0.5),
        3: (2, 0, 0.0),
        4: (0, 0, 0.0),
    }


def test_bloom_contamination_k_bounds(spark):
    from collector_spark.operators.corpus import bloom_contamination

    df = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError):
        bloom_contamination(df, df, k=0)
    with pytest.raises(ValueError):
        bloom_contamination(df, df, k=9)


def test_dup_span_planted(spark):
    # docs 1 and 2 share the 2-gram "b c"; doc 3 is disjoint.
    df = _docs(spark, [(1, "a b c"), (2, "b c d"), (3, "x y z")])
    got = {
        r.doc_id: (r.n_grams, r.dup_grams, r.dup_ratio)
        for r in dup_span_profile(df, n=2).collect()
    }
    assert got == {1: (2, 1, 0.5), 2: (2, 1, 0.5), 3: (2, 0, 0.0)}


def test_repetition_profile_planted(spark):
    # "a b a b a b" → 2-grams: [a b, b a, a b, b a, a b] → top 'a b' 3/5
    df = _docs(spark, [(1, "a b a b a b"), (2, "u v w"), (3, "q")])
    got = {
        r.doc_id: (r.n_grams, r.top_count, r.top_share)
        for r in repetition_profile(df, n=2).collect()
    }
    assert got == {1: (5, 3, 0.6), 2: (2, 1, 0.5), 3: (0, 0, 0.0)}


def test_span_removal_cuts_shared_spans_only(spark):
    # docs 1 and 2 share the 2-gram "b c" → tokens b,c cut from both;
    # doc 1's repeated-within-itself "a a" is NOT cut (df counts docs);
    # doc 3 is untouched; doc 4 is a full duplicate of doc 5 → emptied.
    df = _docs(
        spark,
        [
            (1, "a a b c d"),
            (2, "x b c y"),
            (3, "p q r"),
            (4, "same same text here"),
            (5, "same same text here"),
        ],
    )
    got = {
        r.doc_id: (r.clean_text, r.kept_tokens, r.removed_tokens)
        for r in remove_duplicated_spans(df, n=2).collect()
    }
    assert got == {
        1: ("a a d", 3, 2),
        2: ("x y", 2, 2),
        3: ("p q r", 3, 0),
        4: ("", 0, 4),
        5: ("", 0, 4),
    }


def test_span_removal_overlapping_spans_merge(spark):
    # shared 3-grams "a b c" (pos 0) and "b c d" (pos 1) overlap in doc 1:
    # coverage is the union {0..3}, not double-counted.
    df = _docs(spark, [(1, "a b c d z"), (2, "a b c d w")])
    got = {
        r.doc_id: (r.clean_text, r.removed_tokens)
        for r in remove_duplicated_spans(df, n=3).collect()
    }
    assert got == {1: ("z", 4), 2: ("w", 4)}


def test_vocab_top_k_order_and_ties(spark):
    df = _docs(spark, [(1, "b a b c a b"), (2, "c a")])
    rows = vocab_top_k(df, k=2).collect()
    # counts: a=3, b=3, c=2 → ties broken by token asc
    assert [(r.token, r.cnt) for r in rows] == [("a", 3), ("b", 3)]


def test_encode_tokens_ids_oov_and_truncation(spark):
    df = _docs(spark, [(1, "b a b c a b z"), (2, "c a q")])
    # vocab_size=3: counts b=3, a=3, c=2 → ids a=0, b=1, c=2 (ties by
    # token asc); z/q are OOV → -1
    out = {
        (r.doc_id, r.pos): r.token_id
        for r in encode_tokens(df, vocab_size=3).collect()
    }
    assert out == {
        (1, 0): 1, (1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 0, (1, 5): 1,
        (1, 6): -1,
        (2, 0): 2, (2, 1): 0, (2, 2): -1,
    }
    # max_pos truncates each document's tail
    trunc = encode_tokens(df, vocab_size=3, max_pos=2).collect()
    assert len(trunc) == 4 and all(r.pos < 2 for r in trunc)


def test_quality_filter_first_failing_rule_wins(spark):
    rows = [
        (1, "a b", "en"),               # too_short (even though diverse)
        (2, "x x x x y", "en"),         # low_diversity (2/5 = 0.4 < 0.5)
        (3, "p q r s t", "zh"),         # lang
        (4, "k l m n o", "en"),         # kept
        (5, "a a", "zh"),               # too_short wins over lang
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: (r.reason, r.keep)
        for r in quality_filter_report(
            df, min_words=3, min_distinct_ratio=0.5, allowed_langs=("en",)
        ).collect()
    }
    assert got == {
        1: ("too_short", False),
        2: ("low_diversity", False),
        3: ("lang", False),
        4: ("kept", True),
        5: ("too_short", False),
    }


def test_salient_terms_tf_then_rarity_then_token(spark):
    # doc 1: 'x' tf=2 wins on tf. doc 2: 'q' and 'z' both tf=1; 'z'
    # appears only in doc 2 (df=1) while 'q' also in doc 3 (df=2) → 'z'.
    # doc 3: all tf=1, df=1 ties → token order picks 'a'.
    df = _docs(spark, [(1, "x y x"), (2, "q z"), (3, "q a b")])
    got = {
        r.doc_id: (r.term, r.tf, r.df_docs)
        for r in salient_terms(df).collect()
    }
    assert got == {1: ("x", 2, 1), 2: ("z", 1, 1), 3: ("a", 1, 1)}


def test_hash_split_is_deterministic_and_partition_independent(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in hash_split(df).collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(df.repartition(13, "doc_id")).collect()
    }
    assert a == b
    # 80/10/10 within a loose binomial band at n=2000
    n = len(a)
    train = sum(v == "train" for v in a.values()) / n
    val = sum(v == "val" for v in a.values()) / n
    assert 0.75 < train < 0.85, train
    assert 0.07 < val < 0.13, val


def test_pack_sequences_matches_serial_prefix_sum(spark):
    from collector_spark.operators.corpus import pack_sequences

    # ids with gaps; token counts 3,5,4,2,6 over budget 7:
    # starts 0,3,8,12,14 → bins 0,0,1,1,2
    rows = [
        (0, "a b c"),
        (3, "a b c d e"),
        (7, "a b c d"),
        (11, "a b"),
        (12, "a b c d e f"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.bin_id)
        for r in pack_sequences(df, budget=7, n_buckets=3).collect()
    }
    assert got == {0: (3, 0), 3: (5, 0), 7: (4, 1), 11: (2, 1), 12: (6, 2)}


def test_pack_sequences_bucket_count_does_not_change_bins(spark):
    from collector_spark.operators.corpus import pack_sequences

    df = (
        spark.range(0, 300)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.concat_ws(" ", F.array_repeat(F.lit("w"), 13)))
    )
    a = {r.doc_id: r.bin_id for r in pack_sequences(df, 64, n_buckets=1).collect()}
    b = {r.doc_id: r.bin_id for r in pack_sequences(df, 64, n_buckets=37).collect()}
    assert a == b
    # 300 docs x 13 tokens / 64 budget → 61 bins, docs straddle bins
    assert len(set(a.values())) == 61


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    from collector_spark.operators.corpus import stratified_sample

    df = (
        spark.range(0, 4000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "source", F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b")
        )
    )
    kept1 = stratified_sample(df, {"a": 50, "b": 10}).collect()
    kept2 = stratified_sample(df.repartition(7), {"a": 50, "b": 10}).collect()
    assert sorted(r.doc_id for r in kept1) == sorted(r.doc_id for r in kept2)
    by_src = {}
    for r in kept1:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    assert 0.45 < by_src["a"] / 2000 < 0.55, by_src
    assert 0.07 < by_src["b"] / 2000 < 0.13, by_src


def test_hash_split_rejects_nothing_and_covers_all_rows(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = hash_split(df)
    assert out.count() == 500
    assert out.filter(out.split.isNull()).count() == 0


def test_pack_sequences_empty_corpus_returns_empty(spark):
    from collector_spark.operators.corpus import pack_sequences

    out = pack_sequences(
        spark.createDataFrame([], "doc_id long, text string"), budget=10
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "n_tokens", "bin_id"]


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize(
    "query",
    [
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dup_span_profile",
        "dedup_connected_components",
        "dedup_span_removal",
        "embedding_near_dup",
    ],
)
def test_gate_query_leaves_no_persisted_rdd(spark, sf_dir, query):
    """The operators cache and checkpoint inside the caller's
    cache_scope: once it exits, none of their RDDs is still held."""
    from __spark_entry__ import QUERIES

    from collector_spark.session import cache_scope

    before = _persisted(spark)
    with cache_scope():
        QUERIES[query].build(spark, sf_dir).collect()
    assert _persisted(spark) == before


def test_cache_scope_frees_on_error_and_only_its_own(spark):
    """A scope releases what was registered while it was innermost, on an
    exception too, and leaves the enclosing scope's frames held."""
    from collector_spark.session import cache_scope, cached, cut

    df = spark.range(10)
    before = _persisted(spark)
    with cache_scope():
        outer = cut(df.selectExpr("id * 2 AS y"))
        held = _persisted(spark)
        with pytest.raises(ValueError):
            with cache_scope():
                cached(df.selectExpr("id + 1 AS z")).count()
                cut(df.selectExpr("id + 2 AS z"))
                assert len(_persisted(spark) - held) == 2
                raise ValueError
        assert _persisted(spark) == held
        assert outer.count() == 10
    assert _persisted(spark) == before
