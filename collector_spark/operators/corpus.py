"""Corpus-level training-data operators: benchmark decontamination,
global vocabulary statistics, deterministic dataset splits, intra-doc
repetition profiling, and cross-doc duplicated-span profiling.

These go beyond the reference (ThoronicLLC/collector stops at per-line
parse/filter/route) and implement the corpus hygiene passes a
large-scale LM training pipeline runs over its documents table:

- ``contamination_profile`` — fraction of each training document's
  word n-grams that appear in a benchmark/eval set (the n-gram-overlap
  decontamination rule used for published LM training sets).
- ``dup_span_profile`` — per-document share of n-grams that occur in
  at least one *other* document (corpus-duplication profiling in the
  style of "Deduplicating Training Data Makes Language Models Better",
  Lee et al. 2021 — the profiling half, not the span surgery).
- ``repetition_profile`` — per-document top-n-gram share (the
  "repetition removal" quality filter family from C4 / Gopher rules).
- ``vocab_top_k`` — global token frequency head (vocabulary histogram).
- ``hash_split`` — deterministic md5-bucket train/val/test assignment
  (stable across runs, machines, and partitionings; no RNG state).

Every operator is pure Catalyst (split/explode/join/agg — zero Python
per row) and each has an exact DuckDB replay in
``__spark_entry__.oracle_sql()``; tokenization is the same
single-space-safe ``split(trim(text), '\\s+')`` contract the rest of
textstats uses.

Scale shapes (100 TB):
- n-gram joins never carry the gram STRING through an exchange — grams
  are keyed by a 16-hex-char md5 prefix (64 bits, exact-replayable in
  DuckDB, ~3x smaller than an average 8-gram), and only (id, key) rows
  are shuffled.
- contamination broadcasts nothing: the benchmark side is distinct-ed
  and hash-joined; if the benchmark set is small (usual case) AQE
  converts the exchange to a broadcast at runtime.
- per-doc aggregates are map-side combinable counts; skew is bounded
  because a single document contributes O(len) rows spread across the
  gram-key hash space.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from collector_spark.session import cached

__all__ = [
    "word_ngrams_exploded",
    "contamination_profile",
    "bloom_contamination",
    "dup_span_profile",
    "remove_duplicated_spans",
    "repetition_profile",
    "quality_filter_report",
    "salient_terms",
    "vocab_top_k",
    "encode_tokens",
    "hash_split",
    "split_summary",
    "stratified_sample",
    "pack_sequences",
]


def _words(text_col: str) -> Column:
    """Whitespace tokens; same contract as textstats.tokens_col — empty
    tokens filtered so tab/newline-edged text can't leak '' tokens (the
    DuckDB oracle twins all use list_filter(..., w -> w <> ''))."""
    return F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != "")


def word_ngrams_exploded(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = False,
) -> DataFrame:
    """(id, gram) rows of word ``n``-grams.

    The split runs ONCE in a projection — referencing it inside the
    transform() lambda would re-run it per gram (O(words^2) per doc;
    Catalyst does not hoist expressions out of lambdas).

    A document shorter than ``n`` words yields zero rows (matches the
    DuckDB ``range(1, len-n+1)`` replay).
    """
    words = F.col("_w")
    n_grams = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return (
        df.select(F.col(id_col).alias("_id"), _words(text_col).alias("_w"))
        .filter(F.size("_w") >= n)
        .select("_id", F.explode(grams).alias("_gram"))
    )


def _gram_key(gram: Column) -> Column:
    """64-bit exact-replayable join key for a gram: first 16 hex chars of
    md5. Shuffling 16 bytes instead of the gram string; DuckDB replays
    with substr(md5(g), 1, 16). Collision odds at 10^10 distinct grams:
    ~n^2/2^65 ≈ 0.3 expected corpus-wide — profiling-grade."""
    return F.substring(F.md5(gram), 1, 16)


def contamination_profile(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-train-document benchmark n-gram overlap.

    Returns (doc_id, n_grams, hit_grams, contamination_ratio) where
    ``n_grams`` counts the document's DISTINCT n-grams and
    ``hit_grams`` how many of them occur anywhere in ``benchmark``.
    Documents shorter than ``n`` words report zero grams and ratio 0.0.

    Shape: both sides reduce to (key) / (id, key) rows before the only
    gram-keyed shuffle; the benchmark side is globally distinct-ed so
    the join is at most |distinct bench grams| x matching train rows.
    """
    t = (
        word_ngrams_exploded(train, n, text_col, id_col, distinct=True)
        .select("_id", _gram_key(F.col("_gram")).alias("_k"))
    )
    b = (
        word_ngrams_exploded(benchmark, n, text_col, id_col, distinct=True)
        .select(_gram_key(F.col("_gram")).alias("_k"))
        .distinct()
    )
    totals = t.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        t.join(b, "_k")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("hit_grams"))
    )
    ids = train.select(F.col(id_col).alias("_id"))
    return (
        ids.join(totals, "_id", "left")
        .join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("hit_grams", F.lit(0)).alias("hit_grams"),
            F.round(
                F.coalesce(
                    F.col("hit_grams")
                    / F.col("n_grams").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("contamination_ratio"),
        )
    )


def bloom_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Broadcast-Bloom decontamination — the 100 TB path next to
    :func:`contamination_profile`.

    The exact variant joins every training gram against the distinct
    benchmark gram table: one gram-keyed shuffle of the ENTIRE training
    corpus. At 100 TB that shuffle dominates the job, while the
    benchmark side (an eval set) is small and static. This variant
    folds the benchmark grams into a Bloom bitmap (2^16 bits as 2,048
    32-bit words in BIGINT rows) and broadcasts it: the training side
    becomes map-only — k broadcast hash joins against the tiny bitmap
    table, ZERO shuffle of training grams; only the per-document
    (id, counts) aggregation exchanges rows.

    Deterministic and oracle-replayable: probe j is the j-th 16-bit
    slice of md5(gram) (hex chars 4j+1..4j+4), so DuckDB rebuilds the
    exact same filter — including its false positives — from the same
    SQL. A gram is ``flagged`` iff all k probe bits are set; expected
    FP rate at |bench grams| = B is (1 - e^{-kB/65536})^k (callers
    route flagged docs to the exact checker, never drop on the Bloom
    bit alone). Returns (id, n_grams, flagged_grams, flagged_ratio);
    docs shorter than ``n`` words report 0 grams, ratio 0.0.
    """
    if not 1 <= k <= 8:
        raise ValueError("k must be in 1..8 (md5 yields eight 16-bit slices)")

    def _probe(h: Column, j: int) -> Column:
        return F.conv(F.substring(h, 1 + 4 * j, 4), 16, 10).cast("long")

    # F.shiftleft takes a literal numBits, so the variable-shift masks go
    # through expr() over a NAMED position column
    _mask = "shiftleft(CAST(1 AS BIGINT), CAST({p} % 32 AS INT))"

    bench_h = word_ngrams_exploded(
        benchmark, n, text_col, id_col, distinct=True
    ).select(F.md5("_gram").alias("_h"))
    # bit_or is idempotent, so no distinct pass on positions is needed
    bits = (
        bench_h.select(
            F.explode(F.array(*[_probe(F.col("_h"), j) for j in range(k)])).alias("_p")
        )
        .groupBy(F.shiftright(F.col("_p"), 5).alias("_w"))
        .agg(F.bit_or(F.expr(_mask.format(p="_p"))).alias("_b"))
    )

    cur = word_ngrams_exploded(train, n, text_col, id_col, distinct=True).select(
        "_id", F.md5("_gram").alias("_h")
    )
    for j in range(k):
        cur = cur.withColumn(f"_p{j}", _probe(F.col("_h"), j))
    flagged = F.lit(True)
    for j in range(k):
        bj = bits.select(F.col("_w").alias(f"_w{j}"), F.col("_b").alias(f"_b{j}"))
        cur = cur.join(
            F.broadcast(bj),
            F.shiftright(F.col(f"_p{j}"), 5) == F.col(f"_w{j}"),
            "left",
        )
        mask = F.expr(_mask.format(p=f"_p{j}"))
        flagged = flagged & F.coalesce(
            F.col(f"_b{j}").bitwiseAND(mask) != 0, F.lit(False)
        )
    agg = cur.select("_id", flagged.alias("_f")).groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("_f").cast("long")).alias("flagged_grams"),
    )
    ids = train.select(F.col(id_col).alias("_id"))
    return ids.join(agg, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("flagged_grams", F.lit(0)).cast("long").alias("flagged_grams"),
        F.round(
            F.coalesce(
                F.col("flagged_grams") / F.col("n_grams").cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("flagged_ratio"),
    )


def dup_span_profile(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document share of n-grams that also occur in ANOTHER document.

    Returns (doc_id, n_grams, dup_grams, dup_ratio) over DISTINCT
    per-doc grams. A gram counts as duplicated when its document
    frequency is >= 2. Two gram-keyed shuffles (doc-frequency agg +
    re-join) and one doc-keyed agg; nothing is all-pairs.

    The gram table is ``cached`` (the doc-frequency agg and the join
    probe both read it); the caller's ``cache_scope`` releases it.
    """
    t = (
        word_ngrams_exploded(df, n, text_col, id_col, distinct=True)
        .select("_id", _gram_key(F.col("_gram")).alias("_k"))
    )
    t = cached(t)  # referenced twice below (doc-freq agg, join probe)
    dfreq = t.groupBy("_k").agg(F.count(F.lit(1)).alias("_df"))
    per_doc = (
        t.join(dfreq, "_k")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("_df") >= 2).cast("bigint")).alias("dup_grams"),
        )
    )
    ids = df.select(F.col(id_col).alias("_id"))
    out = ids.join(per_doc, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
        F.round(
            F.coalesce(
                F.col("dup_grams") / F.col("n_grams").cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("dup_ratio"),
    )
    return out


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup SURGERY: cut every token covered by a word
    n-gram that occurs in >= 2 distinct documents, and reassemble the
    rest (the span-removal half of "Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2021 — their suffix-array match
    finder replaced by a distributed n-gram document-frequency join).

    Returns (id, clean_text, kept_tokens, removed_tokens). Whitespace is
    normalized to single spaces (the tokenize contract); a fully-
    duplicated document comes back with clean_text = ''.

    Scale shape: rows through the exchanges are (id, pos, 16-hex key)
    gram triples and (id, token_idx) coverage pairs — never text. The
    doc-frequency agg and re-join key on the gram hash; coverage
    expansion is <= n rows per duplicated gram; the final reassembly is
    one doc-keyed agg whose collect_list is bounded by document length.
    """
    words = F.col("_w")
    n_grams = F.size(words) - (n - 1)
    gram_keys = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: _gram_key(F.concat_ws(" ", F.slice(words, i, n))),
    )
    base = df.select(
        F.col(id_col).alias("_id"), _words(text_col).alias("_w")
    )
    # (_id, _pos, _k): gram at 0-based token position _pos covers
    # tokens [_pos, _pos+n-1]. Cached: referenced twice (doc-freq agg
    # + covered-position probe) and recomputing it would re-scan the
    # text column and re-md5 every gram.
    grams = cached(
        base.filter(F.size("_w") >= n).select(
            "_id", F.posexplode(gram_keys).alias("_pos", "_k")
        )
    )
    # cross-document frequency: in how many DISTINCT docs does the gram
    # occur (>= 2 → duplicated; same-doc repeats alone don't count)
    dfreq = grams.groupBy("_k").agg(
        F.count_distinct("_id").alias("_docs")
    )
    covered = (
        grams.join(dfreq.filter(F.col("_docs") >= 2), "_k")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + (n - 1))
            ).alias("_idx"),
        )
        .distinct()
    )
    tokens = base.select(
        "_id", F.posexplode(words).alias("_idx", "_tok")
    )
    kept = tokens.join(covered, ["_id", "_idx"], "left_anti")
    reassembled = kept.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_idx", "_tok"))
                ),
                lambda s: s["_tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("kept_tokens"),
    )
    totals = base.select("_id", F.size(words).alias("_total"))
    return (
        totals.join(reassembled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            (F.col("_total") - F.coalesce("kept_tokens", F.lit(0))).alias(
                "removed_tokens"
            ),
        )
    )


def repetition_profile(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top n-gram share (C4/Gopher-style repetition signal).

    Returns (doc_id, n_grams, top_count, top_share): total n-gram
    occurrences, the count of the most frequent n-gram, and their
    ratio. All within-document — a groupBy (id, gram) then (id); no
    cross-doc shuffle. Documents shorter than ``n`` words report zeros.
    """
    t = word_ngrams_exploded(df, n, text_col, id_col, distinct=False)
    per_gram = t.groupBy("_id", "_gram").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = per_gram.groupBy("_id").agg(
        F.sum("_c").alias("n_grams"),
        F.max("_c").alias("top_count"),
    )
    ids = df.select(F.col(id_col).alias("_id"))
    return ids.join(per_doc, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("top_count", F.lit(0)).alias("top_count"),
        F.round(
            F.coalesce(
                F.col("top_count") / F.col("n_grams").cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("top_share"),
    )


def quality_filter_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_words: int = 25,
    min_distinct_ratio: float = 0.35,
    allowed_langs: tuple[str, ...] = ("en", "de", "fr", "es"),
) -> DataFrame:
    """C4-style keep/drop filter with per-document drop REASON (the
    diagnostics a pipeline needs to audit what a filter config removes).

    Rules, first-failing-wins: too_short (word count), low_diversity
    (distinct-token ratio), lang (allow-list); survivors get 'kept'.
    Pure Catalyst column arithmetic — one projection, no shuffle.
    """
    w = _words(text_col)
    wc = F.size(w)
    dr = F.size(F.array_distinct(w)) / wc.cast("double")
    reason = (
        F.when(wc < min_words, F.lit("too_short"))
        .when(dr < min_distinct_ratio, F.lit("low_diversity"))
        .when(~F.col(lang_col).isin(*allowed_langs), F.lit("lang"))
        .otherwise(F.lit("kept"))
    )
    return df.select(
        F.col(id_col),
        reason.alias("reason"),
        (reason == "kept").alias("keep"),
    )


def salient_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document most-salient token: highest term frequency, ties
    broken by LOWER document frequency (rarer corpus-wide = more
    distinctive), then token order. The TF-IDF argmax — but ranked on
    exact integer (tf, df) pairs instead of a float idf product, so the
    winner is deterministic and replayable (no libm log in the oracle).

    Two shuffles: token-keyed doc-frequency agg, then a doc-keyed
    window top-1. Returns (id, term, tf, df_docs)."""
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(_words(text_col)).alias("_t")
    )
    tf = toks.groupBy("_id", "_t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("df_docs"))
    w = Window.partitionBy("_id").orderBy(
        F.desc("tf"), F.asc("df_docs"), F.asc("_t")
    )
    return (
        tf.join(dfreq, "_t")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_id").alias(id_col),
            F.col("_t").alias("term"),
            "tf",
            "df_docs",
        )
    )


def vocab_top_k(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Global token-frequency head: top ``k`` tokens by count, ties
    broken by token (deterministic). One map-side-combined shuffle on
    the token, then a k-row top-k — the plan Spark picks is
    TakeOrderedAndProject, which never materializes the full sort."""
    toks = df.select(F.explode(_words(text_col)).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )


def encode_tokens(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_pos: int | None = None,
    unk_id: int = -1,
) -> DataFrame:
    """Vocabulary-id encoding: the tokenize → id-map step of an LM data
    pipeline. Builds the top-``vocab_size`` vocabulary (ids assigned in
    (count DESC, token ASC) order — fully deterministic), then emits one
    (id, pos, token_id) row per token, OOV → ``unk_id``. ``max_pos``
    truncates each document (context-length cap).

    Scale shape: the vocabulary is vocab_size rows — BROADCAST to the
    token join, so encoding is a map-only stage over the exploded
    corpus; no shuffle touches the (huge) token table. Row output
    (id, pos, token_id) keeps columns scalar (exact DuckDB replay; an
    array output would also force per-doc re-assembly state).
    """
    vocab = (
        vocab_top_k(df, vocab_size, text_col)
        .select(
            "token",
            (
                F.row_number().over(
                    Window.orderBy(F.desc("cnt"), F.asc("token"))
                )
                - 1
            ).alias("token_id"),
        )
    )
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_words(text_col)).alias("pos", "token"),
    )
    if max_pos is not None:
        toks = toks.filter(F.col("pos") < max_pos)
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .select(
            F.col("_id").alias(id_col),
            "pos",
            F.coalesce(F.col("token_id"), F.lit(unk_id)).alias("token_id"),
        )
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic train/val/test assignment: md5 of the id, first 8
    hex chars as an integer, mod 100. Stable across runs, partitions,
    and cluster sizes — the property an RNG-based split lacks. Adds a
    ``split`` column; replayable in DuckDB via
    CAST(('0x'||substr(md5(id),1,8)) AS UBIGINT) % 100."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return df.withColumn(
        "split",
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    default_pct: int = 0,
    strat_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its md5 bucket
    (0-99, same family as hash_split) is below the stratum's percentage.
    Exact per-stratum rates in expectation, reproducible everywhere —
    no RNG, no sampleBy seed drift across partitionings. Pure
    projection + filter; no shuffle."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.lit(default_pct)
    for key, pct in sorted(rates.items()):
        rate = F.when(F.col(strat_col) == key, F.lit(pct)).otherwise(rate)
    return df.filter(bucket < rate)


def pack_sequences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """LM sequence packing: lay documents end-to-end in global id order
    and cut the token stream into bins of ``budget`` tokens; each doc is
    assigned the bin its FIRST token lands in. Returns
    (id, n_tokens, bin_id).

    The global prefix sum is the scale trap here: a bare
    Window.orderBy(id) funnels every row through ONE partition. Instead,
    two-phase: (1) per-bucket token totals (id-range buckets preserve
    the global order), (2) an exclusive running sum over the B bucket
    totals — only B tiny rows cross the single-partition window — and
    (3) a within-bucket exclusive prefix sum partitioned by bucket,
    shifted by its bucket offset. Identical to the textbook distributed
    scan; DuckDB replays it as one plain window SUM.
    """
    wc = df.select(
        F.col(id_col).alias("_id"), F.size(_words(text_col)).alias("n_tokens")
    )
    # id-range buckets: contiguous in id order, so (bucket asc, id asc)
    # is the global id order. One 1-row action for the id span (same
    # pattern as the k-means centroid collect).
    max_id = wc.agg(F.max("_id")).first()[0]
    if max_id is None:  # empty corpus tick → empty result, same schema
        return wc.select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.lit(0).cast("bigint").alias("bin_id"),
        )
    span = max(1, (int(max_id) + n_buckets) // n_buckets)
    wc = wc.withColumn("_b", (F.col("_id") / span).cast("bigint"))

    per_bucket = wc.groupBy("_b").agg(F.sum("n_tokens").alias("_bt"))
    w_off = (
        Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(w_off), F.lit(0))
    ).select("_b", "_off")

    w_doc = (
        Window.partitionBy("_b")
        .orderBy("_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w_doc), F.lit(0)) + F.col("_off")
    return (
        wc.join(offsets, "_b")
        .withColumn("bin_id", F.floor(start / budget))
        .select(F.col("_id").alias(id_col), "n_tokens", "bin_id")
    )


def split_summary(
    df: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Per-split document count and mean size — the sanity report a
    pipeline emits after assigning splits."""
    return (
        hash_split(df, id_col, train_pct, val_pct)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col(size_col).cast("double")), 4).alias(
                "avg_size"
            ),
        )
    )
