"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All paths are pure JVM expressions (whole-stage codegen) — SimHash
votes/bit-packing fold with aggregate/zip_with over literal masks, no
Python in any hot path.  MinHash+LSH lives in pipeline.canonicalize
(shared with entity canonicalization) and is re-exported here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..pipeline.session import fan_out
from ..pipeline.canonicalize import (  # noqa: F401  (re-export)
    canonical_clusters,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
)
from ..pipeline.skew import blocked_pairs, capped_blocks


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_ids: int | None = 100) -> DataFrame:
    """Hash-groupBy exact dedup: (fingerprint, n_dups, canonical_id,
    dup_ids). Map-side partial aggregation makes this one shuffle of
    (hash, id) pairs — bytes shuffled ∝ corpus cardinality, not size.

    ``dup_ids`` is capped at ``max_ids`` members (the full cardinality
    is always in ``n_dups``): at crawl scale the hottest fingerprint —
    the empty page — has tens of millions of members, and an unbounded
    collect_list would build that one multi-GB row in a single
    non-spillable aggregation buffer.  The cap is enforced BEFORE any
    list exists, with a row_number window (whose sort spills to disk,
    unlike an agg buffer) feeding the collect only rows ranked ≤ cap.
    Pass ``max_ids=None`` for the leanest production plan: counts and
    canonical ids only, no membership lists at all."""
    fp = docs.select(F.md5(F.col(text_col)).alias("fingerprint"),
                     F.col(id_col).alias("id"))
    if max_ids is None:
        return (
            fp.groupBy("fingerprint")
            .agg(F.count("*").alias("n_dups"),
                 F.min("id").alias("canonical_id"))
            .filter(F.col("n_dups") > 1)
        )
    from pyspark.sql import Window

    # single-exchange plan: both windows and the final groupBy cluster
    # on fingerprint, so count, rank, filter, and collect share ONE
    # shuffle.  The rank cap rides INSIDE collect_list via a
    # conditional value (collect_list skips NULLs), so the agg buffer
    # holds at most max_ids entries per group while n_dups still
    # counts the full cardinality.
    wc = Window.partitionBy("fingerprint")
    wr = Window.partitionBy("fingerprint").orderBy(F.col("id").asc())
    return (
        fp.withColumn("n_dups", F.count("*").over(wc))
        .filter(F.col("n_dups") > 1)
        .withColumn("_rn", F.row_number().over(wr))
        .groupBy("fingerprint", "n_dups")
        .agg(F.min("id").alias("canonical_id"),
             F.sort_array(F.collect_list(
                 F.when(F.col("_rn") <= max_ids, F.col("id"))))
             .alias("dup_ids"))
        .select("fingerprint", "n_dups", "canonical_id", "dup_ids")
    )


def md5_60bit(t):
    """Token hash expressible identically in DuckDB — the top 15 hex
    chars of md5 as a 60-bit int (16^15 < 2^63, ANSI-safe).  Used by
    the value-oracled entry query; production defaults to the faster
    JVM xxhash64."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def _bit_masks(nbits: int):
    """Literal array of single-bit masks, two's-complement wrapped so
    bit 63 is representable as int64."""
    masks = []
    for b in range(nbits):
        m = 1 << b
        if m >= 1 << 63:
            m -= 1 << 64
        masks.append(m)
    return F.array(*[F.lit(m).cast("long") for m in masks])


def simhash_sig(tokens_col, hash_fn=None, nbits: int = 64):
    """Column expression: SimHash signature (Charikar 2002) of a token
    array.  Entirely JVM-side (whole-stage codegen): per-token hash →
    per-bit ±1 votes folded with aggregate/zip_with over literal bit
    masks → bit pack.  No Python in the hot path."""
    hash_fn = hash_fn or (lambda t: F.xxhash64(t))
    masks = _bit_masks(nbits)
    hashes = F.transform(tokens_col, hash_fn)
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), nbits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks, lambda m: F.when(
                h.bitwiseAND(m) != 0, 1).otherwise(-1)),
            lambda x, y: x + y,
        ),
    )
    return F.aggregate(
        F.zip_with(votes, masks, lambda vv, m: F.when(
            vv > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", hash_fn=None,
            nbits: int = 64) -> DataFrame:
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return fan_out(docs).select(
        F.col(id_col).alias("id"),
        simhash_sig(toks, hash_fn, nbits).alias("simhash"))


def simhash_near_dups(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3,
                      hash_fn=None, nbits: int = 64,
                      max_bucket: int = 256) -> DataFrame:
    """Candidate pairs whose SimHash Hamming distance ≤ k, using the
    4-block trick: two signatures within Hamming 3 share at least one
    identical 16-bit block → group by block value, pair within buckets.
    Exact for max_hamming ≤ 3 (pigeonhole over the 4 blocks).

    Plan shape: ONE groupBy shuffle (block value → sorted id list) and
    an in-bucket pair expansion — no self-join.  ``max_bucket`` is the
    skew guard: on a boilerplate-heavy crawl one hot block value (e.g.
    near-empty template pages sharing a signature block) would make the
    within-bucket expansion quadratic in a single reducer, so oversized
    buckets are dropped (the shared ``skew.blocked_pairs`` stage).
    Raise it (or pass 1 << 40) for exhaustive recall on bounded
    corpora — the value-oracled entry query does."""
    sh = simhash(docs, text_col, id_col, hash_fn, nbits)
    blocks = sh.select(
        F.struct("id", "simhash").alias("item"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("blk"),
                     F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"))
            for b in range(4)
        ])).alias("e"),
    ).select("item", "e.blk", "e.val")
    # sort_array on struct(id, simhash) orders by id → a.id < b.id
    cand = blocked_pairs(blocks, ["blk", "val"], "item", max_bucket)
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        cand.select(F.col("a.id").alias("a"), F.col("b.id").alias("b"),
                    hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_sets(docs: DataFrame, n: int = 3, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Distinct word-n-gram arrays per doc (JVM transform over token
    index range).  Docs with fewer than n tokens get an empty array —
    the CASE guard matters: sequence(0, -1) DESCENDS in Spark, which
    would feed slice() an invalid 0 index under ANSI mode."""
    grams = F.expr(
        "CASE WHEN size({t}) >= {n} THEN "
        "array_distinct(transform(sequence(1, size({t}) - {n} + 1), "
        "i -> concat_ws(' ', slice({t}, i, {n})))) "
        "ELSE array() END".format(
            t="split(lower(trim(%s)), '\\\\s+')" % text_col, n=n
        )
    )
    return fan_out(docs).select(F.col(id_col).alias("id"), grams.alias("grams"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id",
                        bucket_col=None,
                        max_bucket: int = 1024,
                        gram_hash: bool = True) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs. To avoid the O(n²) cross
    join at scale, pairs are generated within cheap blocking buckets
    (default: language + length decile) — the standard blocking
    strategy; recall loss only across buckets.

    ``max_bucket`` bounds the within-bucket self-join: at crawl scale
    "English, ~2k chars" is a single bucket of millions of docs, which
    would put O(|bucket|²) pair generation on one key.  Oversized
    buckets are dropped by a WINDOW count sharing the bucket exchange
    (``skew.capped_blocks``; the old groupBy-count +
    broadcast-semi guard cost two extra exchanges and re-evaluated the
    gram expression per reference).  For recall over huge buckets,
    generate candidates with the MinHash LSH path
    (minhash_near_dup_pairs) and keep n-gram Jaccard as the verify
    metric; pass 1 << 40 for exhaustive small-corpus oracles.

    ``gram_hash`` (production default) compares xxhash64-hashed gram
    sets instead of gram strings: the intersect/union inner loops run
    over primitive longs and the self-join shuffles 8 bytes per gram
    instead of the gram text — measured 3-4x on the bench corpus.
    Jaccard values are identical unless two distinct grams of a
    compared pair collide in 64 bits (P ≈ |grams|²/2⁶⁵ per pair);
    pass ``gram_hash=False`` for the byte-exact SQL-oracle replay
    (the value-oracled entry query does)."""
    g = ngram_sets(docs, n, text_col, id_col)
    if bucket_col is None:
        bucket = F.concat_ws("|", F.col("lang"),
                             (F.col("n_chars") / 100).cast("int").cast("string"))
    else:
        bucket = bucket_col
    if threshold <= 0:
        raise ValueError(
            "ngram_jaccard_pairs requires threshold > 0 (the inverted-"
            "index join only surfaces pairs sharing >= 1 gram)")
    g = g.join(docs.select(F.col(id_col).alias("id"), bucket.alias("bucket")), "id")
    # a doc with no n-grams has no defined Jaccard against anything
    g = g.filter(F.size("grams") > 0)
    if gram_hash:
        g = g.select("id", "bucket",
                     F.transform("grams",
                                 lambda t: F.xxhash64(t)).alias("grams"))
    # LAZY barrier: grams are referenced by the window guard and the
    # posting explode — without it the shingling expression re-runs
    # per reference (measured 3 full evaluations in the old plan)
    g = g.localCheckpoint(eager=False)
    g = capped_blocks(g, ["bucket"], max_bucket)
    # Inverted-index exact jaccard (set-similarity join): instead of
    # the all-pairs-in-bucket join computing array_intersect per pair
    # (O(Σ bucket² × grams/doc) whatever the overlap), explode postings
    # (bucket, gram) and count gram coincidences per pair — work is
    # O(Σ posting²), i.e. proportional to ACTUAL overlap.  On the
    # bench corpus that is 115k coincidence rows against 712k pairs ×
    # 52-element intersects (~6x wall-clock); the skew bound is
    # unchanged because a posting can never exceed its (capped) bucket.
    # |union| = |ga| + |gb| − |inter|, so the jaccard values (and the
    # int÷int → double rounding) are bit-identical to the array form
    # the SQL oracle replays.
    posts = g.select("id", "bucket", F.size("grams").alias("sz"),
                     F.explode("grams").alias("gram"))
    a = posts.select(F.col("id").alias("a"), F.col("sz").alias("sa"),
                     "bucket", "gram")
    b = posts.select(F.col("id").alias("b"), F.col("sz").alias("sb"),
                     "bucket", "gram")
    inter = (
        a.join(b, ["bucket", "gram"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "sa", "sb")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def auto_bands(num_hashes: int, threshold: float) -> int:
    """Pick the LSH band count whose S-curve matches ``threshold``:
    the largest rows-per-band r (fewest bands b = n/r) whose 50%%-
    collision point s50 = (1/b)^(1/r) stays a safety margin below the
    threshold. Too few rows per band (e.g. b=16/r=4 at threshold 0.9,
    s50 = 0.5) floods the verify join with ~99%% false-positive
    candidates AND loses true pairs to the max_bucket skew cap —
    measured 5.7x slower and 2.4x lower recall than b=8/r=8 on the
    10x bench corpus."""
    best = None
    for r in (2, 4, 8, 16, 32):
        if num_hashes % r:
            continue
        b = num_hashes // r
        if (1.0 / b) ** (1.0 / r) <= threshold - 0.05:
            best = b
    return best or max(num_hashes // 4, 1)


def minhash_near_dup_pairs(docs: DataFrame, threshold: float = 0.9,
                           text_col: str = "text", id_col: str = "doc_id",
                           num_hashes: int = 64, bands: int | None = None,
                           max_bucket: int = 64, hash_fn=None) -> DataFrame:
    """Signatures → LSH candidates → exact verify.

    The candidate-pair set gets a LAZY localCheckpoint barrier before
    the verify join: without it the whole sig→band→distinct lineage is
    replanned inside the join and AQE sees no size stats for the pair
    side (measured 6s with the barrier vs 30-150s without at the 10×
    bench scale). Lazy = no extra job; the barrier materializes during
    the verify job's first pass. On a long-lived cluster run where
    sigs are also reused for clustering, persist them there too.

    ``bands=None`` auto-matches the banding S-curve to the threshold
    (threshold 0.9 → b=8/r=8). ``max_bucket`` is the skew guard
    (oversized LSH buckets dropped — the production posture on
    boilerplate-heavy crawls). For a provably exhaustive small-corpus
    oracle, pass bands=16 + max_bucket=1<<40: b=16/r=4 at threshold
    0.9 gives P(miss) ~ 4e-8 per true pair, so the uncapped output
    equals the exact-Jaccard pair set — value-oracled in
    __spark_entry__."""
    if bands is None:
        bands = auto_bands(num_hashes, threshold)
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes,
                              hash_fn=hash_fn)
    pairs = lsh_candidate_pairs(sigs, bands=bands, num_hashes=num_hashes,
                                max_bucket=max_bucket)
    pairs = pairs.localCheckpoint(eager=False)
    return jaccard_verify(pairs, docs, text_col, id_col, threshold)


def keep_best_per_cluster(clusters: DataFrame, scores: DataFrame,
                          score_col: str = "score",
                          id_col: str = "id") -> DataFrame:
    """Near-dup cluster → survivor selection: per cluster keep the
    highest-scoring member (ties broken by smallest id — fully
    deterministic). ``clusters`` is (id, canonical) from
    canonical_clusters; ``scores`` is (id, score). One shuffle
    (window partitioned by cluster; never a global sort).

    → (cluster, best_id, n_members): the keep-list every LLM dedup
    stage ends with — drop everything whose id isn't best_id."""
    from pyspark.sql import Window

    w = (Window.partitionBy("canonical")
         .orderBy(F.col(score_col).desc(), F.col(id_col).asc()))
    ranked = (clusters.join(scores, clusters[id_col] == scores[id_col])
              .drop(scores[id_col])
              .withColumn("_rn", F.row_number().over(w)))
    sizes = clusters.groupBy("canonical").agg(
        F.count("*").alias("n_members"))
    return (
        ranked.filter(F.col("_rn") == 1)
        .select(F.col("canonical").alias("cluster"),
                F.col(id_col).alias("best_id"))
        .join(sizes.withColumnRenamed("canonical", "cluster"), "cluster")
    )
