"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with pure JVM expressions
(zip_with product + aggregate sum — whole-stage codegen; no Python).
Scale path: random-hyperplane LSH bucketing so each query probes only
its bucket (and optionally neighboring buckets), turning the full-corpus
scan into a bucket-local join. Hyperplanes are derived from SplitMix64
on a fixed seed — identical on every executor with no broadcast of
random state.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..pipeline.canonicalize import _splitmix64
from ..pipeline.skew import blocked_pairs


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase distributed top-k over (qid, vec_id, cosine).

    A single ``row_number() OVER (PARTITION BY qid)`` would hash every
    scored row to one reducer per query — for a broadcast-join scoring
    plan each query's partition is the WHOLE corpus sorted on a single
    task.  Instead: phase 1 ranks within (qid, input partition) — the
    hot query is salted across P reducers, each sorting ~|corpus|/P
    narrow 3-column rows (spillable, no hotspot, embeddings never
    shuffle) — and keeps rank ≤ k.  Phase 2's global window then sees
    only the |Q|·k·P survivors.  Ties break by vec_id everywhere, so
    the result is deterministic and identical to the one-phase plan
    (any global top-k row ranks ≤ k within its own partition)."""
    local_w = Window.partitionBy("qid", "_part").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    survivors = (
        scored.withColumn("_part", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(local_w))
        .filter(F.col("_lr") <= k)
        .drop("_lr", "_part")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "rank", "cosine")
    )


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Brute-force exact top-k: broadcast the (small) query set against
    the full vector corpus — one pass over the big side; the embeddings
    never shuffle.  Ranking is the two-phase top-k of
    :func:`_topk_per_query`: only narrow (qid, vec_id, cosine) triples
    shuffle, salted across reducers, and the final per-query sort sees
    |Q|·k·P rows, not the corpus."""
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.transform(F.col(qvec_col), lambda x: x.cast("double")).alias("qv"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .withColumn("cosine", _dot("v", "qv") / (_norm("v") * _norm("qv")))
        .select("qid", "vec_id", "cosine")
    )
    return _topk_per_query(scored, k)


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 7):
    """Deterministic pseudo-random unit hyperplanes."""
    g = _splitmix64(seed)
    planes = []
    for _ in range(n_planes):
        comps = [((next(g) % 2_000_001) / 1_000_000.0) - 1.0 for _ in range(dim)]
        norm = math.sqrt(sum(c * c for c in comps)) or 1.0
        planes.append([c / norm for c in comps])
    return planes


def lsh_bucket_col(vec_col, planes) -> "F.Column":
    """Sign-bit signature of a vector against the hyperplanes → int
    bucket id (JVM expressions only)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(c) for c in p])
        bit = (_dot(F.transform(vec_col, lambda x: x.cast("double")), arr) > 0
               ).cast("int")
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def lsh_ann_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                 n_planes: int = 8, id_col: str = "vec_id",
                 vec_col: str = "embedding", qid_col: str = "qid",
                 qvec_col: str = "qvec", dim: int | None = None) -> DataFrame:
    """Approximate top-k: probe only the query's LSH bucket. At 100 TB
    the bucket column is a partition key of the materialized index —
    the scan prunes to 1/2^n_planes of the corpus per query.

    ``dim`` is REQUIRED (the caller knows its embedding width): the
    old ``.first()`` fallback ran a driver action during plan
    construction, which stalls pipelines and breaks plan-only uses."""
    if dim is None:
        raise ValueError(
            "lsh_ann_topk requires dim (embedding width): probing it "
            "from the data would run a driver action at plan time")
    planes = hyperplanes(dim, n_planes)
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        lsh_bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.transform(F.col(qvec_col), lambda x: x.cast("double")).alias("qv"),
        lsh_bucket_col(F.col(qvec_col), planes).alias("bucket"),
    )
    scored = (
        v.join(F.broadcast(q), "bucket")
        .withColumn("cosine", _dot("v", "qv") / (_norm("v") * _norm("qv")))
        .select("qid", "vec_id", "cosine")
    )
    # two-phase top-k: a hot bucket (many vectors sharing one sign
    # pattern) would otherwise sort on one reducer per query
    return _topk_per_query(scored, k)


# --- IVF (inverted-file) ANN: the coarse-quantizer scale path ------------

def _pairwise_best(vectors: DataFrame, centroids: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "v",
                   n_best: int = 1) -> DataFrame:
    """Assign each vector to its nearest centroid(s) by cosine
    (broadcast the centroid table)."""
    scored = (
        vectors.crossJoin(F.broadcast(centroids))
        .withColumn("_sim", _dot(vec_col, "center")
                    / (_norm(vec_col) * _norm("center")))
        # the centroid array must not ride any exchange below — only
        # (id, v, cid, _sim) continue
        .drop("center")
    )
    if n_best == 1:
        # single-best assignment as a map-side-combinable max_by (the
        # dominant path: every Lloyd round + the index assignment):
        # no sort, no full-row window shuffle — partial aggregation
        # collapses each id to one row per map task first.  Ordering
        # matches the window path exactly: max (_sim, -cid) ≡ order by
        # _sim desc, cid asc (ties impossible — -cid is distinct).
        return (
            scored.groupBy(id_col)
            .agg(F.any_value(vec_col).alias(vec_col),
                 F.max_by(
                     "cid",
                     F.struct(F.col("_sim"), (-F.col("cid")).alias("_t"))
                 ).alias("cid"))
        )
    w = Window.partitionBy(id_col).orderBy(F.desc("_sim"), F.asc("cid"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_best)
        .drop("_sim", "_r")
    )


# Fixed-point scale for centroid accumulation: summing
# floor(val * 2^20) as exact integers makes the per-dimension mean
# independent of partition/merge order (float SUM is not associative;
# integer SUM is), so training is bit-reproducible run-to-run and
# against the SQL oracle. Range: |val| ≤ 1, so the sum stays < 2^63
# for corpora up to ~8.8e12 vectors per centroid — ANSI-safe.
_IVF_FP_SCALE = 1 << 20


def _vec_proj(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )


def ivf_train(vectors: DataFrame, nlist: int = 16, iters: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding",
              _v: DataFrame | None = None) -> DataFrame:
    """Train IVF coarse centroids with a couple of Lloyd rounds,
    entirely in DataFrame ops (posexplode → per-dimension fixed-point
    mean).  Deterministic init: id-strided sampling + TakeOrdered —
    no un-partitioned Window anywhere in the plan (a global
    row_number would funnel the corpus through one task).

    ``_v`` (private): a caller-owned, already-materializable projection
    ``(vec_id, v)`` — ivf_ann_topk passes its shared barrier so the
    index-assignment pass reuses the SAME materialized vectors instead
    of re-projecting the corpus; its lifetime is then the caller's
    problem, so no unpersist here."""
    v = _v if _v is not None else _vec_proj(vectors, id_col, vec_col).cache()
    n = v.count()
    stride = max(n // nlist, 1)
    seeds = (
        v.filter(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")  # TakeOrderedAndProject with the limit below
        .limit(nlist)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("center"))
    )
    centroids = seeds
    for _ in range(iters):
        assigned = _pairwise_best(v, centroids)
        centroids = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.sum(F.floor(F.col("val") * _IVF_FP_SCALE).cast("long")
                      ).alias("s"),
                F.count("*").alias("c"),
            )
            .withColumn(
                "m",
                F.col("s").cast("double") / F.col("c").cast("double")
                / float(_IVF_FP_SCALE))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("sm"))
            .select("cid", F.transform("sm", lambda s: s["m"]).alias("center"))
        )
        centroids = centroids.localCheckpoint()
    # the eager checkpoint above owns the final centroids; the cached
    # vector projection would otherwise leak into the session (one
    # cached corpus per ivf_train call on a long-lived cluster)
    if _v is None:
        v.unpersist()
    return centroids


def ivf_ann_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                 nlist: int = 16, nprobe: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """IVF search: vectors pre-assigned to their nearest centroid
    (at scale this is the materialized index's partition key); each
    query probes its nprobe nearest lists only — scan cost =
    nprobe/nlist of the corpus per query."""
    # ONE shared barrier for the projected corpus: training's first
    # count() materializes it, every Lloyd round AND the index
    # assignment below read the same materialized vectors (the old
    # shape re-projected the corpus for assignment after ivf_train
    # dropped its cache — measured +39% on the sf1 smoke).  Lazy
    # localCheckpoint, not cache(): no SQL-cache entry to leak;
    # ContextCleaner reclaims it when the plan is GC'd, same as every
    # other lazy barrier in the repo.
    v = _vec_proj(vectors, id_col, vec_col).localCheckpoint(eager=False)
    centroids = ivf_train(vectors, nlist=nlist, id_col=id_col,
                          vec_col=vec_col, _v=v)
    assigned = _pairwise_best(v, centroids)  # (vec_id, v, cid)
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.transform(F.col(qvec_col), lambda x: x.cast("double")).alias("qv"),
    )
    q_probe = _pairwise_best(
        q.withColumnRenamed("qid", "vec_id").withColumnRenamed("qv", "v"),
        centroids, n_best=nprobe,
    ).select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"), "cid")
    scored = (
        assigned.join(F.broadcast(q_probe), "cid")
        .withColumn("cosine", _dot("v", "qv") / (_norm("v") * _norm("qv")))
        .select("qid", "vec_id", "cosine")
        .distinct()
    )
    return _topk_per_query(scored, k)


def cosine_near_dup_pairs(vectors: DataFrame, threshold: float = 0.99,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Exact embedding-cosine near-dup pairs (a < b, cosine ≥ t).

    Brute O(n²) self-join — the ORACLE / bounded-corpus path. The
    production path at crawl scale is :func:`cosine_near_dup_pairs_lsh`
    (hyperplane blocking turns the cross join into per-bucket joins)."""
    v = vectors.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    a = v.select(F.col("id").alias("a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    cos = _dot("va", "vb") / (_norm("va") * _norm("vb"))
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def emb_lsh_candidate_pairs(v: DataFrame, dim: int, n_tables: int,
                            bits: int, max_bucket: int) -> DataFrame:
    """(id, v) → distinct candidate pairs (a, b), a < b, sharing a full
    sign-bit bucket in ≥1 table.  Only (id, tbl, bucket) is banded —
    vectors never cross an exchange here — and the window-count skew
    guard drops template-hot buckets BEFORE any pair expansion, sharing
    its exchange with the collect (plan shape pinned by test)."""
    tables = [
        lsh_bucket_col(F.col("v"), hyperplanes(dim, bits, seed=7 + 13 * t))
        for t in range(n_tables)
    ]
    banded = v.select("id", F.posexplode(F.array(*tables))
                      .alias("tbl", "bucket"))
    return blocked_pairs(banded, ["tbl", "bucket"], "id", max_bucket)


def cosine_near_dup_pairs_lsh(vectors: DataFrame, threshold: float = 0.99,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding", dim: int = 64,
                              n_tables: int = 4, bits: int = 12,
                              max_bucket: int = 4096) -> DataFrame:
    """Multi-table hyperplane-LSH near-dup pairs: candidates must share
    a full bucket in at least one of ``n_tables`` sign-bit tables, then
    exact cosine verification. At threshold t the per-pair recall is
    1-(1-(1-acos(t)/pi)^bits)^n_tables (≈0.97 at t=0.99 with 4x12;
    exact duplicates always collide — identical sign patterns).
    ``bits`` is the bucket-resolution knob and should grow with corpus
    size (collision rate for unrelated vectors ≈ n_tables/2^bits): 8
    bits over the 131k-vector bench corpus made 1.6%% of ALL pairs
    candidates (~10⁸ cosine verifications for a 10⁵ output); 12 bits
    cuts that 16-fold while staying above the documented recall.

    Scale shape (same posture as the other pair generators):

    - only ``(id, tbl, bucket)`` is banded — the embedding vectors
      never ride the banded exchange (they used to be exploded
      ``n_tables``-fold and carried through the self-join AND the
      pair-dedup exchange: corpus × n_tables vector bytes through two
      shuffles);
    - ``max_bucket`` is the skew guard: a WINDOW count over
      ``(tbl, bucket)`` drops template-hot sign-pattern buckets BEFORE
      any pair expansion, sharing one exchange with the collect_list
      (the shared ``skew.blocked_pairs`` stage);
    - pairs are expanded in-bucket from the sorted id list (a < b by
      construction), deduped bare, and only the SURVIVING pairs fetch
      their two vectors back via shuffle_hash joins (pinned: the
      optimizer's parquet-stats estimates would otherwise broadcast
      the whole vector corpus)."""
    v = vectors.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    cand = (
        emb_lsh_candidate_pairs(v, dim, n_tables, bits, max_bucket)
        # lazy barrier before the vector-fetch joins, same reason as
        # minhash_near_dup_pairs: give AQE real size stats for the
        # pair side instead of replanning the banded lineage
        .localCheckpoint(eager=False)
    )
    va = v.select(F.col("id").alias("a"), F.col("v").alias("va"))
    vb = v.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    joined = (cand.join(va.hint("shuffle_hash"), "a")
              .join(vb.hint("shuffle_hash"), "b"))
    cos = _dot("va", "vb") / (_norm("va") * _norm("vb"))
    return (
        joined.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )
