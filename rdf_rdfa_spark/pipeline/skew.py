"""Explicit skew handling: template-heavy hosts make per-host keys
Zipf-skewed, so no hot key may pin a single reducer.

- ``salted_agg``: two-phase aggregation for composable partials
  (count/sum/min/max/collect pieces); a hot key's rows spread over
  ``salt`` reducers.  It matters when the aggregation state is large
  (collect_list/collect_set); plain count/sum already get map-side
  partial aggregation.
- ``capped_blocks`` / ``blocked_pairs``: the blocking stage every
  candidate-pair generator shares — drop blocks above ``max_bucket``
  before any membership list exists, then expand each surviving block
  into its ``a < b`` pairs.

Skewed joins are left to AQE's skew-join (enabled in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def salted_agg(
    df: DataFrame,
    key_cols: list,
    partial_aggs: list,
    final_aggs: list,
    salt: int = 16,
    salt_expr=None,
) -> DataFrame:
    """Two-phase aggregation with salting.

    salt_expr must NOT be a function of the key alone (that would put
    a hot key's rows back on one reducer); default salts on the whole
    row. partial_aggs aggregate the (key, salt) groups; final_aggs
    combine partials per key — so they must compose (count→sum,
    sum→sum, min→min, collect_list→flatten...).
    """
    if salt_expr is None:
        salt_expr = F.pmod(F.xxhash64(*df.columns), F.lit(salt))
    salted = df.withColumn("_salt", salt_expr)
    partial = salted.groupBy(*key_cols, "_salt").agg(*partial_aggs)
    return partial.groupBy(*key_cols).agg(*final_aggs).drop("_salt")


def host_rollup(triples: DataFrame, salt: int = 16) -> DataFrame:
    """Per-host triple counts over the Zipf-skewed corpus, salted so
    host0 (the template-heavy hot key, ~16% of pages) doesn't pin a
    single reducer even for aggregations without partial pushdown."""
    hosted = triples.withColumn(
        "host", F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)
    )
    return salted_agg(
        hosted,
        ["host"],
        [F.count("*").alias("_n")],
        [F.sum("_n").alias("n_triples")],
        salt=salt,
        salt_expr=F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(salt)),
    ).select("host", "n_triples")


def capped_blocks(df: DataFrame, key_cols: list, max_bucket: int) -> DataFrame:
    """Rows of ``df`` in blocks (``key_cols``) of 2..``max_bucket`` rows,
    with the block size as ``n_b``.

    A WINDOW count, not a groupBy count: WindowExec buffers a block in
    a SPILLABLE sorter, while a collect_list over a template-hot block
    would hold all of it in ONE non-spillable agg buffer (an executor
    OOM at crawl scale).  The window keeps the ``key_cols``
    partitioning, so a groupBy on the same keys above it shares its
    exchange (a count + semi-join guard costs one more).  Plan shape
    pinned by the ``*_bucket_cap_*`` tests."""
    w = Window.partitionBy(*key_cols)
    return (df.withColumn("n_b", F.count("*").over(w))
            .filter((F.col("n_b") > 1) & (F.col("n_b") <= max_bucket)))


def blocked_pairs(df: DataFrame, key_cols: list, item: str,
                  max_bucket: int) -> DataFrame:
    """Distinct pairs ``(a, b)``, ``a < b``, of ``item`` values sharing a
    block (``key_cols``) of at most ``max_bucket`` members.

    The cap applies before the collect_list, so no agg buffer holds
    more than ``max_bucket`` items.  Pairs come from the sorted member
    list (no self-join); a struct item sorts by its first field."""
    return (
        capped_blocks(df, key_cols, max_bucket)
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(item)).alias("ids"))
        .select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), "
            "y -> struct(x as a, y as b))))"
        )).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )
