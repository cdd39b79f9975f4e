"""Key-skew profiling — the planning half of the north rule's "skew
handled explicitly; adaptive salting on hot phash buckets".

The hot-bucket guards in `operators/dedup.py` take a frequency cap as an
input (`max_bucket_size`, `max_window_freq`).  This module measures the
quantity such knobs are sized against: the per-key row distribution of a
join/agg key, run once per ingest batch at 10^12 rows.  `plan_salt_buckets`
turns the hottest key into a fan-out factor for per-key work that cannot be
combined map-side; a count can (see `operators/uniqueness.py`), so the
profile itself is a plain `key_counts` whose partial aggregation sends each
reducer at most one row per key per map task — profiling a skewed key never
recreates the hot-reducer problem it is diagnosing.

Spark-first shape: the count is one groupBy aggregation with map-side
partial aggregation; the top-k is a `row_number` window over the
(already key-collapsed) count frame — its shuffle carries one row per
distinct key, not per input row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .uniqueness import key_counts


def plan_salt_buckets(max_key_rows: int, target_rows_per_reducer: int = 1000, cap: int = 1024) -> int:
    """Fan-out factor so the hottest key's partial groups stay under
    `target_rows_per_reducer` rows each.  Pure integer arithmetic so the
    same rule is expressible in an ANSI-SQL oracle."""
    if max_key_rows <= target_rows_per_reducer:
        return 1
    return int(min(cap, -(-max_key_rows // target_rows_per_reducer)))


def hot_keys(df: DataFrame, keys: list[str], top_k: int = 10) -> DataFrame:
    """Top-k hottest key tuples: (keys..., n, rnk), deterministic ordering
    (count desc, then key asc) so ties at the top-k boundary are stable.

    The top-k runs as sort+limit — Catalyst plans TakeOrderedAndProject
    (per-partition top-k, merged at the driver), NOT an unpartitioned
    row_number window, which would collapse the whole count frame onto one
    reducer; the rank window only ever sees the k survivors."""
    order = [F.desc("n"), *[F.asc(k) for k in keys]]
    top = key_counts(df, keys).orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return top.withColumn("rnk", F.row_number().over(w)).select(*keys, "n", "rnk")


def skew_profile(
    df: DataFrame,
    keys: list[str],
    target_rows_per_reducer: int = 1000,
) -> DataFrame:
    """One-row skew summary of a key column: total rows, distinct keys,
    hottest-key row count, the hottest key itself (ties → smallest key),
    and the salt fan-out `plan_salt_buckets` would choose.

    Single aggregation over the key-collapsed count frame; the argmax is
    the max-of-struct trick (n desc, key asc via negation) so no second
    job or self-join runs.  Only works for numeric single keys in the
    argmax column — callers with composite/string keys use `hot_keys`.
    """
    if len(keys) != 1:
        raise ValueError("skew_profile takes a single key column; use hot_keys for composites")
    k = keys[0]
    counts = key_counts(df, keys)
    target = int(target_rows_per_reducer)
    agg = counts.agg(
        F.sum("n").cast("long").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").cast("long").alias("max_n"),
        F.max(F.struct(F.col("n"), (-F.col(k)).alias("_negk")))["_negk"].alias("_negtop"),
    )
    return agg.select(
        "total_rows",
        "n_keys",
        "max_n",
        (-F.col("_negtop")).alias("hottest_key"),
        F.when(F.col("max_n") <= target, F.lit(1))
        .otherwise(F.least(F.lit(1024), F.ceil(F.col("max_n") / F.lit(float(target)))))
        .cast("int")
        .alias("rec_salt_buckets"),
    )
