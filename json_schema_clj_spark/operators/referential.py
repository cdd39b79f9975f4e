"""Referential-integrity checks — the table-level analog of external
`$ref` (/root/reference/src/json_schema/core.clj:941-954): where the
reference resolves one document's reference against a fetched schema, a
table run validates every foreign key against a dimension table.

Join strategy matters at 10^12 rows: a small dimension (formats, licenses)
is broadcast — zero shuffle of the fact table; a large reference table
falls back to sort-merge with AQE skew splitting.  `broadcast='auto'`
defers to Spark's own threshold-based choice; True/False force it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dangling(
    fact: DataFrame,
    fact_key: str | list[str],
    dim: DataFrame,
    dim_key: str | list[str],
    broadcast: bool | str = True,
) -> DataFrame:
    """Rows of `fact` whose key has no match in `dim` (null keys pass,
    mirroring the presence-guard of property validation).

    Composite foreign keys: pass equal-length column lists for
    `fact_key`/`dim_key`; the anti-join runs on the full tuple and a row
    with ANY null key component passes (it cannot positively mismatch —
    the same guard as the single-key form).  The dimension side is a
    projection of only the key columns, broadcast as it stands: an anti-join
    only asks whether a key exists, so repeated dim keys change nothing and
    a distinct would cost a shuffle of the dimension before the broadcast."""
    fact_keys = [fact_key] if isinstance(fact_key, str) else list(fact_key)
    dim_cols = [dim_key] if isinstance(dim_key, str) else list(dim_key)
    if len(fact_keys) != len(dim_cols):
        # zip would silently drop the extra components and under-report
        # dangling rows (code-review round 3)
        raise ValueError(
            f"fact_key/dim_key arity mismatch: {fact_keys} vs {dim_cols}"
        )
    dim_keys = dim.select(*dim_cols).toDF(*fact_keys)
    if broadcast is True:
        dim_keys = F.broadcast(dim_keys)
    present = fact
    for k in fact_keys:
        present = present.where(F.col(k).isNotNull())
    return present.join(dim_keys, on=fact_keys, how="left_anti")


def coverage(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    exact: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """JOIN-FREE referential coverage estimate via set-overlap sketches:
    tag-union the two key projections, aggregate three distinct-counts in
    one pass (fact keys, dim keys, union), and recover matched/dangling
    DISTINCT key counts by inclusion-exclusion::

        |fact ∩ dim| = |fact| + |dim| - |fact ∪ dim|
        dangling     = |fact ∪ dim| - |dim|

    Scale shape: where the anti-join (`dangling`) shuffles the fact table
    on the key — the right tool when you need the violating ROWS — this
    estimator answers "how broken is the reference?" with a single scan
    of both key columns, map-side HLL partials, and a one-row final
    aggregate: no join, no fact-table shuffle, sketch bytes per partition.
    At 10^12 rows it's the cheap first pass that decides whether the
    row-level anti-join is worth running at all.

    `exact=True` swaps HLL for exact count_distinct (the oracle mode —
    Catalyst expands the multi-distinct aggregate, fine at test scale).
    HLL estimates can push inclusion-exclusion outside the feasible
    range on either side, so d_matched clamps into its logical bounds
    (0 ≤ d_matched ≤ min(d_fact, d_dim)) and d_dangling is derived as
    d_fact − d_matched — identical to d_union − d_dim pre-clamp, and
    guaranteeing the pair always satisfies d_matched + d_dangling =
    d_fact (no contradictory triage numbers).  NULL keys are excluded
    on both sides (a
    NULL foreign key cannot positively mismatch — same presence guard as
    `dangling`)."""
    f = fact.select(F.col(fact_key).alias("k")).where(F.col(fact_key).isNotNull())
    d = dim.select(F.col(dim_key).alias("k")).where(F.col(dim_key).isNotNull())
    tagged = f.withColumn("src", F.lit(0)).unionByName(d.withColumn("src", F.lit(1)))

    if exact:
        def cd(col):
            return F.count_distinct(col)
    else:
        def cd(col):
            return F.approx_count_distinct(col, rsd)

    agg = tagged.agg(
        cd(F.when(F.col("src") == 0, F.col("k"))).alias("d_fact"),
        cd(F.when(F.col("src") == 1, F.col("k"))).alias("d_dim"),
        cd(F.col("k")).alias("d_union"),
    )
    matched = F.least(
        F.col("d_fact"),
        F.col("d_dim"),
        F.greatest(F.lit(0), F.col("d_fact") + F.col("d_dim") - F.col("d_union")),
    )
    # derive dangling from the clamped matched (pre-clamp the two are the
    # same identity: d_union - d_dim == d_fact - matched), so the pair is
    # always mutually consistent: d_matched + d_dangling == d_fact
    dangling_keys = F.col("d_fact") - matched
    return agg.select(
        "d_fact",
        "d_dim",
        "d_union",
        matched.alias("d_matched"),
        dangling_keys.alias("d_dangling"),
    )


def referential_violations(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    dim_name: str,
    id_cols: list[str],
    broadcast: bool | str = True,
    severity: str = "error",
) -> DataFrame:
    """Violation rows tagged keyword_path ['$ref', <dim_name>] — the shape
    FIXTURES.md §2 expects for dangling license/format references."""
    bad = dangling(fact, fact_key, dim, dim_key, broadcast=broadcast)
    return bad.select(
        *id_cols,
        F.array(F.lit("$ref"), F.lit(dim_name)).alias("keyword_path"),
        F.array(F.lit(fact_key)).alias("instance_path"),
        F.lit("$ref").alias("keyword"),
        F.concat(
            F.lit(f"Could not resolve $ref = {dim_name}/"), F.col(fact_key).cast("string")
        ).alias("message"),
        F.lit(severity).alias("severity"),
    )


def aggregate_consistency(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_key: str,
    parent_cents,
    child_cents,
    tol_bp: int = 0,
) -> DataFrame:
    """Cross-table aggregate consistency — validate that a parent table's
    stored aggregate column equals the rollup of its children (the
    table-scale analog of the reference's `$data` cross-field `const`,
    core.clj:500-517, where the "other field" lives one join away).

    `parent_cents` / `child_cents` are integer Column expressions (callers
    quantize money per ROW before summing, so the rollup is an order-free
    integer sum — no float accumulation can differ between engines).
    Output: one row per parent key with (parent_cents, child_cents,
    status), status ∈ childless | exact | within_tol | mismatch, where
    within_tol uses the cross-multiplied basis-point rule
    |parent−child|·10000 <= tol_bp·|parent| (integer arithmetic only).

    Scale shape: one partial-aggregated child rollup shuffle + one join
    on the parent key (broadcast if the parent is dim-sized, sort-merge
    otherwise — Catalyst's choice); nothing collected.
    """
    rolled = child.groupBy(F.col(child_key).alias("_k")).agg(
        F.sum(child_cents).cast("long").alias("child_cents")
    )
    p = parent.select(
        F.col(parent_key).alias("_k"), parent_cents.cast("long").alias("parent_cents")
    )
    j = p.join(rolled, on="_k", how="left")
    diff = F.abs(F.col("parent_cents") - F.col("child_cents"))
    status = (
        F.when(F.col("child_cents").isNull(), F.lit("childless"))
        .when(diff == 0, F.lit("exact"))
        .when(
            diff * 10000 <= F.lit(int(tol_bp)) * F.abs(F.col("parent_cents")),
            F.lit("within_tol"),
        )
        .otherwise(F.lit("mismatch"))
    )
    return j.select(
        F.col("_k").alias(parent_key), "parent_cents", "child_cents",
        status.alias("status"),
    )
