"""Distribution-drift detection: two-sample KS, PSI, Pearson chi-square and
Wasserstein-1 (EMD) over per-group histogram sketches (north-star
extension; no analog in the single-document reference — golden fixtures
come from the seeded generator, FIXTURES.md §5).

Scale shape: the full table collapses to |groups| × |buckets| sketch rows
in ONE partial-aggregated pass (`width_bucket`-style bucketing + count).
All four lenses then run on that tiny sketch table — one `groupBy(group)`
gathers each group's two bucket→count maps, and one `aggregate` walks their
sorted bucket keys and folds every lens at once — so nothing is collected to
the driver, no sketch is joined to another, and the same code works when
|groups| is large.

The fixed arithmetic is written as SQL strings (`selectExpr`/`F.expr`):
under PySpark 4 every Column built in Python costs about a dozen Py4J round
trips for call-site capture, while a SQL string is parsed in the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dbl(x) -> str:
    """`x` as an exact SQL double literal (`repr` round-trips a float)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


# SQL aggregate: a bucket -> count map from `struct(bucket, n)` entries
_COUNTS = "map_from_entries(collect_list({}))"


def _bucketed(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    buckets: int,
    **extra: Column,
) -> DataFrame:
    """(group, bucket, *extra) for every row whose value is not NULL, with
    fixed [lo, hi) equi-width buckets; out-of-range values clamp into the
    edge buckets so mass is conserved.  `extra` Columns ride along under
    their keyword names."""
    v = "CAST(_v AS DOUBLE)"
    bucket = (
        f"least(greatest(CAST(floor(({v} - {_dbl(lo)}) / {_dbl((hi - lo) / buckets)})"
        f" AS BIGINT), 0), {int(buckets) - 1}) AS bucket"
    )
    return (
        df.select(group_col, value_col, *extra.values())
        .toDF("group", "_v", *extra)
        .where(f"{v} IS NOT NULL")
        .selectExpr("`group`", bucket, *extra)
    )


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    buckets: int = 64,
) -> DataFrame:
    """(group, bucket, n) counts with fixed [lo, hi) equi-width buckets.
    Out-of-range values clamp into the edge buckets so mass is conserved."""
    return (
        _bucketed(df, value_col, group_col, lo, hi, buckets)
        .groupBy("group", "bucket")
        .agg(F.expr("count(1) AS n"))
    )


# exact integer type of the EMD fold: cum·tot reaches 10^24 at 10^12 rows
_DEC = "DECIMAL(38,0)"


# every lens, as SQL over the walk's result `s` and the group totals
_LENSES = (
    "`group`",
    "s.ks AS ks",
    "s.psi AS psi",
    "if(s.k > 0, s.chi2, NULL) AS chi2",
    "if(s.k > 0, s.k - 1, NULL) AS dof",
    "s.emd AS emd_x",
    "tot_base",
    "tot_cur",
)


def _scores(per_group: DataFrame, eps: float, cols=_LENSES) -> DataFrame:
    """`cols` (default: group, ks, psi, chi2, dof, emd_x, tot_base, tot_cur)
    from one row per group carrying `base`/`cur` bucket→count maps and their
    totals `tot_base`/`tot_cur`.

    `map_zip_with` pairs both maps' buckets (a bucket missing from one side
    counts 0), and one `aggregate` walks the pairs sorted by bucket and
    folds every lens in bucket order:

    KS   = max_b |CDF_base(b) - CDF_cur(b)|
    PSI  = Σ_b (p_b - q_b) · ln(p_b / q_b)   with ε-smoothed proportions
    chi2 = Σ_b (n_cur_b - e_b)² / e_b,  e_b = tot_cur · n_base_b / tot_base,
           over buckets with baseline mass; dof = (#such buckets) - 1, both
           NULL for a group without baseline mass or without current mass
           (no expected count is positive)
    emd_x = Σ_b |cum_base(b)·tot_cur - cum_cur(b)·tot_base| · (b' - b)

    `emd_x` is the integer numerator of the Wasserstein-1 distance between
    the normalized histograms, W1 = bucket_width · emd_x / (tot_base ·
    tot_cur); the division is left to the caller so two engines never
    disagree by a ULP.  On a sparse sketch the CDF gap persists over absent
    bucket indices, so the gap after bucket b is weighted by the distance
    to the next present bucket b'.  The fold carries the previous bucket
    and its gap, exact in DECIMAL(38,0); the last bucket's gap is 0 (both
    cumulative counts have reached their totals).  SQL `ln` is the same
    `Log` expression as `F.log`."""
    e = _dbl(eps)
    walk = f"""aggregate(
        array_sort(map_values(map_zip_with(base, cur, (b, nb, nc) -> named_struct(
            'b', CAST(b AS BIGINT),
            'nb', coalesce(nb, 0L),
            'nc', coalesce(nc, 0L),
            'p', coalesce(nb, 0) / greatest(tot_base, 1),
            'q', coalesce(nc, 0) / greatest(tot_cur, 1),
            'e', CASE WHEN nb > 0 AND tot_cur > 0 THEN tot_cur * nb / tot_base END)))),
        named_struct('cdf_p', 0D, 'cdf_q', 0D, 'ks', 0D, 'psi', 0D, 'chi2', 0D, 'k', 0L,
                     'cum_b', 0L, 'cum_c', 0L, 'prev', 0L,
                     'gap', CAST(0 AS {_DEC}), 'emd', CAST(0 AS {_DEC})),
        (acc, x) -> named_struct(
            'cdf_p', acc.cdf_p + x.p,
            'cdf_q', acc.cdf_q + x.q,
            'ks', greatest(acc.ks, abs((acc.cdf_p + x.p) - (acc.cdf_q + x.q))),
            'psi', acc.psi + (x.p - x.q) * ln((x.p + {e}) / (x.q + {e})),
            'chi2', if(x.e IS NULL, acc.chi2, acc.chi2 + (x.nc - x.e) * (x.nc - x.e) / x.e),
            'k', acc.k + if(x.e IS NULL, 0L, 1L),
            'cum_b', acc.cum_b + x.nb,
            'cum_c', acc.cum_c + x.nc,
            'prev', x.b,
            'gap', abs(CAST(acc.cum_b + x.nb AS {_DEC}) * CAST(tot_cur AS {_DEC})
                - CAST(acc.cum_c + x.nc AS {_DEC}) * CAST(tot_base AS {_DEC})),
            'emd', acc.emd + acc.gap * CAST(x.b - acc.prev AS {_DEC}))) AS s"""
    return per_group.selectExpr("`group`", "tot_base", "tot_cur", walk).selectExpr(*cols)


def drift_scores(
    baseline_sketch: DataFrame,
    current_sketch: DataFrame,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-group KS, PSI, chi-square and EMD (see `_scores` for the
    columns) between a baseline sketch and a current sketch (same
    bucketing, one row per (group, bucket) as `histogram_sketch` gives).
    A bucket missing from one sketch counts 0; a NULL group is not scored.

    One tag-union of the two sketches and one `groupBy(group)` — no join.
    """
    tagged = baseline_sketch.selectExpr("`group`", "bucket", "n", "true AS _base").unionByName(
        current_sketch.selectExpr("`group`", "bucket", "n", "false AS _base")
    )
    per_group = (
        tagged.where("`group` IS NOT NULL")
        .groupBy("group")
        .agg(
            F.expr(_COUNTS.format("CASE WHEN _base THEN struct(bucket, n) END") + " AS base"),
            F.expr(_COUNTS.format("CASE WHEN NOT _base THEN struct(bucket, n) END") + " AS cur"),
            F.expr("coalesce(sum(CASE WHEN _base THEN n END), 0) AS tot_base"),
            F.expr("coalesce(sum(CASE WHEN NOT _base THEN n END), 0) AS tot_cur"),
        )
    )
    return _scores(per_group, eps)


def _pooled(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_filter: Column,
    lo: float,
    hi: float,
    buckets: int,
) -> DataFrame:
    """One row per non-NULL group with its `cur` bucket→count map and
    `tot_cur`, beside the pooled baseline's `base` map and `tot_base`.

    One scan: a single (group, bucket) sketch counts every row and the
    baseline rows side by side, and one `groupBy(group)` folds it into each
    group's `counts` map.  The pooled baseline is summed from those maps into
    one bucket→count map, which a one-row broadcast hands to every group's
    row.  Both branches read the same `counts` column, so Spark runs the
    sketch's exchange once and reuses it — the table is read once."""
    counts = (
        _bucketed(df, value_col, group_col, lo, hi, buckets, is_base=baseline_filter)
        .groupBy("group", "bucket")
        .agg(F.expr("count(1) AS n"), F.expr("count_if(coalesce(is_base, false)) AS n_base"))
        .groupBy("group")
        .agg(
            F.expr(_COUNTS.format("struct(bucket, struct(n, n_base))") + " AS counts"),
            F.expr("count(`group`) AS n_keyed"),
        )
    )
    pooled = (
        counts.selectExpr("explode(counts) AS (bucket, c)")
        .groupBy("bucket")
        .agg(F.expr("sum(c.n_base) AS n"))
        .where("n > 0")
        .agg(
            F.expr(_COUNTS.format("struct(bucket, n)") + " AS base"),
            F.expr("coalesce(sum(n), 0) AS tot_base"),
        )
    )
    # A NULL group is not scored.  The test is on an aggregate, `n_keyed`, so
    # Catalyst keeps it above the shared sketch: a test on `group` would be
    # pushed into this branch's scan, and the table would be read twice.
    per_group = counts.where("n_keyed > 0").selectExpr(
        "`group`",
        "transform_values(counts, (b, c) -> c.n) AS cur",
        "aggregate(map_values(counts), 0L, (t, c) -> t + c.n) AS tot_cur",
    )
    return per_group.crossJoin(pooled.hint("broadcast"))


def pooled_drift_scores(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_filter: Column,
    lo: float,
    hi: float,
    buckets: int = 64,
) -> DataFrame:
    """Score EVERY group's distribution against the pooled baseline rows
    (the FIXTURES.md §5 shape: baseline partitions pooled, each partition
    scored against it; rows whose `baseline_filter` is NULL are not
    baseline, a NULL group feeds the pool but is not scored), reading the
    table once.  Same columns as `drift_scores`."""
    return _scores(_pooled(df, value_col, group_col, baseline_filter, lo, hi, buckets), 1e-6)


def detect_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    baseline_filter: Column,
    lo: float,
    hi: float,
    buckets: int = 64,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """(group, ks, psi, drifted): `pooled_drift_scores`' KS and PSI with a
    flag on the groups exceeding either threshold, selected straight from
    the walk (one projection, not a second one over all the lenses)."""
    return _scores(
        _pooled(df, value_col, group_col, baseline_filter, lo, hi, buckets),
        1e-6,
        (
            "`group`",
            "s.ks AS ks",
            "s.psi AS psi",
            f"s.ks > {_dbl(ks_threshold)} OR s.psi > {_dbl(psi_threshold)} AS drifted",
        ),
    )
