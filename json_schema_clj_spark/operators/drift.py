"""Distribution-drift detection: two-sample KS and PSI over per-group
histogram sketches (north-star extension; no analog in the single-document
reference — golden fixtures come from the seeded generator, FIXTURES.md §5).

Scale shape: the full table collapses to |groups| × |buckets| sketch rows
in ONE partial-aggregated pass (`width_bucket`-style bucketing + count).
The KS/PSI arithmetic then runs on that tiny sketch table — one
`groupBy(group)` gathers each group's two bucket→count maps, and one
`aggregate` walks their sorted bucket keys — so nothing is collected to the
driver and the same code works when |groups| is large.

The fixed arithmetic is written as SQL strings (`selectExpr`/`F.expr`):
under PySpark 4 every Column built in Python costs about a dozen Py4J round
trips for call-site capture, while a SQL string is parsed in the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
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


def _ks_psi(per_group: DataFrame, eps: float, *extra: str) -> DataFrame:
    """(group, ks, psi, *extra) from one row per group carrying `base`/`cur`
    bucket→count maps and their totals `tot_base`/`tot_cur`; `extra` are
    SQL expressions over the scores `s.ks` and `s.psi`.

    Walks the sorted union of both maps' buckets (a bucket missing from one
    side counts 0) with running CDFs, so each sum adds the same terms in the
    same bucket order as a window cumsum over the full-outer-joined sketch
    rows.  SQL `ln` is the same `Log` expression as `F.log`."""
    e = _dbl(eps)
    walk = f"""aggregate(
        transform(
            array_sort(array_distinct(concat(map_keys(base), map_keys(cur)))),
            b -> named_struct(
                'p', coalesce(base[b], 0) / greatest(tot_base, 1),
                'q', coalesce(cur[b], 0) / greatest(tot_cur, 1))),
        named_struct('cdf_p', 0D, 'cdf_q', 0D, 'ks', 0D, 'psi', 0D),
        (acc, x) -> named_struct(
            'cdf_p', acc.cdf_p + x.p,
            'cdf_q', acc.cdf_q + x.q,
            'ks', greatest(acc.ks, abs((acc.cdf_p + x.p) - (acc.cdf_q + x.q))),
            'psi', acc.psi + (x.p - x.q) * ln((x.p + {e}) / (x.q + {e})))) AS s"""
    return per_group.selectExpr("`group`", walk).selectExpr(
        "`group`", "s.ks AS ks", "s.psi AS psi", *extra
    )


def drift_scores(
    baseline_sketch: DataFrame,
    current_sketch: DataFrame,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-group two-sample KS statistic + PSI between a baseline sketch and
    a current sketch (same bucketing, one row per (group, bucket) as
    `histogram_sketch` gives).  A bucket missing from one sketch counts 0;
    a NULL group is not scored.

    KS  = max_b |CDF_base(b) - CDF_cur(b)|
    PSI = Σ_b (p_b - q_b) · ln(p_b / q_b)   with ε-smoothed proportions.

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
    return _ks_psi(per_group, eps)


def chi2_scores(
    baseline_sketch: DataFrame,
    current_sketch: DataFrame,
) -> DataFrame:
    """Per-group Pearson chi-square statistic of the current sample against
    the baseline distribution (the third drift lens next to KS and PSI —
    chi2 is the classic goodness-of-fit test on binned data and is the most
    sensitive of the three to localized bucket shifts).

    chi2 = Σ_b (observed_b − expected_b)² / expected_b  over buckets with
    baseline mass, where expected_b = tot_cur · (n_base_b / tot_base);
    `dof` = (#buckets with baseline mass) − 1.  Same scale shape as
    drift_scores: runs entirely on the |groups|×|buckets| sketch table.
    """
    b = baseline_sketch.select("group", "bucket", F.col("n").alias("n_base"))
    c = current_sketch.select("group", "bucket", F.col("n").alias("n_cur"))
    j = b.join(c, on=["group", "bucket"], how="full_outer").fillna(
        {"n_base": 0, "n_cur": 0}
    )
    tot = j.groupBy("group").agg(
        F.sum("n_base").alias("tot_base"), F.sum("n_cur").alias("tot_cur")
    )
    j = j.join(tot, on="group").where(F.col("n_base") > 0)
    e = F.col("tot_cur") * F.col("n_base") / F.col("tot_base")
    term = (F.col("n_cur") - e) * (F.col("n_cur") - e) / e
    return j.groupBy("group").agg(
        F.sum(term).alias("chi2"),
        (F.count(F.lit(1)) - F.lit(1)).alias("dof"),
    )


def emd_scores(
    baseline_sketch: DataFrame,
    current_sketch: DataFrame,
) -> DataFrame:
    """Per-group 1-D Wasserstein-1 (earth-mover's) distance between the
    baseline and current histograms — the fourth drift lens next to
    KS/PSI/chi2.  KS sees only the single worst CDF gap and PSI/chi2 are
    re-binning-sensitive ratio tests; W1 integrates the WHOLE CDF gap, so
    it is the lens that responds proportionally to a small mean shift
    (the classic embedding/feature-drift signal).

    On equal-width buckets, W1 between the normalized histograms is
      (bucket_width / (tot_base · tot_cur)) · Σ_b |cum_base(b)·tot_cur −
                                                   cum_cur(b)·tot_base|
    This emits the integer numerator `emd_x = Σ_b |·|` plus the two totals
    and leaves the division to the caller: every compared value is exact
    integer arithmetic (order-free sums of products), so two engines can
    never disagree by a ULP.  Products are carried as DECIMAL(38,0) —
    cum·tot reaches 10^24 at 10^12-row scale, past BIGINT.

    Runs entirely on the |groups|×|buckets| sketch table, like
    drift_scores: a window cumsum + one agg; nothing is collected.
    """
    b = baseline_sketch.select("group", "bucket", F.col("n").alias("n_base"))
    c = current_sketch.select("group", "bucket", F.col("n").alias("n_cur"))
    j = b.join(c, on=["group", "bucket"], how="full_outer").fillna(
        {"n_base": 0, "n_cur": 0}
    )
    tot = j.groupBy("group").agg(
        F.sum("n_base").alias("tot_base"), F.sum("n_cur").alias("tot_cur")
    )
    j = j.join(tot, on="group")
    w = Window.partitionBy("group").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = "decimal(38,0)"
    cum_base = F.sum("n_base").over(w).cast(dec)
    cum_cur = F.sum("n_cur").over(w).cast(dec)
    diff = cum_base * F.col("tot_cur").cast(dec) - cum_cur * F.col("tot_base").cast(dec)
    # The sketch is sparse (only buckets with mass appear), but the CDF gap
    # persists across absent bucket indices — each row's |diff| covers the
    # index range [bucket, next_present_bucket), so weight by that gap.
    # The trailing row's diff is identically 0 (both CDFs have reached
    # their totals), so the open-ended tail contributes nothing either way.
    wl = Window.partitionBy("group").orderBy("bucket")
    gap = (
        F.coalesce(F.lead("bucket").over(wl), F.col("bucket") + 1) - F.col("bucket")
    ).cast(dec)
    scored = j.select("group", "tot_base", "tot_cur", (F.abs(diff) * gap).alias("d"))
    return scored.groupBy("group").agg(
        F.sum("d").cast(dec).alias("emd_x"),
        F.first("tot_base").alias("tot_base"),
        F.first("tot_cur").alias("tot_cur"),
    )


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
    """Compare EVERY group's distribution against the pooled baseline rows
    (the FIXTURES.md §5 shape: baseline partitions pooled, each partition
    scored against it; rows whose `baseline_filter` is NULL are not
    baseline, a NULL group feeds the pool but is not scored); flags groups
    exceeding either threshold.

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
    return _ks_psi(
        per_group.crossJoin(pooled.hint("broadcast")),
        1e-6,
        f"s.ks > {_dbl(ks_threshold)} OR s.psi > {_dbl(psi_threshold)} AS drifted",
    )
