"""Table validation runner: compiled checks → violations, verdicts, sinks.

The distributed analog of the reference's `validate` entry point
(/root/reference/src/json_schema/core.clj:1500-1502): where one call
returns `{:errors [...] :warnings [...]}` for one document, this runner
annotates every row of a DataFrame with its violation array and derives

* **violation rows** — one row per (document, violation), the exploded
  error sink `{:path :message}` analog, plus severity routing
  (add-error, core.clj:42-45), and
* **per-partition verdicts** — `(part, n_rows, n_fail, pass)` pass/fail
  rollups (a north-star extension; the reference is single-document).

Everything is a single Catalyst plan: scan → predicate eval (whole-stage
codegen) → map-side partial agg → tiny shuffle on the partition key.  At
10^12 rows the verdict agg shuffles only |partitions| rows and the
violation sink is filter-pushdown-friendly (violations are rare).
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.compiler import compile_for_table
from ..plans.ir import Compiled


def with_validation(
    df: DataFrame,
    schema: dict,
    config: Optional[dict] = None,
) -> DataFrame:
    """Annotate every row with `violations array<struct>` + `valid boolean`,
    in one projection for every config.

    `valid` is the compiled `ok`, which only an error-severity check can
    fail (``ir.simple_check``), so it matches the reference's
    `valid == (empty? errors)` contract: warnings and deferreds are
    recorded but never fail a document (utils.clj:50-71,
    custom_extensions_test.clj:91-128).  A consumer that reads only
    `valid` (verdict rollups) never touches the violation structs, and
    Catalyst prunes their construction — ~2× on the flagship table scan.
    The coalesce reads a residual NULL ok (custom register_keyword checks
    under 3VL) as invalid, or valid=NULL rows would escape every ~valid
    prefilter while carrying violations.
    """
    compiled: Compiled = compile_for_table(schema, df.schema, config=config)
    return df.withColumns(
        {"violations": compiled.violations, "valid": F.coalesce(compiled.ok, F.lit(False))}
    )


def violation_rows(
    validated: DataFrame,
    id_cols: list[str],
    prefilter=None,
    with_ordinal: bool = False,
) -> DataFrame:
    """Explode to one row per violation: the distributed error sink.

    Filter-first so the explode only touches failing rows — at scale the
    generated plan is scan → codegen predicate → explode of a tiny subset.
    `prefilter` (when provided) is a cheap boolean Column equivalent to
    "has violations" — e.g. ~valid when validity and non-emptiness coincide
    — letting the filter run WITHOUT constructing the violation structs for
    passing rows (~3× on the sink).

    `with_ordinal=True` adds `v_ord`, the violation's position within its
    source row's (ordered — core.clj keeps errors in check order) array.
    Two uses: the sink preserves the reference's error ordering, and
    failing-ROW counts become `count(v_ord = 0)` — a plain filtered count
    with map-side partials, instead of a count_distinct over a row-id
    (which at 10^9 violation rows is a full dedup aggregation of the sink).
    """
    cond = prefilter if prefilter is not None else (F.size(F.col("violations")) > 0)
    filtered = validated.where(cond)
    if not with_ordinal:
        # the violation struct's fields are the output columns, in order
        return filtered.select(*id_cols, F.inline(F.col("violations")))
    return filtered.select(
        *id_cols, F.posexplode(F.col("violations")).alias("v_ord", "v")
    ).select(*id_cols, "v_ord", "v.*")


def violation_examples(
    validated: DataFrame,
    id_cols: list[str],
    k: int = 3,
    prefilter=None,
) -> DataFrame:
    """k deterministic EXAMPLE rows per violated keyword path — the "show
    me three failing rows per check" triage view, without ever collecting
    or globally sorting the violation set.

    Determinism: examples are the k smallest VIOLATIONS by the `id_cols`
    tuple (ties broken by instance_path, message — a row that violates
    the same path at several instance paths, e.g. three failing `items`
    elements, can supply several examples, each pointing at a distinct
    element), so reruns and different partitionings return bit-identical
    output — same contract as the min-id keeper in exact dedup.

    Scale shape: failing rows only are exploded (violation_rows'
    filter-first plan), then one `row_number() <= k` over the path key.
    Spark plans that as a two-phase top-k: a `WindowGroupLimit Partial`
    keeps at most k rows per path in each task BEFORE the exchange on the
    path, and a `WindowGroupLimit Final` after it — so the low-cardinality
    path key (one reducer per path, DS2-style skew) receives at most
    k·|tasks| rows per path, never the whole violation set.  The partial
    limit needs k ≤ `spark.sql.optimizer.windowGroupLimitThreshold`
    (default 1000); above it Spark plans a plain window.  Output:
    (keyword_path, keyword, severity, rank 1..k, *id_cols, instance_path,
    message), rank ordered by the id tuple.
    """
    rows = violation_rows(validated, id_cols, prefilter=prefilter)
    return violation_examples_from_rows(rows, id_cols, k=k)


def violation_examples_from_rows(
    rows: DataFrame,
    id_cols: list[str],
    k: int = 3,
) -> DataFrame:
    """`violation_examples` over an ALREADY-EXPLODED violation set — e.g.
    the persisted violations sink a resumable run just wrote — so exemplars
    cost one bounded pass over the (tiny, filter-pushdown-friendly) sink
    parquet instead of a second validation pass over the table.  `rows`
    needs the violation_rows shape: *id_cols, keyword_path (array or
    pre-joined string), keyword, severity, instance_path, message."""
    group_cols = ["keyword_path", "keyword", "severity"]

    def joined(c: str) -> Column:
        is_array = rows.schema[c].dataType.typeName() == "array"
        return (F.array_join(c, "/") if is_array else F.col(c)).alias(c)

    # ascending order puts NULLs first, so a NULL id ranks before any value
    w = Window.partitionBy(*group_cols).orderBy(*id_cols, "instance_path", "message")
    return (
        rows.select(joined("keyword_path"), "keyword", "severity", *id_cols,
                    joined("instance_path"), "message")
        .select(*group_cols, F.row_number().over(w).cast("long").alias("rank"),
                *id_cols, "instance_path", "message")
        .where(F.col("rank") <= F.lit(k))
    )


def verdicts(validated: DataFrame, part_col: str) -> DataFrame:
    """Per-partition pass/fail rollup `(part, n_rows, n_fail, pass)`.

    Spark's hash aggregate does map-side partial aggregation automatically,
    so the shuffle carries one row per (task, partition key) — negligible at
    any scale.
    """
    return (
        validated.groupBy(F.col(part_col))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("valid")).cast("long")).alias("n_fail"),
        )
        .withColumn("pass", F.col("n_fail") == F.lit(0))
    )


def keyword_breakdown(validated: DataFrame, prefilter=None) -> DataFrame:
    """Violation counts per violated keyword path — the aggregate view a
    100 TB run actually reads first.  `violation_rows` (failing rows
    only), then a partial-aggregated groupBy on a low-cardinality key."""
    return (
        violation_rows(validated, [], prefilter)
        .groupBy(F.array_join("keyword_path", "/").alias("keyword_path"), "keyword", "severity")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )


def sampled_validation_profile(
    df: DataFrame,
    schema: dict,
    key_col: str,
    rate: float,
    seed: str = "s1",
    config: Optional[dict] = None,
) -> DataFrame:
    """Cheap pre-pass before a full-table validation run: validate a
    deterministic hash-bucket sample (md5 bucket predicate — no RNG, no
    shuffle, identical row set at any parallelism and in any SQL engine)
    and report per-keyword-path violation RATES with Wilson 95% bounds.

    At 10^12 rows this answers "which checks are broken and roughly how
    badly?" from a scan of rate·N rows, deciding whether the full run /
    quarantine pass is worth scheduling — the same triage role
    `referential.coverage` plays for the anti-join.

    Output per violated keyword path: (keyword_path, keyword, severity,
    n_sampled, n_rows_violating, rate_est, rate_lo, rate_hi).  The
    integer columns are exactly reproducible in any engine (the md5
    predicate is the oracle-portable sampler from operators/text.py);
    the Wilson bounds are driver-side arithmetic over those integers.

    Rates count violating ROWS, not violation rows: a row whose array
    column fails `items` three times is ONE Bernoulli failure for that
    keyword path (each row's paths are array_distinct'ed before the
    explode), so rate_est ≤ 1 always holds and the Wilson math stays
    well-defined — `keyword_breakdown` counts raw violation rows and
    would push p above 1 on multi-violation rows.
    """
    from .text import sample_hash_bucket

    sample = df.where(
        sample_hash_bucket(F.col(key_col), seed) < F.lit(int(rate * 65536))
    )
    validated = with_validation(sample, schema, config=config)
    totals = validated.agg(F.count(F.lit(1)).alias("n_sampled"))
    per_row = validated.where(F.size(F.col("violations")) > 0).select(
        F.explode(
            F.array_distinct(
                F.transform(
                    F.col("violations"),
                    lambda v: F.struct(
                        F.array_join(v["keyword_path"], "/").alias("keyword_path"),
                        v["keyword"].alias("keyword"),
                        v["severity"].alias("severity"),
                    ),
                )
            )
        ).alias("v")
    )
    bd = per_row.groupBy(
        F.col("v.keyword_path").alias("keyword_path"),
        F.col("v.keyword").alias("keyword"),
        F.col("v.severity").alias("severity"),
    ).agg(F.count(F.lit(1)).alias("n_rows_violating"))
    joined = bd.crossJoin(F.broadcast(totals))

    z = 1.959963984540054  # 97.5th standard-normal quantile
    n = F.col("n_sampled").cast("double")
    p = F.col("n_rows_violating").cast("double") / n
    center = p + z * z / (2 * n)
    margin = z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    denom = 1 + z * z / n
    return joined.select(
        "keyword_path",
        "keyword",
        "severity",
        "n_sampled",
        "n_rows_violating",
        p.alias("rate_est"),
        F.greatest(F.lit(0.0), (center - margin) / denom).alias("rate_lo"),
        F.least(F.lit(1.0), (center + margin) / denom).alias("rate_hi"),
    )


def _schema_has_deferred(schema) -> bool:
    if isinstance(schema, dict):
        return "deferred" in schema or any(_schema_has_deferred(v) for v in schema.values())
    if isinstance(schema, list):
        return any(_schema_has_deferred(v) for v in schema)
    return False


class _Frames(Mapping):
    """Read-only mapping of named DataFrames, each built by its builder on
    first read and then kept for this mapping's life (a DataFrame is a
    plan, not a result: reads of the same key share one plan)."""

    def __init__(self, builders: dict):
        self._builders = builders
        self._built: dict = {}

    def __getitem__(self, key: str) -> DataFrame:
        if key not in self._built:
            self._built[key] = self._builders[key]()
        return self._built[key]

    def __iter__(self):
        return iter(self._builders)

    def __len__(self) -> int:
        return len(self._builders)


def validate(
    df: DataFrame,
    schema: dict,
    id_cols: list[str],
    part_col: Optional[str] = None,
    config: Optional[dict] = None,
) -> Mapping[str, DataFrame]:
    """One-call API: a read-only mapping of lazy DataFrames
    {annotated, violations, keywords, examples, verdicts?} — `verdicts`
    only when `part_col` is given.

    The schema is compiled and `annotated` built at the call; every other
    frame is built from that one `annotated` frame the first time it is
    read, so a caller pays the driver-side analysis only of the frames it
    reads (`dict(res)` builds them all)."""
    annotated = with_validation(df, schema, config=config)
    # when validity and violation-emptiness coincide (no warning rerouting,
    # no deferred annotations), ~valid is a cheap prefilter that skips
    # struct construction for passing rows
    prefilter = None
    if not config and not _schema_has_deferred(schema):
        prefilter = ~F.col("valid")
    builders = {
        "annotated": lambda: annotated,
        "violations": lambda: violation_rows(annotated, id_cols, prefilter=prefilter),
        "keywords": lambda: keyword_breakdown(annotated, prefilter=prefilter),
        "examples": lambda: violation_examples(annotated, id_cols, prefilter=prefilter),
    }
    if part_col is not None:
        builders["verdicts"] = lambda: verdicts(annotated, part_col)
    return _Frames(builders)


def write_quarantined(
    validated: DataFrame,
    path: str,
    fmt: str = "parquet",
) -> None:
    """Route valid and invalid rows to one sink in ONE pass: a partitioned
    write on a derived string verdict puts clean rows under ``verdict=ok/``
    and quarantined rows (with their violation arrays) under
    ``verdict=quarantine/``.  The typed `valid` column stays in the data
    (partition columns round-trip as strings, so partitioning on a derived
    key keeps the boolean intact for readers).

    The alternative — two filtered writes — scans and evaluates the whole
    check tree twice; at 10^12 rows that doubles the job.  Downstream
    consumers read ``{path}/verdict=ok`` with partition pruning (the scan
    never touches quarantined files), and the quarantine subdir retains
    the violations column for triage."""
    (
        validated.withColumn(
            "verdict", F.when(F.col("valid"), F.lit("ok")).otherwise(F.lit("quarantine"))
        )
        .write.mode("overwrite")
        .partitionBy("verdict")
        .format(fmt)
        .save(path)
    )
