"""Table-level uniqueness — the distributed analog of `uniqueItems`
(/root/reference/src/json_schema/core.clj:1159-1183), lifted from one
array value to a 10^12-row key column (north rule: "uniqueness on image_id
and phash via salted repartition + hash aggregation").

Skew story: `phash` clusters (near-duplicate images) make some keys hot.
A plain groupBy(key).count() already bounds them: the partial
HashAggregate on the map side emits one row per distinct key per task, so
a key appearing 10^6 times costs its reducer at most one row per map task.
A count is decomposable, so that is the whole of the skew bound; a salted
second stage would only add a shuffle (and a salt drawn per row defeats the
map-side combine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_counts(df: DataFrame, keys: list[str]) -> DataFrame:
    """Count of rows per key tuple: (keys..., n), one exchange."""
    return df.groupBy(*keys).agg(F.expr("count(1) AS n"))


def duplicates(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keys violating uniqueness: (keys..., n) with n > 1."""
    return key_counts(df, keys).where("n > 1")


def uniqueness_violations(
    df: DataFrame,
    keys: list[str],
    id_cols: list[str],
    salted: bool | None = None,
) -> DataFrame:
    """Violation rows in the engine's standard shape: every row whose key
    tuple is duplicated, tagged keyword_path ['uniqueItems', <key>].

    The dup-key set is usually tiny relative to the table → Spark/AQE picks
    a broadcast join of the duplicates back onto the fact side; no second
    full shuffle of the big table.  `salted` is accepted and ignored (the
    count needs no salt stage; see the module docstring).
    """
    # a semi join outputs the left side only: `n` needs no projecting away
    joined = df.join(F.broadcast(duplicates(df, keys)), on=keys, how="left_semi")
    # one SQL projection: a Column per literal costs ~10 Py4J round trips
    names = ", ".join(_sql_str(k) for k in keys)
    return joined.selectExpr(
        *("`" + c.replace("`", "``") + "`" for c in id_cols),
        f"array('uniqueItems', {names}) AS keyword_path",
        f"array({names}) AS instance_path",
        "'uniqueItems' AS keyword",
        "'expected unique items' AS message",
        "'error' AS severity",
    )


def _sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
