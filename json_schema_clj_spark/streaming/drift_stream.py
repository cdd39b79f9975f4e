"""Streaming distribution-drift monitoring — the streaming lift of the
batch KS/PSI/chi2/EMD detectors (an extension; the reference is batch-only,
SURVEY.md §2.7).

Per micro-batch the raw rows collapse to a |groups|×|buckets| histogram
sketch which is appended to an epoch-keyed parquet store; drift is then
scored on the CUMULATIVE sketch (sum over epochs) against a static
baseline sketch, every lens in the one `drift_scores` walk.  Two
properties make this the 10^12-row shape:

* per-epoch cost is O(|batch| + |store sketch rows|) — old batches are
  never rescanned, only their already-aggregated bucket counts are summed;
* the store and the scores sink are keyed by epoch and written with
  overwrite, so foreachBatch's at-least-once replays rewrite their own
  output idempotently (same crash contract as the violations sink and the
  streaming near-dedup store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.drift import drift_scores, histogram_sketch


def cumulative_drift_scores(
    baseline_sketch: DataFrame, cumulative_sketch: DataFrame
) -> DataFrame:
    """(group, ks, psi, chi2, dof, emd_x, tot_base, tot_cur): every drift
    lens on a sketch pair, from one `drift_scores` walk — no join between
    lenses.  The baseline is |buckets| rows — replicated per group via a
    broadcast cross join, never a shuffle of the sketch store."""
    groups = cumulative_sketch.select("group").distinct()
    base = groups.crossJoin(F.broadcast(baseline_sketch.select("bucket", "n")))
    return drift_scores(base, cumulative_sketch)


def drift_stream(
    stream_df: DataFrame,
    baseline_sketch: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    store_path: str,
    scores_path: str,
    checkpoint_dir: str,
    buckets: int = 64,
    trigger_once: bool = True,
):
    """foreachBatch drift monitor: per epoch, sketch the batch, overwrite
    the epoch's store subdir, score the cumulative store against
    `baseline_sketch` (a static (bucket, n) DataFrame — e.g. the pooled
    histogram of a reference period), and overwrite the epoch's scores
    subdir with every lens (the `cumulative_drift_scores` columns).
    Restart resumes from `checkpoint_dir`; a replayed epoch rewrites its
    own subdirs."""
    base_local = baseline_sketch.select("bucket", "n")

    def process(batch_df: DataFrame, epoch_id: int):
        spark = batch_df.sparkSession
        sk = histogram_sketch(batch_df, value_col, group_col, lo, hi, buckets)
        sk.write.mode("overwrite").parquet(f"{store_path}/epoch=e{epoch_id}")
        cumulative = (
            spark.read.schema(sk.schema).parquet(store_path)
            .groupBy("group", "bucket")
            .agg(F.sum("n").alias("n"))
        )
        scores = cumulative_drift_scores(base_local, cumulative)
        scores.write.mode("overwrite").parquet(f"{scores_path}/epoch=e{epoch_id}")

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
