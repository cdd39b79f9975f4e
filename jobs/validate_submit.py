"""Production entrypoint: the full validation workload via spark-submit.

North rule (/root/repo/BASELINE.json:14): the engine is "submitted via
spark-submit --py-files on a multi-executor cluster" and "resumable from
checkpoint with per-partition lineage + metrics".  This script is that
submission unit — it deliberately lives OUTSIDE the package so the package
code must arrive through ``--py-files``:

    python tools/build_pyfiles.py          # → dist/json_schema_clj_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/json_schema_clj_spark.zip \\
        jobs/validate_submit.py \\
        --input synth:1000000 --output /data/run1 --run-id run1

Workload (the same one benchmarked in BENCH/BASELINE.md):

1. resumable per-chunk schema validation — violation rows + per-partition
   verdict metrics, one manifest commit per chunk (kill anywhere; re-run
   skips committed partitions),
2. uniqueness on image_id and phash,
3. magic-number format conformance on (bytes, fmt),
4. per-column stats profile,
5. drift (KS, PSI, chi-square, EMD) of each partition's width distribution
   vs the pooled first half of the partitions, from one scan.

Outputs land under --output as parquet; a single JSON summary line goes to
stdout (and --output/summary.json) for orchestrators to scrape.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="parquet dir of an images-shaped table, or synth:<n_rows>")
    p.add_argument("--output", required=True, help="output directory (parquet sinks)")
    p.add_argument("--run-id", required=True)
    p.add_argument("--schema", default=None,
                   help="path to a JSON-Schema file (default: flagship image schema)")
    p.add_argument("--manifest", default=None,
                   help="manifest path (default: <output>/manifest)")
    p.add_argument("--part-col", default="part_id")
    p.add_argument("--chunk-size", type=int, default=16)
    p.add_argument("--n-parts", type=int, default=64, help="synth input partitions")
    p.add_argument("--skip-table-checks", action="store_true",
                   help="only the resumable validation pass (used by the scaling bench)")
    p.add_argument("--zone-prune", action="store_true",
                   help="zone-map pushdown: skip row-level validation for partitions "
                        "whose statistics prove every check passes (sound only when "
                        "the schema's whole constraint surface is zone-decidable; "
                        "otherwise logs the residual keywords and scans everything)")
    p.add_argument("--fail-after-chunks", type=int, default=0,
                   help="TEST HOOK: crash after N committed chunks to exercise resume")
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # master/executor topology comes from spark-submit; only job-level conf here
    spark = (
        SparkSession.builder.appName(f"json-schema-clj-spark:{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )

    # these imports must resolve from --py-files
    from json_schema_clj_spark.manifest import run_resumable, snapshot_id_of
    from json_schema_clj_spark.operators import drift as DR
    from json_schema_clj_spark.operators import stats as ST
    from json_schema_clj_spark.operators import uniqueness as U
    from json_schema_clj_spark.operators.multimodal import magic_number_violations
    from json_schema_clj_spark.operators.validate import (
        violation_examples_from_rows,
        violation_rows,
        with_validation,
    )
    from json_schema_clj_spark.sources.images import FLAGSHIP_SCHEMA, images_df

    if args.schema:
        with open(args.schema) as f:
            schema = json.load(f)
    else:
        schema = FLAGSHIP_SCHEMA

    out = args.output.rstrip("/")
    manifest_path = args.manifest or f"{out}/manifest"

    if args.input.startswith("synth:"):
        n = int(args.input.split(":", 1)[1])
        input_path = f"{out}/input"
        # materialize once so every (re-)run validates the same snapshot
        if not os.path.exists(os.path.join(input_path, "_SUCCESS")):
            images_df(spark, n, n_parts=args.n_parts).write.mode("overwrite").parquet(input_path)
    else:
        input_path = args.input

    df = spark.read.parquet(input_path)
    snapshot_id = snapshot_id_of(df)

    t0 = time.monotonic()
    n_committed_chunks = 0

    # Zone-map pushdown: one statistics pass (metadata-speed on an Iceberg
    # catalog) proves some partitions can't contain a violation; those skip
    # the row-level validation entirely but still get a manifest metrics row
    # (n_rows from the zone frame, n_fail = 0), so resume/summary semantics
    # are unchanged.  Sound only when the schema has no residual row-level
    # keywords — zone_prune_plan returns an empty clean set otherwise.
    clean_parts: set = set()
    part_rows: dict = {}
    if args.zone_prune:
        from json_schema_clj_spark.operators.prune import zone_prune_plan

        plan = zone_prune_plan(df, F.col(args.part_col).cast("long"), schema)
        part_rows = plan["part_rows"]
        if plan["residual"]:
            print(
                "zone-prune: schema has row-level keywords, scanning everything: "
                + ", ".join(plan["residual"]),
                file=sys.stderr,
            )
        else:
            clean_parts = plan["clean_parts"]

    def process_chunk(chunk, parts):
        nonlocal n_committed_chunks
        # zone-pruned partitions skip the row-level pass: their metrics row
        # comes straight from the zone frame's n_rows with n_fail = 0
        pruned = [p for p in parts if p in clean_parts]
        clean_metrics = None
        if pruned:
            clean_metrics = spark.createDataFrame(
                [(int(p), int(part_rows[p]), 0) for p in pruned],
                "part long, n_rows long, n_fail long",
            )
            if len(pruned) == len(parts):
                if args.fail_after_chunks and n_committed_chunks + 1 > args.fail_after_chunks:
                    raise RuntimeError(
                        f"TEST HOOK: injected crash after {n_committed_chunks} chunks"
                    )
                n_committed_chunks += 1
                return clean_metrics
            chunk = chunk.where(~F.col(args.part_col).cast("long").isin([int(p) for p in pruned]))
        # row_id: per-write row identity (monotonically_increasing_id is
        # stable within one action), so the exploded sink can be rolled back
        # up to exact per-partition FAILING-ROW counts — image_id alone
        # can't (duplicate ids are one of the planted violation classes)
        validated = with_validation(
            chunk.withColumn("row_id", F.monotonically_increasing_id()), schema
        )
        # Idempotent sink: each chunk owns a deterministic subdirectory
        # (keyed by its lowest partition id); a crash in the window between
        # this write and the manifest commit re-runs the chunk on resume and
        # OVERWRITES the same subdir instead of appending duplicate rows.
        # run_id/chunk ride in the path as discovered partition columns.
        # snap in the path scopes the sink to (run_id, snapshot) exactly like
        # the manifest rows — a rerun of the same run_id over a CHANGED input
        # (new snapshot, possibly different chunking) can't mix generations
        chunk_dir = (
            f"{out}/violations/run_id={args.run_id}"
            f"/snap={snapshot_id}/chunk={min(parts)}"
        )
        vio = violation_rows(
            validated, ["image_id", args.part_col, "row_id"],
            prefilter=~F.col("valid"), with_ordinal=True,
        )
        vio.write.mode("overwrite").parquet(chunk_dir)
        # crash AFTER the sink write, BEFORE the commit (run_resumable
        # commits when this function returns) — the exact window where a
        # non-idempotent append would duplicate violation rows on resume
        if args.fail_after_chunks and n_committed_chunks + 1 > args.fail_after_chunks:
            raise RuntimeError(f"TEST HOOK: injected crash after {n_committed_chunks} chunks")
        n_committed_chunks += 1
        # Verdicts WITHOUT a second validation pass: the old shape re-ran
        # the whole predicate tree per chunk just to count failures.  Row
        # counts need only the partition column (column-pruned scan, no
        # validation exprs); failing-row counts roll up from the (tiny)
        # just-written sink: each failing row contributes exactly one
        # v_ord=0 violation, so this is a filtered COUNT with map-side
        # partials (pushed to the parquet scan), not a count_distinct
        # dedup-agg over row_id.
        n_rows = chunk.groupBy(F.col(args.part_col)).agg(F.count(F.lit(1)).alias("n_rows"))
        # Re-read with the writer's schema: skips the driver-side schema
        # inference (a footer-sampling job + file listing) that would
        # otherwise run once per chunk — pure parallelism-invariant
        # overhead at 10^4 chunks.
        n_fail = (
            spark.read.schema(vio.schema).parquet(chunk_dir)
            .where(F.col("v_ord") == 0)
            .groupBy(F.col(args.part_col))
            .agg(F.count(F.lit(1)).alias("n_fail"))
        )
        metrics = (
            n_rows.join(n_fail, args.part_col, "left")
            .select(
                F.col(args.part_col).cast("long").alias("part"),
                "n_rows",
                F.coalesce("n_fail", F.lit(0)).cast("long").alias("n_fail"),
            )
        )
        return metrics.unionByName(clean_metrics) if clean_metrics is not None else metrics

    result = run_resumable(
        spark,
        df,
        part_col=args.part_col,
        process_chunk=process_chunk,
        manifest_path=manifest_path,
        run_id=args.run_id,
        snapshot_id=snapshot_id,
        chunk_size=args.chunk_size,
    )

    summary = {
        "run_id": args.run_id,
        "snapshot_id": result["snapshot_id"],
        "parts_processed": len(result["processed"]),
        "parts_skipped": len(result["skipped"]),
        "parts_zone_pruned": len(clean_parts & set(result["processed"])),
    }

    if not args.skip_table_checks:
        U.duplicates(df, ["image_id"]).write.mode("overwrite").parquet(f"{out}/dup_image_id")
        U.duplicates(df, ["phash"]).write.mode("overwrite").parquet(f"{out}/dup_phash")
        magic_number_violations(df, ["image_id"]).write.mode("overwrite").parquet(
            f"{out}/bad_magic"
        )
        ST.column_profile(df, ["w", "h", "fmt", "caption"]).write.mode("overwrite").parquet(
            f"{out}/stats"
        )
        # drift: first half of partitions is the baseline population
        half = df.agg((F.max(args.part_col) / 2).cast("int")).first()[0] or 0
        DR.pooled_drift_scores(
            df, "w", args.part_col, F.col(args.part_col) <= half, 0, 4200
        ).write.mode("overwrite").parquet(f"{out}/drift")

        # triage view: k example rows per violated keyword path, derived
        # from the just-written violations sink (one bounded pass over the
        # tiny sink — never a second validation pass over the table).  A
        # fully zone-pruned run writes no sink at all — nothing to triage.
        if os.path.exists(f"{out}/violations"):
            vio_sink = spark.read.parquet(f"{out}/violations").where(
                (F.col("run_id") == args.run_id) & (F.col("snap") == snapshot_id)
            )
            violation_examples_from_rows(vio_sink, ["image_id"], k=3).write.mode(
                "overwrite"
            ).parquet(f"{out}/violation_examples")

        m = spark.read.parquet(manifest_path)
        agg = (
            m.where((F.col("run_id") == args.run_id) & (F.col("snapshot_id") == snapshot_id))
            .agg(F.sum("n_rows").alias("rows"), F.sum("n_fail").alias("fails"))
            .first()
        )
        summary.update(
            {
                "rows_validated": int(agg["rows"] or 0),
                "rows_failed": int(agg["fails"] or 0),
                "dup_image_ids": spark.read.parquet(f"{out}/dup_image_id").count(),
                "dup_phash_keys": spark.read.parquet(f"{out}/dup_phash").count(),
                "bad_magic_rows": spark.read.parquet(f"{out}/bad_magic").count(),
                "violated_paths": (
                    spark.read.parquet(f"{out}/violation_examples")
                    .select("keyword_path")
                    .distinct()
                    .count()
                    if os.path.exists(f"{out}/violation_examples")
                    else 0
                ),
            }
        )

    summary["wall_sec"] = round(time.monotonic() - t0, 3)
    line = json.dumps(summary)
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/summary.json", "w") as f:
        f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
