"""Physical-plan audits: the properties that make the engine survive a
100 TB scale-up must be visible in the optimized/executed plan, not just
implied by the DataFrame code.

Checked here, over the driver's real parquet tables (sf0.001):
  * column pruning  — a validation over 6 lineitem columns must not read
    the other 10 (vectorized scan ReadSchema),
  * predicate pushdown — row filters reach the parquet scan (PushedFilters),
  * join strategy   — dimension lookups broadcast (no shuffle of the fact
    table), the anti-join for referential checks included,
  * partial aggregation — verdict/stats aggs run map-side before the
    exchange (HashAggregate appears below the shuffle),
  * JVM-only hot path — no Python eval nodes in any table-validation plan.
"""

import os

import pytest
from pyspark.sql import functions as F

from json_schema_clj_spark.queries import (
    LINEITEM_SCHEMA,
    q_dangling_partkeys,
    q_revenue_by_nation,
    q_validate_lineitem,
    q_verdicts_orders,
)

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_validation_prunes_unreferenced_columns(spark):
    plan = executed(q_validate_lineitem(spark, SF_DIR))
    # scan line carries ReadSchema: struct<...>; the 10 untouched lineitem
    # columns must be absent from it
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    schema_str = " ".join(read_schema)
    for needed in ("l_quantity", "l_discount", "l_returnflag", "l_linenumber"):
        assert needed in schema_str, schema_str
    for pruned in ("l_comment", "l_shipdate", "l_extendedprice", "l_suppkey"):
        assert pruned not in schema_str, f"{pruned} not pruned: {schema_str}"


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    from json_schema_clj_spark.operators.validate import with_validation

    out = with_validation(
        li.where(F.col("l_orderkey") < 1000), LINEITEM_SCHEMA
    ).select("l_orderkey", "valid")
    plan = executed(out)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "LessThan(l_orderkey,1000)" in pushed[0], plan


def test_referential_anti_join_broadcasts_dimension(spark):
    plan = executed(q_dangling_partkeys(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the fact table must reach the join straight from its scan — a sort-merge
    # plan would shuffle + sort the full fact table on the join key
    assert "SortMergeJoin" not in plan, plan
    # fact-side scan reads the join key only (1 of 16 lineitem columns)
    li_scan = [ln for ln in plan.splitlines() if "lineitem.parquet" in ln]
    assert li_scan and "ReadSchema: struct<l_partkey:bigint>" in li_scan[0], li_scan


def test_dim_join_chain_broadcasts_both_dims(spark):
    plan = executed(q_revenue_by_nation(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_verdict_agg_is_partial_then_final(spark):
    plan = executed(q_verdicts_orders(spark, SF_DIR))
    # two HashAggregate levels around one exchange = map-side combine
    assert plan.count("HashAggregate") >= 2, plan


def test_validation_plans_have_no_python_nodes(spark):
    for q in (q_validate_lineitem, q_verdicts_orders, q_dangling_partkeys):
        plan = executed(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q


def test_lsh_minhash_plan_no_cartesian_one_arrow_stage(spark):
    # the banded self-join must be a hash/sort join on (band, hash) — a
    # cartesian/nested-loop plan would be corpus² at scale; signatures run
    # in exactly one Arrow stage (mapInPandas), never row-at-a-time Python
    from json_schema_clj_spark.queries import q_minhash_lsh

    plan = executed(q_minhash_lsh(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_lsh_ann_broadcasts_query_side(spark):
    # corpus shuffles on bucket key at most; the (tiny) banded query side
    # must broadcast — a shuffle join would move the corpus for 5 queries
    from json_schema_clj_spark.queries import q_lsh_ann_topk

    plan = executed(q_lsh_ann_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_simhash_md5_plan_pure_catalyst(spark):
    # the SQL-replicable SimHash pipeline (explode -> 60 conditional sums ->
    # chunk bucket join) must stay whole-stage-codegen JVM: no Python nodes
    from json_schema_clj_spark.queries import q_simhash_md5

    plan = executed(q_simhash_md5(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_batch_lsh_bucket_join_is_narrow(spark):
    # same property as the incremental variant, for the in-memory batch op:
    # no plan node may carry BOTH a band-hash column and the 64-element sig
    # (the old shape projected [id, sig, band, bh] into the ×bands-exploded
    # self-join — `bands`× signature shuffle amplification at 10^12 docs)
    from json_schema_clj_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = D.lsh_near_duplicates(docs, threshold=0.9)
    plan = executed(out)
    offenders = [
        ln for ln in plan.splitlines() if "bh#" in ln and "sig" in ln
    ]
    assert not offenders, offenders
    assert "CartesianProduct" not in plan, plan
    D.release(out)


def test_md5_lsh_bucket_join_is_narrow(spark):
    # the md5 oracle-replicable twin must keep the same narrow-bucket shape
    # as the xxhash64 path: no plan node carries BOTH a band-hash column and
    # the bands-element md5 signature array (each band-min is a 32-char
    # string, so a wide explode shuffles the sig payload bands× redundantly
    # — the r4 clean-floor regression); the hot-bucket guard count prunes to
    # (band, bh) through the cached signatures
    from json_schema_clj_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = D.minhash_md5_near_duplicates(docs, threshold=0.9)
    plan = executed(out)
    offenders = [
        ln for ln in plan.splitlines() if "bh#" in ln and "sig" in ln
    ]
    assert not offenders, offenders
    assert "CartesianProduct" not in plan, plan
    D.release(out)


def test_incremental_lsh_bucket_join_is_narrow(spark, tmp_path):
    # the (band, bh) bucket self-join must shuffle ONLY (id, band, bh[,
    # batch]) rows — the 64-element signature joins back on candidate
    # pairs, not through the ×bands exploded bucket rows (16× payload
    # amplification at 10^12 docs)
    from json_schema_clj_spark.operators import dedup as D

    store = str(tmp_path / "store")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(F.col("doc_id") < 40)
    out = D.lsh_incremental_near_duplicates(docs, store, "b1", threshold=0.9)
    plan = executed(out)
    # classify scans by ReadSchema (tmp_path Locations get "..."-truncated
    # in plan toString, so path substrings are unreliable)
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    bucket_scans = [s for s in schemas if "bh:bigint" in s]
    sig_scans = [s for s in schemas if "sig:array" in s]
    # the (band, bh) self-join sides read (id, band, bh); the hot-bucket
    # guard's count scans prune down to (band, bh) only — Catalyst column
    # pruning keeps even the guard pass id-free
    full_scans = [s for s in bucket_scans if "id:bigint" in s]
    guard_scans = [s for s in bucket_scans if "id:bigint" not in s]
    assert len(full_scans) == 2, plan
    assert len(guard_scans) == 2, plan
    for s in bucket_scans:
        assert "sig" not in s, s  # narrow: no 64-elem payload through the bucket join
    # the two sig-store scans feed candidate-pair joins only
    assert len(sig_scans) == 2, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan


def test_chi2_drift_broadcasts_pooled_baseline(spark):
    """The pooled-baseline sketch is |buckets| rows — replicating it across
    groups must be a broadcast, never a shuffled join of the big side."""
    from json_schema_clj_spark.queries import q_drift_chi2_orders

    plan = executed(q_drift_chi2_orders(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_quantile_profile_single_pass_and_partial_agg(spark):
    """All columns' quantiles in ONE aggregation over ONE scan: the plan
    must contain exactly one parquet scan of orders, and the approx path
    (the 10^12-row configuration) must partial-aggregate map-side."""
    from json_schema_clj_spark.operators.stats import quantile_profile
    from json_schema_clj_spark.queries import t

    df = t(spark, SF_DIR, "orders")
    approx = quantile_profile(df, ["o_orderkey", "o_custkey"], exact=False)
    plan = executed(approx)
    assert plan.count("Scan parquet") == 1, plan
    # partial_percentile_approx below the exchange, merge above it
    assert "partial_" in plan and "Exchange" in plan, plan
    assert "Python" not in plan, plan


def test_decontamination_broadcasts_bench_side(spark):
    # the benchmark window set is thousands of rows against a 100 TB train
    # side: the contamination probe must be a broadcast hash join (train
    # streams shuffle-free), and the hot-window guard's anti-join must
    # broadcast too — any SortMergeJoin here shuffles the train corpus
    from json_schema_clj_spark.queries import q_decontamination

    plan = executed(q_decontamination(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_exact_substring_no_cartesian_guard_broadcast(spark):
    # the shingle-hash self-join must be an equi-join on the window hash
    # (cartesian would be corpus² at scale) and the hot-window guard an
    # anti broadcast join
    from json_schema_clj_spark.queries import q_exact_substring

    plan = executed(q_exact_substring(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_shared_runs_single_window_shuffle(spark):
    # gaps-and-islands must sort WITHIN the (pair, diagonal) hash
    # partitioning — a Window node over hashpartitioning, no global
    # (rangepartitioning) sort, no cartesian anchor join.  Audited on the
    # raw operator: the query wrapper adds a final orderBy for oracle
    # determinism whose range exchange is not part of the island plan.
    from json_schema_clj_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = D.shared_run_pairs(docs, n=5)
    plan = executed(out)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Window") >= 1, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "hashpartitioning(id_a" in plan, plan
    D.release(out)


def test_phash_neardup_banded_join_pure_catalyst(spark):
    # banded 16-bit-chunk candidate join: equi-join on (chunk index, chunk
    # value), exact Hamming verify via bit_count — all JVM, no Python
    # nodes, no cartesian
    from json_schema_clj_spark.queries import QUERIES

    plan = executed(QUERIES["images_phash_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_infer_json_paths_pure_catalyst_partial_agg(spark):
    # dynamic-JSON shape discovery must stay JVM-side (parse_json +
    # variant_explode generator, no Python eval) with a map-side partial
    # aggregate on the (path, type) key
    from json_schema_clj_spark.queries import q_infer_json_paths_orders

    plan = executed(q_infer_json_paths_orders(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Generate" in plan, plan  # variant_explode runs as a generator


def test_constraint_profile_single_scan_partial_agg(spark):
    # the profile pass is ONE aggregation over ONE scan (all measures for
    # all columns partial-aggregated map-side), reading only the profiled
    # columns
    from json_schema_clj_spark.operators.stats import column_profile

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    prof = column_profile(orders, ["o_orderkey", "o_orderstatus"], exact=False)
    plan = executed(prof)
    scans = [ln for ln in plan.splitlines() if "orders.parquet" in ln]
    assert len(scans) == 1, plan  # one scan feeds every measure
    schema_line = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert "o_totalprice" not in " ".join(schema_line), schema_line
    # HLL sketches are imperative aggregates → ObjectHashAggregate; assert
    # the partial+final pair whichever aggregate strategy is chosen
    assert plan.count("Aggregate(") >= 2, plan


def test_fd_approx_single_pass_no_expand(spark):
    # the HLL path computes all |cols|^2 cardinalities in one agg pass;
    # the plan must NOT contain the multi-count-distinct Expand node that
    # multiplies scanned rows by the aggregate count
    from json_schema_clj_spark.operators.infer import fd_candidates

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    pairs = [(a, b) for a in cols for b in cols if a != b]
    aggs = [F.approx_count_distinct(F.col(c)).alias(f"l{i}") for i, c in enumerate(cols)]
    aggs += [
        F.approx_count_distinct(
            F.when(F.col(a).isNotNull(), F.struct(F.col(a), F.col(b)))
        ).alias(f"p{i}")
        for i, (a, b) in enumerate(pairs)
    ]
    plan = executed(orders.agg(*aggs))
    assert "Expand" not in plan, plan
    assert plan.count("Aggregate(") >= 2, plan  # partial+final (any agg strategy)
    # and the operator's output agrees with the exact mode on key FDs
    approx = {
        (r["determinant"], r["dependent"]): r["holds"]
        for r in fd_candidates(orders, cols).collect()
    }
    assert approx[("o_orderkey", "o_custkey")]  # key determines everything


def test_aqe_splits_skewed_join(spark):
    """The north rule's "AQE skew-join splitting" claim, evidenced: a join
    whose fact side packs 90% of rows onto one key gets its hot partition
    SPLIT by AQE (skew=true on the final SortMergeJoin), instead of one
    straggler task processing 90% of the data.  Thresholds are lowered so
    the 300k-row fixture crosses the same trigger a 256MB-partition
    production run would; a control run with skew-splitting disabled pins
    that the marker genuinely comes from the optimization."""
    lowered = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in lowered}

    def run():
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pay"),
        )
        dim = spark.range(1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
        j = fact.join(dim, "k").agg(F.count(F.lit(1)).alias("n"))
        assert j.collect()[0]["n"] == 300_000
        # same QueryExecution that just ran → the FINAL adaptive plan
        return j._jdf.queryExecution().executedPlan().toString()

    try:
        for k, v in lowered.items():
            spark.conf.set(k, v)
        plan = run()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        # control: with splitting off the same workload shows no marker
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        assert "skew=true" not in run()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_repetition_profile_partial_agg_no_python(spark):
    # gram counting must be partial+final (map-side combine on the
    # (id, n, gram) key) and stay entirely JVM-side
    from json_schema_clj_spark.queries import q_text_repetition

    plan = executed(q_text_repetition(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pii_scan_is_filter_free_single_scan(spark):
    # per-row predicates over the scan: no Exchange except the ORDER BY
    # wrapper, no Python eval
    from json_schema_clj_spark.queries import q_pii_scan

    plan = executed(q_pii_scan(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # exactly ONE Exchange — the rangepartitioning feeding the oracle
    # ORDER BY; the scan→project pipeline itself is shuffle-free
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan, plan


@pytest.mark.parametrize("query", ["q_pii_scan", "q_pii_redact"])
def test_pii_queries_sort_once_below_the_regex_pass(spark, query):
    # both queries get their global doc_id order from ONE range exchange
    # under the regex projection; the order surviving the narrow projections
    # above it is observed Spark behaviour, not a contract, so any further
    # shuffle inside pii_scan/pii_redact must fail here loudly
    from json_schema_clj_spark import queries

    plan = executed(getattr(queries, query)(spark, SF_DIR))
    lines = plan.splitlines()
    exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert "rangepartitioning(doc_id" in lines[exchanges[0]], plan
    regex = [i for i, ln in enumerate(lines) if "regexp_replace" in ln]
    # parents print first: the regex projection sits above the sort
    assert regex and max(regex) < exchanges[0], plan


def test_corpus_mix_expansion_is_shuffle_free(spark):
    # after the (collected) totals pass, the expansion itself is
    # Generate-over-Filter-over-Scan — no shuffle, no Python
    from json_schema_clj_spark.operators import text as TX
    from json_schema_clj_spark.queries import _MIX_BUDGETS, t
    from pyspark.sql import functions as F

    docs = t(spark, SF_DIR, "documents").select(
        "doc_id", "source", TX.token_count(F.col("text")).alias("n_tokens")
    )
    out = TX.corpus_mix(docs, _MIX_BUDGETS, "source", "doc_id", "n_tokens")
    plan = executed(out)
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_snapshot_diff_checksums_partial_agg_no_window(spark):
    """The merkle screen must be a partial+final hash aggregate over the
    scan — no window, no exchange of full rows before aggregation."""
    from json_schema_clj_spark.operators.diff import bucket_checksums

    ref = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    plan = executed(bucket_checksums(ref, ["o_orderkey"], n_buckets=64))
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_asof_join_no_cartesian_no_single_partition(spark):
    from json_schema_clj_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from json_schema_clj_spark.operators.sessions import _epoch_us
    from pyspark.sql import functions as F

    facts = ev.select("event_id", "user_id", _epoch_us(ev, "ts").alias("ts_us"))
    dims = (
        facts.select("user_id").distinct()
        .withColumn("v", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .select(
            "user_id",
            (F.lit(0) + F.col("v") * 1000).cast("long").alias("vfrom_us"),
            F.col("v").cast("long").alias("tier"),
        )
    )
    out = asof_join(facts, dims, ["user_id"], "ts_us", "vfrom_us", ["tier"], n_parts=8)
    plan = executed(out)
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan
    assert "SinglePartition" not in plan, plan
    # the carry window partitions by (key, bucket), never globally
    assert "Window" in plan, plan


def test_grouped_cumsum_no_single_partition(spark):
    from json_schema_clj_spark.operators.packing import grouped_exclusive_cumsum

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = grouped_exclusive_cumsum(docs, "n_chars", "doc_id", "source", n_parts=8)
    plan = executed(out)
    assert "SinglePartition" not in plan, plan
    assert "BroadcastExchange" in plan, plan  # offsets join back broadcast


def test_session_stats_no_single_partition_over_events(spark):
    from json_schema_clj_spark.operators.sessions import session_stats

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = session_stats(ev, "user_id", "ts", 21600)
    plan = executed(out)
    # the event-level aggregation must never collapse to one partition;
    # the only window runs over the already-aggregated session rows
    assert "SinglePartition" not in plan, plan
    assert "session_window" in plan or "SessionWindow" in plan, plan


def test_header_walks_no_shuffle_no_python(spark):
    """All three header-conformance parsers (PNG fixed-offset, JPEG marker
    walk, WebP RIFF walk) must stay single-stage projections: no Exchange,
    no Python eval nodes — that is what makes them 10^12-row pre-passes."""
    from json_schema_clj_spark.operators.multimodal import (
        jpeg_header_dims,
        png_header_dims,
        webp_header_dims,
    )

    df = spark.createDataFrame(
        [("a", b"\x00" * 32, 1, 1)], "image_id string, bytes binary, w int, h int"
    )
    for op in (png_header_dims, jpeg_header_dims, webp_header_dims):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_image_health_profile_single_agg_partial(spark):
    """The ingestion-gate profile must be ONE aggregation (partial+final
    around a single exchange on fmt) plus one join for the sampled decode
    leg — Python appears ONLY in the corpus generator and the decode
    mapInPandas, never in the conformance layers."""
    from json_schema_clj_spark.sources.images import png_images_df
    from json_schema_clj_spark.streaming.images_stream import image_health_profile

    prof = image_health_profile(png_images_df(spark, 40, seed=5), decode_sample_mod=4)
    plan = prof._jdf.queryExecution().optimizedPlan().toString()
    # exactly one Aggregate pair in the physical plan
    phys = prof._jdf.queryExecution().executedPlan().toString()
    assert phys.count("HashAggregate") == 2 or phys.count("ObjectHashAggregate") == 2, phys
    assert "CartesianProduct" not in phys, phys
    # the only Python stages are the generator (MapInPandas over Range) and
    # the decode leg (MapInPandas); no row-at-a-time eval
    assert "BatchEvalPython" not in phys, phys


# the shape of the JSON-docs benchmark schema: required keys plus one
# typed subschema per property, one of them an array of strings
PLAIN_JSON_SCHEMA = {
    "type": "object",
    "required": ["id", "name", "score", "tags", "lo", "hi"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "name": {"type": "string", "minLength": 1, "maxLength": 24, "pattern": "^[a-z][a-z0-9_]*$"},
        "score": {"type": "number", "minimum": 0, "maximum": 100},
        "tags": {"type": "array", "maxItems": 4, "items": {"type": "string", "maxLength": 12}},
        "lo": {"type": "integer", "minimum": 0},
        "hi": {"type": "integer", "minimum": 0},
    },
}


def test_variant_tier_evaluates_each_json_value_once(spark):
    """On the Variant tier each statically addressed value is derived once
    per row: the parse appears once (the verdict filter does not inline it),
    members are read by path instead of from a whole-object map cast, and
    each bound value's type tag is rendered once.  Tags of array elements
    (lambda variables) are not bound and not counted."""
    import re

    from json_schema_clj_spark.engine import validate_json_column
    from json_schema_clj_spark.operators.validate import violation_rows

    docs = spark.createDataFrame(
        [(0, '{"id": 1, "name": "a", "score": 2.5, "tags": ["x"], "lo": 1, "hi": 2}'),
         (1, '{"id": -1, "name": "Q", "tags": ["a", "b", "c", "d", "e"]}'),
         (2, "{oops")],
        "ingest_id long, doc_json string",
    )
    out = validate_json_column(docs, PLAIN_JSON_SCHEMA, json_col="doc_json")
    verdict = out.where(~F.col("valid"))
    sink = violation_rows(out, ["ingest_id"], prefilter=~F.col("valid"))
    for q in (verdict, sink):
        plan = optimized(q)
        assert plan.count("parseJson(") == 1, plan
        assert "MapType(StringType,VariantType" not in plan, plan
        tagged = re.findall(r"schemaOfVariant\(([^()]+)\)", plan)
        bound = [t for t in tagged if not t.startswith("lambda ")]
        # the root and its six members, one tag each
        assert len(bound) == len(set(bound)) == 7, tagged
    assert sorted(r["ingest_id"] for r in verdict.collect()) == [1, 2]
    # row 1: minimum, pattern, three required, maxItems; row 2: $parse
    assert sink.count() == 7


def test_python_tier_runs_its_udf_once(spark):
    """The same fence holds on the Arrow-Python tier: the sink's verdict
    filter reads the UDF result instead of running the UDF again below it."""
    from json_schema_clj_spark.engine import validate_json_column
    from json_schema_clj_spark.operators.validate import violation_rows

    docs = spark.createDataFrame(
        [(0, '{"lo": 1, "hi": 2}'), (1, '{"lo": 3, "hi": 2}')], "ingest_id long, doc_json string"
    )
    schema = {"properties": {"lo": {"maximum": {"$data": "1/hi"}}}}
    out = validate_json_column(docs, schema, json_col="doc_json", force_backend="python")
    sink = violation_rows(out, ["ingest_id"], prefilter=~F.col("valid"))
    assert executed(sink).count("ArrowEvalPython") == 1, executed(sink)
    assert [r["ingest_id"] for r in sink.collect()] == [1]


#: flagship plant rule (sources/images.py): part_id = i mod 64, schema
#: failures at i mod 200 in this set, ten violations per 200 rows
FLAGSHIP_FAIL_RESIDUES = {7, 23, 57, 87, 91, 123, 141, 173}


def test_validate_builds_only_the_frames_it_reads(spark, monkeypatch):
    """`validate()` builds a frame on its first read: a caller that reads
    verdicts and violations never builds the examples or keyword views."""
    from json_schema_clj_spark.operators import validate as vmod
    from json_schema_clj_spark.sources.images import FLAGSHIP_SCHEMA, images_df

    def refuse(*args, **kwargs):
        raise AssertionError("built a frame nobody read")

    monkeypatch.setattr(vmod, "violation_examples", refuse)
    monkeypatch.setattr(vmod, "keyword_breakdown", refuse)
    n = 2000
    res = vmod.validate(images_df(spark, n), FLAGSHIP_SCHEMA, ["image_id"], "part_id")
    assert set(res) == {"annotated", "violations", "keywords", "examples", "verdicts"}
    assert len(res) == 5 and res["verdicts"] is res["verdicts"]
    got = {r["part_id"]: (r["n_rows"], r["n_fail"], r["pass"]) for r in res["verdicts"].collect()}
    want = {}
    for i in range(n):
        rows, fail, _ = want.get(i % 64, (0, 0, True))
        fail += (i % 200) in FLAGSHIP_FAIL_RESIDUES
        want[i % 64] = (rows + 1, fail, fail == 0)
    assert got == want
    assert res["violations"].count() == 10 * n // 200
    with pytest.raises(AssertionError, match="nobody read"):
        dict(res)

    monkeypatch.undo()
    res = vmod.validate(images_df(spark, 100), FLAGSHIP_SCHEMA, ["image_id"])
    assert "verdicts" not in res
    assert set(res) == {"annotated", "violations", "keywords", "examples"}
    with pytest.raises(KeyError):
        res["verdicts"]
    res = vmod.validate(images_df(spark, 100), FLAGSHIP_SCHEMA, ["image_id"], "part_id")
    built = dict(res)
    assert list(built) == list(res) and len(built) == 5
    assert all(built[k] is res[k] for k in built)


def test_with_validation_adds_both_columns_in_one_projection(spark):
    from json_schema_clj_spark.operators.validate import with_validation
    from json_schema_clj_spark.sources.images import FLAGSHIP_SCHEMA, images_df

    def analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    df = images_df(spark, 100)
    out = with_validation(df, FLAGSHIP_SCHEMA)
    assert out.columns == df.columns + ["violations", "valid"]
    assert analyzed(out).count("Project [") == analyzed(df).count("Project [") + 1


def test_violation_sink_is_one_inline_generate(spark):
    """The sink unpacks the violation structs in the Generate itself: one
    `inline` node, no struct-field projection over an `explode`, and the
    columns of the explode-then-select shape it replaces."""
    from json_schema_clj_spark.operators.validate import violation_rows, with_validation
    from json_schema_clj_spark.plans.ir import VIOLATION_FIELDS
    from json_schema_clj_spark.sources.images import FLAGSHIP_SCHEMA, images_df

    out = with_validation(images_df(spark, 2000), FLAGSHIP_SCHEMA)
    sink = violation_rows(out, ["image_id"], prefilter=~F.col("valid"))
    plan = executed(sink)
    assert plan.count("Generate ") == 1 and "inline(" in plan and "explode(" not in plan, plan
    exploded = out.where(~F.col("valid")).select(
        "image_id", F.explode("violations").alias("v")
    ).select("image_id", *(F.col(f"v.{n}").alias(n) for n, _ in VIOLATION_FIELDS))
    assert sink.schema == exploded.schema
    assert sorted(sink.collect()) == sorted(exploded.collect())
    assert sink.count() == 10 * 2000 // 200
