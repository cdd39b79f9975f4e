"""Table-level operators: stats, uniqueness, referential, drift —
golden expectations derived from the seeded images generator."""

import math
import os
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from json_schema_clj_spark.operators.drift import (
    detect_drift,
    drift_scores,
    histogram_sketch,
    pooled_drift_scores,
)
from json_schema_clj_spark.operators.referential import coverage, dangling, referential_violations
from json_schema_clj_spark.operators.stats import column_profile
from json_schema_clj_spark.operators.uniqueness import duplicates, uniqueness_violations
from json_schema_clj_spark.sources.images import images_df

N = 10_000
SF01 = "/root/testdata/sf0.01"


def test_column_profile(spark):
    df = images_df(spark, N)
    prof = {r["column"]: r for r in column_profile(df, exact=True).collect()}
    assert prof["caption"]["n_null"] == N // 200  # injected nulls
    assert prof["w"]["null_rate"] == 0.0
    assert int(prof["w"]["min_value"]) == 0  # injected violation value
    assert int(prof["w"]["max_value"]) == 70000
    assert prof["fmt"]["n_distinct"] == 5  # jpeg png webp bmp ''
    assert prof["image_id"]["n_rows"] == N


def test_uniqueness_duplicates(spark):
    df = images_df(spark, N)
    # exact duplicate image_id pairs injected at i%5000==4999 (i>0): rows
    # 4999 and 9999 take the id of their predecessor → 2 duplicated ids
    dups = duplicates(df, ["image_id"]).collect()
    assert len(dups) == 2
    assert all(r["n"] == 2 for r in dups)
    # a hot key spread over every partition: its per-task partial counts
    # merge to one exact row
    hot = spark.range(1000).repartition(8).selectExpr(
        "CASE WHEN id % 3 = 0 THEN 42 ELSE id + 1000 END AS k"
    )
    assert hot.where("k = 42").select(F.spark_partition_id()).distinct().count() > 1
    assert [(r["k"], r["n"]) for r in duplicates(hot, ["k"]).collect()] == [(42, 334)]
    # phash is massively duplicated by construction (hot buckets)
    ph = duplicates(df, ["phash"]).agg(F.sum("n")).collect()[0][0]
    assert ph == N  # every phash value is shared by ~997 rows


def test_uniqueness_violation_rows(spark):
    df = images_df(spark, N)
    v = uniqueness_violations(df, ["image_id"], id_cols=["image_id", "part_id"]).collect()
    assert len(v) == 4  # 2 dup keys × 2 rows each
    assert all(list(r["keyword_path"]) == ["uniqueItems", "image_id"] for r in v)


def test_referential(spark):
    df = images_df(spark, N)
    dim = spark.createDataFrame(
        [("jpeg", "image/jpeg"), ("png", "image/png"), ("webp", "image/webp")],
        "fmt string, mime string",
    )
    bad = dangling(df, "fmt", dim, "fmt")
    # injected: i%200==141 → 'bmp', i%200==173 → '' — both dangling
    assert bad.count() == 2 * (N // 200)
    v = referential_violations(df, "fmt", dim, "fmt", "dim_fmt", id_cols=["image_id"])
    row = v.first()
    assert list(row["keyword_path"]) == ["$ref", "dim_fmt"]
    assert row["message"].startswith("Could not resolve $ref = dim_fmt/")


def test_referential_broadcast_plan(spark):
    df = images_df(spark, N)
    dim = spark.createDataFrame([("jpeg",), ("png",), ("webp",)], "fmt string")
    plan = dangling(df, "fmt", dim, "fmt")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # small dim must broadcast, no shuffle


def test_referential_coverage_exact(spark):
    # fact keys 0..99 each twice; dim keys 50..149 → 50 matched, 50 dangling
    fact = spark.range(200).selectExpr("id % 100 AS fk")
    dim = spark.range(50, 150).selectExpr("id AS pk")
    row = coverage(fact, "fk", dim, "pk", exact=True).first()
    assert (row["d_fact"], row["d_dim"], row["d_union"]) == (100, 100, 150)
    assert (row["d_matched"], row["d_dangling"]) == (50, 50)


def test_referential_coverage_excludes_nulls(spark):
    fact = spark.createDataFrame([(1,), (None,), (2,), (None,)], "fk int")
    dim = spark.createDataFrame([(2,), (None,), (3,)], "pk int")
    row = coverage(fact, "fk", dim, "pk", exact=True).first()
    assert (row["d_fact"], row["d_dim"], row["d_union"]) == (2, 2, 3)
    assert (row["d_matched"], row["d_dangling"]) == (1, 1)


def test_referential_coverage_hll_tolerance(spark):
    # HLL path: estimates land within 3·rsd of truth; derived counts
    # clamp at 0 so inclusion-exclusion noise can't go negative
    fact = spark.range(20_000).selectExpr("id AS fk")
    dim = spark.range(10_000, 40_000).selectExpr("id AS pk")
    row = coverage(fact, "fk", dim, "pk", exact=False, rsd=0.02).first()
    for col, truth in [("d_fact", 20_000), ("d_dim", 30_000), ("d_union", 40_000),
                       ("d_matched", 10_000), ("d_dangling", 10_000)]:
        assert row[col] >= 0
        assert abs(row[col] - truth) <= 3 * 0.02 * 40_000, (col, row[col])


def test_referential_coverage_hll_clamped_to_logical_bounds(spark):
    # subset case (fact ⊆ dim, truth: matched = d_fact, dangling = 0):
    # HLL union noise can push inclusion-exclusion ABOVE d_fact or pull
    # dangling above 0..d_fact; the derived counts must stay inside
    # 0 ≤ d_matched ≤ min(d_fact, d_dim) and 0 ≤ d_dangling ≤ d_fact
    # for every sketch realization, so >100% coverage is impossible
    for rsd in (0.02, 0.05, 0.1):
        row = coverage(
            spark.range(5_000).selectExpr("id AS fk"),
            "fk",
            spark.range(50_000).selectExpr("id AS pk"),
            "pk",
            exact=False,
            rsd=rsd,
        ).first()
        assert 0 <= row["d_matched"] <= min(row["d_fact"], row["d_dim"]), rsd
        assert 0 <= row["d_dangling"] <= row["d_fact"], rsd
        # the pair is mutually consistent under any sketch realization
        assert row["d_matched"] + row["d_dangling"] == row["d_fact"], rsd


def test_referential_coverage_hll_plan_is_join_free(spark):
    # the 10^12-row pitch: ONE pass over the tagged union — no Join, no
    # Expand (HLL sketches aggregate all three measures in one shape),
    # partial+final aggregation only
    fact = spark.range(1000).selectExpr("id AS fk")
    dim = spark.range(500).selectExpr("id AS pk")
    plan = (
        coverage(fact, "fk", dim, "pk", exact=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "Expand" not in plan
    assert "partial_approx_count_distinct" in plan


def test_drift_detection(spark):
    # drifted generator shifts w by +1024 on 30% of rows in partitions 32-63
    df = images_df(spark, 40_000, drift=True, inject_violations=False)
    scores = detect_drift(
        df, "w", "part_id",
        baseline_filter=F.col("part_id") < 32,
        lo=0.0, hi=5200.0, buckets=64,
        ks_threshold=0.08, psi_threshold=0.15,
    )
    flags = {r["group"]: r["drifted"] for r in scores.collect()}
    assert len(flags) == 64
    drifted = {g for g, d in flags.items() if d}
    assert drifted == {g for g in flags if int(g) >= 32}, sorted(drifted)


def _drift_reference(base, cur, eps=1e-6):
    """Pure-Python (ks, psi, chi2, dof, emd_x, tot_base, tot_cur) per group
    from {group: Counter(bucket -> n)} baseline and current counts: missing
    buckets count 0, sums run in bucket order, chi2/dof are None without
    baseline or current mass, and each bucket's CDF gap is weighted by the
    distance to the next present bucket."""
    out = {}
    for g in set(base) | set(cur):
        b, c = base.get(g, Counter()), cur.get(g, Counter())
        nb, nc = sum(b.values()), sum(c.values())
        tb, tc = max(nb, 1), max(nc, 1)
        cdf_b = cdf_c = ks = psi = chi2 = 0.0
        dof, cum_b, cum_c, emd = -1, 0, 0, 0
        keys = sorted(set(b) | set(c))
        for i, k in enumerate(keys):
            p, q = b[k] / tb, c[k] / tc
            cdf_b += p
            cdf_c += q
            ks = max(ks, abs(cdf_b - cdf_c))
            psi += (p - q) * math.log((p + eps) / (q + eps))
            if b[k] and nc:
                e = nc * b[k] / nb
                chi2 += (c[k] - e) * (c[k] - e) / e
                dof += 1
            cum_b, cum_c = cum_b + b[k], cum_c + c[k]
            nxt = keys[i + 1] if i + 1 < len(keys) else k + 1
            emd += abs(cum_b * nc - cum_c * nb) * (nxt - k)
        out[g] = (ks, psi, *((chi2, dof) if dof >= 0 else (None, None)), emd, nb, nc)
    return out


def _assert_drift_rows(got, want):
    """Spark rows keyed by group against `_drift_reference`: floats within
    1e-12 (relative past 1), integers and NULLs exactly."""
    assert set(got) == set(want)
    for g, ref in want.items():
        r = got[g]
        row = (r["ks"], r["psi"], r["chi2"], r["dof"], int(r["emd_x"]), r["tot_base"], r["tot_cur"])
        for x, y in zip(row, ref):
            if isinstance(y, float):
                assert abs(x - y) <= 1e-12 * max(1.0, abs(y)), (g, row, ref)
            else:
                assert x == y, (g, row, ref)


def test_drift_matches_python_reference_on_edge_rows(spark):
    """detect_drift, pooled_drift_scores and drift_scores against a
    pure-Python reference of every lens: a NULL group feeds the pooled
    baseline but is not scored, NULL values count nowhere, a NULL baseline
    flag is not baseline, out-of-range values clamp into the edge buckets,
    a group may lack baseline mass or exist only in the baseline sketch,
    and absent bucket indices leave gaps between present ones."""
    lo, hi, nb = 0.0, 10.0, 5
    rows = (
        [("a", float(v), True) for v in (0.5, 1.5, 1.7, 3.2, 9.9)]
        + [("a", 4.4, None), ("a", None, True), ("a", 2.5, False)]
        + [("b", v, False) for v in (-3.0, 0.1, 10.0, 25.0, 2.2, 2.3)]
        + [("b", 6.0, True), ("b", None, None)]
        + [(None, 7.5, True), (None, -1.0, True), (None, 5.5, False)]
        + [("c", 1.0, None), ("c", 8.0, False)]
    )
    df = spark.createDataFrame(rows, "g string, v double, base boolean")

    def bucket(v):
        return min(max(math.floor((v - lo) / ((hi - lo) / nb)), 0), nb - 1)

    pooled = Counter(bucket(v) for g, v, is_base in rows if v is not None and is_base)
    cur = defaultdict(Counter)
    for g, v, _ in rows:
        if v is not None and g is not None:
            cur[g][bucket(v)] += 1
    want = _drift_reference({g: pooled for g in cur}, cur)
    assert set(want) == {"a", "b", "c"}

    got = detect_drift(
        df, "v", "g", baseline_filter=F.col("base"), lo=lo, hi=hi, buckets=nb,
        ks_threshold=0.5, psi_threshold=100.0,
    )
    assert got.columns == ["group", "ks", "psi", "drifted"]
    assert [f.dataType.simpleString() for f in got.schema.fields] == ["string", "double", "double", "boolean"]
    by_group = {r["group"]: r for r in got.collect()}
    assert set(by_group) == set(want)
    for g, (ks, psi, *_) in want.items():
        r = by_group[g]
        assert abs(r["ks"] - ks) <= 1e-12 and abs(r["psi"] - psi) <= 1e-12, (g, r, ks, psi)
        assert r["drifted"] == (ks > 0.5 or psi > 100.0)

    pooled_scores = pooled_drift_scores(df, "v", "g", F.col("base"), lo, hi, nb)
    assert pooled_scores.columns == [
        "group", "ks", "psi", "chi2", "dof", "emd_x", "tot_base", "tot_cur"
    ]
    assert [f.dataType.simpleString() for f in pooled_scores.schema.fields] == [
        "string", "double", "double", "double", "bigint", "decimal(38,0)", "bigint", "bigint"
    ]
    _assert_drift_rows({r["group"]: r for r in pooled_scores.collect()}, want)

    # drift_scores on two sketches: per-group baselines, "c" without
    # baseline mass, "z" only in the baseline, NULL groups on both sides,
    # and "s" with disjoint sparse buckets
    sk = histogram_sketch(df, "v", "g", lo, hi, nb)
    base_sk = sk.where("`group` IS NULL OR `group` <> 'c'").selectExpr(
        "coalesce(`group`, 'z') AS `group`", "bucket", "n"
    ).unionByName(sk.where("`group` IS NULL"))
    base = defaultdict(Counter)
    for g, v, _ in rows:
        if v is not None and g != "c":
            base[g or "z"][bucket(v)] += 1
    sparse = {"s": (Counter({0: 2, 2: 1}), Counter({3: 2, 4: 1}))}
    for g, (b, c) in sparse.items():
        base[g], cur[g] = b, c
        base_sk = base_sk.unionByName(_counts_sketch(spark, g, b))
        sk = sk.unionByName(_counts_sketch(spark, g, c))
    want = _drift_reference(base, cur)
    assert want["c"][2:4] == want["z"][2:4] == (None, None) and want["s"][4] > 0
    got = {r["group"]: r for r in drift_scores(base_sk, sk).collect()}
    assert set(got) == {"a", "b", "c", "s", "z"}
    _assert_drift_rows(got, want)


def _counts_sketch(spark, group, counts):
    """A (group, bucket, n) sketch of one group's bucket counts."""
    return spark.createDataFrame(
        [(group, k, n) for k, n in counts.items()], "group string, bucket bigint, n bigint"
    )


def _final_plan(df) -> str:
    """The executed physical plan after an action (AQE's final plan)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def _subtree(plan: str, marker: str) -> str:
    """The lines of the first plan node containing `marker` and its children."""
    lines = plan.splitlines()
    start = next(i for i, line in enumerate(lines) if marker in line)

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = [lines[start]]
    for line in lines[start + 1:]:
        if depth(line) <= depth(lines[start]):
            break
        out.append(line)
    return "\n".join(out)


def test_detect_drift_plan_reads_the_table_once(spark, tmp_path):
    path = str(tmp_path / "images")
    images_df(spark, 4_000, drift=True).write.parquet(path)
    scores = detect_drift(
        spark.read.parquet(path), "w", "part_id", baseline_filter=F.col("part_id") < 32,
        lo=0.0, hi=5200.0, buckets=64,
    )
    plan = _final_plan(scores)
    assert plan.count("FileScan") == 1, plan
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.skipif(not os.path.isdir(SF01), reason="driver testdata not present")
@pytest.mark.parametrize("query", ["drift_ks_psi_orders", "drift_chi2_orders", "drift_emd_orders"])
def test_drift_queries_read_orders_once(spark, query):
    """Every drift lens comes from the one pooled sketch walk: one scan of
    `orders`, no join of sketches, no window."""
    from json_schema_clj_spark.queries import QUERIES

    plan = _final_plan(QUERIES[query](spark, SF01))
    assert plan.count("FileScan") == 1, plan
    assert "SortMergeJoin" not in plan and "Window" not in plan, plan


def test_duplicates_plan_is_one_exchange(spark):
    plan = duplicates(images_df(spark, N), ["phash"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "_salt" not in plan, plan


def test_dangling_broadcasts_the_dim_keys_as_scanned(spark):
    fact = spark.range(98).selectExpr("CAST(id % 7 AS STRING) AS fmt")
    dim = spark.createDataFrame([("1",), ("2",), ("2",), ("3",)], "fmt string")
    bad = dangling(fact, "fmt", dim, "fmt")
    build = _subtree(_final_plan(bad), "BroadcastExchange")
    assert "HashAggregate" not in build and "Exchange" not in build.split("\n", 1)[1], build
    assert bad.count() == 98 - 3 * 14  # residues 1, 2, 3 match


def test_hll_partition_sketches_merge_to_global(spark):
    from json_schema_clj_spark.operators.stats import (
        merge_hll_sketches,
        partition_hll_sketches,
    )

    df = spark.range(50_000).select(
        (F.col("id") % 64).alias("part"), (F.col("id") % 9973).alias("v")
    )
    sk = partition_hll_sketches(df, "v", "part")
    assert sk.count() == 64
    # incremental update: union of (old partitions' sketches + one new
    # partition's sketch) without rescanning the old data
    est = merge_hll_sketches(sk).first()["n_distinct_est"]
    assert abs(est - 9973) / 9973 < 0.05
    new_part = spark.range(50_000, 51_000).select(
        F.lit(64).alias("part"), (F.col("id") + 20_000).alias("v")
    )
    combined = sk.unionByName(partition_hll_sketches(new_part, "v", "part"))
    est2 = merge_hll_sketches(combined).first()["n_distinct_est"]
    assert abs(est2 - 10973) / 10973 < 0.05


def test_run_concurrently_overlaps_and_propagates(spark, tmp_path):
    from json_schema_clj_spark.operators.pipeline import run_concurrently

    df = spark.range(10_000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    results = run_concurrently([
        lambda: df.groupBy("k").count().write.mode("overwrite").parquet(out_a),
        lambda: df.select(F.sum("id").alias("s")).write.mode("overwrite").parquet(out_b),
        lambda: df.where(F.col("k") == 3).count(),
    ])
    assert results[2] == 10_000 // 7 + 1
    assert spark.read.parquet(out_a).count() == 7
    assert spark.read.parquet(out_b).first()["s"] == sum(range(10_000))
    # first failure propagates after all actions settle
    import pytest as _pytest

    done = []
    with _pytest.raises(ValueError, match="boom"):
        run_concurrently([
            lambda: (_ for _ in ()).throw(ValueError("boom")),
            lambda: done.append(df.count()),
        ])
    assert done == [10_000]


def test_skew_profile_and_hot_keys(spark):
    from json_schema_clj_spark.operators.skew import hot_keys, plan_salt_buckets, skew_profile

    # known skew: key = i for i < 20 (singletons), key 777 for the rest
    df = spark.range(100).select(
        F.when(F.col("id") < 20, F.col("id")).otherwise(F.lit(777)).alias("k")
    )
    prof = skew_profile(df, ["k"], target_rows_per_reducer=10).collect()[0]
    assert prof["total_rows"] == 100
    assert prof["n_keys"] == 21
    assert prof["max_n"] == 80
    assert prof["hottest_key"] == 777
    assert prof["rec_salt_buckets"] == 8  # ceil(80/10)

    top = hot_keys(df, ["k"], top_k=3).collect()
    assert [(r["k"], r["n"], r["rnk"]) for r in top] == [(777, 80, 1), (0, 1, 2), (1, 1, 3)]

    assert plan_salt_buckets(5, 10) == 1
    assert plan_salt_buckets(80, 10) == 8
    assert plan_salt_buckets(10**9, 10) == 1024  # capped


def test_skew_profile_argmax_tie_breaks_to_smallest_key(spark):
    from json_schema_clj_spark.operators.skew import skew_profile

    # keys 5 and 9 both appear 3x — hottest_key must be the smaller (5)
    df = spark.createDataFrame([(5,)] * 3 + [(9,)] * 3 + [(1,)], ["k"])
    prof = skew_profile(df, ["k"]).collect()[0]
    assert prof["max_n"] == 3
    assert prof["hottest_key"] == 5
    assert prof["rec_salt_buckets"] == 1


def test_hot_keys_plan_is_take_ordered_not_global_window(spark):
    """The top-k must plan as TakeOrderedAndProject (per-partition top-k),
    never an unpartitioned window over the full count frame."""
    from json_schema_clj_spark.operators.skew import hot_keys

    df = images_df(spark, N)
    plan = hot_keys(df, ["phash"], top_k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_quantile_profile_exact_and_approx(spark):
    from json_schema_clj_spark.operators.stats import quantile_profile

    # 0..100 → exact quartiles are 25/50/75 with zero interpolation error
    df = spark.range(101).select(F.col("id").alias("v"))
    exact = {r["column"]: r for r in quantile_profile(df, ["v"], exact=True).collect()}
    assert (exact["v"]["q25"], exact["v"]["q50"], exact["v"]["q75"]) == (25.0, 50.0, 75.0)
    # the scale path (mergeable percentile_approx sketch) lands within the
    # sketch's rank error of the exact answer
    approx = {r["column"]: r for r in quantile_profile(df, ["v"], exact=False).collect()}
    for q in ("q25", "q50", "q75"):
        assert abs(approx["v"][q] - exact["v"][q]) <= 2.0, (q, approx["v"][q])


def test_quantile_interpolation_matches_continuous_definition(spark):
    from json_schema_clj_spark.operators.stats import quantile_profile

    # 4 values → rank p*(n-1): q25 of [0,10,20,30] = 7.5 (f=0.75 exact)
    df = spark.createDataFrame([(0,), (10,), (20,), (30,)], ["v"])
    row = quantile_profile(df, ["v"], exact=True).collect()[0]
    assert (row["q25"], row["q50"], row["q75"]) == (7.5, 15.0, 22.5)


def test_chi2_scores_identical_and_shifted(spark):
    rows = [("a", float(i % 10)) for i in range(1000)]
    shifted = [("b", float((i % 10) if i % 5 else 9.0)) for i in range(1000)]
    df = spark.createDataFrame(rows + shifted, ["g", "v"])
    sk = histogram_sketch(df, "v", "g", lo=0.0, hi=10.0, buckets=10)
    base = sk.where(F.col("group") == "a").drop("group")
    both = sk
    import pyspark.sql.functions as SF

    base_rep = (
        both.select("group").distinct().crossJoin(SF.broadcast(base))
    )
    out = {r["group"]: r for r in drift_scores(base_rep, both).collect()}
    # identical distribution → chi2 exactly 0; shifted → strictly positive
    assert out["a"]["chi2"] == 0.0
    assert out["b"]["chi2"] > 100.0
    assert out["a"]["dof"] == 9


def test_curation_pipeline_reason_precedence(spark):
    """Hand-built corpus hitting every verdict branch with known ids."""
    from json_schema_clj_spark.queries import q_documents_curation
    import json_schema_clj_spark.queries as Q
    from pyspark.sql import functions as F

    long_ok = " ".join(f"word{i:02d}" for i in range(20))  # 20 toks, mwl 6.0 -> bad_word_len
    good = " ".join(["alpha bravo cedar delta ember"] * 4)  # 20 toks, mwl 5.0 -> kept
    other = " ".join(["quark xenon maple onyx raven"] * 4)  # disjoint vocab, kept-shaped
    rows = [
        (1, good),                # kept
        (20, other),              # source of exact plant (id 200020); unrelated to doc 1
        (31, long_ok),            # doc_id%30==1 -> near plant 300031; itself bad_word_len
        (3, None),                # empty
        (4, "   "),               # empty
        (5, "tiny doc"),          # too_short
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    orig_t = Q.t
    Q.t = lambda _s, _d, _n: df
    try:
        out = {r["doc_id"]: (r["verdict"], r["reason"])
               for r in q_documents_curation(spark, "ignored").collect()}
    finally:
        Q.t = orig_t
    assert out[1] == ("keep", "kept")
    assert out[3] == ("drop", "empty") and out[4] == ("drop", "empty")
    assert out[5] == ("drop", "too_short")
    assert out[31] == ("drop", "bad_word_len")
    # exact plant of 20: identical text, larger id -> exact_dup
    assert out[200020] == ("drop", "exact_dup")
    # near plant of 31: one appended token, jaccard (20-1)/(20+2) ~ 0.86 -> near_dup
    assert out[300031][1] == "near_dup"
    # the originals survive their own plants
    assert out[20][1] not in ("exact_dup", "near_dup")


def test_stratified_sample_deterministic_and_calibrated(spark):
    from json_schema_clj_spark.operators.text import stratified_sample
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("s"),
    )
    rates = {"a": 0.5, "b": 0.1}
    kept = stratified_sample(df, rates, stratum_col="s", key_col="k")
    counts = {r["s"]: r["n"] for r in kept.groupBy("s").agg(F.count("*").alias("n")).collect()}
    # md5 buckets are uniform: expect rate +- 3 percentage points per stratum
    assert abs(counts["a"] / 10_000 - 0.5) < 0.03
    assert abs(counts["b"] / 10_000 - 0.1) < 0.03
    # deterministic: identical row set on re-evaluation and at another
    # parallelism (no RNG state — the scaling-evidence requirement)
    ids1 = sorted(r["k"] for r in kept.collect())
    ids2 = sorted(r["k"] for r in stratified_sample(df.repartition(13), rates, "s", "k").collect())
    assert ids1 == ids2
    # unknown stratum -> default_rate 0 -> dropped
    extra = spark.createDataFrame([(999_999, "zzz")], ["k", "s"])
    assert stratified_sample(extra, rates, "s", "k").count() == 0


def test_column_profile_by(spark):
    from json_schema_clj_spark.operators.stats import column_profile_by

    df = images_df(spark, N)
    prof = {
        (r["part"], r["column"]): r
        for r in column_profile_by(df, "fmt", ["caption", "w"], exact=True).collect()
    }
    # per-partition rows sum to the global profile
    assert sum(r["n_rows"] for (p, c), r in prof.items() if c == "caption") == N
    total_null = sum(r["n_null"] for (p, c), r in prof.items() if c == "caption")
    assert total_null == N // 200
    # grouped agg is one pass: plan has a partial and a final hash aggregate
    plan = column_profile_by(df, "fmt", ["w"], exact=False)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_outlier_profile(spark):
    from json_schema_clj_spark.operators.stats import outlier_profile

    import pyspark.sql.functions as SF

    # 0..99 uniform plus planted spikes
    df = spark.range(100).select(
        SF.col("id").cast("double").alias("clean"),
        SF.when(SF.col("id") == 0, SF.lit(-1000.0))
        .when(SF.col("id") == 99, SF.lit(1000.0))
        .otherwise(SF.col("id").cast("double"))
        .alias("spiked"),
    )
    prof = {r["column"]: r for r in outlier_profile(df, ["clean", "spiked"], exact=True).collect()}
    assert prof["clean"]["n_low"] == 0 and prof["clean"]["n_high"] == 0
    assert prof["spiked"]["n_low"] == 1 and prof["spiked"]["n_high"] == 1
    assert prof["spiked"]["n_rows"] == 100
    assert float(prof["spiked"]["lo_fence"]) < 0 < float(prof["spiked"]["hi_fence"])


def test_dangling_composite_key(spark):
    from json_schema_clj_spark.operators.referential import dangling

    fact = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (None, "a"), (1, None)],
        "k long, s string",
    )
    dim = spark.createDataFrame([(1, "a"), (2, "a")], "k long, s string")
    bad = dangling(fact, ["k", "s"], dim, ["k", "s"]).collect()
    # only the (1,'b') tuple is dangling; null components pass the guard
    assert [(r["k"], r["s"]) for r in bad] == [(1, "b")]
    # composite anti-join still broadcasts the distinct tuple set
    plan = dangling(fact, ["k", "s"], dim, ["k", "s"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_format_conformance_profile(spark):
    from json_schema_clj_spark.operators.stats import format_conformance_profile

    df = spark.createDataFrame(
        [("2024-01-02", "a@b.com"), ("bad", None), (None, "no-at-sign")],
        "d string, e string",
    )
    prof = {r["column"]: r for r in format_conformance_profile(df, {"d": "date", "e": "email"}).collect()}
    assert prof["d"]["n_match"] == 1 and prof["d"]["n_mismatch"] == 1 and prof["d"]["n_null"] == 1
    assert prof["e"]["n_match"] == 1 and prof["e"]["n_mismatch"] == 1 and prof["e"]["n_null"] == 1
    assert prof["e"]["format"] == "email"


def test_write_quarantined_single_pass(spark, tmp_path):
    from json_schema_clj_spark.operators.validate import with_validation, write_quarantined

    schema = {"type": "object", "properties": {"w": {"minimum": 1}}}
    df = images_df(spark, 2000)
    validated = with_validation(df, schema)
    out = str(tmp_path / "q")
    write_quarantined(validated, out)
    clean = spark.read.parquet(f"{out}/verdict=ok")
    quarantined = spark.read.parquet(f"{out}/verdict=quarantine")
    n_bad = validated.where("NOT valid").count()
    assert quarantined.count() == n_bad > 0
    assert clean.count() == 2000 - n_bad
    # the typed valid flag survives in the data files
    assert clean.schema["valid"].dataType.typeName() == "boolean"
    # quarantined rows keep their violation evidence
    row = quarantined.limit(1).collect()[0]
    assert len(row["violations"]) > 0


def test_violation_examples_deterministic_bounded(spark):
    from json_schema_clj_spark.operators.validate import violation_examples, with_validation

    schema = {
        "type": "object",
        "properties": {"v": {"minimum": 100}, "s": {"enum": ["a", "b"]}},
    }
    rows = [(i, i % 7, "a" if i % 3 else "z") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long, s string")

    def run(d):
        return [
            (r["keyword_path"], r["rank"], r["id"])
            for r in violation_examples(with_validation(d, schema), ["id"], k=3)
            .orderBy("keyword_path", "rank")
            .collect()
        ]

    out = run(df)
    # every row violates minimum (v<100); ids 0,3,6,... violate enum
    assert [(p, rk, i) for p, rk, i in out if p.endswith("minimum")] == [
        ("properties/v/minimum", 1, 0),
        ("properties/v/minimum", 2, 1),
        ("properties/v/minimum", 3, 2),
    ]
    assert [(rk, i) for p, rk, i in out if p.endswith("enum")] == [(1, 0), (2, 3), (3, 6)]
    # parallelism/partitioning-invariant: same output from 1 and 13 partitions
    assert run(df.repartition(13)) == out
    assert run(df.coalesce(1)) == out


def test_violation_examples_k_exceeds_population(spark):
    from json_schema_clj_spark.operators.validate import violation_examples, with_validation

    schema = {"type": "object", "properties": {"v": {"maximum": 1}}}
    df = spark.createDataFrame([(1, 0), (2, 5), (3, 9)], "id long, v long")
    out = violation_examples(with_validation(df, schema), ["id"], k=10).collect()
    # only 2 violating rows exist; ranks stay dense 1..n
    assert sorted((r["rank"], r["id"]) for r in out) == [(1, 2), (2, 3)]


def test_violation_examples_plan_is_two_phase_topk(spark):
    from json_schema_clj_spark.operators.validate import violation_examples, with_validation

    schema = {"type": "object", "properties": {"v": {"minimum": 1}}}
    df = spark.range(1000).selectExpr("id", "CAST(id % 3 AS LONG) AS v")
    plan = (
        violation_examples(with_validation(df, schema), ["id"], k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the scale contract: bounded two-phase top-k, never an unbounded
    # window over the violation set (low-cardinality path key = skew).
    # Each task keeps k rows per path before the one exchange on the path.
    lines = plan.splitlines()
    exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(exchanges) == 1
    assert "hashpartitioning(keyword_path" in lines[exchanges[0]]
    partial = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln and ln.endswith("Partial")]
    assert partial and partial[0] > exchanges[0]
    # pure Catalyst: no Python worker
    assert "MapInArrow" not in plan and "ArrowEvalPython" not in plan


def test_sampled_validation_profile_wilson_bounds(spark):
    from json_schema_clj_spark.operators.validate import sampled_validation_profile

    # planted corruption: exactly 10% of rows violate the minimum
    schema = {"type": "object", "properties": {"v": {"minimum": 10}}}
    df = spark.range(40_000).selectExpr(
        "id", "CASE WHEN id % 10 = 3 THEN 0 ELSE 50 END AS v"
    )
    rows = sampled_validation_profile(df, schema, "id", 8192 / 65536).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["keyword_path"] == "properties/v/minimum"
    # ~12.5% sample of 40k rows
    assert 3_500 <= r["n_sampled"] <= 6_500
    assert 0.0 <= r["rate_lo"] <= r["rate_est"] <= r["rate_hi"] <= 1.0
    # the 95% interval brackets the true 10% rate (deterministic sample,
    # so this is a fixed fact of the fixture, not a flaky assertion)
    assert r["rate_lo"] <= 0.10 <= r["rate_hi"]
    assert abs(r["rate_est"] - 0.10) < 0.02
    # partitioning-invariant: md5 bucket predicate has no RNG state
    r2 = sampled_validation_profile(
        df.repartition(17), schema, "id", 8192 / 65536
    ).collect()[0]
    assert (r2["n_sampled"], r2["n_rows_violating"]) == (
        r["n_sampled"],
        r["n_rows_violating"],
    )


def test_violation_examples_null_ids_rank_first(spark):
    from json_schema_clj_spark.operators.validate import violation_examples, with_validation

    # a NULL id must win rank 1 under ANY partitioning (the row_number
    # window's ascending id order puts null before any value)
    schema = {"type": "object", "properties": {"v": {"maximum": 0}}}
    df = spark.createDataFrame(
        [(None, 5), (7, 5), (1, 5), (9, 5)], "id int, v int"
    )
    for d in (df, df.repartition(4)):
        out = (
            violation_examples(with_validation(d, schema), ["id"], k=2)
            .orderBy("rank")
            .collect()
        )
        assert [(r["rank"], r["id"]) for r in out] == [(1, None), (2, 1)]


def test_violation_examples_matches_bruteforce_property(spark):
    """Property pin: the bounded two-phase top-k equals the brute-force
    "sort all violations, take first k per path" reference on random
    inputs, across random k and partitionings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from json_schema_clj_spark.operators.validate import (
        violation_examples,
        violation_rows,
        with_validation,
    )

    schema = {
        "type": "object",
        "properties": {"a": {"minimum": 0}, "b": {"enum": ["x", "y"]}},
    }

    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 50),                      # id (dups allowed)
                st.integers(-3, 3),                       # a
                st.sampled_from(["x", "y", "z", "w"]),   # b
            ),
            min_size=1,
            max_size=40,
        ),
        k=st.integers(1, 4),
        n_parts=st.sampled_from([1, 3]),
    )
    @settings(max_examples=10, deadline=None)
    def check(rows, k, n_parts):
        df = spark.createDataFrame(rows, "id long, a long, b string").repartition(
            n_parts
        )
        validated = with_validation(df, schema)
        got = sorted(
            (r["keyword_path"], r["rank"], r["id"], r["instance_path"], r["message"])
            for r in violation_examples(validated, ["id"], k=k).collect()
        )
        # brute force: explode everything, python-sort, head(k) per path
        allv = [
            ("/".join(r["keyword_path"]), r["id"], "/".join(r["instance_path"]), r["message"])
            for r in violation_rows(validated, ["id"]).collect()
        ]
        want = []
        paths = {p for p, *_ in allv}
        for p in paths:
            grp = sorted((i, ip, m) for q, i, ip, m in allv if q == p)
            want += [(p, rk + 1, i, ip, m) for rk, (i, ip, m) in enumerate(grp[:k])]
        assert got == sorted(want)

    check()


def test_sampled_validation_profile_multiviolation_rows(spark):
    from json_schema_clj_spark.operators.validate import sampled_validation_profile

    # one row can emit SEVERAL violations for the same keyword path (items
    # over an array column); rates must count violating ROWS so p ≤ 1 and
    # the Wilson math stays finite
    schema = {"type": "object", "properties": {"arr": {"items": {"minimum": 0}}}}
    df = spark.createDataFrame(
        [(1, [-1, -2, -3]), (2, [1, 2]), (3, [-5, 4, -6])],
        "id long, arr array<long>",
    )
    rows = sampled_validation_profile(df, schema, "id", 1.0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_sampled"] == 3 and r["n_rows_violating"] == 2
    assert r["rate_est"] == 2 / 3
    import math

    assert 0.0 <= r["rate_lo"] <= r["rate_est"] <= r["rate_hi"] <= 1.0
    assert not math.isnan(r["rate_lo"]) and not math.isnan(r["rate_hi"])


def test_violation_examples_preserves_big_int64_ids(spark):
    from json_schema_clj_spark.operators.validate import violation_examples, with_validation

    # nullable int64 above 2^53: the ids must come back exact, never
    # float64-rounded on their way through the top-k
    big1, big2 = (1 << 53) + 1, (1 << 53) + 3
    schema = {"type": "object", "properties": {"v": {"maximum": 0}}}
    df = spark.createDataFrame(
        [(None, 5), (big2, 5), (big1, 5)], "id long, v long"
    )
    out = (
        violation_examples(with_validation(df, schema), ["id"], k=3)
        .orderBy("rank")
        .collect()
    )
    assert [r["id"] for r in out] == [None, big1, big2]


def test_sampled_validation_profile_matches_bruteforce_property(spark):
    """Property pin: sampled rates equal brute-force 'filter by md5 bucket,
    count violating rows per path / sample size' on random inputs."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from json_schema_clj_spark.operators.validate import sampled_validation_profile

    schema = {
        "type": "object",
        "properties": {"a": {"minimum": 0}, "b": {"enum": ["x", "y"]}},
    }

    def bucket(key) -> int:
        return int(hashlib.md5(f"s1{key}".encode()).hexdigest()[:4], 16)

    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 10_000),
                st.integers(-2, 2),
                st.sampled_from(["x", "y", "z"]),
            ),
            min_size=1,
            max_size=60,
        ),
        thr=st.sampled_from([16384, 32768, 65536]),
    )
    @settings(max_examples=8, deadline=None)
    def check(rows, thr):
        df = spark.createDataFrame(rows, "id long, a long, b string")
        got = {
            (r["keyword_path"], r["n_sampled"], r["n_rows_violating"], r["rate_est"])
            for r in sampled_validation_profile(
                df, schema, "id", thr / 65536
            ).collect()
        }
        sampled = [r for r in rows if bucket(r[0]) < thr]
        want = set()
        for path, pred in [
            ("properties/a/minimum", lambda r: r[1] < 0),
            ("properties/b/enum", lambda r: r[2] not in ("x", "y")),
        ]:
            nv = sum(1 for r in sampled if pred(r))
            if nv:
                want.add((path, len(sampled), nv, nv / len(sampled)))
        assert got == want

    check()


def test_metrics_anomaly_hand_computed(spark):
    from json_schema_clj_spark.operators.stats import metrics_anomaly

    hist = spark.createDataFrame(
        [("a", 10), ("a", 12), ("a", 14), ("a", 16), ("a", 100),
         ("b", 1), ("b", 2)],
        "k string, n long",
    )
    out = {(r["k"], r["n"]): r for r in metrics_anomaly(hist, "n", ["k"], k=3).collect()}
    # group a: median 14 -> med4 56; dev4 [16,8,0,8,344]; MAD median 8 -> mad8 16
    assert out[("a", 14)]["med4"] == 56 and out[("a", 14)]["mad8"] == 16
    assert out[("a", 100)]["anomaly"] == 1  # 2*344 > 3*16
    assert all(out[("a", v)]["anomaly"] == 0 for v in (10, 12, 14, 16))
    # group b: even count -> half-integer median (1.5); med4 = 6 stays exact
    assert out[("b", 1)]["med4"] == 6
    assert out[("b", 1)]["dev4"] == 2 and out[("b", 1)]["mad8"] == 4
    assert out[("b", 1)]["anomaly"] == 0  # 2*2 = 4, not > 3*4


def test_metrics_anomaly_degenerate_mad(spark):
    from json_schema_clj_spark.operators.stats import metrics_anomaly

    hist = spark.createDataFrame(
        [("a", 5), ("a", 5), ("a", 5), ("a", 5), ("a", 9)], "k string, n long"
    )
    out = {r["n"]: r for r in metrics_anomaly(hist, "n", ["k"], k=3).collect()}
    # MAD = 0: any nonzero deviation flags (standard MAD degenerate case)
    assert out[9]["anomaly"] == 1 and out[5]["anomaly"] == 0


def test_correlation_profile_hand_computed(spark):
    from json_schema_clj_spark.operators.stats import correlation_profile

    df = spark.createDataFrame(
        [(1, 2, None), (2, 4, 10), (3, 6, 30), (4, None, 20)],
        "x long, y long, z long",
    )
    out = {
        (r["col_a"], r["col_b"]): (
            r["n"], int(r["cov_x"]), int(r["var_a_x"]), int(r["var_b_x"])
        )
        for r in correlation_profile(df, ["x", "y", "z"]).collect()
    }
    # x,y over rows 1-3: n=3 Σx=6 Σy=12 Σxy=28 Σx2=14 Σy2=56
    # cov_x = 3*28-6*12 = 12; var_x = 3*14-36 = 6; var_y = 3*56-144 = 24
    assert out[("x", "y")] == (3, 12, 6, 24)
    # x,z over rows 2,3,4: Σx=9 Σz=60 Σxz=190 Σx2=29 Σz2=1400
    # cov = 3*190-9*60 = 30; var_x = 3*29-81 = 6; var_z = 3*1400-3600 = 600
    assert out[("x", "z")] == (3, 30, 6, 600)
    # perfect correlation: cov² == var_a·var_b for x,y (r = 1)
    n, cov, va, vb = out[("x", "y")]
    assert cov * cov == va * vb


def test_correlation_profile_single_pass_plan(spark):
    from json_schema_clj_spark.operators.stats import correlation_profile

    df = spark.createDataFrame([(1, 2, 3)], "x long, y long, z long")
    plan = df.sparkSession._jvm  # noqa: F841  (keep session referenced)
    out = correlation_profile(df, ["x", "y", "z"])
    p = out._jdf.queryExecution().executedPlan().toString()
    assert p.count("Scan ExistingRDD") <= 1 or p.count("Scan") <= 2, p
    assert "Expand" not in p, p


def test_aggregate_consistency_statuses(spark):
    from json_schema_clj_spark.operators.referential import aggregate_consistency
    from pyspark.sql import functions as F

    parent = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 100)], "k long, cents long"
    )
    child = spark.createDataFrame(
        # key 1: exact; key 2: 1 cent off (within 100bp); key 3: way off;
        # key 4: no children
        [(1, 60), (1, 40), (2, 99), (3, 10)], "k long, cents long"
    )
    out = {
        r["k"]: (r["parent_cents"], r["child_cents"], r["status"])
        for r in aggregate_consistency(
            parent, child, "k", "k", F.col("cents"), F.col("cents"), tol_bp=100
        ).collect()
    }
    assert out[1] == (100, 100, "exact")
    assert out[2] == (100, 99, "within_tol")
    assert out[3] == (100, 10, "mismatch")
    assert out[4] == (100, None, "childless")


def test_expectations_hand_computed(spark):
    from json_schema_clj_spark.operators.expectations import run_expectations
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "a"), (2, None, "z")], "k long, v long, s string"
    )
    suite = [
        {"type": "row_count_between", "lo": 3, "hi": 3},
        {"type": "null_count_max", "column": "v", "max": 0},       # fails: 1 null
        {"type": "mean_between", "column": "v", "lo": 10, "hi": 15},  # Σ=30 n=2 mean 15 ✓
        {"type": "unique", "column": "k"},                          # fails: dup 2
        {"type": "values_in_set", "column": "s", "set": ["a"]},     # fails: z
        {"type": "min_at_least", "column": "v", "lo": 10},
        {"type": "max_at_most", "column": "v", "hi": 19},           # fails: 20
        {"type": "distinct_between", "column": "s", "lo": 2, "hi": 2},
    ]
    out = {r["idx"]: (r["observed"], r["passed"]) for r in run_expectations(df, suite).collect()}
    assert out[0] == ("3", True)
    assert out[1] == ("1", False)
    assert out[2] == ("30", True)
    assert out[3] == ("1", False)   # duplicate excess 1
    assert out[4] == ("1", False)
    assert out[5] == ("10", True)
    assert out[6] == ("20", False)
    assert out[7] == ("2", True)
    # single-pass shape: one aggregate, no joins
    plan = run_expectations(df, suite)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    with _pytest.raises(ValueError):
        run_expectations(df, [{"type": "nope"}])
    with _pytest.raises(ValueError):
        run_expectations(df, [{"type": "unique"}])


def test_expectations_all_null_mean_vacuous(spark):
    from json_schema_clj_spark.operators.expectations import run_expectations

    df = spark.createDataFrame([(None,), (None,)], "v long")
    out = run_expectations(
        df, [{"type": "mean_between", "column": "v", "lo": 1, "hi": 2}]
    ).collect()[0]
    assert out["passed"] is True and out["observed"] == "0"


def test_expectations_empty_set_every_row_violates(spark):
    """values_in_set with an empty set is meaningful: no value is a
    member, so every row (null included) violates — and must not crash
    on Column.isin() with zero arguments."""
    from json_schema_clj_spark.operators.expectations import run_expectations

    df = spark.createDataFrame([("a",), ("b",), (None,)], ["s"])
    out = run_expectations(df, [{"type": "values_in_set", "column": "s", "set": []}])
    r = out.collect()[0]
    assert r["observed"] == "3" and r["passed"] is False
    # malformed: a missing set raises at compile time
    import pytest as _pytest

    with _pytest.raises(ValueError, match="set"):
        run_expectations(df, [{"type": "values_in_set", "column": "s"}])
