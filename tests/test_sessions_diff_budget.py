"""Tests for the round-3 sixth wave: sessionization, EMD drift, merkle
table diff, grouped prefix sum + budget selection."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from json_schema_clj_spark.operators import diff as DIFF
from json_schema_clj_spark.operators import drift as DR
from json_schema_clj_spark.operators import sessions as SE
from json_schema_clj_spark.operators.packing import grouped_exclusive_cumsum
from json_schema_clj_spark.operators.text import budget_select

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# sessionization


def _ts(minute, second=0, micro=0):
    return dt.datetime(2024, 3, 1, 12, minute, second, micro)


def test_sessionize_matches_session_window_on_events(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    gap = 21600
    tagged = (
        SE.sessionize(ev, "user_id", "ts", gap)
        .groupBy("user_id", "session_index")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    agg = SE.session_stats(ev, "user_id", "ts", gap).select(
        F.col("key").alias("user_id"), "session_index", "n_events"
    )
    a = {tuple(r) for r in tagged.collect()}
    b = {tuple(r) for r in agg.collect()}
    assert a == b and len(a) > 0


def test_sessionize_gap_boundary_matches_session_window(spark):
    # session_window's merge boundary is INCLUSIVE (an event at exactly
    # t+gap merges; only diff > gap breaks) — pin it on both paths
    gap = 60
    rows = [
        (1, _ts(0, 0)),
        (1, _ts(0, 59, 999_999)),  # < gap after the 1st       -> merges
        (1, _ts(1, 59, 999_999)),  # exactly gap after the 2nd -> merges
        (1, _ts(3, 0)),            # 60.000001s  > gap         -> NEW session
        (2, _ts(0, 0)),
    ]
    df = spark.createDataFrame(rows, "user long, ts timestamp_ntz")
    tagged = SE.sessionize(df, "user", "ts", gap)
    got = {
        (r["user"], r["ts"].minute, r["ts"].second, r["session_index"])
        for r in tagged.collect()
    }
    assert got == {
        (1, 0, 0, 0),
        (1, 0, 59, 0),
        (1, 1, 59, 0),
        (1, 3, 0, 1),
        (2, 0, 0, 0),
    }
    stats = SE.session_stats(df, "user", "ts", gap)
    s = {
        (r["key"], r["session_index"], r["n_events"], r["duration_s"])
        for r in stats.collect()
    }
    assert s == {(1, 0, 3, 119), (1, 1, 1, 0), (2, 0, 1, 0)}


def test_sessionize_timezone_invariant(spark):
    # wall-time (NTZ) inputs: epoch outputs must not move with session tz
    rows = [(1, _ts(0)), (1, _ts(50))]
    df = spark.createDataFrame(rows, "user long, ts timestamp_ntz")
    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        a = sorted(
            tuple(r)
            for r in SE.session_stats(df, "user", "ts", 1800).collect()
        )
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        b = sorted(
            tuple(r)
            for r in SE.session_stats(df, "user", "ts", 1800).collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    assert a == b


def test_sessionize_rejects_bad_gap(spark):
    df = spark.createDataFrame([(1, _ts(0))], "user long, ts timestamp_ntz")
    with pytest.raises(ValueError):
        SE.sessionize(df, "user", "ts", 0)
    with pytest.raises(ValueError):
        SE.session_stats(df, "user", "ts", -5)


# ---------------------------------------------------------------------------
# EMD drift


def _sketch(spark, rows):
    return spark.createDataFrame(rows, "group string, bucket long, n long")


def test_emd_zero_for_identical_sketches(spark):
    s = _sketch(spark, [("g", 0, 10), ("g", 3, 5), ("g", 7, 1)])
    out = DR.drift_scores(s, s).collect()
    assert len(out) == 1 and int(out[0]["emd_x"]) == 0


def test_emd_hand_computed_with_sparse_gap(spark):
    # base: bucket0 x2          (tot_base=2)
    # cur : bucket3 x2          (tot_cur=2)
    # cumdiff at b=0: |2*2 - 0*2| = 4, persists over absent buckets 1,2
    # (gap weight 3 = next present bucket 3 - 0); at b=3 diff=0.
    base = _sketch(spark, [("g", 0, 2)])
    cur = _sketch(spark, [("g", 3, 2)])
    out = DR.drift_scores(base, cur).collect()[0]
    assert int(out["emd_x"]) == 12
    assert (out["tot_base"], out["tot_cur"]) == (2, 2)
    # shift sensitivity: W1 grows linearly with shift distance; KS would
    # stay flat at its max for any disjoint pair
    cur2 = _sketch(spark, [("g", 1, 2)])
    assert int(DR.drift_scores(base, cur2).collect()[0]["emd_x"]) == 4


# ---------------------------------------------------------------------------
# merkle table diff


def _orders(spark):
    return (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )


def test_snapshot_diff_identical_is_empty_and_screens_all_buckets(spark):
    ref = _orders(spark)
    assert DIFF.snapshot_diff(ref, ref, ["o_orderkey"], n_buckets=64).count() == 0
    lb = DIFF.bucket_checksums(ref, ["o_orderkey"], n_buckets=64)
    rb = DIFF.bucket_checksums(ref, ["o_orderkey"], n_buckets=64)
    j = lb.alias("l").join(rb.alias("r"), on="bucket")
    dirty = j.where(
        (F.col("l.n_rows") != F.col("r.n_rows"))
        | (F.col("l.checksum") != F.col("r.checksum"))
    )
    assert dirty.count() == 0


def test_snapshot_diff_finds_planted_mutations(spark):
    ref = _orders(spark)
    cur = ref.where(F.col("o_orderkey") % 101 != 5).withColumn(
        "cents",
        F.when(F.col("o_orderkey") % 97 == 3, F.col("cents") + 100).otherwise(
            F.col("cents")
        ),
    )
    out = DIFF.snapshot_diff(ref, cur, ["o_orderkey"], n_buckets=64)
    rows = out.collect()
    deleted = {r["o_orderkey"] for r in rows if r["side"] == "left_only"} - {
        r["o_orderkey"] for r in rows if r["side"] == "right_only"
    }
    changed = {r["o_orderkey"] for r in rows if r["side"] == "right_only"}
    n = ref.count()
    exp_deleted = {
        r["o_orderkey"]
        for r in ref.where(F.col("o_orderkey") % 101 == 5).collect()
    }
    exp_changed = {
        r["o_orderkey"]
        for r in ref.where(
            (F.col("o_orderkey") % 97 == 3) & (F.col("o_orderkey") % 101 != 5)
        ).collect()
    }
    assert deleted == exp_deleted
    assert changed == exp_changed
    assert 0 < len(rows) < n  # only dirty rows surfaced


def test_snapshot_diff_null_layouts_not_confused(spark):
    # (a, NULL) vs (NULL, a): without the null bitmap these row
    # fingerprints would collide and the diff would miss the change
    left = spark.createDataFrame([(1, "a", None)], "k long, x string, y string")
    right = spark.createDataFrame([(1, None, "a")], "k long, x string, y string")
    out = DIFF.snapshot_diff(left, right, ["k"], n_buckets=8)
    assert out.count() == 2


def test_snapshot_diff_schema_mismatch_raises(spark):
    a = spark.createDataFrame([(1,)], "k long")
    b = spark.createDataFrame([(1, 2)], "k long, x long")
    with pytest.raises(ValueError):
        DIFF.snapshot_diff(a, b, ["k"])


# ---------------------------------------------------------------------------
# grouped prefix sum + budget selection


def test_grouped_cumsum_matches_bruteforce_and_bucket_invariant(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    a = grouped_exclusive_cumsum(docs, "n_chars", "doc_id", "source", n_parts=2)
    b = grouped_exclusive_cumsum(docs, "n_chars", "doc_id", "source", n_parts=8)
    ra = {(r["doc_id"], r["start_offset"]) for r in a.collect()}
    rb = {(r["doc_id"], r["start_offset"]) for r in b.collect()}
    assert ra == rb
    rows = sorted(docs.collect(), key=lambda r: r["doc_id"])
    run: dict = {}
    for r in rows:
        exp = run.get(r["source"], 0)
        assert (r["doc_id"], exp) in ra
        run[r["source"]] = exp + r["n_chars"]


def test_budget_select_bruteforce(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "prio",
        (-F.col("n_chars").cast("long") * F.lit(1 << 32) + F.col("doc_id")).cast("long"),
    )
    budgets = {"src0": 900, "src1": 1}
    out = budget_select(docs, budgets, "source", "n_chars", "prio", n_parts=4)
    got = {r["doc_id"]: (r["kept"], r["start_offset"]) for r in out.collect()}
    assert len(got) == docs.count()
    rows = docs.collect()
    for src, budget in budgets.items():
        ranked = sorted(
            (r for r in rows if r["source"] == src), key=lambda r: r["prio"]
        )
        run = 0
        for r in ranked:
            assert got[r["doc_id"]] == (run < budget, run)
            run += r["n_chars"]
    # src1 budget=1: exactly the single best doc kept (straddler rule)
    kept1 = [
        r for r in rows if r["source"] == "src1" and got[r["doc_id"]][0]
    ]
    assert len(kept1) == 1
    # unbudgeted sources: kept=false, offset -1
    for r in rows:
        if r["source"] not in budgets:
            assert got[r["doc_id"]] == (False, -1)


def test_snapshot_diff_key_swap_same_values_detected(spark):
    """Keys are part of row identity: a deleted key A plus an inserted key
    B carrying IDENTICAL compared values (same bucket by construction,
    n_buckets=1) must both surface — fingerprinting only compare_cols
    would cancel them out and mark the bucket clean."""
    left = spark.createDataFrame([(1, 10), (3, 7)], ["k", "v"])
    right = spark.createDataFrame([(2, 10), (3, 7)], ["k", "v"])
    out = DIFF.snapshot_diff(left, right, ["k"], compare_cols=["v"], n_buckets=1)
    got = {(r["k"], r["v"], r["side"]) for r in out.collect()}
    assert got == {(1, 10, "left_only"), (2, 10, "right_only")}


def test_row_fingerprint_wide_tables_past_63_columns(spark):
    """>63 columns: the null bitmap chunks into 63-bit words — 1<<63 would
    overflow LongType.  Null layouts differing only in column 65 must
    yield distinct fingerprints."""
    n_cols = 70
    cols = [f"c{i}" for i in range(n_cols)]
    row_a = tuple(1 for _ in range(n_cols))
    row_b = tuple(None if i == 65 else 1 for i in range(n_cols))
    df = spark.createDataFrame(
        [row_a, row_b], schema=", ".join(f"{c} int" for c in cols)
    )
    fps = [r["fp"] for r in df.select(DIFF.row_fingerprint(cols).alias("fp")).collect()]
    assert len(fps) == 2 and fps[0] != fps[1]
    # and the diff machinery runs end-to-end on the wide table
    out = DIFF.snapshot_diff(df, df, ["c0"], n_buckets=4)
    assert out.count() == 0


def test_grouped_cumsum_keeps_null_group_rows(spark):
    """NULL-group rows must flow through (null-safe offsets join), with a
    correct per-group prefix sum — not silently vanish."""
    rows = [(None, 1, 10), (None, 2, 20), ("a", 3, 5), ("a", 4, 6)]
    df = spark.createDataFrame(rows, ["src", "ord", "n"])
    out = grouped_exclusive_cumsum(df, "n", "ord", "src", n_parts=2)
    got = {(r["src"], r["ord"]): r["start_offset"] for r in out.collect()}
    assert len(got) == 4
    assert got[(None, 1)] == 0 and got[(None, 2)] == 10
    assert got[("a", 3)] == 0 and got[("a", 4)] == 5
