"""Repetition profile, PII scan/redact, and sequence packing — the
curation-side training-data operators added in round 3's fourth wave."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from json_schema_clj_spark.operators import packing as PK
from json_schema_clj_spark.operators import pii as PII
from json_schema_clj_spark.operators import text as TX


# ---------------------------------------------------------------------------
# repetition profile


def test_repetition_profile_hand_computed(spark):
    # doc 1: "x y x y" → words 4, distinct 2 → dup_word_frac 0.5;
    #   2-grams: "x y"(2) "y x"(1); norm len 7; top2 = 2*3/7
    #   no 5-grams (only 3 exist at len 4? 4-2+1... 5-gram needs 5 words) → dup5 = 0
    # doc 2: two identical lines "a b c" → dup_line_frac 2/2=1,
    #   dup_line_char_frac 2*5/11 (raw len 11)
    df = spark.createDataFrame(
        [(1, "x y x y"), (2, "a b c\na b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in TX.repetition_profile(df).collect()}
    r1 = out[1]
    assert r1["n_words"] == 4
    assert r1["dup_word_frac"] == 0.5
    assert r1["top2gram_char_frac"] == round(2 * 3 / 7, 6)
    assert r1["dup5gram_char_frac"] == 0.0
    assert r1["dup_line_frac"] == 0.0
    r2 = out[2]
    assert r2["dup_line_frac"] == 1.0
    assert r2["dup_line_char_frac"] == round(10 / 11, 6)
    # normalized text "a b c a b c" len 11; top2 "a b"/"b c" occ 2 → 2*3/11
    assert r2["top2gram_char_frac"] == round(6 / 11, 6)


def test_repetition_saturated_doc(spark):
    # one word repeated: every gram duplicated
    df = spark.createDataFrame([(1, "w w w w w w w w")], "doc_id long, text string")
    r = TX.repetition_profile(df).collect()[0]
    assert r["dup_word_frac"] == round(1 - 1 / 8, 6)
    # 4 5-grams "w w w w w" (len 9) all identical: 4*9/15
    assert r["dup5gram_char_frac"] == round(36 / 15, 6)  # >1: saturated, documented
    assert r["top2gram_char_frac"] == round(7 * 3 / 15, 6)


def test_repetition_short_doc_no_grams(spark):
    df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    r = TX.repetition_profile(df).collect()[0]
    assert r["top2gram_char_frac"] == 0.0
    assert r["dup5gram_char_frac"] == 0.0
    assert r["dup_word_frac"] == 0.0


# ---------------------------------------------------------------------------
# PII


def test_pii_scan_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@example.co.uk and x@y.io today"),
            (2, "server 10.0.255.1 and 192.168.0.12"),
            (3, "call 555-123-4567 or 555.123.4567"),
            (4, "ssn 219-09-9999"),
            (5, "clean text, nothing here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in PII.pii_scan(df).collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_pii"] == 2
    assert out[2]["n_ipv4"] == 2
    assert out[3]["n_phone"] == 2
    assert out[4]["n_ssn"] == 1
    assert out[5]["n_pii"] == 0


def test_pii_redact_text(spark):
    df = spark.createDataFrame(
        [(1, "write bob@x.org from 10.0.0.1 ssn 219-09-1234")],
        "doc_id long, text string",
    )
    r = PII.pii_redact(df).collect()[0]
    assert r["redacted"] == "write [EMAIL] from [IPV4] ssn [SSN]"
    assert r["n_redactions"] == 3


def test_pii_overlapping_spans_not_double_counted(spark):
    # an ipv4 inside an email-shaped span and a phone inside another: the
    # email pattern consumes both, so scan/redact must report 2, not 4
    # (staged counting — counts equal the replacements actually performed)
    df = spark.createDataFrame(
        [(1, "reach a@1.2.3.4.com or admin.555-123-4567@corp.io")],
        "doc_id long, text string",
    )
    r = PII.pii_redact(df).collect()[0]
    assert r["redacted"] == "reach [EMAIL] or [EMAIL]"
    assert r["n_redactions"] == 2
    s = PII.pii_scan(df).collect()[0]
    assert (s["n_email"], s["n_ipv4"], s["n_phone"], s["n_pii"]) == (2, 0, 0, 2)


def test_pii_pattern_matching_its_placeholder_is_rejected(spark):
    # `\w+` matches the ID inside "[ID]": a placeholder already in the text
    # would be rewritten to "[[ID]]" and the staged delta would read 0 for a
    # real replacement, so the pattern set is refused up front
    df = spark.createDataFrame([(1, "id [ID] here")], "doc_id long, text string")
    with pytest.raises(ValueError, match="placeholder"):
        PII.pii_scan(df, patterns={"id": r"\w+"})
    # the default set passes the same check
    assert PII.pii_scan(df).collect()[0]["n_pii"] == 0


def test_repetition_rejects_colliding_ns(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        TX.repetition_profile(df, top_ns=(2, 3), dup_ns=(3,))
    with pytest.raises(ValueError):
        TX.repetition_profile(df, top_ns=(2,), dup_ns=(0,))


def test_pii_dotted_form_disambiguation(spark):
    # a valid dotted quad is IPV4; a 3-3-4 dotted string is PHONE; an
    # INVALID quad (4-digit octet) fails the \b-anchored ipv4 pattern and
    # deterministically falls to the phone pattern's 3-3-4 sub-match —
    # pinned so both engines and future edits agree
    df = spark.createDataFrame(
        [
            (1, "at 192.168.100.200 end"),
            (2, "at 555.123.4567 end"),
            (3, "at 192.168.100.2000 end"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["redacted"] for r in PII.pii_redact(df).collect()}
    assert got[1] == "at [IPV4] end"
    assert got[2] == "at [PHONE] end"
    assert got[3] == "at 192.[PHONE] end"


# ---------------------------------------------------------------------------
# corpus mixing


def _mix_df(spark):
    rows = [(i, "s_a" if i < 10 else ("s_b" if i < 20 else "s_c"), 10) for i in range(30)]
    return spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")


def test_corpus_mix_exact_epochs(spark):
    # budget exactly 2x the stratum total: every row exactly 2 copies
    out = TX.corpus_mix(_mix_df(spark), {"s_a": 200}, "source", "doc_id", "n_tokens")
    got = sorted((r["doc_id"], r["copy"]) for r in out.collect())
    assert got == sorted((i, c) for i in range(10) for c in (0, 1))


def test_corpus_mix_matches_bruteforce_md5_rule(spark):
    import hashlib

    budgets = {"s_a": 135, "s_b": 47}  # 1 epoch + 35% rem; 0 + 47% rem
    out = TX.corpus_mix(_mix_df(spark), budgets, "source", "doc_id", "n_tokens", seed="mz")

    def bucket(i):
        return int(hashlib.md5(f"mz{i}".encode()).hexdigest()[:4], 16)

    expect = []
    for i in range(20):
        b, tot = (135, 100) if i < 10 else (47, 100)
        n = b // tot + (1 if bucket(i) < ((b % tot) * 65536) // tot else 0)
        expect += [(i, c) for c in range(n)]
    got = sorted((r["doc_id"], r["copy"]) for r in out.collect())
    assert got == sorted(expect)
    # s_c had no budget: dropped entirely
    assert all(i < 20 for i, _ in got)


def test_corpus_mix_parallelism_invariant(spark):
    df = _mix_df(spark)
    budgets = {"s_a": 250, "s_b": 60, "s_c": 99}
    a = TX.corpus_mix(df.repartition(1), budgets, "source", "doc_id", "n_tokens")
    b = TX.corpus_mix(df.repartition(7), budgets, "source", "doc_id", "n_tokens")
    assert sorted(map(tuple, a.select("doc_id", "copy").collect())) == sorted(
        map(tuple, b.select("doc_id", "copy").collect())
    )


# ---------------------------------------------------------------------------
# packing


def _pack_rows(spark, sizes, capacity, n_parts):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], "doc_id long, n_tokens long"
    )
    out = PK.pack_documents(df, "n_tokens", "doc_id", capacity, n_parts=n_parts)
    return {
        r["doc_id"]: (r["start_offset"], r["bin_id"], r["offset_in_bin"])
        for r in out.collect()
    }


def test_packing_matches_sequential_reference(spark):
    sizes = [5, 9, 3, 14, 1, 7, 2, 30, 4, 6]
    got = _pack_rows(spark, sizes, capacity=16, n_parts=4)
    run = 0
    for i, s in enumerate(sizes):
        assert got[i] == (run, run // 16, run % 16), f"doc {i}"
        run += s


def test_packing_invariant_across_bucket_counts(spark):
    sizes = [((i * 37) % 23) + 1 for i in range(200)]
    a = _pack_rows(spark, sizes, capacity=64, n_parts=2)
    b = _pack_rows(spark, sizes, capacity=64, n_parts=8)
    assert a == b


def test_packing_rejects_bad_capacity(spark):
    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError):
        PK.pack_documents(df, "n_tokens", "doc_id", 0)


def test_packing_single_row(spark):
    got = _pack_rows(spark, [7], capacity=4, n_parts=4)
    assert got[0] == (0, 0, 0)


def test_pack_chunks_invariants(spark):
    sizes = [5, 9, 3, 14, 1, 7, 2, 30, 4, 6]  # total 81, capacity 16 → 6 bins
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], "doc_id long, n_tokens long"
    )
    rows = PK.pack_chunks(df, "n_tokens", "doc_id", 16, n_parts=4).collect()
    by_bin: dict[int, int] = {}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_bin[r["bin_id"]] = by_bin.get(r["bin_id"], 0) + r["span_len"]
        by_doc.setdefault(r["doc_id"], []).append(r)
    # every bin except the trailing one is exactly full
    last = max(by_bin)
    for b, tot in by_bin.items():
        assert tot == (16 if b != last else 81 - 16 * last), (b, tot)
    # each document reassembles contiguously from offset 0
    for i, s in enumerate(sizes):
        spans = sorted(by_doc[i], key=lambda r: r["doc_off"])
        assert sum(r["span_len"] for r in spans) == s
        assert spans[0]["doc_off"] == 0
        for a, b2 in zip(spans, spans[1:]):
            assert b2["doc_off"] == a["doc_off"] + a["span_len"]
        # span placement consistent with the bin side
        for r in spans:
            assert 0 <= r["bin_off"] and r["bin_off"] + r["span_len"] <= 16


def test_pack_chunks_zero_size_rows_drop(spark):
    df = spark.createDataFrame([(0, 4), (1, 0), (2, 3)], "doc_id long, n_tokens long")
    rows = PK.pack_chunks(df, "n_tokens", "doc_id", 8, n_parts=2).collect()
    assert sorted({r["doc_id"] for r in rows}) == [0, 2]
    # doc 1 still occupies no offset space: doc 2 starts right after doc 0
    assert {r["doc_id"]: r["bin_off"] for r in rows}[2] == 4


def test_packing_plan_has_no_global_window(spark):
    """The whole point: no single-partition window in the physical plan."""
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 13 + 1).alias("n_tokens")
    )
    out = PK.pack_documents(df, "n_tokens", "doc_id", 64, n_parts=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_vocab_stats_hand_computed_and_plan(spark):
    from json_schema_clj_spark.operators.text import vocab_stats

    df = spark.createDataFrame(
        [(1, "the cat  the DOG"), (2, "the dog"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["token"]: (r["n"], r["rank"], r["doc_freq"])
           for r in vocab_stats(df, "text", "doc_id", top_k=2).collect()}
    # counts: the=3 (docs 1,2), dog=2 (docs 1,2), cat=1; summary: 6 tokens/3 vocab
    assert out["*"] == (6, 0, 3)
    assert out["the"] == (3, 1, 2)
    assert out["dog"] == (2, 2, 2)
    assert "cat" not in out  # beyond top_k
    plan = vocab_stats(df, "text", "doc_id", top_k=2)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    # both output branches read the persisted counted frame — the corpus
    # is tokenized once, not once per branch
    assert plan.count("InMemoryTableScan") >= 2, plan
