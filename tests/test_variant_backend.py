"""Variant-tier conformance: the full authored draft and v5 suites (+ the
reference's v5/custom fixtures when that checkout is present) run as pure
Catalyst over parsed Variant values.

All compilable schemas are folded into ONE Spark job: every (schema_idx,
doc) row evaluates `CASE schema_idx WHEN i THEN ok_i END` — the compile-
once-run-everywhere shape.  Schemas the variant backend declines ($data
outside the comparators, deep recursion, non-scalar enum members) must raise
ColumnBackendUnsupported and are counted as clean fallbacks, never wrong
verdicts.
"""

import glob
import json
import os

from pyspark.sql import functions as F

from json_schema_clj_spark.plans.compiler import ColumnBackendUnsupported, compile_for_json
from json_schema_clj_spark.sources.suite import load_cases
from json_schema_clj_spark import engine

HERE = os.path.dirname(os.path.abspath(__file__))
REF = "/root/reference"


def _all_cases():
    paths = []
    for d in ("draft3", "draft4", "draft6", "draft7"):
        # bignum.json: the variant binary encoding renders BOTH a
        # beyond-int64 integer and a fractionless float as DECIMAL(p,0)
        # (probe: parse_json('1.0') -> DECIMAL(1,0)), so the type dispatch
        # cannot hold 1 ≠ 1.0 and bignum-is-integer simultaneously —
        # documented limitation (plans/compiler.py docstring); bound/member
        # bignum literals fall back cleanly via _i64_guard, and the
        # Python + Arrow paths validate the file exactly
        paths += [
            p
            for p in sorted(glob.glob(f"{HERE}/fixtures/{d}/*.json"))
            if not p.endswith("/bignum.json")
        ]
    # the authored v5 fixtures ($data, switch, custom keywords) always run;
    # the reference's own v5/custom fixtures ride along when the checkout
    # is present
    paths += sorted(glob.glob(f"{HERE}/fixtures/v5/*.json"))
    paths += sorted(glob.glob(f"{REF}/test/v5/*.json"))
    paths += [p for p in [f"{REF}/test/custom-scenarios/nested_ref.json"] if os.path.exists(p)]
    return load_cases(paths)


def test_variant_backend_conformance(spark):
    cases = _all_cases()
    by_schema: dict[str, list] = {}
    for c in cases:
        by_schema.setdefault(c["schema_json"], []).append(c)

    compiled_ok = {}
    fallbacks = 0
    rows = []
    for idx, (sj, cs) in enumerate(by_schema.items()):
        schema = json.loads(sj)
        try:
            compiled_ok[idx] = compile_for_json(schema, F.col("data_json")).ok
        except ColumnBackendUnsupported:
            fallbacks += 1
            continue
        except Exception as e:
            raise AssertionError(f"variant compile crashed on {sj[:200]}: {e}")
        for c in cs:
            rows.append((idx, c["data_json"], c["valid"], c["group_desc"], c["test_desc"]))

    assert compiled_ok, "variant backend compiled nothing"
    df = spark.createDataFrame(
        rows, "schema_idx int, data_json string, expected boolean, g string, t string"
    )
    got = F.lit(None).cast("boolean")
    for idx, ok in compiled_ok.items():
        got = F.when(F.col("schema_idx") == idx, ok).otherwise(got)
    out = df.withColumn("got", got)
    bad = out.where(F.col("got") != F.col("expected")).collect()
    msg = "\n".join(f"[{r['g']} / {r['t']}] expected={r['expected']} data={r['data_json'][:80]}"
                    for r in bad[:15])
    total = len(rows)
    assert not bad, f"{len(bad)}/{total} variant verdicts wrong ({fallbacks} schemas fell back):\n{msg}"
    # coverage floor: the variant backend should handle the large majority
    assert fallbacks <= len(by_schema) * 0.25, (fallbacks, len(by_schema))


def test_variant_violation_paths(spark):
    """Dynamic instance paths (map keys, array indices) come out right."""
    schema = {"properties": {"xs": {"items": {"type": "integer"}},
                             "m": {"patternProperties": {"^f": {"minimum": 0}}}}}
    doc = {"xs": [1, "bad", 3], "m": {"foo": -1, "bar": -9}}
    df = spark.createDataFrame([(json.dumps(doc),)], "data_json string")
    out = engine.validate_json_column(df, schema, force_backend="variant")
    row = out.collect()[0]
    assert row["valid"] is False
    paths = sorted(tuple(v["instance_path"]) for v in row["violations"])
    assert paths == [("m", "foo"), ("xs", "1")]


def test_variant_numeric_identity(spark):
    """1 vs 1.0 distinction falls out of the variant type system."""
    docs = ["1", "1.0", '"1"']
    df = spark.createDataFrame([(d,) for d in docs], "data_json string")
    out = engine.validate_json_column(df, {"type": "integer"}, force_backend="variant")
    assert [r["valid"] for r in out.collect()] == [True, False, False]
    out = engine.validate_json_column(df, {"enum": [1]}, force_backend="variant")
    assert [r["valid"] for r in out.collect()] == [True, False, False]


def test_variant_is_default_fast_path(spark):
    """Auto dispatch uses the variant backend (no Python nodes) for a
    compilable schema, and it catches type mismatches (unlike from_json)."""
    schema = {"type": "object", "properties": {"name": {"type": "string"}}}
    df = spark.createDataFrame([('{"name": 5}',), ('{"name": "x"}',)], "data_json string")
    out = engine.validate_json_column(df, schema)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert [r["valid"] for r in out.collect()] == [False, True]


def test_variant_malformed_json_is_row_violation_not_job_failure(spark):
    """One malformed record must produce a $parse violation row, never an
    executor-side MALFORMED_RECORD_IN_PARSING abort (try_parse_json path);
    a null document is invalid with a definite False verdict, not NULL."""
    schema = {"type": "object", "required": ["k"]}
    df = spark.createDataFrame(
        [("a", '{"k": 1}'), ("b", "{oops"), ("c", None)], "id string, data_json string"
    )
    out = engine.validate_json_column(df, schema, force_backend="variant")
    rows = {r["id"]: r for r in out.collect()}
    assert rows["a"]["valid"] is True
    assert rows["b"]["valid"] is False
    assert [v["keyword"] for v in rows["b"]["violations"]] == ["$parse"]
    assert rows["c"]["valid"] is False  # not NULL — 3VL coalesced


def test_unique_items_object_key_order(spark):
    """Key-order-permuted duplicate objects ARE duplicates under Clojure
    `=` map semantics (core.clj uniqueItems uses distinct?).  The variant
    binary encoding stores object fields sorted, so the to_json canonical
    form catches them at every nesting depth — this pins the variant path
    against the exact Python backend on the cases the docstring used to
    scope out, plus the numeric identity edges (1 vs 1.0, 0.0 vs -0.0)."""
    schema = {"properties": {"arr": {"uniqueItems": True}}}
    docs = [
        {"arr": [{"a": 1, "b": 2}, {"b": 2, "a": 1}]},          # dup, reordered
        {"arr": [{"a": 1, "b": 2}, {"a": 1, "b": 3}]},          # distinct
        {"arr": [{"a": {"x": [{"p": 1, "q": 2}]}},              # nested reorder
                 {"a": {"x": [{"q": 2, "p": 1}]}}]},
        {"arr": [0.0, -0.0]},                                   # Clojure = equal
        {"arr": [1, 1.0]},                                      # 1 != 1.0
    ]
    v = engine.compile(schema)
    py = [not v(d)["errors"] for d in docs]
    assert py == [False, True, False, False, True]  # ground truth
    df = spark.createDataFrame(
        [(json.dumps(d),) for d in docs], "data_json string"
    )
    var = [
        r["valid"]
        for r in engine.validate_json_column(
            df, schema, force_backend="variant"
        ).collect()
    ]
    assert var == py


def test_two_validations_in_one_plan(spark):
    """Each call fences its plan with an observation of its own name, so
    two validated frames, or one frame with itself, meet in one plan."""
    schema = {"type": "object", "properties": {"k": {"type": "integer"}}}
    df = spark.createDataFrame([('{"k": 1}',), ('{"k": "x"}',)], "data_json string")
    a = engine.validate_json_column(df, schema)
    b = engine.validate_json_column(df.where(F.col("data_json") == '{"k": 1}'), schema)
    got = [r["valid"] for r in a.union(b).union(a).collect()]
    assert sorted(got) == [False, False, True, True, True]


def test_variant_members_with_awkward_keys(spark):
    """Members are read by JSONPath: keys holding a quote, dots, brackets or
    nothing at all still reach their values (a key holding both quote kinds
    has no path spelling and is read from the object's map instead)."""
    keys = ["a'b", 'a"b', "a'\"b", "a.b", "[0]", "", "é"]
    schema = {"required": keys, "properties": {k: {"type": "integer"} for k in keys}}
    docs = [json.dumps({k: 1 for k in keys}), json.dumps({k: "x" for k in keys}), "{}"]
    df = spark.createDataFrame(list(enumerate(docs)), "i int, data_json string")
    rows = {r["i"]: r for r in engine.validate_json_column(df, schema, force_backend="variant").collect()}
    assert rows[0]["valid"] and rows[0]["violations"] == []
    assert sorted(v["instance_path"][0] for v in rows[1]["violations"]) == sorted(keys)
    assert [v["keyword"] for v in rows[2]["violations"]] == ["required"] * len(keys)
